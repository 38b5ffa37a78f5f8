"""Synthetic market-data generators (reference S6: producer.py /
producer_da_rt.py) — seeded, declarative, distributed.

The reference's producers are unseeded Python loops (producer.py:44-46)
emitting ~20 prices/s and ~2.5 trades/s (BASELINE.md). Here the same
distributions are generated as Spark column expressions over spark.range —
deterministic given the seed, and they scale to any row count without a
driver-side loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

HUBS = ["PJM-WEST", "ERCOT-HOUSTON", "NYISO-ZONEJ", "CAISO-NP15"]  # producer.py:10
ACCOUNTS = ["ACC1", "ACC2", "ACC3"]                                 # producer.py:11
MW_CHOICES = [5, 10, 25, 50]                                        # producer.py:57-58


def _pick(arr: list, idx):
    return F.element_at(F.array(*[F.lit(a) for a in arr]), (idx % len(arr) + 1).cast("int"))


def gen_prices(spark: SparkSession, n_rounds: int = 1000, seed: int = 42,
               start: str = "2024-01-01 00:00:00") -> DataFrame:
    """Random-walk diurnal prices: 4 hubs per 0.2 s round, price = prev +
    U(-0.3,0.3) + N(0,0.8) + diurnal*0.05, floored at 5, rounded to 2dp
    (producer.py:36-49). The walk is expressed as a cumulative window sum —
    one shuffle per hub, no driver loop."""
    base = (spark.range(n_rounds * len(HUBS))
            .withColumn("round", (F.col("id") / len(HUBS)).cast("long"))
            .withColumn("hub", _pick(HUBS, F.col("id")))
            .withColumn("ts", F.timestamp_micros(
                (F.unix_timestamp(F.lit(start)) * 1_000_000
                 + F.col("round") * 200_000).cast("long"))))
    step = (F.rand(seed) * 0.6 - 0.3) + F.randn(seed + 1) * 0.8 \
        + F.sin(F.hour("ts") * (3.141592653589793 / 12)) * 0.05
    w = Window.partitionBy("hub").orderBy("round")
    init = F.lit(15.0) + F.rand(seed + 2) * 60.0   # init U(15,75), producer.py:83
    walk = F.first(init).over(w) + F.sum(step).over(w)
    return base.select(
        "ts", "hub",
        F.round(F.greatest(walk, F.lit(5.0)), 2).alias("price_mwh"))


def gen_trades(spark: SparkSession, n_rounds: int = 1000, seed: int = 43,
               start: str = "2024-01-01 00:00:00") -> DataFrame:
    """Bernoulli(0.5) per round; uniform account/hub/side/mw; price near the
    hub's current level (producer.py:52-70)."""
    df = (spark.range(n_rounds)
          .withColumn("emit", F.rand(seed) < 0.5)
          .filter("emit")
          .withColumn("trade_id", F.row_number().over(Window.orderBy("id")))
          .withColumn("ts", F.timestamp_micros(
              (F.unix_timestamp(F.lit(start)) * 1_000_000
               + F.col("id") * 200_000 + 100_000).cast("long")))
          .withColumn("account", _pick(ACCOUNTS, (F.rand(seed + 1) * 1000).cast("long")))
          .withColumn("hub", _pick(HUBS, (F.rand(seed + 2) * 1000).cast("long")))
          .withColumn("side", F.when(F.rand(seed + 3) < 0.5, "BUY").otherwise("SELL"))
          .withColumn("mw", _pick(MW_CHOICES, (F.rand(seed + 4) * 1000).cast("long")))
          .withColumn("price_mwh", F.round(F.lit(45.0) + F.rand(seed + 5) * 2 - 1, 2)))
    return df.select("trade_id", "ts", "account", "hub", "side", "mw", "price_mwh")
