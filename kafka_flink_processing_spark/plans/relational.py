"""Relational battery (SURVEY.md §2.2/§2.5/§2.7).

The reference's compute plane has projections/scalar maps (P4/P5,
PnlAndExposureJob.java:65-69,116) and its read surface is plain SQL
(README.md:83-101); everything else here — joins, aggregations, set ops,
grouping sets — is the engine-native relational core the reference delegates
to Postgres, re-expressed as Catalyst-optimized DataFrame plans over the
TPC-H-ish testdata (FIXTURES.md §B mapping).

Float determinism: every aggregate over a double measure goes through
functions.exact.dsum/davg (decimal-routed, order-independent) so results are
bit-identical across engines AND across cluster sizes/partition counts —
plain double sums would already be nondeterministic run-to-run at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_flink_processing_spark.functions.exact import (
    davg,
    davg_sql,
    dsum,
    dsum_sql,
    percentile_disc,
    percentile_disc_sql,
    ranked_sql,
    with_ranks,
)
from kafka_flink_processing_spark.operators.asof import (
    asof_join,
    asof_join_sql,
)
from kafka_flink_processing_spark.plans.registry import register
from kafka_flink_processing_spark.sources.parquet import load_table


# --------------------------------------------------------------------------
# P4/P5: projection + arithmetic map + conditional sign
# --------------------------------------------------------------------------

@register(
    "exposure_projection",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS revenue,
           CASE WHEN l_returnflag = 'R' THEN -l_quantity ELSE l_quantity END
             AS signed_qty,
           l_quantity AS pnl01,
           l_quantity * l_extendedprice AS notional_usd
    FROM lineitem
    """,
    doc="P4/P5 per-row arithmetic + conditional sign "
        "(PnlAndExposureJob.java:65-69 pnl01/notional; :116 signedQty).",
)
def exposure_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    return li.select(
        "l_orderkey", "l_linenumber",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        F.when(F.col("l_returnflag") == "R", -F.col("l_quantity"))
         .otherwise(F.col("l_quantity")).alias("signed_qty"),
        F.col("l_quantity").alias("pnl01"),
        (F.col("l_quantity") * F.col("l_extendedprice")).alias("notional_usd"),
    )


# --------------------------------------------------------------------------
# Filters/predicates (read-side WHERE — free via Catalyst pushdown)
# --------------------------------------------------------------------------

@register(
    "filtered_projection",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.02 AND 0.06
      AND l_quantity < 24
      AND l_returnflag IN ('A', 'R')
    """,
    doc="predicate battery (range/BETWEEN/IN) with parquet pushdown; the "
        "reference's read-side WHERE surface (README.md:83-101).",
)
def filtered_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    return (li.filter((F.col("l_shipdate") >= "1996-01-01")
                      & (F.col("l_shipdate") < "1997-01-01")
                      & F.col("l_discount").between(0.02, 0.06)
                      & (F.col("l_quantity") < 24)
                      & F.col("l_returnflag").isin("A", "R"))
              .select("l_orderkey", "l_linenumber", "l_quantity",
                      "l_extendedprice", "l_returnflag"))


# --------------------------------------------------------------------------
# Aggregations
# --------------------------------------------------------------------------

@register(
    "groupby_agg_q1",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {dsum_sql('l_quantity')} AS sum_qty,
           {dsum_sql('l_extendedprice')} AS sum_base_price,
           {dsum_sql('l_extendedprice * (1 - l_discount)', 4)} AS sum_disc_price,
           {dsum_sql('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 6)} AS sum_charge,
           {davg_sql('l_quantity')} AS avg_qty,
           {davg_sql('l_extendedprice')} AS avg_price,
           {davg_sql('l_discount')} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1-shaped pricing summary: 2-col groupBy, 8 aggregates; "
        "map-side partial agg then one shuffle on the grouping key.",
    bench=True,
)
def groupby_agg_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (li.filter(F.col("l_shipdate") <= "2001-09-02")
              .groupBy("l_returnflag", "l_linestatus")
              .agg(dsum("l_quantity").alias("sum_qty"),
                   dsum("l_extendedprice").alias("sum_base_price"),
                   dsum(disc_price, 4).alias("sum_disc_price"),
                   dsum(charge, 6).alias("sum_charge"),
                   (dsum("l_quantity") / F.count("l_quantity")).alias("avg_qty"),
                   (dsum("l_extendedprice") / F.count("l_extendedprice")).alias("avg_price"),
                   (dsum("l_discount") / F.count("l_discount")).alias("avg_disc"),
                   F.count("*").alias("count_order")))


@register(
    "distinct_count_by",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           COUNT(DISTINCT user_id) AS n_users,
           MIN(value) AS min_value,
           MAX(value) AS max_value,
           MIN(ts) AS first_ts,
           MAX(ts) AS last_ts
    FROM events GROUP BY event_type
    """,
    doc="count / exact distinct / min / max per group "
        "(engine-native aggregation surface, SURVEY.md §2.5).",
)
def distinct_count_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return (ev.groupBy("event_type")
              .agg(F.count("*").alias("n"),
                   F.countDistinct("user_id").alias("n_users"),
                   F.min("value").alias("min_value"),
                   F.max("value").alias("max_value"),
                   F.min("ts").alias("first_ts"),
                   F.max("ts").alias("last_ts")))


@register(
    "rollup_acctbal",
    oracle=f"""
    SELECT r_name, n_name,
           COUNT(*) AS n_customers,
           {dsum_sql('c_acctbal')} AS sum_acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
    doc="hierarchical subtotals via ROLLUP over broadcast-joined dims.",
)
def rollup_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, "customer", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    region = load_table(spark, "region", sf_dir)
    joined = (cust
              .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
              .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey))
    return (joined.rollup("r_name", "n_name")
                  .agg(F.count("*").alias("n_customers"),
                       dsum("c_acctbal").alias("sum_acctbal")))


@register(
    "cube_qty",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n,
           {dsum_sql('l_quantity')} AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    doc="all grouping-set combinations via CUBE.",
)
def cube_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    return (li.cube("l_returnflag", "l_linestatus")
              .agg(F.count("*").alias("n"), dsum("l_quantity").alias("sum_qty")))


@register(
    "pivot_linestatus",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT))
                FILTER (WHERE l_linestatus = 'O') AS DOUBLE) / 100.0 AS "O",
           CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT))
                FILTER (WHERE l_linestatus = 'F') AS DOUBLE) / 100.0 AS "F"
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="pivot = conditional aggregation; map-side combine then one shuffle.",
)
def pivot_linestatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    return (li.groupBy("l_returnflag")
              .pivot("l_linestatus", ["O", "F"])
              .agg(dsum("l_quantity")))


# --------------------------------------------------------------------------
# Joins
# --------------------------------------------------------------------------

@register(
    "join_revenue_by_nation",
    oracle=f"""
    SELECT n_name,
           {dsum_sql('l_extendedprice * (1 - l_discount)', 4)} AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n_name
    """,
    doc="TPC-H Q5-shaped 6-table join: big fact shuffle joins + broadcast "
        "dims (nation/region/supplier); dims broadcast so only "
        "lineitem<->orders<->customer shuffle on their keys.",
    bench=True,
)
def join_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    supp = load_table(spark, "supplier", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    region = load_table(spark, "region", sf_dir)
    df = (cust
          .join(orders, cust.c_custkey == orders.o_custkey)
          .join(li, li.l_orderkey == orders.o_orderkey)
          .join(F.broadcast(supp), (li.l_suppkey == supp.s_suppkey)
                & (supp.s_nationkey == cust.c_nationkey))
          .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
          .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
          .filter((F.col("r_name") == "ASIA")
                  & (F.col("o_orderdate") >= "1996-01-01")
                  & (F.col("o_orderdate") < "1998-01-01")))
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return df.groupBy("n_name").agg(dsum(rev, 4).alias("revenue"))


@register(
    "join_topk_orders",
    oracle=f"""
    SELECT l_orderkey, o_orderdate,
           {dsum_sql('l_extendedprice * (1 - l_discount)', 4)} AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1996-07-01'
      AND l_shipdate  > TIMESTAMP '1996-07-01'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    doc="TPC-H Q3-shaped join + agg + global top-k "
        "(TakeOrderedAndProject, no full sort).",
    bench=True,
)
def join_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, "customer", sf_dir).filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, "orders", sf_dir).filter(F.col("o_orderdate") < "1996-07-01")
    li = load_table(spark, "lineitem", sf_dir).filter(F.col("l_shipdate") > "1996-07-01")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (cust.join(orders, cust.c_custkey == orders.o_custkey)
                .join(li, li.l_orderkey == orders.o_orderkey)
                .groupBy("l_orderkey", "o_orderdate")
                .agg(dsum(rev, 4).alias("revenue"))
                .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
                .limit(10))


@register(
    "semi_join_late_orders",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n_orders
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
    doc="TPC-H Q4-shaped EXISTS => left-semi join (no row duplication, "
        "build side only carries the key).",
)
def semi_join_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir).filter(F.col("o_orderdate") >= "1996-01-01")
    li = load_table(spark, "lineitem", sf_dir)
    semi = orders.join(li, (li.l_orderkey == orders.o_orderkey)
                       & (li.l_shipdate > orders.o_orderdate), "left_semi")
    return semi.groupBy("o_orderpriority").agg(F.count("*").alias("n_orders"))


@register(
    "anti_join_customers",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
    """,
    doc="NOT EXISTS => left-anti join (customers with no finished order).",
)
def anti_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir).filter(F.col("o_orderstatus") == "F")
    return (cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
                .select("c_custkey", "c_name", "c_acctbal"))


# --------------------------------------------------------------------------
# Correlated scalar subquery (TPC-H Q17 shape, decorrelated)
# --------------------------------------------------------------------------

@register(
    "correlated_avg_threshold",
    oracle=f"""
    WITH avg_q AS (
      SELECT l_partkey, {davg_sql('l_quantity')} AS avg_qty
      FROM lineitem GROUP BY l_partkey
    )
    SELECT p.p_brand,
           {dsum_sql('l.l_extendedprice')} AS small_lot_revenue,
           COUNT(*) AS n_small_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN avg_q a ON a.l_partkey = l.l_partkey
    WHERE l.l_quantity < 0.5 * a.avg_qty
    GROUP BY p.p_brand
    """,
    doc="TPC-H Q17-shaped correlated scalar subquery — lines below half "
        "their part's average quantity — written decorrelated (per-part "
        "pre-aggregate + equi-join), which is exactly the rewrite Catalyst "
        "applies to the correlated form; the dim join broadcasts, the "
        "fact-side joins share one partkey shuffle.",
)
def correlated_avg_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    part = load_table(spark, "part", sf_dir)
    avg_q = (li.groupBy("l_partkey")
               .agg(davg("l_quantity").alias("avg_qty")))
    return (li.join(avg_q, "l_partkey")
              .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
              .join(F.broadcast(part.select("p_partkey", "p_brand")),
                    F.col("l_partkey") == F.col("p_partkey"))
              .groupBy("p_brand")
              .agg(dsum("l_extendedprice").alias("small_lot_revenue"),
                   F.count("*").alias("n_small_lines")))


@register(
    "approx_distinct_users",
    oracle=None,   # HLL sketch values are engine-specific; accuracy vs the
                   # exact count is asserted in tests/test_relational_extra.py
    doc="approx_count_distinct (HyperLogLog++) per event_type next to the "
        "exact distinct count — the sketch path that replaces exact "
        "distinct at 100 TB (no per-key shuffle of raw ids; sketches merge "
        "map-side). rows-only driver check; error bound is test-asserted.",
)
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return (ev.groupBy("event_type")
              .agg(F.approx_count_distinct("user_id", rsd=0.02)
                    .alias("approx_users"),
                   F.count_distinct(F.col("user_id")).alias("exact_users")))


@register(
    "approx_quantiles_value",
    oracle=None,   # t-digest-style percentile_approx values are engine-
                   # specific; closeness to the exact rank-based quantiles
                   # is asserted in tests/test_relational_extra.py
    doc="approx percentiles (p50/p95/p99 of value per event_type) via "
        "percentile_approx next to the exact percentiles — the sketch that "
        "replaces a full per-group sort at 100 TB (bounded-memory digests, "
        "merged map-side; exact percentile_disc needs the whole group "
        "materialized). rows-only driver check; accuracy is test-asserted. "
        "Scalar columns only — an array<double> result column crashes the "
        "driver's pandas canonicalizer (sort_values on list cells).",
)
def approx_quantiles_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return (ev.groupBy("event_type")
              .agg(F.percentile_approx("value", F.lit(0.5), 10000)
                    .alias("approx_p50"),
                   F.percentile_approx("value", F.lit(0.95), 10000)
                    .alias("approx_p95"),
                   F.percentile_approx("value", F.lit(0.99), 10000)
                    .alias("approx_p99"),
                   F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)")
                    .alias("exact_p50"),
                   F.expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY value)")
                    .alias("exact_p95"),
                   F.expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY value)")
                    .alias("exact_p99")))


@register(
    "exact_quantiles_value",
    oracle=f"""
    WITH r AS ({ranked_sql('events', ('event_type',), ('value', 'event_id'))})
    SELECT event_type,
           {percentile_disc_sql(0.50, 'value')} AS p50,
           {percentile_disc_sql(0.95, 'value')} AS p95,
           {percentile_disc_sql(0.99, 'value')} AS p99,
           CAST(MAX(n) AS BIGINT) AS n_rows
    FROM r GROUP BY event_type
    """,
    doc="exact rank-based p50/p95/p99 of value per event_type "
        "(percentile_disc semantics: the value at rank ceil(p*n) — "
        "deterministic and engine-portable where interpolating quantile "
        "implementations drift). The oracle-gated counterpart of "
        "approx_quantiles_value: one window shuffle on the group key, "
        "rank filter, tiny final agg. At 100 TB the approx variant is the "
        "production path (bounded-memory digests, map-side merge); this "
        "exact form is the certification/backstop path and the per-group "
        "sort it needs is the documented cost.",
)
def exact_quantiles_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return (with_ranks(ev, ("event_type",), ("value", "event_id"))
            .groupBy("event_type")
            .agg(percentile_disc(0.50, "value").alias("p50"),
                 percentile_disc(0.95, "value").alias("p95"),
                 percentile_disc(0.99, "value").alias("p99"),
                 F.max("n").cast("long").alias("n_rows")))


@register(
    "not_in_null_aware",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
                            WHERE o_orderstatus = 'F')
    """,
    doc="NOT IN subquery — null-aware anti join semantics (three-valued "
        "logic: one NULL in the subquery empties the result), planned as "
        "Spark's NAAJ variant rather than a plain left_anti; complements "
        "anti_join_customers which uses the null-blind DataFrame "
        "left_anti.",
)
def not_in_null_aware(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    customer.createOrReplaceTempView("__niv_customer")
    orders.createOrReplaceTempView("__niv_orders")
    return spark.sql("""
        SELECT c_custkey, c_name, c_acctbal
        FROM __niv_customer
        WHERE c_custkey NOT IN (SELECT o_custkey FROM __niv_orders
                                WHERE o_orderstatus = 'F')
    """)


# --------------------------------------------------------------------------
# Skew mitigation (operators/skew.py) — salted plans, identical results
# --------------------------------------------------------------------------

@register(
    "skew_salted_distinct",
    oracle="""
    SELECT event_type, COUNT(DISTINCT user_id) AS n_distinct
    FROM events GROUP BY event_type
    """,
    doc="exact distinct count via domain-partitioned salting (hash(value) % "
        "16 two-stage agg, operators/skew.py) — a hot key's distinct domain "
        "spreads over 16 reducers; oracle asserts the salted plan equals "
        "the naive COUNT(DISTINCT).",
)
def skew_salted_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_processing_spark.operators.skew import (
        salted_distinct_count,
    )
    ev = load_table(spark, "events", sf_dir)
    return salted_distinct_count(ev, ["event_type"], "user_id", n_salt=16)


@register(
    "skew_salted_join",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber, l.l_quantity,
           o.o_orderstatus, o.o_totalprice
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    """,
    doc="fact-fact equi-join through the salted path (skewed side salted by "
        "hash(l_linenumber) % 16, other side replicated 16x, join on "
        "(key, salt) — operators/skew.py): multiplicities preserved, "
        "result identical to the unsalted join per the oracle. The explicit "
        "fallback for when AQE skew-splitting is unavailable.",
)
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_processing_spark.operators.skew import salted_join
    li = load_table(spark, "lineitem", sf_dir) \
        .select("l_orderkey", "l_linenumber", "l_quantity")
    orders = load_table(spark, "orders", sf_dir) \
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    out = salted_join(li, orders.withColumnRenamed("o_orderkey", "l_orderkey"),
                      on=["l_orderkey"], tiebreak_col="l_linenumber",
                      n_salt=16)
    return out.select("l_orderkey", "l_linenumber", "l_quantity",
                      "o_orderstatus", "o_totalprice")


# --------------------------------------------------------------------------
# Set operations (SURVEY.md §2.5 — engine-native; absent in the reference)
# --------------------------------------------------------------------------

@register(
    "set_union",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    UNION
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
    doc="UNION (distinct) of two key sets.",
)
def set_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    o = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    f = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return o.union(f).distinct()


@register(
    "set_intersect",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
    doc="INTERSECT (distinct).",
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    o = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    f = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return o.intersect(f)


@register(
    "set_except",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
    doc="EXCEPT (distinct).",
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    o = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    f = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    # subtract = EXCEPT DISTINCT (exceptAll would keep surplus duplicates)
    return o.subtract(f)


# --------------------------------------------------------------------------
# Window-function battery (ranking/navigation; SURVEY.md §2.5)
# --------------------------------------------------------------------------

@register(
    "window_rank_lag",
    oracle="""
    SELECT event_id, user_id, ts, value,
           ROW_NUMBER()   OVER wt AS rn,
           RANK()         OVER wv AS rnk,
           DENSE_RANK()   OVER wv AS drnk,
           NTILE(4)       OVER wt AS quartile,
           LAG(value)     OVER wt AS prev_value,
           LEAD(value)    OVER wt AS next_value
    FROM events
    WINDOW wt AS (PARTITION BY user_id ORDER BY ts, event_id),
           wv AS (PARTITION BY user_id ORDER BY value DESC)
    """,
    doc="ranking + navigation functions; one shuffle per distinct "
        "partitioning, sorts shared between compatible windows.",
)
def window_rank_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    wt = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wv = Window.partitionBy("user_id").orderBy(F.col("value").desc())
    return ev.select(
        "event_id", "user_id", "ts", "value",
        F.row_number().over(wt).alias("rn"),
        F.rank().over(wv).alias("rnk"),
        F.dense_rank().over(wv).alias("drnk"),
        F.ntile(4).over(wt).alias("quartile"),
        F.lag("value").over(wt).alias("prev_value"),
        F.lead("value").over(wt).alias("next_value"),
    )


@register(
    "top_orders_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
    doc="top-k per group via ranking window (the scalable form — no "
        "self-join, single shuffle on the group key).",
)
def top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(),
                                                F.col("o_orderkey"))
    return (orders.withColumn("rn", F.row_number().over(w))
                  .filter(F.col("rn") <= 3)
                  .select("o_custkey", "o_orderkey", "o_totalprice"))


# --------------------------------------------------------------------------
# As-of join (engine extension; batch form of the reference's co-process
# correlation, SURVEY.md §2.5 "closest to an as-of join")
# --------------------------------------------------------------------------

@register(
    "asof_join_events",
    oracle=f"""
    WITH clicks AS (SELECT event_id, user_id, ts, value FROM events
                    WHERE event_type = 'click'),
    purchases AS (SELECT user_id, ts, value AS purchase_value,
                         event_id AS src_id
                  FROM events WHERE event_type = 'purchase')
    SELECT event_id, user_id, ts, value, purchase_value
    FROM ({asof_join_sql('clicks', 'purchases', ['user_id'], 'ts',
                         ['purchase_value'], 'src_id')})
    """,
    doc="as-of join: each click enriched with the user's latest purchase "
        "value at-or-before its ts; tagged-union + one window pass "
        "(single shuffle — no quadratic range join).",
    bench=True,
)
def asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    clicks = ev.filter(F.col("event_type") == "click") \
               .select("event_id", "user_id", "ts", "value")
    purchases = ev.filter(F.col("event_type") == "purchase") \
                  .select("user_id", "ts", F.col("value").alias("purchase_value"),
                          F.col("event_id").alias("src_id"))
    out = asof_join(clicks, purchases, on=["user_id"], order_col="ts",
                    value_cols=["purchase_value"], right_order_tiebreak="src_id")
    return out.select("event_id", "user_id", "ts", "value", "purchase_value")


# --------------------------------------------------------------------------
# Scalar-function battery (P6/P7 + §2.5 string/date/math functions)
# --------------------------------------------------------------------------

@register(
    "scalar_battery",
    oracle="""
    SELECT event_id,
           ROUND(value, 1) AS r1,
           ABS(value - 100.0) AS abs_dev,
           GREATEST(value, 100.0) AS hi,
           LEAST(value, 100.0) AS lo,
           CAST(FLOOR(value) AS BIGINT) AS flr,
           CAST(CEILING(value) AS BIGINT) AS cl,
           CASE WHEN value < 0 THEN CAST('NaN' AS DOUBLE)
                ELSE SQRT(value) END AS sq,  -- Spark sqrt(<0) is NaN;
                -- DuckDB RAISES (r8 events fuzzer, neg prices). Guard
                -- inverted so NULL value propagates as NULL (Spark
                -- F.sqrt(NULL) is NULL), not NaN (r8 advisor).
           CAST(SIGN(value - 100.0) AS DOUBLE) AS sgn,
           CAST(TRUNC(value) AS BIGINT) AS value_int,
           YEAR(ts) AS y, MONTH(ts) AS mo, DAY(ts) AS d,
           HOUR(ts) AS h, MINUTE(ts) AS mi, SECOND(ts) AS s,
           UPPER(event_type) AS etype_upper,
           LENGTH(event_type) AS etype_len,
           SUBSTRING(event_type, 1, 3) AS etype_pfx,
           CONCAT(event_type, '#', CAST(user_id AS VARCHAR)) AS tag,
           COALESCE(NULLIF(event_type, 'error'), 'n/a') AS etype_clean,
           event_id % 7 AS bucket
    FROM events
    """,
    doc="scalar battery: round/clamp (producer.py:47 P7), date parts, "
        "string fns, conditional null handling — all JVM built-ins inside "
        "whole-stage codegen. Oracle casts align DuckDB dtypes with Spark: "
        "DuckDB SIGN()->int8 vs Spark signum->double; DuckDB FLOOR/CEILING"
        "->double vs Spark->long. Values are bitwise identical either way; "
        "the driver hashes raw frames, so dtypes must match too.",
)
def scalar_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    v, ts, et = F.col("value"), F.col("ts"), F.col("event_type")
    return ev.select(
        "event_id",
        F.round(v, 1).alias("r1"),
        F.abs(v - 100.0).alias("abs_dev"),
        F.greatest(v, F.lit(100.0)).alias("hi"),
        F.least(v, F.lit(100.0)).alias("lo"),
        F.floor(v).alias("flr"),
        F.ceil(v).alias("cl"),
        F.sqrt(v).alias("sq"),
        # Spark's double->bigint cast truncates toward zero (the oracle
        # spells it TRUNC explicitly — DuckDB's bare CAST rounds instead)
        F.signum(v - 100.0).alias("sgn"),
        v.cast("bigint").alias("value_int"),
        F.year(ts).alias("y"), F.month(ts).alias("mo"),
        F.dayofmonth(ts).alias("d"), F.hour(ts).alias("h"),
        F.minute(ts).alias("mi"), F.second(ts).alias("s"),
        F.upper(et).alias("etype_upper"),
        F.length(et).alias("etype_len"),
        F.substring(et, 1, 3).alias("etype_pfx"),
        F.concat(et, F.lit("#"), F.col("user_id").cast("string")).alias("tag"),
        F.coalesce(F.nullif(et, F.lit("error")), F.lit("n/a")).alias("etype_clean"),
        (F.col("event_id") % 7).alias("bucket"),
    )


# --------------------------------------------------------------------------
# SQL entry point: one ANSI SQL text planned by Catalyst AND by DuckDB
# --------------------------------------------------------------------------

# TPC-H Q3 shape (shipping-priority revenue). The reference delegates every
# ad-hoc read to Postgres's planner (README.md:83-101, SURVEY.md §3.3); this
# engine's equivalent entry point is spark.sql over registered views — parse
# -> analyze -> Catalyst -> Tungsten. The SAME text is the oracle, so the
# query must be engine-portable AND exact: scaled-int revenue sum, explicit
# l_orderkey tie-break under the LIMIT.
_Q3_SQL = """
SELECT l_orderkey,
       CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000)
                     AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue,
       o_orderdate, o_orderpriority
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_shipdate  > TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


@register(
    "sql_q3_shipping_priority",
    oracle=_Q3_SQL,
    doc="the engine's textual-SQL entry point: TPC-H Q3 (shipping-priority "
        "revenue) submitted as ONE ANSI string to spark.sql over registered "
        "views — the planner surface the reference never had (it delegated "
        "reads to Postgres, SURVEY.md §3.3). The oracle is the identical "
        "text run by DuckDB, so this also pins SQL-dialect portability. "
        "Catalyst plans it: filters push into all three scans, customer "
        "broadcasts, TakeOrderedAndProject caps the sort at k=10.",
)
def sql_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_processing_spark.sources.parquet import register_views
    register_views(spark, sf_dir)
    return spark.sql(_Q3_SQL)


@register(
    "custdist_q13",
    oracle="""
    WITH c_orders AS (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT OUTER JOIN orders
        ON c_custkey = o_custkey
       AND o_orderpriority <> '4-NOT SPECIFIED'
      GROUP BY c_custkey
    )
    SELECT c_count, COUNT(*) AS custdist
    FROM c_orders GROUP BY c_count
    """,
    doc="TPC-H Q13-shaped customer-order-count distribution: LEFT OUTER "
        "join with the predicate INSIDE the join condition (zero-order "
        "customers must survive), COUNT of the nullable key, then a "
        "second tiny aggregate over the counts. Exercises outer-join "
        "null semantics plus two-level aggregation; the second groupBy "
        "is ~dozens of rows so its exchange is negligible.",
)
def custdist_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir) \
        .filter(F.col("o_orderpriority") != "4-NOT SPECIFIED")
    return (cust.join(orders, cust.c_custkey == orders.o_custkey,
                      "left_outer")
            .groupBy("c_custkey")
            .agg(F.count("o_orderkey").alias("c_count"))
            .groupBy("c_count")
            .agg(F.count("*").alias("custdist")))


# --------------------------------------------------------------------------
# Unpivot / melt (wide measures -> long) — engine-native reshape
# --------------------------------------------------------------------------

@register(
    "unpivot_measures",
    oracle=f"""
    WITH long_form AS (
      SELECT l_returnflag, 'l_quantity' AS measure, l_quantity AS val
      FROM lineitem
      UNION ALL
      SELECT l_returnflag, 'l_extendedprice', l_extendedprice FROM lineitem
      UNION ALL
      SELECT l_returnflag, 'l_discount', l_discount FROM lineitem
      UNION ALL
      SELECT l_returnflag, 'l_tax', l_tax FROM lineitem
    )
    SELECT l_returnflag, measure, COUNT(*) AS n,
           {dsum_sql('val', 4)} AS sum_val,
           MIN(val) AS min_val, MAX(val) AS max_val
    FROM long_form GROUP BY 1, 2
    """,
    doc="melt four lineitem measures into (measure, val) long form and "
        "profile each per returnflag — DataFrame.unpivot, the relational "
        "reshape the profiling stages consume. Spark plans Expand (4 output "
        "rows per input row, map-side, codegen'd) then ONE shuffle on the "
        "tiny (flag, measure) key — no self-union multi-scan like the "
        "oracle's UNION ALL spelling; the source is scanned once.",
)
def unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    long_form = li.unpivot(
        "l_returnflag",
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "measure", "val")
    return (long_form.groupBy("l_returnflag", "measure")
            .agg(F.count("*").alias("n"),
                 dsum("val", 4).alias("sum_val"),
                 F.min("val").alias("min_val"),
                 F.max("val").alias("max_val")))


# --------------------------------------------------------------------------
# Distribution-ranking window battery (ntile / percent_rank / cume_dist)
# --------------------------------------------------------------------------

@register(
    "window_ntile_battery",
    oracle="""
    SELECT event_id, event_type, value,
           CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
           PERCENT_RANK() OVER w AS pct_rank,
           CUME_DIST() OVER w AS cume
    FROM events
    WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
    """,
    doc="distribution-ranking battery per event_type: ntile(4) quartile "
        "binning, percent_rank, cume_dist — the quantile-bucketing shapes "
        "a quality-scoring stage uses to turn raw scores into percentile "
        "labels. Tie-broken on event_id so the total order (and therefore "
        "ntile's row split) is engine-deterministic. All three functions "
        "share ONE window = one shuffle + one sort on event_type.",
)
def window_ntile_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return ev.select(
        "event_id", "event_type", "value",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"))
