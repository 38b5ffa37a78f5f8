"""Cross-engine-exact aggregates and the statistics built on them.

Summing doubles is order-dependent (IEEE-754 addition doesn't associate), so
a plain sum(double) drifts between engines AND between cluster sizes /
partition counts — nondeterministic at scale and fatal for value-hash
comparison. Fix: the measures are fixed-point (2dp money, 4dp/6dp products
of 2dp values — TPC-H stores them as DECIMAL in the spec), so we sum them as
scaled int64 (`round(x * 10^s)`), which is exact, order-independent, and
FASTER than double sums (benchmarked 0.92s vs 1.13s double vs 2.1s
decimal(30) on 600k rows — long sums stay in whole-stage codegen).

Overflow bound: int64 holds +/-9.2e18, ~9.2e12 measure units per group at
scale 6. Under Spark 4's default ANSI mode a sum that outgrows it raises
ARITHMETIC_OVERFLOW (it does not wrap; DuckDB's SUM(BIGINT) widens to
int128), so squares and products (dp² of a 1e6 price is 1e18 at scale 6)
go through dsum_wide. Each builder has its DuckDB rendering (`*_sql`)
beside it; tests/test_stats_renderings.py compares the statistics:

- moment_sums: sx, sy, sxy, sxx, syy of a column pair at its scales.
- closed forms over them, given the count column: co_moment, pop_cov,
  ols_slope, ols_intercept, pearson_r and r_squared, each one IEEE
  expression tree whose guards (n >= 2, a positive variance) make a
  degenerate group NULL in both engines, never a 0/0.
- rank selection: with_ranks adds rn (in a tie-broken order) and n;
  percentile_disc takes the value at rank ceil(p·n), middle_ranks keeps
  ranks (n+1)//2 and (n+2)//2, middle_mean averages them and middle_sum
  adds them (twice the median, kept integer for MAD).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _as_col(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dsum(col: Column | str, scale: int = 2) -> Column:
    """Order-independent exact sum of a fixed-point-valued double column:
    sum(round(x*10^s)) / 10^s, all-integer in the aggregate."""
    factor = 10 ** scale
    scaled = F.sum(F.round(_as_col(col) * factor).cast("long"))
    return scaled.cast("double") / float(factor)


def davg(col: Column | str, scale: int = 2) -> Column:
    """avg as exact-sum / count — deterministic on any cluster size."""
    c = _as_col(col)
    return dsum(c, scale) / F.count(c)


def dsum_sql(expr: str, scale: int = 2) -> str:
    """The DuckDB-oracle rendering of dsum(expr, scale). Parenthesized so
    the fragment composes safely as a division operand (an unwrapped
    `a / 10^s` tail would re-associate under a following `/ x`)."""
    factor = 10 ** scale
    return (f"(CAST(SUM(CAST(ROUND(({expr}) * {factor}) AS BIGINT)) AS DOUBLE)"
            f" / {float(factor)})")


def davg_sql(expr: str, scale: int = 2) -> str:
    return f"({dsum_sql(expr, scale)} / COUNT({expr}))"


def dsum_wide(col: Column | str, scale: int = 2) -> Column:
    """dsum for squared/product terms, whose scaled rows can approach
    int64 (dp² of a 1e6 price is 1e18 at scale 6, and an int64 sum of
    such rows raises ARITHMETIC_OVERFLOW under ANSI): each row is an
    exact int64, summed on decimal(38,0) at ~2x the agg cost, as DuckDB
    widens SUM(BIGINT) to int128. The row is cast double -> long ->
    decimal because Spark's double -> decimal cast goes through the
    double's decimal string, which past 2^53 is not its value
    (999299559948433024 becomes ...433020: the events_wide fuzz corpus)."""
    factor = 10 ** scale
    scaled = F.sum(F.round(_as_col(col) * factor).cast("long")
                   .cast("decimal(38,0)"))
    return scaled.cast("double") / float(factor)


def dsum_wide_sql(expr: str, scale: int = 2) -> str:
    """The DuckDB rendering of dsum_wide. DuckDB's int128->double (and
    decimal->double) conversion is NOT correctly rounded once the sum
    passes 2^53 (measured: 23999999320000006632 converts to ...004e19
    vs the correctly-rounded ...001e19 Spark's decimal cast produces —
    r8 events fuzzer). Render a conversion that IS correctly rounded on
    any IEEE engine: split |sum| as hi*2^32 + lo with both halves exact
    in double (hi < 2^53 up to |sum| < 2^85), then one double add —
    fl(hi*2^32 + lo) rounds the exact integer once, to nearest."""
    factor = 10 ** scale
    s = f"SUM(CAST(ROUND(({expr}) * {factor}) AS HUGEINT))"
    hi = f"CAST(ABS({s}) // 4294967296 AS DOUBLE) * 4294967296.0"
    lo = f"CAST(ABS({s}) % 4294967296 AS DOUBLE)"
    sign = f"(CASE WHEN {s} < 0 THEN -1.0 ELSE 1.0 END)"
    return f"({sign} * ({hi} + {lo}) / {float(factor)})"


# --- moment sums and their closed forms ----------------------------------

def moment_sums(x: Column | str, y: Column | str, scale_x: int = 6,
                scale_y: int = 6) -> list[Column]:
    """The aggregates sx, sy, sxy, sxx, syy of a column pair: each term
    rounded at its scale (a product at the wider of its factors') and
    summed exactly; the products through dsum_wide."""
    x, y = _as_col(x), _as_col(y)
    return [dsum(x, scale_x).alias("sx"), dsum(y, scale_y).alias("sy"),
            dsum_wide(x * y, max(scale_x, scale_y)).alias("sxy"),
            dsum_wide(x * x, scale_x).alias("sxx"),
            dsum_wide(y * y, scale_y).alias("syy")]


def moment_sums_sql(x: str, y: str, scale_x: int = 6,
                    scale_y: int = 6) -> str:
    return (f"{dsum_sql(x, scale_x)} AS sx, {dsum_sql(y, scale_y)} AS sy, "
            f"{dsum_wide_sql(f'({x}) * ({y})', max(scale_x, scale_y))}"
            f" AS sxy, {dsum_wide_sql(f'({x}) * ({x})', scale_x)} AS sxx, "
            f"{dsum_wide_sql(f'({y}) * ({y})', scale_y)} AS syy")


def co_moment(n: str, a: str = "x", b: str = "y") -> Column:
    """n·Σab − Σa·Σb over moment_sums' columns (a, b each "x" or "y"):
    n² times the population (co)variance."""
    return F.col(n) * F.col(f"s{a}{b}") - F.col(f"s{a}") * F.col(f"s{b}")


def co_moment_sql(n: str, a: str = "x", b: str = "y") -> str:
    return f"({n} * s{a}{b} - s{a} * s{b})"


def pop_cov(n: str, a: str = "x", b: str = "y") -> Column:
    """Population (co)variance; NULL under 2 rows."""
    c = F.col(n)
    return F.when(c >= 2, co_moment(n, a, b) / (c.cast("double") * c))


def pop_cov_sql(n: str, a: str = "x", b: str = "y") -> str:
    return (f"CASE WHEN {n} >= 2 THEN {co_moment_sql(n, a, b)}"
            f" / (CAST({n} AS DOUBLE) * {n}) ELSE NULL END")


def _guard(n: str, *sides: str) -> Column:
    cond = F.col(n) >= 2
    for a in sides:
        cond = cond & (co_moment(n, a, a) > 0.0)
    return cond


def _guard_sql(n: str, *sides: str) -> str:
    return " AND ".join([f"{n} >= 2"] + [f"{co_moment_sql(n, a, a)} > 0.0"
                                         for a in sides])


def ols_slope(n: str) -> Column:
    """OLS slope of y on x; NULL under 2 rows or a constant x."""
    return F.when(_guard(n, "x"), co_moment(n) / co_moment(n, "x", "x"))


def ols_slope_sql(n: str) -> str:
    return (f"CASE WHEN {_guard_sql(n, 'x')} THEN {co_moment_sql(n)}"
            f" / {co_moment_sql(n, 'x', 'x')} ELSE NULL END")


def ols_intercept(n: str) -> Column:
    """OLS intercept (Σy − slope·Σx) / n; NULL where the slope is."""
    return (F.col("sy") - ols_slope(n) * F.col("sx")) / F.col(n)


def ols_intercept_sql(n: str) -> str:
    return f"((sy - {ols_slope_sql(n)} * sx) / {n})"


def pearson_r(n: str) -> Column:
    """Pearson r; NULL under 2 rows or a constant side."""
    return F.when(_guard(n, "x", "y"),
                  co_moment(n) / (F.sqrt(co_moment(n, "x", "x"))
                                  * F.sqrt(co_moment(n, "y", "y"))))


def pearson_r_sql(n: str) -> str:
    return (f"CASE WHEN {_guard_sql(n, 'x', 'y')} THEN {co_moment_sql(n)}"
            f" / (sqrt({co_moment_sql(n, 'x', 'x')})"
            f" * sqrt({co_moment_sql(n, 'y', 'y')})) ELSE NULL END")


def r_squared(n: str) -> Column:
    """R² of the y-on-x fit (= r², without the square roots); NULL under
    2 rows or a constant side."""
    cov = co_moment(n)
    return F.when(_guard(n, "x", "y"),
                  (cov * cov) / (co_moment(n, "x", "x")
                                 * co_moment(n, "y", "y")))


def r_squared_sql(n: str) -> str:
    cov = co_moment_sql(n)
    return (f"CASE WHEN {_guard_sql(n, 'x', 'y')} THEN ({cov} * {cov})"
            f" / ({co_moment_sql(n, 'x', 'x')}"
            f" * {co_moment_sql(n, 'y', 'y')}) ELSE NULL END")


# --- rank selection -------------------------------------------------------

def with_ranks(df: DataFrame, part: tuple[str, ...],
               order: tuple[str, ...]) -> DataFrame:
    """df plus rn, its 1-based rank within `part` in `order` (which must
    end in a tie-break key), and n, the partition's row count."""
    return (df.withColumn("rn", F.row_number().over(
                Window.partitionBy(*part).orderBy(*order)))
              .withColumn("n", F.count("*").over(Window.partitionBy(*part))))


def ranked_sql(rel: str, part: tuple[str, ...], order: tuple[str, ...]) -> str:
    over = f"PARTITION BY {', '.join(part)}" if part else ""
    ranks = f"{over} ORDER BY {', '.join(order)}".strip()
    return (f"SELECT *, ROW_NUMBER() OVER ({ranks}) AS rn, "
            f"COUNT(*) OVER ({over}) AS n FROM {rel}")


def percentile_disc(p: float, value: str) -> Column:
    """Aggregate over with_ranks rows: the value at rank ceil(p·n)."""
    return F.min(F.when(F.col("rn") == F.ceil(F.lit(p) * F.col("n")),
                        F.col(value)))


def percentile_disc_sql(p: float, value: str) -> str:
    return f"MIN(CASE WHEN rn = CAST(CEIL({p} * n) AS BIGINT) THEN {value} END)"


def middle_ranks() -> Column:
    """Filter over with_ranks rows: the one or two middle ranks."""
    return ((F.col("rn") == F.floor((F.col("n") + 1) / 2))
            | (F.col("rn") == F.floor((F.col("n") + 2) / 2)))


MIDDLE_RANKS_SQL = "rn IN ((n + 1) // 2, (n + 2) // 2)"


def middle_mean(value: str) -> Column:
    """Aggregate over the middle_ranks rows: the median."""
    return F.sum(value).cast("double") / F.count("*")


def middle_mean_sql(value: str) -> str:
    return f"CAST(SUM({value}) AS DOUBLE) / COUNT(*)"


def middle_sum(value: str) -> Column:
    """Aggregate over with_ranks rows: the sum of the two middle-rank
    values (one value twice for an odd n), i.e. twice the median."""
    def at(k: Column) -> Column:
        return F.sum(F.when(F.col("rn") == F.floor(k / 2), F.col(value)))
    return at(F.col("n") + 1) + at(F.col("n") + 2)


def middle_sum_sql(value: str) -> str:
    return (f"SUM(CASE WHEN rn = (n + 1) // 2 THEN {value} END)"
            f" + SUM(CASE WHEN rn = (n + 2) // 2 THEN {value} END)")
