"""Recursive CTE queries (Spark 4 `WITH RECURSIVE`): calendar-spine
gap-fill and hierarchy rollup.

Extension surface (SURVEY.md §2.C, SQL-surface family): the reference has
no SQL interface at all; these pin the two canonical recursive-SQL shapes
a warehouse user expects — generate-a-spine and walk-a-hierarchy — on
Spark 4's native recursive CTE execution (iterative union with a loop
limit, default 100 levels). Both recursions are DEPTH-bounded by data
properties (months in the date range ≈ 80; log₂(max partkey) ≈ 15), not
row counts, so they hold at 100 TB: each iteration is a small
narrow-dependency step and the expensive tables join AFTER the recursion
produces a tiny spine/closure.

Both queries run verbatim in DuckDB (same ANSI recursive syntax), so they
carry full value oracles.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hw_kafka_flink_health_spark.queries._registry import register
from hw_kafka_flink_health_spark.sources.files import load_table, materialize


def _ensure_recursion_headroom(spark: SparkSession, levels: int = 400) -> None:
    """Raise (never lower) the session's recursion level cap. The conf
    must stay raised for the returned DataFrame's LAZY execution, so a
    restore-after-build would break collection later; a monotonic raise
    is idempotent and cannot clip another run that asked for more
    (round-6 advice: no observable cross-query state changes beyond the
    one-way headroom raise). The 1M-row limit stays the runaway
    backstop."""
    try:
        cur = int(spark.conf.get("spark.sql.cteRecursionLevelLimit"))
    except Exception:
        cur = 100
    if cur < levels:
        spark.conf.set("spark.sql.cteRecursionLevelLimit", str(levels))


def _sql_over_views(spark: SparkSession, sql: str, views: dict[str, DataFrame]) -> DataFrame:
    """Run `sql` with each {placeholder} bound to a UNIQUELY-named temp
    view of the given DataFrame, then drop the views. Fixed view names
    were session-global side effects (round-6 advice): two concurrent
    runs in one session could read each other's staged series. spark.sql
    analyzes eagerly (the view subplans are inlined into the returned
    DataFrame's analyzed plan), so dropping the views immediately is
    safe for later execution."""
    names = {}
    try:
        for ph, df in views.items():
            name = f"__rec_{ph}_{uuid.uuid4().hex[:12]}"
            df.createOrReplaceTempView(name)
            names[ph] = name
        bound = sql
        for ph, name in names.items():
            bound = bound.replace("{" + ph + "}", name)
        out = spark.sql(bound)
        out.schema  # force analysis before the views disappear  # noqa: B018
        return out
    finally:
        for name in names.values():
            spark.catalog.dropTempView(name)

# The spine carries the max bound as a column through the recursion
# (anchor computes both endpoints) because neither engine allows a scalar
# subquery in the recursive term. Monthly grain keeps the recursion depth
# at ~80 — under Spark's default 100-level recursion limit — regardless
# of row count; a daily spine would blow the level limit and should use
# sequence()/generate_series instead (see timeseries_gapfill).
_MONTH_SPINE_SQL = """
WITH RECURSIVE months(m, mx) AS (
  SELECT date_trunc('MONTH', min(o_orderdate)),
         date_trunc('MONTH', max(o_orderdate))
  FROM {orders}
  UNION ALL
  SELECT m + INTERVAL 1 MONTH, mx FROM months WHERE m < mx
)
SELECT CAST(months.m AS {TS}) AS month_start,
       count(o.o_orderkey)::BIGINT AS n_orders,
       round(coalesce(sum(o.o_totalprice), 0.0), 2) AS revenue
FROM months
LEFT JOIN {orders} o ON date_trunc('MONTH', o.o_orderdate) = months.m
GROUP BY months.m
"""

_PART_HIERARCHY_SQL = """
WITH RECURSIVE anc(part_key, node) AS (
  SELECT p_partkey, p_partkey FROM {part}
  UNION ALL
  SELECT part_key, CAST(FLOOR(node / 2.0) AS BIGINT) FROM anc WHERE node >= 2
)
SELECT node AS ancestor,
       count(*)::BIGINT AS n_desc,
       round(sum(p.p_retailprice), 2) AS subtree_price,
       round(max(p.p_retailprice), 2) AS max_price
FROM anc JOIN {part} p ON anc.part_key = p.p_partkey
WHERE node BETWEEN 1 AND 15
GROUP BY node
"""


def _duck(sql: str) -> str:
    # {TS}: the driver's value compare distinguishes datetime.date from
    # datetime.datetime, and DuckDB's date_trunc('MONTH', ts) yields DATE
    # while Spark yields a timestamp — pin BOTH outputs to a (naive)
    # timestamp per the registry convention.
    return (
        sql.replace("{orders}", "orders")
        .replace("{part}", "part")
        .replace("{TS}", "TIMESTAMP")
    )


def _spark_sql(
    spark: SparkSession, sf_dir: str, sql: str, tables: dict[str, str]
) -> DataFrame:
    # headroom over the 100-level default: the month spine is ~80 levels
    # on this corpus but a 2x-wider date range would hit the wall; the
    # row limit (default 1M) is the real runaway backstop, so raising the
    # level cap is safe. DuckDB's default max_recursive_cte_iterations is
    # unbounded, so only Spark needs the knob.
    _ensure_recursion_headroom(spark)
    # Spark's count(x)::BIGINT cast syntax differs; normalize the two
    # DuckDB-isms used above to portable forms for the Spark run.
    portable = sql.replace("::BIGINT", "").replace("{TS}", "TIMESTAMP_NTZ")
    return _sql_over_views(
        spark,
        portable,
        {ph: load_table(spark, sf_dir, name) for ph, name in tables.items()},
    )


@register("recursive_month_spine_revenue", oracle=_duck(_MONTH_SPINE_SQL))
def recursive_month_spine_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-free monthly revenue via a WITH RECURSIVE month spine.

    The recursion generates the ~80-month calendar from the data's own
    min/max (anchor aggregates once; each step adds one month, carrying
    the max bound as a column). The spine is tiny, so the LEFT JOIN
    against orders broadcasts it and the fact table is touched exactly
    once — recursion cost is independent of table size. Months with no
    orders surface as (0, 0.00) rows, which the inner-join-shaped oracle
    would miss; the value hash pins that gap-fill semantic."""
    df = _spark_sql(spark, sf_dir, _MONTH_SPINE_SQL, {"orders": "orders"})
    # count(x) is BIGINT in Spark already; revenue rounding matches oracle.
    return df


@register("recursive_part_hierarchy_rollup", oracle=_duck(_PART_HIERARCHY_SQL))
def recursive_part_hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtree rollup via WITH RECURSIVE ancestor closure.

    Parts form an implicit binary tree (parent = ⌊key/2⌋ — a synthetic
    but deterministic BOM stand-in, since TPC-H carries no part
    hierarchy). The recursion emits every (part, ancestor) pair in
    ⌈log₂ max_key⌉ ≈ 15 iterations; closure size is n·log n, NOT n², and
    each iteration is a narrow map over the frontier (no join inside the
    loop — the rollup joins part prices once, after). Restricting output
    to ancestors 1..15 reports the top four levels of the tree."""
    return _spark_sql(spark, sf_dir, _PART_HIERARCHY_SQL, {"part": "part"})


# Holt's linear-trend (double) exponential smoothing. EWMA has a closed
# form (events_ewma), but Holt's COUPLED level/trend recursion does not —
# it is the canonical "genuinely iterative numeric method" and exactly
# what WITH RECURSIVE's one-row-per-step mode is for. The recursion runs
# over the MONTH-grain aggregate (depth = months in the date range, ~84
# here), never over raw rows. Crucial scale detail: Spark does NOT
# materialize non-recursive CTEs referenced from a recursive term — an
# inline `idx` CTE would be re-aggregated from the fact table on EVERY
# iteration (~84 scans of orders). The Spark path therefore
# localCheckpoints the month series first and the recursion joins the
# materialized ~84-row table; DuckDB materializes CTEs, so the oracle
# keeps the whole thing as one statement. Money is summed in integer
# cents so the series entering the recursion is bitwise-identical in
# both engines, and the recursive step is the SAME literal arithmetic
# text in both — level and trend stay bitwise-equal through all
# iterations (rounding only at output).
_HOLT_STEP_SQL = """holt(i, m, y, lvl, trd) AS (
  SELECT i, m, y, y, CAST(0.0 AS DOUBLE) FROM {idx} WHERE i = 1
  UNION ALL
  SELECT x.i, x.m, x.y,
         CAST(0.4 AS DOUBLE) * x.y + CAST(0.6 AS DOUBLE) * (h.lvl + h.trd),
         CAST(0.3 AS DOUBLE)
           * ((CAST(0.4 AS DOUBLE) * x.y
               + CAST(0.6 AS DOUBLE) * (h.lvl + h.trd)) - h.lvl)
           + CAST(0.7 AS DOUBLE) * h.trd
  FROM holt h JOIN {idx} x ON x.i = h.i + 1
)
SELECT i AS step, round(y, 2) AS revenue, round(lvl, 2) AS level,
       round(trd, 2) AS trend, round(lvl + trd, 2) AS forecast_next
FROM holt"""

_HOLT_ORACLE = (
    """
WITH RECURSIVE months AS (
  SELECT date_trunc('MONTH', o_orderdate) AS m,
         sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS c
  FROM orders
  WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
  GROUP BY date_trunc('MONTH', o_orderdate)
), idx AS (
  SELECT m, c / CAST(100.0 AS DOUBLE) AS y,
         CAST(row_number() OVER (ORDER BY m) AS BIGINT) AS i
  FROM months
), """
    + _HOLT_STEP_SQL.format(idx="idx")
)


@register("recursive_holt_linear_trend", oracle=_HOLT_ORACLE)
def recursive_holt_linear_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double exponential smoothing of monthly revenue via WITH
    RECURSIVE (alpha=0.4, beta=0.3): level_t = a*y_t + (1-a)*(level+trend),
    trend_t = b*(level_t - level) + (1-b)*trend, one recursion step per
    month. The heavy part — scan + month aggregate of the fact table —
    runs ONCE and is localCheckpointed; the recursion's per-step join
    touches only the materialized ~84-row series (see module note on why
    inlining the CTE would re-scan orders every iteration). Emits the
    full fitted series plus the one-step-ahead forecast; value-oracled
    exactly (integer-cent inputs, identical step-arithmetic text)."""
    from pyspark.sql import Window as W

    _ensure_recursion_headroom(spark)
    # NULL dates/prices out: a NULL month group flips the row_number
    # anchor between the engines' NULL-ordering defaults, and an
    # all-NULL-price month would send a NULL y through every later
    # recursion step (nulls fuzz finding).
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull() & F.col("o_totalprice").isNotNull()
    )
    months = orders.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("m")
    ).agg(F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")).alias("c"))
    idx = materialize(months.select(
        "m",
        (F.col("c") / F.lit(100.0).cast("double")).alias("y"),
        F.row_number().over(W.orderBy("m")).cast("bigint").alias("i"),
    ))
    return _sql_over_views(
        spark, "WITH RECURSIVE " + _HOLT_STEP_SQL.format(idx="{idx}"), {"idx": idx}
    )


# Holt-Winters ADDITIVE seasonal smoothing (level + trend + 7-slot
# seasonal state), the seasonal extension of recursive_holt_linear_trend.
# The seasonal state rides through the recursion as a 7-element DOUBLE
# array: ss[1] is the seasonal component due at the current step, and
# each step rotates the array (drop head, append the re-estimated
# component). Array PLUMBING differs by engine (element_at/slice/concat
# vs [1]/list_slice/list_append) — that is fine, because plumbing moves
# doubles without touching them; every ARITHMETIC op is the same literal
# expression text in both engines, so level/trend/seasonal stay bitwise
# equal through all ~113 iterations. Window: 59 days of 1995 keeps the
# recursion depth at ~52 (each level is one micro-job of fixed scheduler
# cost — depth, not data size, is the price) while covering 8 full
# weekly cycles.
def _hw_step(s1: str) -> tuple[str, str, str]:
    lvl = (
        f"(CAST(0.4 AS DOUBLE) * (x.y - {s1}) "
        "+ CAST(0.6 AS DOUBLE) * (h.lvl + h.trd))"
    )
    trd = (
        f"(CAST(0.3 AS DOUBLE) * ({lvl} - h.lvl) "
        "+ CAST(0.7 AS DOUBLE) * h.trd)"
    )
    snew = f"(CAST(0.2 AS DOUBLE) * (x.y - {lvl}) + CAST(0.8 AS DOUBLE) * {s1})"
    return lvl, trd, snew


_HW_FINAL_SQL = """
SELECT i AS step, d_ms AS day_ms, round(y, 2) AS revenue,
       round(lvl, 2) AS level, round(trd, 2) AS trend,
       round(sn, 2) AS seasonal, round(fit, 2) AS fitted
FROM hw WHERE i > 7"""

_HW_LVL_D, _HW_TRD_D, _HW_SNEW_D = _hw_step("h.ss[1]")
_HW_ORACLE = f"""
WITH RECURSIVE daily AS (
  SELECT date_trunc('day', o_orderdate) AS d,
         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS c
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '1995-01-01'
    AND o_orderdate < TIMESTAMP '1995-03-01'
  GROUP BY date_trunc('day', o_orderdate)
), idx AS (
  SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS i,
         CAST(epoch_ms(d) AS BIGINT) AS d_ms,
         c, c / CAST(100.0 AS DOUBLE) AS y
  FROM daily
), w7 AS (
  SELECT i, c, CAST(sum(c) OVER () AS BIGINT) AS sc FROM idx WHERE i <= 7
), anchor AS (
  SELECT CAST(7 AS BIGINT) AS i, CAST(NULL AS BIGINT) AS d_ms,
         CAST(NULL AS DOUBLE) AS y,
         max(sc) / CAST(700.0 AS DOUBLE) AS lvl,
         CAST(0.0 AS DOUBLE) AS trd,
         CAST(NULL AS DOUBLE) AS sn, CAST(NULL AS DOUBLE) AS fit,
         list(c / CAST(100.0 AS DOUBLE) - sc / CAST(700.0 AS DOUBLE)
              ORDER BY i) AS ss
  FROM w7
), hw AS (
  SELECT * FROM anchor
  UNION ALL
  SELECT x.i, x.d_ms, x.y,
         {_HW_LVL_D},
         {_HW_TRD_D},
         {_HW_SNEW_D},
         h.lvl + h.trd + h.ss[1],
         list_append(list_slice(h.ss, 2, 7), {_HW_SNEW_D})
  FROM hw h JOIN idx x ON x.i = h.i + 1
){_HW_FINAL_SQL}
"""


@register("recursive_holt_winters_daily", oracle=_HW_ORACLE)
def recursive_holt_winters_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters additive triple exponential smoothing of daily
    revenue with a weekly (7-slot) season, via WITH RECURSIVE
    (alpha=0.4, beta=0.3, gamma=0.2): the coupled level/trend/seasonal
    recursion has no closed form, and the seasonal state travels as a
    rotating 7-double array column. Initialization is the standard
    first-cycle anchor: level = mean of the first week, trend 0,
    seasonal = each day's deviation from that mean.

    Scale shape follows the Holt lesson (module note): the daily
    aggregate of the fact table runs ONCE and is localCheckpointed;
    recursion depth is bounded by the 59-day window (~52 steps), never
    by table size, and each step joins the materialized ~59-row series.
    Exactness: integer-cent daily sums enter as bitwise-identical
    doubles; the step arithmetic is the same literal text in both
    engines (array access/rotation differs syntactically but only MOVES
    values); rounding happens at output only."""
    from pyspark.sql import Window as W

    _ensure_recursion_headroom(spark)
    orders = load_table(spark, sf_dir, "orders")
    daily = (
        orders.filter(
            (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1995-03-01").cast("timestamp"))
        )
        .groupBy(F.date_trunc("day", "o_orderdate").alias("d"))
        .agg(F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")).alias("c"))
    )
    idx = materialize(daily.select(
        F.row_number().over(W.orderBy("d")).cast("bigint").alias("i"),
        F.unix_millis(F.col("d").cast("timestamp")).alias("d_ms"),
        "c",
        (F.col("c") / F.lit(100.0)).alias("y"),
    ))
    w7 = idx.filter(F.col("i") <= 7).select(
        "i", "c", F.sum("c").over(W.partitionBy()).cast("bigint").alias("sc")
    )
    anchor = materialize(w7.groupBy().agg(
        F.max("sc").alias("msc"),
        F.array_sort(F.collect_list(F.struct("i", "c", "sc"))).alias("cl"),
    ).select(
        F.lit(7).cast("bigint").alias("i"),
        F.lit(None).cast("bigint").alias("d_ms"),
        F.lit(None).cast("double").alias("y"),
        (F.col("msc") / F.lit(700.0)).alias("lvl"),
        F.lit(0.0).alias("trd"),
        F.lit(None).cast("double").alias("sn"),
        F.lit(None).cast("double").alias("fit"),
        F.transform(
            "cl",
            lambda s: s.getField("c") / F.lit(100.0)
            - s.getField("sc") / F.lit(700.0),
        ).alias("ss"),
    ))
    lvl_s, trd_s, snew_s = _hw_step("element_at(h.ss, 1)")
    return _sql_over_views(
        spark,
        f"""
WITH RECURSIVE hw AS (
  SELECT * FROM {{anchor}}
  UNION ALL
  SELECT x.i, x.d_ms, x.y,
         {lvl_s},
         {trd_s},
         {snew_s},
         h.lvl + h.trd + element_at(h.ss, 1),
         concat(slice(h.ss, 2, 6), array({snew_s}))
  FROM hw h JOIN {{idx}} x ON x.i = h.i + 1
){_HW_FINAL_SQL}
""",
        {"anchor": anchor, "idx": idx},
    )


_DTW_INF = 1 << 50  # > any real path cost, no overflow under accumulation
_DTW_N = 59  # days in [1995-01-01, 1995-03-01) — fixed window, SF-invariant
_DTW_W = 7  # Sakoe-Chiba band half-width
_DTW_ITERS = 2 * _DTW_N - 1

_DTW_ORACLE = f"""
    WITH RECURSIVE dly AS (
      SELECT (epoch_ms(o_orderdate) // 86400000)
             - (epoch_ms(TIMESTAMP '1995-01-01 00:00:00') // 86400000) AS d,
             CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
                           THEN CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS ca,
             CAST(sum(CASE WHEN o_orderpriority = '5-LOW'
                           THEN CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS cb
      FROM orders
      WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
        AND o_orderdate >= TIMESTAMP '1995-01-01'
        AND o_orderdate < TIMESTAMP '1995-03-01'
      GROUP BY 1
    ), spine AS (SELECT unnest(generate_series(0, {_DTW_N - 1})) AS d),
    arrs AS (
      SELECT list(CAST(coalesce(dly.ca, 0) AS BIGINT) ORDER BY spine.d) AS a,
             list(CAST(coalesce(dly.cb, 0) AS BIGINT) ORDER BY spine.d) AS b
      FROM spine LEFT JOIN dly ON spine.d = dly.d
    ),
    st AS (
      SELECT 1 AS t,
             CAST([CASE WHEN i = 1 THEN abs(a[1] - b[1])
                        ELSE {_DTW_INF} END
                   FOR i IN generate_series(1, {_DTW_N})] AS BIGINT[]) AS cur,
             CAST([{_DTW_INF} FOR i IN generate_series(1, {_DTW_N})]
                  AS BIGINT[]) AS prev,
             a, b
      FROM arrs
      UNION ALL
      SELECT t + 1,
             CAST([
               CASE WHEN t + 2 - i BETWEEN 1 AND {_DTW_N}
                         AND abs(2 * i - t - 2) <= {_DTW_W}
                    THEN abs(a[i] - b[t + 2 - i])
                         + least(coalesce(cur[i - 1], {_DTW_INF}),
                                 coalesce(cur[i], {_DTW_INF}),
                                 coalesce(prev[i - 1], {_DTW_INF}))
                    ELSE {_DTW_INF} END
               FOR i IN generate_series(1, {_DTW_N})] AS BIGINT[]),
             cur, a, b
      FROM st WHERE t < {_DTW_ITERS}
    )
    SELECT CAST({_DTW_N} AS BIGINT) AS n_days,
           CAST(cur[{_DTW_N}] AS BIGINT) AS dtw_cents
    FROM st WHERE t = {_DTW_ITERS}
    """


@register("timeseries_dtw_band", oracle=_DTW_ORACLE)
def timeseries_dtw_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded dynamic-time-warping distance between the URGENT and LOW
    daily revenue series over a fixed 59-day window — the elastic
    similarity measure used to compare phase-shifted time series where
    pointwise (Euclidean) distance over-penalizes small lags.

    The O(n·w) DP runs as a recursive CTE whose working set is ONE ROW
    carrying the last two anti-diagonals as BIGINT arrays (the
    Holt-Winters array-state pattern): each of the 2n-1 iterations maps
    `transform(sequence(1, n), ...)` over the band, so recursion depth
    and row width are fixed by the WINDOW (59 days), not the table —
    the heavy work (daily conditional aggregate) happens once in the
    anchor, and at 100 TB the recursion still touches one 59-element
    row per step. All costs are exact integer cents with an integer INF
    sentinel (2^50 — min() absorbs it, and accumulation cannot reach
    int64), so the distance is bit-identical cross-engine. The
    Sakoe-Chiba band (|i-j| <= 7) is the standard constraint that keeps
    warping local and cuts the DP to O(n·w)."""
    _ensure_recursion_headroom(spark)
    orders = load_table(spark, sf_dir, "orders")
    INF, N, W, ITERS = _DTW_INF, _DTW_N, _DTW_W, _DTW_ITERS
    base = orders.filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
        & (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1995-03-01").cast("timestamp"))
    ).select(
        (
            F.expr("unix_millis(CAST(o_orderdate AS TIMESTAMP)) DIV 86400000")
            - F.lit(9131).cast("long")  # epoch-day of 1995-01-01
        ).alias("d"),
        F.when(
            F.col("o_orderpriority") == "1-URGENT",
            F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long"),
        )
        .otherwise(F.lit(0).cast("long"))
        .alias("ca"),
        F.when(
            F.col("o_orderpriority") == "5-LOW",
            F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long"),
        )
        .otherwise(F.lit(0).cast("long"))
        .alias("cb"),
    )
    dly = base.groupBy("d").agg(
        F.sum("ca").cast("long").alias("ca"), F.sum("cb").cast("long").alias("cb")
    )
    arrs = materialize(dly.agg(
        F.map_from_entries(F.collect_list(F.struct("d", "ca"))).alias("m_a"),
        F.map_from_entries(F.collect_list(F.struct("d", "cb"))).alias("m_b"),
    ).select(
        F.expr(
            f"transform(sequence(CAST(0 AS BIGINT), {N - 1}), dd -> "
            f"CAST(coalesce(try_element_at(m_a, dd), 0) AS BIGINT))"
        ).alias("a"),
        F.expr(
            f"transform(sequence(CAST(0 AS BIGINT), {N - 1}), dd -> "
            f"CAST(coalesce(try_element_at(m_b, dd), 0) AS BIGINT))"
        ).alias("b"),
    ))
    return _sql_over_views(
        spark,
        f"""
WITH RECURSIVE st AS (
  SELECT 1 AS t,
         transform(sequence(1, {N}), i ->
           CASE WHEN i = 1 THEN abs(try_element_at(a, 1) - try_element_at(b, 1))
                ELSE CAST({INF} AS BIGINT) END) AS cur,
         transform(sequence(1, {N}), i -> CAST({INF} AS BIGINT)) AS prev,
         a, b
  FROM {{arrs}}
  UNION ALL
  SELECT t + 1,
         transform(sequence(1, {N}), i ->
           CASE WHEN t + 2 - i BETWEEN 1 AND {N}
                     AND abs(2 * i - t - 2) <= {W}
                THEN abs(try_element_at(a, i) - try_element_at(b, t + 2 - i))
                     + least(coalesce(CASE WHEN i > 1
                                          THEN try_element_at(cur, i - 1) END,
                                      CAST({INF} AS BIGINT)),
                             coalesce(try_element_at(cur, i), CAST({INF} AS BIGINT)),
                             coalesce(CASE WHEN i > 1
                                          THEN try_element_at(prev, i - 1) END,
                                      CAST({INF} AS BIGINT)))
                ELSE CAST({INF} AS BIGINT) END) AS cur,
         cur AS prev, a, b
  FROM st WHERE t < {ITERS}
)
SELECT CAST({N} AS BIGINT) AS n_days,
       CAST(try_element_at(cur, {N}) AS BIGINT) AS dtw_cents
FROM st WHERE t = {ITERS}
""",
        {"arrs": arrs},
    )


# Croston's method — THE intermittent-demand forecaster (sparse series
# with many zero periods, where plain exponential smoothing collapses
# toward zero between demands). Two coupled EWMA states update ONLY on
# nonzero-demand periods: demand size z and inter-demand interval p;
# forecast = z/p. Like Holt, the coupled recursion has no closed form —
# WITH RECURSIVE one-row-per-step over the NONZERO days only (the zero
# days never enter the loop; their count rides in as the integer gap),
# so the depth is the number of demand days in a FIXED calendar window
# (<= 181 here at any SF), never the table size. Demand sums are exact
# integer quantities, the gap is an exact integer day count, and the
# recursive step is the same literal arithmetic text in both engines —
# states stay bitwise-equal through every iteration and are emitted
# UNROUNDED (round() on identical doubles is the cross-engine hazard).
_CROSTON_STEP_SQL = """croston(i, d_ms, d, q, z, p) AS (
  SELECT i, d_ms, d, q, CAST(d AS DOUBLE), CAST(1.0 AS DOUBLE)
  FROM {idx} WHERE i = 1
  UNION ALL
  SELECT x.i, x.d_ms, x.d, x.q,
         CAST(0.1 AS DOUBLE) * x.d + CAST(0.9 AS DOUBLE) * c.z,
         CAST(0.1 AS DOUBLE) * x.q + CAST(0.9 AS DOUBLE) * c.p
  FROM croston c JOIN {idx} x ON x.i = c.i + 1
)
SELECT i AS step, d_ms AS day_ms, d AS demand, q AS gap_days,
       z AS size_ewma, p AS interval_ewma, z / p AS forecast
FROM croston"""

_CROSTON_ORACLE = (
    """
WITH RECURSIVE demand AS MATERIALIZED (
  SELECT date_trunc('day', l_shipdate) AS d_day,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS d
  FROM lineitem
  WHERE l_partkey % 499 = 3
    AND l_shipdate >= TIMESTAMP '1995-01-01'
    AND l_shipdate < TIMESTAMP '1995-07-01'
  GROUP BY 1
), idx AS MATERIALIZED (
  SELECT CAST(row_number() OVER (ORDER BY d_day) AS BIGINT) AS i,
         CAST(epoch_ms(d_day) AS BIGINT) AS d_ms, d,
         CAST(coalesce(date_diff('day',
              lag(d_day) OVER (ORDER BY d_day), d_day), 1) AS BIGINT) AS q
  FROM demand
), """
    + _CROSTON_STEP_SQL.format(idx="idx")
)


@register("timeseries_croston", oracle=_CROSTON_ORACLE)
def timeseries_croston(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston intermittent-demand forecast (alpha=0.1) for a sparse part
    slice's daily shipped quantity: size and interval EWMAs update only
    on demand days, forecast = size/interval — the standard
    spares/slow-mover model a plain EWMA gets wrong on sparse series.

    Scale shape follows the Holt lesson (module note): the fact-table
    scan + day aggregate runs ONCE and is localCheckpointed; the
    recursion joins the materialized <=181-row demand series, so
    recursion cost is depth x O(1), independent of table size. The
    first demand day anchors z = its demand, p = 1 (no observed prior
    interval); gaps are integer day counts from lag()."""
    from pyspark.sql import Window as W

    _ensure_recursion_headroom(spark)
    li = load_table(spark, sf_dir, "lineitem")
    demand = (
        li.filter(
            (F.col("l_partkey") % 499 == 3)
            & (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1995-07-01").cast("timestamp"))
        )
        .groupBy(F.date_trunc("day", F.col("l_shipdate")).alias("d_day"))
        .agg(F.sum(F.col("l_quantity").cast("long")).cast("long").alias("d"))
    )
    w = W.orderBy("d_day")
    idx = materialize(demand.select(
        F.row_number().over(w).cast("bigint").alias("i"),
        F.unix_millis(F.col("d_day").cast("timestamp")).alias("d_ms"),
        "d",
        F.coalesce(
            F.datediff(
                F.col("d_day").cast("date"), F.lag("d_day").over(w).cast("date")
            ),
            F.lit(1),
        )
        .cast("bigint")
        .alias("q"),
    ))
    return _sql_over_views(
        spark,
        "WITH RECURSIVE " + _CROSTON_STEP_SQL.format(idx="{idx}"),
        {"idx": idx},
    )
