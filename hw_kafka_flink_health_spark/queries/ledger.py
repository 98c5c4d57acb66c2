"""Operational-ledger analytics over `orders`/`lineitem`: FIFO lot
matching and business-day SLA latency.

Extension surface (SURVEY.md §2.C, relational/analytic family): the
classic finance-ops SQL shapes a warehouse team runs daily, each chosen
because its exact arithmetic survives a cross-engine value hash.

Scale shapes:
* FIFO matching uses the cumulative-interval trick: each supply lot and
  each demand occupy a half-open interval on the per-part cumulative
  quantity axis, and a lot feeds a demand iff their intervals overlap.
  That turns the sequential "walk the queue" algorithm into two window
  passes plus ONE range join keyed on `l_partkey` — per-part output is
  O(supplies + demands), never the quadratic all-pairs, because each
  demand overlaps a contiguous run of lots. At 100 TB the join is an
  equi-join on partkey with a residual range predicate: it shuffles
  both sides once on the same key and needs no driver state.
* Business-day latency is a closed-form weekday count (no calendar
  table, no per-day explode): weekdays-before-epoch-day arithmetic on
  `datediff`, so the whole query is one join + one hash aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hw_kafka_flink_health_spark.operators.relational import global_prefix_sum
from hw_kafka_flink_health_spark.queries._registry import register
from hw_kafka_flink_health_spark.queries._shared import (
    DAILY_REV_SQL as _DAILY_REV_SQL,
    daily_regional_revenue,
)
from hw_kafka_flink_health_spark.sources.files import load_table, materialize

# Weekdays in [0, d) for an epoch-day count d (1970-01-01 = Thursday):
# 5 per full week plus a 7-way lookup for the remainder starting Thursday.
_WEEKDAYS_REM_SQL = (
    "CASE {d} % 7 WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 2 WHEN 3 THEN 2 "
    "WHEN 4 THEN 2 WHEN 5 THEN 3 ELSE 4 END"
)


def _weekdays_before_sql(d: str) -> str:
    return f"(5 * (({d}) // 7) + {_WEEKDAYS_REM_SQL.format(d=f'({d})')})"


def _weekdays_before_spark(d):
    rem = d % 7
    lookup = (
        F.when(rem == 0, 0)
        .when(rem == 1, 1)
        .when(rem == 2, 2)
        .when(rem == 3, 2)
        .when(rem == 4, 2)
        .when(rem == 5, 3)
        .otherwise(4)
    )
    return 5 * F.floor(d / 7).cast("bigint") + lookup


@register(
    "orders_business_day_latency",
    oracle=f"""
    WITH first_ship AS (
      SELECT l_orderkey, min(l_shipdate) AS ship_ts
      FROM lineitem WHERE l_shipdate IS NOT NULL GROUP BY l_orderkey
    ), lat AS (
      SELECT o.o_orderpriority,
             {_weekdays_before_sql("datediff('day', DATE '1970-01-01', CAST(s.ship_ts AS DATE)) + 1")}
             - {_weekdays_before_sql("datediff('day', DATE '1970-01-01', CAST(o.o_orderdate AS DATE)) + 1")}
               AS biz_days
      FROM orders o JOIN first_ship s ON s.l_orderkey = o.o_orderkey
      WHERE o.o_orderdate IS NOT NULL
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(min(biz_days) AS BIGINT) AS min_biz_days,
           CAST(max(biz_days) AS BIGINT) AS max_biz_days,
           round(CAST(sum(biz_days) AS BIGINT)
                 / CAST(count(*) AS DOUBLE), 4) AS avg_biz_days,
           CAST(count(*) FILTER (WHERE biz_days <= 5) AS BIGINT) AS within_5,
           CAST(count(*) FILTER (WHERE biz_days > 20) AS BIGINT) AS over_20
    FROM lat GROUP BY o_orderpriority
    """,
)
def orders_business_day_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-first-shipment latency in BUSINESS days (weekends
    excluded) per priority class — the SLA metric ops teams actually
    report, and a date-math shape calendars usually force into a
    calendar-table join.

    Closed form instead: weekdays in (order_day, ship_day] equals
    f(ship+1) - f(order+1) where f(d) counts weekdays before epoch-day
    d — five per full week plus a 7-way remainder lookup anchored on
    1970-01-01 being a Thursday. Pure integer arithmetic end to end
    (the only double is the final average), no calendar explode, so the
    query is one min-aggregate over lineitem, one equi-join, one hash
    aggregate — every step shuffles on a key with full partial
    aggregation."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    first_ship = (
        lineitem.filter(F.col("l_shipdate").isNotNull())
        .groupBy("l_orderkey")
        .agg(F.min("l_shipdate").alias("ship_ts"))
    )
    epoch = F.lit("1970-01-01").cast("date")
    d_ship = F.datediff(F.col("ship_ts").cast("date"), epoch) + 1
    d_ord = F.datediff(F.col("o_orderdate").cast("date"), epoch) + 1
    lat = (
        orders.filter(F.col("o_orderdate").isNotNull())
        .join(first_ship, orders.o_orderkey == first_ship.l_orderkey)
        .select(
            "o_orderpriority",
            (_weekdays_before_spark(d_ship) - _weekdays_before_spark(d_ord)).alias(
                "biz_days"
            ),
        )
    )
    return lat.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.min("biz_days").cast("bigint").alias("min_biz_days"),
        F.max("biz_days").cast("bigint").alias("max_biz_days"),
        F.round(
            F.sum("biz_days").cast("bigint") / F.count(F.lit(1)).cast("double"), 4
        ).alias("avg_biz_days"),
        F.sum(F.when(F.col("biz_days") <= 5, 1).otherwise(0))
        .cast("bigint")
        .alias("within_5"),
        F.sum(F.when(F.col("biz_days") > 20, 1).otherwise(0))
        .cast("bigint")
        .alias("over_20"),
    )


@register(
    "inventory_fifo_cogs",
    oracle="""
    WITH supply AS (
      SELECT l_partkey, l_orderkey, l_linenumber,
             CAST(l_quantity AS BIGINT) AS qty, l_extendedprice,
             sum(CAST(l_quantity AS BIGINT)) OVER (
               PARTITION BY l_partkey
               ORDER BY l_shipdate, l_orderkey, l_linenumber
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hi
      FROM lineitem
      WHERE l_returnflag <> 'R'
        AND l_shipdate IS NOT NULL AND l_quantity IS NOT NULL
    ), demand AS (
      SELECT l_partkey, l_orderkey, l_linenumber,
             CAST(l_quantity AS BIGINT) AS qty,
             sum(CAST(l_quantity AS BIGINT)) OVER (
               PARTITION BY l_partkey
               ORDER BY l_shipdate, l_orderkey, l_linenumber
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hi
      FROM lineitem
      WHERE l_returnflag = 'R'
        AND l_shipdate IS NOT NULL AND l_quantity IS NOT NULL
    )
    SELECT s.l_partkey,
           s.l_orderkey AS supply_orderkey, s.l_linenumber AS supply_line,
           d.l_orderkey AS demand_orderkey, d.l_linenumber AS demand_line,
           CAST(least(s.hi, d.hi) - greatest(s.hi - s.qty, d.hi - d.qty)
                AS BIGINT) AS matched_qty,
           CAST(least(s.hi, d.hi) - greatest(s.hi - s.qty, d.hi - d.qty)
                AS DOUBLE)
             * s.l_extendedprice / CAST(s.qty AS DOUBLE) AS cogs
    FROM supply s JOIN demand d
      ON s.l_partkey = d.l_partkey
     AND s.hi - s.qty < d.hi AND d.hi - d.qty < s.hi
    """,
)
def inventory_fifo_cogs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIFO lot matching: consume supply lots (non-returned line items,
    oldest shipment first) against returns in arrival order, emitting
    per-(lot, demand) matched quantity and its cost-of-goods at the
    lot's unit price — the allocation every inventory/cost ledger runs.

    The sequential queue walk becomes set algebra via cumulative
    intervals: lot i covers [hi-qty, hi) on the part's cumulative supply
    axis, demand j covers the same on the demand axis, and FIFO matches
    exactly the overlapping pairs with matched = min(hi_s, hi_d) -
    max(lo_s, lo_d). Two window passes (one per side, each a single
    partkey shuffle) and one partkey equi-join with a residual range
    predicate; each demand overlaps a contiguous lot run, so output and
    join work are O(lots + demands) per part. Quantities are exact
    BIGINTs; the only floating math is matched x unit-price, one
    multiply + divide per output row, identical in both engines."""
    lineitem = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").isNotNull() & F.col("l_quantity").isNotNull()
    )
    w = (
        Window.partitionBy("l_partkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    qty = F.col("l_quantity").cast("bigint")

    def side(df):
        return df.select(
            "l_partkey",
            "l_orderkey",
            "l_linenumber",
            qty.alias("qty"),
            "l_extendedprice",
            F.sum(qty).over(w).alias("hi"),
        )

    supply = side(lineitem.filter(F.col("l_returnflag") != "R")).alias("s")
    demand = side(lineitem.filter(F.col("l_returnflag") == "R")).alias("d")

    def s(c):
        return F.col(f"s.{c}")

    def d(c):
        return F.col(f"d.{c}")

    matched = F.least(s("hi"), d("hi")) - F.greatest(
        s("hi") - s("qty"), d("hi") - d("qty")
    )
    return (
        supply.join(
            demand,
            (s("l_partkey") == d("l_partkey"))
            & (s("hi") - s("qty") < d("hi"))
            & (d("hi") - d("qty") < s("hi")),
        )
        .select(
            s("l_partkey").alias("l_partkey"),
            s("l_orderkey").alias("supply_orderkey"),
            s("l_linenumber").alias("supply_line"),
            d("l_orderkey").alias("demand_orderkey"),
            d("l_linenumber").alias("demand_line"),
            matched.alias("matched_qty"),
            (
                matched.cast("double") * s("l_extendedprice") / s("qty").cast("double")
            ).alias("cogs"),
        )
    )


@register(
    "orders_bullwhip_ratio",
    oracle="""
    WITH om AS (
      SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS m,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
               // 100000 AS x
      FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
    ), sm AS (
      SELECT date_trunc('month', CAST(l_shipdate AS DATE)) AS m,
             CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
               // 100000 AS x
      FROM lineitem WHERE l_shipdate IS NOT NULL GROUP BY 1
    ), mo AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS s1, CAST(sum(x * x) AS BIGINT) AS s2
      FROM om
    ), ms AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS s1, CAST(sum(x * x) AS BIGINT) AS s2
      FROM sm
    )
    SELECT mo.n AS n_order_months, ms.n AS n_ship_months,
           CASE WHEN mo.n > 0 THEN
             (CAST(mo.n AS DOUBLE) * mo.s2 - CAST(mo.s1 AS DOUBLE) * mo.s1)
               / (CAST(mo.n AS DOUBLE) * mo.n) END AS var_orders,
           CASE WHEN ms.n > 0 THEN
             (CAST(ms.n AS DOUBLE) * ms.s2 - CAST(ms.s1 AS DOUBLE) * ms.s1)
               / (CAST(ms.n AS DOUBLE) * ms.n) END AS var_shipments,
           CASE WHEN ms.n > 0 AND mo.n > 0
                 AND (CAST(ms.n AS DOUBLE) * ms.s2 - CAST(ms.s1 AS DOUBLE) * ms.s1)
                     / (CAST(ms.n AS DOUBLE) * ms.n) > 0
                THEN ((CAST(mo.n AS DOUBLE) * mo.s2 - CAST(mo.s1 AS DOUBLE) * mo.s1)
                        / (CAST(mo.n AS DOUBLE) * mo.n))
                     / ((CAST(ms.n AS DOUBLE) * ms.s2 - CAST(ms.s1 AS DOUBLE) * ms.s1)
                        / (CAST(ms.n AS DOUBLE) * ms.n))
                END AS bullwhip
    FROM mo, ms
    """,
)
def orders_bullwhip_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bullwhip-effect ratio: variance of monthly ORDER value over
    variance of monthly SHIPPED value — the supply-chain amplification
    diagnostic (ratio > 1 means demand signals amplify upstream).
    Monthly series are exact integer thousand-dollar units (cents sum
    then integer DIV 100000 — a unit choice, documented, that keeps
    x^2 moments far inside int64 at any SF); population variances are
    fixed IEEE chains on exact moments, NULL-guarded for empty/zero-
    variance sides. Shape: two month-grain aggregates, two 1-row moment
    rollups, one scalar join."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")

    def monthly(df, datecol, amtcol):
        return (
            df.filter(F.col(datecol).isNotNull())
            .groupBy(F.date_trunc("month", F.to_date(datecol)).alias("m"))
            .agg(
                F.expr(
                    f"CAST(sum(CAST(floor({amtcol} * 100 + 0.5) AS BIGINT)) AS BIGINT)"
                    " DIV 100000"
                ).alias("x")
            )
        )

    def moments(df):
        return df.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("x").cast("long").alias("s1"),
            F.sum(F.col("x") * F.col("x")).cast("long").alias("s2"),
        )

    mo = moments(monthly(orders, "o_orderdate", "o_totalprice")).select(
        F.col("n").alias("no"), F.col("s1").alias("so1"), F.col("s2").alias("so2")
    )
    ms = moments(monthly(li, "l_shipdate", "l_extendedprice")).select(
        F.col("n").alias("ns"), F.col("s1").alias("ss1"), F.col("s2").alias("ss2")
    )
    j = mo.crossJoin(F.broadcast(ms))
    var_o = (
        F.col("no").cast("double") * F.col("so2")
        - F.col("so1").cast("double") * F.col("so1")
    ) / (F.col("no").cast("double") * F.col("no"))
    var_s = (
        F.col("ns").cast("double") * F.col("ss2")
        - F.col("ss1").cast("double") * F.col("ss1")
    ) / (F.col("ns").cast("double") * F.col("ns"))
    return j.select(
        F.col("no").alias("n_order_months"),
        F.col("ns").alias("n_ship_months"),
        F.when(F.col("no") > 0, var_o).alias("var_orders"),
        F.when(F.col("ns") > 0, var_s).alias("var_shipments"),
        F.when((F.col("ns") > 0) & (F.col("no") > 0) & (var_s > 0), var_o / var_s).alias(
            "bullwhip"
        ),
    )


@register(
    "revenue_pvm_waterfall",
    oracle="""
    WITH b AS (
      SELECT p.p_type AS seg, year(l.l_shipdate) AS y,
             CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5) AS BIGINT)
               AS cents,
             CAST(floor(l.l_quantity) AS BIGINT) AS q
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      WHERE year(l.l_shipdate) IN (1996, 1997)
        AND l.l_extendedprice IS NOT NULL AND l.l_discount IS NOT NULL
        AND l.l_quantity IS NOT NULL
    ),
    s AS (
      SELECT seg,
             CAST(sum(CASE WHEN y = 1996 THEN cents ELSE 0 END) AS BIGINT) AS rev1,
             CAST(sum(CASE WHEN y = 1996 THEN q ELSE 0 END) AS BIGINT) AS q1,
             CAST(sum(CASE WHEN y = 1997 THEN cents ELSE 0 END) AS BIGINT) AS rev2,
             CAST(sum(CASE WHEN y = 1997 THEN q ELSE 0 END) AS BIGINT) AS q2
      FROM b GROUP BY seg
    ),
    t AS (
      SELECT CAST(sum(q1) AS BIGINT) AS tq1, CAST(sum(q2) AS BIGINT) AS tq2
      FROM s
    )
    SELECT seg,
           round(rev1 / 1e2, 2) AS rev_base,
           round(rev2 / 1e2, 2) AS rev_curr,
           round((CAST(rev2 AS DOUBLE) / nullif(q2, 0)
                  - CAST(rev1 AS DOUBLE) / nullif(q1, 0)) * q2 / 1e2, 2)
             AS price_eff,
           round(CAST(rev1 AS DOUBLE) / nullif(q1, 0) * q1
                 * (CAST(tq2 AS DOUBLE) / nullif(tq1, 0) - 1) / 1e2, 2)
             AS volume_eff,
           round(CAST(rev1 AS DOUBLE) / nullif(q1, 0)
                 * (q2 - q1 * CAST(tq2 AS DOUBLE) / nullif(tq1, 0)) / 1e2, 2)
             AS mix_eff
    FROM s, t
    """,
)
def revenue_pvm_waterfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-volume-mix waterfall: decompose each product segment's
    revenue change between 1996 and 1997 into price effect
    ((p2−p1)·q2), total-volume effect (p1·q1·(Q2/Q1 − 1)) and mix effect
    (p1·(q2 − q1·Q2/Q1)) — the FP&A bridge chart's exact algebra; the
    three effects sum to rev2 − rev1 per segment by construction.

    Shape: one broadcast dimension join (part is the small side), then a
    SINGLE year-pivoted hash aggregate per segment (conditional sums —
    no second scan, no self-join between the years) and a 6-row totals
    reduction. All sums are exact integer cents/units, so the derived
    prices and effects are deterministic doubles; every division guards
    a segment absent from a year (try_divide / nullif → NULL effects,
    the honest answer when there is no base price)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    b = (
        li.filter(
            F.year("l_shipdate").isin(1996, 1997)
            & F.col("l_extendedprice").isNotNull()
            & F.col("l_discount").isNotNull()
            & F.col("l_quantity").isNotNull()
        )
        .join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .select(
            F.col("p_type").alias("seg"),
            F.year("l_shipdate").alias("y"),
            F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + 0.5)
            .cast("long")
            .alias("cents"),
            F.floor("l_quantity").cast("long").alias("q"),
        )
    )
    s = b.groupBy("seg").agg(
        F.sum(F.when(F.col("y") == 1996, F.col("cents")).otherwise(0))
        .cast("long")
        .alias("rev1"),
        F.sum(F.when(F.col("y") == 1996, F.col("q")).otherwise(0))
        .cast("long")
        .alias("q1"),
        F.sum(F.when(F.col("y") == 1997, F.col("cents")).otherwise(0))
        .cast("long")
        .alias("rev2"),
        F.sum(F.when(F.col("y") == 1997, F.col("q")).otherwise(0))
        .cast("long")
        .alias("q2"),
    )
    t = s.agg(
        F.sum("q1").cast("long").alias("tq1"), F.sum("q2").cast("long").alias("tq2")
    )
    p1 = F.try_divide(F.col("rev1").cast("double"), F.col("q1"))
    p2 = F.try_divide(F.col("rev2").cast("double"), F.col("q2"))
    g = F.try_divide(F.col("tq2").cast("double"), F.col("tq1"))
    return s.crossJoin(F.broadcast(t)).select(
        "seg",
        F.round(F.col("rev1") / F.lit(1e2), 2).alias("rev_base"),
        F.round(F.col("rev2") / F.lit(1e2), 2).alias("rev_curr"),
        F.round((p2 - p1) * F.col("q2") / F.lit(1e2), 2).alias("price_eff"),
        F.round(p1 * F.col("q1") * (g - 1) / F.lit(1e2), 2).alias("volume_eff"),
        F.round(p1 * (F.col("q2") - F.col("q1") * g) / F.lit(1e2), 2).alias("mix_eff"),
    )


# ---------------------------------------------------------------------------
# Round-9 finance pack: multi-currency as-of conversion, rolling Sharpe,
# and a double-entry trial balance. All three follow the exact-integer
# discipline (cents / micro-rate BIGINTs, one double division at the end)
# so the cross-engine value hash is summation-order-proof.

_FX_DAY_LO = 9131  # 1995-01-01, the corpus' first order day (all SFs)
_FX_DAY_HI = 11535  # 2001-08-01, the last


@register(
    "fx_asof_revenue",
    oracle=f"""
    WITH curs AS (
      SELECT DISTINCT 'CUR' || CAST(n_nationkey % 7 AS VARCHAR) AS cur
      FROM nation
    ), days AS (
      SELECT unnest(generate_series({_FX_DAY_LO}, {_FX_DAY_HI})) AS d
    ), rates AS (
      SELECT cur, d,
             900000 + CAST(('0x' || substring(
               md5(cur || ':' || CAST(d AS VARCHAR) || ':fx'), 9, 8)
             ) AS BIGINT) % 200001 AS rate_micro
      FROM curs CROSS JOIN days
      WHERE CAST(('0x' || substring(
              md5(cur || ':' || CAST(d AS VARCHAR) || ':fx'), 1, 8)
            ) AS BIGINT) % 3 = 0
    ), fact AS (
      SELECT 'CUR' || CAST(n.n_nationkey % 7 AS VARCHAR) AS cur,
             datediff('day', DATE '1970-01-01', CAST(o.o_orderdate AS DATE))
               AS order_day,
             CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      WHERE o.o_orderdate IS NOT NULL
    ), conv AS (
      SELECT f.cur, f.cents, r.rate_micro
      FROM fact f
      ASOF LEFT JOIN rates r ON f.cur = r.cur AND f.order_day >= r.d
    )
    SELECT cur,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(count(*) FILTER (WHERE rate_micro IS NULL) AS BIGINT)
             AS n_unrated,
           CAST(sum(cents) AS BIGINT) AS revenue_cents,
           CAST(sum(CASE WHEN rate_micro IS NOT NULL
                         THEN (cents * rate_micro) // 1000000 END) AS BIGINT)
             AS converted_cents
    FROM conv GROUP BY cur
    """,
)
def fx_asof_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-currency revenue conversion through an AS-OF rate lookup —
    the shape every revenue warehouse runs daily: each order converts at
    the latest FX rate on or before its order date.

    The rate table is synthesized deterministically (7 currencies keyed
    off nation, a rate on ~1/3 of days, value 0.90..1.10 in integer
    micro-units from an md5 draw — the engine-portable hash idiom from
    resampling). The SCALE play is the plan shape: rather than as-of
    joining the 100 TB fact side (one shuffle + sort of every order on a
    7-value currency key — maximal skew), the SMALL rate dimension is
    forward-filled onto the full day spine with one tiny window pass and
    the fact table then equi-joins (cur, day) against a broadcast —
    zero fact-side shuffle beyond the customer join. The DuckDB twin
    uses its native ASOF LEFT JOIN, pinning the same latest-rate-wins
    semantic through an independent implementation. Conversion is exact
    integer arithmetic (cents x micro-rate DIV 1e6)."""
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")

    curs = nation.select(
        F.concat(F.lit("CUR"), (F.col("n_nationkey") % 7).cast("string")).alias("cur")
    ).distinct()
    days = spark.range(_FX_DAY_LO, _FX_DAY_HI + 1).select(F.col("id").alias("d"))
    key = F.concat(F.col("cur"), F.lit(":"), F.col("d").cast("string"), F.lit(":fx"))
    grid = curs.crossJoin(days).select(
        "cur",
        "d",
        F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long").alias("d1"),
        F.conv(F.substring(F.md5(key), 9, 8), 16, 10).cast("long").alias("d2"),
    )
    rates = grid.select(
        "cur",
        "d",
        F.when(F.col("d1") % 3 == 0, 900000 + F.col("d2") % 200001).alias(
            "rate_micro"
        ),
    )
    # Forward-fill the sparse rates over the tiny (7 x ~2.4k) spine: one
    # window pass on a dimension-sized table, then the fact side never
    # sorts.
    wfill = (
        Window.partitionBy("cur")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = rates.select(
        "cur",
        F.col("d").alias("order_day"),
        F.last("rate_micro", ignorenulls=True).over(wfill).alias("rate_micro"),
    )

    fact = (
        orders.filter(F.col("o_orderdate").isNotNull())
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(
            F.broadcast(
                nation.select(
                    "n_nationkey",
                    F.concat(
                        F.lit("CUR"), (F.col("n_nationkey") % 7).cast("string")
                    ).alias("cur"),
                )
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(
            "cur",
            # clamp to the spine's last day: the latest rate <= any
            # LATER order day is the fill at _FX_DAY_HI, which is what
            # the oracle's unbounded ASOF join returns — without the
            # clamp a post-spine order silently reads as unrated
            # (review finding). Days BEFORE the spine stay unclamped:
            # no rate exists at or before them in either engine.
            F.least(
                F.datediff(
                    F.col("o_orderdate").cast("date"),
                    F.lit("1970-01-01").cast("date"),
                ).cast("long"),
                F.lit(_FX_DAY_HI).cast("long"),
            ).alias("order_day"),
            F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("cents"),
        )
    )
    conv = fact.join(F.broadcast(filled), ["cur", "order_day"], "left")
    return conv.groupBy("cur").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.count(F.when(F.col("rate_micro").isNull(), 1)).cast("long").alias(
            "n_unrated"
        ),
        F.sum("cents").cast("long").alias("revenue_cents"),
        F.sum(
            F.when(
                F.col("rate_micro").isNotNull(),
                F.expr("cents * rate_micro DIV 1000000"),
            )
        )
        .cast("long")
        .alias("converted_cents"),
    )


_SHARPE_WIN = 28


@register(
    "finance_sharpe_rolling",
    oracle=f"""
    WITH daily AS (
      SELECT r.r_name,
             datediff('day', DATE '1970-01-01', CAST(o.o_orderdate AS DATE))
               AS day,
             CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      WHERE o.o_orderdate IS NOT NULL
      GROUP BY 1, 2
    ), diffed AS (
      SELECT r_name, day,
             cents - lag(cents) OVER (PARTITION BY r_name ORDER BY day) AS d
      FROM daily
    ), rolled AS (
      SELECT r_name, day,
             CAST(count(d) OVER w AS BIGINT) AS n,
             CAST(sum(d) OVER w AS BIGINT) AS sd,
             sum(CAST(d AS HUGEINT) * d) OVER w AS sdd
      FROM diffed
      WINDOW w AS (PARTITION BY r_name ORDER BY day
                   ROWS BETWEEN {_SHARPE_WIN - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT r_name, day,
           sd / {_SHARPE_WIN} / 100.0 AS mean_diff,
           (sd / {_SHARPE_WIN}) / nullif(sqrt(
             CAST({_SHARPE_WIN} * CAST(sdd AS HUGEINT)
                  - CAST(sd AS HUGEINT) * CAST(sd AS HUGEINT) AS DOUBLE)
             / ({_SHARPE_WIN} * {_SHARPE_WIN - 1})
           ), 0.0) AS sharpe
    FROM rolled WHERE n = {_SHARPE_WIN}
    """,
)
def finance_sharpe_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 28-observation Sharpe ratio of daily revenue CHANGES per
    region — the mean-over-volatility stability score finance and SRE
    dashboards both run on any daily KPI.

    Exact-integer discipline end to end: daily revenue in cents, first
    differences in cents, and the rolling window keeps only integer
    sufficient statistics (n, sum d, sum d^2), with BOTH the d*d terms
    and the variance numerator n*sdd - sd^2 carried in
    DECIMAL(38,0)/HUGEINT (each can pass 2^63 at large SF) so both
    engines divide IDENTICAL integers —
    the output doubles match bit-for-bit unrounded, per the no-rounding
    rule for exact-integer-derived values. Plan: one hash aggregate to
    (region, day) — data-sized — then lag + rolling windows over the
    ~2.4k-day dimension table, so the sorts never touch raw orders."""
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    daily = (
        orders.filter(F.col("o_orderdate").isNotNull())
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(
            "r_name",
            F.datediff(
                F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
            )
            .cast("long")
            .alias("day"),
        )
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    wlag = Window.partitionBy("r_name").orderBy("day")
    diffed = daily.select(
        "r_name", "day", (F.col("cents") - F.lag("cents").over(wlag)).alias("d")
    )
    w = wlag.rowsBetween(-(_SHARPE_WIN - 1), 0)
    rolled = diffed.select(
        "r_name",
        "day",
        F.count("d").over(w).cast("long").alias("n"),
        F.sum("d").over(w).cast("long").alias("sd"),
        # d*d accumulates through DECIMAL(38,0)/HUGEINT, mirroring the
        # sd^2 handling below: cent-scaled daily diffs push d*d terms
        # toward 2^63 at large SF, where BIGINT would wrap silently in
        # Spark while the oracle's HUGEINT keeps going (ADVICE r9).
        F.sum(F.col("d").cast("decimal(38,0)") * F.col("d")).over(w).alias("sdd"),
    ).filter(F.col("n") == _SHARPE_WIN)
    sd_dec = F.col("sd").cast("decimal(38,0)")
    var_num = (
        F.lit(_SHARPE_WIN).cast("decimal(38,0)") * F.col("sdd").cast("decimal(38,0)")
        - sd_dec * sd_dec
    ).cast("double")
    std = F.sqrt(var_num / F.lit(_SHARPE_WIN * (_SHARPE_WIN - 1)))
    mean = F.col("sd") / F.lit(_SHARPE_WIN)
    return rolled.select(
        "r_name",
        "day",
        (mean / F.lit(100.0)).alias("mean_diff"),
        F.try_divide(mean, F.nullif(std, F.lit(0.0))).alias("sharpe"),
    )


@register(
    "ledger_trial_balance",
    oracle="""
    WITH first_ship AS (
      SELECT l_orderkey, min(l_shipdate) AS ship_ts
      FROM lineitem WHERE l_shipdate IS NOT NULL GROUP BY l_orderkey
    ), postings AS (
      SELECT epoch_ms(CAST(date_trunc('month', o_orderdate) AS TIMESTAMP))
               AS month_ms,
             'accounts_receivable' AS account,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS debit,
             CAST(0 AS BIGINT) AS credit
      FROM orders WHERE o_orderdate IS NOT NULL
      UNION ALL
      SELECT epoch_ms(CAST(date_trunc('month', o_orderdate) AS TIMESTAMP)),
             'revenue', 0, CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
      FROM orders WHERE o_orderdate IS NOT NULL
      UNION ALL
      SELECT epoch_ms(CAST(date_trunc('month', s.ship_ts) AS TIMESTAMP)),
             'cash', CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT), 0
      FROM orders o JOIN first_ship s ON s.l_orderkey = o.o_orderkey
      UNION ALL
      SELECT epoch_ms(CAST(date_trunc('month', s.ship_ts) AS TIMESTAMP)),
             'accounts_receivable', 0,
             CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)
      FROM orders o JOIN first_ship s ON s.l_orderkey = o.o_orderkey
    ), tb AS (
      SELECT month_ms, account,
             CAST(sum(debit) AS BIGINT) AS debit_cents,
             CAST(sum(credit) AS BIGINT) AS credit_cents
      FROM postings GROUP BY month_ms, account
    )
    SELECT month_ms, account, debit_cents, credit_cents,
           CAST(sum(debit_cents - credit_cents) OVER (
             PARTITION BY account ORDER BY month_ms
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS balance_cents
    FROM tb
    """,
)
def ledger_trial_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Double-entry trial balance derived from the order lifecycle: each
    order books AR-debit/revenue-credit at order month, and (once it
    first ships) cash-debit/AR-credit at ship month. Output is the
    monthly trial balance per account plus the running balance — and
    because every generated posting pair balances, each month's total
    debits equal credits, an invariant the value hash pins for free.

    Plan shape: orders is scanned once per posting LEG via a two-element
    posting explode (Catalyst unions share the scan), the ship legs add
    ONE min-aggregate + equi-join on orderkey, and everything reduces
    immediately to the (month x account) grid — a few hundred rows no
    matter the fact size, so the running-balance window sorts a
    dimension, not the data."""
    # the order-date filter applies ONLY to the order-month legs; the
    # ship legs are dated by ship_ts, so an order with a NULL order date
    # but shipped lineitems still books its cash/AR-credit pair (the
    # oracle has no date filter on the ship legs either — review finding)
    orders_all = load_table(spark, sf_dir, "orders")
    orders = orders_all.filter(F.col("o_orderdate").isNotNull())
    lineitem = load_table(spark, sf_dir, "lineitem")
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
    order_month = F.unix_millis(
        F.date_trunc("month", "o_orderdate").cast("timestamp")
    ).alias("month_ms")

    def legs(debit_acct: str, credit_acct: str) -> F.Column:
        return F.array(
            F.struct(
                F.lit(debit_acct).alias("account"),
                cents.alias("debit"),
                F.lit(0).cast("long").alias("credit"),
            ),
            F.struct(
                F.lit(credit_acct).alias("account"),
                F.lit(0).cast("long").alias("debit"),
                cents.alias("credit"),
            ),
        )

    order_post = orders.select(
        order_month,
        F.explode(legs("accounts_receivable", "revenue")).alias("p"),
    )
    first_ship = (
        lineitem.filter(F.col("l_shipdate").isNotNull())
        .groupBy("l_orderkey")
        .agg(F.min("l_shipdate").alias("ship_ts"))
    )
    ship_post = (
        orders_all.join(first_ship, orders_all.o_orderkey == first_ship.l_orderkey)
        .select(
            F.unix_millis(F.date_trunc("month", "ship_ts").cast("timestamp")).alias(
                "month_ms"
            ),
            F.explode(legs("cash", "accounts_receivable")).alias("p"),
        )
    )
    tb = (
        order_post.unionByName(ship_post)
        .select("month_ms", "p.account", "p.debit", "p.credit")
        .groupBy("month_ms", "account")
        .agg(
            F.sum("debit").cast("long").alias("debit_cents"),
            F.sum("credit").cast("long").alias("credit_cents"),
        )
    )
    wbal = (
        Window.partitionBy("account")
        .orderBy("month_ms")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return tb.select(
        "month_ms",
        "account",
        "debit_cents",
        "credit_cents",
        F.sum(F.col("debit_cents") - F.col("credit_cents"))
        .over(wbal)
        .cast("long")
        .alias("balance_cents"),
    )


@register(
    "supplier_otif",
    oracle="""
    WITH lines AS (
      SELECT l.l_suppkey,
             CASE WHEN l.l_shipdate IS NOT NULL
                  AND datediff('day', o.o_orderdate, l.l_shipdate) <= 7
                  THEN 1 ELSE 0 END AS on_time
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderdate IS NOT NULL
    )
    SELECT l_suppkey,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(on_time) AS BIGINT) AS n_on_time,
           sum(on_time) / CAST(count(*) AS DOUBLE) AS otif_rate
    FROM lines GROUP BY l_suppkey
    HAVING count(*) >= 5
    """,
)
def supplier_otif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier OTIF (on-time-in-full) rate: the fraction of a
    supplier's lines shipped within 7 days of the order date — the
    supply-chain scorecard KPI purchasing teams rank vendors by, with a
    minimum-volume floor (>= 5 lines) so one-line suppliers don't top
    the table at 100%. A never-shipped line counts against the rate (it
    is not in-full), which the CASE handles without dropping the row.

    One equi-join shuffled on orderkey, one hash aggregate on suppkey —
    both map-side combined; the rate is one division of exact integers,
    emitted unrounded."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull()
    )
    li = load_table(spark, sf_dir, "lineitem")
    on_time = (
        F.when(
            F.col("l_shipdate").isNotNull()
            & (
                F.datediff(
                    F.col("l_shipdate").cast("date"),
                    F.col("o_orderdate").cast("date"),
                )
                <= 7
            ),
            1,
        )
        .otherwise(0)
    )
    lines = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "l_suppkey", on_time.alias("on_time")
    )
    return (
        lines.groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum("on_time").cast("long").alias("n_on_time"),
        )
        .filter(F.col("n_lines") >= 5)
        .select(
            "l_suppkey",
            "n_lines",
            "n_on_time",
            (F.col("n_on_time") / F.col("n_lines").cast("double")).alias(
                "otif_rate"
            ),
        )
    )


@register(
    "finance_var_historical",
    oracle=f"""
    WITH daily AS ({_DAILY_REV_SQL}
    ), diffed AS (
      SELECT r_name,
             cents - lag(cents) OVER (PARTITION BY r_name ORDER BY day) AS d
      FROM daily
    ), dd AS (
      SELECT r_name, d FROM diffed WHERE d IS NOT NULL
    ), var AS (
      SELECT r_name, CAST(quantile_disc(d, 0.05) AS BIGINT) AS var95_cents
      FROM dd GROUP BY r_name
    )
    SELECT dd.r_name,
           CAST(count(*) AS BIGINT) AS n_days,
           v.var95_cents,
           CAST(count(*) FILTER (dd.d <= v.var95_cents) AS BIGINT) AS n_tail,
           CAST(sum(dd.d) FILTER (dd.d <= v.var95_cents) AS DOUBLE)
             / count(*) FILTER (dd.d <= v.var95_cents) AS es95_cents
    FROM dd JOIN var v ON v.r_name = dd.r_name
    GROUP BY dd.r_name, v.var95_cents
    """,
)
def finance_var_historical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Historical value-at-risk and expected shortfall of daily revenue
    CHANGES per region: VaR95 = the empirical 5th-percentile change (a
    discrete order statistic — an actual observed day, exact integer
    cents via percentile_disc on both engines), ES95 = the mean change
    over the tail at or below it (the coherent-risk companion regulators
    actually require). The tail mean is one division of exact integers,
    emitted unrounded.

    Shape: one fact aggregate to (region, day), a lag window over the
    day dimension per region, one percentile_disc aggregate (5 rows,
    broadcast back), one tail reduction — raw orders touched once."""
    daily = daily_regional_revenue(spark, sf_dir)
    wlag = Window.partitionBy("r_name").orderBy("day")
    dd = materialize(  # two consumers: the VaR agg + the tail scan
        daily.select(
            "r_name", (F.col("cents") - F.lag("cents").over(wlag)).alias("d")
        )
        .filter(F.col("d").isNotNull())
    )
    var = dd.groupBy("r_name").agg(
        F.expr("percentile_disc(0.05) WITHIN GROUP (ORDER BY d)")
        .cast("long")
        .alias("var95_cents")
    )
    tail = F.col("d") <= F.col("var95_cents")
    return (
        dd.join(F.broadcast(var), "r_name")
        .groupBy("r_name", "var95_cents")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.count(F.when(tail, 1)).cast("long").alias("n_tail"),
            (
                F.sum(F.when(tail, F.col("d"))).cast("double")
                / F.count(F.when(tail, 1))
            ).alias("es95_cents"),
        )
        .select("r_name", "n_days", "var95_cents", "n_tail", "es95_cents")
    )


@register(
    "audit_order_total_reconciliation",
    oracle="""
    WITH lines AS (
      SELECT l_orderkey,
             CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount)
                                 * (1 + l_tax) * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS line_cents
      FROM lineitem
      WHERE l_extendedprice IS NOT NULL AND l_discount IS NOT NULL
        AND l_tax IS NOT NULL
      GROUP BY l_orderkey
    ), recon AS (
      SELECT CASE
               WHEN l.line_cents IS NULL THEN 'no_lines'
               WHEN abs(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)
                        - l.line_cents) = 0 THEN 'exact'
               WHEN abs(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)
                        - l.line_cents)
                    * 10000 <= CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)
                 THEN 'minor_drift'
               ELSE 'major_drift'
             END AS bucket,
             abs(coalesce(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)
                          - l.line_cents,
                          CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)))
               AS abs_gap_cents
      FROM orders o LEFT JOIN lines l ON l.l_orderkey = o.o_orderkey
      WHERE o.o_totalprice IS NOT NULL
    )
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(abs_gap_cents) AS BIGINT) AS total_gap_cents,
           CAST(max(abs_gap_cents) AS BIGINT) AS max_gap_cents
    FROM recon GROUP BY bucket
    """,
)
def audit_order_total_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-vs-lines reconciliation: recompute each order's total from
    its line items (extendedprice x (1-discount) x (1+tax), the TPC-H
    identity) and bucket the gap against the stored o_totalprice —
    exact / within 1 bp (minor) / beyond (major) / no lines at all. The
    cross-table consistency audit every warehouse runs before trusting
    EITHER table's revenue; on this synthetic fixture the drift census
    itself is the deliverable. Exact discipline: both sides take
    floor(product*100 + 0.5) of the same double (identical doubles ->
    identical cents), the 1-bp test is the integer cross-multiplication
    gap * 10000 <= total_cents, and all outputs are exact integers.

    Shape: one lineitem hash aggregate to order grain (map-side
    combined), one orderkey equi-join, one ~4-row bucket aggregate."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_extendedprice").isNotNull()
        & F.col("l_discount").isNotNull()
        & F.col("l_tax").isNotNull()
    )
    lines = li.groupBy("l_orderkey").agg(
        F.sum(
            F.floor(
                F.col("l_extendedprice")
                * (1 - F.col("l_discount"))
                * (1 + F.col("l_tax"))
                * 100
             + 0.5).cast("long")
        )
        .cast("long")
        .alias("line_cents")
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice").isNotNull()
    )
    total_cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
    gap = F.abs(total_cents - F.col("line_cents"))
    recon = orders.join(
        lines, orders.o_orderkey == lines.l_orderkey, "left"
    ).select(
        F.when(F.col("line_cents").isNull(), "no_lines")
        .when(gap == 0, "exact")
        .when(gap * 10000 <= total_cents, "minor_drift")
        .otherwise("major_drift")
        .alias("bucket"),
        F.abs(F.coalesce(total_cents - F.col("line_cents"), total_cents)).alias(
            "abs_gap_cents"
        ),
    )
    return recon.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("abs_gap_cents").cast("long").alias("total_gap_cents"),
        F.max("abs_gap_cents").cast("long").alias("max_gap_cents"),
    )


@register(
    "supplier_single_source_risk",
    oracle="""
    WITH ps AS (
      SELECT l_partkey,
             CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers,
             CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS spend_cents
      FROM lineitem
      WHERE l_partkey IS NOT NULL AND l_suppkey IS NOT NULL
        AND l_extendedprice IS NOT NULL
      GROUP BY l_partkey
    )
    SELECT CASE WHEN n_suppliers = 1 THEN 'single'
                WHEN n_suppliers = 2 THEN 'dual'
                ELSE 'multi' END AS sourcing,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(spend_cents) AS BIGINT) AS spend_cents,
           CAST(max(spend_cents) AS BIGINT) AS max_part_spend_cents
    FROM ps GROUP BY 1
    """,
)
def supplier_single_source_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sourcing-concentration census: how much spend rides on parts with
    a SINGLE supplier (the supply-chain risk register's first line —
    one factory fire away from a stockout), vs dual- and multi-sourced
    parts. Exact integer cents throughout.

    Shape: one part-grain aggregate with a distinct-supplier count
    (partial aggregation on (part, supplier) pairs under the hood),
    then a 3-row bucket rollup — the same two-level-aggregate plan the
    distinct-agg family pins."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_partkey").isNotNull()
        & F.col("l_suppkey").isNotNull()
        & F.col("l_extendedprice").isNotNull()
    )
    ps = li.groupBy("l_partkey").agg(
        F.countDistinct("l_suppkey").cast("long").alias("n_suppliers"),
        F.sum(F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long"))
        .cast("long")
        .alias("spend_cents"),
    )
    return (
        ps.select(
            F.when(F.col("n_suppliers") == 1, "single")
            .when(F.col("n_suppliers") == 2, "dual")
            .otherwise("multi")
            .alias("sourcing"),
            "spend_cents",
        )
        .groupBy("sourcing")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.sum("spend_cents").cast("long").alias("spend_cents"),
            F.max("spend_cents").cast("long").alias("max_part_spend_cents"),
        )
    )


@register(
    "supplier_eoq_reorder",
    oracle="""
    WITH demand AS (
      SELECT l_partkey,
             CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT)
               AS annual_qty,
             CAST(count(*) AS BIGINT) AS n_lines
      FROM lineitem
      WHERE l_partkey IS NOT NULL AND l_quantity IS NOT NULL
      GROUP BY l_partkey
      HAVING count(*) >= 5
    )
    SELECT l_partkey, annual_qty, n_lines,
           sqrt(2.0 * annual_qty * 50.0 / 2.5) AS eoq_units,
           CAST(ceil(sqrt(2.0 * annual_qty * 50.0 / 2.5)) AS BIGINT)
             AS eoq_order_size,
           CAST((annual_qty * 7 + 364) // 365 AS BIGINT) AS reorder_point
    FROM demand
    """,
)
def supplier_eoq_reorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Economic order quantity + reorder point per part: EOQ =
    sqrt(2 D S / H) with a fixed order cost S=50 and holding cost
    H=2.5/unit-year, reorder point = 7-day lead-time demand (ceil'd
    integer via the (x*7+364) DIV 365 idiom) — the planning quantities
    an inventory system derives from exactly this demand aggregate. D
    is the exact integer annual quantity; the EOQ double is one sqrt of
    an exact rational (identical on both engines), its order size the
    integer ceiling; a >=5-line floor drops parts with no demand
    signal.

    Shape: one part-grain hash aggregate with map-side partials; every
    derived column is per-row arithmetic on the aggregate."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_partkey").isNotNull() & F.col("l_quantity").isNotNull()
    )
    demand = (
        li.groupBy("l_partkey")
        .agg(
            # floor before the cast: DuckDB CAST(double AS BIGINT) ROUNDS
            # while Spark truncates — floor pins both (review finding)
            F.sum(F.floor(F.col("l_quantity")).cast("long"))
            .cast("long")
            .alias("annual_qty"),
            F.count(F.lit(1)).cast("long").alias("n_lines"),
        )
        .filter(F.col("n_lines") >= 5)
    )
    eoq = F.sqrt(2.0 * F.col("annual_qty") * 50.0 / 2.5)
    return demand.select(
        "l_partkey",
        "annual_qty",
        "n_lines",
        eoq.alias("eoq_units"),
        F.ceil(eoq).cast("long").alias("eoq_order_size"),
        F.expr("(annual_qty * 7 + 364) DIV 365").cast("long").alias("reorder_point"),
    )


@register(
    "inventory_abc_xyz_matrix",
    oracle="""
    WITH monthly AS (
      SELECT l_partkey,
             date_part('year', CAST(l_shipdate AS DATE)) * 12
               + date_part('month', CAST(l_shipdate AS DATE)) AS mo,
             CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS qty,
             CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents
      FROM lineitem
      WHERE l_shipdate IS NOT NULL AND l_quantity IS NOT NULL
        AND l_extendedprice IS NOT NULL
      GROUP BY 1, 2
    ), parts AS (
      SELECT l_partkey,
             CAST(count(*) AS BIGINT) AS m,
             CAST(sum(qty) AS BIGINT) AS s,
             sum(CAST(qty AS HUGEINT) * qty) AS ss,
             CAST(sum(cents) AS BIGINT) AS spend
      FROM monthly GROUP BY l_partkey
    ), ranked AS (
      SELECT l_partkey, m, s, ss, spend,
             sum(spend) OVER (ORDER BY spend DESC, l_partkey
                              ROWS UNBOUNDED PRECEDING) AS run,
             sum(spend) OVER () AS total
      FROM parts
    ), classed AS (
      SELECT CASE WHEN CAST(run AS HUGEINT) * 100 <= CAST(total AS HUGEINT) * 80
                  THEN 'A'
                  WHEN CAST(run AS HUGEINT) * 100 <= CAST(total AS HUGEINT) * 95
                  THEN 'B' ELSE 'C' END AS abc,
             CASE WHEN 4 * (CAST(m AS HUGEINT) * ss - CAST(s AS HUGEINT) * s)
                       <= CAST(s AS HUGEINT) * s THEN 'X'
                  WHEN CAST(m AS HUGEINT) * ss - CAST(s AS HUGEINT) * s
                       <= CAST(s AS HUGEINT) * s THEN 'Y'
                  ELSE 'Z' END AS xyz,
             spend
      FROM ranked
    )
    SELECT abc, xyz,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(spend) AS BIGINT) AS spend_cents
    FROM classed GROUP BY abc, xyz
    """,
)
def inventory_abc_xyz_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC-XYZ inventory segmentation matrix: parts classed by cumulative
    spend share (A <= 80%, B <= 95%, C — the Pareto axis stock policy
    keys on) crossed with demand-variability class from the coefficient
    of variation of MONTHLY demand (X: CV <= 0.5, Y: CV <= 1, Z —
    forecastability). Every decision is exact integer algebra: the ABC
    cut is run*100 <= total*k cross-multiplication; the CV cut clears
    denominators to 4(m*ss - s^2) <= s^2, squares carried in
    DECIMAL(38,0)/HUGEINT.

    Scale shape: the cumulative-spend rank runs on `global_prefix_sum`
    (operators/relational.py — range shuffle + per-partition cumsum +
    bounded offset broadcast), so no single-partition window ever sees
    the part table, whose cardinality is unbounded; the oracle's plain
    `OVER (ORDER BY ...)` window is the semantic twin. One lineitem
    aggregate to (part, month), one to part grain, then the distributed
    rank and a 9-cell rollup."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").isNotNull()
        & F.col("l_quantity").isNotNull()
        & F.col("l_extendedprice").isNotNull()
    )
    monthly = li.groupBy(
        "l_partkey",
        (
            F.year(F.col("l_shipdate").cast("date")) * 12
            + F.month(F.col("l_shipdate").cast("date"))
        ).alias("mo"),
    ).agg(
        F.sum(F.floor(F.col("l_quantity")).cast("long")).cast("long").alias("qty"),
        F.sum(F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long"))
        .cast("long")
        .alias("cents"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    # part-grain table has TWO consumers (the distributed rank and the
    # grand-total aggregate): unmaterialized, each re-ran the lineitem
    # scan + both aggregates (2 FileScans in the executed plan — r12)
    parts = materialize(monthly.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum("qty").cast("long").alias("s"),
        F.sum(dec(F.col("qty")) * F.col("qty")).alias("ss"),
        F.sum("cents").cast("long").alias("spend"),
    ))
    ranked = global_prefix_sum(
        parts,
        "spend",
        [F.col("spend").desc(), F.col("l_partkey")],
        out_col="run",
    )
    total = parts.agg(F.sum("spend").cast("long").alias("total"))
    j = ranked.crossJoin(F.broadcast(total))
    run100 = dec(F.col("run")) * 100
    var_num = dec(F.col("m")) * F.col("ss") - dec(F.col("s")) * F.col("s")
    s_sq = dec(F.col("s")) * F.col("s")
    classed = j.select(
        F.when(run100 <= dec(F.col("total")) * 80, "A")
        .when(run100 <= dec(F.col("total")) * 95, "B")
        .otherwise("C")
        .alias("abc"),
        F.when(4 * var_num <= s_sq, "X")
        .when(var_num <= s_sq, "Y")
        .otherwise("Z")
        .alias("xyz"),
        "spend",
    )
    return classed.groupBy("abc", "xyz").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.sum("spend").cast("long").alias("spend_cents"),
    )
