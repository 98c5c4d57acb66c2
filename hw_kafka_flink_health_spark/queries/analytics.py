"""Behavioral / warehouse analytics queries: funnel conversion, SCD2
interval builds, hypertable-style rollups from partials, per-group trend
regression, and blocked record linkage.

Extension surface (SURVEY.md §2.C): none of these exist in the reference
(`/root/reference/` has no joins/windows beyond the streaming vitals
window, SURVEY.md §2.B) — they are the driver-mandated large-pipeline
operators, expressed as pure Catalyst plans with the shuffle budget
called out per query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hw_kafka_flink_health_spark.operators.relational import distributed_ntile
from hw_kafka_flink_health_spark.queries._registry import register
from hw_kafka_flink_health_spark.sources.files import load_table, materialize


@register(
    "funnel_conversion",
    oracle="""
    WITH w1 AS (
      SELECT user_id, ts, event_type,
             min(CASE WHEN event_type = 'view' THEN ts END)
               OVER (PARTITION BY user_id) AS t_view
      FROM events
    ), w2 AS (
      SELECT *, min(CASE WHEN event_type = 'click' AND ts >= t_view THEN ts END)
               OVER (PARTITION BY user_id) AS t_click
      FROM w1
    ), w3 AS (
      SELECT *, min(CASE WHEN event_type = 'purchase' AND ts >= t_click THEN ts END)
               OVER (PARTITION BY user_id) AS t_purchase
      FROM w2
    )
    SELECT user_id,
           epoch_ms(min(t_view)) AS view_ms,
           epoch_ms(min(t_click)) AS click_ms,
           epoch_ms(min(t_purchase)) AS purchase_ms,
           CAST(floor((epoch_ms(min(t_click)) - epoch_ms(min(t_view))) / 1000.0)
                AS BIGINT) AS view_to_click_s,
           CAST(floor((epoch_ms(min(t_purchase)) - epoch_ms(min(t_click))) / 1000.0)
                AS BIGINT) AS click_to_purchase_s
    FROM w3 GROUP BY user_id
    """,
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-order funnel per user: first 'view', first 'click' at-or-after
    that view, first 'purchase' at-or-after that click (NULL = stage never
    reached). Three whole-partition window passes share ONE exchange on
    user_id, and the final per-user collapse reuses the same partitioning —
    no second shuffle, no self-joins. At 100 TB this stays a single
    hash-exchange of the events table; the alternative 3-way self-join
    would shuffle it three times."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    ts = F.col("ts")
    df = ev.withColumn(
        "t_view", F.min(F.when(F.col("event_type") == "view", ts)).over(w)
    )
    df = df.withColumn(
        "t_click",
        F.min(
            F.when((F.col("event_type") == "click") & (ts >= F.col("t_view")), ts)
        ).over(w),
    )
    df = df.withColumn(
        "t_purchase",
        F.min(
            F.when(
                (F.col("event_type") == "purchase") & (ts >= F.col("t_click")), ts
            )
        ).over(w),
    )
    ms = lambda c: F.unix_millis(F.min(c).cast("timestamp"))  # noqa: E731
    return df.groupBy("user_id").agg(
        ms("t_view").alias("view_ms"),
        ms("t_click").alias("click_ms"),
        ms("t_purchase").alias("purchase_ms"),
        F.floor((ms("t_click") - ms("t_view")) / 1000.0)
        .cast("bigint")
        .alias("view_to_click_s"),
        F.floor((ms("t_purchase") - ms("t_click")) / 1000.0)
        .cast("bigint")
        .alias("click_to_purchase_s"),
    )


@register(
    "scd2_user_state",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN row_number() OVER w = 1
                       OR lag(event_type) OVER w IS DISTINCT FROM event_type
                  THEN 1 ELSE 0 END AS changed
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), runs AS (
      SELECT user_id, event_type, ts, event_id FROM marked WHERE changed = 1
    )
    SELECT user_id, event_type AS state,
           epoch_ms(ts) AS valid_from_ms,
           epoch_ms(lead(ts) OVER w2) AS valid_to_ms,
           CAST(CASE WHEN lead(ts) OVER w2 IS NULL
                     THEN 1 ELSE 0 END AS BIGINT) AS is_current
    FROM runs
    WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 build from a change log: collapse
    each user's consecutive same-`event_type` runs into [valid_from,
    valid_to) intervals, open-ended on the current state. lag() marks run
    starts, lead() on the filtered run-starts closes the intervals — both
    windows and the filter ride one exchange+sort on user_id. This is how a
    point-in-time dimension table is rebuilt from CDC history at scale (the
    as-of join in operators/relational.py then serves lookups against it)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # A run starts at the partition's FIRST row unconditionally, then at
    # every null-safe state change. `lag(...).isNull()` is NOT a valid
    # first-row test — a NULL state value is indistinguishable from the
    # empty frame, which made every NULL-state row a run start (and the
    # IS DISTINCT FROM form alone misses a user whose first state is
    # NULL) — found by the all-NULL-group-key fuzz sweep.
    changed = (F.row_number().over(w) == 1) | ~F.lag("event_type").over(
        w
    ).eqNullSafe(F.col("event_type"))
    runs = ev.withColumn("changed", changed).filter("changed")
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lead_ts = F.lead("ts").over(w2)
    return runs.select(
        "user_id",
        F.col("event_type").alias("state"),
        F.unix_millis(F.col("ts").cast("timestamp")).alias("valid_from_ms"),
        F.unix_millis(lead_ts.cast("timestamp")).alias("valid_to_ms"),
        F.when(lead_ts.isNull(), 1).otherwise(0).cast("bigint").alias("is_current"),
    )


@register(
    "rollup_hour_day",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket_ts,
             count(*) AS n,
             sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS sum_micro
      FROM events GROUP BY 1, 2
    ), daily AS (
      SELECT event_type, date_trunc('day', bucket_ts) AS bucket_ts,
             sum(n) AS n, sum(sum_micro) AS sum_micro
      FROM hourly GROUP BY 1, 2
    )
    SELECT 'hour' AS grain, event_type, epoch_ms(bucket_ts) AS bucket_ms,
           CAST(n AS BIGINT) AS n, sum_micro / 1000000.0 AS sum_value
    FROM hourly
    UNION ALL
    SELECT 'day' AS grain, event_type, epoch_ms(bucket_ts) AS bucket_ms,
           CAST(n AS BIGINT) AS n, sum_micro / 1000000.0 AS sum_value
    FROM daily
    """,
)
def rollup_hour_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: hourly rollup from raw
    events, then the DAILY rollup computed from the HOURLY PARTIALS. The
    two union branches share an identical exchange subtree, which AQE
    reuses at runtime (ReusedExchange — plan-asserted in
    tests/test_plans.py), so the fact table is physically scanned and
    shuffled once and the day grain re-aggregates the already-tiny hourly
    table. This partial-reuse shape is what makes multi-granularity
    rollups viable at 100 TB (never re-scan raw data per grain). Sums are
    exact integer micro-units so both grains and both engines agree
    bit-for-bit."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bucket_ts")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("value") * 1000000.0 + 0.5).cast("bigint")).alias("sum_micro"),
    )
    daily = hourly.groupBy(
        "event_type", F.date_trunc("day", "bucket_ts").alias("bucket_ts")
    ).agg(F.sum("n").alias("n"), F.sum("sum_micro").alias("sum_micro"))

    def shape(df: DataFrame, grain: str) -> DataFrame:
        return df.select(
            F.lit(grain).alias("grain"),
            "event_type",
            F.unix_millis(F.col("bucket_ts").cast("timestamp")).alias("bucket_ms"),
            F.col("n").cast("bigint").alias("n"),
            (F.col("sum_micro") / 1000000.0).alias("sum_value"),
        )

    return shape(hourly, "hour").unionAll(shape(daily, "day"))


@register(
    "regr_user_trend",
    oracle="""
    WITH daily AS (
      SELECT user_id,
             CAST(epoch_ms(date_trunc('day', ts)) / 86400000 AS BIGINT) AS xi,
             CAST(floor(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT))
                        / count(*)) AS BIGINT) AS yi
      FROM events GROUP BY user_id, date_trunc('day', ts)
    ), s AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(xi) AS BIGINT) AS sx, CAST(sum(yi) AS BIGINT) AS sy,
             CAST(sum(xi * xi) AS BIGINT) AS sxx,
             CAST(sum(xi * yi) AS BIGINT) AS sxy
      FROM daily GROUP BY user_id
    )
    SELECT user_id, n_days,
           round((n_days * sxy - sx * sy)
                 / CAST(nullif(n_days * sxx - sx * sx, 0) AS DOUBLE)
                 / 1000000.0, 6) AS slope_per_day
    FROM s
    """,
)
def regr_user_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user linear trend of `value` over time, least squares in closed
    form over daily averages. Every sum is integer (micro-unit y, epoch-day
    x), so the slope is derived from IDENTICAL integers in both engines —
    no floating-summation-order jitter to round away. Two aggregations,
    both tiny after the first; the events table shuffles once on
    (user_id, day). At 100 TB the daily pre-aggregation is the point:
    the regression runs on n_users x n_days rows, not raw events."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("day_ts")
    ).agg(
        F.floor(
            F.sum(F.floor(F.col("value") * 1000000.0 + 0.5).cast("bigint"))
            / F.count(F.lit(1))
        )
        .cast("bigint")
        .alias("yi")
    ).select(
        "user_id",
        (F.unix_millis(F.col("day_ts").cast("timestamp")) / 86400000)
        .cast("bigint")
        .alias("xi"),
        "yi",
    )
    s = daily.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("xi").cast("bigint").alias("sx"),
        F.sum("yi").cast("bigint").alias("sy"),
        F.sum(F.col("xi") * F.col("xi")).cast("bigint").alias("sxx"),
        F.sum(F.col("xi") * F.col("yi")).cast("bigint").alias("sxy"),
    )
    num = F.col("n_days") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n_days") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = num / F.nullif(den, F.lit(0)).cast("double")
    return s.select(
        "user_id",
        "n_days",
        F.round(slope / 1000000.0, 6).alias("slope_per_day"),
    )


@register(
    "linkage_part_names",
    oracle="""
    WITH names AS (
      SELECT split_part(p_name, ' ', 2) AS block_key, p_name,
             CAST(count(*) AS BIGINT) AS cnt
      FROM part GROUP BY 1, 2
    )
    SELECT a.block_key, a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist,
           CAST(a.cnt * b.cnt AS BIGINT) AS n_pairs
    FROM names a JOIN names b
      ON a.block_key = b.block_key AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= 3
    """,
)
def linkage_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage / entity resolution over part names: block on the
    noun (second token), compare only within blocks, keep pairs with edit
    distance <= 3. The crucial scale move: DEDUPLICATE to distinct names
    first, so Levenshtein runs once per distinct pair and each match
    carries its pair multiplicity (cnt_a * cnt_b) instead of exploding row
    pairs — at 100 TB the name dictionary is millions while rows are
    trillions. Blocking turns the quadratic all-pairs comparison into
    per-block quadratics on small distinct-name sets."""
    part = load_table(spark, sf_dir, "part")
    names = part.groupBy(
        F.split(F.col("p_name"), " ").getItem(1).alias("block_key"), "p_name"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    a = names.alias("a")
    b = names.alias("b")
    dist = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
    return (
        a.join(
            b,
            (F.col("a.block_key") == F.col("b.block_key"))
            & (F.col("a.p_name") < F.col("b.p_name")),
        )
        .filter(dist <= 3)
        .select(
            F.col("a.block_key").alias("block_key"),
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            dist.cast("bigint").alias("dist"),
            (F.col("a.cnt") * F.col("b.cnt")).cast("bigint").alias("n_pairs"),
        )
    )


@register(
    "autocorr_user_lag1",
    oracle="""
    WITH daily AS (
      SELECT user_id,
             CAST(epoch_ms(date_trunc('day', ts)) / 86400000 AS BIGINT) AS xi,
             CAST(floor(sum(CAST(floor(value * 1000.0 + 0.5) AS BIGINT)) / count(*))
                  AS BIGINT) AS yi
      FROM events GROUP BY user_id, date_trunc('day', ts)
    ), pairs AS (
      SELECT user_id,
             lag(yi) OVER (PARTITION BY user_id ORDER BY xi) AS a,
             yi AS b
      FROM daily
    ), p AS (SELECT * FROM pairs WHERE a IS NOT NULL),
    s AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(a) AS BIGINT) AS sa, CAST(sum(b) AS BIGINT) AS sb,
             CAST(sum(a * a) AS BIGINT) AS saa,
             CAST(sum(b * b) AS BIGINT) AS sbb,
             CAST(sum(a * b) AS BIGINT) AS sab
      FROM p GROUP BY user_id
    )
    SELECT user_id, n_pairs,
           round((n_pairs * sab - sa * sb) /
                 nullif(sqrt(CAST(n_pairs * saa - sa * sa AS DOUBLE) *
                             CAST(n_pairs * sbb - sb * sb AS DOUBLE)), 0),
                 6) AS autocorr_lag1
    FROM s
    """,
)
def autocorr_user_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user lag-1 autocorrelation of the daily average value — the
    "is yesterday predictive of today" screen run per entity before
    fitting anything heavier (pairs with `regr_user_trend`'s slope).

    Same exact-integer discipline as the regression: daily averages are
    nearest-integer MILLI-units (floor(x*1000 + 0.5)) (not micro — the sum of squares of a micro-unit
    daily level would overflow BIGINT at ~30 days x (1e9)^2), consecutive
    days pair via a lag window ordered by epoch-day, and Pearson r over
    the (prev, curr) pairs is assembled from six integer sums that both
    engines compute bit-for-bit; only the final quotient is floating,
    rounded to 6 places. Scale shape: one (user_id, day) shuffle over raw
    events, then the lag window and the closed-form sums run on the tiny
    n_users x n_days daily relation (second exchange is negligible); a
    constant series has zero variance -> NULL autocorr via nullif, in
    both engines."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy("user_id", F.date_trunc("day", "ts").alias("day_ts"))
        .agg(
            F.floor(
                F.sum(F.floor(F.col("value") * 1000.0 + 0.5).cast("bigint"))
                / F.count(F.lit(1))
            )
            .cast("bigint")
            .alias("yi")
        )
        .select(
            "user_id",
            (F.unix_millis(F.col("day_ts").cast("timestamp")) / 86400000)
            .cast("bigint")
            .alias("xi"),
            "yi",
        )
    )
    w = Window.partitionBy("user_id").orderBy("xi")
    pairs = daily.select(
        "user_id",
        F.lag("yi").over(w).alias("a"),
        F.col("yi").alias("b"),
    ).filter(F.col("a").isNotNull())
    s = pairs.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum("a").cast("bigint").alias("sa"),
        F.sum("b").cast("bigint").alias("sb"),
        F.sum(F.col("a") * F.col("a")).cast("bigint").alias("saa"),
        F.sum(F.col("b") * F.col("b")).cast("bigint").alias("sbb"),
        F.sum(F.col("a") * F.col("b")).cast("bigint").alias("sab"),
    )
    num = F.col("n_pairs") * F.col("sab") - F.col("sa") * F.col("sb")
    den = F.sqrt(
        (F.col("n_pairs") * F.col("saa") - F.col("sa") * F.col("sa")).cast("double")
        * (F.col("n_pairs") * F.col("sbb") - F.col("sb") * F.col("sb")).cast("double")
    )
    return s.select(
        "user_id",
        "n_pairs",
        F.round(num / F.nullif(den, F.lit(0.0)), 6).alias("autocorr_lag1"),
    )


@register(
    "rfm_user_profile",
    oracle="""
    WITH p AS (
      SELECT user_id,
             max(ts) AS last_ts,
             CAST(count(*) AS BIGINT) AS frequency,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS monetary_cents
      FROM events
      WHERE event_type = 'purchase' AND user_id IS NOT NULL
      GROUP BY user_id
    ), mx AS (SELECT max(ts) AS now_ts FROM events)
    SELECT user_id,
           CAST(date_diff('day', last_ts, mx.now_ts) AS BIGINT) AS recency_days,
           frequency, monetary_cents,
           CAST(ntile(4) OVER (ORDER BY date_diff('day', last_ts, mx.now_ts), user_id)
                AS BIGINT) AS r_quartile,
           CAST(ntile(4) OVER (ORDER BY frequency DESC, user_id) AS BIGINT)
             AS f_quartile,
           CAST(ntile(4) OVER (ORDER BY coalesce(monetary_cents, -1) DESC,
                               user_id) AS BIGINT)
             AS m_quartile
    FROM p CROSS JOIN mx
    """,
)
def rfm_user_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency/frequency/monetary) user profiling with exact
    quartile assignment — the classic activity segmentation, money in
    integer cents so sums are exact, and every ntile given a total order
    (user_id tie-break) so quartiles are engine-portable. User
    cardinality is unbounded, so each ntile runs on `distributed_ntile`
    (operators/relational.py): one range shuffle + per-partition rank +
    bounded offset broadcast per dimension — three cheap metadata-width
    passes, never a single-partition window over the user table."""
    ev = load_table(spark, sf_dir, "events")
    # user_id is an ntile tie-break key — a NULL window sort key is
    # placed nondeterministically by DuckDB's parallel window
    # (reproduced); unattributable purchases are excluded on both sides
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(
            F.max("ts").alias("last_ts"),
            F.count(F.lit(1)).cast("long").alias("frequency"),
            F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long"))
            .cast("long")
            .alias("monetary_cents"),
        )
    )
    now_ts = ev.agg(F.max("ts").alias("now_ts"))
    j = p.crossJoin(F.broadcast(now_ts)).select(
        "user_id",
        F.datediff(F.col("now_ts"), F.col("last_ts")).cast("long").alias(
            "recency_days"
        ),
        "frequency",
        "monetary_cents",
    )
    j = distributed_ntile(
        j, 4, ["recency_days", "user_id"], out_col="r_quartile"
    )
    j = distributed_ntile(
        j, 4, [F.col("frequency").desc(), F.col("user_id").asc()],
        out_col="f_quartile",
    )
    j = distributed_ntile(
        j,
        4,
        [
            # coalesce: monetary is NULL for a user whose every purchase
            # has a NULL value, and a NULL window sort key flakes in
            # DuckDB's parallel window (registry convention) — such
            # users rank below every paying one
            F.coalesce(F.col("monetary_cents"), F.lit(-1)).desc(),
            F.col("user_id").asc(),
        ],
        out_col="m_quartile",
    )
    return j.select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary_cents",
        "r_quartile",
        "f_quartile",
        "m_quartile",
    )


@register(
    "basket_part_pairs",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey % 100 AS part_bucket
      FROM lineitem
    )
    SELECT a.part_bucket AS p1, b.part_bucket AS p2,
           CAST(count(*) AS BIGINT) AS support
    FROM items a JOIN items b
      ON a.l_orderkey = b.l_orderkey AND a.part_bucket < b.part_bucket
    GROUP BY 1, 2
    HAVING count(*) >= 20
    """,
)
def basket_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence (the a-priori first pass): support
    counts for part-bucket pairs bought in the same order. The self-join
    key is the ORDER, so pair blowup is bounded by per-order item count
    squared (~7^2 here) — never corpus-quadratic; the HAVING threshold
    prunes the long tail before it leaves the aggregation. Buckets keep
    the demo's pair space dense; at 100 TB the same plan runs on raw
    part keys with a frequency-capped prefilter (same trick as the
    n-gram jaccard shingle cap)."""
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select(
        "l_orderkey", (F.col("l_partkey") % 100).alias("part_bucket")
    ).distinct()
    a = items.select("l_orderkey", F.col("part_bucket").alias("p1"))
    b = items.select("l_orderkey", F.col("part_bucket").alias("p2"))
    return (
        a.join(b, "l_orderkey")
        .filter(F.col("p1") < F.col("p2"))
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
        .filter(F.col("support") >= 20)
    )


@register(
    "join_scd2_pointlookup",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN row_number() OVER w = 1
                       OR lag(event_type) OVER w IS DISTINCT FROM event_type
                  THEN 1 ELSE 0 END AS changed
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), runs AS (
      SELECT user_id, event_type, ts, event_id FROM marked WHERE changed = 1
    ), dim AS (
      SELECT user_id, event_type AS state,
             epoch_ms(ts) AS valid_from_ms,
             epoch_ms(lead(ts) OVER w2) AS valid_to_ms
      FROM runs
      WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), probe AS (
      SELECT event_id, user_id, epoch_ms(ts) AS ts_ms
      FROM events WHERE event_id % 10 = 0
    )
    SELECT p.event_id, p.user_id, p.ts_ms, d.state
    FROM probe p JOIN dim d
      ON p.user_id = d.user_id
     AND d.valid_from_ms <= p.ts_ms
     AND (d.valid_to_ms IS NULL OR p.ts_ms < d.valid_to_ms)
    """,
)
def join_scd2_pointlookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension lookup against the SCD2 interval table:
    every 10th event probes 'what state was this user in at time ts'.
    The join is EQUI on user_id with the interval containment as a
    residual range predicate — so it hash-partitions on the key (SMJ/SHJ
    + AQE skew split), never a nested-loop: the per-user interval list is
    what bounds the residual scan, the standard lakehouse temporal-join
    shape. Exactly one interval matches each probe ([from, to) intervals
    partition the timeline), which the oracle's row count proves."""
    dim = scd2_user_state(spark, sf_dir).select(
        F.col("user_id").alias("d_user_id"), "state", "valid_from_ms", "valid_to_ms"
    )
    ev = load_table(spark, sf_dir, "events")
    probe = ev.filter(F.col("event_id") % 10 == 0).select(
        "event_id", "user_id", F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms")
    )
    j = probe.join(
        dim,
        (F.col("user_id") == F.col("d_user_id"))
        & (F.col("valid_from_ms") <= F.col("ts_ms"))
        & (F.col("valid_to_ms").isNull() | (F.col("ts_ms") < F.col("valid_to_ms"))),
    )
    return j.select("event_id", "user_id", "ts_ms", "state")


@register(
    "basket_frequent_itemsets",
    oracle="""
    WITH basket AS (
      SELECT DISTINCT l_orderkey AS okey, p_brand AS b
      FROM lineitem JOIN part ON l_partkey = p_partkey
    ), n AS (SELECT count(DISTINCT okey) AS nb FROM basket),
    s1 AS (
      SELECT b AS items, count(*)::BIGINT AS freq FROM basket GROUP BY 1
    ),
    s2 AS (
      SELECT x.b || ',' || y.b AS items, count(*)::BIGINT AS freq
      FROM basket x JOIN basket y ON x.okey = y.okey AND x.b < y.b
      GROUP BY 1
    ),
    s3 AS (
      SELECT x.b || ',' || y.b || ',' || z.b AS items, count(*)::BIGINT AS freq
      FROM basket x
        JOIN basket y ON x.okey = y.okey AND x.b < y.b
        JOIN basket z ON y.okey = z.okey AND y.b < z.b
      GROUP BY 1
    )
    SELECT items, freq
    FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3) u
    CROSS JOIN n
    -- Spark ml FPGrowth: minCount = ceil(minSupport * n) in IEEE double;
    -- cast 0.02 to DOUBLE so DuckDB doesn't use exact-decimal arithmetic
    WHERE freq >= CAST(ceil(CAST(0.02 AS DOUBLE) * nb) AS BIGINT)
    """,
)
def basket_frequent_itemsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent itemsets of size <= 3 over each order's distinct part
    brands, minSupport = 0.02 — FP-Growth-equivalent by the
    downward-closure property (every frequent k-itemset appears in the
    exact 1/2/3-way enumeration; the FP-tree only changes HOW the
    lattice is walked, never which itemsets pass minCount).

    r12 ran pyspark.ml's FPGrowth here and materialized its input; the
    remaining ~4 s was the library's opaque lattice jobs. For the
    BOUNDED k<=3 surface over a small item vocabulary the native
    relational plan is strictly better distributed work (VERDICT r12
    #8): ONE exchange builds the per-order sorted distinct-brand array,
    every 1/2/3-subset is generated JVM-side inside that row (the same
    upper-triangle array-expression idiom the near-dup postings bucket
    uses — k<=brands-per-order, so the fan-out is C(k,1)+C(k,2)+C(k,3)
    per order), and ONE map-side-combined aggregate counts all grains
    together (<= |brands|^3 groups regardless of data size); minCount =
    ceil(0.02 * n_baskets) applies via one broadcast scalar — the same
    IEEE double ceil FPGrowth computes. A measured intermediate variant
    (co-partitioned pair/triple self-joins) ran 2.9 s steady; this form
    replaces its five checkpoint re-scans with one. Unbounded-k mining
    at 100 TB is where FP-Growth earns its keep; a k-bounded screen is
    a-priori's home turf because the candidate explosion the FP-tree
    avoids is capped by the vocabulary, not the data. Identical rows to
    the r12 FPGrowth implementation (oracle-hash-pinned; pair parity
    additionally pinned in
    tests/test_stats.py::test_fpgrowth_pairs_agree_with_exact_pair_pass).
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    # one exchange: per-order sorted distinct brand array; checkpointed —
    # the basket-count scalar and the combo explode both consume it.
    # Materializing on the groupBy key adds NO exchange (the aggregate
    # already hash-partitions on it) — it pins the checkpoint at full
    # parallelism so the combo-explode stage is not confined to the
    # handful of partitions AQE coalesces the tiny agg output into
    baskets = materialize(
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.array_distinct(F.collect_list("p_brand"))).alias("bs")),
        "l_orderkey",
    )
    nb = baskets.agg(F.count(F.lit(1)).alias("nb"))
    # FPGrowth parity: minCount = ceil(minSupport * n_baskets) in IEEE
    # double (the DuckDB twin casts the 0.02 literal to DOUBLE for the
    # same reason — exact-decimal arithmetic would diverge near integers)
    min_count = F.ceil(F.lit(0.02).cast("double") * F.col("nb")).cast("long")
    # all subsets of size 1..3 of the sorted array, as comma-joined
    # strings (sorted within each itemset by construction); transform
    # indices are 0-based, slice positions 1-based — y sits at absolute
    # position i+2+j, so the z-tail starts at i+j+3
    pairs = (
        "flatten(transform(bs, (x, i) -> "
        "transform(slice(bs, i + 2, size(bs) - i - 1), "
        "y -> concat(x, ',', y))))"
    )
    triples = (
        "flatten(transform(bs, (x, i) -> "
        "flatten(transform(slice(bs, i + 2, size(bs) - i - 1), (y, j) -> "
        "transform(slice(bs, i + j + 3, size(bs) - i - j - 2), "
        "z -> concat(x, ',', y, ',', z))))))"
    )
    combos = baskets.select(
        F.explode(F.expr(f"concat(bs, {pairs}, {triples})")).alias("items")
    )
    return (
        combos.groupBy("items")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
        .crossJoin(F.broadcast(nb))
        .filter(F.col("freq") >= min_count)
        .select("items", "freq")
    )


@register(
    "revenue_growth_wow",
    oracle="""
    WITH wk AS (
      SELECT o_orderpriority AS priority,
             date_trunc('week', o_orderdate) AS week_start,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents
      FROM orders GROUP BY 1, 2
    )
    SELECT priority,
           epoch_ms(week_start) AS week_ms,
           rev_cents,
           round((rev_cents - lag(rev_cents) OVER w) * 100.0
                 / lag(rev_cents) OVER w, 4) AS pct_change
    FROM wk
    WINDOW w AS (PARTITION BY priority ORDER BY week_start)
    """,
)
def revenue_growth_wow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week revenue growth per order priority — the
    period-over-period reporting pattern: aggregate to the period grain
    FIRST (exact integer cents), then lag() on the small aggregate. The
    window runs over (priorities x weeks) rows, never the fact table, so
    the expensive pass is one hash agg. First week per priority yields
    NULL pct_change (no prior period), in both engines."""
    o = load_table(spark, sf_dir, "orders")
    wk = o.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.date_trunc("week", F.col("o_orderdate").cast("timestamp")).alias("week_start"),
    ).agg(F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")).cast("bigint").alias("rev_cents"))
    w = Window.partitionBy("priority").orderBy("week_start")
    prev = F.lag("rev_cents").over(w)
    return wk.select(
        "priority",
        F.unix_millis(F.col("week_start")).alias("week_ms"),
        "rev_cents",
        F.round((F.col("rev_cents") - prev) * 100.0 / prev, 4).alias("pct_change"),
    )


@register(
    "cumulative_distinct_users",
    oracle="""
    WITH firsts AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS first_day FROM events GROUP BY user_id
    ), daily AS (
      SELECT first_day AS day, CAST(count(*) AS BIGINT) AS new_users FROM firsts GROUP BY 1
    )
    SELECT epoch_ms(CAST(day AS TIMESTAMP)) AS day_ms,
           new_users,
           CAST(sum(new_users) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS cumulative_users
    FROM daily
    """,
)
def cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users by day WITHOUT a running COUNT(DISTINCT)
    (which would need per-day set state): distinct-by-first-appearance —
    min(day) per user, count firsts per day, prefix-sum the tiny daily
    series. Two hash aggs over the fact; the running sum touches only
    (n_days) rows. This reformulation is THE scalable cumulative-distinct
    pattern (running HLL union is its approximate sibling)."""
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(F.min(F.col("ts").cast("date")).alias("first_day"))
    daily = firsts.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("new_users")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        F.unix_millis(F.col("day").cast("timestamp")).alias("day_ms"),
        "new_users",
        F.sum("new_users").over(w).cast("bigint").alias("cumulative_users"),
    )


@register(
    "user_activity_streaks",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ), grp AS (
      SELECT user_id, day,
             CAST(day AS TIMESTAMP) - INTERVAL (
               row_number() OVER (PARTITION BY user_id ORDER BY day)
             ) DAY AS anchor
      FROM days
    ), streaks AS (
      SELECT user_id, anchor,
             CAST(count(*) AS BIGINT) AS streak_days,
             min(day) AS streak_start,
             max(day) AS streak_end
      FROM grp GROUP BY user_id, anchor
    )
    SELECT user_id,
           CAST(max(streak_days) AS BIGINT) AS longest_streak,
           CAST(count(*) AS BIGINT) AS n_streaks,
           epoch_ms(CAST(max(streak_end) AS TIMESTAMP)) AS last_active_ms
    FROM streaks GROUP BY user_id
    """,
)
def user_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive-day activity streaks per user (the classic
    gaps-and-islands at daily grain): distinct active days, then the
    rank-difference anchor (day - row_number days is constant within a
    consecutive run), then per-anchor streak stats. Everything after the
    distinct-day agg runs on (user x active-day) rows; the window and
    both aggregations share one exchange on user_id."""
    ev = load_table(spark, sf_dir, "events")
    days = ev.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    grp = days.withColumn(
        "anchor", F.date_sub(F.col("day"), F.row_number().over(w))
    )
    streaks = grp.groupBy("user_id", "anchor").agg(
        F.count(F.lit(1)).cast("bigint").alias("streak_days"),
        F.max("day").alias("streak_end"),
    )
    return streaks.groupBy("user_id").agg(
        F.max("streak_days").cast("bigint").alias("longest_streak"),
        F.count(F.lit(1)).cast("bigint").alias("n_streaks"),
        F.unix_millis(F.max("streak_end").cast("timestamp")).alias("last_active_ms"),
    )


@register(
    "supplier_concentration_hhi",
    oracle="""
    WITH share AS (
      SELECT p.p_type AS part_type, l.l_suppkey,
             CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY 1, 2
    ), tot AS (
      SELECT part_type, rev_cents,
             sum(rev_cents) OVER (PARTITION BY part_type) AS total_cents,
             count(*) OVER (PARTITION BY part_type) AS n_suppliers
      FROM share
    )
    SELECT part_type,
           CAST(any_value(n_suppliers) AS BIGINT) AS n_suppliers,
           round(sum(power(rev_cents * 1.0 / total_cents, 2)), 6) AS hhi
    FROM tot GROUP BY part_type
    """,
)
def supplier_concentration_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supply-concentration risk per part type: the Herfindahl-Hirschman
    index over supplier revenue shares (1 = single-source, 1/n = evenly
    spread) — the sourcing-risk screen a procurement analytics stack
    runs. Two aggregations: (type, supplier) revenue in exact integer
    cents off one fact scan, then shares and HHI; the share window and
    final agg both ride the (type) partitioning of the SMALL aggregate
    (types x suppliers rows), never the fact table."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    share = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.col("p_type").alias("part_type"), "l_suppkey")
        .agg(
            F.sum(F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("bigint"))
            .cast("bigint")
            .alias("rev_cents")
        )
    )
    w = Window.partitionBy("part_type")
    tot = share.select(
        "part_type",
        "rev_cents",
        F.sum("rev_cents").over(w).alias("total_cents"),
        F.count(F.lit(1)).over(w).alias("n_suppliers"),
    )
    return tot.groupBy("part_type").agg(
        F.any_value("n_suppliers").cast("bigint").alias("n_suppliers"),
        F.round(F.sum(F.pow(F.col("rev_cents") * 1.0 / F.col("total_cents"), 2)), 6).alias(
            "hhi"
        ),
    )


@register(
    "rolling_active_users",
    oracle="""
    WITH ud AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
                WHERE user_id IS NOT NULL),
    a AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY day),
    w AS (SELECT a.day, CAST(count(DISTINCT u.user_id) AS BIGINT) AS wau
          FROM a JOIN ud u ON u.day BETWEEN a.day - 6 AND a.day
          GROUP BY a.day)
    SELECT epoch_ms(CAST(a.day AS TIMESTAMP)) AS day_ms, a.dau, w.wau,
           round(a.dau * 1.0 / w.wau, 4) AS stickiness
    FROM a JOIN w ON a.day = w.day
    """,
)
def rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / WAU / stickiness with an EXACT 7-day rolling distinct — the
    product-health metric that defeats naive windowing (COUNT(DISTINCT)
    cannot ride a sliding frame). Scalable formulation: each (user, day)
    activity row is exploded to the <=7 window-ends it contributes to,
    deduped, and counted — a fixed 7x fan-out of the tiny distinct
    (user, day) table instead of the oracle's range join, which at 100 TB
    would re-scan each day's users 7 times. Window-ends are restricted to
    observed days by the inner join with the DAU side."""
    ev = load_table(spark, sf_dir, "events")
    # NULL users are not active users: count(DISTINCT user_id) in the
    # oracle would drop them from WAU while count(*) kept them in DAU
    ud = (
        ev.filter(F.col("user_id").isNotNull())
        .select(F.to_date("ts").alias("day"), "user_id")
        .distinct()
    )
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).cast("long").alias("dau"))
    wau = (
        ud.select("day", "user_id", F.explode(F.expr("sequence(0, 6)")).alias("off"))
        .select(F.date_add("day", F.col("off")).alias("wday"), "user_id")
        .distinct()
        .groupBy("wday")
        .agg(F.count(F.lit(1)).cast("long").alias("wau"))
    )
    return (
        dau.join(wau, dau.day == wau.wday)
        .select(
            F.unix_millis(F.col("day").cast("timestamp")).alias("day_ms"),
            "dau",
            "wau",
            F.round(F.col("dau") / F.col("wau"), 4).alias("stickiness"),
        )
    )


@register(
    "events_markov_transitions",
    oracle="""
    WITH nxt AS (
      SELECT event_type AS from_type,
             lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS next_type
      FROM events
    ), cnt AS (
      SELECT from_type, next_type, CAST(count(*) AS BIGINT) AS n
      FROM nxt WHERE next_type IS NOT NULL
      GROUP BY from_type, next_type
    )
    SELECT from_type, next_type, n,
           round(n * 1.0 / sum(n) OVER (PARTITION BY from_type), 4) AS p
    FROM cnt
    """,
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event-type
    sequences: P(next_type | type), the session-model / anomalous-flow
    primitive. One per-user lag window on the fact table (partitioned by
    user — no global sort), then the heavy table collapses to a
    |types|^2 aggregate; the row-probability window rides that tiny
    aggregate, never the events scan. Full (ts, event_id) tie-break makes
    the sequence — and thus the matrix — deterministic."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = (
        ev.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("next_type"),
        )
        .filter(F.col("next_type").isNotNull())
    )
    cnt = nxt.groupBy("from_type", "next_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tot = Window.partitionBy("from_type")
    return cnt.select(
        "from_type",
        "next_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(tot), 4).alias("p"),
    )


@register(
    "orders_abc_pareto",
    oracle="""
    WITH rev AS (
      SELECT l_partkey AS p_partkey,
             CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS rev_cents
      FROM lineitem
      WHERE l_extendedprice IS NOT NULL AND l_discount IS NOT NULL
      GROUP BY 1
    ), c AS (
      SELECT p_partkey, rev_cents,
             sum(rev_cents) OVER (ORDER BY rev_cents DESC, p_partkey
                                  ROWS UNBOUNDED PRECEDING) AS cum,
             sum(rev_cents) OVER () AS total
      FROM rev
    )
    SELECT p_partkey, rev_cents,
           round(cum * 1.0 / total, 6) AS cum_share,
           CASE WHEN cum * 100 <= total * 80 THEN 'A'
                WHEN cum * 100 <= total * 95 THEN 'B'
                ELSE 'C' END AS abc_class
    FROM c
    """,
)
def orders_abc_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto classification of parts by revenue share: cumulative
    share over the revenue-descending total order, class A up to 80%,
    B to 95%, C beyond. The global cumulative sum uses the two-pass
    distributed prefix sum (`operators/relational.py:global_prefix_sum`:
    range partition -> partition-local cumsum -> bounded per-partition
    offsets broadcast back) instead of the single-task global window the
    naive `Window.orderBy` plans — the difference between a day and a
    minute at 100 TB. Class boundaries compare exact integer cents
    (cum*100 <= total*80), immune to FP rounding at the thresholds."""
    from hw_kafka_flink_health_spark.operators.relational import global_prefix_sum

    # NULL-priced lines carry no revenue; without the filter a part
    # whose EVERY line is NULL-priced gets rev_cents = NULL, and a NULL
    # sort key sits at opposite ends of the two engines' default orders
    # (nulls fuzz finding)
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_extendedprice").isNotNull() & F.col("l_discount").isNotNull()
    )
    rev = li.groupBy(F.col("l_partkey").alias("p_partkey")).agg(
        F.sum(
            F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + 0.5).cast(
                "long"
            )
        )
        .cast("long")
        .alias("rev_cents")
    )
    total = rev.agg(F.sum("rev_cents").cast("long").alias("_total"))
    c = global_prefix_sum(
        rev,
        "rev_cents",
        [F.col("rev_cents").desc(), F.col("p_partkey")],
        out_col="cum",
    )
    return c.crossJoin(F.broadcast(total)).select(
        "p_partkey",
        "rev_cents",
        F.round(F.col("cum") / F.col("_total"), 6).alias("cum_share"),
        F.when(F.col("cum") * 100 <= F.col("_total") * 80, "A")
        .when(F.col("cum") * 100 <= F.col("_total") * 95, "B")
        .otherwise("C")
        .alias("abc_class"),
    )


@register(
    "orders_ship_latency",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           round(avg(lat), 4) AS avg_days,
           round(percentile_cont(0.5) WITHIN GROUP (ORDER BY lat), 4) AS p50,
           round(percentile_cont(0.9) WITHIN GROUP (ORDER BY lat), 4) AS p90,
           round(percentile_cont(0.99) WITHIN GROUP (ORDER BY lat), 4) AS p99,
           CAST(max(lat) AS BIGINT) AS max_days
    FROM (
      SELECT o_orderpriority,
             date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS lat
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    )
    GROUP BY o_orderpriority
    """,
)
def orders_ship_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency distribution per priority class: exact
    interpolated p50/p90/p99 (percentile_cont semantics in both engines),
    mean and max — the fulfillment-SLA readout. One fact-fact equi join
    (orders side reduced to two columns before the shuffle) then a
    sort-based exact-percentile agg per priority (5 groups). The exact
    tails are the point; the approx_percentile sibling family covers the
    sketch path for when 100 TB makes exact sorting unreasonable."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    lat = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey")).select(
        "o_orderpriority",
        F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate")).alias("lat"),
    )
    return lat.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.avg("lat"), 4).alias("avg_days"),
        F.round(F.expr("percentile(lat, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(lat, 0.9)"), 4).alias("p90"),
        F.round(F.expr("percentile(lat, 0.99)"), 4).alias("p99"),
        F.max("lat").cast("long").alias("max_days"),
    )


@register(
    "attribution_linear_touch",
    oracle="""
    WITH t AS (
      SELECT user_id, event_id, event_type, epoch_ms(ts) AS ts_ms,
             min(CASE WHEN event_type = 'purchase' THEN epoch_ms(ts) END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
               AS conv_ms
      FROM events
      WHERE event_type IN ('click', 'purchase')
    ), touches AS (
      SELECT user_id, event_id, ts_ms, conv_ms
      FROM t
      WHERE event_type = 'click'
        AND conv_ms IS NOT NULL
        AND conv_ms - ts_ms <= 604800000
    ), credit AS (
      SELECT user_id, conv_ms,
             count(*)::BIGINT AS n_touches
      FROM touches GROUP BY 1, 2
    )
    SELECT user_id, conv_ms, n_touches,
           round(1.0 / n_touches, 6) AS credit_per_touch
    FROM credit
    """,
)
def attribution_linear_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch linear attribution: every click is assigned to the
    NEXT purchase by the same user (within a 7-day lookback), and each
    conversion splits its credit equally across its touches. The
    assignment is one `min(purchase ts) OVER (1 FOLLOWING..)` window —
    never a clicks×purchases range self-join, which is the naive plan
    and quadratic on hot users. One exchange on user_id; the credit agg
    rides the already-partitioned rows."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    ts_ms = F.unix_millis(F.col("ts").cast("timestamp"))
    t = ev.select(
        "user_id",
        "event_id",
        "event_type",
        ts_ms.alias("ts_ms"),
        F.min(F.when(F.col("event_type") == "purchase", ts_ms)).over(w).alias("conv_ms"),
    )
    touches = t.filter(
        (F.col("event_type") == "click")
        & F.col("conv_ms").isNotNull()
        & (F.col("conv_ms") - F.col("ts_ms") <= 604800000)
    )
    credit = touches.groupBy("user_id", "conv_ms").agg(
        F.count(F.lit(1)).cast("long").alias("n_touches")
    )
    return credit.select(
        "user_id",
        "conv_ms",
        "n_touches",
        F.round(1.0 / F.col("n_touches"), 6).alias("credit_per_touch"),
    )


@register(
    "max_concurrent_sessions",
    oracle="""
    WITH x AS (
      SELECT user_id, epoch_ms(ts) AS ts_ms,
             CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts))
                    OVER (PARTITION BY user_id ORDER BY ts, event_id)
                  > 1800000 THEN 1
                  WHEN lag(epoch_ms(ts))
                    OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL THEN 1
                  ELSE 0 END AS new_sess
      FROM events
    ), s AS (
      SELECT user_id, ts_ms,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_ms
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM x
    ), iv AS (
      SELECT user_id, sess_id, min(ts_ms) AS start_ms, max(ts_ms) + 1 AS end_ms
      FROM s GROUP BY 1, 2
    ), sweep AS (
      SELECT start_ms AS ts_ms, 1 AS delta, user_id FROM iv
      UNION ALL
      SELECT end_ms, -1, user_id FROM iv
    ), run AS (
      SELECT ts_ms, delta,
             sum(delta) OVER (ORDER BY ts_ms, delta, coalesce(user_id, -1)
                              ROWS UNBOUNDED PRECEDING) AS live
      FROM sweep
    )
    SELECT CAST(max(live) AS BIGINT) AS max_concurrent,
           CAST(min(CASE WHEN live = (SELECT max(live) FROM run) THEN ts_ms END)
                AS BIGINT) AS at_ms
    FROM run
    """,
)
def max_concurrent_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency by sweep line: sessionize per user (30-min gap),
    emit (+1 at start, −1 just after last event), and take the running
    sum over the GLOBAL time order — whose maximum is the answer every
    capacity planner asks for. The global cumsum uses the two-pass
    distributed prefix sum (`operators/relational.py:global_prefix_sum`:
    range shuffle + per-partition offsets), never the single-task global
    window the oracle's `OVER (ORDER BY ...)` implies — same values,
    scalable order. Ends sort before starts at an equal timestamp
    (delta −1 < +1), so back-to-back sessions don't double-count."""
    from hw_kafka_flink_health_spark.operators.relational import global_prefix_sum

    ev = load_table(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ts_ms = F.unix_millis(F.col("ts").cast("timestamp"))
    x = ev.select(
        "user_id",
        ts_ms.alias("ts_ms"),
        F.when(ts_ms - F.lag(ts_ms).over(wu) > 1800000, 1)
        .when(F.lag(ts_ms).over(wu).isNull(), 1)
        .otherwise(0)
        .alias("new_sess"),
    )
    s = x.withColumn(
        "sess_id",
        F.sum("new_sess").over(
            Window.partitionBy("user_id")
            .orderBy("ts_ms")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    iv = s.groupBy("user_id", "sess_id").agg(
        F.min("ts_ms").alias("start_ms"), (F.max("ts_ms") + 1).alias("end_ms")
    )
    sweep = iv.select(
        F.col("start_ms").alias("ts_ms"), F.lit(1).alias("delta"), "user_id"
    ).unionByName(
        iv.select(F.col("end_ms").alias("ts_ms"), F.lit(-1).alias("delta"), "user_id")
    )
    run = global_prefix_sum(
        sweep,
        "delta",
        # coalesce: a NULL user_id in the sweep's sort tuple hits
        # DuckDB's nondeterministic NULL-window placement (the twin
        # orders by coalesce(user_id, -1) too); partial sums within a
        # (ts, delta) tie group are permutation-invariant, but the keys
        # themselves must be non-null for the replay to be stable
        ["ts_ms", "delta", F.coalesce(F.col("user_id"), F.lit(-1))],
        out_col="live",
    )
    peak = run.agg(F.max("live").alias("__peak"))
    return (
        run.crossJoin(F.broadcast(peak))
        .agg(
            F.max("live").cast("long").alias("max_concurrent"),
            F.min(F.when(F.col("live") == F.col("__peak"), F.col("ts_ms")))
            .cast("long")
            .alias("at_ms"),
        )
    )


@register(
    "orders_backlog_aging",
    oracle="""
    SELECT CASE WHEN age_d < 30 THEN '0-29'
                WHEN age_d < 90 THEN '30-89'
                WHEN age_d < 365 THEN '90-364'
                ELSE '365+' END AS age_band,
           o_orderpriority,
           count(*)::BIGINT AS n_orders,
           round(sum(o_totalprice), 2) AS open_value
    FROM (
      SELECT o_orderpriority, o_totalprice,
             date_diff('day', o_orderdate, DATE '1995-06-17') AS age_d
      FROM orders WHERE o_orderstatus = 'O' AND o_orderdate <= DATE '1995-06-17'
    )
    GROUP BY 1, 2
    """,
)
def orders_backlog_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog aging as of a fixed business date: orders still
    'O' bucketed by age band × priority with the open value at stake —
    the working-capital report every ops team runs daily. Pure
    scan-filter-aggregate: the status+date predicates push to the
    parquet scan, the banding is a CASE over a date_diff, one shuffle
    for the tiny band×priority grid."""
    o = load_table(spark, sf_dir, "orders")
    asof = F.lit("1995-06-17").cast("date")
    aged = o.filter(
        (F.col("o_orderstatus") == "O") & (F.col("o_orderdate") <= asof)
    ).withColumn("age_d", F.datediff(asof, F.col("o_orderdate")))
    band = (
        F.when(F.col("age_d") < 30, "0-29")
        .when(F.col("age_d") < 90, "30-89")
        .when(F.col("age_d") < 365, "90-364")
        .otherwise("365+")
    )
    return aged.groupBy(band.alias("age_band"), "o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("open_value"),
    )


@register(
    "orders_priority_mix_tvd",
    oracle="""
    WITH m AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
             o_orderpriority, count(*)::BIGINT AS n
      FROM orders GROUP BY 1, 2
    ), tot AS (
      SELECT o_orderpriority, count(*)::BIGINT AS n_all,
             (SELECT count(*) FROM orders) AS grand
      FROM orders GROUP BY 1
    ), j AS (
      SELECT m.month, m.o_orderpriority,
             m.n * 1.0 / sum(m.n) OVER (PARTITION BY m.month) AS share_m,
             t.n_all * 1.0 / t.grand AS share_all
      FROM m JOIN tot t USING (o_orderpriority)
    )
    SELECT month,
           round(sum(abs(share_m - share_all)) / 2, 6) AS tvd,
           CASE WHEN sum(abs(share_m - share_all)) / 2 > 0.05 THEN 1 ELSE 0 END
             AS drifted
    FROM j GROUP BY month
    """,
)
def orders_priority_mix_tvd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical mix-shift monitor: per month, the total-variation
    distance between that month's order-priority composition and the
    all-time mix (TVD = half the L1 gap between the two distributions,
    in [0,1]) with a 5% drift flag — the categorical sibling of the
    KL-based numeric drift audit (`mlprep_split_drift`). Two tiny
    aggregates (month×priority, priority) and window shares on the
    month×priority grid; the orders table is scanned twice but never
    joined to itself at row level."""
    o = load_table(spark, sf_dir, "orders")
    m = o.groupBy(
        F.date_trunc("month", "o_orderdate").cast("timestamp").alias("month"),
        "o_orderpriority",
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    tot = o.groupBy("o_orderpriority").agg(F.count(F.lit(1)).cast("long").alias("n_all"))
    grand = o.agg(F.count(F.lit(1)).cast("long").alias("grand"))
    j = (
        m.join(F.broadcast(tot), "o_orderpriority")
        .crossJoin(F.broadcast(grand))
        .withColumn(
            "share_m",
            F.col("n") * 1.0 / F.sum("n").over(Window.partitionBy("month")),
        )
        .withColumn("share_all", F.col("n_all") * 1.0 / F.col("grand"))
    )
    tvd = F.sum(F.abs(F.col("share_m") - F.col("share_all"))) / 2
    return j.groupBy("month").agg(
        F.round(tvd, 6).alias("tvd"),
        F.when(tvd > 0.05, 1).otherwise(0).alias("drifted"),
    )


@register(
    "basket_rules_lift",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey % 100 AS part_bucket
      FROM lineitem
    ), n AS (
      SELECT count(DISTINCT l_orderkey)::BIGINT AS n_baskets FROM items
    ), supp AS (
      SELECT part_bucket, count(*)::BIGINT AS s FROM items GROUP BY 1
    ), pairs AS (
      SELECT a.part_bucket AS p1, b.part_bucket AS p2,
             count(*)::BIGINT AS s_ab
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.part_bucket < b.part_bucket
      GROUP BY 1, 2
      HAVING count(*) >= 20
    )
    SELECT p1, p2, s_ab,
           CAST(floor(CAST(s_ab AS DOUBLE) / sa.s * 1000000 + 0.5) AS BIGINT)
             AS conf_micro,
           CAST(floor(CAST(s_ab AS DOUBLE) * n.n_baskets / (sa.s * sb.s)
                      * 1000000 + 0.5) AS BIGINT) AS lift_micro
    FROM pairs JOIN supp sa ON sa.part_bucket = pairs.p1
               JOIN supp sb ON sb.part_bucket = pairs.p2
               CROSS JOIN n
    """,
)
def basket_rules_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over the basket pairs: confidence(p1 -> p2) and
    lift — the a-priori second pass that turns raw co-occurrence support
    into actionable rules (lift > 1e6 micro-units = positively
    associated). Item supports are a tiny aggregate BROADCAST back onto
    the pair table; the basket self-join is keyed on the order so pair
    fan-out stays bounded by basket width, never corpus-quadratic. All
    counts exact; the two ratios are single double divisions emitted in
    integer micro-units (floor(x*1e6+0.5) — identical IEEE ops in both
    engines, immune to round() half-rule divergence)."""
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select(
        "l_orderkey", (F.col("l_partkey") % 100).alias("part_bucket")
    ).distinct()
    n = items.agg(
        F.countDistinct("l_orderkey").cast("long").alias("n_baskets")
    )
    supp = items.groupBy("part_bucket").agg(
        F.count(F.lit(1)).cast("long").alias("s")
    )
    a = items.alias("a")
    b = items.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.part_bucket") < F.col("b.part_bucket")),
        )
        .groupBy(
            F.col("a.part_bucket").alias("p1"),
            F.col("b.part_bucket").alias("p2"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("s_ab"))
        .filter(F.col("s_ab") >= 20)
    )
    sa = supp.select(F.col("part_bucket").alias("p1"), F.col("s").alias("s1"))
    sb = supp.select(F.col("part_bucket").alias("p2"), F.col("s").alias("s2"))
    out = (
        pairs.join(F.broadcast(sa), "p1")
        .join(F.broadcast(sb), "p2")
        .crossJoin(F.broadcast(n))
    )
    conf = F.col("s_ab").cast("double") / F.col("s1")
    lift = (
        F.col("s_ab").cast("double")
        * F.col("n_baskets")
        / (F.col("s1") * F.col("s2"))
    )
    return out.select(
        "p1",
        "p2",
        "s_ab",
        F.floor(conf * 1000000 + 0.5).cast("long").alias("conf_micro"),
        F.floor(lift * 1000000 + 0.5).cast("long").alias("lift_micro"),
    )


@register(
    "events_prefixspan_patterns",
    oracle="""
    WITH ev AS (
      SELECT user_id, event_type, ts, event_id
      FROM events WHERE event_type IS NOT NULL AND user_id IS NOT NULL
    ),
    n AS (SELECT count(DISTINCT user_id) AS nu FROM ev),
    u AS (
      -- named-struct min/max = lexicographic (ts, event_id) — the same
      -- total order the Spark side sorts sequences by, deterministic
      -- even when timestamps tie (arg_min's tie choice is unspecified)
      SELECT user_id, event_type,
             count(*)::BIGINT AS cnt,
             min({'t': ts, 'i': event_id}) AS first_s,
             max({'t': ts, 'i': event_id}) AS last_s
      FROM ev GROUP BY 1, 2
    ),
    len1 AS (
      SELECT event_type AS pattern, count(*)::BIGINT AS freq FROM u GROUP BY 1
    ),
    len2 AS (
      SELECT a.event_type || '->' || b.event_type AS pattern,
             count(*)::BIGINT AS freq
      FROM u a JOIN u b ON a.user_id = b.user_id
      WHERE CASE WHEN a.event_type = b.event_type THEN a.cnt >= 2
                 ELSE a.first_s < b.last_s
            END
      GROUP BY 1
    )
    SELECT pattern, freq
    FROM (SELECT * FROM len1 UNION ALL SELECT * FROM len2) p
    CROSS JOIN n
    -- Spark ml PrefixSpan: minCount = ceil(minSupport * n) in IEEE double
    WHERE freq >= CAST(ceil(CAST(0.3 AS DOUBLE) * nu) AS BIGINT)
    """,
)
def events_prefixspan_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent sequential patterns (length ≤ 2) of per-user event-type
    journeys via pyspark.ml's PrefixSpan — the distributed
    projected-database walk, no candidate-generation explosion.

    Each user is one sequence of single-event itemsets ordered by
    (ts, event_id); a pattern a→b is supported by a user iff some a
    PRECEDES some b (gaps allowed — the subsequence semantics that make
    this different from the CEP 'followed-by' adjacency queries). The
    exact SQL oracle is possible because bounded-length subsequence
    existence collapses to first/last-occurrence algebra: a→b ⟺
    first(a) < last(b) (and a→a ⟺ count(a) ≥ 2) — so DuckDB never
    enumerates subsequences, and the length-≤2 bound is what keeps the
    oracle exact (the same trick as the FP-Growth size-≤3 bound).
    Patterns flatten to strings (driver canonicalizer takes no arrays).

    Scale: one shuffle builds per-user sequences (sort_array of collected
    structs — per-partition sort, no global order), PrefixSpan projects
    recursively on executors; minSupport prunes at every level."""
    from pyspark.ml.fpm import PrefixSpan

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull() & F.col("user_id").isNotNull()
    )
    seqs = (
        ev.groupBy("user_id")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("ts").alias("ts"),
                        F.col("event_id").alias("eid"),
                        F.col("event_type").alias("t"),
                    )
                )
            ).alias("ordered")
        )
        .select(
            F.transform(F.col("ordered"), lambda x: F.array(x["t"])).alias(
                "sequence"
            )
        )
    )
    ps = PrefixSpan(
        minSupport=0.3, maxPatternLength=2, sequenceCol="sequence"
    )
    pats = ps.findFrequentSequentialPatterns(seqs)
    return pats.select(
        F.concat_ws(
            "->", F.transform(F.col("sequence"), lambda s: s[0])
        ).alias("pattern"),
        F.col("freq").cast("long").alias("freq"),
    )


@register(
    "funnel_time_to_convert",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, event_type,
             min(CASE WHEN event_type = 'signup' THEN ts END)
               OVER (PARTITION BY user_id) AS t_signup
      FROM events
    ), per_user AS (
      SELECT user_id,
             epoch_ms(min(t_signup)) AS s_ms,
             epoch_ms(min(CASE WHEN event_type = 'purchase' AND ts >= t_signup
                               THEN ts END)) AS p_ms
      FROM marked GROUP BY user_id
    )
    SELECT epoch_ms(date_trunc('MONTH', make_timestamp(s_ms * 1000))) AS cohort_ms,
           CAST(count(s_ms) AS BIGINT) AS n_users,
           CAST(count(p_ms) AS BIGINT) AS n_converted,
           CAST(floor(count(p_ms) * 1000000.0 / nullif(count(s_ms), 0))
                AS BIGINT) AS conv_rate_micro,
           round(quantile_cont(CAST(floor((p_ms - s_ms) / 1000.0) AS BIGINT),
                               0.5), 1) AS p50_latency_s,
           round(quantile_cont(CAST(floor((p_ms - s_ms) / 1000.0) AS BIGINT),
                               0.9), 1) AS p90_latency_s
    FROM per_user
    GROUP BY epoch_ms(date_trunc('MONTH', make_timestamp(s_ms * 1000)))
    """,
)
def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort-grain conversion latency: for each signup-month cohort, how
    many users signed up, how many converted (first purchase at-or-after
    their first signup), and the p50/p90 signup-to-purchase latency.

    The per-user funnel collapse is the funnel_conversion shape — ONE
    exchange on user_id shared by the window pass and the groupBy — and
    the cohort rollup aggregates the per-user table (|users| rows, not
    |events|), so the second shuffle moves only user-grain data. Exact
    interpolated percentiles run per cohort group (percentile ==
    quantile_cont); latencies are integer seconds via the epoch-ms floor
    idiom, so interpolation arithmetic is identical in both engines.
    Users who never signed up form the NULL-cohort row (n_users = 0) —
    the guard nullif/try_divide keeps their rate NULL, not an ANSI
    error."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    ts = F.col("ts")
    marked = ev.withColumn(
        "t_signup", F.min(F.when(F.col("event_type") == "signup", ts)).over(w)
    )
    per_user = marked.groupBy("user_id").agg(
        F.unix_millis(F.min("t_signup").cast("timestamp")).alias("s_ms"),
        F.unix_millis(
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (ts >= F.col("t_signup")),
                    ts,
                )
            ).cast("timestamp")
        ).alias("p_ms"),
    )
    lat = F.floor((F.col("p_ms") - F.col("s_ms")) / 1000.0).cast("bigint")
    return (
        per_user.withColumn("lat_s", lat)
        .withColumn(
            "cohort_ms",
            F.unix_millis(
                F.date_trunc("month", F.timestamp_seconds(F.col("s_ms") / 1000.0))
            ),
        )
        .groupBy("cohort_ms")
        .agg(
            F.count("s_ms").cast("bigint").alias("n_users"),
            F.count("p_ms").cast("bigint").alias("n_converted"),
            F.floor(
                F.try_divide(F.count("p_ms") * 1000000.0, F.count("s_ms"))
            )
            .cast("bigint")
            .alias("conv_rate_micro"),
            F.round(F.expr("percentile(lat_s, 0.5)"), 1).alias("p50_latency_s"),
            F.round(F.expr("percentile(lat_s, 0.9)"), 1).alias("p90_latency_s"),
        )
    )


_FS_M = 0.95  # pinned per-field m-probability (P(agree | true match))


@register(
    "linkage_fellegi_sunter",
    oracle=f"""
    WITH c AS (
      SELECT c_custkey AS ckey, c_nationkey AS nat,
             CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS band,
             right(c_name, 2) AS dig
      FROM customer
    ), s AS (
      SELECT s_suppkey AS skey, s_nationkey AS nat,
             CAST(floor(s_acctbal / 1000.0) AS BIGINT) AS band,
             right(s_name, 2) AS dig
      FROM supplier
    ), sizes AS (
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM c)
               * (SELECT CAST(count(*) AS BIGINT) FROM s) AS all_pairs
    ), u_band AS (
      SELECT coalesce(sum(cf.cnt * sf2.cnt), 0) / nullif(CAST(all_pairs AS DOUBLE), 0) AS u
      FROM (SELECT band, CAST(count(*) AS BIGINT) AS cnt FROM c GROUP BY band) cf
      JOIN (SELECT band, CAST(count(*) AS BIGINT) AS cnt FROM s GROUP BY band) sf2
        USING (band)
      CROSS JOIN sizes GROUP BY all_pairs
    ), u_dig AS (
      SELECT coalesce(sum(cf.cnt * sf2.cnt), 0) / nullif(CAST(all_pairs AS DOUBLE), 0) AS u
      FROM (SELECT dig, CAST(count(*) AS BIGINT) AS cnt FROM c GROUP BY dig) cf
      JOIN (SELECT dig, CAST(count(*) AS BIGINT) AS cnt FROM s GROUP BY dig) sf2
        USING (dig)
      CROSS JOIN sizes GROUP BY all_pairs
    ), pairs AS (
      SELECT CASE WHEN c.band = s.band THEN 1 ELSE 0 END AS a_band,
             CASE WHEN c.dig = s.dig THEN 1 ELSE 0 END AS a_dig
      FROM c JOIN s ON c.nat = s.nat
    )
    SELECT a_band, a_dig, CAST(count(*) AS BIGINT) AS n_pairs,
           round(u_band.u, 6) AS u_band,
           round(u_dig.u, 6) AS u_dig,
           round(
             (CASE WHEN a_band = 1
                   THEN ln({_FS_M} / nullif(u_band.u, 0))
                   ELSE ln((1 - {_FS_M}) / nullif(1 - u_band.u, 0)) END
              + CASE WHEN a_dig = 1
                     THEN ln({_FS_M} / nullif(u_dig.u, 0))
                     ELSE ln((1 - {_FS_M}) / nullif(1 - u_dig.u, 0)) END)
             / ln(2.0), 4) AS score_bits
    FROM pairs CROSS JOIN u_band CROSS JOIN u_dig
    GROUP BY a_band, a_dig, u_band.u, u_dig.u
    """,
)
def linkage_fellegi_sunter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter probabilistic record linkage: customer-vs-supplier
    candidate pairs blocked on nationkey, scored by per-field agreement
    weights log2(m/u) / log2((1-m)/(1-u)) with u-probabilities ESTIMATED
    FROM THE DATA (u = P(agree | random pair) = sum of cross-products of
    the two sides' value frequencies — computed exactly in integer space
    over frequency tables, never by sampling pairs). m is pinned at 0.95
    (no labeled truth exists in TPC-H). Output is the agreement-pattern
    summary (4 rows: band x digit agree/disagree) with pair counts and
    the F-S match weight in bits.

    Scale posture: u-estimation joins two per-value frequency tables
    (|distinct values| rows); candidate generation is the blocked join,
    never a cross product; and the final aggregate groups the pairs by
    2-bit pattern, so nothing driver-side ever sees a pair list. ln()
    appears only inside round(..., 4) outputs per the libm convention."""
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nat"),
        F.floor(F.col("c_acctbal") / 1000.0).cast("bigint").alias("band"),
        F.expr("right(c_name, 2)").alias("dig"),
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nat"),
        F.floor(F.col("s_acctbal") / 1000.0).cast("bigint").alias("band"),
        F.expr("right(s_name, 2)").alias("dig"),
    )
    all_pairs = (
        cust.agg(F.count(F.lit(1)).cast("bigint").alias("n_c"))
        .crossJoin(supp.agg(F.count(F.lit(1)).cast("bigint").alias("n_s")))
        .select((F.col("n_c") * F.col("n_s")).alias("all_pairs"))
    )

    def u_of(field: str, out: str) -> DataFrame:
        cf = cust.groupBy(field).agg(F.count(F.lit(1)).cast("bigint").alias("cnt_c"))
        sf2 = supp.groupBy(field).agg(F.count(F.lit(1)).cast("bigint").alias("cnt_s"))
        return (
            cf.join(sf2, field)
            .crossJoin(F.broadcast(all_pairs))
            .groupBy("all_pairs")
            .agg(F.coalesce(F.sum(F.col("cnt_c") * F.col("cnt_s")), F.lit(0)).alias("agree"))
            .select(
                F.try_divide(
                    F.col("agree"), F.col("all_pairs").cast("double")
                ).alias(out)
            )
        )

    pairs = cust.alias("c").join(supp.alias("s"), "nat").select(
        F.when(F.col("c.band") == F.col("s.band"), 1).otherwise(0).alias("a_band"),
        F.when(F.col("c.dig") == F.col("s.dig"), 1).otherwise(0).alias("a_dig"),
    )
    m = F.lit(_FS_M)
    ub = F.col("u_b")
    ud = F.col("u_d")
    w_band = F.when(
        F.col("a_band") == 1, F.log(m / F.nullif(ub, F.lit(0.0)))
    ).otherwise(F.log((1 - m) / F.nullif(1 - ub, F.lit(0.0))))
    w_dig = F.when(
        F.col("a_dig") == 1, F.log(m / F.nullif(ud, F.lit(0.0)))
    ).otherwise(F.log((1 - m) / F.nullif(1 - ud, F.lit(0.0))))
    return (
        pairs.crossJoin(F.broadcast(u_of("band", "u_b")))
        .crossJoin(F.broadcast(u_of("dig", "u_d")))
        .groupBy("a_band", "a_dig", "u_b", "u_d")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
        .select(
            "a_band",
            "a_dig",
            "n_pairs",
            F.round(ub, 6).alias("u_band"),
            F.round(ud, 6).alias("u_dig"),
            F.round((w_band + w_dig) / F.log(F.lit(2.0)), 4).alias("score_bits"),
        )
    )


# channel bits for the Shapley coalition mask (purchase is the conversion
# event, every other event type is an attributable touchpoint channel)
_SHAP_CHANNELS = [("view", 1), ("click", 2), ("signup", 4), ("error", 8)]
# Shapley coalition weights for n=4 in exact 24ths: |T|!(n-|T|-1)!/n!
_SHAP_W24 = {0: 6, 1: 2, 2: 2, 3: 6}


@register(
    "attribution_shapley",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_p
      FROM events WHERE user_id IS NOT NULL GROUP BY user_id
    ), masks_u AS (
      SELECT e.user_id,
             sum(DISTINCT CASE e.event_type
                 WHEN 'view' THEN 1 WHEN 'click' THEN 2
                 WHEN 'signup' THEN 4 WHEN 'error' THEN 8 ELSE 0 END) AS mask
      FROM events e JOIN per_user p ON e.user_id = p.user_id
      WHERE p.t_p IS NOT NULL AND e.ts < p.t_p
      GROUP BY e.user_id
    ), conv AS (
      SELECT mask, CAST(count(*) AS BIGINT) AS cnt FROM masks_u GROUP BY mask
    ), t AS (SELECT CAST(range AS BIGINT) AS tm FROM range(16)),
    v AS (
      SELECT t.tm, coalesce(sum(conv.cnt), 0) AS v
      FROM t LEFT JOIN conv ON (conv.mask & t.tm) = conv.mask
      GROUP BY t.tm
    ), ch AS (
      SELECT * FROM (VALUES ('view', CAST(1 AS BIGINT)), ('click', CAST(2 AS BIGINT)),
                            ('signup', CAST(4 AS BIGINT)), ('error', CAST(8 AS BIGINT)))
             AS x(channel, bit)
    )
    SELECT ch.channel,
           CAST(sum(CASE bit_count(t.tm) WHEN 0 THEN 6 WHEN 1 THEN 2
                    WHEN 2 THEN 2 WHEN 3 THEN 6 END
                    * (v1.v - v0.v)) AS BIGINT) AS phi_24ths,
           round(sum(CASE bit_count(t.tm) WHEN 0 THEN 6 WHEN 1 THEN 2
                     WHEN 2 THEN 2 WHEN 3 THEN 6 END
                     * (v1.v - v0.v)) / 24.0, 4) AS shapley_conversions
    FROM ch JOIN t ON (t.tm & ch.bit) = 0
    JOIN v v0 ON v0.tm = t.tm
    JOIN v v1 ON v1.tm = (t.tm | ch.bit)
    GROUP BY ch.channel
    """,
)
def attribution_shapley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Shapley-value conversion attribution over 4 channels.

    The coalition game: v(T) = conversions whose pre-purchase touchpoint
    set is contained in T (the standard simplified-Shapley marketing
    model); phi_i = sum over coalitions T not containing i of
    |T|!(n-|T|-1)!/n! * (v(T+i) - v(T)). The factorial weights are
    pinned as exact 24ths so the whole computation stays in INTEGER
    space — the single division by 24 happens at output, making the
    value oracle exact (no float path at all).

    Scale shape: users collapse to a 4-bit mask (one events exchange),
    masks collapse to at most 16 (mask, count) rows, and everything
    after — the subset-lattice zeta transform v(T) and the Shapley sum —
    runs on 16-row tables (broadcast joins, constant cost at any SF).
    The linear/first/last-touch family (attribution_linear_touch) reads
    the same per-user collapse; Shapley is the game-theoretic upgrade
    marketers actually want but engines rarely ship exactly."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t_p")
    )
    bit = (
        F.when(F.col("event_type") == "view", 1)
        .when(F.col("event_type") == "click", 2)
        .when(F.col("event_type") == "signup", 4)
        .when(F.col("event_type") == "error", 8)
        .otherwise(0)
    )
    masks_u = (
        ev.join(per_user, "user_id")
        .filter(F.col("t_p").isNotNull() & (F.col("ts") < F.col("t_p")))
        .select("user_id", bit.alias("b"))
        .groupBy("user_id")
        .agg(F.sum_distinct(F.col("b")).alias("mask"))
    )
    conv = masks_u.groupBy("mask").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    t = spark.range(16).select(F.col("id").alias("tm"))
    v = materialize(
        t.join(F.broadcast(conv), F.expr("(mask & tm) = mask"), "left")
        .groupBy("tm")
        .agg(F.coalesce(F.sum("cnt"), F.lit(0)).alias("v"))
        # 16-row coalition-value table, broadcast TWICE below (v0/v1):
        # unmaterialized, each broadcast re-ran the whole events mask
        # aggregation (4 events scans in the executed plan; 2 after — r12)
    )
    ch = spark.createDataFrame(_SHAP_CHANNELS, "channel string, bit long")
    w24 = F.expr(
        "CASE bit_count(tm) WHEN 0 THEN 6 WHEN 1 THEN 2 WHEN 2 THEN 2 WHEN 3 THEN 6 END"
    )
    return (
        ch.join(F.broadcast(t), F.expr("(tm & bit) = 0"))
        .join(F.broadcast(v.selectExpr("tm AS tm0", "v AS v0")), F.expr("tm0 = tm"))
        .join(
            F.broadcast(v.selectExpr("tm AS tm1", "v AS v1")),
            F.expr("tm1 = (tm | bit)"),
        )
        .groupBy("channel")
        .agg(
            F.sum(w24 * (F.col("v1") - F.col("v0")))
            .cast("bigint")
            .alias("phi_24ths"),
            F.round(
                F.sum(w24 * (F.col("v1") - F.col("v0"))) / 24.0, 4
            ).alias("shapley_conversions"),
        )
    )


@register(
    "cohort_ltv_triangle",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, min(date_trunc('MONTH', ts)) AS cohort
      FROM events WHERE user_id IS NOT NULL GROUP BY user_id
    ), purchases AS (
      SELECT e.user_id, f.cohort,
             (CAST(year(e.ts) AS BIGINT) * 12 + CAST(month(e.ts) AS BIGINT))
             - (CAST(year(f.cohort) AS BIGINT) * 12
                + CAST(month(f.cohort) AS BIGINT)) AS age_months,
             CAST(floor(e.value * 100 + 0.5) AS BIGINT) AS cents
      FROM events e JOIN first_seen f ON e.user_id = f.user_id
      WHERE e.event_type = 'purchase' AND e.value IS NOT NULL
    ), cohort_sizes AS (
      SELECT cohort, CAST(count(*) AS BIGINT) AS n_users
      FROM first_seen GROUP BY cohort
    ), cells AS (
      SELECT cohort, age_months,
             CAST(sum(cents) AS BIGINT) AS rev_cents,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_buyers
      FROM purchases GROUP BY cohort, age_months
    )
    SELECT epoch_ms(c.cohort) AS cohort_ms, c.age_months, s.n_users,
           c.n_buyers, c.rev_cents,
           CAST(sum(c.rev_cents) OVER (PARTITION BY c.cohort
                ORDER BY c.age_months) AS BIGINT) AS cum_rev_cents,
           CAST(floor(sum(c.rev_cents) OVER (PARTITION BY c.cohort
                ORDER BY c.age_months) * 1.0 / nullif(s.n_users, 0))
                AS BIGINT) AS cum_ltv_cents_per_user
    FROM cells c JOIN cohort_sizes s ON c.cohort = s.cohort
    """,
)
def cohort_ltv_triangle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV triangle — the revenue sibling of the retention
    triangle: users grouped by first-seen month, purchase revenue rolled
    up by cohort x month-age, with the running cumulative and the
    per-user LTV curve every growth team plots. Month-age is exact
    integer calendar math (year*12+month differences — no epoch division
    drift), money is integer cents, and the cumulative is a window over
    the tiny cohort x age cell table, so the whole result is
    integer-exact.

    Scale: one exchange to user grain for first-seen, one join back on
    user_id (both sides partitioned the same way), one cell aggregate;
    the windows run over |cohorts x ages| rows — constant-ish at any SF."""
    ev = load_table(spark, sf_dir, "events")
    ts = F.col("ts").cast("timestamp")
    first_seen = (
        ev.filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.min(F.date_trunc("month", ts)).alias("cohort"))
    )
    mnum = lambda c: (  # noqa: E731
        F.year(c).cast("bigint") * 12 + F.month(c).cast("bigint")
    )
    purchases = (
        ev.filter(
            (F.col("event_type") == "purchase") & F.col("value").isNotNull()
        )
        .join(first_seen, "user_id")
        .select(
            "user_id",
            "cohort",
            (mnum(ts) - mnum(F.col("cohort"))).alias("age_months"),
            F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("cents"),
        )
    )
    cohort_sizes = first_seen.groupBy("cohort").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )
    cells = purchases.groupBy("cohort", "age_months").agg(
        F.sum("cents").cast("bigint").alias("rev_cents"),
        F.countDistinct("user_id").cast("bigint").alias("n_buyers"),
    )
    w = (
        Window.partitionBy("cohort")
        .orderBy("age_months")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        cells.join(F.broadcast(cohort_sizes), "cohort")
        .withColumn("cum_rev_cents", F.sum("rev_cents").over(w).cast("bigint"))
        .select(
            F.unix_millis(F.col("cohort").cast("timestamp")).alias("cohort_ms"),
            "age_months",
            "n_users",
            "n_buyers",
            "rev_cents",
            "cum_rev_cents",
            F.floor(
                F.try_divide(F.col("cum_rev_cents") * 1.0, F.col("n_users"))
            )
            .cast("bigint")
            .alias("cum_ltv_cents_per_user"),
        )
    )


# two-sided alpha=0.05, power=0.80 normal quantiles, pinned as literals
_Z_ALPHA_2 = 1.959963984540054
_Z_BETA = 0.8416212335729143


@register(
    "stats_power_sample_size",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS INTEGER) AS converted
      FROM events WHERE user_id IS NOT NULL GROUP BY user_id
    ), base AS (
      SELECT CAST(count(*) AS BIGINT) AS n_users,
             sum(converted) / nullif(CAST(count(*) AS DOUBLE), 0) AS p0
      FROM per_user
    ), grid AS (
      SELECT CAST(unnest([10, 20, 50, 100]) AS BIGINT) AS mde_permille
    )
    SELECT g.mde_permille, b.n_users, round(b.p0, 6) AS baseline_rate,
           CAST(ceil(
             pow({_Z_ALPHA_2!r} + {_Z_BETA!r}, 2)
             * (b.p0 * (1 - b.p0)
                + (b.p0 + g.mde_permille / 1000.0)
                  * (1 - b.p0 - g.mde_permille / 1000.0))
             / nullif(pow(g.mde_permille / 1000.0, 2), 0)
           ) AS BIGINT) AS n_per_arm,
           CAST(ceil(
             pow({_Z_ALPHA_2!r} + {_Z_BETA!r}, 2)
             * (b.p0 * (1 - b.p0)
                + (b.p0 + g.mde_permille / 1000.0)
                  * (1 - b.p0 - g.mde_permille / 1000.0))
             / nullif(pow(g.mde_permille / 1000.0, 2), 0)
           ) * 2 AS BIGINT) AS n_total
    FROM grid g CROSS JOIN base b
    """,
)
def stats_power_sample_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment-design power analysis: required sample size per arm to
    detect an absolute lift of {10,20,50,100} per-mille over the OBSERVED
    baseline conversion rate at alpha=0.05 (two-sided), power=0.80 — the
    table a platform shows before anyone launches an A/B test. Standard
    two-proportion formula n = (z_a + z_b)^2 (p0 q0 + p1 q1) / delta^2
    with the normal quantiles pinned as literals (no inverse-CDF calls,
    so both engines compute identical doubles; ceil lands on exact
    integers well away from boundary dust).

    One exchange to per-user flags, a 1-row baseline aggregate, then a
    4-row literal grid cross join — scan-bound at any SF. Completes the
    experimentation family's design side (mSPRT/DiD/CUPED/Qini analyze;
    this sizes)."""
    ev = load_table(spark, sf_dir, "events")
    per_user = (
        ev.filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("converted")
        )
    )
    base = per_user.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.try_divide(
            F.sum("converted"), F.count(F.lit(1)).cast("double")
        ).alias("p0"),
    )
    grid = spark.createDataFrame(
        [(10,), (20,), (50,), (100,)], "mde_permille long"
    )
    z2 = F.pow(F.lit(_Z_ALPHA_2 + _Z_BETA), 2)
    p0 = F.col("p0")
    p1 = p0 + F.col("mde_permille") / 1000.0
    n_arm = F.ceil(
        F.try_divide(
            z2 * (p0 * (1 - p0) + p1 * (1 - p1)),
            F.pow(F.col("mde_permille") / 1000.0, 2),
        )
    ).cast("bigint")
    return grid.crossJoin(F.broadcast(base)).select(
        "mde_permille",
        "n_users",
        F.round(p0, 6).alias("baseline_rate"),
        n_arm.alias("n_per_arm"),
        (n_arm * 2).cast("bigint").alias("n_total"),
    )


@register(
    "events_interval_union_length",
    oracle="""
    WITH iv AS (
      SELECT user_id, epoch_ms(ts) AS s, epoch_ms(ts) + 300000 AS e
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ), marked AS (
      SELECT user_id, s, e,
             max(e) OVER (PARTITION BY user_id ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max_e
      FROM iv
    ), flagged AS (
      SELECT user_id, s, e,
             CASE WHEN prev_max_e IS NULL OR s > prev_max_e THEN 1 ELSE 0 END
               AS new_island
      FROM marked
    ), islanded AS (
      SELECT user_id, s, e,
             CAST(sum(new_island) OVER (PARTITION BY user_id ORDER BY s, e
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island
      FROM flagged
    ), isl AS (
      SELECT user_id, island,
             CAST(min(s) AS BIGINT) AS is_s, CAST(max(e) AS BIGINT) AS is_e
      FROM islanded GROUP BY user_id, island
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_islands,
           CAST(sum(is_e - is_s) AS BIGINT) AS union_ms,
           CAST(max(is_e) - min(is_s) AS BIGINT) AS span_ms,
           CAST(sum(is_e - is_s) AS DOUBLE) / (max(is_e) - min(is_s)) AS coverage
    FROM isl GROUP BY user_id
    """,
)
def events_interval_union_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-union (coverage) per user: each event opens a 5-minute
    presence interval; overlapping intervals merge by the gaps-and-
    islands sweep (running max of interval ends marks island starts) and
    the union length, island count, span, and coverage ratio come out in
    exact epoch-millisecond BIGINTs — the 'total active time' metric
    that naive sum-of-durations double-counts. span > 0 always (max_e >
    min_s by construction), so the one division is safe. Shape: one
    window pass partitioned by user (two layered frames: running-max
    then running-sum — no window-in-window), one island aggregate, one
    user rollup; at 100 TB each user's sweep is independent and the
    shuffle key is user_id throughout."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    iv = ev.select(
        "user_id",
        F.unix_millis(F.col("ts").cast("timestamp")).alias("s"),
        (F.unix_millis(F.col("ts").cast("timestamp")) + 300000).alias("e"),
    )
    wprev = (
        Window.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wcum = (
        Window.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    flagged = iv.select(
        "user_id",
        "s",
        "e",
        F.when(
            F.max("e").over(wprev).isNull() | (F.col("s") > F.max("e").over(wprev)),
            1,
        )
        .otherwise(0)
        .alias("new_island"),
    )
    islanded = flagged.select(
        "user_id",
        "s",
        "e",
        F.sum("new_island").over(wcum).cast("long").alias("island"),
    )
    isl = islanded.groupBy("user_id", "island").agg(
        F.min("s").cast("long").alias("is_s"), F.max("e").cast("long").alias("is_e")
    )
    return isl.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_islands"),
        F.sum(F.col("is_e") - F.col("is_s")).cast("long").alias("union_ms"),
        (F.max("is_e") - F.min("is_s")).cast("long").alias("span_ms"),
        (
            F.sum(F.col("is_e") - F.col("is_s")).cast("double")
            / (F.max("is_e") - F.min("is_s"))
        ).alias("coverage"),
    )


@register(
    "growth_accounting_weekly",
    oracle="""
    WITH uw AS (
      SELECT DISTINCT user_id,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7 AS w
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ), fw AS (
      SELECT user_id, min(w) AS f FROM uw GROUP BY user_id
    ), cur AS (
      SELECT u.user_id, u.w,
             CASE WHEN u.w = f.f THEN 'new'
                  WHEN p.user_id IS NOT NULL THEN 'retained'
                  ELSE 'resurrected' END AS status
      FROM uw u
      JOIN fw f ON u.user_id = f.user_id
      LEFT JOIN uw p ON p.user_id = u.user_id AND p.w = u.w - 1
    ), weeks AS (
      SELECT DISTINCT w FROM uw
    ), churn AS (
      SELECT u.w + 1 AS w, CAST(count(*) AS BIGINT) AS churned
      FROM uw u
      JOIN weeks wk ON wk.w = u.w + 1
      LEFT JOIN uw nx ON nx.user_id = u.user_id AND nx.w = u.w + 1
      WHERE nx.user_id IS NULL
      GROUP BY u.w + 1
    ), counts AS (
      SELECT w,
             CAST(sum(CASE WHEN status = 'new' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_new,
             CAST(sum(CASE WHEN status = 'retained' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_retained,
             CAST(sum(CASE WHEN status = 'resurrected' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_resurrected
      FROM cur GROUP BY w
    )
    SELECT c.w * 7 AS week_epoch_day,
           c.n_new, c.n_retained, c.n_resurrected,
           CAST(coalesce(ch.churned, 0) AS BIGINT) AS n_churned,
           CASE WHEN coalesce(ch.churned, 0) > 0
                THEN CAST(c.n_new + c.n_resurrected AS DOUBLE) / ch.churned
                END AS quick_ratio
    FROM counts c LEFT JOIN churn ch ON c.w = ch.w
    """,
)
def growth_accounting_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly growth accounting (the new/retained/resurrected/churned
    decomposition of active users, plus the quick ratio
    (new+resurrected)/churned): the standard product-growth ledger in
    which DAU/WAU deltas become attributable flows. Weeks are epoch-day
    DIV 7 buckets (engine-portable, no week-start conventions); every
    flow is an exact BIGINT count from (user, week)-grain set logic —
    first-week = new, prior-week presence = retained, gap-return =
    resurrected, presence-then-absence = churned (attributed to the
    week of absence, only for observed weeks). Shape: one distinct
    (user, week) reduction, then self-joins co-partitioned on user_id;
    the weekly ledger is |weeks| rows at any scale."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    uw = ev.select(
        "user_id",
        F.expr(
            "CAST(datediff(to_date(ts), DATE '1970-01-01') AS BIGINT) DIV 7"
        ).alias("w"),
    ).distinct()
    fw = uw.groupBy("user_id").agg(F.min("w").alias("f"))
    prev = uw.select("user_id", (F.col("w") + 1).alias("w"), F.lit(1).alias("had_prev"))
    cur = (
        uw.join(fw, "user_id")
        .join(prev, ["user_id", "w"], "left")
        .select(
            "w",
            F.when(F.col("w") == F.col("f"), "new")
            .when(F.col("had_prev").isNotNull(), "retained")
            .otherwise("resurrected")
            .alias("status"),
        )
    )
    weeks = uw.select("w").distinct()
    nxt = uw.select("user_id", (F.col("w") - 1).alias("w"), F.lit(1).alias("has_next"))
    churn = (
        uw.join(nxt, ["user_id", "w"], "left")
        .filter(F.col("has_next").isNull())
        .select("user_id", (F.col("w") + 1).alias("w"))
        .join(weeks, "w")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("churned"))
    )
    counts = cur.groupBy("w").agg(
        F.sum(F.when(F.col("status") == "new", 1).otherwise(0))
        .cast("long")
        .alias("n_new"),
        F.sum(F.when(F.col("status") == "retained", 1).otherwise(0))
        .cast("long")
        .alias("n_retained"),
        F.sum(F.when(F.col("status") == "resurrected", 1).otherwise(0))
        .cast("long")
        .alias("n_resurrected"),
    )
    return counts.join(churn, "w", "left").select(
        (F.col("w") * 7).alias("week_epoch_day"),
        "n_new",
        "n_retained",
        "n_resurrected",
        F.coalesce(F.col("churned"), F.lit(0)).cast("long").alias("n_churned"),
        F.when(
            F.coalesce(F.col("churned"), F.lit(0)) > 0,
            (F.col("n_new") + F.col("n_resurrected")).cast("double")
            / F.col("churned"),
        ).alias("quick_ratio"),
    )


@register(
    "events_boxplot_tukey",
    oracle="""
    WITH v AS (
      SELECT event_type, CAST(floor(value * 1000 + 0.5) AS BIGINT) AS x
      FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
    ), q AS (
      SELECT event_type,
             CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY x) AS BIGINT) AS q1,
             CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY x) AS BIGINT) AS q2,
             CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY x) AS BIGINT) AS q3,
             CAST(count(*) AS BIGINT) AS n
      FROM v GROUP BY event_type
    )
    SELECT q.event_type, q.n, q.q1, q.q2, q.q3,
           q.q3 - q.q1 AS iqr,
           CAST(sum(CASE WHEN v.x < q.q1 - 1.5 * (q.q3 - q.q1) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_low_outliers,
           CAST(sum(CASE WHEN v.x > q.q3 + 1.5 * (q.q3 - q.q1) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_high_outliers
    FROM q JOIN v ON q.event_type = v.event_type
    GROUP BY q.event_type, q.n, q.q1, q.q2, q.q3
    """,
)
def events_boxplot_tukey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Box-plot statistics with Tukey fences per event type: exact
    discrete quartiles (percentile_disc over integer milli-units picks
    identical elements in both engines), the IQR, and the count of
    points beyond the 1.5-IQR fences — the screening profile a data-
    quality dashboard renders per column. The fences are doubles but
    compare against exact integers (fixed IEEE ops on identical
    operands). Shape: one quartile aggregate per group, one broadcast
    join back for the fence counts; the second pass shares the
    event_type partitioning. At 100 TB percentile_disc per group would
    swap to the distinct-value cumulative rank idiom (exact_quantiles)."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull() & F.col("value").isNotNull()
    )
    v = ev.select(
        "event_type", F.floor(F.col("value") * 1000 + 0.5).cast("long").alias("x")
    )
    q = v.groupBy("event_type").agg(
        F.expr("CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY x) AS BIGINT)").alias("q1"),
        F.expr("CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY x) AS BIGINT)").alias("q2"),
        F.expr("CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY x) AS BIGINT)").alias("q3"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    lo = F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))
    hi = F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))
    return (
        v.join(F.broadcast(q), "event_type")
        .groupBy("event_type", "n", "q1", "q2", "q3")
        .agg(
            F.sum(F.when(F.col("x") < lo, 1).otherwise(0))
            .cast("long")
            .alias("n_low_outliers"),
            F.sum(F.when(F.col("x") > hi, 1).otherwise(0))
            .cast("long")
            .alias("n_high_outliers"),
        )
        .select(
            "event_type",
            "n",
            "q1",
            "q2",
            "q3",
            (F.col("q3") - F.col("q1")).alias("iqr"),
            "n_low_outliers",
            "n_high_outliers",
        )
    )


@register(
    "rfm_segment_migration",
    oracle="""
    WITH p1 AS (
      SELECT user_id, CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS m
      FROM events
      WHERE event_type = 'purchase' AND user_id IS NOT NULL
        AND CAST(ts AS DATE) < DATE '2024-01-16'
      GROUP BY user_id
    ), p2 AS (
      SELECT user_id, CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS m
      FROM events
      WHERE event_type = 'purchase' AND user_id IS NOT NULL
        AND CAST(ts AS DATE) >= DATE '2024-01-16'
      GROUP BY user_id
    ), s1 AS (
      SELECT user_id,
             CAST(ntile(4) OVER (ORDER BY m DESC, user_id) AS BIGINT) AS seg
      FROM p1
    ), s2 AS (
      SELECT user_id,
             CAST(ntile(4) OVER (ORDER BY m DESC, user_id) AS BIGINT) AS seg
      FROM p2
    )
    SELECT CAST(coalesce(s1.seg, 0) AS BIGINT) AS seg_from,
           CAST(coalesce(s2.seg, 0) AS BIGINT) AS seg_to,
           CAST(count(*) AS BIGINT) AS n_users
    FROM s1 FULL OUTER JOIN s2 ON s1.user_id = s2.user_id
    GROUP BY 1, 2
    """,
)
def rfm_segment_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-value segment migration matrix: spend-quartile segment in
    the first half of the observation window vs the second (segment 0 =
    absent that period) — the retention-marketing flow diagram behind
    'how many VIPs lapsed'. Quartiles are ntile(4) over exact integer
    cents with user_id-pinned boundaries, each computed by
    `distributed_ntile` (operators/relational.py: range shuffle +
    per-partition rank + bounded offset broadcast — no single-partition
    window over the user table); the matrix is a FULL OUTER join of the
    two segment maps (exercising the outer-join null-key path)
    aggregated to at most 25 cells. Shape: two filtered aggregates + two
    distributed rank passes + one user-keyed outer join."""
    ev = load_table(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase") & F.col("user_id").isNotNull()
    )
    pivot = F.lit("2024-01-16").cast("date")

    def seg(df):
        return distributed_ntile(
            df, 4, [F.col("m").desc(), F.col("user_id")], out_col="seg"
        ).select("user_id", "seg")

    p1 = (
        ev.filter(F.to_date("ts") < pivot)
        .groupBy("user_id")
        .agg(F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long")).cast("long").alias("m"))
    )
    p2 = (
        ev.filter(F.to_date("ts") >= pivot)
        .groupBy("user_id")
        .agg(F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long")).cast("long").alias("m"))
    )
    s1 = seg(p1).select("user_id", F.col("seg").alias("seg_from"))
    s2 = seg(p2).select("user_id", F.col("seg").alias("seg_to"))
    return (
        s1.join(s2, "user_id", "full_outer")
        .groupBy(
            F.coalesce(F.col("seg_from"), F.lit(0)).cast("long").alias("seg_from"),
            F.coalesce(F.col("seg_to"), F.lit(0)).cast("long").alias("seg_to"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    )


@register(
    "revenue_yoy_same_month",
    oracle="""
    WITH m AS (
      SELECT CAST(date_part('year', CAST(o_orderdate AS DATE)) AS BIGINT) AS y,
             CAST(date_part('month', CAST(o_orderdate AS DATE)) AS BIGINT) AS mo,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
      FROM orders WHERE o_orderdate IS NOT NULL
      GROUP BY 1, 2
    )
    SELECT c.y, c.mo, c.cents AS rev_cents, p.cents AS prev_year_cents,
           CASE WHEN p.cents > 0
                THEN (CAST(c.cents AS DOUBLE) - p.cents) / p.cents END AS yoy_growth
    FROM m c LEFT JOIN m p ON p.y = c.y - 1 AND p.mo = c.mo
    """,
)
def revenue_yoy_same_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue growth by calendar month — the seasonal-
    baseline comparison (this June vs last June) that a plain
    month-over-month delta conflates with seasonality. Exact integer
    cents; the self-join on (year-1, month) is the idiomatic seasonal
    lag when the series may have gaps (a LAG(12) window would silently
    compare against the wrong month across a gap). One month-grain
    aggregate, then a tiny self-join; NULL growth where the base year is
    absent or zero."""
    orders = load_table(spark, sf_dir, "orders")
    m = (
        orders.filter(F.col("o_orderdate").isNotNull())
        .groupBy(
            F.year(F.to_date("o_orderdate")).cast("long").alias("y"),
            F.month(F.to_date("o_orderdate")).cast("long").alias("mo"),
        )
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    p = m.select(
        (F.col("y") + 1).alias("y"), F.col("mo"), F.col("cents").alias("prev_year_cents")
    )
    return (
        m.join(F.broadcast(p), ["y", "mo"], "left")
        .select(
            "y",
            "mo",
            F.col("cents").alias("rev_cents"),
            "prev_year_cents",
            F.when(
                F.col("prev_year_cents") > 0,
                (F.col("cents").cast("double") - F.col("prev_year_cents"))
                / F.col("prev_year_cents"),
            ).alias("yoy_growth"),
        )
    )


@register(
    "cohort_net_revenue_retention",
    oracle="""
    WITH fo AS (
      SELECT o_custkey,
             min(CAST(date_part('year', CAST(o_orderdate AS DATE)) AS BIGINT))
               AS cohort_y
      FROM orders WHERE o_orderdate IS NOT NULL
      GROUP BY o_custkey
    ), rev AS (
      SELECT o.o_custkey, f.cohort_y,
             CAST(date_part('year', CAST(o.o_orderdate AS DATE)) AS BIGINT) AS y,
             CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders o JOIN fo f ON o.o_custkey = f.o_custkey
      WHERE o.o_orderdate IS NOT NULL
    ), agg AS (
      SELECT cohort_y,
             CAST(sum(CASE WHEN y = cohort_y THEN cents ELSE 0 END) AS BIGINT)
               AS base_cents,
             CAST(sum(CASE WHEN y = cohort_y + 1 THEN cents ELSE 0 END) AS BIGINT)
               AS next_cents,
             CAST(count(DISTINCT CASE WHEN y = cohort_y THEN o_custkey END)
                  AS BIGINT) AS base_customers,
             CAST(count(DISTINCT CASE WHEN y = cohort_y + 1 THEN o_custkey END)
                  AS BIGINT) AS retained_customers
      FROM rev GROUP BY cohort_y
    )
    SELECT cohort_y, base_customers, retained_customers, base_cents, next_cents,
           CASE WHEN base_cents > 0
                THEN CAST(next_cents AS DOUBLE) / base_cents END AS nrr
    FROM agg
    """,
)
def cohort_net_revenue_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Net revenue retention by acquisition-year cohort: the revenue a
    cohort's customers generate in their SECOND year divided by their
    first-year revenue — the SaaS board metric that folds churn,
    contraction, and expansion into one exact ratio (here on exact
    integer cents, so the division is the only float op). Shape: one
    first-touch aggregate, one customer-keyed join back (co-partitioned),
    one cohort rollup with conditional sums — no windows; linear at any
    scale."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull()
    )
    fo = orders.groupBy("o_custkey").agg(
        F.min(F.year(F.to_date("o_orderdate")).cast("long")).alias("cohort_y")
    )
    rev = orders.join(fo, "o_custkey").select(
        "o_custkey",
        "cohort_y",
        F.year(F.to_date("o_orderdate")).cast("long").alias("y"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("cents"),
    )
    agg = rev.groupBy("cohort_y").agg(
        F.sum(F.when(F.col("y") == F.col("cohort_y"), F.col("cents")).otherwise(0))
        .cast("long")
        .alias("base_cents"),
        F.sum(
            F.when(F.col("y") == F.col("cohort_y") + 1, F.col("cents")).otherwise(0)
        )
        .cast("long")
        .alias("next_cents"),
        F.countDistinct(
            F.when(F.col("y") == F.col("cohort_y"), F.col("o_custkey"))
        )
        .cast("long")
        .alias("base_customers"),
        F.countDistinct(
            F.when(F.col("y") == F.col("cohort_y") + 1, F.col("o_custkey"))
        )
        .cast("long")
        .alias("retained_customers"),
    )
    return agg.select(
        "cohort_y",
        "base_customers",
        "retained_customers",
        "base_cents",
        "next_cents",
        F.when(
            F.col("base_cents") > 0,
            F.col("next_cents").cast("double") / F.col("base_cents"),
        ).alias("nrr"),
    )


@register(
    "funnel_time_bounded",
    oracle="""
    WITH e AS (
      SELECT user_id, event_type, epoch_ms(ts) AS ms
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ), w1 AS (
      SELECT user_id, event_type, ms,
             min(CASE WHEN event_type = 'view' THEN ms END)
               OVER (PARTITION BY user_id) AS t_view
      FROM e
    ), w2 AS (
      SELECT *, min(CASE WHEN event_type = 'click' AND ms >= t_view
                              AND ms <= t_view + 3600000 THEN ms END)
               OVER (PARTITION BY user_id) AS t_click
      FROM w1
    ), w3 AS (
      SELECT *, min(CASE WHEN event_type = 'purchase' AND ms >= t_click
                              AND ms <= t_click + 86400000 THEN ms END)
               OVER (PARTITION BY user_id) AS t_purchase
      FROM w2
    ), u AS (
      SELECT user_id, min(t_view) AS t_view, min(t_click) AS t_click,
             min(t_purchase) AS t_purchase
      FROM w3 GROUP BY user_id
    )
    SELECT CAST(count(t_view) AS BIGINT) AS n_view,
           CAST(count(t_click) AS BIGINT) AS n_click_1h,
           CAST(count(t_purchase) AS BIGINT) AS n_purchase_24h,
           CAST(floor(count(t_click) * 1000000.0
                      / nullif(count(t_view), 0)) AS BIGINT)
             AS click_rate_ppm,
           CAST(floor(count(t_purchase) * 1000000.0
                      / nullif(count(t_click), 0)) AS BIGINT)
             AS purchase_rate_ppm
    FROM u
    """,
)
def funnel_time_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-BOUNDED strict-order funnel: first view → first click within
    ONE HOUR of that view → first purchase within 24 HOURS of that
    click. The unbounded funnel (funnel_conversion) over-credits stale
    journeys — a click three weeks after the view is not the same
    intent; attribution windows are how real funnels are defined.

    Same single-exchange shape as the unbounded version: three
    whole-partition window passes share ONE user_id exchange, the
    per-user collapse reuses it, and the final scalar rates are one
    1-row aggregate. All bounds are exact epoch-ms integer comparisons;
    conversion rates emit as exact ppm integers (floor(x*1e6 + 0.5)
    nearest-integer scaling — no float division in the hash)."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    ms = F.unix_millis(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id")
    df = ev.select("user_id", "event_type", ms.alias("ms"))
    df = df.withColumn(
        "t_view", F.min(F.when(F.col("event_type") == "view", F.col("ms"))).over(w)
    )
    df = df.withColumn(
        "t_click",
        F.min(
            F.when(
                (F.col("event_type") == "click")
                & (F.col("ms") >= F.col("t_view"))
                & (F.col("ms") <= F.col("t_view") + 3600000),
                F.col("ms"),
            )
        ).over(w),
    )
    df = df.withColumn(
        "t_purchase",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ms") >= F.col("t_click"))
                & (F.col("ms") <= F.col("t_click") + 86400000),
                F.col("ms"),
            )
        ).over(w),
    )
    u = df.groupBy("user_id").agg(
        F.min("t_view").alias("t_view"),
        F.min("t_click").alias("t_click"),
        F.min("t_purchase").alias("t_purchase"),
    )
    return u.agg(
        F.count("t_view").cast("long").alias("n_view"),
        F.count("t_click").cast("long").alias("n_click_1h"),
        F.count("t_purchase").cast("long").alias("n_purchase_24h"),
        F.floor(
            F.try_divide(
                F.count("t_click") * F.lit(1000000.0),
                F.nullif(F.count("t_view"), F.lit(0)),
            )
        )
        .cast("long")
        .alias("click_rate_ppm"),
        F.floor(
            F.try_divide(
                F.count("t_purchase") * F.lit(1000000.0),
                F.nullif(F.count("t_click"), F.lit(0)),
            )
        )
        .cast("long")
        .alias("purchase_rate_ppm"),
    )


_STATIONARY_ROUNDS = 6


def _markov_stationary_oracle(rounds: int = _STATIONARY_ROUNDS) -> str:
    """Unrolled power-iteration twin. Every per-state sum is a
    list_reduce over a list(... ORDER BY ...) — the pinned-order fold
    idiom (see stats_anova_f) that makes a float summation identical in
    both engines regardless of layout. AS MATERIALIZED everywhere: DuckDB
    inlines multiply-referenced CTEs, which would make the unrolled
    recursion exponential (the BPE/k-core lesson)."""
    pre = """
    WITH nxt AS MATERIALIZED (
      SELECT event_type AS i,
             lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS j
      FROM events WHERE event_type IS NOT NULL
    ),
    tr AS MATERIALIZED (
      SELECT i, j, count(*)::BIGINT AS n FROM nxt
      WHERE j IS NOT NULL GROUP BY i, j
    ),
    st AS MATERIALIZED (SELECT DISTINCT i FROM tr),
    p AS MATERIALIZED (
      SELECT i, j, CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY i) AS p
      FROM tr
    ),
    p2 AS MATERIALIZED (SELECT p.i, p.j, p.p FROM p JOIN st ON p.j = st.i),
    kk AS MATERIALIZED (SELECT count(*)::BIGINT AS k FROM st),
    pi0 AS MATERIALIZED (
      SELECT st.i AS s, CAST(1 AS DOUBLE) / kk.k AS v FROM st, kk
    )"""
    its = []
    for r in range(1, rounds + 1):
        its.append(f"""
    raw{r} AS MATERIALIZED (
      SELECT p2.j AS s,
             list_reduce(list(pi{r - 1}.v * p2.p ORDER BY p2.i),
                         (a, b) -> a + b) AS v
      FROM p2 JOIN pi{r - 1} ON p2.i = pi{r - 1}.s
      GROUP BY p2.j
    ),
    tot{r} AS MATERIALIZED (
      SELECT list_reduce(list(v ORDER BY s), (a, b) -> a + b) AS t FROM raw{r}
    ),
    pi{r} AS MATERIALIZED (
      SELECT s, v / nullif(tot{r}.t, 0) AS v FROM raw{r}, tot{r}
    )""")
    return (
        pre
        + ","
        + ",".join(its)
        + f"""
    SELECT st.i AS event_type,
           round(coalesce(pi{rounds}.v, CAST(0 AS DOUBLE)), 6) AS stationary_p
    FROM st LEFT JOIN pi{rounds} ON st.i = pi{rounds}.s
    """
    )


@register("events_markov_stationary", oracle=_markov_stationary_oracle())
def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the per-user event-type Markov chain —
    the long-run state occupancy (where do user journeys spend their
    time) derived from the same transition matrix as
    `events_markov_transitions`, via a bounded power iteration
    (6 rounds, renormalized each round because transitions into
    never-a-source states leak mass out of the restricted chain).

    Distributed shape: the heavy work is the ONE per-user lag window +
    |types|² count aggregate; the iteration itself runs entirely on the
    k-state vector against the k² matrix (joins on tiny checkpointed
    tables — at 100 TB this is the canonical "aggregate first, iterate
    on the summary" posture, the matrix never rescans the events). Every
    cross-state sum — both the matrix-vector product and the
    renormalizer — is folded in pinned state order (array_sort +
    sequential fold / list ORDER BY), so the doubles are identical in
    both engines and the oracle replays all 6 rounds exactly."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = (
        ev.filter(F.col("event_type").isNotNull())
        .select(
            F.col("event_type").alias("i"),
            F.lead("event_type").over(w).alias("j"),
        )
        .filter(F.col("j").isNotNull())
    )
    tr = nxt.groupBy("i", "j").agg(F.count(F.lit(1)).cast("long").alias("n"))
    states = materialize(tr.select("i").distinct())
    rs = Window.partitionBy("i")
    p = tr.select(
        "i", "j", (F.col("n").cast("double") / F.sum("n").over(rs)).alias("p")
    )
    p2 = materialize(p.join(states.select(F.col("i").alias("j")), "j", "left_semi"))
    kk = states.agg(F.count(F.lit(1)).cast("long").alias("k"))
    pi = materialize(states.crossJoin(F.broadcast(kk)).select(
        F.col("i").alias("s"), (F.lit(1.0) / F.col("k")).alias("v")
    ))
    for _ in range(_STATIONARY_ROUNDS):
        raw = materialize(
            p2.join(pi, p2["i"] == pi["s"])
            .groupBy("j")
            .agg(
                F.aggregate(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("i", (F.col("v") * F.col("p")).alias("t")))
                        ),
                        lambda x: x["t"],
                    ),
                    F.lit(0.0),
                    lambda acc, t: acc + t,
                ).alias("v")
            )
            .select(F.col("j").alias("s"), "v")
            # checkpoint the UNNORMALIZED vector, not pi: raw has two
            # consumers (the renormalizer aggregate and the division), so
            # checkpointing downstream of both re-executed the round's
            # join+aggregate twice per round (r12); pi stays a lazy 1-level
            # projection over this materialized k-row table
        )
        tot = raw.agg(
            F.aggregate(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("s", "v"))),
                    lambda x: x["v"],
                ),
                F.lit(0.0),
                lambda acc, t: acc + t,
            ).alias("t")
        )
        pi = raw.crossJoin(F.broadcast(tot)).select(
            "s", F.try_divide(F.col("v"), F.col("t")).alias("v")
        )
    return states.join(pi, states["i"] == pi["s"], "left").select(
        F.col("i").alias("event_type"),
        F.round(F.coalesce("v", F.lit(0.0)), 6).alias("stationary_p"),
    )


@register(
    "revenue_share_of_parent",
    oracle="""
    WITH b AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      WHERE o.o_totalprice IS NOT NULL
    ),
    nat AS (
      SELECT region, nation, CAST(sum(cents) AS BIGINT) AS rev
      FROM b GROUP BY region, nation
    ),
    reg AS (
      SELECT region, CAST(sum(rev) AS BIGINT) AS reg_rev FROM nat GROUP BY region
    ),
    tot AS (SELECT CAST(sum(reg_rev) AS BIGINT) AS t FROM reg)
    SELECT nat.region, nat.nation,
           round(nat.rev / 1e2, 2) AS revenue,
           round(CAST(nat.rev AS DOUBLE) / nullif(reg.reg_rev, 0), 6)
             AS share_of_region,
           round(CAST(reg.reg_rev AS DOUBLE) / nullif(tot.t, 0), 6)
             AS region_share_of_total
    FROM nat JOIN reg USING (region), tot
    """,
)
def revenue_share_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-parent hierarchy rollup: each nation's revenue as a share
    of its region, and each region's share of the corporate total — the
    drill-down ratio every BI hierarchy renders next to the absolute
    number (and the piece ROLLUP alone doesn't give you, since it emits
    levels without cross-level ratios).

    Shape: the star join runs entirely on broadcast dimensions (customer
    → nation → region are all small sides), one exact-cents hash
    aggregate at the leaf grain, and then the parent levels are re-sums
    of the ≤|nations| aggregate — integer sums at every level, so the
    two share divisions are deterministic doubles at O(1) magnitude
    (safe round grain). At 100 TB the only data-sized stage is the leaf
    aggregate."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    region = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    b = (
        orders.filter(F.col("o_totalprice").isNotNull())
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
        .select(
            F.col("r_name").alias("region"),
            F.col("n_name").alias("nation"),
            F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("cents"),
        )
    )
    nat = b.groupBy("region", "nation").agg(
        F.sum("cents").cast("long").alias("rev")
    )
    reg = nat.groupBy("region").agg(F.sum("rev").cast("long").alias("reg_rev"))
    tot = reg.agg(F.sum("reg_rev").cast("long").alias("t"))
    return (
        nat.join(reg, "region")
        .crossJoin(F.broadcast(tot))
        .select(
            "region",
            "nation",
            F.round(F.col("rev") / F.lit(1e2), 2).alias("revenue"),
            F.round(
                F.try_divide(F.col("rev").cast("double"), F.col("reg_rev")), 6
            ).alias("share_of_region"),
            F.round(
                F.try_divide(F.col("reg_rev").cast("double"), F.col("t")), 6
            ).alias("region_share_of_total"),
        )
    )
