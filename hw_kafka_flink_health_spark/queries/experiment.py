"""Experimentation & drift-monitoring queries: mutual information /
Cramér's V between categorical features, PSI distribution drift, and a
CUPED variance-reduced A/B readout.

Extension surface (SURVEY.md §2.C, statistics/LLM-pipeline family): the
monitoring layer every production model and data pipeline runs — feature
relevance (MI), input drift (PSI), and experiment readouts (CUPED) — all
exact, all expressed as one or two hash aggregates plus scalar algebra on
sufficient statistics (the `queries/inference.py` posture: nothing
rescans or globally sorts raw rows). Logarithms appear only in OUTPUT
values (rounded, so cross-engine libm ulp jitter is absorbed), never in
group keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hw_kafka_flink_health_spark.operators.mlprep import hash_unit
from hw_kafka_flink_health_spark.queries._registry import register
from hw_kafka_flink_health_spark.sources.files import (
    load_table,
    materialize,
    rebalance_if_narrow,
)

_PIVOT = "2024-01-16"  # events span 2024-01; first half = covariate period


@register(
    "stats_mutual_information",
    oracle="""
    WITH joint AS (
      SELECT p_brand AS x, p_type AS y, count(*)::BIGINT AS nxy
      FROM part GROUP BY 1, 2
    ),
    marg AS (
      SELECT x, y, nxy,
             sum(nxy) OVER (PARTITION BY x) AS nx,
             sum(nxy) OVER (PARTITION BY y) AS ny,
             sum(nxy) OVER () AS n
      FROM joint
    )
    SELECT max(n)::BIGINT AS n,
           count(DISTINCT x)::BIGINT AS r,
           count(DISTINCT y)::BIGINT AS c,
           round(sum((nxy / CAST(n AS DOUBLE))
                     * ln(nxy * CAST(n AS DOUBLE) / (nx * ny))), 6) AS mi_nats,
           round(sqrt(sum(pow(nxy - nx * ny / CAST(n AS DOUBLE), 2)
                          / (nx * ny / CAST(n AS DOUBLE)))
                      / nullif(max(n) * least(count(DISTINCT x) - 1,
                                              count(DISTINCT y) - 1), 0)),
                 6) AS cramers_v
    FROM marg
    """,
)
def stats_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information (nats) and Cramér's V between part brand and
    part type — the exact feature-association report an ML-prep pipeline
    uses to rank categorical features.

    One hash aggregate to the r×c joint contingency table (≤150 cells
    here, bounded by feature cardinality at any data size); margins are
    windows over that tiny table, MI/chi²/V are scalar algebra on it.
    The ln() sits in an output aggregate behind round(6) — never in a
    comparison or key — so libm ulp drift cannot flip the hash."""
    part = load_table(spark, sf_dir, "part")
    joint = part.groupBy(
        F.col("p_brand").alias("x"), F.col("p_type").alias("y")
    ).agg(F.count(F.lit(1)).cast("long").alias("nxy"))
    marg = joint.select(
        "x",
        "y",
        "nxy",
        F.sum("nxy").over(Window.partitionBy("x")).alias("nx"),
        F.sum("nxy").over(Window.partitionBy("y")).alias("ny"),
        F.sum("nxy")
        .over(Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        .alias("n"),
    )
    n_d = F.col("n").cast("double")
    exp = F.col("nx") * F.col("ny") / n_d
    chi2 = F.sum(F.pow(F.col("nxy") - exp, F.lit(2)) / exp)
    return marg.agg(
        F.max("n").cast("long").alias("n"),
        F.count_distinct("x").cast("long").alias("r"),
        F.count_distinct("y").cast("long").alias("c"),
        F.round(
            F.sum(
                (F.col("nxy") / n_d)
                * F.log(F.col("nxy") * n_d / (F.col("nx") * F.col("ny")))
            ),
            6,
        ).alias("mi_nats"),
        F.round(
            F.sqrt(
                F.try_divide(
                    chi2,
                    F.max("n")
                    * F.least(
                        F.count_distinct("x") - 1, F.count_distinct("y") - 1
                    ),
                )
            ),
            6,
        ).alias("cramers_v"),
    )


@register(
    "drift_psi_events",
    oracle=f"""
    WITH tagged AS (
      SELECT value AS v, CAST(ts < TIMESTAMP '{_PIVOT}' AS INTEGER) AS in_a
      FROM events WHERE value IS NOT NULL
    ),
    bounds AS (
      SELECT min(v) AS lo, max(v) AS hi FROM tagged
    ),
    binned AS (
      SELECT least(CAST(floor((v - lo) / nullif(hi - lo, 0) * 10) AS BIGINT), 9)
               AS bin,
             in_a
      FROM tagged, bounds
    ),
    per_bin AS (
      SELECT bin,
             sum(in_a)::BIGINT AS n_a,
             sum(1 - in_a)::BIGINT AS n_b,
             sum(sum(in_a)) OVER ()::BIGINT AS tot_a,
             sum(sum(1 - in_a)) OVER ()::BIGINT AS tot_b
      FROM binned GROUP BY bin
    )
    SELECT bin, n_a, n_b,
           round(greatest(coalesce(n_a / nullif(CAST(tot_a AS DOUBLE), 0), 0.0),
                          1e-6), 6) AS p_a,
           round(greatest(coalesce(n_b / nullif(CAST(tot_b AS DOUBLE), 0), 0.0),
                          1e-6), 6) AS p_b,
           round((greatest(coalesce(n_b / nullif(CAST(tot_b AS DOUBLE), 0), 0.0),
                           1e-6)
                  - greatest(coalesce(n_a / nullif(CAST(tot_a AS DOUBLE), 0), 0.0),
                             1e-6))
                 * ln(greatest(coalesce(n_b / nullif(CAST(tot_b AS DOUBLE), 0), 0.0),
                               1e-6)
                      / greatest(coalesce(n_a / nullif(CAST(tot_a AS DOUBLE), 0),
                                          0.0), 1e-6)),
                 6) AS psi_term
    FROM per_bin
    """,
)
def drift_psi_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of the event-value distribution,
    first half of the month (baseline A) vs second half (current B) —
    the standard model-input drift monitor (PSI > 0.2 ⇒ investigate).

    Equal-width decile bins over the combined min/max (integer floor
    rule, both engines bin boundary values identically; the 1-row bounds
    aggregate broadcasts). One pass tags and bins every event, one hash
    aggregate per bin, and the probability floors (1e-6) make empty-bin
    terms finite — mirrored exactly in the oracle. Per-bin psi_term rows
    sum to the headline PSI."""
    ev = load_table(spark, sf_dir, "events")
    tagged = ev.filter(F.col("value").isNotNull()).select(
        F.col("value").alias("v"),
        (F.col("ts").cast("timestamp") < F.lit(_PIVOT).cast("timestamp"))
        .cast("int")
        .alias("in_a"),
    )
    bounds = tagged.agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
    binned = tagged.crossJoin(F.broadcast(bounds)).select(
        F.least(
            F.floor(
                (F.col("v") - F.col("lo"))
                / F.nullif(F.col("hi") - F.col("lo"), F.lit(0))
                * 10
            ).cast("long"),
            F.lit(9),
        ).alias("bin"),
        "in_a",
    )
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    per_bin = (
        binned.groupBy("bin")
        .agg(
            F.sum("in_a").cast("long").alias("n_a"),
            F.sum(1 - F.col("in_a")).cast("long").alias("n_b"),
        )
        .select(
            "bin",
            "n_a",
            "n_b",
            F.sum("n_a").over(wall).cast("long").alias("tot_a"),
            F.sum("n_b").over(wall).cast("long").alias("tot_b"),
        )
    )
    # an entirely-empty period (tot = 0, e.g. a one-row fixture) must
    # yield the floor probability, not an ANSI divide error — mirrored by
    # the oracle's coalesce(nullif(...)) chain
    p_a = F.greatest(
        F.coalesce(
            F.try_divide(F.col("n_a"), F.col("tot_a").cast("double")), F.lit(0.0)
        ),
        F.lit(1e-6),
    )
    p_b = F.greatest(
        F.coalesce(
            F.try_divide(F.col("n_b"), F.col("tot_b").cast("double")), F.lit(0.0)
        ),
        F.lit(1e-6),
    )
    return per_bin.select(
        "bin",
        "n_a",
        "n_b",
        F.round(p_a, 6).alias("p_a"),
        F.round(p_b, 6).alias("p_b"),
        F.round((p_b - p_a) * F.log(p_b / p_a), 6).alias("psi_term"),
    )


@register(
    "stats_cuped_adjusted_diff",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             CAST(CAST(concat('0x', substr(md5(concat(CAST(user_id AS VARCHAR),
                       'ab')), 1, 8)) AS BIGINT) / 4294967296.0 < 0.5
                  AS INTEGER) AS arm,
             avg(value) FILTER (ts < TIMESTAMP '{_PIVOT}') AS x,
             avg(value) FILTER (ts >= TIMESTAMP '{_PIVOT}') AS y
      FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
      GROUP BY user_id
    ),
    complete AS (
      SELECT arm, x, y FROM per_user WHERE x IS NOT NULL AND y IS NOT NULL
    ),
    theta AS (
      SELECT covar_samp(y, x) / nullif(var_samp(x), 0) AS th,
             avg(x) AS mean_x
      FROM complete
    )
    SELECT arm, count(*)::BIGINT AS n,
           round(avg(y), 4) AS mean_y,
           round(avg(y - th * (x - mean_x)), 4) AS mean_y_cuped,
           round(var_samp(y), 4) AS var_y,
           round(var_samp(y - th * (x - mean_x)), 4) AS var_y_cuped
    FROM complete, theta
    GROUP BY arm
    """,
)
def stats_cuped_adjusted_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced A/B readout: users hash-split 50/50 (the
    md5-unit idiom — deterministic, replayable), outcome y = second-half
    mean event value, covariate x = the user's own FIRST-half mean.
    y_cuped = y − θ(x − x̄) with θ = cov(y,x)/var(x) strips the
    between-user variance that x explains, shrinking the readout's CI
    without biasing the arm difference (E[x] is assignment-independent).

    Shuffle budget: one per-user aggregate (conditional avg per period),
    a 1-row θ aggregate broadcast back, one per-arm aggregate. The
    degenerate var(x)=0 corpus gives NULL θ → NULL adjusted columns in
    both engines."""
    ev = load_table(spark, sf_dir, "events")
    pivot = F.lit(_PIVOT).cast("timestamp")
    ts = F.col("ts").cast("timestamp")
    # NULL user_id rows are excluded (concat-with-NULL semantics differ
    # across engines, and an unattributable event belongs to no arm)
    u = hash_unit(F.col("user_id"), "ab")
    per_user = (
        ev.filter(F.col("value").isNotNull() & F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(
            F.avg(F.when(ts < pivot, F.col("value"))).alias("x"),
            F.avg(F.when(ts >= pivot, F.col("value"))).alias("y"),
        )
        .withColumn("arm", (u < 0.5).cast("int"))
    )
    complete = per_user.filter(
        F.col("x").isNotNull() & F.col("y").isNotNull()
    ).select("arm", "x", "y")
    theta = complete.agg(
        F.try_divide(F.covar_samp("y", "x"), F.var_samp("x")).alias("th"),
        F.avg("x").alias("mean_x"),
    )
    adj = F.col("y") - F.col("th") * (F.col("x") - F.col("mean_x"))
    return (
        complete.crossJoin(F.broadcast(theta))
        .groupBy("arm")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.avg("y"), 4).alias("mean_y"),
            F.round(F.avg(adj), 4).alias("mean_y_cuped"),
            F.round(F.var_samp("y"), 4).alias("var_y"),
            F.round(F.var_samp(adj), 4).alias("var_y_cuped"),
        )
    )


@register(
    "stats_did_estimator",
    oracle=f"""
    WITH base AS (
      SELECT CAST(CAST(concat('0x', substr(md5(concat(CAST(user_id AS VARCHAR),
                   'did')), 1, 8)) AS BIGINT) / 4294967296.0 < 0.5
                  AS INTEGER) AS treat,
             CAST(ts >= TIMESTAMP '{{pivot}}' AS INTEGER) AS post,
             value
      FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
    ), cells AS (
      SELECT treat, post, CAST(count(*) AS BIGINT) AS n,
             avg(value) AS m, var_samp(value) AS v
      FROM base GROUP BY treat, post
    ), wide AS (
      SELECT
        max(CASE WHEN treat = 1 AND post = 1 THEN m END) AS m_t1,
        max(CASE WHEN treat = 1 AND post = 0 THEN m END) AS m_t0,
        max(CASE WHEN treat = 0 AND post = 1 THEN m END) AS m_c1,
        max(CASE WHEN treat = 0 AND post = 0 THEN m END) AS m_c0,
        max(CASE WHEN treat = 1 AND post = 1 THEN v / n END) AS s_t1,
        max(CASE WHEN treat = 1 AND post = 0 THEN v / n END) AS s_t0,
        max(CASE WHEN treat = 0 AND post = 1 THEN v / n END) AS s_c1,
        max(CASE WHEN treat = 0 AND post = 0 THEN v / n END) AS s_c0,
        CAST(sum(n) AS BIGINT) AS n_total
      FROM cells
    )
    SELECT n_total,
           round(m_t1 - m_t0, 4) AS delta_treat,
           round(m_c1 - m_c0, 4) AS delta_control,
           round((m_t1 - m_t0) - (m_c1 - m_c0), 4) AS did,
           round(sqrt(s_t1 + s_t0 + s_c1 + s_c0), 4) AS se_did
    FROM wide
    """.replace("{pivot}", _PIVOT),
)
def stats_did_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences: treatment = deterministic md5 hash
    split of users, periods split at the data midpoint, outcome = event
    value. DiD = (treat_post - treat_pre) - (ctrl_post - ctrl_pre)
    removes both the arm-level baseline difference and the common time
    trend; the SE is the independent-cells Welch form sqrt(sum var/n).

    One conditional hash aggregate produces the 2x2 cells; everything
    after is 4-row algebra — the 100 TB cost is the scan. The var/n
    terms divide per-cell, so an empty cell yields NULL columns (not an
    ANSI error) in both engines."""
    ev = load_table(spark, sf_dir, "events")
    pivot = F.lit(_PIVOT).cast("timestamp")
    base = (
        ev.filter(F.col("value").isNotNull() & F.col("user_id").isNotNull())
        .select(
            (hash_unit(F.col("user_id"), "did") < 0.5).cast("int").alias("treat"),
            (F.col("ts").cast("timestamp") >= pivot).cast("int").alias("post"),
            "value",
        )
    )
    cells = base.groupBy("treat", "post").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.avg("value").alias("m"),
        F.var_samp("value").alias("v"),
    )

    def cell(tr: int, po: int, col: str):
        return F.max(
            F.when((F.col("treat") == tr) & (F.col("post") == po), F.col(col))
        )

    wide = cells.withColumn("vn", F.try_divide(F.col("v"), F.col("n"))).agg(
        cell(1, 1, "m").alias("m_t1"),
        cell(1, 0, "m").alias("m_t0"),
        cell(0, 1, "m").alias("m_c1"),
        cell(0, 0, "m").alias("m_c0"),
        cell(1, 1, "vn").alias("s_t1"),
        cell(1, 0, "vn").alias("s_t0"),
        cell(0, 1, "vn").alias("s_c1"),
        cell(0, 0, "vn").alias("s_c0"),
        F.sum("n").cast("bigint").alias("n_total"),
    )
    return wide.select(
        "n_total",
        F.round(F.col("m_t1") - F.col("m_t0"), 4).alias("delta_treat"),
        F.round(F.col("m_c1") - F.col("m_c0"), 4).alias("delta_control"),
        F.round(
            (F.col("m_t1") - F.col("m_t0")) - (F.col("m_c1") - F.col("m_c0")), 4
        ).alias("did"),
        F.round(
            F.sqrt(F.col("s_t1") + F.col("s_t0") + F.col("s_c1") + F.col("s_c0")),
            4,
        ).alias("se_did"),
    )


_TAU_SQ = 0.0001  # mSPRT mixture variance (tau = 1% absolute effect prior)


@register(
    "stats_msprt_always_valid",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             CAST(CAST(concat('0x', substr(md5(concat(CAST(user_id AS VARCHAR),
                       'seq')), 1, 8)) AS BIGINT) / 4294967296.0 < 0.5
                  AS INTEGER) AS arm,
             CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS INTEGER) AS converted
      FROM events WHERE user_id IS NOT NULL GROUP BY user_id
    ), agg AS (
      SELECT CAST(count(*) FILTER (arm = 1) AS BIGINT) AS n_t,
             CAST(count(*) FILTER (arm = 0) AS BIGINT) AS n_c,
             CAST(sum(converted) FILTER (arm = 1) AS BIGINT) AS x_t,
             CAST(sum(converted) FILTER (arm = 0) AS BIGINT) AS x_c
      FROM per_user
    ), stat AS (
      SELECT n_t, n_c, x_t, x_c,
             x_t / nullif(CAST(n_t AS DOUBLE), 0)
               - x_c / nullif(CAST(n_c AS DOUBLE), 0) AS diff,
             ((x_t + x_c) / nullif(CAST(n_t + n_c AS DOUBLE), 0))
               * (1 - (x_t + x_c) / nullif(CAST(n_t + n_c AS DOUBLE), 0))
               * (1.0 / nullif(CAST(n_t AS DOUBLE), 0)
                  + 1.0 / nullif(CAST(n_c AS DOUBLE), 0)) AS v
      FROM agg
    )
    SELECT n_t, n_c, x_t, x_c, round(diff, 6) AS diff,
           round(sqrt(v / (v + {_TAU_SQ!r}))
                 * exp({_TAU_SQ!r} * diff * diff
                       / nullif(2 * v * (v + {_TAU_SQ!r}), 0)), 6) AS lambda_inv_p,
           round(least(1.0, sqrt((v + {_TAU_SQ!r}) / nullif(v, 0))
                 * exp(-{_TAU_SQ!r} * diff * diff
                       / nullif(2 * v * (v + {_TAU_SQ!r}), 0))), 6) AS p_always_valid
    FROM stat
    """,
)
def stats_msprt_always_valid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mSPRT always-valid p-value for the conversion-rate difference
    between hash-split arms (the sequential-testing machinery that lets
    an experimenter peek continuously without inflating false positives:
    p = min(1, 1/Lambda_n) with the normal-mixture likelihood ratio
    Lambda_n = sqrt(V/(V+tau^2)) * exp(tau^2*diff^2 / (2V(V+tau^2))),
    mixture variance tau^2 pinned at 0.0001).

    Per-user conversion flags collapse in one exchange; the test
    statistic is 1-row algebra. sqrt/exp appear only inside rounded
    outputs (libm convention); every division carries nullif/try_divide
    so the degenerate all-one-arm or zero-variance corpus yields NULL,
    not an ANSI error."""
    ev = load_table(spark, sf_dir, "events")
    per_user = (
        ev.filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("converted")
        )
        .withColumn("arm", (hash_unit(F.col("user_id"), "seq") < 0.5).cast("int"))
    )
    a1 = F.col("arm") == 1
    a0 = F.col("arm") == 0
    agg = per_user.agg(
        F.count(F.when(a1, 1)).cast("bigint").alias("n_t"),
        F.count(F.when(a0, 1)).cast("bigint").alias("n_c"),
        F.sum(F.when(a1, F.col("converted"))).cast("bigint").alias("x_t"),
        F.sum(F.when(a0, F.col("converted"))).cast("bigint").alias("x_c"),
    )
    p_pool = F.try_divide(
        F.col("x_t") + F.col("x_c"), (F.col("n_t") + F.col("n_c")).cast("double")
    )
    diff = F.try_divide(F.col("x_t"), F.col("n_t").cast("double")) - F.try_divide(
        F.col("x_c"), F.col("n_c").cast("double")
    )
    v = (
        p_pool
        * (1 - p_pool)
        * (
            F.try_divide(F.lit(1.0), F.col("n_t").cast("double"))
            + F.try_divide(F.lit(1.0), F.col("n_c").cast("double"))
        )
    )
    tau = F.lit(_TAU_SQ)
    stat = agg.withColumn("diff", diff).withColumn("v", v)
    d = F.col("diff")
    vv = F.col("v")
    return stat.select(
        "n_t",
        "n_c",
        "x_t",
        "x_c",
        F.round(d, 6).alias("diff"),
        F.round(
            F.sqrt(vv / (vv + tau))
            * F.exp(F.try_divide(tau * d * d, 2 * vv * (vv + tau))),
            6,
        ).alias("lambda_inv_p"),
        F.round(
            F.least(
                F.lit(1.0),
                F.sqrt(F.try_divide(vv + tau, vv))
                * F.exp(F.try_divide(-tau * d * d, 2 * vv * (vv + tau))),
            ),
            6,
        ).alias("p_always_valid"),
    )


@register(
    "experiment_srm_check",
    oracle="""
    WITH f AS (
      SELECT user_id,
             min(CAST(ts AS DATE)) AS day,
             CASE WHEN CAST(concat('0x', substr(md5(concat(CAST(user_id AS VARCHAR),
                                                            'srm')), 1, 8)) AS BIGINT)
                       / 4294967296.0 < 0.5
                  THEN 1 ELSE 0 END AS a
      FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL
      GROUP BY user_id
    ), d AS (
      SELECT day, CAST(sum(a) AS BIGINT) AS na, CAST(sum(1 - a) AS BIGINT) AS nb
      FROM f GROUP BY day
    ), c AS (
      SELECT day,
             CAST(sum(na) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_a,
             CAST(sum(nb) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_b
      FROM d
    )
    SELECT epoch_ms(CAST(day AS TIMESTAMP)) AS day_ms, cum_a, cum_b,
           CAST((cum_a - cum_b) * (cum_a - cum_b) AS DOUBLE) / (cum_a + cum_b) AS chi2,
           CAST(CAST((cum_a - cum_b) * (cum_a - cum_b) AS DOUBLE) / (cum_a + cum_b)
                > 3.841 AS BIGINT) AS srm_flag
    FROM c
    """,
)
def experiment_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily cumulative sample-ratio-mismatch monitor for a 50/50 A/B
    assignment: units enter on their first-seen day, the per-arm counts
    accumulate, and each day carries the 1-df chi-square statistic
    ((n_a-n_b)^2/(n_a+n_b) for equal allocation) plus the 0.05-level
    alarm flag. The statistic's operands are exact BIGINT counts, so the
    single division is bitwise identical cross-engine — no rounding
    needed. Shape: one shuffle on user_id for first-touch, then all SRM
    math rides the tiny per-day table; at 100 TB the per-day life table
    is a few thousand rows regardless of input size."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    first = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("day"))
    arm = (hash_unit(F.col("user_id"), "srm") < 0.5).cast("int")
    daily = (
        first.withColumn("a", arm)
        .groupBy("day")
        .agg(
            F.sum("a").cast("long").alias("na"),
            F.sum(1 - F.col("a")).cast("long").alias("nb"),
        )
    )
    wcum = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    cum = daily.select(
        "day",
        F.sum("na").over(wcum).cast("long").alias("cum_a"),
        F.sum("nb").over(wcum).cast("long").alias("cum_b"),
    )
    diff2 = ((F.col("cum_a") - F.col("cum_b")) * (F.col("cum_a") - F.col("cum_b"))).cast(
        "double"
    )
    chi2 = F.try_divide(diff2, (F.col("cum_a") + F.col("cum_b")).cast("double"))
    return cum.select(
        F.unix_millis(F.col("day").cast("timestamp")).alias("day_ms"),
        "cum_a",
        "cum_b",
        chi2.alias("chi2"),
        (chi2 > 3.841).cast("long").alias("srm_flag"),
    )


@register(
    "policy_ips_offline_eval",
    oracle="""
    WITH b AS (
      SELECT user_id % 10 AS seg, event_type AS a,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS r
      FROM events
      WHERE event_type IS NOT NULL AND user_id IS NOT NULL
        AND value IS NOT NULL
    ),
    arm AS (
      SELECT seg, a, count(*)::BIGINT AS n_a, CAST(sum(r) AS BIGINT) AS r_a
      FROM b GROUP BY 1, 2
    ),
    segt AS (
      SELECT seg, CAST(sum(n_a) AS BIGINT) AS n_x,
             CAST(sum(r_a) AS BIGINT) AS r_x
      FROM arm GROUP BY 1
    ),
    pick AS (
      SELECT seg, max({'m': CAST(r_a AS DOUBLE) / n_a, 'a': a}) AS k
      FROM arm GROUP BY 1
    )
    SELECT arm.seg, segt.n_x, pick.k.a AS pi_action, arm.n_a AS n_matched,
           round(least(CAST(10 AS DOUBLE), CAST(segt.n_x AS DOUBLE) / arm.n_a),
                 6) AS w,
           round(CAST(arm.r_a AS DOUBLE)
                 * least(CAST(10 AS DOUBLE), CAST(segt.n_x AS DOUBLE) / arm.n_a)
                 / segt.n_x / 100, 4) AS v_ips_seg,
           round(CAST(segt.r_x AS DOUBLE) / segt.n_x / 100, 4) AS v_logging_seg
    FROM pick
    JOIN arm ON arm.seg = pick.seg AND arm.a = pick.k.a
    JOIN segt ON segt.seg = pick.seg
    """,
)
def policy_ips_offline_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clipped inverse-propensity-scoring (IPS) offline policy
    evaluation — the counterfactual "what would the greedy policy have
    earned" estimate over logged bandit-style data (segment = user
    cohort, action = event type, reward = event value), with the
    production max-weight clip (w = min(10, 1/p̂)) that bounds variance
    when an arm was rarely logged. The target policy is the in-segment
    empirical-best arm (argmax mean reward, action-name tie-break), so
    the whole evaluation is self-contained and exactly replayable.

    Shape: one (segment, action) hash aggregate holds every sufficient
    statistic — counts and exact integer-cent reward sums — and the
    policy argmax is a named-struct max over that tiny table; IPS
    weights and values are then single deterministic divisions of exact
    integers. No per-row weighting pass exists at all (the weight is
    constant within a (segment, matched-arm) group, so the group sum IS
    the weighted sum) — at 100 TB the only data-sized stage is the
    first aggregate."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.filter(
        F.col("event_type").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("value").isNotNull()
    ).select(
        (F.col("user_id") % 10).alias("seg"),
        F.col("event_type").alias("a"),
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("r"),
    )
    arm = b.groupBy("seg", "a").agg(
        F.count(F.lit(1)).cast("long").alias("n_a"),
        F.sum("r").cast("long").alias("r_a"),
    )
    segt = arm.groupBy("seg").agg(
        F.sum("n_a").cast("long").alias("n_x"),
        F.sum("r_a").cast("long").alias("r_x"),
    )
    pick = arm.groupBy("seg").agg(
        F.max(
            F.struct(
                F.try_divide(F.col("r_a").cast("double"), F.col("n_a")).alias("m"),
                F.col("a").alias("a"),
            )
        ).alias("k")
    )
    w = F.least(
        F.lit(10.0), F.try_divide(F.col("n_x").cast("double"), F.col("n_a"))
    )
    return (
        pick.join(
            arm,
            (pick["seg"] == arm["seg"]) & (arm["a"] == F.col("k.a")),
        )
        .drop(arm["seg"])
        .join(segt, "seg")
        .select(
            "seg",
            "n_x",
            F.col("k.a").alias("pi_action"),
            F.col("n_a").alias("n_matched"),
            F.round(w, 6).alias("w"),
            F.round(
                F.col("r_a").cast("double") * w / F.col("n_x") / 100, 4
            ).alias("v_ips_seg"),
            F.round(
                F.try_divide(F.col("r_x").cast("double"), F.col("n_x")) / 100, 4
            ).alias("v_logging_seg"),
        )
    )


@register(
    "experiment_post_stratified_ate",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             CAST(CAST(concat('0x', substr(md5(concat(CAST(user_id AS VARCHAR),
                       'pstrat')), 1, 8)) AS BIGINT) / 4294967296.0 < 0.5
                  AS INTEGER) AS arm,
             user_id % 4 AS stratum,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
      FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
      GROUP BY user_id
    ),
    cells AS (
      SELECT stratum, arm, count(*)::BIGINT AS n_u,
             CAST(sum(cents) AS BIGINT) AS sum_cents
      FROM per_user GROUP BY 1, 2
    ),
    strata AS (
      SELECT stratum,
             CAST(sum(n_u) AS BIGINT) AS n_s,
             max(CASE WHEN arm = 1
                      THEN CAST(sum_cents AS DOUBLE) / (100.0 * n_u) END)
               AS mean_t,
             max(CASE WHEN arm = 0
                      THEN CAST(sum_cents AS DOUBLE) / (100.0 * n_u) END)
               AS mean_c
      FROM cells GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(n_s) AS BIGINT) AS n FROM strata),
    ate AS (
      SELECT list_reduce(
               list(CAST(n_s AS DOUBLE) / t.n * (mean_t - mean_c)
                    ORDER BY stratum),
               (a, b) -> a + b) AS ate
      FROM strata, tot t
    )
    SELECT s.stratum, s.n_s, s.mean_t, s.mean_c,
           s.mean_t - s.mean_c AS diff, a.ate
    FROM strata s, ate a
    """,
)
def experiment_post_stratified_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-stratified average-treatment-effect estimator — the standard
    variance-reduction sibling of CUPED when the covariate is CATEGORICAL:
    users hash-split 50/50 (same md5-unit idiom), outcome = per-user spend
    in integer cents, strata = a pre-treatment cohort key (user_id % 4
    here); ATE = Σ_s (n_s/N)·(ȳ_ts − ȳ_cs) reweights the per-stratum arm
    differences by stratum size, removing between-stratum imbalance the
    plain difference-in-means would carry as variance.

    Determinism: spend is summed in exact integer cents, every mean is a
    single correctly-rounded division of exact integers, and the k-strata
    weighted sum is a PINNED-ORDER fold (array_sort + aggregate vs
    list(... ORDER BY) + list_reduce) — so every column is emitted
    UNROUNDED. A stratum missing one arm yields NULL diff and a NULL ATE
    in both engines (the estimator is undefined without overlap).
    Shuffle budget: per-user aggregate, per-cell aggregate, two broadcast
    1-row joins."""
    ev = load_table(spark, sf_dir, "events")
    per_user = (
        ev.filter(F.col("value").isNotNull() & F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(
            F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long"))
            .cast("long")
            .alias("cents")
        )
        .select(
            (hash_unit("user_id", "pstrat") < 0.5).cast("int").alias("arm"),
            (F.col("user_id") % 4).alias("stratum"),
            "cents",
        )
    )
    cells = per_user.groupBy("stratum", "arm").agg(
        F.count(F.lit(1)).cast("long").alias("n_u"),
        F.sum("cents").cast("long").alias("sum_cents"),
    )
    mean = F.col("sum_cents").cast("double") / (100.0 * F.col("n_u"))
    strata = cells.groupBy("stratum").agg(
        F.sum("n_u").cast("long").alias("n_s"),
        F.max(F.when(F.col("arm") == 1, mean)).alias("mean_t"),
        F.max(F.when(F.col("arm") == 0, mean)).alias("mean_c"),
    )
    tot = strata.agg(F.sum("n_s").cast("long").alias("n"))
    ate = (
        strata.crossJoin(F.broadcast(tot))
        .agg(
            F.aggregate(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("stratum"),
                            (
                                F.col("n_s").cast("double")
                                / F.col("n")
                                * (F.col("mean_t") - F.col("mean_c"))
                            ).alias("term"),
                        )
                    )
                ),
                F.lit(0.0),
                lambda acc, s: acc + s["term"],
            ).alias("ate")
        )
    )
    return strata.crossJoin(F.broadcast(ate)).select(
        "stratum",
        "n_s",
        "mean_t",
        "mean_c",
        (F.col("mean_t") - F.col("mean_c")).alias("diff"),
        "ate",
    )


_B_FDR = 80  # replicates per family member; p denominators are 81


@register(
    "experiment_bh_fdr",
    oracle=f"""
    WITH base AS (
      SELECT event_id, event_type,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS c,
             CASE WHEN CAST(concat('0x', substr(md5(concat(CAST(user_id AS VARCHAR),
                       'fdr')), 1, 8)) AS BIGINT) / 4294967296.0 < 0.5
                  THEN 1 ELSE 0 END AS grp
      FROM events
      WHERE value IS NOT NULL AND user_id IS NOT NULL
        AND event_type IS NOT NULL AND event_id IS NOT NULL
    ),
    obs AS (
      SELECT event_type,
             sum(c * grp) / nullif(100.0 * sum(grp), 0)
             - sum(c * (1 - grp)) / nullif(100.0 * sum(1 - grp), 0) AS d,
             sum(grp) / nullif(CAST(count(*) AS DOUBLE), 0) AS p_a
      FROM base GROUP BY 1
    ),
    rep AS (
      SELECT z.event_type, z.b,
             sum(CASE WHEN z.u < o.p_a THEN z.c END)
               / nullif(100.0 * count(CASE WHEN z.u < o.p_a THEN 1 END), 0)
             - sum(CASE WHEN z.u >= o.p_a THEN z.c END)
               / nullif(100.0 * count(CASE WHEN z.u >= o.p_a THEN 1 END), 0)
               AS d
      FROM (
        SELECT event_type, c, CAST(4 * g + ss.s AS BIGINT) AS b,
               CAST(concat('0x', substr(h, CAST(1 + 8 * ss.s AS INTEGER), 8))
                    AS BIGINT) / 4294967296.0 AS u
        FROM (
          SELECT event_type, c, gg.g AS g,
                 md5(CAST(event_id AS VARCHAR) || ':' || CAST(gg.g AS VARCHAR)
                     || ':fdr') AS h
          FROM base CROSS JOIN range(0, {_B_FDR // 4}) gg(g)
        ) hs CROSS JOIN range(0, 4) ss(s)
      ) z JOIN obs o USING (event_type)
      GROUP BY 1, 2
    ),
    pvals AS (
      SELECT r.event_type,
             CAST(1 + count(*) FILTER (abs(r.d) >= abs(o.d)) AS BIGINT)
               AS p_num
      FROM rep r JOIN obs o USING (event_type)
      GROUP BY 1
    ),
    fam AS (SELECT CAST(count(*) AS BIGINT) AS m FROM pvals),
    ranked AS (
      SELECT event_type, p_num,
             CAST(row_number() OVER (ORDER BY p_num, event_type) AS BIGINT)
               AS rk
      FROM pvals
    ),
    flagged AS (
      SELECT r.event_type, r.p_num, r.rk, f.m,
             CASE WHEN r.p_num * 10 * f.m <= {_B_FDR + 1} * r.rk
                  THEN 1 ELSE 0 END AS under_line
      FROM ranked r, fam f
    )
    SELECT event_type, p_num,
           CAST({_B_FDR + 1} AS BIGINT) AS p_den, rk, m, under_line,
           CASE WHEN rk <= coalesce(
                  max(CASE WHEN under_line = 1 THEN rk END) OVER (), 0)
                THEN 1 ELSE 0 END AS rejected
    FROM flagged
    """,
)
def experiment_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR control over a FAMILY of permutation tests
    — the multiple-testing discipline an experimentation platform needs
    the moment it reads out more than one metric: per event type, a
    Monte-Carlo permutation test of the arm mean-value gap (same
    deterministic md5 relabeling and add-one rule as
    `stats_permutation_diff_test`), then the BH step-up at q = 0.10
    rejects every hypothesis at or below the largest rank whose p-value
    sits under the k·q/m line.

    Exactness end to end: p-values are the rationals (1+k)/(1+B) with a
    fixed denominator, so the BH comparison p ≤ rk·q/m clears
    denominators into the INTEGER inequality p_num·10·m ≤ (1+B)·rk —
    no float ever enters the decision, and every output column is an
    exact integer. Scale shape: one exploded replicate stream feeds a
    partial hash aggregate keyed (type, replicate) — B·|types| cells —
    and the BH pass is a window over |types| rows.

    The cost is intrinsically O(B·N) (every permutation replicate
    re-reads every row), with the md5-quartering already amortizing four
    draws per hash — B is the documented scale lever, exactly like
    minSupport on `basket_frequent_itemsets`: at fixed statistical
    power B can SHRINK as the corpus grows (p-value resolution is
    1/(1+B) regardless of N, and larger N tightens the permutation null
    itself), so a 100 TB run holds B at the resolution the q-threshold
    needs — q=0.10 with m≈10 metrics needs p resolved to ~0.01, i.e.
    B≈100-200 — rather than scaling it with data size. SCALING.md
    carries the measured sf0.001→0.1 alpha for this query."""
    ev = load_table(spark, sf_dir, "events")
    # The replicate stream below multiplies every base row x B (80): a
    # small events.parquet scans as ONE partition, which would pin the
    # whole 80x generation + 20 md5/row to a single core (guide §2.5,
    # the same hazard stats_poisson_bootstrap_ci guards; measured
    # 7.5 s -> the explode stage alone was the query). At real scale the
    # scan arrives in many partitions and this no-ops.
    base = rebalance_if_narrow(
        ev.filter(
            F.col("value").isNotNull()
            & F.col("user_id").isNotNull()
            & F.col("event_type").isNotNull()
            & F.col("event_id").isNotNull()
        ).select(
            "event_id",
            "event_type",
            F.floor(F.col("value") * 100 + 0.5).cast("long").alias("c"),
            (hash_unit("user_id", "fdr") < 0.5).cast("int").alias("grp"),
        )
    )
    g = F.col("grp")
    obs = materialize(  # two consumers: the replicate stream + compare
        base.groupBy("event_type")
        .agg(
            (
                F.try_divide(F.sum(F.col("c") * g), 100.0 * F.sum(g))
                - F.try_divide(F.sum(F.col("c") * (1 - g)), 100.0 * F.sum(1 - g))
            ).alias("d"),
            F.try_divide(F.sum(g), F.count(F.lit(1)).cast("double")).alias(
                "p_a"
            ),
        )
    )
    h = F.md5(
        F.concat(
            F.col("event_id").cast("string"),
            F.lit(":"),
            F.col("g").cast("string"),
            F.lit(":fdr"),
        )
    )
    exploded = (
        base.select(
            "event_type",
            "c",
            F.explode(F.sequence(F.lit(0), F.lit(_B_FDR // 4 - 1))).alias("g"),
            F.col("event_id"),
        )
        .select("event_type", "c", "g", h.alias("h"))
        .select(
            "event_type",
            "c",
            F.explode(F.sequence(F.lit(0), F.lit(3))).alias("s"),
            "g",
            "h",
        )
        .select(
            "event_type",
            "c",
            (4 * F.col("g") + F.col("s")).cast("long").alias("b"),
            (
                F.conv(
                    F.substring(F.col("h"), 1 + 8 * F.col("s"), 8), 16, 10
                ).cast("double")
                / F.lit(4294967296.0)
            ).alias("u"),
        )
    )
    u, c = F.col("u"), F.col("c")
    rep = (
        exploded.join(F.broadcast(obs.select("event_type", "p_a")), "event_type")
        .groupBy("event_type", "b")
        .agg(
            (
                F.try_divide(
                    F.sum(F.when(u < F.col("p_a"), c)),
                    100.0 * F.count(F.when(u < F.col("p_a"), 1)),
                )
                - F.try_divide(
                    F.sum(F.when(u >= F.col("p_a"), c)),
                    100.0 * F.count(F.when(u >= F.col("p_a"), 1)),
                )
            ).alias("d")
        )
    )
    pvals = (
        rep.join(
            F.broadcast(obs.select("event_type", F.col("d").alias("obs_d"))),
            "event_type",
        )
        .groupBy("event_type")
        .agg(
            (
                1
                + F.count(
                    F.when(F.abs(F.col("d")) >= F.abs(F.col("obs_d")), 1)
                )
            )
            .cast("long")
            .alias("p_num")
        )
    )
    fam = pvals.agg(F.count(F.lit(1)).cast("long").alias("m"))
    ranked = pvals.withColumn(
        "rk",
        F.row_number()
        .over(Window.orderBy("p_num", "event_type"))
        .cast("long"),
    )
    flagged = ranked.crossJoin(F.broadcast(fam)).withColumn(
        "under_line",
        (
            F.col("p_num") * 10 * F.col("m") <= F.lit(_B_FDR + 1) * F.col("rk")
        ).cast("int"),
    )
    k_max = F.coalesce(
        F.max(F.when(F.col("under_line") == 1, F.col("rk"))).over(
            Window.partitionBy()
        ),
        F.lit(0),
    )
    return flagged.select(
        "event_type",
        "p_num",
        F.lit(_B_FDR + 1).cast("long").alias("p_den"),
        "rk",
        "m",
        "under_line",
        (F.col("rk") <= k_max).cast("int").alias("rejected"),
    )
