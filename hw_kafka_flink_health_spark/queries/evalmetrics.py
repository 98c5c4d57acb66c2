"""Classifier-evaluation metrics over `documents`: exact AUC-ROC,
thresholded confusion/precision/recall/F1, the full PR curve, and
calibration bins.

Extension surface (SURVEY.md §2.C, LLM-pipeline family): a training-data
pipeline evaluates quality/toxicity/language classifiers on every refresh
— these are the metrics jobs it runs. The worked example scores each
document with its true (synthetic) positive-probability — a clamped
linear ramp in document length, with the label drawn deterministically
under that probability via the md5-unit idiom — so AUC has real signal,
the calibration diagram is near-diagonal by construction, both engines
derive identical (score, label) pairs, and every metric is exactly
value-oracled; swapping in a model-score column changes nothing
structural.

Scale shapes:
* AUC is computed by the rank identity AUC = (R⁺ − n⁺(n⁺+1)/2)/(n⁺n⁻) —
  the Mann-Whitney statistic — over the DISTINCT-SCORE reduction
  (`queries/inference.py` pattern): one hash aggregate to score groups,
  then an ordered pass over |distinct scores| rows, never a global sort
  of documents.
* The PR curve needs cumulative TP/FP at every threshold — the same
  reduction gives the whole exact curve in one window pass.
* Confusion-at-threshold and calibration are single conditional hash
  aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hw_kafka_flink_health_spark.operators.mlprep import hash_unit
from hw_kafka_flink_health_spark.queries._shared import (
    DAILY_REV_SQL as _DAILY_REV_SQL,
    daily_regional_revenue as _daily_revenue,
)
from hw_kafka_flink_health_spark.operators.relational import (
    distributed_ntile,
    distributed_row_number,
)
from hw_kafka_flink_health_spark.queries._registry import register
from hw_kafka_flink_health_spark.sources.files import load_table, materialize

# The worked example needs a (score, label) pair with REAL signal (the
# synthetic corpus's `lang` column is a label with no textual signal —
# every language shares one vocabulary). So the ground truth is built
# the way calibration textbooks do: the true positive-probability is a
# clamped linear ramp in document length — pure +,-,*,/ arithmetic, NO
# libm (exp/log can differ in the last ulp across engines, and score is
# a GROUP KEY) — and the label is a deterministic md5-unit draw under
# that probability (the geo/mlprep hash idiom, replayable in DuckDB).
# The classifier's score IS the true probability, so AUC is genuinely
# informative and the calibration diagram is near-diagonal by
# construction; swapping in a model-score column changes nothing
# structural.
_SCORED_SQL = """
      SELECT CAST(CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR),
                    'lbl')), 1, 8)) AS BIGINT) / 4294967296.0
                  < least(greatest((n_chars - 100) / 500.0, 0.05), 0.95)
                  AS INTEGER) AS label,
             least(greatest((n_chars - 100) / 500.0, 0.05), 0.95) AS score
      FROM documents
      WHERE n_chars IS NOT NULL
"""


def _scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    p = F.least(
        F.greatest((F.col("n_chars") - 100) / 500.0, F.lit(0.05)), F.lit(0.95)
    )
    u = hash_unit(F.col("doc_id"), "lbl")
    return docs.filter(F.col("n_chars").isNotNull()).select(
        (u < p).cast("int").alias("label"), p.alias("score")
    )


@register(
    "eval_auc_roc",
    oracle=f"""
    WITH scored AS ({_SCORED_SQL}),
    byval AS (
      SELECT score, sum(label)::BIGINT AS pos, count(*)::BIGINT AS c
      FROM scored GROUP BY 1
    ),
    ranked AS (
      SELECT pos, c,
             coalesce(sum(c) OVER (ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + (c + 1) / 2.0 AS avgrank
      FROM byval
    ),
    agg AS (
      SELECT sum(pos)::BIGINT AS n_pos,
             sum(c - pos)::BIGINT AS n_neg,
             sum(pos * avgrank) AS r_pos
      FROM ranked
    )
    SELECT n_pos, n_neg,
           round((r_pos - n_pos * (n_pos + 1) / 2.0)
                 / nullif(CAST(n_pos AS DOUBLE) * n_neg, 0), 6) AS auc
    FROM agg
    """,
)
def eval_auc_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact AUC-ROC via the rank identity (probability a random positive
    outscores a random negative, ties at half credit) — no curve
    integration, no sampling. Average ranks come from the distinct-score
    reduction, so the ordered pass touches score groups, not documents;
    tied scores are handled exactly (AUC's ½-credit convention IS the
    average-rank convention)."""
    byval = (
        _scored(spark, sf_dir)
        .filter(F.col("score").isNotNull())
        .groupBy("score")
        .agg(
            F.sum("label").cast("long").alias("pos"),
            F.count(F.lit(1)).cast("long").alias("c"),
        )
    )
    wcum = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    ranked = byval.withColumn(
        "avgrank",
        F.coalesce(F.sum("c").over(wcum), F.lit(0)) + (F.col("c") + 1) / 2.0,
    )
    agg = ranked.agg(
        F.sum("pos").cast("long").alias("n_pos"),
        F.sum(F.col("c") - F.col("pos")).cast("long").alias("n_neg"),
        F.sum(F.col("pos") * F.col("avgrank")).alias("r_pos"),
    )
    n_pos = F.col("n_pos")
    return agg.select(
        "n_pos",
        "n_neg",
        F.round(
            F.try_divide(
                F.col("r_pos") - n_pos * (n_pos + 1) / 2.0,
                n_pos.cast("double") * F.col("n_neg"),
            ),
            6,
        ).alias("auc"),
    )


@register(
    "eval_confusion_thresholds",
    oracle=f"""
    WITH scored AS ({_SCORED_SQL})
    SELECT th,
           count(*) FILTER (score >= th AND label = 1)::BIGINT AS tp,
           count(*) FILTER (score >= th AND label = 0)::BIGINT AS fp,
           count(*) FILTER (score < th AND label = 1)::BIGINT AS fn,
           count(*) FILTER (score < th AND label = 0)::BIGINT AS tn,
           round(count(*) FILTER (score >= th AND label = 1)
                 / nullif(CAST(count(*) FILTER (score >= th) AS DOUBLE), 0),
                 6) AS precision,
           round(count(*) FILTER (score >= th AND label = 1)
                 / nullif(CAST(count(*) FILTER (label = 1) AS DOUBLE), 0),
                 6) AS recall
    FROM scored CROSS JOIN (VALUES (CAST(0.3 AS DOUBLE)), (CAST(0.5 AS DOUBLE)),
                                    (CAST(0.7 AS DOUBLE))) t(th)
    WHERE score IS NOT NULL
    GROUP BY th
    """,
)
def eval_confusion_thresholds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix + precision/recall at three operating thresholds
    in ONE pass: each document is replicated against the 3-row literal
    threshold table (explode of a literal array — a width-3 flatMap in
    the scan stage, no join, no second read), then a single conditional
    hash aggregate per threshold. F1 is derivable; precision/recall are
    emitted with NULL-safe division for the empty-prediction edge."""
    scored = _scored(spark, sf_dir).filter(F.col("score").isNotNull())
    th = F.explode(F.array(F.lit(0.3), F.lit(0.5), F.lit(0.7))).alias("th")
    wide = scored.select("label", "score", th)
    pred = F.col("score") >= F.col("th")
    lab = F.col("label") == 1
    tp = F.count(F.when(pred & lab, 1))
    return wide.groupBy("th").agg(
        tp.cast("long").alias("tp"),
        F.count(F.when(pred & ~lab, 1)).cast("long").alias("fp"),
        F.count(F.when(~pred & lab, 1)).cast("long").alias("fn"),
        F.count(F.when(~pred & ~lab, 1)).cast("long").alias("tn"),
        F.round(F.try_divide(tp, F.count(F.when(pred, 1)).cast("double")), 6).alias(
            "precision"
        ),
        F.round(F.try_divide(tp, F.count(F.when(lab, 1)).cast("double")), 6).alias(
            "recall"
        ),
    )


@register(
    "eval_pr_curve",
    oracle=f"""
    WITH scored AS ({_SCORED_SQL}),
    byval AS (
      SELECT score, sum(label)::BIGINT AS pos, count(*)::BIGINT AS c
      FROM scored WHERE score IS NOT NULL GROUP BY 1
    ),
    cums AS (
      SELECT score,
             sum(pos) OVER (ORDER BY score DESC)::BIGINT AS tp,
             sum(c - pos) OVER (ORDER BY score DESC)::BIGINT AS fp,
             sum(pos) OVER ()::BIGINT AS n_pos
      FROM byval
    )
    SELECT score AS threshold, tp, fp,
           round(tp / nullif(CAST(tp + fp AS DOUBLE), 0), 6) AS precision,
           round(tp / nullif(CAST(n_pos AS DOUBLE), 0), 6) AS recall
    FROM cums
    """,
)
def eval_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EXACT precision-recall curve: one point per distinct score,
    treating that score as the decision threshold (predict positive when
    score >= threshold). Cumulative TP/FP over descending distinct
    scores gives every point in a single window pass over the
    distinct-score table — the curve that sklearn computes by sorting
    all rows, here without ever sorting documents. Peers (tied scores)
    collapse into one curve point, which is the mathematically correct
    treatment (a threshold cannot separate tied scores)."""
    byval = (
        _scored(spark, sf_dir)
        .filter(F.col("score").isNotNull())
        .groupBy("score")
        .agg(
            F.sum("label").cast("long").alias("pos"),
            F.count(F.lit(1)).cast("long").alias("c"),
        )
    )
    wdesc = Window.orderBy(F.col("score").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cums = byval.select(
        F.col("score").alias("threshold"),
        F.sum("pos").over(wdesc).cast("long").alias("tp"),
        F.sum(F.col("c") - F.col("pos")).over(wdesc).cast("long").alias("fp"),
        F.sum("pos").over(wall).cast("long").alias("n_pos"),
    )
    return cums.select(
        "threshold",
        "tp",
        "fp",
        F.round(
            F.try_divide(F.col("tp"), (F.col("tp") + F.col("fp")).cast("double")), 6
        ).alias("precision"),
        F.round(F.try_divide(F.col("tp"), F.col("n_pos").cast("double")), 6).alias(
            "recall"
        ),
    )


@register(
    "eval_calibration_bins",
    oracle=f"""
    WITH scored AS ({_SCORED_SQL})
    SELECT least(CAST(floor(score * 10) AS BIGINT), 9) AS bin,
           count(*)::BIGINT AS n,
           round(avg(score), 6) AS mean_score,
           round(avg(CAST(label AS DOUBLE)), 6) AS pos_rate
    FROM scored
    WHERE score IS NOT NULL
    GROUP BY 1
    """,
)
def eval_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram input: decile score bins vs observed positive
    rate (a calibrated classifier has mean_score ≈ pos_rate per bin).
    Single conditional hash aggregate; the bin rule is integer floor on
    the score so tied boundary values bin identically in both engines."""
    scored = _scored(spark, sf_dir).filter(F.col("score").isNotNull())
    return (
        scored.groupBy(
            F.least(F.floor(F.col("score") * 10).cast("long"), F.lit(9)).alias("bin")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.avg("score"), 6).alias("mean_score"),
            F.round(F.avg(F.col("label").cast("double")), 6).alias("pos_rate"),
        )
    )


_UPLIFT_PIVOT = "2024-01-16"  # events midpoint: first half = targeting score


@register(
    "eval_qini_uplift",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             CAST(CAST(concat('0x', substr(md5(concat(CAST(user_id AS VARCHAR),
                       'uplift')), 1, 8)) AS BIGINT) / 4294967296.0 < 0.5
                  AS INTEGER) AS treat,
             CAST(count(*) FILTER (ts < TIMESTAMP '{{p}}') AS BIGINT) AS score,
             CAST(max(CASE WHEN event_type = 'purchase'
                           AND ts >= TIMESTAMP '{{p}}' THEN 1 ELSE 0 END)
                  AS INTEGER) AS converted
      FROM events WHERE user_id IS NOT NULL GROUP BY user_id
    ), ranked AS (
      SELECT *,
             row_number() OVER (ORDER BY score DESC, user_id) AS rk,
             count(*) OVER () AS n
      FROM per_user
    ), deciles AS (
      SELECT CAST(floor((rk - 1) * 10.0 / n) AS BIGINT) AS decile,
             CAST(count(*) FILTER (treat = 1) AS BIGINT) AS n_t,
             CAST(count(*) FILTER (treat = 0) AS BIGINT) AS n_c,
             CAST(coalesce(sum(converted) FILTER (treat = 1), 0) AS BIGINT) AS x_t,
             CAST(coalesce(sum(converted) FILTER (treat = 0), 0) AS BIGINT) AS x_c
      FROM ranked GROUP BY 1
    ), cum AS (
      SELECT decile, n_t, n_c, x_t, x_c,
             sum(n_t) OVER w AS cn_t, sum(n_c) OVER w AS cn_c,
             sum(x_t) OVER w AS cx_t, sum(x_c) OVER w AS cx_c
      FROM deciles WINDOW w AS (ORDER BY decile)
    )
    SELECT decile, n_t, n_c, x_t, x_c,
           round(x_t / nullif(CAST(n_t AS DOUBLE), 0)
                 - x_c / nullif(CAST(n_c AS DOUBLE), 0), 6) AS uplift_rate,
           round(cx_t - cx_c * cn_t / nullif(CAST(cn_c AS DOUBLE), 0), 4)
             AS qini
    FROM cum
    """.replace("{p}", _UPLIFT_PIVOT),
)
def eval_qini_uplift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qini uplift curve: users hash-split into treatment/control, ranked
    by a treatment-independent targeting score (first-half engagement),
    bucketed into deciles by INTEGER cumulative-count math (ntile's
    engine-arbitrary tie placement avoided — the lorenz idiom), then per
    decile the incremental-conversion estimate and the cumulative Qini
    value Q(k) = X_t(k) − X_c(k)·N_t(k)/N_c(k). This is how uplift
    models are actually scored: a model that targets persuadables front-
    loads the curve.

    Scale: one events exchange to user grain; the rank pass is
    `distributed_row_number` (operators/relational.py — range shuffle +
    per-partition rank + bounded offset broadcast, which also hands back
    the global N without a `count().over()` single-partition window);
    deciles collapse to 10 rows and the Qini cumulation is a 10-row
    window. Divisions all carry nullif/try_divide for empty-cell
    corpora."""
    ev = load_table(spark, sf_dir, "events")
    pivot = F.lit(_UPLIFT_PIVOT).cast("timestamp")
    ts = F.col("ts").cast("timestamp")
    per_user = (
        ev.filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count(F.when(ts < pivot, 1)).cast("bigint").alias("score"),
            F.max(
                F.when(
                    (F.col("event_type") == "purchase") & (ts >= pivot), 1
                ).otherwise(0)
            ).alias("converted"),
        )
        .withColumn(
            "treat", (hash_unit(F.col("user_id"), "uplift") < 0.5).cast("int")
        )
    )
    ranked = distributed_row_number(
        per_user,
        [F.col("score").desc(), F.col("user_id")],
        out_col="rk",
        total_col="n",
    )
    t1 = F.col("treat") == 1
    t0 = F.col("treat") == 0
    deciles = ranked.groupBy(
        F.floor((F.col("rk") - 1) * 10.0 / F.col("n")).cast("bigint").alias("decile")
    ).agg(
        F.count(F.when(t1, 1)).cast("bigint").alias("n_t"),
        F.count(F.when(t0, 1)).cast("bigint").alias("n_c"),
        F.coalesce(F.sum(F.when(t1, F.col("converted"))), F.lit(0))
        .cast("bigint")
        .alias("x_t"),
        F.coalesce(F.sum(F.when(t0, F.col("converted"))), F.lit(0))
        .cast("bigint")
        .alias("x_c"),
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    cum = (
        deciles.withColumn("cn_t", F.sum("n_t").over(w))
        .withColumn("cn_c", F.sum("n_c").over(w))
        .withColumn("cx_t", F.sum("x_t").over(w))
        .withColumn("cx_c", F.sum("x_c").over(w))
    )
    return cum.select(
        "decile",
        "n_t",
        "n_c",
        "x_t",
        "x_c",
        F.round(
            F.try_divide(F.col("x_t"), F.col("n_t").cast("double"))
            - F.try_divide(F.col("x_c"), F.col("n_c").cast("double")),
            6,
        ).alias("uplift_rate"),
        F.round(
            F.col("cx_t")
            - F.try_divide(
                F.col("cx_c") * F.col("cn_t"), F.col("cn_c").cast("double")
            ),
            4,
        ).alias("qini"),
    )


@register(
    "eval_conformal_coverage",
    oracle="""
    WITH base AS (
      SELECT o_orderpriority AS priority,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
             CAST(CAST(concat('0x', substr(md5(concat(CAST(o_orderkey AS VARCHAR),
                  'conf')), 1, 8)) AS BIGINT) / 4294967296.0 < 0.5
                  AS INTEGER) AS is_cal
      FROM orders
      WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL
    ), cal_stats AS (
      SELECT priority,
             CAST(count(*) AS BIGINT) AS n_cal,
             CAST(sum(cents) AS BIGINT) AS s_cal
      FROM base WHERE is_cal = 1 GROUP BY priority
    ), resid AS (
      SELECT b.priority, b.is_cal, c.n_cal, c.s_cal,
             abs(c.n_cal * b.cents - c.s_cal) AS r
      FROM base b JOIN cal_stats c ON c.priority = b.priority
    ), q AS (
      SELECT priority,
             CAST(quantile_disc(r, 0.9) AS DOUBLE) AS q_scaled
      FROM resid WHERE is_cal = 1 GROUP BY priority
    )
    SELECT r.priority,
           max(r.n_cal) AS n_cal,
           CAST(count(*) AS BIGINT) AS n_test,
           max(q.q_scaled) / (max(r.n_cal) * 100.0) AS half_width_dollars,
           CAST(count(*) FILTER (WHERE r.r <= q.q_scaled) AS BIGINT)
             AS n_covered,
           CAST(count(*) FILTER (WHERE r.r <= q.q_scaled) AS BIGINT)
             / CAST(count(*) AS DOUBLE) AS coverage
    FROM resid r JOIN q ON q.priority = r.priority
    WHERE r.is_cal = 0
    GROUP BY r.priority
    """,
)
def eval_conformal_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction intervals with empirical coverage — the
    distribution-free uncertainty wrapper modern ML eval pipelines put
    around any point model. Model-of-record here: per-priority mean order
    total; calibration/test split by the deterministic md5-unit draw.

    Exactness: residuals are kept in the scaled-integer form
    |n_cal * cents - sum_cal| (one BIGINT per row, never a float mean),
    the 90th-percentile conformal quantile is PERCENTILE_DISC over those
    integers, and coverage on the test half is an integer comparison —
    the only floating ops are two final single divisions, bitwise
    identical in both engines. Scale shape: one scan feeds a 5-row
    calibration aggregate that broadcast-joins back; the conformal
    quantile is per-group exact percentile over the calibration rows
    (single priority-key shuffle); nothing is driver-side."""
    orders = load_table(spark, sf_dir, "orders")
    base = orders.filter(
        F.col("o_orderpriority").isNotNull() & F.col("o_totalprice").isNotNull()
    ).select(
        F.col("o_orderpriority").alias("priority"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("cents"),
        (hash_unit(F.col("o_orderkey"), "conf") < 0.5).cast("int").alias("is_cal"),
    )
    cal_stats = materialize(
        base.filter(F.col("is_cal") == 1)
        .groupBy("priority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_cal"),
            F.sum("cents").cast("bigint").alias("s_cal"),
        )
        # 5-row aggregate with TWO consumers (the q branch and the test
        # branch): Catalyst re-executes unmaterialized subplans per
        # consumer, so without this the orders scan + per-row md5 ran 4x
        # (4 FileScans in the executed plan; 3 after — r12 measurement)
    )
    resid = base.join(F.broadcast(cal_stats), "priority").select(
        "priority",
        "is_cal",
        "n_cal",
        F.abs(F.col("n_cal") * F.col("cents") - F.col("s_cal")).alias("r"),
    )
    q = materialize(
        resid.filter(F.col("is_cal") == 1)
        .groupBy("priority")
        .agg(
            F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY r)")
            .cast("double")
            .alias("q_scaled")
        )
        # same rationale: 5 rows, consumed by the test branch's broadcast
    )
    test = resid.filter(F.col("is_cal") == 0).join(F.broadcast(q), "priority")
    return test.groupBy("priority").agg(
        F.max("n_cal").alias("n_cal"),
        F.count(F.lit(1)).cast("bigint").alias("n_test"),
        (F.max("q_scaled") / (F.max("n_cal") * F.lit(100.0))).alias(
            "half_width_dollars"
        ),
        F.sum(F.when(F.col("r") <= F.col("q_scaled"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_covered"),
        (
            F.sum(F.when(F.col("r") <= F.col("q_scaled"), 1).otherwise(0)).cast(
                "bigint"
            )
            / F.count(F.lit(1)).cast("double")
        ).alias("coverage"),
    )


@register(
    "eval_isotonic_calibration",
    oracle=f"""
    WITH scored AS ({_SCORED_SQL}),
    bins AS (
      SELECT CAST(floor(score * 20) AS BIGINT) AS bin,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(label) AS BIGINT) AS pos
      FROM scored GROUP BY 1
    ), pref AS (
      SELECT bin, n, pos,
             CAST(sum(n) OVER (ORDER BY bin) AS BIGINT) AS cn,
             CAST(sum(pos) OVER (ORDER BY bin) AS BIGINT) AS cp
      FROM bins
    ), triples AS (
      SELECT i.bin,
             (j.cp - (k.cp - k.pos)) AS num,
             (j.cn - (k.cn - k.n)) AS den,
             k.bin AS kb
      FROM pref i
      JOIN pref k ON k.bin <= i.bin
      JOIN pref j ON j.bin >= i.bin
    ), inner_min AS (
      SELECT bin, kb,
             min(CAST(num AS DOUBLE) / CAST(den AS DOUBLE)) AS mn
      FROM triples GROUP BY bin, kb
    )
    SELECT p.bin,
           p.bin / CAST(20.0 AS DOUBLE) AS bin_lo,
           p.n, p.pos,
           p.pos / CAST(p.n AS DOUBLE) AS raw_rate,
           f.iso_rate
    FROM pref p
    JOIN (SELECT bin, max(mn) AS iso_rate FROM inner_min GROUP BY bin) f
      ON f.bin = p.bin
    """,
)
def eval_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (PAV) calibration of the binned classifier scores: the
    monotone-nondecreasing fit to the per-bin positive rates, computed
    EXACTLY via the minimax identity iso(i) = max_{{k<=i}} min_{{j>=i}}
    rate(k..j) — no sequential pool-adjacent-violators loop, no ml-lib
    fit, so it is a pure relational query with a value oracle.

    The identity runs over the 20-bin reduction, so the triple join is
    O(B^3) with B fixed at 20 (8000 tiny rows) regardless of corpus
    size — the only data-sized work is the one binning aggregate. Each
    candidate rate is a single division of exact prefix-sum BIGINTs
    (identical doubles in both engines), so min/max pick identical
    values and the fitted curve hash-matches bitwise."""
    scored = _scored(spark, sf_dir)
    bins = scored.groupBy(
        F.floor(F.col("score") * 20).cast("bigint").alias("bin")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("label").cast("bigint").alias("pos"),
    )
    wc = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    pref = materialize(bins.select(
        "bin",
        "n",
        "pos",
        F.sum("n").over(wc).cast("bigint").alias("cn"),
        F.sum("pos").over(wc).cast("bigint").alias("cp"),
    ))
    i = pref.select(F.col("bin").alias("ib"))
    k = pref.select(
        F.col("bin").alias("kb"),
        (F.col("cp") - F.col("pos")).alias("kcp0"),
        (F.col("cn") - F.col("n")).alias("kcn0"),
    )
    j = pref.select(
        F.col("bin").alias("jb"), F.col("cp").alias("jcp"), F.col("cn").alias("jcn")
    )
    triples = (
        i.join(k, F.col("kb") <= F.col("ib"))
        .join(j, F.col("jb") >= F.col("ib"))
        .select(
            F.col("ib").alias("bin"),
            F.col("kb"),
            (F.col("jcp") - F.col("kcp0")).alias("num"),
            (F.col("jcn") - F.col("kcn0")).alias("den"),
        )
    )
    inner_min = triples.groupBy("bin", "kb").agg(
        F.min(F.col("num").cast("double") / F.col("den").cast("double")).alias("mn")
    )
    fit = inner_min.groupBy("bin").agg(F.max("mn").alias("iso_rate"))
    return pref.join(fit, "bin").select(
        "bin",
        (F.col("bin") / F.lit(20.0)).alias("bin_lo"),
        "n",
        "pos",
        (F.col("pos") / F.col("n").cast("double")).alias("raw_rate"),
        "iso_rate",
    )


@register(
    "eval_decile_lift",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id,
             CAST(CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR),
                   'lbl')), 1, 8)) AS BIGINT) / 4294967296.0
                  < least(greatest((n_chars - 100) / 500.0, 0.05), 0.95)
                  AS INTEGER) AS label,
             least(greatest((n_chars - 100) / 500.0, 0.05), 0.95) AS score
      FROM documents WHERE n_chars IS NOT NULL
    ), deciled AS (
      SELECT label,
             CAST(ntile(10) OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS decile
      FROM scored
    ), g AS (
      SELECT decile, CAST(count(*) AS BIGINT) AS n, CAST(sum(label) AS BIGINT) AS pos
      FROM deciled GROUP BY decile
    ), tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(pos) AS BIGINT) AS pp FROM g
    ), c AS (
      SELECT decile, n, pos,
             CAST(sum(n) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS cn,
             CAST(sum(pos) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS cp
      FROM g
    )
    SELECT decile, n, pos,
           CASE WHEN n * pp <> 0
                THEN CAST(pos AS DOUBLE) * nn / (CAST(n AS DOUBLE) * pp) END AS lift,
           CASE WHEN cn * pp <> 0
                THEN CAST(cp AS DOUBLE) * nn / (CAST(cn AS DOUBLE) * pp)
                END AS cum_lift
    FROM c, tot
    """,
)
def eval_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift table for the synthetic classifier: rank by score
    (doc_id tie-break pins ntile boundaries to a total order), split into
    10 equal bins, and report per-decile and cumulative lift — positive
    rate relative to the base rate, the campaign-targeting readout that
    complements the ROC/PR/calibration family. All counts are exact
    BIGINTs; each lift is one division of exact products (pos*N vs
    n*P), NULL when the base rate is zero. Shape: the ntile is the only
    ordered pass and runs on `distributed_ntile`
    (operators/relational.py — range shuffle + per-partition rank +
    bounded offset broadcast, no single-partition window over the doc
    table); everything downstream lives on 10 rows."""
    docs = load_table(spark, sf_dir, "documents")
    p = F.least(
        F.greatest((F.col("n_chars") - 100) / 500.0, F.lit(0.05)), F.lit(0.95)
    )
    u = hash_unit(F.col("doc_id"), "lbl")
    scored = docs.filter(F.col("n_chars").isNotNull()).select(
        "doc_id", (u < p).cast("int").alias("label"), p.alias("score")
    )
    deciled = distributed_ntile(
        scored, 10, [F.col("score").desc(), F.col("doc_id")], out_col="decile"
    ).select("label", "decile")
    g = deciled.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("label").cast("long").alias("pos"),
    )
    tot = g.agg(
        F.sum("n").cast("long").alias("nn"), F.sum("pos").cast("long").alias("pp")
    )
    wcum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    c = g.select(
        "decile",
        "n",
        "pos",
        F.sum("n").over(wcum).cast("long").alias("cn"),
        F.sum("pos").over(wcum).cast("long").alias("cp"),
    )
    return c.crossJoin(F.broadcast(tot)).select(
        "decile",
        "n",
        "pos",
        F.when(
            F.col("n") * F.col("pp") != 0,
            F.col("pos").cast("double")
            * F.col("nn")
            / (F.col("n").cast("double") * F.col("pp")),
        ).alias("lift"),
        F.when(
            F.col("cn") * F.col("pp") != 0,
            F.col("cp").cast("double")
            * F.col("nn")
            / (F.col("cn").cast("double") * F.col("pp")),
        ).alias("cum_lift"),
    )


@register(
    "eval_cohens_kappa",
    oracle=f"""
    WITH scored AS ({_SCORED_SQL}),
    cells AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN label = 1 AND score >= 0.5 THEN 1 ELSE 0 END)
                  AS BIGINT) AS a11,
             CAST(sum(CASE WHEN label = 1 AND score < 0.5 THEN 1 ELSE 0 END)
                  AS BIGINT) AS a10,
             CAST(sum(CASE WHEN label = 0 AND score >= 0.5 THEN 1 ELSE 0 END)
                  AS BIGINT) AS a01,
             CAST(sum(CASE WHEN label = 0 AND score < 0.5 THEN 1 ELSE 0 END)
                  AS BIGINT) AS a00
      FROM scored
    )
    SELECT n, a11, a10, a01, a00,
           CAST(a11 + a00 AS DOUBLE) / n AS po,
           (CAST(a11 + a10 AS DOUBLE) * (a11 + a01)
            + CAST(a01 + a00 AS DOUBLE) * (a10 + a00))
             / (CAST(n AS DOUBLE) * n) AS pe,
           CASE WHEN (CAST(a11 + a10 AS DOUBLE) * (a11 + a01)
                      + CAST(a01 + a00 AS DOUBLE) * (a10 + a00))
                     / (CAST(n AS DOUBLE) * n) <> 1.0
                THEN (CAST(a11 + a00 AS DOUBLE) / n
                      - (CAST(a11 + a10 AS DOUBLE) * (a11 + a01)
                         + CAST(a01 + a00 AS DOUBLE) * (a10 + a00))
                        / (CAST(n AS DOUBLE) * n))
                     / (1.0 - (CAST(a11 + a10 AS DOUBLE) * (a11 + a01)
                               + CAST(a01 + a00 AS DOUBLE) * (a10 + a00))
                              / (CAST(n AS DOUBLE) * n))
                END AS kappa
    FROM cells
    """,
)
def eval_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the ground-truth label and the 0.5-threshold
    classifier — chance-corrected agreement, the metric that exposes
    'high accuracy' on imbalanced data. One conditional hash aggregate
    yields the 2x2 table; observed/expected agreement and kappa are
    fixed IEEE chains over exact BIGINT cells (NULL when expected
    agreement is 1, i.e. a degenerate single-cell table). Scale: one
    pass, one row out."""
    scored = _scored(spark, sf_dir)
    pred = F.col("score") >= 0.5
    lab = F.col("label") == 1
    cells = scored.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(lab & pred, 1).otherwise(0)).cast("long").alias("a11"),
        F.sum(F.when(lab & ~pred, 1).otherwise(0)).cast("long").alias("a10"),
        F.sum(F.when(~lab & pred, 1).otherwise(0)).cast("long").alias("a01"),
        F.sum(F.when(~lab & ~pred, 1).otherwise(0)).cast("long").alias("a00"),
    )
    n = F.col("n")
    po = (F.col("a11") + F.col("a00")).cast("double") / n
    pe = (
        (F.col("a11") + F.col("a10")).cast("double") * (F.col("a11") + F.col("a01"))
        + (F.col("a01") + F.col("a00")).cast("double") * (F.col("a10") + F.col("a00"))
    ) / (n.cast("double") * n)
    return cells.select(
        "n",
        "a11",
        "a10",
        "a01",
        "a00",
        po.alias("po"),
        pe.alias("pe"),
        F.when(pe != 1.0, (po - pe) / (F.lit(1.0) - pe)).alias("kappa"),
    )


@register(
    "eval_brier_score",
    oracle="""
    WITH s AS (
      SELECT CAST(least(greatest(n_chars - 100, 25), 475) AS BIGINT) AS k,
             CAST(CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR),
                   'lbl')), 1, 8)) AS BIGINT) / 4294967296.0
                  < least(greatest((n_chars - 100) / 500.0, 0.05), 0.95)
                  AS BIGINT) AS y
      FROM documents WHERE n_chars IS NOT NULL
    ), m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS p,
             CAST(sum((k - 500 * y) * (k - 500 * y)) AS BIGINT) AS ss
      FROM s
    )
    SELECT n, p AS n_pos,
           CAST(ss AS DOUBLE) / (250000.0 * n) AS brier,
           CAST(p AS DOUBLE) * (n - p) / (CAST(n AS DOUBLE) * n) AS brier_ref,
           CASE WHEN p > 0 AND p < n
                THEN 1.0 - (CAST(ss AS DOUBLE) / (250000.0 * n))
                           / (CAST(p AS DOUBLE) * (n - p)
                              / (CAST(n AS DOUBLE) * n))
                END AS skill_score
    FROM m
    """,
)
def eval_brier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score + Brier skill score vs the climatological base-rate
    forecast. Exactness: the score is k/500 with k = clamp(n_chars-100,
    25, 475) an integer, so sum((k - 500y)^2) is an exact BIGINT and the
    Brier mean is ONE division — no float accumulation across rows at
    all, where the naive mean((p-y)^2) would drift by summation order.
    Skill is NULL for single-class corpora (reference score 0). Scale:
    one conditional aggregate, one row."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("n_chars").isNotNull())
    p = F.least(
        F.greatest((F.col("n_chars") - 100) / 500.0, F.lit(0.05)), F.lit(0.95)
    )
    k = F.least(F.greatest(F.col("n_chars") - 100, F.lit(25)), F.lit(475)).cast(
        "long"
    )
    y = (hash_unit(F.col("doc_id"), "lbl") < p).cast("long")
    s = docs.select(k.alias("k"), y.alias("y"))
    m = s.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("p"),
        F.sum((F.col("k") - 500 * F.col("y")) * (F.col("k") - 500 * F.col("y")))
        .cast("long")
        .alias("ss"),
    )
    n, pos = F.col("n"), F.col("p")
    brier = F.col("ss").cast("double") / (250000.0 * n)
    brier_ref = pos.cast("double") * (n - pos) / (n.cast("double") * n)
    return m.select(
        "n",
        pos.alias("n_pos"),
        brier.alias("brier"),
        brier_ref.alias("brier_ref"),
        F.when((pos > 0) & (pos < n), F.lit(1.0) - brier / brier_ref).alias(
            "skill_score"
        ),
    )


@register(
    "eval_ndcg_at_k",
    oracle="""
    WITH scored AS (
      SELECT o_custkey AS user_id, o_orderkey AS item_id,
             CAST(('0x' || substr(md5(concat(CAST(o_orderkey AS VARCHAR), 'ndcg')), 1, 8))
                  AS BIGINT) AS pred,
             least(CAST(4 AS BIGINT),
                   CAST(floor(o_totalprice) AS BIGINT) // 50000) AS rel
      FROM orders WHERE o_totalprice IS NOT NULL
    ),
    ranked AS (
      SELECT user_id, rel,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY pred DESC, item_id) AS rk,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY rel DESC, item_id) AS irk
      FROM scored
    ),
    agg AS (
      SELECT user_id, count(*)::BIGINT AS n_items,
             sum(CASE WHEN rk <= 10
                      THEN rel / log2(CAST(rk + 1 AS DOUBLE)) ELSE 0 END) AS dcg,
             sum(CASE WHEN irk <= 10
                      THEN rel / log2(CAST(irk + 1 AS DOUBLE)) ELSE 0 END) AS idcg
      FROM ranked GROUP BY user_id
    )
    SELECT user_id, n_items, round(dcg, 6) AS dcg,
           round(dcg / nullif(idcg, 0), 6) AS ndcg
    FROM agg
    """,
)
def eval_ndcg_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 per user — the ranking-quality metric the eval pack was
    missing next to AUC/PR/lift: graded relevance (order value bucketed
    0-4) discounted by log2(rank+1), normalized by the ideal ordering.
    Predictions are the deterministic md5-integer draw (an intentionally
    uninformative ranker, so NDCG spreads over (0,1]), ranked as exact
    BIGINTs — no float enters until the discount.

    Shape: both the model ranking and the ideal ranking come from the
    SAME per-user sort (two row_numbers over one partition pass —
    Catalyst evaluates co-partitioned windows without a second
    exchange), then a per-user aggregate. Ties in both rankings break
    on item_id, so each engine materializes the identical permutation;
    the only cross-engine slack is log2 of small integers (<= 1 ulp per
    term, 10 terms, absorbed by the 6-decimal rounding of O(10)
    outputs). At 100 TB this is one shuffle on user_id."""
    orders = load_table(spark, sf_dir, "orders")
    pred = F.conv(
        F.substring(
            F.md5(F.concat(F.col("o_orderkey").cast("string"), F.lit("ndcg"))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    rel = F.least(
        F.lit(4).cast("long"),
        F.expr("CAST(floor(o_totalprice) AS BIGINT) DIV 50000"),
    )
    scored = orders.filter(F.col("o_totalprice").isNotNull()).select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderkey").alias("item_id"),
        pred.alias("pred"),
        rel.alias("rel"),
    )
    wm = Window.partitionBy("user_id").orderBy(F.col("pred").desc(), "item_id")
    wi = Window.partitionBy("user_id").orderBy(F.col("rel").desc(), "item_id")
    ranked = scored.select(
        "user_id",
        "rel",
        F.row_number().over(wm).alias("rk"),
        F.row_number().over(wi).alias("irk"),
    )
    disc = lambda r: F.col("rel") / F.log2((F.col(r) + 1).cast("double"))  # noqa: E731
    agg = ranked.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.sum(F.when(F.col("rk") <= 10, disc("rk")).otherwise(0.0)).alias("dcg"),
        F.sum(F.when(F.col("irk") <= 10, disc("irk")).otherwise(0.0)).alias("idcg"),
    )
    return agg.select(
        "user_id",
        "n_items",
        F.round("dcg", 6).alias("dcg"),
        F.round(F.try_divide(F.col("dcg"), F.col("idcg")), 6).alias("ndcg"),
    )


@register(
    "eval_expected_calibration_error",
    oracle=f"""
    WITH scored AS ({_SCORED_SQL}),
    b AS (
      SELECT least(CAST(floor(score * 10) AS BIGINT), 9) AS bin,
             count(*)::BIGINT AS n, avg(score) AS conf,
             avg(CAST(label AS DOUBLE)) AS acc
      FROM scored WHERE score IS NOT NULL GROUP BY 1
    ),
    t AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM b)
    SELECT t.nn AS n_scored, CAST(count(*) AS BIGINT) AS n_bins,
           round(sum(n * abs(acc - conf)) / t.nn, 6) AS ece,
           round(max(abs(acc - conf)), 6) AS mce
    FROM b, t GROUP BY t.nn
    """,
)
def eval_expected_calibration_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected (and maximum) calibration error — the scalar summary of
    `eval_calibration_bins`: bin-weighted |accuracy − confidence| over
    the same 10 equal-width score bins, the number a model-monitoring
    dashboard alerts on. One data-sized aggregate (the binning), then a
    ≤10-row weighted reduction; the per-bin accuracy is an exact integer
    ratio and the O(0.1)-magnitude outputs round at 6 decimals, far
    inside the safe grain."""
    binned = (
        _scored(spark, sf_dir)
        .filter(F.col("score").isNotNull())
        .groupBy(
            F.least(F.floor(F.col("score") * 10).cast("long"), F.lit(9).cast("long")).alias("bin")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.avg("score").alias("conf"),
            F.avg(F.col("label").cast("double")).alias("acc"),
        )
    )
    t = binned.agg(F.sum("n").cast("long").alias("nn"))
    gap = F.abs(F.col("acc") - F.col("conf"))
    return (
        binned.crossJoin(F.broadcast(t))
        .groupBy("nn")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bins"),
            F.round(F.sum(F.col("n") * gap) / F.col("nn"), 6).alias("ece"),
            F.round(F.max(gap), 6).alias("mce"),
        )
        .select(F.col("nn").alias("n_scored"), "n_bins", "ece", "mce")
    )


@register(
    "eval_mrr_map",
    oracle="""
    WITH scored AS (
      SELECT o_custkey AS user_id, o_orderkey AS item_id,
             CAST(('0x' || substr(md5(concat(CAST(o_orderkey AS VARCHAR),
                  'mrr')), 1, 8)) AS BIGINT) AS pred,
             CAST(least(CAST(4 AS BIGINT),
                        CAST(floor(o_totalprice) AS BIGINT) // 50000) >= 2
                  AS INTEGER) AS is_rel
      FROM orders WHERE o_totalprice IS NOT NULL
    ),
    ranked AS (
      SELECT user_id, is_rel,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY pred DESC, item_id) AS rk,
             CAST(sum(is_rel) OVER (PARTITION BY user_id
                                    ORDER BY pred DESC, item_id)
                  AS BIGINT) AS hits
      FROM scored
    ),
    agg AS (
      SELECT user_id, count(*)::BIGINT AS n_items,
             CAST(sum(is_rel) AS BIGINT) AS n_rel,
             min(CASE WHEN is_rel = 1 THEN rk END) AS first_rel,
             sum(CASE WHEN is_rel = 1 THEN CAST(hits AS DOUBLE) / rk END)
               AS ap_num
      FROM ranked GROUP BY 1
    )
    SELECT user_id, n_items, n_rel,
           1.0 / first_rel AS rr,
           round(ap_num / nullif(n_rel, 0), 6) AS ap
    FROM agg
    """,
)
def eval_mrr_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MRR and AP per user — the binary-relevance ranking metrics next to
    `eval_ndcg_at_k`'s graded one (their mean over users is MRR / MAP;
    per-user rows keep the oracle row-for-row). Same deterministic
    construction: the md5-integer draw is the ranker, relevance is the
    order-value bucket >= 2, ties break on item_id so both engines
    materialize the identical permutation.

    rr = 1/rank-of-first-relevant is an exact rational of integers —
    emitted UNROUNDED (identical division both engines; users with no
    relevant item are NULL). AP sums hits@k/k precision terms per user:
    each term is an exact division, but the per-user SUM is a genuine
    float reduction whose partial-merge order varies — rounded at 6
    decimals on O(1) magnitudes, the same absorption NDCG uses. One
    shuffle on user_id; the running-hits window shares the ranking
    window's partition pass."""
    orders = load_table(spark, sf_dir, "orders")
    pred = F.conv(
        F.substring(
            F.md5(F.concat(F.col("o_orderkey").cast("string"), F.lit("mrr"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    is_rel = (
        F.least(
            F.lit(4).cast("long"),
            F.expr("CAST(floor(o_totalprice) AS BIGINT) DIV 50000"),
        )
        >= 2
    ).cast("int")
    scored = orders.filter(F.col("o_totalprice").isNotNull()).select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderkey").alias("item_id"),
        pred.alias("pred"),
        is_rel.alias("is_rel"),
    )
    w = Window.partitionBy("user_id").orderBy(F.col("pred").desc(), "item_id")
    ranked = scored.select(
        "user_id",
        "is_rel",
        F.row_number().over(w).alias("rk"),
        F.sum("is_rel").over(w).cast("long").alias("hits"),
    )
    agg = ranked.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.sum("is_rel").cast("long").alias("n_rel"),
        F.min(F.when(F.col("is_rel") == 1, F.col("rk"))).alias("first_rel"),
        F.sum(
            F.when(
                F.col("is_rel") == 1,
                F.col("hits").cast("double") / F.col("rk"),
            )
        ).alias("ap_num"),
    )
    return agg.select(
        "user_id",
        "n_items",
        "n_rel",
        (F.lit(1.0) / F.col("first_rel")).alias("rr"),
        F.round(
            F.try_divide(F.col("ap_num"), F.nullif(F.col("n_rel"), F.lit(0))),
            6,
        ).alias("ap"),
    )


@register(
    "eval_krippendorff_alpha",
    oracle="""
    WITH ratings AS (
      SELECT event_id % 500 AS unit, event_type AS rater,
             min(CASE WHEN value < 50 THEN 'low'
                      WHEN value < 100 THEN 'mid' ELSE 'high' END) AS cat
      FROM events
      WHERE event_type IS NOT NULL AND value IS NOT NULL
      GROUP BY 1, 2
    ), o AS (
      SELECT unit, cat, CAST(count(*) AS BIGINT) AS o_uc
      FROM ratings GROUP BY unit, cat
    ), u AS (
      SELECT unit, CAST(sum(o_uc) AS BIGINT) AS n_u FROM o GROUP BY unit
    ), pair AS (
      SELECT o.unit, o.cat, o.o_uc, u.n_u FROM o JOIN u USING (unit)
      WHERE u.n_u >= 2 AND u.n_u <= 17
    ), do_s AS (
      SELECT CAST(sum(o_uc * (n_u - o_uc) * (720720 // (n_u - 1))) AS BIGINT)
               AS do_scaled,
             CAST(sum(o_uc) AS BIGINT) AS p_total
      FROM pair
    ), tc AS (
      SELECT cat, CAST(sum(o_uc) AS BIGINT) AS t_c FROM pair GROUP BY cat
    ), de_s AS (
      SELECT CAST(sum(t_c * ((SELECT p_total FROM do_s) - t_c)) AS BIGINT)
               AS de_num
      FROM tc
    )
    SELECT do_s.p_total AS n_ratings,
           do_s.do_scaled, de_s.de_num,
           1 - (CAST(do_s.do_scaled AS HUGEINT) * (do_s.p_total - 1))
               / nullif(CAST(CAST(720720 AS HUGEINT) * de_s.de_num AS DOUBLE),
                        0.0) AS alpha
    FROM do_s, de_s
    """,
)
def eval_krippendorff_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Krippendorff's alpha (nominal) — THE inter-annotator agreement
    statistic for labeling pipelines with missing raters, where Cohen's
    kappa (eval_cohens_kappa) needs exactly two complete annotators.
    Units are event buckets, raters the event types, categories a
    3-level value bucket; units with one rating drop out (unpairable),
    exactly per the coincidence-matrix formulation.

    Exactness trick: the per-unit disagreement term o_uc(n_u-o_uc)/(n_u-1)
    has denominator n_u-1, so scaling every term by 720720/(n_u-1) —
    an INTEGER for every n_u <= 17 (720720 = lcm(1..16); larger units
    are excluded identically in both engines) — turns Do into an exact
    BIGINT; De's numerator sum t_c(P-t_c) is integer outright, and
    alpha = 1 - Do_scaled*(P-1)/(720720*De_num) is ONE double division
    of exact integers, emitted unrounded. Plan: three hash aggregates
    over progressively tiny tables and two scalar broadcasts; the
    coincidence table is checkpointed so the fact scan runs once."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull() & F.col("value").isNotNull()
    )
    cat = (
        F.when(F.col("value") < 50, "low")
        .when(F.col("value") < 100, "mid")
        .otherwise("high")
    )
    ratings = (
        ev.select(
            (F.col("event_id") % 500).alias("unit"),
            F.col("event_type").alias("rater"),
            cat.alias("cat0"),
        )
        .groupBy("unit", "rater")
        .agg(F.min("cat0").alias("cat"))
    )
    o = ratings.groupBy("unit", "cat").agg(
        F.count(F.lit(1)).cast("long").alias("o_uc")
    )
    u = o.groupBy("unit").agg(F.sum("o_uc").cast("long").alias("n_u"))
    # pair feeds three consumers (do_s, tc, and de_s transitively) —
    # checkpoint so the events scan runs ONCE (review finding: without
    # it the fact table was scanned 6x). The n_u cap pairs with the
    # 720720 = lcm(1..16) scale: 720720 DIV (n_u - 1) is exact for every
    # n_u <= 17, so the Do sum stays an exact integer no matter how many
    # rater categories a regenerated corpus carries; units beyond 17
    # raters are excluded IDENTICALLY in both engines (documented
    # precondition, not a silent truncation).
    pair = materialize(
        o.join(u, "unit")
        .filter((F.col("n_u") >= 2) & (F.col("n_u") <= 17))
    )
    do_s = materialize(pair.agg(
        F.sum(
            F.col("o_uc")
            * (F.col("n_u") - F.col("o_uc"))
            * F.expr("720720 DIV (n_u - 1)")
        )
        .cast("long")
        .alias("do_scaled"),
        F.sum("o_uc").cast("long").alias("p_total"),
    ))
    tc = pair.groupBy("cat").agg(F.sum("o_uc").cast("long").alias("t_c"))
    de_s = (
        tc.crossJoin(F.broadcast(do_s.select("p_total")))
        .agg(
            F.sum(F.col("t_c") * (F.col("p_total") - F.col("t_c")))
            .cast("long")
            .alias("de_num")
        )
    )
    # the two PRODUCTS go through DECIMAL(38,0)/HUGEINT: with the
    # 720720 scale they pass 2^63 near ~5M ratings (review finding) even
    # though do_scaled and de_num themselves stay comfortably in BIGINT
    alpha = 1 - F.try_divide(
        (F.col("do_scaled").cast("decimal(38,0)") * (F.col("p_total") - 1)).cast(
            "double"
        ),
        F.nullif(
            (F.lit(720720).cast("decimal(38,0)") * F.col("de_num")).cast("double"),
            F.lit(0.0),
        ),
    )
    return (
        do_s.crossJoin(F.broadcast(de_s))
        .select(
            F.col("p_total").alias("n_ratings"),
            "do_scaled",
            "de_num",
            alpha.alias("alpha"),
        )
    )


@register(
    "eval_clipped_ngram_precision",
    oracle="""
    WITH d AS (
      SELECT doc_id, source,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                          ' ') AS t
      FROM documents WHERE text IS NOT NULL
    ), cand AS (
      SELECT doc_id AS pair, source, t FROM d WHERE doc_id % 2 = 0
    ), ref AS (
      SELECT doc_id - 1 AS pair, t AS rt FROM d WHERE doc_id % 2 = 1
    ), pairs AS (
      SELECT cand.pair, cand.source, cand.t, ref.rt
      FROM cand JOIN ref USING (pair)
    ), cu AS (
      SELECT pair, g, CAST(count(*) AS BIGINT) AS cc
      FROM (SELECT pair, unnest(t) AS g FROM pairs) GROUP BY pair, g
    ), ru AS (
      SELECT pair, g, CAST(count(*) AS BIGINT) AS rc
      FROM (SELECT pair, unnest(rt) AS g FROM pairs) GROUP BY pair, g
    ), uni AS (
      SELECT cu.pair,
             CAST(sum(least(cu.cc, coalesce(ru.rc, 0))) AS BIGINT) AS num,
             CAST(sum(cu.cc) AS BIGINT) AS den
      FROM cu LEFT JOIN ru ON ru.pair = cu.pair AND ru.g = cu.g
      GROUP BY cu.pair
    ), cb AS (
      SELECT pair, g, CAST(count(*) AS BIGINT) AS cc FROM (
        SELECT pair, t[u.i] || ' ' || t[u.i + 1] AS g
        FROM pairs, unnest(generate_series(1, len(t) - 1)) AS u(i)
      ) GROUP BY pair, g
    ), rb AS (
      SELECT pair, g, CAST(count(*) AS BIGINT) AS rc FROM (
        SELECT pair, rt[u.i] || ' ' || rt[u.i + 1] AS g
        FROM pairs, unnest(generate_series(1, len(rt) - 1)) AS u(i)
      ) GROUP BY pair, g
    ), bi AS (
      SELECT cb.pair,
             CAST(sum(least(cb.cc, coalesce(rb.rc, 0))) AS BIGINT) AS num,
             CAST(sum(cb.cc) AS BIGINT) AS den
      FROM cb LEFT JOIN rb ON rb.pair = cb.pair AND rb.g = cb.g
      GROUP BY cb.pair
    )
    SELECT p.source,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(uni.num) AS BIGINT) AS uni_num,
           CAST(sum(uni.den) AS BIGINT) AS uni_den,
           sum(uni.num) / nullif(CAST(sum(uni.den) AS DOUBLE), 0.0) AS p1,
           CAST(sum(bi.num) AS BIGINT) AS bi_num,
           CAST(sum(bi.den) AS BIGINT) AS bi_den,
           sum(bi.num) / nullif(CAST(sum(bi.den) AS DOUBLE), 0.0) AS p2
    FROM pairs p
    JOIN uni ON uni.pair = p.pair
    LEFT JOIN bi ON bi.pair = p.pair
    GROUP BY p.source
    """,
)
def eval_clipped_ngram_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clipped n-gram precision (the BLEU numerator family) between
    candidate/reference document pairs — the standard surface-overlap
    eval for generated text, here over deterministic pairs (even doc_id
    = candidate, its successor = reference) rolled up per source.

    Modified precision exactly as BLEU defines it: each candidate n-gram
    counts at most min(count_cand, count_ref) — the clipping that stops
    "the the the" gaming plain precision. Unigram and bigram passes
    share the staged token arrays (localCheckpoint — two consumers
    each); counts join per (pair, gram), co-partitioned both sides, and
    every emitted number is an exact integer or one division of two.
    At 100 TB the gram-count tables shrink by each doc's repetition
    factor before the join and nothing ever sorts."""
    from hw_kafka_flink_health_spark.operators.dedup import norm_tokens_expr

    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    d = docs.select("doc_id", "source", norm_tokens_expr("text").alias("t"))
    cand = (
        d.filter(F.col("doc_id") % 2 == 0)
        .select(F.col("doc_id").alias("pair"), "source", "t")
    )
    ref = (
        d.filter(F.col("doc_id") % 2 == 1)
        .select((F.col("doc_id") - 1).alias("pair"), F.col("t").alias("rt"))
    )
    pairs = materialize(cand.join(ref, "pair"))  # feeds 5 consumers

    def _bigrams(col: str) -> F.Column:
        t = F.col(col)
        return F.zip_with(
            F.slice(t, 1, F.size(t) - 1),
            F.slice(t, 2, F.size(t) - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        )

    def _counts(gram_col: F.Column, alias: str) -> DataFrame:
        return (
            pairs.select("pair", F.explode(gram_col).alias("g"))
            .groupBy("pair", "g")
            .agg(F.count(F.lit(1)).cast("long").alias(alias))
        )

    def _clip(c: DataFrame, r: DataFrame) -> DataFrame:
        return (
            c.join(r, ["pair", "g"], "left")
            .groupBy("pair")
            .agg(
                F.sum(F.least(F.col("cc"), F.coalesce(F.col("rc"), F.lit(0))))
                .cast("long")
                .alias("num"),
                F.sum("cc").cast("long").alias("den"),
            )
        )

    uni = _clip(_counts(F.col("t"), "cc"), _counts(F.col("rt"), "rc"))
    bi = _clip(_counts(_bigrams("t"), "cc"), _counts(_bigrams("rt"), "rc"))
    out = (
        pairs.select("pair", "source")
        .join(uni, "pair")
        .join(
            bi.select(
                "pair", F.col("num").alias("bnum"), F.col("den").alias("bden")
            ),
            "pair",
            "left",
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum("num").cast("long").alias("uni_num"),
            F.sum("den").cast("long").alias("uni_den"),
            F.sum("bnum").cast("long").alias("bi_num"),
            F.sum("bden").cast("long").alias("bi_den"),
        )
    )
    return out.select(
        "source",
        "n_pairs",
        "uni_num",
        "uni_den",
        F.try_divide(
            F.col("uni_num").cast("double"),
            F.nullif(F.col("uni_den").cast("double"), F.lit(0.0)),
        ).alias("p1"),
        "bi_num",
        "bi_den",
        F.try_divide(
            F.col("bi_num").cast("double"),
            F.nullif(F.col("bi_den").cast("double"), F.lit(0.0)),
        ).alias("p2"),
    )


@register(
    "eval_cost_optimal_threshold",
    oracle=f"""
    WITH scored AS ({_SCORED_SQL}),
    byval AS (
      SELECT score,
             CAST(sum(label) AS BIGINT) AS pos,
             CAST(count(*) AS BIGINT) AS c
      FROM scored GROUP BY score
    ), tot AS (
      SELECT CAST(sum(pos) AS BIGINT) AS p_tot,
             CAST(sum(c - pos) AS BIGINT) AS n_tot
      FROM byval
    ), sweep AS (
      SELECT score AS th,
             CAST(sum(pos) OVER (ORDER BY score
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING) AS BIGINT) AS fn,
             CAST(sum(c - pos) OVER (ORDER BY score
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING) AS BIGINT) AS tn
      FROM byval
    ), costs AS (
      SELECT th,
             coalesce(fn, 0) AS fn, coalesce(tn, 0) AS tn,
             tot.p_tot - coalesce(fn, 0) AS tp,
             tot.n_tot - coalesce(tn, 0) AS fp,
             5 * coalesce(fn, 0) + (tot.n_tot - coalesce(tn, 0)) AS cost
      FROM sweep CROSS JOIN tot
    )
    SELECT (min({{'cost': cost, 'th': th}})).th AS best_threshold,
           CAST((min({{'cost': cost, 'th': th}})).cost AS BIGINT) AS best_cost,
           CAST(min(cost) AS BIGINT) AS min_cost_check
    FROM costs
    """,
)
def eval_cost_optimal_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-optimal operating point: sweep EVERY distinct score as a
    threshold and pick the one minimizing 5*FN + 1*FP (the asymmetric
    cost a screening classifier actually deploys with) — ties resolved
    to the lowest threshold via a struct-min, never an engine's
    arbitrary argmin. One hash aggregate to distinct score values, a
    cumulative window over THAT table (distinct-score-sized, never the
    raw rows — the rank-statistics rule), and a 1-row reduce; all
    counts exact integers."""
    scored = _scored(spark, sf_dir).filter(F.col("score").isNotNull())
    byval = scored.groupBy("score").agg(
        F.sum("label").cast("long").alias("pos"),
        F.count(F.lit(1)).cast("long").alias("c"),
    )
    tot = byval.agg(
        F.sum("pos").cast("long").alias("p_tot"),
        F.sum(F.col("c") - F.col("pos")).cast("long").alias("n_tot"),
    )
    w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    sweep = byval.select(
        F.col("score").alias("th"),
        F.coalesce(F.sum("pos").over(w), F.lit(0)).cast("long").alias("fn"),
        F.coalesce(F.sum(F.col("c") - F.col("pos")).over(w), F.lit(0))
        .cast("long")
        .alias("tn"),
    )
    costs = sweep.crossJoin(F.broadcast(tot)).select(
        "th",
        (5 * F.col("fn") + (F.col("n_tot") - F.col("tn"))).alias("cost"),
    )
    pick = F.min(F.struct(F.col("cost").alias("cost"), F.col("th").alias("th")))
    return costs.agg(
        pick["th"].alias("best_threshold"),
        pick["cost"].cast("long").alias("best_cost"),
        F.min("cost").cast("long").alias("min_cost_check"),
    )


@register(
    "eval_pinball_loss",
    oracle=f"""
    WITH daily AS ({_DAILY_REV_SQL}
    ), paired AS (
      SELECT a.r_name, a.day, a.cents AS y, p.cents AS yhat
      FROM daily a JOIN daily p
        ON p.r_name = a.r_name AND p.day = a.day - 7
    ), q AS (
      SELECT unnest([1, 5, 9]) AS q10
    ), losses AS (
      SELECT q.q10, p.y, p.yhat,
             CASE WHEN p.y >= p.yhat
                  THEN CAST(q.q10 AS HUGEINT) * (p.y - p.yhat)
                  ELSE CAST(10 - q.q10 AS HUGEINT) * (p.yhat - p.y)
             END AS l10
      FROM paired p CROSS JOIN q
    )
    SELECT CAST(q10 AS DOUBLE) / 10.0 AS q,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(l10) AS BIGINT) AS pinball_x10_cents,
           CAST(sum(l10) AS DOUBLE) / (10.0 * count(*)) AS mean_pinball_cents
    FROM losses GROUP BY q10
    """,
)
def eval_pinball_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pinball (quantile) loss of the seasonal-naive forecaster (revenue
    seven days earlier) at q = 0.1 / 0.5 / 0.9 — the scoring rule
    quantile forecasts are actually graded by (q=0.5 pinball = half the
    MAE). Integer-exact: with tenths-quantiles and integer-cent
    revenues, 10x the loss is the exact integer q10*(y-yhat)+ +
    (10-q10)*(yhat-y)+, accumulated in DECIMAL(38,0)/HUGEINT; the mean
    is one division of exact integers, emitted unrounded.

    Shape: one fact-side aggregate to region-day grain, a self-join on
    (region, day-7) — the gap-safe seasonal lag, same idiom as
    revenue_yoy_same_month — then a 3-way quantile explode over the
    ~12k-row day table. Nothing after the first aggregate touches raw
    orders."""
    daily = materialize(_daily_revenue(spark, sf_dir))  # two join sides
    pred = daily.select(
        "r_name", (F.col("day") + 7).alias("day"), F.col("cents").alias("yhat")
    )
    paired = daily.join(pred, ["r_name", "day"]).select(
        F.col("cents").alias("y"), "yhat"
    )
    q = F.explode(F.array(F.lit(1), F.lit(5), F.lit(9))).alias("q10")
    y, yhat, q10 = F.col("y"), F.col("yhat"), F.col("q10")
    l10 = F.when(
        y >= yhat, q10.cast("decimal(38,0)") * (y - yhat)
    ).otherwise((10 - q10).cast("decimal(38,0)") * (yhat - y))
    return (
        paired.select("y", "yhat", q)
        .select(q10, l10.alias("l10"))
        .groupBy(q10)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("l10").cast("long").alias("pinball_x10_cents"),
            (
                F.sum("l10").cast("double")
                / (10.0 * F.count(F.lit(1)).cast("double"))
            ).alias("mean_pinball_cents"),
        )
        .select(
            (q10.cast("double") / 10.0).alias("q"),
            "n",
            "pinball_x10_cents",
            "mean_pinball_cents",
        )
    )


@register(
    "eval_winkler_interval_score",
    oracle=f"""
    WITH daily AS ({_DAILY_REV_SQL}
    ), banded AS (
      SELECT r_name, day, cents AS y,
             min(cents) OVER w AS lo,
             max(cents) OVER w AS hi,
             count(*) OVER w AS nw
      FROM daily
      WINDOW w AS (PARTITION BY r_name ORDER BY day
                   ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
    ), scored AS (
      SELECT r_name, y, lo, hi,
             CAST(hi - lo AS HUGEINT)
             + CASE WHEN y < lo THEN 10 * CAST(lo - y AS HUGEINT) ELSE 0 END
             + CASE WHEN y > hi THEN 10 * CAST(y - hi AS HUGEINT) ELSE 0 END
               AS w_cents,
             CASE WHEN y < lo THEN 1 ELSE 0 END AS below,
             CASE WHEN y > hi THEN 1 ELSE 0 END AS above
      FROM banded WHERE nw = 7
    )
    SELECT r_name,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(w_cents) AS BIGINT) AS winkler_total_cents,
           CAST(sum(w_cents) AS DOUBLE) / count(*) AS winkler_mean_cents,
           CAST(sum(below) AS BIGINT) AS n_below,
           CAST(sum(above) AS BIGINT) AS n_above,
           1.0 - CAST(sum(below) + sum(above) AS DOUBLE) / count(*)
             AS coverage
    FROM scored GROUP BY r_name
    """,
)
def eval_winkler_interval_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winkler interval score at alpha = 0.2 for the naive trailing-week
    interval forecast (lo/hi = min/max of the previous 7 observations):
    width + (2/alpha) x the miss distance when the actual falls outside
    — THE proper scoring rule for prediction intervals, penalizing both
    fat intervals and misses. 2/alpha = 10, so the score is an exact
    integer in cents, accumulated in DECIMAL(38,0)/HUGEINT; empirical
    coverage is reported alongside (a well-calibrated 80% interval
    should miss ~20%).

    Shape: one fact aggregate to region-day, one rolling min/max/count
    window over the ~2.4k-day dimension per region (the sort never
    touches raw orders), then a per-region reduction."""
    daily = _daily_revenue(spark, sf_dir)
    w = (
        Window.partitionBy("r_name")
        .orderBy("day")
        .rowsBetween(-7, -1)
    )
    banded = daily.select(
        "r_name",
        F.col("cents").alias("y"),
        F.min("cents").over(w).alias("lo"),
        F.max("cents").over(w).alias("hi"),
        F.count(F.lit(1)).over(w).alias("nw"),
    ).filter(F.col("nw") == 7)
    y, lo, hi = F.col("y"), F.col("lo"), F.col("hi")
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    w_cents = (
        dec(hi - lo)
        + F.when(y < lo, 10 * dec(lo - y)).otherwise(F.lit(0).cast("decimal(38,0)"))
        + F.when(y > hi, 10 * dec(y - hi)).otherwise(F.lit(0).cast("decimal(38,0)"))
    )
    scored = banded.select(
        "r_name",
        w_cents.alias("w_cents"),
        F.when(y < lo, 1).otherwise(0).alias("below"),
        F.when(y > hi, 1).otherwise(0).alias("above"),
    )
    return scored.groupBy("r_name").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("w_cents").cast("long").alias("winkler_total_cents"),
        (F.sum("w_cents").cast("double") / F.count(F.lit(1))).alias(
            "winkler_mean_cents"
        ),
        F.sum("below").cast("long").alias("n_below"),
        F.sum("above").cast("long").alias("n_above"),
        (
            1.0
            - (F.sum("below") + F.sum("above")).cast("double")
            / F.count(F.lit(1))
        ).alias("coverage"),
    )
