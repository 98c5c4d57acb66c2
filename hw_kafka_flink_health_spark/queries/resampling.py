"""Distributed resampling inference: Poisson bootstrap confidence
intervals and a hash-randomization (Monte-Carlo permutation) test.

Extension surface (SURVEY.md §2.C, statistics family): the reference
computes only a windowed avg/min/max (`/root/reference/src/flink_job.py:104-128`);
uncertainty quantification on top of the same tables is what an
experimentation platform adds. Both operators here use THE distributed
resampling trick: a replicate is never a materialized copy of the data —
each row carries a deterministic per-(row, replicate) weight derived
from an md5 draw, and the explode over replicate ids feeds straight
into a partial hash aggregate, so the B-times-larger exploded relation
exists only inside map-side combine (the shuffle moves ≤ B rows per
input partition, never B× the data). That is exactly how the Poisson
bootstrap is run on petabyte logs: one scan, B counters per partition.

Determinism/portability: the per-(row, replicate) uniform is the
engine-portable md5-unit draw (`operators/mlprep.py:hash_unit` twin),
all money math is integer cents, and every replicate statistic is a
single division of bitwise-identical operands — so the DuckDB twin
reproduces every replicate EXACTLY, and the oracles are full value
hashes with no tolerance band.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hw_kafka_flink_health_spark.queries._registry import register
from hw_kafka_flink_health_spark.sources.files import load_table, materialize, rebalance_if_narrow

_B_BOOT = 100
_B_PERM = 200

# Poisson(1) inverse-CDF thresholds (cumulative e^-1/k!), pasted as
# exact double literals so Spark and DuckDB compare against the very
# same values. P(K > 7) < 1.1e-5; the tail collapses to w=8.
_POISSON_CDF = [
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238463,
    0.9963401531726563,
    0.9994058151824183,
    0.999916758850712,
    0.9999897508033253,
]


def _poisson_weight_sql(u: str) -> str:
    """CASE expression mapping a uniform draw to a Poisson(1) variate.

    Identical text runs in both engines; literal thresholds parse to the
    same IEEE doubles, so the branch taken is identical too.
    """
    branches = " ".join(
        f"WHEN {u} < {t!r} THEN {k}" for k, t in enumerate(_POISSON_CDF)
    )
    return f"CASE {branches} ELSE 8 END"


# One md5 digest is 32 hex chars = FOUR independent 8-hex (32-bit) draws.
# Replicate b therefore reads slice (b % 4) of md5(key:(b DIV 4)) — 4x
# fewer md5 evaluations for the same number of replicates, with the same
# engine portability (both engines slice the identical digest). The
# hashlib replay in tests/test_resampling.py mirrors the slicing; the
# slice expressions are written inline at each use (the column `h` holds
# the already-computed digest, `s` the slice index 0..3).

_BOOT_KEY_G = "concat(CAST(o_orderkey AS STRING), ':', CAST(g AS STRING), ':boot')"
_BOOT_KEY_G_DUCK = (
    "CAST(o_orderkey AS VARCHAR) || ':' || CAST(g AS VARCHAR) || ':boot'"
)


@register(
    "stats_poisson_bootstrap_ci",
    oracle=f"""
    WITH cents AS (
      SELECT o_orderkey, CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c
      FROM orders
    ), hs AS (
      SELECT c, gg.g AS g, md5({_BOOT_KEY_G_DUCK}) AS h
      FROM cents CROSS JOIN range(0, {_B_BOOT // 4}) gg(g)
    ), draws AS (
      SELECT c, b, { _poisson_weight_sql("u") } AS w
      FROM (
        SELECT c, CAST(4 * g + ss.s AS BIGINT) AS b,
               CAST(concat('0x', substr(h, CAST(1 + 8 * ss.s AS INTEGER), 8))
                    AS BIGINT) / 4294967296.0 AS u
        FROM hs CROSS JOIN range(0, 4) ss(s)
      ) uu
      UNION ALL
      SELECT c, CAST(-1 AS BIGINT) AS b, 1 AS w FROM cents
    ), rep AS (
      SELECT b, sum(w * c) AS wc, sum(w) AS wn
      FROM draws
      GROUP BY b
    ), means AS (
      SELECT b, wc / (100.0 * wn) AS m FROM rep WHERE b >= 0 AND wn > 0
    ), pt AS (
      SELECT round(wc / (100.0 * wn), 2) AS sample_mean,
             CAST(wn AS BIGINT) AS n_orders
      FROM rep WHERE b = -1 AND wn > 0
    )
    SELECT pt.n_orders, pt.sample_mean,
           CAST(count(*) AS BIGINT) AS n_replicates,
           round(avg(m), 2) AS boot_mean,
           round(quantile_cont(m, 0.025), 2) AS ci_lo,
           round(quantile_cont(m, 0.975), 2) AS ci_hi,
           round(stddev_samp(m), 2) AS boot_se
    FROM means CROSS JOIN pt
    GROUP BY pt.n_orders, pt.sample_mean
    """,
)
def stats_poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% bootstrap CI for mean order value via the Poisson bootstrap.

    The classical bootstrap (sample n rows with replacement, B times)
    is unrunnable at 100 TB — it needs global coordination per
    replicate. The Poisson bootstrap replaces multinomial resampling
    with an independent Poisson(1) weight per (row, replicate):
    replicate means are then pure weighted aggregates, embarrassingly
    parallel, one scan total. The explode over B replicate ids is
    consumed by map-side partial aggregation (hash agg on `b` directly
    above the generator), so the shuffle carries B rows per partition —
    the exploded relation is never materialized or exchanged.

    Exactness: weights come from the md5-unit draw against pinned
    Poisson CDF literals, money is integer cents, so each replicate
    mean is one division of identical operands in both engines — the
    quantile/stddev inputs are bitwise-identical doubles and the CI is
    value-hash-checked, not tolerance-checked."""
    orders = load_table(spark, sf_dir, "orders")
    # the B-replicate generate stage multiplies each input row ~B/4
    # times; a small parquet (1-2 scan partitions) would otherwise pin
    # that whole expansion to 1-2 cores — rebalance only in that case
    # (well-partitioned real-scale scans pass through shuffle-free)
    cents = rebalance_if_narrow(
        orders.select(
            "o_orderkey",
            F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("c"),
        )
    )
    # b = -1 is a pseudo-replicate with unit weights: it yields the plain
    # sample mean from the SAME pass, so the whole query is ONE logical
    # scan of orders (the union branches both read the cents projection).
    # The md5 runs once per (row, g) 4-replicate GROUP, then each of the
    # four 8-hex slices becomes one replicate's draw.
    hs = cents.select(
        "o_orderkey",
        "c",
        F.explode(F.sequence(F.lit(0), F.lit(_B_BOOT // 4 - 1))).alias("g"),
    ).withColumn("h", F.expr(f"md5({_BOOT_KEY_G})"))
    draws = (
        hs.select(
            "c", "h", F.col("g"), F.explode(F.sequence(F.lit(0), F.lit(3))).alias("s")
        )
        .select(
            "c",
            (4 * F.col("g") + F.col("s")).cast("long").alias("b"),
            # u staged as its own column: the Poisson CASE references it 8
            # times, and a staged column guarantees ONE conv/substring per
            # row regardless of codegen subexpression-elimination behavior
            F.expr(
                "CAST(conv(substring(h, CAST(1 + 8 * s AS INT), 8), 16, 10)"
                " AS DOUBLE) / 4294967296.0"
            ).alias("u"),
        )
        .select(
            "c", "b", F.expr(_poisson_weight_sql("u")).alias("w")
        )
    )
    exploded = draws.unionAll(
        cents.select("c", F.lit(-1).cast("long").alias("b"), F.lit(1).alias("w"))
    )
    # rep is B+1 tiny rows with two consumers (replicate means + the
    # pseudo-replicate point estimate); localCheckpoint pins the single
    # scan — otherwise each consumer re-plans the explode+aggregate
    rep = materialize(
        exploded.groupBy("b")
        .agg(F.sum(F.col("w") * F.col("c")).alias("wc"), F.sum("w").alias("wn"))
    )
    means = rep.filter((F.col("b") >= 0) & (F.col("wn") > 0)).select(
        (F.col("wc") / (100.0 * F.col("wn"))).alias("m")
    )
    pt = rep.filter((F.col("b") == -1) & (F.col("wn") > 0)).select(
        F.round(F.col("wc") / (100.0 * F.col("wn")), 2).alias("sample_mean"),
        F.col("wn").cast("bigint").alias("n_orders"),
    )
    return (
        means.crossJoin(F.broadcast(pt))
        .groupBy("n_orders", "sample_mean")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_replicates"),
            F.round(F.avg("m"), 2).alias("boot_mean"),
            F.round(F.expr("percentile(m, 0.025)"), 2).alias("ci_lo"),
            F.round(F.expr("percentile(m, 0.975)"), 2).alias("ci_hi"),
            F.round(F.stddev_samp("m"), 2).alias("boot_se"),
        )
        .select(
            "n_orders",
            "sample_mean",
            "n_replicates",
            "boot_mean",
            "ci_lo",
            "ci_hi",
            "boot_se",
        )
    )


_URGENT = "1-URGENT"
_LOW = "5-LOW"
_PERM_KEY_G = "concat(CAST(o_orderkey AS STRING), ':', CAST(g AS STRING), ':perm')"
_PERM_KEY_G_DUCK = (
    "CAST(o_orderkey AS VARCHAR) || ':' || CAST(g AS VARCHAR) || ':perm'"
)


@register(
    "stats_permutation_diff_test",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c,
             CASE WHEN o_orderpriority = '{_URGENT}' THEN 1 ELSE 0 END AS grp
      FROM orders WHERE o_orderpriority IN ('{_URGENT}', '{_LOW}')
    ), obs AS (
      SELECT sum(c * grp) / nullif(100.0 * sum(grp), 0)
             - sum(c * (1 - grp)) / nullif(100.0 * sum(1 - grp), 0) AS d,
             sum(grp) / nullif(CAST(count(*) AS DOUBLE), 0) AS p_a,
             CAST(count(*) AS BIGINT) AS n_rows
      FROM base
    ), rep AS (
      SELECT b,
             sum(CASE WHEN u < obs.p_a THEN c END)
               / nullif(100.0 * count(CASE WHEN u < obs.p_a THEN 1 END), 0)
             - sum(CASE WHEN u >= obs.p_a THEN c END)
               / nullif(100.0 * count(CASE WHEN u >= obs.p_a THEN 1 END), 0) AS d
      FROM (
        SELECT c, CAST(4 * g + ss.s AS BIGINT) AS b,
               CAST(concat('0x', substr(h, CAST(1 + 8 * ss.s AS INTEGER), 8))
                    AS BIGINT) / 4294967296.0 AS u
        FROM (
          SELECT c, gg.g AS g, md5({_PERM_KEY_G_DUCK}) AS h
          FROM base CROSS JOIN range(0, {_B_PERM // 4}) gg(g)
        ) hs CROSS JOIN range(0, 4) ss(s)
      ) z CROSS JOIN obs
      GROUP BY b, obs.p_a
    )
    SELECT obs.n_rows,
           round(obs.d, 2) AS obs_diff,
           CAST(count(*) AS BIGINT) AS n_replicates,
           CAST(1 + count(*) FILTER (abs(rep.d) >= abs(obs.d)) AS BIGINT)
             AS n_extreme_plus1,
           round((1 + count(*) FILTER (abs(rep.d) >= abs(obs.d)))
                 / (1.0 + count(*)), 4) AS p_value
    FROM rep CROSS JOIN obs
    GROUP BY obs.n_rows, obs.d
    """,
)
def stats_permutation_diff_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monte-Carlo permutation test for the URGENT-vs-LOW mean-value gap.

    The exact permutation test is a factorial enumeration; the scale
    version relabels rows at random B times and counts replicates at
    least as extreme as the observed difference. Relabeling is the
    deterministic md5 draw against the OBSERVED group proportion (so
    expected group sizes match the real design), which makes every
    replicate replayable in any engine — no RNG, no seed plumbing.
    Same replicate shape as the bootstrap: explode over B feeds a
    partial hash aggregate, B counters per partition, a B-row shuffle.
    Two scans total — the observed statistic must be aggregated BEFORE
    relabeling (p_a feeds the draw), so obs is localCheckpointed and
    broadcast rather than re-planned per consumer. The p-value uses the
    (1+k)/(1+B) add-one rule so it is never exactly zero.

    Exactness: integer-cent sums and single divisions of identical
    operands make every replicate difference bitwise-identical across
    engines; the >= comparison against the observed difference is then
    exact, so n_extreme and the p-value are value-hash-checked."""
    orders = load_table(spark, sf_dir, "orders")
    base = rebalance_if_narrow(
        orders.filter(F.col("o_orderpriority").isin(_URGENT, _LOW)).select(
            "o_orderkey",
            F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("c"),
            F.when(F.col("o_orderpriority") == _URGENT, 1).otherwise(0).alias("grp"),
        )
    )
    g = F.col("grp")
    # obs is one row with THREE consumers (p_a into the exploded stream,
    # obs_d + n_rows into the final compare); localCheckpoint pins its
    # scan+aggregate to run once — the query then scans orders exactly
    # twice (observed stats, replicate stream), never four times
    obs = materialize(base.agg(
        (
            F.try_divide(F.sum(F.col("c") * g), 100.0 * F.sum(g))
            - F.try_divide(F.sum(F.col("c") * (1 - g)), 100.0 * F.sum(1 - g))
        ).alias("d"),
        F.try_divide(F.sum(g), F.count(F.lit(1)).cast("double")).alias("p_a"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
    ))
    exploded = (
        base.select(
            "o_orderkey",
            "c",
            F.explode(F.sequence(F.lit(0), F.lit(_B_PERM // 4 - 1))).alias("g"),
        )
        .withColumn("h", F.expr(f"md5({_PERM_KEY_G})"))
        .select("c", "h", "g", F.explode(F.sequence(F.lit(0), F.lit(3))).alias("s"))
        .select(
            "c",
            (4 * F.col("g") + F.col("s")).cast("long").alias("b"),
            F.expr(
                "CAST(conv(substring(h, CAST(1 + 8 * s AS INT), 8), 16, 10)"
                " AS DOUBLE) / 4294967296.0"
            ).alias("u"),
        )
        .crossJoin(F.broadcast(obs.select("p_a")))
    )
    in_a = F.col("u") < F.col("p_a")
    rep = exploded.groupBy("b", "p_a").agg(
        (
            F.try_divide(
                F.sum(F.when(in_a, F.col("c"))), 100.0 * F.count(F.when(in_a, 1))
            )
            - F.try_divide(
                F.sum(F.when(~in_a, F.col("c"))), 100.0 * F.count(F.when(~in_a, 1))
            )
        ).alias("d")
    )
    extreme = F.abs(F.col("d")) >= F.abs(F.col("obs_d"))
    return (
        rep.crossJoin(
            F.broadcast(
                obs.select(F.col("d").alias("obs_d"), "n_rows")
            )
        )
        .groupBy("n_rows", "obs_d")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_replicates"),
            (1 + F.count(F.when(extreme, 1))).cast("bigint").alias("n_extreme_plus1"),
            F.round(
                (1 + F.count(F.when(extreme, 1))) / (1.0 + F.count(F.lit(1))), 4
            ).alias("p_value"),
        )
        .select(
            "n_rows",
            F.round(F.col("obs_d"), 2).alias("obs_diff"),
            "n_replicates",
            "n_extreme_plus1",
            "p_value",
        )
    )


@register(
    "stats_jackknife_ratio",
    oracle="""
    WITH b AS (
      SELECT l_returnflag AS flag,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS x,
             CAST(floor(l_quantity) AS BIGINT) AS y
      FROM lineitem
      WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
    ),
    t AS (
      SELECT flag, count(*)::BIGINT AS n,
             sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy
      FROM b GROUP BY 1
    ),
    r AS (
      SELECT b.flag, t.n, t.sx, t.sy,
             CAST(t.sx - b.x AS DOUBLE) / nullif(t.sy - b.y, 0) AS ri
      FROM b JOIN t USING (flag)
    ),
    a AS (
      SELECT flag, n, sx, sy, var_pop(ri) AS vr
      FROM r GROUP BY flag, n, sx, sy
    )
    SELECT flag, n,
           round(CAST(sx AS DOUBLE) / nullif(sy, 0) / 100, 6) AS ratio,
           round(sqrt((n - 1) * vr) / 100, 6) AS jk_se,
           round((CAST(sx AS DOUBLE) / nullif(sy, 0)
                  - 1.96 * sqrt((n - 1) * vr)) / 100, 6) AS ci_lo,
           round((CAST(sx AS DOUBLE) / nullif(sy, 0)
                  + 1.96 * sqrt((n - 1) * vr)) / 100, 6) AS ci_hi
    FROM a
    """,
)
def stats_jackknife_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jackknife standard error for a RATIO estimator (revenue per unit,
    sum(x)/sum(y) per return flag) — the delete-one resampling scheme
    whose replicates need no copies of the data: the leave-one-out ratio
    r_i = (Sx−x_i)/(Sy−y_i) is computable per row from the broadcast
    group totals, so the whole estimator is one grouped pass for (n, Σx,
    Σy) plus one pass computing var_pop(r_i). jackknife_var =
    (n−1)/n·Σ(r_i−r̄)² = (n−1)·var_pop(r). Sums are exact integer cents
    and units; r_i values are O(ratio) with the group totals dominating,
    so r_i − r̄ spreads are tiny and the rounded outputs sit far inside
    the safe round grain (|x|·10^d ≪ 2^45 — see PLANS round-grain
    audit). n = 1 groups have Sy − y_i = 0; nullif/try_divide turn the
    whole CI NULL rather than an ANSI error."""
    li = load_table(spark, sf_dir, "lineitem")
    b = li.filter(
        F.col("l_extendedprice").isNotNull() & F.col("l_quantity").isNotNull()
    ).select(
        F.col("l_returnflag").alias("flag"),
        F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long").alias("x"),
        F.floor(F.col("l_quantity")).cast("long").alias("y"),
    )
    t = b.groupBy("flag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
    )
    r = b.join(F.broadcast(t), "flag").select(
        "flag",
        "n",
        "sx",
        "sy",
        F.try_divide(
            (F.col("sx") - F.col("x")).cast("double"), F.col("sy") - F.col("y")
        ).alias("ri"),
    )
    a = r.groupBy("flag", "n", "sx", "sy").agg(F.var_pop("ri").alias("vr"))
    ratio = F.try_divide(F.col("sx").cast("double"), F.col("sy"))
    se = F.sqrt((F.col("n") - 1) * F.col("vr"))
    return a.select(
        "flag",
        "n",
        F.round(ratio / 100, 6).alias("ratio"),
        F.round(se / 100, 6).alias("jk_se"),
        F.round((ratio - 1.96 * se) / 100, 6).alias("ci_lo"),
        F.round((ratio + 1.96 * se) / 100, 6).alias("ci_hi"),
    )
