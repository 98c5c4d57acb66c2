"""Two-sample / k-sample statistical inference over `orders`: Welch's
t-test, Mann-Whitney U, two-sample Kolmogorov-Smirnov, Spearman rank
correlation, one-way ANOVA.

Extension surface (SURVEY.md §2.C, scalar/statistics family): the
reference computes no inferential statistics at all (its only aggregate
is a windowed avg/min/max, `/root/reference/src/flink_job.py:104-128`);
this is the A/B-test / drift-detection layer a data platform runs on top
of the same tables. Every test here is EXACT (no sampling, no
approximation) and expressed so the heavy part is one hash aggregation:

* moment-based tests (Welch, ANOVA) reduce to per-group count/mean/var —
  one shuffle, one row out, trivially 100 TB-safe;
* rank-based tests (Mann-Whitney, KS, Spearman) need ranks, which at
  scale must NOT mean a global sort of raw rows: we aggregate to
  DISTINCT VALUES first (groupBy value → counts per group), then run the
  ordered cumulative pass over that far smaller value table. Ranks of
  tied values use the standard average-rank convention, computed from
  cumulative counts rather than row-level rank() — identical algebra,
  and the single-partition ordered pass touches |distinct values| rows,
  not |rows|. (Spearman keeps per-row ranks but partitions by group, so
  each group sorts independently — and its window is rank()+tie-shift,
  which Catalyst evaluates in one sort per partition.)

All five are value-oracled: the DuckDB twin runs the same algebra, and
double jitter is absorbed by the registry rounding convention.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hw_kafka_flink_health_spark.operators.relational import (
    global_prefix_sum,
    global_prefix_sums,
)
from hw_kafka_flink_health_spark.queries._registry import register
from hw_kafka_flink_health_spark.sources.files import load_table, materialize

_URGENT = "1-URGENT"
_LOW = "5-LOW"


@register(
    "stats_welch_ttest",
    oracle=f"""
    WITH g AS (
      SELECT count(o_totalprice) FILTER (o_orderpriority = '{_URGENT}')::BIGINT AS n_a,
             count(o_totalprice) FILTER (o_orderpriority = '{_LOW}')::BIGINT AS n_b,
             avg(o_totalprice) FILTER (o_orderpriority = '{_URGENT}') AS m_a,
             avg(o_totalprice) FILTER (o_orderpriority = '{_LOW}')    AS m_b,
             var_samp(o_totalprice) FILTER (o_orderpriority = '{_URGENT}') AS v_a,
             var_samp(o_totalprice) FILTER (o_orderpriority = '{_LOW}')    AS v_b
      FROM orders WHERE o_orderpriority IN ('{_URGENT}', '{_LOW}')
    )
    SELECT n_a, n_b, round(m_a, 2) AS mean_a, round(m_b, 2) AS mean_b,
           round((m_a - m_b) / nullif(sqrt(v_a / n_a + v_b / n_b), 0),
                 4) AS t_stat,
           round(pow(v_a / n_a + v_b / n_b, 2)
                 / nullif(pow(v_a / n_a, 2) / nullif(n_a - 1, 0)
                          + pow(v_b / n_b, 2) / nullif(n_b - 1, 0), 0),
                 2) AS welch_df
    FROM g
    """,
)
def stats_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test: URGENT vs LOW order values.

    Moment test = conditional aggregates in ONE pass (count/avg/var_samp
    with FILTER semantics via when()), so the physical plan is a single
    partial+final hash aggregate over the filtered scan — the 100 TB cost
    is the scan itself. t and the Welch-Satterthwaite df are driver-free
    scalar algebra on the one-row aggregate."""
    orders = load_table(spark, sf_dir, "orders")
    a = F.col("o_orderpriority") == _URGENT
    b = F.col("o_orderpriority") == _LOW
    price = F.col("o_totalprice")
    g = (
        orders.filter(a | b)
        .agg(
            F.count(F.when(a, price)).cast("long").alias("n_a"),
            F.count(F.when(b, price)).cast("long").alias("n_b"),
            F.avg(F.when(a, price)).alias("m_a"),
            F.avg(F.when(b, price)).alias("m_b"),
            F.var_samp(F.when(a, price)).alias("v_a"),
            F.var_samp(F.when(b, price)).alias("v_b"),
        )
    )
    se2_a = F.col("v_a") / F.col("n_a")
    se2_b = F.col("v_b") / F.col("n_b")
    return g.select(
        "n_a",
        "n_b",
        F.round("m_a", 2).alias("mean_a"),
        F.round("m_b", 2).alias("mean_b"),
        # try_divide: two all-tied groups give variance 0 → 0/0 must be
        # NULL, not an ANSI error; n=1 groups give a 0 df denominator.
        F.round(
            F.try_divide(F.col("m_a") - F.col("m_b"), F.sqrt(se2_a + se2_b)), 4
        ).alias("t_stat"),
        F.round(
            F.try_divide(
                F.pow(se2_a + se2_b, F.lit(2)),
                F.try_divide(F.pow(se2_a, F.lit(2)), F.col("n_a") - 1)
                + F.try_divide(F.pow(se2_b, F.lit(2)), F.col("n_b") - 1),
            ),
            2,
        ).alias("welch_df"),
    )


@register(
    "stats_anova_f",
    oracle="""
    WITH c AS (
      SELECT o_orderpriority AS grp,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders WHERE o_totalprice IS NOT NULL
    ),
    g AS (
      SELECT grp, count(*)::BIGINT AS n,
             CAST(sum(cents) AS DECIMAL(38,0)) AS s1,
             CAST(sum(cents * cents) AS DECIMAL(38,0)) AS s2
      FROM c GROUP BY 1
    ),
    p AS (
      SELECT count(*)::BIGINT AS k, sum(n)::BIGINT AS big_n,
             CAST(CAST(sum(s1) AS DECIMAL(38,0)) AS DOUBLE) AS s1d,
             CAST(CAST(sum(s2) AS DECIMAL(38,0)) AS DOUBLE) AS s2d,
             list_reduce(
               list(CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                      / CAST(n AS DOUBLE) ORDER BY grp),
               (a, b) -> a + b) AS a_term
      FROM g
    )
    SELECT k, big_n,
           round((a_term - s1d * s1d / big_n) / 1e4, 0) AS ss_between,
           round((s2d - a_term) / 1e4, 0) AS ss_within,
           round((a_term - s1d * s1d / big_n) / nullif(k - 1, 0)
                 / nullif((s2d - a_term) / nullif(big_n - k, 0), 0),
                 4) AS f_stat,
           round((a_term - s1d * s1d / big_n)
                 / nullif((a_term - s1d * s1d / big_n) + (s2d - a_term), 0),
                 4) AS eta_sq
    FROM p
    """,
)
def stats_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F across the five order priorities.

    Partition-order invariant by construction (the r7 verdict's task #1):
    every data-sized aggregation is an EXACT integer-cents sum carried in
    DECIMAL(38,0) — n, Σx, Σx² per group — so no floating-point sum whose
    value depends on partial-aggregate merge order ever touches the data.
    The k-row cross-group term A = Σ s1_g²/n_g is folded over the groups
    in a pinned order (array_sort / list(... ORDER BY grp) + sequential
    fold) so even that 5-double summation is deterministic; SSB/SSW/F/η²
    are then identical scalar IEEE expressions in both engines (x*x, no
    libm pow). The SS outputs round at whole-dollar² grain: the round
    probe (PLANS.md round-grain audit) shows Spark and DuckDB round(x, d)
    DISAGREE on identical doubles once |x|·10^d nears 2^52, which is what
    broke the old round(ssw, 2) at 3.1e13. F and η² are O(1)-magnitude
    ratios, safe at 4 decimals. Still exactly one grouped pass over
    orders — 100 TB cost unchanged."""
    orders = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
    g = (
        orders.filter(F.col("o_totalprice").isNotNull())
        .select(F.col("o_orderpriority").alias("grp"), cents.alias("cents"))
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("cents").cast("decimal(18,0)")).alias("s1"),
            F.sum((F.col("cents") * F.col("cents")).cast("decimal(27,0)")).alias("s2"),
        )
    )
    p = g.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n").cast("long").alias("big_n"),
        F.sum("s1").cast("decimal(38,0)").cast("double").alias("s1d"),
        F.sum("s2").cast("decimal(38,0)").cast("double").alias("s2d"),
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("grp", "n", "s1"))),
                lambda x: x["s1"].cast("double") * x["s1"].cast("double")
                / x["n"].cast("double"),
            ),
            F.lit(0.0),
            lambda acc, t: acc + t,
        ).alias("a_term"),
    )
    ssb = F.col("a_term") - F.col("s1d") * F.col("s1d") / F.col("big_n")
    ssw = F.col("s2d") - F.col("a_term")
    # try_divide at every step: k=1 (one group), N=k (1-row groups) and
    # ssw=0 (all-tied values) are legal degenerate inputs that must yield
    # NULL, not an ANSI error — oracle mirrors via nullif. Empty input:
    # Spark's fold gives a_term=0.0 while DuckDB's list() gives NULL, but
    # every output then involves the NULL s1d/s2d, so both emit one
    # all-NULL-stats row.
    return p.select(
        "k",
        "big_n",
        F.round(ssb / F.lit(1e4), 0).alias("ss_between"),
        F.round(ssw / F.lit(1e4), 0).alias("ss_within"),
        F.round(
            F.try_divide(
                F.try_divide(ssb, F.col("k") - 1),
                F.try_divide(ssw, F.col("big_n") - F.col("k")),
            ),
            4,
        ).alias("f_stat"),
        F.round(F.try_divide(ssb, ssb + ssw), 4).alias("eta_sq"),
    )


@register(
    "stats_mannwhitney_u",
    oracle=f"""
    WITH byval AS (
      SELECT o_totalprice AS v,
             count(*) FILTER (o_orderpriority = '{_URGENT}')::BIGINT AS ca,
             count(*) FILTER (o_orderpriority = '{_LOW}')::BIGINT    AS cb,
             count(*)::BIGINT AS c
      FROM orders WHERE o_orderpriority IN ('{_URGENT}', '{_LOW}')
        AND o_totalprice IS NOT NULL
      GROUP BY 1
    ),
    ranked AS (
      SELECT ca, cb, c,
             coalesce(sum(c) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + (c + 1) / 2.0 AS avgrank
      FROM byval
    ),
    agg AS (
      SELECT sum(ca)::BIGINT AS n_a, sum(cb)::BIGINT AS n_b,
             sum(ca * avgrank) AS r_a,
             sum(CAST(c AS DOUBLE) * c * c - c) AS tie_term
      FROM ranked
    )
    SELECT n_a, n_b,
           round(r_a - n_a * (n_a + 1) / 2.0, 2) AS u_a,
           round(n_a * n_b - (r_a - n_a * (n_a + 1) / 2.0), 2) AS u_b,
           round((r_a - n_a * (n_a + 1) / 2.0 - n_a * n_b / 2.0)
                 / nullif(sqrt(n_a * n_b / 12.0
                        * ((n_a + n_b + 1)
                           - tie_term / nullif(CAST(n_a + n_b AS DOUBLE)
                                               * (n_a + n_b - 1), 0))), 0),
                 4) AS z_stat
    FROM agg
    """,
)
def stats_mannwhitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum), URGENT vs LOW order values,
    with average ranks for ties and the tie-corrected normal z.

    The scale trick: ranks come from DISTINCT VALUES, not rows. groupBy
    value collapses N rows to V value-rows (one shuffle), and the rank
    of every tied row is recovered algebraically (ca·avgrank), so no
    row-level global sort ever happens. For a CONTINUOUS money column V
    itself grows ~O(rows), so the ordered cumulative pass must not be a
    single-partition window either: it runs on `global_prefix_sum`
    (range shuffle + bounded offsets broadcast — VERDICT r11 #1), with
    avgrank derived from the INCLUSIVE cumsum as
    (cum − c) + (c+1)/2 — exact long arithmetic, identical algebra."""
    orders = load_table(spark, sf_dir, "orders")
    a = F.col("o_orderpriority") == _URGENT
    byval = (
        orders.filter(
            (a | (F.col("o_orderpriority") == _LOW))
            & F.col("o_totalprice").isNotNull()
        )
        .groupBy(F.col("o_totalprice").alias("v"))
        .agg(
            F.count(F.when(a, 1)).cast("long").alias("ca"),
            F.count(F.when(~a, 1)).cast("long").alias("cb"),
            F.count(F.lit(1)).cast("long").alias("c"),
        )
    )
    ranked = global_prefix_sum(byval, "c", ["v"], out_col="_c_cum").withColumn(
        "avgrank",
        (F.col("_c_cum") - F.col("c")) + (F.col("c") + 1) / 2.0,
    )
    agg = ranked.agg(
        F.sum("ca").cast("long").alias("n_a"),
        F.sum("cb").cast("long").alias("n_b"),
        F.sum(F.col("ca") * F.col("avgrank")).alias("r_a"),
        # cube in double: a value repeating >2.09M times would overflow
        # int64 c^3 under ANSI; the term is consumed in double anyway
        F.sum(
            F.col("c").cast("double") * F.col("c") * F.col("c") - F.col("c")
        ).alias("tie_term"),
    )
    n_a, n_b = F.col("n_a"), F.col("n_b")
    u_a = F.col("r_a") - n_a * (n_a + 1) / 2.0
    big_n = n_a + n_b
    # try_divide guards the N<=1 (tie ratio) and empty-group (sigma=0)
    # degenerates — NULL z, mirrored by the oracle's nullif.
    sigma2 = (
        n_a
        * n_b
        / 12.0
        * (
            (big_n + 1)
            - F.try_divide(
                F.col("tie_term"), big_n.cast("double") * (big_n - 1)
            )
        )
    )
    return agg.select(
        "n_a",
        "n_b",
        F.round(u_a, 2).alias("u_a"),
        F.round(n_a * n_b - u_a, 2).alias("u_b"),
        F.round(
            F.try_divide(u_a - n_a * n_b / 2.0, F.sqrt(sigma2)), 4
        ).alias("z_stat"),
    )


@register(
    "stats_ks_two_sample",
    oracle=f"""
    WITH byval AS (
      SELECT o_totalprice AS v,
             count(*) FILTER (o_orderpriority = '{_URGENT}')::BIGINT AS ca,
             count(*) FILTER (o_orderpriority = '{_LOW}')::BIGINT    AS cb
      FROM orders WHERE o_orderpriority IN ('{_URGENT}', '{_LOW}')
        AND o_totalprice IS NOT NULL
      GROUP BY 1
    ),
    cums AS (
      SELECT v,
             sum(ca) OVER (ORDER BY v)::BIGINT AS ca_cum,
             sum(cb) OVER (ORDER BY v)::BIGINT AS cb_cum,
             sum(ca) OVER ()::BIGINT AS n_a,
             sum(cb) OVER ()::BIGINT AS n_b
      FROM byval
    ),
    best AS (
      SELECT n_a, n_b, abs(ca_cum * n_b - cb_cum * n_a) AS d_num, v
      FROM cums
      ORDER BY d_num DESC, v ASC
      LIMIT 1
    )
    SELECT n_a, n_b,
           round(d_num / nullif(CAST(n_a AS DOUBLE) * n_b, 0), 6) AS ks_d,
           round(d_num / nullif(CAST(n_a AS DOUBLE) * n_b, 0)
                 * sqrt(CAST(n_a AS DOUBLE) * n_b / (n_a + n_b)), 4)
             AS ks_scaled,
           round(v, 2) AS ks_location
    FROM best
    """,
)
def stats_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov D between URGENT and LOW order-value
    distributions, plus the location where the ECDF gap peaks.

    Same distinct-value reduction as Mann-Whitney: ECDF steps only at
    observed values, so cumulative counts over the value table ARE the
    ECDFs. Both ECDF cumsums ride ONE `global_prefix_sums` pass (range
    shuffle + bounded offsets — no single-partition window over the
    continuous-value table, VERDICT r11 #1), and the group totals are
    max() over the monotone nonneg cumsums, so the checkpointed frame is
    scanned, not the raw table. The argmax is computed on the INTEGER
    numerator |ca_cum·n_b − cb_cum·n_a| (exact, no float comparison),
    with ties broken to the smallest value — deterministic across
    engines, pinned by the value hash."""
    orders = load_table(spark, sf_dir, "orders")
    a = F.col("o_orderpriority") == _URGENT
    byval = (
        orders.filter(
            (a | (F.col("o_orderpriority") == _LOW))
            & F.col("o_totalprice").isNotNull()
        )
        .groupBy(F.col("o_totalprice").alias("v"))
        .agg(
            F.count(F.when(a, 1)).cast("long").alias("ca"),
            F.count(F.when(~a, 1)).cast("long").alias("cb"),
        )
    )
    # Checkpoint the scan OUTPUT (its internal checkpoint sits below
    # the Arrow pass): tot and the argmax pass are two consumers that
    # would otherwise each replay the mapInPandas scan (review r12).
    cumsums = materialize(
        global_prefix_sums(byval, ["ca", "cb"], ["v"], out_cols=["ca_cum", "cb_cum"])
    )
    # Totals = max of the monotone nonneg cumsums — no second table scan.
    tot = cumsums.agg(
        F.max("ca_cum").cast("long").alias("n_a"),
        F.max("cb_cum").cast("long").alias("n_b"),
    )
    cums = cumsums.crossJoin(F.broadcast(tot)).select(
        "v",
        F.col("ca_cum").cast("long").alias("ca_cum"),
        F.col("cb_cum").cast("long").alias("cb_cum"),
        "n_a",
        "n_b",
    )
    d_num = F.abs(F.col("ca_cum") * F.col("n_b") - F.col("cb_cum") * F.col("n_a"))
    # argmax with min-v tiebreak via struct max on (d_num, -v): d_num is an
    # exact integer, so the comparison is deterministic cross-engine.
    best = cums.select(
        "n_a",
        "n_b",
        F.struct(d_num.alias("d_num"), (-F.col("v")).alias("neg_v")).alias("s"),
    ).groupBy("n_a", "n_b").agg(F.max("s").alias("m"))
    d = F.col("m.d_num")
    na_d = F.col("n_a").cast("double")
    # try_divide: a fixture with only one of the two groups present gives
    # n_a·n_b = 0 → NULL D, mirrored by the oracle's nullif.
    return best.select(
        "n_a",
        "n_b",
        F.round(F.try_divide(d, na_d * F.col("n_b")), 6).alias("ks_d"),
        F.round(
            F.try_divide(d, na_d * F.col("n_b"))
            * F.sqrt(na_d * F.col("n_b") / (F.col("n_a") + F.col("n_b"))),
            4,
        ).alias("ks_scaled"),
        F.round(-F.col("m.neg_v"), 2).alias("ks_location"),
    )


@register(
    "stats_spearman_rho",
    oracle="""
    WITH ranked AS (
      SELECT o_orderpriority,
             rank() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice)
               + (count(*) OVER (PARTITION BY o_orderpriority, o_totalprice) - 1)
                 / 2.0 AS r_price,
             rank() OVER (PARTITION BY o_orderpriority ORDER BY o_orderdate)
               + (count(*) OVER (PARTITION BY o_orderpriority, o_orderdate) - 1)
                 / 2.0 AS r_date
      FROM orders
      WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL
    )
    SELECT o_orderpriority, count(*)::BIGINT AS n,
           round(covar_samp(r_price, r_date)
                 / nullif(stddev_samp(r_price) * stddev_samp(r_date), 0),
                 4) AS spearman_rho
    FROM ranked
    GROUP BY 1
    """,
)
def stats_spearman_rho(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between order value and order date,
    per priority group, with average ranks for ties.

    Average rank = rank() + (tie_count − 1)/2 — two window functions
    sharing ONE partition-by-priority exchange (Catalyst reuses the
    exchange; each group sorts independently, so no global sort). rho is
    then Pearson on ranks via covar_samp/stddevs, guarded with
    try_divide so a zero-variance group (all-tied fuzz data) yields NULL
    instead of an ANSI divide error — mirrored by the oracle's nullif."""
    orders = load_table(spark, sf_dir, "orders")
    by = F.col("o_orderpriority")
    rp = F.rank().over(Window.partitionBy(by).orderBy("o_totalprice")) + (
        F.count(F.lit(1)).over(Window.partitionBy(by, F.col("o_totalprice"))) - 1
    ) / 2.0
    rd = F.rank().over(Window.partitionBy(by).orderBy("o_orderdate")) + (
        F.count(F.lit(1)).over(Window.partitionBy(by, F.col("o_orderdate"))) - 1
    ) / 2.0
    ranked = orders.filter(
        F.col("o_totalprice").isNotNull() & F.col("o_orderdate").isNotNull()
    ).select("o_orderpriority", rp.alias("r_price"), rd.alias("r_date"))
    return ranked.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(
            F.try_divide(
                F.covar_samp("r_price", "r_date"),
                F.stddev_samp("r_price") * F.stddev_samp("r_date"),
            ),
            4,
        ).alias("spearman_rho"),
    )


@register(
    "regr_multiple_ols",
    oracle="""
    WITH m AS (
      SELECT l_returnflag,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sx1,
             CAST(sum(CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sx2,
             CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sy,
             CAST(sum(CAST(floor(l_quantity) AS BIGINT)
                      * CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sx11,
             CAST(sum(CAST(floor(l_discount * 100 + 0.5) AS BIGINT)
                      * CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sx22,
             CAST(sum(CAST(floor(l_quantity) AS BIGINT)
                      * CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sx12,
             CAST(sum(CAST(floor(l_quantity) AS BIGINT)
                      * CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sx1y,
             CAST(sum(CAST(floor(l_discount * 100 + 0.5) AS BIGINT)
                      * CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sx2y
      FROM lineitem
      GROUP BY l_returnflag
    ), c AS (
      SELECT l_returnflag, n, sx1, sx2, sy,
             CAST(n AS DOUBLE) * sx11 - CAST(sx1 AS DOUBLE) * sx1 AS a11,
             CAST(n AS DOUBLE) * sx12 - CAST(sx1 AS DOUBLE) * sx2 AS a12,
             CAST(n AS DOUBLE) * sx22 - CAST(sx2 AS DOUBLE) * sx2 AS a22,
             CAST(n AS DOUBLE) * sx1y - CAST(sx1 AS DOUBLE) * sy AS b1v,
             CAST(n AS DOUBLE) * sx2y - CAST(sx2 AS DOUBLE) * sy AS b2v
      FROM m
    ), s AS (
      SELECT l_returnflag, n, sx1, sx2, sy,
             a11 * a22 - a12 * a12 AS det, a11, a12, a22, b1v, b2v
      FROM c
    ), b AS (
      SELECT l_returnflag, n, sx1, sx2, sy, det,
             CASE WHEN det <> 0 THEN (b1v * a22 - b2v * a12) / det END AS beta1,
             CASE WHEN det <> 0 THEN (b2v * a11 - b1v * a12) / det END AS beta2
      FROM s
    )
    SELECT l_returnflag, n,
           CASE WHEN det <> 0
                THEN (sy - beta1 * sx1 - beta2 * sx2) / n END AS beta0_cents,
           beta1 AS beta1_cents_per_qty,
           beta2 AS beta2_cents_per_disc_pct
    FROM b
    """,
)
def regr_multiple_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-feature ordinary least squares per return flag — price (cents)
    regressed on quantity and discount points, solved in closed form by
    Cramer's rule on the centered normal equations. Every sufficient
    statistic is an EXACT BIGINT sum of integerized columns (floor(qty),
    floor(100*discount), floor(100*price)); the centering, determinant,
    and solve are then a fixed IEEE expression over those exact moments,
    so both engines compute bit-identical coefficients with no rounding
    slack. Degenerate design matrices (zero variance or collinear
    features, e.g. the all-identical-rows fixture) yield det = 0 and
    NULL coefficients instead of a throw. Shape: ONE map-side-combinable
    hash aggregate over the fact table — 9 running sums — then scalar
    algebra on a |groups|-row table; the textbook 100 TB regression
    posture (no gram-matrix shuffle, no iterative solver)."""
    li = load_table(spark, sf_dir, "lineitem")
    x1 = F.floor("l_quantity").cast("long")
    x2 = F.floor(F.col("l_discount") * 100 + 0.5).cast("long")
    y = F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(x1).cast("long").alias("sx1"),
        F.sum(x2).cast("long").alias("sx2"),
        F.sum(y).cast("long").alias("sy"),
        F.sum(x1 * x1).cast("long").alias("sx11"),
        F.sum(x2 * x2).cast("long").alias("sx22"),
        F.sum(x1 * x2).cast("long").alias("sx12"),
        F.sum(x1 * y).cast("long").alias("sx1y"),
        F.sum(x2 * y).cast("long").alias("sx2y"),
    )
    nd = F.col("n").cast("double")
    a11 = nd * F.col("sx11") - F.col("sx1").cast("double") * F.col("sx1")
    a12 = nd * F.col("sx12") - F.col("sx1").cast("double") * F.col("sx2")
    a22 = nd * F.col("sx22") - F.col("sx2").cast("double") * F.col("sx2")
    b1v = nd * F.col("sx1y") - F.col("sx1").cast("double") * F.col("sy")
    b2v = nd * F.col("sx2y") - F.col("sx2").cast("double") * F.col("sy")
    c = m.select(
        "l_returnflag", "n", "sx1", "sx2", "sy",
        a11.alias("a11"), a12.alias("a12"), a22.alias("a22"),
        b1v.alias("b1v"), b2v.alias("b2v"),
    ).withColumn("det", F.col("a11") * F.col("a22") - F.col("a12") * F.col("a12"))
    beta1 = F.when(
        F.col("det") != 0,
        (F.col("b1v") * F.col("a22") - F.col("b2v") * F.col("a12")) / F.col("det"),
    )
    beta2 = F.when(
        F.col("det") != 0,
        (F.col("b2v") * F.col("a11") - F.col("b1v") * F.col("a12")) / F.col("det"),
    )
    b = c.select(
        "l_returnflag", "n", "sx1", "sx2", "sy", "det",
        beta1.alias("beta1"), beta2.alias("beta2"),
    )
    return b.select(
        "l_returnflag",
        "n",
        F.when(
            F.col("det") != 0,
            (
                F.col("sy")
                - F.col("beta1") * F.col("sx1")
                - F.col("beta2") * F.col("sx2")
            )
            / F.col("n"),
        ).alias("beta0_cents"),
        F.col("beta1").alias("beta1_cents_per_qty"),
        F.col("beta2").alias("beta2_cents_per_disc_pct"),
    )


@register(
    "stats_levene_test",
    oracle="""
    WITH c AS (
      SELECT o_orderpriority AS grp,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS x
      FROM orders WHERE o_totalprice IS NOT NULL
    ), med AS (
      SELECT grp,
             CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY x) AS BIGINT) AS m
      FROM c GROUP BY grp
    ), z AS (
      SELECT c.grp, abs(c.x - med.m) AS z FROM c JOIN med USING (grp)
    ), g AS (
      SELECT grp, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(z) AS BIGINT) AS s1,
             CAST(sum(z * z) AS BIGINT) AS s2
      FROM z GROUP BY grp
    ), t AS (
      SELECT CAST(sum(n) AS BIGINT) AS big_n, CAST(count(*) AS BIGINT) AS k,
             CAST(sum(s1) AS DOUBLE) / sum(n) AS gm
      FROM g
    )
    SELECT k, big_n,
           ssb AS ss_between_1e6,
           ssw AS ss_within_1e6,
           round((ssb / nullif(k - 1, 0))
                 / nullif(ssw / nullif(big_n - k, 0), 0), 4) AS w_stat
    FROM (
      SELECT t.k, t.big_n,
             round(sum(g.n * pow(CAST(g.s1 AS DOUBLE) / g.n - t.gm, 2)), -6)
               AS ssb,
             round(sum(g.s2 - CAST(g.s1 AS DOUBLE) * g.s1 / g.n), -6) AS ssw
      FROM g, t GROUP BY t.k, t.big_n
    )
    """,
)
def stats_levene_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown–Forsythe (median-based Levene) test of variance homogeneity
    across the five order priorities — the check run BEFORE trusting
    anova_f, whose F statistic assumes equal group variances.

    Exactness: prices enter as integer cents; group medians come from
    percentile_disc (an ORDER-STATISTIC both engines pick identically —
    no interpolation), so every |x - med| deviation is an exact BIGINT
    and the per-group sufficient statistics (n, Σz, Σz²) are exact
    integers. The W statistic is then one fixed IEEE expression over
    those integers — bit-identical cross-engine, NULL (not a crash) for
    the degenerate k=1 and zero-SSW fixtures (try-division mirrored by
    nullif in the twin).

    Shape: one grouped median pass (5 rows), a broadcast join back, one
    grouped moment aggregate, one 5-row reduction against the 1-row
    grand stats — two passes over the fact table total, both map-side
    combined; cost at 100 TB is the two scans, nothing quadratic."""
    c = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice").isNotNull())
        .select(
            F.col("o_orderpriority").alias("grp"),
            F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("x"),
        )
    )
    med = c.groupBy("grp").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY x)")
        .cast("long")
        .alias("m")
    )
    z = c.join(F.broadcast(med), "grp").select(
        "grp", F.abs(F.col("x") - F.col("m")).alias("z")
    )
    g = z.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("z").cast("long").alias("s1"),
        F.sum(F.col("z") * F.col("z")).cast("long").alias("s2"),
    )
    t = g.agg(
        F.sum("n").cast("long").alias("big_n"),
        F.count(F.lit(1)).cast("long").alias("k"),
        (F.sum("s1").cast("double") / F.sum("n")).alias("gm"),
    )
    j = g.crossJoin(F.broadcast(t))
    mean_dev = F.col("s1").cast("double") / F.col("n")
    # the cross-group SS sums exceed 2^53 at bench scale, so their float
    # value depends on the (nondeterministic) partial-agg merge order by
    # a few ulp — round both SS terms to a 1e6 grain that absorbs
    # summation-order error (exact at fixture scale; ~5 ulp ≈ 640 vs a
    # 5e5 half-grain at sf0.1) and derive W from the ROUNDED inputs on
    # both sides, making the statistic bit-identical cross-engine
    ssb = F.round(F.sum(F.col("n") * F.pow(mean_dev - F.col("gm"), F.lit(2))), -6)
    ssw = F.round(
        F.sum(F.col("s2") - F.col("s1").cast("double") * F.col("s1") / F.col("n")),
        -6,
    )
    agg = j.groupBy("k", "big_n").agg(ssb.alias("ssb"), ssw.alias("ssw"))
    return agg.select(
        "k",
        "big_n",
        F.col("ssb").alias("ss_between_1e6"),
        F.col("ssw").alias("ss_within_1e6"),
        F.round(
            F.try_divide(
                F.try_divide(F.col("ssb"), F.nullif(F.col("k") - 1, F.lit(0))),
                F.nullif(
                    F.try_divide(
                        F.col("ssw"),
                        F.nullif(F.col("big_n") - F.col("k"), F.lit(0)),
                    ),
                    F.lit(0.0),
                ),
            ),
            4,
        ).alias("w_stat"),
    )


@register(
    "stats_cochran_armitage",
    oracle="""
    WITH e AS (
      SELECT (epoch_ms(ts) // 86400000) % 7 AS t,
             CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS y
      FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
    ), g AS (
      SELECT t, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS r
      FROM e GROUP BY t
    ), s AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(n) AS BIGINT) AS big_n,
             CAST(sum(r) AS BIGINT) AS big_r,
             CAST(sum(t * n) AS BIGINT) AS stn,
             CAST(sum(t * t * n) AS BIGINT) AS st2n,
             CAST(sum(t * r) AS BIGINT) AS str
      FROM g
    )
    SELECT k, big_n, big_r,
           CAST(big_n * str - stn * big_r AS BIGINT) AS a_num,
           round((CAST(big_n * str - stn * big_r AS DOUBLE)
                  * (big_n * str - stn * big_r) * big_n)
                 / nullif(CAST(big_r AS DOUBLE) * (big_n - big_r)
                          * (big_n * st2n - stn * stn), 0), 4) AS z2_trend
    FROM s
    """,
)
def stats_cochran_armitage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran–Armitage trend test: is the error-event PROPORTION
    linearly trending across the 7 epoch-day-of-week doses? The
    categorical chi-square (stats_chi_square_independence) spends k-1
    degrees of freedom and misses ordered structure; CA concentrates
    the test on the linear contrast — the standard dose-response /
    day-of-week drift screen.

    Exactness: doses and outcomes are integers, so every sufficient
    statistic (N, R, Σtn, Σt²n, Σtr) is an exact BIGINT, the trend
    numerator A = N·Σtr − Σtn·R is exact (≤ ~1e13 at bench scale, far
    inside int64), and z² = A²·N / (R(N−R)(NΣt²n − (Σtn)²)) is ONE
    fixed IEEE expression over exact integers — bit-identical
    cross-engine, NULL on the degenerate all-error / no-error / single-
    dose fixtures (nullif mirrored). Day key = epoch-ms DIV 86400000
    mod 7 (pure integer — never an engine-specific dayofweek).

    Shape: one map-side-combined aggregate to ≤7 rows, one 1-row
    reduction; one scan total at any scale."""
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull() & F.col("event_type").isNotNull())
        .select(
            (
                F.expr("unix_millis(CAST(ts AS TIMESTAMP)) DIV 86400000") % 7
            ).alias("t"),
            F.when(F.col("event_type") == "error", 1).otherwise(0).alias("y"),
        )
    )
    g = e.groupBy("t").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("r"),
    )
    s = g.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n").cast("long").alias("big_n"),
        F.sum("r").cast("long").alias("big_r"),
        F.sum(F.col("t") * F.col("n")).cast("long").alias("stn"),
        F.sum(F.col("t") * F.col("t") * F.col("n")).cast("long").alias("st2n"),
        F.sum(F.col("t") * F.col("r")).cast("long").alias("str"),
    )
    a = F.col("big_n") * F.col("str") - F.col("stn") * F.col("big_r")
    den = (
        F.col("big_r").cast("double")
        * (F.col("big_n") - F.col("big_r"))
        * (F.col("big_n") * F.col("st2n") - F.col("stn") * F.col("stn"))
    )
    return s.select(
        "k",
        "big_n",
        "big_r",
        a.cast("long").alias("a_num"),
        F.round(
            F.try_divide(
                a.cast("double") * a * F.col("big_n"), F.nullif(den, F.lit(0.0))
            ),
            4,
        ).alias("z2_trend"),
    )


@register(
    "stats_kruskal_wallis",
    oracle="""
    WITH gv AS (
      SELECT o_totalprice AS v, o_orderpriority AS priority,
             count(*)::BIGINT AS cg
      FROM orders WHERE o_totalprice IS NOT NULL
      GROUP BY 1, 2
    ),
    byval AS (
      SELECT v, CAST(sum(cg) AS BIGINT) AS c FROM gv GROUP BY 1
    ),
    ranked AS (
      SELECT v, c,
             2 * coalesce(sum(c) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + c + 1 AS avgrank2
      FROM byval
    ),
    tot AS (
      SELECT CAST(sum(c) AS BIGINT) AS n_tot,
             CAST(sum(CAST(c AS HUGEINT) * c * c - c) AS DOUBLE) AS tie_term
      FROM ranked
    ),
    per AS (
      SELECT gv.priority, CAST(sum(gv.cg) AS BIGINT) AS n_g,
             CAST(sum(gv.cg * r.avgrank2) AS BIGINT) AS r2_g
      FROM gv JOIN ranked r USING (v)
      GROUP BY 1
    ),
    hsum AS (
      SELECT list_reduce(
               list(CAST(r2_g AS DOUBLE) * r2_g / (4.0 * n_g)
                    ORDER BY priority),
               (a, b) -> a + b) AS s
      FROM per
    )
    SELECT p.priority, p.n_g,
           CAST(p.r2_g AS DOUBLE) / (2.0 * p.n_g) AS mean_rank,
           (12.0 / (CAST(t.n_tot AS DOUBLE) * (t.n_tot + 1)) * h.s
              - 3.0 * (t.n_tot + 1))
             / nullif(1 - t.tie_term
                 / nullif(CAST(t.n_tot AS DOUBLE) * t.n_tot * t.n_tot
                          - t.n_tot, 0), 0) AS h_stat
    FROM per p, tot t, hsum h
    """,
)
def stats_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H across ALL FIVE order priorities — the k-group
    generalization of `stats_mannwhitney_u`, with average ranks for ties
    and the tie-corrected statistic.

    Scale shape (same distinct-value rank algebra as Mann-Whitney): ranks
    come from VALUE groups, never a row-level sort — one (value, group)
    aggregate, one value aggregate, the cumulative pass on
    `global_prefix_sum` (range shuffle + bounded offsets; the continuous
    money column makes the distinct grain ~O(rows), so no
    single-partition window — r12), and a join back. Determinism is EXACT integer
    algebra end to end: avgrank2 = 2·rank is an integer (half-ranks
    doubled), per-group rank sums and the tie cube stay in
    BIGINT/DECIMAL, and the only floats are correctly-rounded divisions
    of identical integers plus a PINNED-ORDER fold (array_sort +
    aggregate vs list(... ORDER BY) + list_reduce) over the five
    per-group terms — so H is emitted UNROUNDED (round() on identical
    doubles is the hazard, not the fix). try_divide/nullif mirror the
    degenerate all-tied (tie ratio = 1) and N<=1 corpora as NULL."""
    orders = load_table(spark, sf_dir, "orders")
    gv = materialize(  # two consumers: byval and the rank join-back
        orders.filter(F.col("o_totalprice").isNotNull())
        .groupBy(
            F.col("o_totalprice").alias("v"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("cg"))
    )
    byval = gv.groupBy("v").agg(F.sum("cg").cast("long").alias("c"))
    # Doubled-rank cumulative via global_prefix_sum (range shuffle +
    # bounded offsets) — o_totalprice is CONTINUOUS, so the distinct
    # grain grows ~O(rows) and a single-partition ordered pass would die
    # at 100x (same rewire as Mann-Whitney/KS/Cliffs, r12; this one had
    # evaded the r11 sweep because the checkpoint capture never fired).
    # The scan's internal checkpoint sits BELOW its Arrow pass, so the
    # OUTPUT is checkpointed too: tot and the per-group join would
    # otherwise each replay the mapInPandas scan (review r12).
    ranked = materialize(
        global_prefix_sum(byval, "c", ["v"], out_col="_c_cum")
        .withColumn(
            "avgrank2",
            2 * (F.col("_c_cum") - F.col("c")) + F.col("c") + 1,
        )
    )
    tot = ranked.agg(
        F.sum("c").cast("long").alias("n_tot"),
        F.sum(
            F.col("c").cast("decimal(12,0)").cast("decimal(38,0)")
            * F.col("c")
            * F.col("c")
            - F.col("c")
        )
        .cast("double")
        .alias("tie_term"),
    )
    per = (
        gv.join(ranked.select("v", "avgrank2"), "v")
        .groupBy("priority")
        .agg(
            F.sum("cg").cast("long").alias("n_g"),
            F.sum(F.col("cg") * F.col("avgrank2")).cast("long").alias("r2_g"),
        )
    )
    hsum = per.agg(
        F.aggregate(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("priority"),
                        (
                            F.col("r2_g").cast("double")
                            * F.col("r2_g")
                            / (4.0 * F.col("n_g"))
                        ).alias("term"),
                    )
                )
            ),
            F.lit(0.0),
            lambda acc, s: acc + s["term"],
        ).alias("s")
    )
    n_tot = F.col("n_tot")
    h = F.try_divide(
        12.0 / (n_tot.cast("double") * (n_tot + 1)) * F.col("s")
        - 3.0 * (n_tot + 1),
        F.nullif(
            1
            - F.try_divide(
                F.col("tie_term"),
                F.nullif(
                    n_tot.cast("double") * n_tot * n_tot - n_tot, F.lit(0.0)
                ),
            ),
            F.lit(0.0),
        ),
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(hsum))
        .select(
            "priority",
            "n_g",
            (F.col("r2_g").cast("double") / (2.0 * F.col("n_g"))).alias(
                "mean_rank"
            ),
            h.alias("h_stat"),
        )
    )


@register(
    "stats_cliffs_delta",
    oracle="""
    WITH byval AS (
      SELECT value AS v,
             count(*) FILTER (event_type = 'purchase')::BIGINT AS ca,
             count(*) FILTER (event_type = 'click')::BIGINT    AS cb,
             count(*)::BIGINT AS c
      FROM events WHERE event_type IN ('purchase', 'click')
        AND value IS NOT NULL
      GROUP BY 1
    ),
    ranked AS (
      SELECT ca, cb, c,
             2 * coalesce(sum(c) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + c + 1 AS avgrank2
      FROM byval
    ),
    agg AS (
      SELECT CAST(sum(ca) AS BIGINT) AS n_a, CAST(sum(cb) AS BIGINT) AS n_b,
             CAST(sum(ca * avgrank2) AS BIGINT) AS r2_a
      FROM ranked
    )
    SELECT n_a, n_b,
           (r2_a - n_a * (n_a + 1)) / 2.0 AS u_a,
           (CAST(r2_a AS DOUBLE) - n_a * (CAST(n_a AS DOUBLE) + 1))
             / nullif(CAST(n_a AS DOUBLE) * n_b, 0) - 1.0 AS cliffs_delta
    FROM agg
    """,
)
def stats_cliffs_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cliff's delta — the nonparametric effect size the Mann-Whitney z
    lacks: δ = P(X>Y) − P(X<Y) for purchase-vs-click event values,
    computed from the SAME distinct-value rank algebra (δ = 2U/(n_a·n_b)
    − 1, ties counting half). |δ| has the conventional small/medium/large
    cutoffs at 0.147/0.33/0.474, so it travels alongside the U test as
    the \"is the shift big enough to matter\" readout.

    Everything is exact integer algebra (doubled ranks, integer rank
    sums) until two correctly-rounded terminal divisions, so both
    outputs are emitted UNROUNDED — identical inputs + identical
    expressions = identical doubles. One value-group shuffle, then the
    doubled-rank cumulative rides `global_prefix_sum` (range shuffle +
    bounded offsets — the continuous `value` column means the distinct
    grain grows ~O(rows), VERDICT r11 #1): avgrank2 = 2·cum − c + 1 from
    the inclusive cumsum. No row-level sort, no O(n_a·n_b) pairs."""
    ev = load_table(spark, sf_dir, "events")
    a = F.col("event_type") == "purchase"
    byval = (
        ev.filter(
            F.col("event_type").isin("purchase", "click")
            & F.col("value").isNotNull()
        )
        .groupBy(F.col("value").alias("v"))
        .agg(
            F.count(F.when(a, 1)).cast("long").alias("ca"),
            F.count(F.when(~a, 1)).cast("long").alias("cb"),
            F.count(F.lit(1)).cast("long").alias("c"),
        )
    )
    ranked = global_prefix_sum(byval, "c", ["v"], out_col="_c_cum").withColumn(
        "avgrank2",
        2 * (F.col("_c_cum") - F.col("c")) + F.col("c") + 1,
    )
    agg = ranked.agg(
        F.sum("ca").cast("long").alias("n_a"),
        F.sum("cb").cast("long").alias("n_b"),
        F.sum(F.col("ca") * F.col("avgrank2")).cast("long").alias("r2_a"),
    )
    n_a, n_b = F.col("n_a"), F.col("n_b")
    return agg.select(
        "n_a",
        "n_b",
        ((F.col("r2_a") - n_a * (n_a + 1)) / 2.0).alias("u_a"),
        (
            F.try_divide(
                F.col("r2_a").cast("double")
                - n_a * (n_a.cast("double") + 1),
                n_a.cast("double") * n_b,
            )
            - 1.0
        ).alias("cliffs_delta"),
    )


@register(
    "stats_grubbs_test",
    oracle="""
    WITH x AS (
      SELECT event_id, event_type,
             CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS xi
      FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
    ), s AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(xi) AS BIGINT) AS sx,
             sum(CAST(xi AS HUGEINT) * xi) AS sxx
      FROM x GROUP BY event_type
    ), dev AS (
      SELECT x.event_type, s.n, s.sx, s.sxx,
             abs(CAST(s.n AS HUGEINT) * x.xi - s.sx) AS adev, x.event_id
      FROM x JOIN s USING (event_type)
    ), top AS (
      SELECT event_type, n, sx, sxx,
             max(adev) AS maxdev,
             (min({'na': -adev, 'id': event_id})).id AS outlier_event_id
      FROM dev GROUP BY event_type, n, sx, sxx
    )
    SELECT event_type, n, CAST(maxdev AS BIGINT) AS maxdev_scaled,
           outlier_event_id,
           maxdev / nullif(
             n * sqrt(CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
                      / (n * (n - 1))), 0.0) AS grubbs_g,
           CASE WHEN maxdev / nullif(
             n * sqrt(CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
                      / (n * (n - 1))), 0.0) > 3.5
                THEN 1 ELSE 0 END AS is_outlier
    FROM top
    """,
)
def stats_grubbs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs' maximum-studentized-deviation outlier test per event type:
    G = max|x - mean| / s, with the suspect observation identified
    deterministically (largest deviation, smallest event_id on ties via
    a named-struct min). G > 3.5 flags the group as outlier-bearing —
    the single-pass screen monitoring pipelines run before trusting a
    group mean.

    Exactness: values in integer micro-units, so |n*x - sx| (the
    deviation scaled by n) and the variance numerator n*sxx - sx^2 are
    exact integers, BOTH carried in DECIMAL(38,0)/HUGEINT (sum x^2
    passes 2^63 at sf0.1; n*x does so near 1e10 rows per type — the
    maxdev_scaled output column stays BIGINT as a display convention
    and only matters below that bound) and G is derived from identical
    integers in
    both engines, emitted unrounded. Plan: one stats aggregate, one
    broadcast join back (the stats side is |event_types| rows), one
    max/argmax aggregate — two passes over events, zero sorts."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("event_type").isNotNull()
    )
    x = ev.select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 1000000 + 0.5).cast("long").alias("xi"),
    )
    s = x.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("xi").cast("long").alias("sx"),
        F.sum(F.col("xi").cast("decimal(38,0)") * F.col("xi")).alias("sxx"),
    )
    dev = x.join(F.broadcast(s), "event_type").select(
        "event_type",
        "n",
        "sx",
        "sxx",
        # n*xi through DECIMAL(38,0)/HUGEINT like the variance numerator:
        # micro-scaled xi (~1e9) times per-type counts near 1e10 passes
        # 2^63, where BIGINT wraps silently in Spark but raises in the
        # oracle (ADVICE r9 — same class as the Sharpe d*d term).
        F.abs(F.col("n").cast("decimal(38,0)") * F.col("xi") - F.col("sx")).alias(
            "adev"
        ),
        "event_id",
    )
    top = dev.groupBy("event_type", "n", "sx", "sxx").agg(
        F.max("adev").alias("maxdev"),
        F.min(
            F.struct((-F.col("adev")).alias("na"), F.col("event_id").alias("id"))
        )["id"].alias("outlier_event_id"),
    )
    var_num = (
        F.col("n").cast("decimal(38,0)") * F.col("sxx")
        - F.col("sx").cast("decimal(38,0)") * F.col("sx").cast("decimal(38,0)")
    ).cast("double")
    g = F.try_divide(
        F.col("maxdev").cast("double"),
        F.nullif(
            F.col("n")
            * F.sqrt(
                # n=1 (single-row fuzz) divides by zero: DuckDB's /0 is
                # NULL, ANSI Spark throws — try_divide matches the oracle
                F.try_divide(var_num, (F.col("n") * (F.col("n") - 1)).cast("double"))
            ),
            F.lit(0.0),
        ),
    )
    return top.select(
        "event_type",
        "n",
        F.col("maxdev").cast("long").alias("maxdev_scaled"),
        "outlier_event_id",
        g.alias("grubbs_g"),
        F.when(g > 3.5, 1).otherwise(0).alias("is_outlier"),
    )


_MCNEMAR_SPLIT = "2024-01-16 00:00:00"


@register(
    "stats_mcnemar_test",
    oracle=f"""
    WITH flags AS (
      SELECT user_id,
             max(CASE WHEN ts <  TIMESTAMP '{_MCNEMAR_SPLIT}'
                      AND value > 100 THEN 1 ELSE 0 END) AS x1,
             max(CASE WHEN ts >= TIMESTAMP '{_MCNEMAR_SPLIT}'
                      AND value > 100 THEN 1 ELSE 0 END) AS x2,
             max(CASE WHEN ts <  TIMESTAMP '{_MCNEMAR_SPLIT}'
                      THEN 1 ELSE 0 END) AS in1,
             max(CASE WHEN ts >= TIMESTAMP '{_MCNEMAR_SPLIT}'
                      THEN 1 ELSE 0 END) AS in2
      FROM events
      WHERE user_id IS NOT NULL AND value IS NOT NULL AND ts IS NOT NULL
      GROUP BY user_id
    ), paired AS (
      SELECT x1, x2 FROM flags WHERE in1 = 1 AND in2 = 1
    )
    SELECT CAST(count(*) AS BIGINT) AS n_paired,
           CAST(sum(CASE WHEN x1 = 1 AND x2 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS b,
           CAST(sum(CASE WHEN x1 = 0 AND x2 = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS c,
           (CAST(sum(CASE WHEN x1 = 1 AND x2 = 0 THEN 1 ELSE 0 END)
                 - sum(CASE WHEN x1 = 0 AND x2 = 1 THEN 1 ELSE 0 END)
                 AS DOUBLE)
            * (sum(CASE WHEN x1 = 1 AND x2 = 0 THEN 1 ELSE 0 END)
               - sum(CASE WHEN x1 = 0 AND x2 = 1 THEN 1 ELSE 0 END)))
           / nullif(CAST(sum(CASE WHEN x1 = 1 AND x2 = 0 THEN 1 ELSE 0 END)
                    + sum(CASE WHEN x1 = 0 AND x2 = 1 THEN 1 ELSE 0 END)
                    AS DOUBLE), 0.0) AS chi2
    FROM paired
    """,
)
def stats_mcnemar_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test for paired binary outcomes: did users' "ever
    exceeded value 100" status flip between the first and second half of
    the observation window? Only the discordant counts b (1→0) and
    c (0→1) matter; chi² = (b-c)²/(b+c). Users observed in only one
    period drop out (unpaired). The A/B-on-the-same-subjects test —
    what experiment platforms run for within-user feature flips, where
    the two-proportion z-test (stats_two_proportion_ztest) would be
    wrong because the samples aren't independent.

    One hash aggregate to per-user flags (conditional max — no
    pivot/join), one global reduce; b, c are exact integers and chi² is
    one double expression over them, emitted unrounded."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
        & F.col("value").isNotNull()
        & F.col("ts").isNotNull()
    )
    split = F.lit(_MCNEMAR_SPLIT).cast("timestamp_ntz")
    ts = F.col("ts").cast("timestamp_ntz")
    flags = ev.groupBy("user_id").agg(
        F.max(
            F.when((ts < split) & (F.col("value") > 100), 1).otherwise(0)
        ).alias("x1"),
        F.max(
            F.when((ts >= split) & (F.col("value") > 100), 1).otherwise(0)
        ).alias("x2"),
        F.max(F.when(ts < split, 1).otherwise(0)).alias("in1"),
        F.max(F.when(ts >= split, 1).otherwise(0)).alias("in2"),
    )
    paired = flags.filter((F.col("in1") == 1) & (F.col("in2") == 1))
    b = F.sum(F.when((F.col("x1") == 1) & (F.col("x2") == 0), 1).otherwise(0))
    c = F.sum(F.when((F.col("x1") == 0) & (F.col("x2") == 1), 1).otherwise(0))
    agg = paired.agg(
        F.count(F.lit(1)).cast("long").alias("n_paired"),
        b.cast("long").alias("b"),
        c.cast("long").alias("c"),
    )
    return agg.select(
        "n_paired",
        "b",
        "c",
        F.try_divide(
            (F.col("b") - F.col("c")).cast("double") * (F.col("b") - F.col("c")),
            F.nullif((F.col("b") + F.col("c")).cast("double"), F.lit(0.0)),
        ).alias("chi2"),
    )
