"""Catalog-wide structural gate: NO unpartitioned window over unbounded
input, anywhere — including subtrees a localCheckpoint later hides.

VERDICT r10 #3: the round-10 per-query plan gate inspected EXECUTED plans,
which a checkpoint truncates — text_heaps_vocab_growth's doc-cardinality
``row_number().over(Window.orderBy(...))`` was invisible to it because the
localCheckpoint two lines later cut the window out of the inspected tree.
This sweep wraps ``DataFrame.localCheckpoint`` to capture the ANALYZED plan
of its input *before* materialization, builds every registered query, and
parses every ``windowspecdefinition`` for an empty partition spec. Any
query with such a window must be in the audited whitelist below, with the
boundedness argument written next to its name; a whitelist entry whose
window disappears must be pruned (both directions asserted), so the list
can only ever shrink toward the truth.

An unpartitioned window plans as ``Exchange SinglePartition`` + one task
sorting the entire input — the one plan shape that cannot survive 100 TB
fact cardinality. Bounded grains that CAN survive it (and are allowed
here): post-``limit`` frames, decile/bucket rollups (<=10 rows by
construction), calendar-day grain (grows with wall-clock time, not data
volume), distinct-value grain for rank statistics (the algorithm's own
output cardinality), and vocabulary grain (Heaps-sublinear).
"""

from __future__ import annotations

from hw_kafka_flink_health_spark.plans import (
    analyzed_str,
    capture_checkpoints,
    unpartitioned_specs,
)

from hw_kafka_flink_health_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"

#: query name -> why its unpartitioned window(s) survive 100x scale.
AUDITED_BOUNDED = {
    # -- calendar-day grain: rows ∝ elapsed days, not data volume --
    "cumulative_distinct_users": "day grain (running distinct over days)",
    "events_slo_error_budget": "day grain (budget burn per day)",
    "experiment_srm_check": "day grain (daily arm ratios)",
    "orders_drawdown_daily": "day grain (running peak over days)",
    "rolling_median_revenue": "day grain (rolling window over days)",
    "spc_imr_revenue": "day grain (I-MR control chart over days)",
    "stats_runs_test": "day grain (sign runs over days)",
    "timeseries_ma_decomposition": "day grain (centered MA over days)",
    # (the next four had been invisible to the r11 sweep: the checkpoint
    # capture never fired on Spark 4 — see capture_checkpoints — so their
    # pre-checkpoint windows were audited only in r12)
    "recursive_holt_linear_trend": "month grain (~84-row series anchor)",
    "recursive_holt_winters_daily": "day grain inside a FIXED 59-day "
    "window (row_number anchor + first-week seasonal init)",
    "timeseries_croston": "day grain inside a FIXED 181-day window "
    "(demand-day anchor + lag intervals)",
    "eval_isotonic_calibration": "20 fixed score bins (prefix sums for "
    "the PAV minimax identity)",
    # -- decile / fixed-bucket rollups: <= 10s of rows by construction --
    "eval_decile_lift": "10-row decile cumulation (post-aggregate)",
    "eval_qini_uplift": "10-row decile cumulation (post-aggregate)",
    "lorenz_revenue_deciles": "10-row decile cumulation (post-aggregate)",
    "text_heaps_vocab_growth": "10-row decile cumulation (post-aggregate; "
    "the doc-cardinality rank is distributed_row_number since r11)",
    "drift_psi_events": "fixed PSI bucket grain (whole-frame share)",
    "orders_benford_digits": "9 leading-digit rows",
    "quantile_sketch_log": "log-histogram bucket grain (~1.5k buckets for "
    "any double range at 1% bin width)",
    # -- distinct-value grain: the rank statistic's own output cardinality --
    "eval_auc_roc": "distinct-score grain (exact ROC needs one cum point "
    "per distinct threshold)",
    "eval_cost_optimal_threshold": "distinct-score grain",
    "eval_pr_curve": "distinct-score grain (exact PR curve)",
    # (stats_mannwhitney_u / stats_ks_two_sample / stats_cliffs_delta /
    # stats_kruskal_wallis were pruned in r12: their distinct grain is a
    # CONTINUOUS money column (~O(rows) at 100x), so the cumulative pass
    # was rewired onto global_prefix_sum — VERDICT r11 #1)
    "mlprep_quantile_normalize": "distinct-length grain (pooled ECDF table; "
    "n_chars is an INTEGER char count, so distinct values are bounded by "
    "the max document length, not corpus row count — unlike the pruned "
    "continuous-money rank stats; grain measured by the SCALING probe)",
    "stats_kaplan_meier_reorder": "distinct-event-time grain (risk table; "
    "event times are DAY-granular dates, so the grain is calendar-bounded)",
    "stats_logrank_test": "distinct-event-time grain (risk table; "
    "day-granular dates -> calendar-bounded)",
    "stats_nelson_aalen": "distinct-event-time grain (hazard table; "
    "day-granular dates -> calendar-bounded)",
    # (skyline_suppliers_2d pruned r12: its distinct-point grain is
    # supplier-cardinality — LINEAR in SF, measured 10/100/1000 at the
    # three test SFs — so the sweep now rides global_prefix_scan's
    # exclusive running max instead of a single-partition window)
    # -- vocabulary grain: Heaps-sublinear in corpus size --
    "text_phrase_proximity": "vocab grain (word-frequency ranking)",
    "text_zipf_slope": "vocab grain (rank-frequency regression input)",
    # -- post-limit / k-row frames --
    "embedding_kmeans_step": "row_number over an 8-row limit (seed pick)",
    "hybrid_rrf_retrieval": "two top-50 arms fused; both post-limit",
    "stats_hill_tail_index": "k=50 upper order statistics (post-limit)",
    # -- tiny categorical grains --
    "experiment_bh_fdr": "|event_types| x B replicate p-value table "
    "(~200 rows; B fixed at 40)",
    "mlprep_domain_mix": "source grain (handful of corpus sources)",
    "mlprep_split_drift": "source x split grain",
    "mlprep_token_apportionment": "source grain (largest-remainder seats)",
    "pipeline_pretrain_corpus": "source grain (per-source budget table)",
    "stats_chi_square_independence": "contingency-cell grain",
    "stats_mutual_information": "contingency-cell grain",
}


def test_quantile_normalize_grain_is_value_bounded():
    """The whitelist's boundedness argument for mlprep_quantile_normalize,
    MEASURED instead of asserted (VERDICT r11 #2): distinct n_chars must
    grow far sublinearly in corpus rows (it saturates toward max document
    length — 311/313/523 distinct values against 500/500/5000 docs at the
    three test SFs). If this ever trends linear, rewire the pooled-ECDF
    cumulative onto global_prefix_scan like the r12 rank-stat rewires."""
    import duckdb

    con = duckdb.connect()
    g = {}
    for sf in ("0.001", "0.1"):
        g[sf] = con.execute(
            "SELECT count(*), count(DISTINCT n_chars) FROM read_parquet("
            f"'/root/testdata/sf{sf}/documents.parquet')"
        ).fetchone()
    row_ratio = g["0.1"][0] / g["0.001"][0]
    grain_ratio = g["0.1"][1] / g["0.001"][1]
    assert grain_ratio < row_ratio / 2, (
        g,
        "distinct-length grain growing ~linearly with rows — the "
        "single-partition pooled-ECDF window is no longer bounded",
    )


def test_unpartitioned_spec_parser_self_check(spark):
    """The parser must see through both forms before the sweep trusts it."""
    from pyspark.sql import Window, functions as F

    df = spark.range(10).withColumn("g", F.col("id") % 2)
    bad = df.withColumn("rn", F.row_number().over(Window.orderBy("id")))
    good = df.withColumn(
        "rn", F.row_number().over(Window.partitionBy("g").orderBy("id"))
    )
    whole = df.withColumn("s", F.sum("id").over(Window.partitionBy()))
    assert unpartitioned_specs(analyzed_str(bad))
    assert not unpartitioned_specs(analyzed_str(good))
    assert unpartitioned_specs(analyzed_str(whole))
    # truncation false-negative guard (r12): past maxToStringFields the
    # plain str() drops windowspecdefinition behind '... N more fields';
    # analyzed_str must keep seeing it on arbitrarily wide projections.
    wide = bad.select("*", *[(F.col("id") + i).alias(f"c{i}") for i in range(60)])
    assert unpartitioned_specs(analyzed_str(wide))


def test_analyzed_str_restores_max_to_string_fields_under_concurrency(spark):
    """analyzed_str raises maxToStringFields around its render and puts
    back the prior state (a value, or unset). Concurrent renders must not
    interleave the read-set-restore: one thread reading another's raised
    cap as the value to restore leaves plan strings untruncated for the
    rest of the session."""
    import sys
    import threading
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import functions as F

    key = "spark.sql.debug.maxToStringFields"
    start = spark.conf.get(key, None)
    wide = spark.range(10).select(*[(F.col("id") + i).alias(f"c{i}") for i in range(40)])
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for prior in ("30", None):
            if prior is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prior)
            gate = threading.Barrier(16)

            def render():
                gate.wait(timeout=60)
                return analyzed_str(wide)

            with ThreadPoolExecutor(16) as pool:
                futures = [pool.submit(render) for _ in range(16)]
                for f in futures:
                    f.result(timeout=300)
            assert spark.conf.get(key, None) == prior
    finally:
        sys.setswitchinterval(interval)
        if start is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, start)


def _moved_note():
    """test_no_unaudited_unpartitioned_window_anywhere moved to
    tests/test_catalog_sweep.py (r13): it shares ONE full-catalog
    build pass with the cartesian and column-name sweeps instead of
    re-building all 420 queries itself. AUDITED_BOUNDED stays here
    (imported by the shared sweep) next to its taxonomy."""
