"""`batch_catalog`: catalog queries run by one closed-loop client, each
built and then written to the noop sink.

Set-up generates the star schema, then runs one untimed warm-up pass on its
own row permutation; that pass collects every query's output and checks it
against the query's DuckDB twin. The timed region then runs whole passes,
each on a fresh permutation written before the pass starts, until the run's
seconds are used (at least MIN_PASSES). Fresh files per pass keep the
session's input-keyed caches from turning rereads into cache hits.

Each query's time is the median of its timed executions. `pass_s` is the
sum of those medians, and `latency_ms_p50` is their median over the mix, so
a burst of load on the machine that slows one execution moves neither.
"""

from __future__ import annotations

import os
import shutil
import time

from perfbench import checks, datagen
from perfbench.common import HERE, RssSampler, jvm_pid, percentile

SF = 0.01
#: Timed passes run until the run's seconds are used, and at least this
#: many. Queries keep getting faster for several passes after the cold
#: warm-up, by an amount that varies with how far the JIT got; a query's
#: median over four passes leaves out its slowest, earliest execution.
MIN_PASSES = 4

#: The query mix: short catalog queries, where the fixed per-query floor
#: (load, planning, job count) dominates, then iterative graph and dedup
#: queries, whose eager build-time jobs, localCheckpoint and
#: checkpoint_partitioned calls dominate. README.md says why this is one
#: workload and which queries of the original two mixes were left out.
MIXES = {
    "batch_catalog": [
        "q1_pricing_summary",
        "q3_shipping_priority",
        "hr_alerts_tumbling",
        "timeseries_gapfill",
        "graph_label_propagation",
        "dedup_ngram_jaccard",
    ],
}


def _oracle_rows(dir_: str, sql: str):
    import duckdb

    con = duckdb.connect()
    try:
        for t in datagen.TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{dir_}/{t}.parquet')"
            )
        res = con.execute(sql)
        cols = [d[0] for d in res.description]
        return cols, res.fetchall()
    finally:
        con.close()


def check_pass(spark, dir_: str, names: list[str]) -> tuple[int, int, int, list[str]]:
    """Untimed warm-up pass that checks outputs. Returns
    (attempted, failed, exact_mismatch, reasons)."""
    from hw_kafka_flink_health_spark.queries import ORACLES, QUERIES

    failed = exact_mismatch = 0
    reasons: list[str] = []
    for q in names:
        try:
            df = QUERIES[q](spark, dir_)
            cols, rows = df.columns, [tuple(r) for r in df.collect()]
        except Exception as exc:  # a failing query is a failed operation
            failed += 1
            reasons.append(f"{q}: {type(exc).__name__}: {str(exc)[:200]}")
            continue
        o_cols, o_rows = _oracle_rows(dir_, ORACLES[q])
        ok, exact, why = checks.compare_rows(cols, rows, o_cols, o_rows)
        if not ok:
            failed += 1
            reasons.append(f"{q}: {why[:300]}")
        elif not exact:
            exact_mismatch += 1
    return len(names), failed, exact_mismatch, reasons


def run(spark, work_dir: str, seed: int, seconds: int, tracer, workload: str) -> dict:
    """Run the workload; `tracer` (a `Tracer`, or None) makes it the traced run."""
    from hw_kafka_flink_health_spark.queries import QUERIES

    names = MIXES[workload]
    t0 = time.perf_counter()
    tables = datagen.base_tables(SF)
    warm_dir = os.path.join(work_dir, "copy0")
    datagen.write_permuted(tables, warm_dir, seed * 1000)
    t1 = time.perf_counter()
    attempted, failed, exact_mismatch, reasons = check_pass(spark, warm_dir, names)
    phases = {"inputs_s": t1 - t0, "warmup_check_s": time.perf_counter() - t1}

    if tracer:
        tracer.install()
    passes: list[float] = []
    query_s: dict[str, list[float]] = {q: [] for q in names}
    t_start = None
    with RssSampler([os.getpid(), jvm_pid(spark)]) as sampler:
        while len(passes) < MIN_PASSES or sum(passes) < seconds:
            dir_ = os.path.join(work_dir, f"copy{len(passes) + 1}")
            datagen.write_permuted(tables, dir_, seed * 1000 + len(passes) + 1)
            if t_start is None:
                t_start = time.time()
            t_pass = time.perf_counter()
            for q in names:
                attempted += 1
                t0 = time.perf_counter()
                try:
                    if tracer:
                        with tracer.query_phase(q, "build"):
                            df = QUERIES[q](spark, dir_)
                        with tracer.query_phase(q, "exec"):
                            df.write.format("noop").mode("overwrite").save()
                    else:
                        df = QUERIES[q](spark, dir_)
                        df.write.format("noop").mode("overwrite").save()
                except Exception as exc:  # a failing query is a failed operation
                    failed += 1
                    reasons.append(f"{q}: {type(exc).__name__}: {str(exc)[:200]}")
                query_s[q].append(time.perf_counter() - t0)
            passes.append(time.perf_counter() - t_pass)
            shutil.rmtree(dir_, ignore_errors=True)
    if tracer:
        tracer.uninstall()

    median_s = [percentile(ts, 50) for ts in query_s.values()]
    all_s = [t for ts in query_s.values() for t in ts]
    result = {
        "attempted": attempted,
        "failed": failed,
        "reasons": reasons,
        "metrics": {
            "pass_s": sum(median_s),
            "latency_ms_p50": percentile(median_s, 50) * 1000,
            "latency_ms_p90": percentile(all_s, 90) * 1000,
            "peak_rss_mib": sampler.peak_mib,
        },
        "t_start": t_start,
        "passes": [round(p, 3) for p in passes],
        "query_s": {q: [round(t, 3) for t in ts] for q, ts in query_s.items()},
        "phases": phases,
    }
    if tracer:
        n = len(passes)
        profile = tracer.query_profile()
        layers = {k: v / n for k, v in tracer.layer_metrics().items()}
        for key, phase, field in (
            ("queries.build_s", "build", "wall_s"),
            ("queries.build_jobs", "build", "jobs"),
            ("queries.exec_s", "exec", "wall_s"),
            ("queries.exec_jobs", "exec", "jobs"),
        ):
            layers[key] = sum(r[field] for r in profile if r["phase"] == phase) / n
        for key, field in (
            ("queries.stages", "stages"),
            ("queries.tasks", "tasks"),
            ("queries.failed_tasks", "failed_tasks"),
            ("queries.driver_gap_s", "gap_s"),
            ("queries.executor_run_s", "run_s"),
            ("queries.executor_cpu_s", "cpu_s"),
            ("queries.shuffle_read_mb", "shuffle_read_mb"),
            ("queries.shuffle_write_mb", "shuffle_write_mb"),
        ):
            layers[key] = sum(r[field] for r in profile) / n
        layers["queries.oracle_exact_mismatch"] = exact_mismatch
        result["layers"] = layers
        result["profile"] = write_profile(workload, seed, profile, n)
    else:
        result["exact_mismatch"] = exact_mismatch
    return result


def write_profile(workload: str, seed: int, profile: list[dict], n_passes: int) -> str:
    """Per-query table, ranked by driver-side overhead (build time plus the
    exec phase's driver gap) over executor run time. Returns its path."""
    per: dict[str, dict] = {}
    for r in profile:
        p = per.setdefault(r["query"], {"build_s": 0.0, "exec_s": 0.0, "build_jobs": 0,
                                        "exec_jobs": 0, "stages": 0, "tasks": 0,
                                        "run_s": 0.0, "cpu_s": 0.0, "shuffle_mb": 0.0,
                                        "exec_gap_s": 0.0})
        p[f"{r['phase']}_s"] += r["wall_s"] / n_passes
        p[f"{r['phase']}_jobs"] += r["jobs"] / n_passes
        if r["phase"] == "exec":
            p["exec_gap_s"] += r["gap_s"] / n_passes
        for k in ("stages", "tasks", "run_s", "cpu_s"):
            p[k] += r[k] / n_passes
        p["shuffle_mb"] += (r["shuffle_read_mb"] + r["shuffle_write_mb"]) / n_passes
    for p in per.values():
        p["overhead_s"] = p["build_s"] + p["exec_gap_s"]
        p["ratio"] = p["overhead_s"] / p["run_s"] if p["run_s"] > 0 else float("inf")
    lines = [
        f"# {workload}: per-query profile (seed {seed}, mean of {n_passes} traced pass(es))",
        "",
        "Ranked by overhead (build + exec driver gap) over executor run time.",
        "",
        "| query | build s | exec s | build jobs | exec jobs | stages | tasks | "
        "executor run s | executor cpu s | shuffle MB | overhead s | overhead/run |",
        "|---|---|---|---|---|---|---|---|---|---|---|---|",
    ]
    for q, p in sorted(per.items(), key=lambda kv: -kv[1]["ratio"]):
        lines.append(
            f"| {q} | {p['build_s']:.3f} | {p['exec_s']:.3f} | {p['build_jobs']:.1f} | "
            f"{p['exec_jobs']:.1f} | {p['stages']:.1f} | {p['tasks']:.0f} | {p['run_s']:.3f} | "
            f"{p['cpu_s']:.3f} | {p['shuffle_mb']:.2f} | {p['overhead_s']:.3f} | {p['ratio']:.2f} |"
        )
    out_dir = os.path.join(HERE, "results")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"profile_{workload}_seed{seed}.md")
    with open(path, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    return path
