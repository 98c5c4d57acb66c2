"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload in this process on Spark `local[nproc]`, checks its
outputs, and prints as the last stdout line one JSON object with
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics with
`--trace 0`, the per-layer metrics (taken from outside the engine) with
`--trace 1`. The line before it records the environment and details.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.common import HERE, configure_env, env_record, process_start_time  # noqa: E402

WORKLOADS = ("stream_alerts", "batch_catalog")

UNITS = {
    "setup_s": "s",
    "pass_s": "s",
    "latency_ms_p50": "ms",
    "peak_rss_mib": "MiB",
}

#: Per-layer metrics every traced run prints; a workload that never enters
#: a layer reports 0 for it.
LAYER_UNITS = {
    "latency_ms_p90": "ms",
    "session.get_spark_s": "s",
    "sources.load_table.calls": "count",
    "sources.load_table.s": "s",
    "sources.load_table.jobs": "count",
    "sources.checkpoint_partitioned.calls": "count",
    "sources.checkpoint_partitioned.s": "s",
    "sources.rebalance_if_narrow.calls": "count",
    "sources.rebalance_if_narrow.s": "s",
    "sources.emulated_produce_s": "s",
    "sources.backlog_produce_s": "s",
    "operators.local_checkpoint.calls": "count",
    "operators.local_checkpoint.s": "s",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.exec_s": "s",
    "queries.exec_jobs": "count",
    "queries.stages": "count",
    "queries.tasks": "count",
    "queries.failed_tasks": "count",
    "queries.driver_gap_s": "s",
    "queries.executor_run_s": "s",
    "queries.executor_cpu_s": "s",
    "queries.shuffle_read_mb": "MB",
    "queries.shuffle_write_mb": "MB",
    "queries.oracle_exact_mismatch": "count",
    "functions.parse_valid_frac": "ratio",
    "streaming.catchup_events_per_s": "1/s",
    "streaming.catchup.batches": "count",
    "streaming.catchup.trigger_ms": "ms",
    "streaming.catchup.add_batch_ms": "ms",
    "streaming.catchup.query_planning_ms": "ms",
    "streaming.catchup.get_batch_ms": "ms",
    "streaming.live.batches": "count",
    "streaming.live.trigger_ms_p50": "ms",
    "streaming.live.trigger_ms_p90": "ms",
    "streaming.live.add_batch_ms_p50": "ms",
    "streaming.live.latest_offset_ms_p50": "ms",
    "streaming.live.get_batch_ms_p50": "ms",
    "streaming.live.query_planning_ms_p50": "ms",
    "streaming.live.wal_commit_ms_p50": "ms",
    "streaming.live.commit_offsets_ms_p50": "ms",
    "streaming.state_commit_ms_p50": "ms",
    "streaming.state_rows_total": "count",
    "streaming.state_memory_mb": "MB",
    "streaming.rows_dropped_by_watermark": "count",
    "streaming.late_events_sent": "count",
    "streaming.sink_rows": "count",
    "load.generator_lag_ms_max": "ms",
    "env.spark_cores": "count",
    "env.nproc": "count",
    "env.cpu_score_mib_s": "MiB/s",
}


def main(argv: list[str] | None = None) -> int:
    proc_start = process_start_time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work_dir = os.path.join(HERE, "_work", f"{args.workload}-{os.getpid()}")
    configure_env(work_dir)
    spark = None
    try:
        env = env_record(args.seed)
        t0 = time.perf_counter()
        from perfbench.common import start_spark

        spark = start_spark(work_dir)
        get_spark_s = time.perf_counter() - t0
        if args.workload == "stream_alerts":
            from perfbench import stream

            res = stream.run(spark, work_dir, args.seed, args.seconds, bool(args.trace))
        else:
            from perfbench import batch
            from perfbench.tracer import Tracer

            tracer = Tracer(spark) if args.trace else None
            res = batch.run(spark, work_dir, args.seed, args.seconds, tracer, args.workload)
        e2e = dict(res["metrics"], setup_s=res["t_start"] - proc_start)
        env["loadavg_end"] = os.getloadavg()[0]
        if args.trace:
            layers = {k: 0.0 for k in LAYER_UNITS}
            layers.update(res["layers"])
            layers["latency_ms_p90"] = e2e["latency_ms_p90"]
            layers["session.get_spark_s"] = get_spark_s
            layers["env.spark_cores"] = env["spark_cores"]
            layers["env.nproc"] = env["nproc"]
            layers["env.cpu_score_mib_s"] = env["cpu_score_mib_s"]
            metrics = {k: {"value": layers[k], "unit": u} for k, u in LAYER_UNITS.items()}
        else:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in UNITS.items()}
        detail = {
            "workload": args.workload,
            "env": env,
            "end_to_end": e2e,
            "reasons": res["reasons"][:20],
        }
        detail["get_spark_s"] = get_spark_s
        for key in ("passes", "query_s", "phases", "profile", "exact_mismatch"):
            if key in res:
                detail[key] = res[key]
        print(json.dumps({"detail": detail}))
        print(
            json.dumps(
                {
                    "correct": res["failed"] == 0,
                    "attempted": res["attempted"],
                    "failed": res["failed"],
                    "metrics": metrics,
                }
            ),
            flush=True,
        )
        return 0
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            from perfbench.common import stop_spark

            stop_spark(spark)
        shutil.rmtree(work_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work_dir))
        except OSError:  # another run still uses it
            pass


if __name__ == "__main__":
    sys.exit(main())
