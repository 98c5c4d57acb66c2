"""Layer spans taken from outside the engine.

`Tracer.install` wraps the public entry points of the source and operator
layers (`load_table`, `checkpoint_partitioned`, `rebalance_if_narrow`,
`DataFrame.localCheckpoint`) wherever the engine's modules bound them, and
counts calls, inclusive seconds and the Spark jobs each call started.
Query spans come from `Tracer.query_phase`, which tags the Spark jobs of one
phase with a job group; `query_profile` then reads stage metrics for those
groups from Spark's own status store.
"""

from __future__ import annotations

import sys
import time
from collections import defaultdict
from contextlib import contextmanager

ENGINE = "hw_kafka_flink_health_spark"


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        # the concrete class: PySpark's classic DataFrame overrides the
        # public base class's methods
        self.df_class = type(spark.range(0))
        self.calls: dict[str, int] = defaultdict(int)
        self.seconds: dict[str, float] = defaultdict(float)
        self.jobs: dict[str, int] = defaultdict(int)
        self.phases: list[tuple[str, str, str, float]] = []  # (group, query, phase, s)
        self._group: str | None = None
        self._undo: list[tuple[object, str, object]] = []

    # --- layer wrappers ------------------------------------------------
    def _job_count(self) -> int:
        tracker = self.sc.statusTracker()
        return len(tracker.getJobIdsForGroup(self._group))

    def _wrap(self, name: str, fn):
        tracer = self

        def traced(*args, **kwargs):
            jobs0 = tracer._job_count()
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.seconds[name] += time.perf_counter() - t0
                tracer.calls[name] += 1
                tracer.jobs[name] += tracer._job_count() - jobs0

        traced.__wrapped__ = fn
        return traced

    def install(self) -> None:
        from hw_kafka_flink_health_spark.sources import files

        targets = {
            "sources.load_table": files.load_table,
            "sources.checkpoint_partitioned": files.checkpoint_partitioned,
            "sources.rebalance_if_narrow": files.rebalance_if_narrow,
        }
        wrapped = {fn: self._wrap(name, fn) for name, fn in targets.items()}
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(ENGINE):
                continue
            for attr, val in list(vars(mod).items()):
                try:
                    replacement = wrapped.get(val)
                except TypeError:  # unhashable module attribute
                    continue
                if replacement is not None:
                    self._undo.append((mod, attr, val))
                    setattr(mod, attr, replacement)
        original = self.df_class.localCheckpoint
        self._undo.append((self.df_class, "localCheckpoint", original))
        self.df_class.localCheckpoint = self._wrap("operators.local_checkpoint", original)

    def uninstall(self) -> None:
        for owner, attr, val in reversed(self._undo):
            setattr(owner, attr, val)
        self._undo.clear()

    # --- query spans ---------------------------------------------------
    @contextmanager
    def query_phase(self, query: str, phase: str):
        group = f"perfbench:{len(self.phases)}:{query}:{phase}"
        self.sc.setJobGroup(group, group)
        self._group = group
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phases.append((group, query, phase, time.perf_counter() - t0))
            self._group = None
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def layer_metrics(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for name in (
            "sources.load_table",
            "sources.checkpoint_partitioned",
            "sources.rebalance_if_narrow",
            "operators.local_checkpoint",
        ):
            out[f"{name}.calls"] = self.calls[name]
            out[f"{name}.s"] = self.seconds[name]
        out["sources.load_table.jobs"] = self.jobs["sources.load_table"]
        return out

    def query_profile(self) -> list[dict]:
        """One record per traced (query, phase): wall seconds plus the jobs,
        stages, tasks and executor metrics Spark's status store holds for
        its job group. `gap_s` is wall time minus the union of the
        intervals in which any of its stages had tasks running."""
        store = self.sc._jsc.sc().statusStore()
        attempts: dict[int, list[dict]] = defaultdict(list)
        jvm = self.sc._jvm
        seq = store.stageList(
            None, False, False, self.sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList()
        )
        for i in range(seq.size()):
            st = seq.apply(i)
            launched = st.firstTaskLaunchedTime()
            done = st.completionTime()
            attempts[st.stageId()].append(
                {
                    "tasks": st.numTasks(),
                    "failed_tasks": st.numFailedTasks(),
                    "run_s": st.executorRunTime() / 1e3,
                    "cpu_s": st.executorCpuTime() / 1e9,
                    "shuffle_read_mb": st.shuffleReadBytes() / 2**20,
                    "shuffle_write_mb": st.shuffleWriteBytes() / 2**20,
                    "span": (
                        (launched.get().getTime() / 1e3, done.get().getTime() / 1e3)
                        if launched.isDefined() and done.isDefined()
                        else None
                    ),
                }
            )
        stage_ids: dict[str, list[int]] = defaultdict(list)
        n_jobs: dict[str, int] = defaultdict(int)
        jobs = store.jobsList(None)
        for i in range(jobs.size()):
            job = jobs.apply(i)
            grp = job.jobGroup()
            if grp.isDefined():
                ids = job.stageIds()
                stage_ids[grp.get()] += [ids.apply(k) for k in range(ids.size())]
                n_jobs[grp.get()] += 1
        records = []
        for group, query, phase, wall in self.phases:
            rec = dict.fromkeys(_STAGE_SUMS, 0.0)
            rec.update(query=query, phase=phase, wall_s=wall,
                       jobs=n_jobs[group], stages=0)
            spans = []
            for sid in stage_ids[group]:
                for st in attempts.get(sid, ()):
                    rec["stages"] += 1
                    for k in _STAGE_SUMS:
                        rec[k] += st[k]
                    if st["span"] is not None:
                        spans.append(st["span"])
            rec["gap_s"] = max(0.0, wall - _union_length(spans))
            records.append(rec)
        return records


_STAGE_SUMS = ("tasks", "failed_tasks", "run_s", "cpu_s", "shuffle_read_mb", "shuffle_write_mb")


def _union_length(spans: list[tuple[float, float]]) -> float:
    total = 0.0
    end = float("-inf")
    for lo, hi in sorted(spans):
        if hi <= end:
            continue
        total += hi - max(lo, end)
        end = hi
    return total
