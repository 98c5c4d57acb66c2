"""`stream_alerts`: the reference's flagship job on emulated Kafka.

Phase 1 (catch-up): a cold query start, with no state or offsets, on a
seeded backlog of one event-hour; a catch-up's time runs from query start
until the micro-batch holding the last backlog offset commits. Each
catch-up reads its own copy of the backlog topic. The first warms the JVM
and is set-up; the median of the next CATCHUP_TIMED is the pass time, and
the last of them goes on into phase 2.

Phase 2 (live): one open-loop generator thread sends RATE events/s in
TICK_S ticks. The event clock runs EVENT_SPEED times faster than wall time,
so a 1-minute window closes every 0.25 wall seconds: each micro-batch
(about a second) emits windows that closed at several points of its
predecessor, so a run's latency samples cover every phase between window
close and trigger start. On-time events lag the clock by at most 3
event-seconds (inside the 5 s watermark); LATE_FRAC of them are 1-2
event-hours late, far behind any watermark, and must be dropped. An alert's
latency is its arrival in the alerts topic, seen by a consumer thread,
minus the time the last event of its window was due to be sent.
"""

from __future__ import annotations

import base64
import datetime as dt
import json
import os
import shutil
import threading
import time

import numpy as np

from perfbench import checks, datagen
from perfbench.common import RssSampler, jvm_pid, percentile

BACKLOG_EVENTS = 200_000
BACKLOG_FILES = 20
#: Cold catch-ups on copies of the backlog: untimed ones that warm the JVM,
#: then timed ones; `pass_s` is the median of the timed ones.
CATCHUP_WARM = 1
CATCHUP_TIMED = 3
CATCHUP_TIMEOUT_S = 150.0
RATE = 4_000
TICK_S = 0.1
EVENT_SPEED = 240
LATE_FRAC = 0.005
LATE_MS = (3_600_000, 7_200_000)  # how far behind the event clock late events are
MAX_DISORDER_MS = 3_000
LIVE_WARMUP_S = 3.0
DRAIN_TIMEOUT_S = 30.0
WATERMARK_MS = 5_000
WINDOW_MS = 60_000


class AlertConsumer(threading.Thread):
    """Polls the emulated alerts topic and stamps each alert's arrival."""

    def __init__(self, topic_dir: str, interval: float = 0.005):
        super().__init__(daemon=True)
        self.topic_dir = topic_dir
        self.interval = interval
        self.alerts: list[str] = []
        self.arrival: dict[tuple[str, int], float] = {}
        self._seen: set[str] = set()
        self._halt = threading.Event()

    def poll(self) -> None:
        try:
            names = os.listdir(self.topic_dir)
        except FileNotFoundError:
            return
        now = time.time()
        for name in sorted(names):
            if name in self._seen or not name.endswith(".json") or name.startswith((".", "_")):
                continue
            self._seen.add(name)
            with open(os.path.join(self.topic_dir, name)) as fh:
                lines = fh.read().splitlines()
            for line in lines:
                raw = base64.b64decode(json.loads(line)["value_b64"]).decode()
                self.alerts.append(raw)
                try:
                    a = json.loads(raw)
                    self.arrival.setdefault((a["patient_id"], int(a["window_start"])), now)
                except (ValueError, KeyError, TypeError):
                    pass  # check_alerts counts it as a failure

    def run(self) -> None:
        while not self._halt.is_set():
            self.poll()
            self._halt.wait(self.interval)

    def stop(self) -> None:
        self._halt.set()
        self.join()
        self.poll()


class Generator(threading.Thread):
    """Open-loop live producer: tick k is due at start + k * TICK_S."""

    def __init__(self, source, bootstrap, topic, seed, t0_wall, e0_ms, n_ticks):
        super().__init__(daemon=True)
        self.source = source
        self.bootstrap = bootstrap
        self.topic = topic
        self.rng = np.random.default_rng([seed, 4])
        self.t0_wall = t0_wall
        self.e0_ms = e0_ms
        self.n_ticks = n_ticks
        self.values: list[str] = []
        self.late: list[bool] = []
        self.max_on_time_ms = 0
        self.last_due: dict[tuple[str, int], float] = {}
        self.late_valid = 0
        self.max_lag_s = 0.0
        self.produce_s = 0.0
        self.error: BaseException | None = None

    def clock_ms(self, wall: float) -> int:
        return int(self.e0_ms + (wall - self.t0_wall) * 1000 * EVENT_SPEED)

    def run(self) -> None:
        from hw_kafka_flink_health_spark.sources.kafka import emulated_produce

        try:
            per_tick = int(RATE * TICK_S)
            for k in range(1, self.n_ticks + 1):
                due = self.t0_wall + k * TICK_S
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
                self.max_lag_s = max(self.max_lag_s, time.time() - due)
                lo, hi = self.clock_ms(due - TICK_S), self.clock_ms(due)
                ev = self.rng.integers(lo, hi, per_tick) - self.rng.integers(0, MAX_DISORDER_MS + 1, per_tick)
                late = self.rng.random(per_tick) < LATE_FRAC
                ev = np.where(late, hi - self.rng.integers(LATE_MS[0], LATE_MS[1] + 1, per_tick), ev)
                values, valid, pidx, _ = self.source.make(self.rng, ev)
                t0 = time.perf_counter()
                emulated_produce(self.bootstrap, self.topic, values)
                self.produce_s += time.perf_counter() - t0
                self.values.extend(values)
                self.late.extend(late.tolist())
                self.late_valid += int((valid & late).sum())
                on_time = valid & ~late
                if on_time.any():
                    self.max_on_time_ms = max(self.max_on_time_ms, int(ev[on_time].max()))
                for i in np.flatnonzero(on_time):
                    key = (self.source.patients[pidx[i]], int(ev[i]) // WINDOW_MS * WINDOW_MS)
                    self.last_due[key] = due
        except BaseException as exc:  # reported by the main thread
            self.error = exc


def _progress_end(p) -> float:
    """Wall time at which a micro-batch finished."""
    start = dt.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
    return start + p.durationMs.get("triggerExecution", 0) / 1000.0


def _collect(query, progress: dict) -> None:
    for p in query.recentProgress:
        progress[p.batchId] = p


def _start_job(spark, bootstrap: str, checkpoint_dir: str):
    from hw_kafka_flink_health_spark.sources.kafka import (
        ALERTS_TOPIC,
        EVENTS_TOPIC,
        read_kafka_stream,
        write_kafka_stream,
    )
    from hw_kafka_flink_health_spark.streaming.health_pipeline import build_streaming_job

    job = build_streaming_job(read_kafka_stream(spark, EVENTS_TOPIC, bootstrap))
    return write_kafka_stream(
        job, ALERTS_TOPIC, bootstrap, checkpoint_dir=checkpoint_dir, trigger_seconds=0
    )


def _catch_up(spark, bootstrap: str, checkpoint_dir: str, progress: dict):
    """Start the job cold (no state, no offsets) on `bootstrap` and wait until
    the micro-batch holding the last backlog offset commits. Returns the
    running query, the seconds from query start to that commit, and the
    number of micro-batches it took."""
    t0 = time.time()
    query = _start_job(spark, bootstrap, checkpoint_dir)
    try:
        while True:
            if query.exception() is not None or time.time() > t0 + CATCHUP_TIMEOUT_S:
                raise RuntimeError(f"catch-up did not finish: {query.exception()}")
            _collect(query, progress)
            done = 0
            for bid in sorted(progress):
                done += progress[bid].numInputRows
                if done >= BACKLOG_EVENTS:
                    return query, _progress_end(progress[bid]) - t0, bid + 1
            time.sleep(0.02)
    except BaseException:
        query.stop()
        raise


def run(spark, work_dir: str, seed: int, seconds: int, trace: bool) -> dict:
    from hw_kafka_flink_health_spark.functions.parsing import parse_events_df
    from hw_kafka_flink_health_spark.sources.kafka import (
        ALERTS_TOPIC,
        EVENTS_TOPIC,
        emulated_produce,
        read_kafka_batch,
    )

    t_gen = time.perf_counter()
    source = datagen.EventSource(seed)
    rng = np.random.default_rng([seed, 5])
    b_ms = datagen.backlog_times(seed, BACKLOG_EVENTS)
    b_values, b_valid, _, _ = source.make(rng, b_ms)
    t_produce = time.perf_counter()
    src = "emulated://" + os.path.join(work_dir, "kafka-src")
    for chunk in np.array_split(np.arange(BACKLOG_EVENTS), BACKLOG_FILES):
        emulated_produce(src, EVENTS_TOPIC, b_values[chunk[0]:chunk[-1] + 1])
    backlog_produce_s = time.perf_counter() - t_produce
    backlog_s = time.perf_counter() - t_gen

    def topic_copy(i: int) -> str:
        """A bootstrap of its own holding a copy of the backlog topic."""
        bootstrap = "emulated://" + os.path.join(work_dir, f"kafka-{i}")
        shutil.copytree(
            os.path.join(src[len("emulated://"):], EVENTS_TOPIC),
            os.path.join(bootstrap[len("emulated://"):], EVENTS_TOPIC),
        )
        return bootstrap

    def stopped_catch_up(i: int) -> tuple[float, list]:
        bootstrap = topic_copy(i)
        progress: dict = {}
        query, s, n = _catch_up(spark, bootstrap, os.path.join(work_dir, f"ckpt-{i}"), progress)
        query.stop()
        shutil.rmtree(bootstrap[len("emulated://"):], ignore_errors=True)
        shutil.rmtree(os.path.join(work_dir, f"ckpt-{i}"), ignore_errors=True)
        return s, [progress[b] for b in sorted(progress)][:n]

    # Untimed cold catch-ups warm the JVM. Of the timed ones, the last goes
    # on into the live phase.
    warmup_s = [stopped_catch_up(i)[0] for i in range(CATCHUP_WARM)]
    catchup_s: list[float] = []
    catch_progress: list[list] = []
    sampler = RssSampler([os.getpid(), jvm_pid(spark)])
    t_start = time.time()
    with sampler:
        for i in range(CATCHUP_WARM, CATCHUP_WARM + CATCHUP_TIMED - 1):
            s, ps = stopped_catch_up(i)
            catchup_s.append(s)
            catch_progress.append(ps)
        bootstrap = topic_copy(CATCHUP_WARM + CATCHUP_TIMED - 1)
        consumer = AlertConsumer(os.path.join(bootstrap[len("emulated://"):], ALERTS_TOPIC))
        consumer.start()
        progress: dict = {}
        query, s, catchup_batches = _catch_up(
            spark, bootstrap, os.path.join(work_dir, "checkpoint"), progress
        )
        try:
            catchup_s.append(s)
            catch_progress.append([progress[b] for b in sorted(progress)][:catchup_batches])

            t_live0 = time.time()
            n_ticks = int(round((LIVE_WARMUP_S + seconds) / TICK_S))
            gen = Generator(
                source, bootstrap, EVENTS_TOPIC, seed, t_live0,
                datagen.T0_MS + 3_600_000, n_ticks,
            )
            gen.start()
            while gen.is_alive():
                _collect(query, progress)
                gen.join(0.5)
            if gen.error is not None:
                raise gen.error
            t_live_end = time.time()
            t_drain = time.perf_counter()

            all_ms = np.concatenate([b_ms[b_valid], [gen.max_on_time_ms]])
            watermark = int(all_ms.max()) - WATERMARK_MS
            expected = checks.reference_windows(
                b_values + gen.values, [False] * len(b_values) + gen.late
            )
            n_closed = sum(1 for v in expected.values() if v["window_end"] <= watermark)
            deadline = time.time() + DRAIN_TIMEOUT_S
            while len(consumer.arrival) < n_closed and time.time() < deadline:
                if query.exception() is not None:
                    raise RuntimeError(str(query.exception()))
                time.sleep(0.05)
            time.sleep(0.3)  # room for an (incorrect) extra batch to land
            _collect(query, progress)
            drain_s = time.perf_counter() - t_drain
        finally:
            query.stop()
    consumer.stop()

    attempted, failed, reasons = checks.check_alerts(consumer.alerts, expected, watermark)
    warm_ms = gen.clock_ms(t_live0 + LIVE_WARMUP_S)
    lat = [
        (consumer.arrival[k] - gen.last_due[k]) * 1000
        for k, v in expected.items()
        if v["window_start"] >= warm_ms and v["window_end"] <= watermark
        and k in consumer.arrival and k in gen.last_due
    ]
    if len(lat) < 10:
        failed += 1
        reasons.append(f"only {len(lat)} live alerts")
        lat = lat or [0.0]
    if gen.max_lag_s > TICK_S:
        failed += 1
        reasons.append(f"generator fell {gen.max_lag_s * 1000:.0f} ms behind")
    result = {
        "attempted": attempted,
        "failed": failed,
        "reasons": reasons,
        "metrics": {
            "pass_s": percentile(catchup_s, 50),
            "latency_ms_p50": percentile(lat, 50),
            "latency_ms_p90": percentile(lat, 90),
            "peak_rss_mib": sampler.peak_mib,
        },
        "t_start": t_start,
        "phases": {
            "backlog_s": backlog_s,
            "warmup_catchup_s": warmup_s,
            "catchup_s": catchup_s,
            "live_s": t_live_end - t_live0,
            "drain_s": drain_s,
        },
    }
    if trace:
        ps = [progress[b] for b in sorted(progress)]
        live = [
            p for p in ps[catchup_batches:]
            if t_live0 + LIVE_WARMUP_S <= _progress_end(p) <= t_live_end
        ]
        raw = read_kafka_batch(spark, EVENTS_TOPIC, bootstrap)
        n_raw = raw.count()
        n_valid = parse_events_df(raw).count()

        def dur(batch, key):
            return [float(p.durationMs.get(key, 0)) for p in batch]

        def p50(batch, key):
            return percentile(dur(batch, key), 50) if batch else 0.0

        def catch_ms(key):
            """Median over the timed catch-ups of the summed phase time."""
            return percentile([sum(dur(c, key)) for c in catch_progress], 50)

        states = [p.stateOperators[0] for p in ps if p.stateOperators]
        result["layers"] = {
            "sources.emulated_produce_s": gen.produce_s,
            "sources.backlog_produce_s": backlog_produce_s,
            "functions.parse_valid_frac": n_valid / n_raw,
            "streaming.catchup_events_per_s": BACKLOG_EVENTS / percentile(catchup_s, 50),
            "streaming.catchup.batches": percentile([len(c) for c in catch_progress], 50),
            "streaming.catchup.trigger_ms": catch_ms("triggerExecution"),
            "streaming.catchup.add_batch_ms": catch_ms("addBatch"),
            "streaming.catchup.query_planning_ms": catch_ms("queryPlanning"),
            "streaming.catchup.get_batch_ms": catch_ms("getBatch"),
            "streaming.live.batches": len(live),
            "streaming.live.trigger_ms_p50": p50(live, "triggerExecution"),
            "streaming.live.trigger_ms_p90": (
                percentile(dur(live, "triggerExecution"), 90) if live else 0.0
            ),
            "streaming.live.add_batch_ms_p50": p50(live, "addBatch"),
            "streaming.live.latest_offset_ms_p50": p50(live, "latestOffset"),
            "streaming.live.get_batch_ms_p50": p50(live, "getBatch"),
            "streaming.live.query_planning_ms_p50": p50(live, "queryPlanning"),
            "streaming.live.wal_commit_ms_p50": p50(live, "walCommit"),
            "streaming.live.commit_offsets_ms_p50": p50(live, "commitOffsets"),
            "streaming.state_commit_ms_p50": (
                percentile([float(s.commitTimeMs) for s in states], 50) if states else 0.0
            ),
            "streaming.state_rows_total": max((s.numRowsTotal for s in states), default=0),
            "streaming.state_memory_mb": max(
                (s.memoryUsedBytes for s in states), default=0
            ) / 2**20,
            "streaming.rows_dropped_by_watermark": sum(
                s.numRowsDroppedByWatermark for s in states
            ),
            "streaming.late_events_sent": gen.late_valid,
            "streaming.sink_rows": len(consumer.alerts),
            "load.generator_lag_ms_max": gen.max_lag_s * 1000,
        }
    return result
