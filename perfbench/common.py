"""Process set-up shared by the workloads: Spark session, environment
record, memory sampling and small statistics helpers."""

from __future__ import annotations

import hashlib
import os
import platform
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.dirname(os.path.abspath(__file__))


def process_start_time() -> float:
    """Wall-clock time at which this process started (10 ms grain)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as fh:
        btime = next(int(ln.split()[1]) for ln in fh if ln.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def configure_env(work_dir: str) -> None:
    """Spark core count, heap and scratch space for this process. Explicit
    settings in the caller's environment win."""
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc()))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_spark(work_dir: str):
    from hw_kafka_flink_health_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        extra_conf={
            # The whole heap from the start: a heap that grows during the run
            # made peak RSS and the young-collection count (about 120 against
            # 30 per batch run) differ from run to run.
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} "
                f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}"
            ),
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        },
    )


def cpu_score_mib_s(seconds: float = 0.2) -> float:
    """Fixed single-thread probe: MiB/s of md5 over a 1 MiB buffer."""
    buf = b"\x5a" * (1 << 20)
    n = 0
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < seconds:
        hashlib.md5(buf).digest()
        n += 1
    return n / (time.perf_counter() - t0)


def env_record(seed: int) -> dict:
    import pyspark

    return {
        "seed": seed,
        "spark_cores": int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0),
        "nproc": nproc(),
        "cpu_score_mib_s": round(cpu_score_mib_s(), 1),
        "loadavg_start": os.getloadavg()[0],
        "spark_version": pyspark.__version__,
        "python_version": platform.python_version(),
    }


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Peak of (this process + JVM) resident memory while running."""

    def __init__(self, pids: list[int], interval: float = 0.05):
        self.pids = pids
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, sum(_rss_bytes(p) for p in self.pids))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, sum(_rss_bytes(p) for p in self.pids))

    @property
    def peak_mib(self) -> float:
        return self.peak / 2**20


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM (and the Python workers it
    forked) to exit: the gateway JVM exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None
