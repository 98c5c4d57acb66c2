"""Batch file sources (reference operators S5-S7).

The reference's batch half reads JSON alert files and writes parquet/csv
(``src/spark_batch_analysis.py:22-26``); that job is
``streaming/batch_analysis.py:run``. Here the surface is generic:
parquet-first loaders for the synthetic star schema plus CSV/evolving-
parquet readers.

Scale notes:
* Parquet scans go through Spark's vectorized reader; filters/projections
  prune at the file/row-group level (check ``PushedFilters`` in explain).
* ``events.ts`` is stored as parquet TIMESTAMP(NANOS); Spark 4 reads it
  (with ``spark.sql.legacy.parquet.nanosAsLong``) as a long, so the loader
  converts to a microsecond TIMESTAMP_NTZ here, once, at the source —
  downstream operators always see a real timestamp column.

``materialize`` is the engine's one way to materialise a frame (the
only ``localCheckpoint`` call in the package), optionally hash-
partitioned on key columns.
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hw_kafka_flink_health_spark.schemas import STAR_TABLES
from hw_kafka_flink_health_spark.session import conf_override, input_signature, session_cached

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one synthetic table; normalizes `events.ts` nanos -> timestamp.

    `ts DIV 1000` is integer division on the JVM side — a float division
    would lose precision above 2^53 ns (~1970+104 days), so epoch-nanos
    MUST stay integral until the final cast.
    """
    # Defend against caller sessions (e.g. the driver's) missing the
    # engine's correctness confs — both are runtime-settable:
    # * nanosAsLong: events.parquet stores TIMESTAMP(NANOS), which Spark 4
    #   otherwise rejects at scan time;
    # * UTC session TZ: epoch-millis math (unix_millis over NTZ casts)
    #   must agree with UTC-naive oracle engines.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(f"{sf_dir.rstrip('/')}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts DIV 1000")).cast("timestamp_ntz")
        )
    return df


# Scan-partitioning probes for rebalance_if_narrow live in the session
# cache, keyed by the scan's files (input_signature) PLUS the session
# split settings: df.rdd.getNumPartitions() compiles a fresh RDD lineage
# for the whole plan on EVERY call (~0.3s of per-query planning overhead
# measured at round 7), while the answer only depends on the source
# files and the session's split confs (maxPartitionBytes /
# openCostInBytes / defaultParallelism — all in the key, so a session
# that retunes them mid-flight, like the repartition-invariance fuzz
# sweep, never reads a stale probe). Narrow transforms (select/filter)
# never change scan partitioning, so one probe per distinct (files,
# confs) is exact for this helper's contract (below) and the entry holds
# no frame. The cap keeps a long-lived session bounded: every
# versioned-table write changes the file set (round-7 verdict #6).
_PROBE_CAP = 256


def rebalance_if_narrow(df: DataFrame) -> DataFrame:
    """Round-robin repartition ONLY when the plan is under-partitioned.

    Generator-heavy stages (explode over replicate ids / shingles) multiply
    each input row tens-to-hundreds of times; a small parquet scans as 1-2
    partitions and would pin that whole expansion to 1-2 cores. When the
    scan already has >= defaultParallelism partitions (any real-scale
    table), this returns the input UNCHANGED — no shuffle is ever added to
    a well-partitioned plan, which matters because the rebalanced
    projection may carry heavy columns (document text) that must not be
    re-shuffled wholesale at 100 TB.

    Contract: pass a SCAN-ROOTED NARROW plan (projections/filters over one
    file source, no joins/aggregates upstream) — every in-repo caller does.
    The partition probe is session-cached per file set (see _PROBE_CAP);
    a plan with no file source falls back to an uncached probe."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    sig = input_signature(df)
    key = None
    if sig:
        # a None default skips Spark 4's type check of the default and
        # reads an unset conf as None
        key = (
            sig,
            spark.conf.get("spark.sql.files.maxPartitionBytes", None),
            spark.conf.get("spark.sql.files.openCostInBytes", None),
            target,
        )
    n = session_cached(
        spark,
        "files.narrow_probe",
        key,
        (),
        lambda: df.rdd.getNumPartitions(),
        cap=_PROBE_CAP,
    )
    if n >= target:
        return df
    return df.repartition(target)


def materialize(df: DataFrame, *keys: str) -> DataFrame:
    """Materialise `df` once: an eager `localCheckpoint`, so every
    consumer reads the stored rows instead of re-running the plan
    (Catalyst does not share an unmaterialized subtree between
    consumers) and an iterative loop's lineage stays one level deep.

    With `keys`, the rows are stored hash-partitioned on them and the
    partitioning is PRESERVED in the result's plan — the in-session
    analog of writing a bucketed table (guide §2.4): every downstream
    join or aggregate keyed on `keys` reuses the layout instead of
    re-shuffling the table, which is the whole per-round edge shuffle
    of an iterative graph query. Two Spark mechanics shape this:

    * `Dataset.localCheckpoint` only carries `outputPartitioning` /
      `outputOrdering` into the resulting `LogicalRDD` when the physical
      plan's partitioning maps onto plain output attributes. Under AQE
      the executed plan is an `AdaptiveSparkPlan` whose final partitioning
      is not exposed that way, so the checkpoint comes back
      `UnknownPartitioning` (measured: the r13 LPA join re-shuffled 1.17M
      cached edge rows per round, then AQE broadcast the 15 MB edge side
      and coalesced the node-sized probe to ONE task). AQE is therefore
      off for this one action (`conf_override`).
    * The partition count is pinned to `spark.sql.shuffle.partitions` so
      EnsureRequirements recognizes the table as co-partitioned with any
      join side it plans at the session default — a mismatched count
      would re-shuffle the pre-partitioned side. No constant is written
      anywhere: the layout follows the session's shuffle parallelism,
      like the ingest-time bucketing a large graph pipeline runs once
      before its iterative phase.

    Deployment caveat: the stored blocks are executor-local and not
    replicated. On a local master (this engine's driver contract) they
    live as long as the session. On a multi-executor deployment with
    dynamic allocation, losing an executor makes every later read of a
    materialised frame — including session-cache hits
    (`session_cached`) — fail on missing blocks instead of recomputing.
    Switch this function to a reliable `checkpoint()` before running
    off local mode.
    """
    flip = contextlib.nullcontext()
    if keys:
        spark = df.sparkSession
        n = int(spark.conf.get("spark.sql.shuffle.partitions"))
        # no sortWithinPartitions: the ordering would only help a same-key
        # SMJ skip its sort, and these joins either broadcast the small side
        # (local scale) or sort node-sized tables, not this one; the sort
        # measured +0.3 s per build for no downstream change (r13)
        df = df.repartition(n, *keys)
        flip = conf_override(spark, "spark.sql.adaptive.enabled", "false")
    with flip:
        return df.localCheckpoint()


# `perfbench/tracer.py` wraps `files.checkpoint_partitioned` by name for
# its `sources.checkpoint_partitioned` layer counter, and the benchmark
# harness stays fixed so runs before and after an engine change compare.
# Through this alias the counter counts every `materialize` call.
checkpoint_partitioned = materialize


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in STAR_TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every synthetic table as a temp view for spark.sql()."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)


def read_parquet_evolved(spark: SparkSession, path: str) -> DataFrame:
    """Read a parquet directory whose files were written under EVOLVING
    schemas (columns added over time, the normal life of a long-lived
    ingest dir). mergeSchema unions the per-file schemas; rows from files
    predating a column read as null there. Off by default in Spark
    because it footer-scans every file — at 100 TB turn it on only for
    evolving landing zones, then compact to the current schema."""
    return spark.read.option("mergeSchema", "true").parquet(path)


def read_csv_robust(
    spark: SparkSession,
    path: str,
    schema,
    *,
    mode: str = "PERMISSIVE",
    corrupt_col: str = "_corrupt_record",
) -> DataFrame:
    """CSV read with the reference's parse-don't-crash contract
    (`parse_event` -> None, SURVEY §2.A P1) applied to files: malformed
    rows land in `corrupt_col` (PERMISSIVE) or are dropped
    (DROPMALFORMED) instead of failing the 100 TB job at hour nine.
    Always takes an explicit schema — inference is a full extra pass."""
    reader = (
        spark.read.schema(schema)
        .option("header", "true")
        .option("mode", mode)
    )
    if mode == "PERMISSIVE":
        reader = reader.option("columnNameOfCorruptRecord", corrupt_col)
    return reader.csv(path)
