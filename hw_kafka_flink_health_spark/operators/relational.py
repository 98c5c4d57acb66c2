"""Relational operators beyond plain DataFrame calls.

The reference has no joins at all (SURVEY §2.B); these are the
driver-mandated extension operators (SURVEY §2.C), written so Catalyst
keeps full control of the physical strategy.

As-of join design (Spark has no native ASOF): the naive formulation —
theta-join on ``right.ts <= left.ts`` then argmax — explodes to a
nested-loop join at scale. The scalable formulation used here is
union-then-window: tag both inputs, sort once per key by time, and carry
the most recent right-side value forward with ``last(..., ignorenulls)``
over an unbounded-preceding frame. One shuffle on the key, one sort —
exactly what a hand-written merge-asof would do, but expressed
declaratively so it parallelizes per key group.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from hw_kafka_flink_health_spark.sources.files import materialize


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    ts_col: str,
    value_cols: list[str],
    *,
    right_ts_alias: str = "asof_ts",
    direction: str = "backward",
    tolerance_seconds: float | None = None,
) -> DataFrame:
    """For each left row, attach the nearest right row in time.

    ``direction`` matches pandas ``merge_asof``: "backward" takes the
    latest right row with ts <= left.ts, "forward" the earliest with
    ts >= left.ts, "nearest" whichever of the two is closer in absolute
    time (ties -> the earlier/backward row, pandas' rule). Ties at equal
    timestamps match in every direction. Left rows keep all their
    columns; right values arrive as `value_cols` plus `right_ts_alias`
    (null when no qualifying right row exists).

    ``tolerance_seconds`` matches pandas ``merge_asof(tolerance=...)``:
    a candidate farther than the tolerance does not match (its values
    come back null; the left row itself always survives). For "nearest"
    the tolerance filters each side BEFORE the nearest pick, pandas'
    rule — a stale backward row within tolerance still loses to a
    closer forward row, and an out-of-tolerance side loses outright.
    Requires a timestamp-castable ``ts_col`` (same precondition the
    "nearest" distance math already has); the comparison is exact in
    microseconds. Same plan either way: the mask is a column expression
    over the one sorted exchange — no extra shuffle.

    All three directions are the SAME plan shape: one union, one shuffle
    on the key, one sort — "nearest" just reads two running fills off the
    one sorted exchange instead of one (no second shuffle, no self-join;
    the naive nearest-via-range-join is a quadratic blowup at 100 TB).
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"unknown asof direction {direction!r}")
    # Tag and union; right rows sort before left rows at equal timestamps
    # so an exactly-simultaneous right row is visible to the left row (<=).
    right_types = dict(right.dtypes)
    l_tagged = left.select(
        F.lit(1).alias("__is_left"),
        F.col(ts_col).alias("__ts"),
        *[F.col(c) for c in left.columns],
        *[F.lit(None).cast(right_types[c]).alias(f"__r_{c}") for c in value_cols],
        F.lit(None).cast(right_types[ts_col]).alias("__r_ts"),
    )
    r_tagged = right.select(
        F.lit(0).alias("__is_left"),
        F.col(ts_col).alias("__ts"),
        *[
            (F.col(on) if c == on else F.lit(None).cast(t)).alias(c)
            for c, t in left.dtypes
        ],
        *[F.col(c).alias(f"__r_{c}") for c in value_cols],
        F.col(ts_col).alias("__r_ts"),
    )
    unioned = l_tagged.select(r_tagged.columns).unionByName(r_tagged)

    # Backward fill: right rows sort BEFORE left at equal ts so <= is
    # inclusive. Forward fill: right rows sort AFTER left at equal ts so
    # >= is inclusive (frame starts at the current row).
    wb = (
        Window.partitionBy(on)
        .orderBy(F.col("__ts").asc(), F.col("__is_left").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wf = (
        Window.partitionBy(on)
        .orderBy(F.col("__ts").asc(), F.col("__is_left").desc())
        .rowsBetween(0, Window.unboundedFollowing)
    )
    cols = ["*"]
    if direction in ("backward", "nearest"):
        cols += [
            F.last(f"__r_{c}", ignorenulls=True).over(wb).alias(f"__b_{c}")
            for c in value_cols
        ] + [F.last("__r_ts", ignorenulls=True).over(wb).alias("__b_ts")]
    if direction in ("forward", "nearest"):
        cols += [
            F.first(f"__r_{c}", ignorenulls=True).over(wf).alias(f"__fw_{c}")
            for c in value_cols
        ] + [F.first("__r_ts", ignorenulls=True).over(wf).alias("__fw_ts")]
    filled = unioned.select(*cols)

    # micros via an explicit TIMESTAMP cast: unix_micros rejects
    # TIMESTAMP_NTZ, and ANSI mode rejects timestamp->long casts; the
    # session TZ is pinned UTC so the NTZ->TZ cast is stable.
    def _us(c: str):
        return F.unix_micros(F.col(c).cast("timestamp"))

    if tolerance_seconds is not None:
        tol_us = int(round(tolerance_seconds * 1_000_000))
        ok_b = (_us("__ts") - _us("__b_ts")) <= tol_us
        ok_f = (_us("__fw_ts") - _us("__ts")) <= tol_us
        # Mask ONLY the columns this function constructed (exact names
        # derived from value_cols plus the two fill timestamps) — a
        # caller column that happens to start with '__b_'/'__fw_' must
        # pass through untouched (ADVICE r10).
        b_mask = {f"__b_{c}" for c in value_cols} | {"__b_ts"}
        f_mask = {f"__fw_{c}" for c in value_cols} | {"__fw_ts"}
        masked = []
        for c in filled.columns:
            if c in b_mask:
                masked.append(F.when(ok_b, F.col(c)).alias(c))
            elif c in f_mask:
                masked.append(F.when(ok_f, F.col(c)).alias(c))
            else:
                masked.append(F.col(c))
        filled = filled.select(*masked)
    if direction == "backward":
        pick = {c: F.col(f"__b_{c}") for c in value_cols} | {"ts": F.col("__b_ts")}
    elif direction == "forward":
        pick = {c: F.col(f"__fw_{c}") for c in value_cols} | {"ts": F.col("__fw_ts")}
    else:
        # nearest: backward wins ties (pandas merge_asof nearest keeps the
        # earlier row on equal distance); a missing side loses outright.
        back_wins = F.when(F.col("__fw_ts").isNull(), F.lit(True)).otherwise(
            F.col("__b_ts").isNotNull()
            & ((_us("__ts") - _us("__b_ts")) <= (_us("__fw_ts") - _us("__ts")))
        )
        pick = {
            c: F.when(back_wins, F.col(f"__b_{c}")).otherwise(F.col(f"__fw_{c}"))
            for c in value_cols
        } | {"ts": F.when(back_wins, F.col("__b_ts")).otherwise(F.col("__fw_ts"))}
    return filled.filter(F.col("__is_left") == 1).select(
        *[F.col(c) for c in left.columns],
        *[pick[c].alias(c) for c in value_cols],
        pick["ts"].alias(right_ts_alias),
    )


def top_k_per_group(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list,
    k: int,
    rank_alias: str = "rank",
) -> DataFrame:
    """Top-k rows per group via row_number (deterministic iff order_cols
    form a total order within each group — pass a unique tiebreaker).

    Scale note: Spark plans this as a shuffle on group_cols + per-partition
    sort; with AQE, skewed groups split. No driver-side work.
    """
    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return (
        df.withColumn(rank_alias, F.row_number().over(w).cast("long"))
        .filter(F.col(rank_alias) <= k)
    )


def merge_upsert(
    base: DataFrame, updates: DataFrame, key_cols: list[str]
) -> DataFrame:
    """Batch MERGE INTO semantics: rows from `updates` win on key match,
    unmatched base rows pass through (whole-row upsert; deletes are a
    pre-filter on `updates`'s side).

    Shape: one left-anti join (base minus updated keys) + union — the
    anti join shuffles only the key columns of the probe side and
    broadcasts when `updates` is small. This is the foreachBatch sink's
    batch twin, and the layout-preserving path at 100 TB: with both
    sides bucketed by the key (operators/storage.py) the anti join is
    exchange-free, which is how an incremental corpus refresh avoids
    rewriting unrelated partitions.
    """
    if base.columns != updates.columns:
        raise ValueError("merge_upsert requires identical schemas")
    keep = base.join(updates.select(*key_cols), key_cols, "left_anti")
    return keep.unionByName(updates)


def winsorize(
    df: DataFrame,
    group_col: str,
    value_col: str,
    *,
    lo: float = 0.01,
    hi: float = 0.99,
) -> DataFrame:
    """Clip `value_col` to per-group exact [lo, hi] percentiles — the
    outlier-trim pass before aggregate features feed a model (sensor
    glitches in a health stream, crawler junk in a corpus).

    Exact `percentile` (not approx) so results are engine-checkable; the
    per-group percentiles are one aggregation (sort-based, spillable),
    broadcast back onto the rows. At 100 TB swap in percentile_approx
    and the plan shape is unchanged while the percentile pass becomes a
    streaming sketch merge.
    """
    pcts = df.groupBy(group_col).agg(
        F.percentile(value_col, F.lit(lo)).alias("_p_lo"),
        F.percentile(value_col, F.lit(hi)).alias("_p_hi"),
    )
    return (
        df.join(F.broadcast(pcts), group_col)
        .withColumn(
            f"{value_col}_clipped",
            F.least(F.greatest(F.col(value_col), F.col("_p_lo")), F.col("_p_hi")),
        )
        .withColumn(
            "was_clipped",
            (F.col(value_col) != F.col(f"{value_col}_clipped")).cast("int"),
        )
    )


def binned_interval_join(
    points: DataFrame,
    intervals: DataFrame,
    *,
    point_col: str,
    start_col: str,
    end_col: str,
    bin_width: int,
) -> DataFrame:
    """Interval-containment join (start <= point <= end) WITHOUT an equi key,
    kept hash-partitionable by binning — the range-join trick Spark's planner
    does not do for you (a bare theta join plans as BroadcastNestedLoopJoin,
    which is quadratic work at scale).

    Each interval is exploded to every fixed-width bin it overlaps
    (``sequence(floor(start/w), floor(end/w))`` — at most
    ``len/w + 2`` rows per interval); each point maps to exactly ONE bin,
    so after the equi join on the bin plus the exact containment filter,
    every qualifying (point, interval) pair appears exactly once — no
    dedup pass needed. Pick ``bin_width`` near the typical interval length:
    replication factor stays ~2 while the join is an ordinary shuffled hash
    join that AQE can size and skew-split. Columns must be numeric
    (cast dates to day numbers first)."""
    w = F.lit(bin_width)
    iv = intervals.withColumn(
        "__bin",
        F.explode(
            F.sequence(
                F.floor(F.col(start_col) / w), F.floor(F.col(end_col) / w)
            )
        ),
    )
    pt = points.withColumn("__bin", F.floor(F.col(point_col) / w))
    return (
        pt.join(iv, "__bin")
        .filter(
            (F.col(point_col) >= F.col(start_col))
            & (F.col(point_col) <= F.col(end_col))
        )
        .drop("__bin")
    )


def global_prefix_sum(
    df: DataFrame,
    value_col: str,
    order_cols: list,
    *,
    out_col: str = "running_total",
    n_partitions: int | None = None,
) -> DataFrame:
    """Scalable GLOBAL running sum (cumulative sum over a total order
    spanning the whole table) — without the single-task global window
    `Window.orderBy(...)` would plan.

    Two-pass distributed prefix sum, the textbook scan algorithm mapped
    onto Spark:

    1. `repartitionByRange(order_cols)` range-partitions the rows so
       partition i holds a contiguous slice of the total order, then a
       partition-local window computes the within-partition cumsum (each
       task sorts only its slice).
    2. Per-partition totals (ONE row per partition — bounded, collected
       to the driver) become exclusive partition offsets, broadcast back
       and added to the local cumsum.

    The result is independent of where the sampled range boundaries land
    (prefix sums don't care how the order is cut), so the output is
    deterministic even though RangePartitioner's sampling isn't. At
    100 TB this is one range shuffle + one tiny broadcast — vs the
    global-window plan that funnels every row through one task.
    """
    return global_prefix_scan(
        df,
        [value_col],
        order_cols,
        out_cols=[out_col],
        n_partitions=n_partitions,
    )


def global_prefix_sums(
    df: DataFrame,
    value_cols: list,
    order_cols: list,
    *,
    out_cols: list | None = None,
    n_partitions: int | None = None,
) -> DataFrame:
    """Multi-column :func:`global_prefix_sum`: ONE range shuffle + ONE
    bounded offsets collect computes the inclusive running total of EACH
    value column over the same total order. Callers that need several
    cumulative series on one ordered table (two-sample ECDFs, paired
    debit/credit ledgers) would otherwise pay the shuffle per column.
    """
    return global_prefix_scan(
        df,
        value_cols,
        order_cols,
        out_cols=out_cols,
        n_partitions=n_partitions,
    )


_INTEGRAL_SPARK_TYPES = {"tinyint", "smallint", "int", "bigint"}
_SCAN_IDENTITY = {
    "sum": 0,
    "max": -(1 << 63),  # int64 min: max(x, id) == x for any int64
    "min": (1 << 63) - 1,
}


def global_prefix_scan(
    df: DataFrame,
    value_cols: list,
    order_cols: list,
    *,
    ops: list | None = None,
    out_cols: list | None = None,
    exclusive: bool = False,
    n_partitions: int | None = None,
) -> DataFrame:
    """Generalized distributed prefix scan: running sum/max/min of each
    value column over one global total order, inclusive (frame
    UNBOUNDED PRECEDING..CURRENT ROW) or exclusive (..1 PRECEDING —
    sweep-line "state before this point", e.g. the skyline's
    previous-max). NULL semantics match the window functions exactly:
    NULLs contribute nothing, and a row with no non-NULL predecessor in
    its frame gets NULL.

    Plan shape for INTEGRAL value columns (the Arrow tier):

    1. ``repartitionByRange(order_cols)`` + ``sortWithinPartitions`` —
       the ONE exchange — then ``localCheckpoint`` pins the cut
       (RangePartitioner samples its boundaries; the offsets job and
       the scan must see the same materialization).
    2. Per-partition (aggregate, non-null count) pairs — one bounded
       collect — become exclusive partition carries.
    3. One Arrow ``mapInPandas`` pass over the sorted, materialized
       partitions computes the within-partition scan and adds the
       carry: exact int64 vectorized accumulation, results emitted as
       Python ints (arbitrary precision) so output conversion can never
       silently wrap; a float64 shadow raises loudly past 2^62.

    The r10-r11 implementation ran the local scan as a
    ``Window.partitionBy(_pid)`` — whose required distribution Catalyst
    cannot prove from the range exchange, so every caller silently paid
    a SECOND full exchange (hashpartitioning(_pid)) the operator's
    docstring claimed not to exist (found r12 in the captured
    pre-checkpoint executed plan). Non-integral value columns (double /
    decimal) fall back to that windowed tier, which keeps engine-native
    type and FP-ordering semantics at the price of the extra exchange.
    """
    k = len(value_cols)
    if ops is None:
        ops = ["sum"] * k
    if out_cols is None:
        out_cols = [f"{c}_running" for c in value_cols]
    if not (len(out_cols) == len(ops) == k):
        raise ValueError(
            f"value_cols ({k}) / ops ({len(ops)}) / out_cols "
            f"({len(out_cols)}) must pair 1:1"
        )
    bad_ops = set(ops) - set(_SCAN_IDENTITY)
    if bad_ops:
        raise ValueError(f"unsupported scan ops: {sorted(bad_ops)}")
    staging = {"_pid", *(f"_ls_{i}" for i in range(k))}
    clash = staging & set(df.columns)
    if clash:
        raise ValueError(
            f"global_prefix_scan reserves column names {sorted(clash)}; "
            "rename them on the input frame first"
        )
    out_clash = set(out_cols) & set(df.columns)
    if out_clash:
        # the window tier's withColumn would silently REPLACE the input
        # column; the Arrow tier's schema would carry a duplicate name —
        # refuse loudly instead of either
        raise ValueError(
            f"out_cols collide with input columns: {sorted(out_clash)}"
        )
    in_types = dict(df.dtypes)
    missing = [c for c in value_cols if c not in in_types]
    if missing:
        raise ValueError(f"value_cols not in frame: {missing}")
    if all(in_types[c] in _INTEGRAL_SPARK_TYPES for c in value_cols):
        return _prefix_scan_arrow(
            df, value_cols, order_cols, ops, out_cols, exclusive, n_partitions
        )
    return _prefix_scan_window(
        df, value_cols, order_cols, ops, out_cols, exclusive, n_partitions
    )


def _prefix_scan_arrow(
    df: DataFrame,
    value_cols: list,
    order_cols: list,
    ops: list,
    out_cols: list,
    exclusive: bool,
    n_partitions: int | None,
) -> DataFrame:
    import numpy as np
    import pandas as pd

    # shared null-absorbing exact conversion (review r12): NULL-bearing
    # int columns cross the Arrow boundary as float64/object
    from hw_kafka_flink_health_spark.operators._arrow import to_int64_exact
    from hw_kafka_flink_health_spark.pyship import ship_package

    ship_package(df.sparkSession)
    n = n_partitions or df.sparkSession.sparkContext.defaultParallelism
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    staged = materialize(
        df.repartitionByRange(n, *cols)
        .sortWithinPartitions(*cols)
        .withColumn("_pid", F.spark_partition_id())
    )
    agg_fn = {"sum": F.sum, "max": F.max, "min": F.min}
    totals = staged.groupBy("_pid").agg(
        *[
            agg_fn[op](vc).alias(f"_pt_{i}")
            for i, (vc, op) in enumerate(zip(value_cols, ops))
        ],
        *[
            F.count(vc).alias(f"_pc_{i}")
            for i, vc in enumerate(value_cols)
        ],
    ).collect()
    # Exclusive partition carries: for each column, the combined scan
    # value and non-null count of every EARLIER partition. Python-int
    # arithmetic — no wrap possible on the driver side.
    comb = {
        "sum": lambda a, b: a + b,
        "max": max,
        "min": min,
    }
    carry_val = [None] * len(value_cols)  # None == no non-null yet
    carry_cnt = [0] * len(value_cols)
    carries: dict[int, tuple] = {}
    for r in sorted(totals, key=lambda r: r["_pid"]):
        carries[r["_pid"]] = (list(carry_val), list(carry_cnt))
        for i, op in enumerate(ops):
            v = r[f"_pt_{i}"]
            if v is not None:
                v = int(v)
                carry_val[i] = (
                    v
                    if carry_val[i] is None
                    else comb[op](carry_val[i], v)
                )
            carry_cnt[i] += int(r[f"_pc_{i}"])
    payload_fields = [f for f in staged.schema.fields if f.name != "_pid"]
    out_schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in payload_fields]
        + [f"`{oc}` bigint" for oc in out_cols]
    )
    payload_names = [f.name for f in payload_fields]
    kk = len(value_cols)
    identities = [_SCAN_IDENTITY[op] for op in ops]
    accum = {
        "sum": np.add.accumulate,
        "max": np.maximum.accumulate,
        "min": np.minimum.accumulate,
    }
    LOUD = float(2**62)

    def op_fn(batches):
        run_val = None  # initialized from the partition's carry
        run_cnt = None
        for pdf in batches:
            if not len(pdf):
                continue
            if run_val is None:
                pid = int(pdf["_pid"].iloc[0])
                cv, cc = carries.get(pid, ([None] * kk, [0] * kk))
                run_val, run_cnt = list(cv), list(cc)
            outs = {}
            for i, (vc, op) in enumerate(zip(value_cols, ops)):
                vals, valid = to_int64_exact(pdf[vc].to_numpy())
                seed = (
                    identities[i] if run_val[i] is None else run_val[i]
                )
                filled = np.where(
                    valid, vals, np.int64(identities[i] if op != "sum" else 0)
                )
                ext = np.concatenate(
                    ([np.int64(seed)], filled)
                )
                scan = accum[op](ext)  # length L+1; [0] == carry-in
                if op == "sum":
                    shadow = np.add.accumulate(
                        np.concatenate(([float(seed)], filled.astype(np.float64)))
                    )
                    if np.any(np.abs(shadow) >= LOUD):
                        raise ValueError(
                            "prefix scan: running sum approaching int64 "
                            "range (|sum| >= 2^62) — use the windowed "
                            "tier / wider type"
                        )
                cnt = np.concatenate(
                    ([np.int64(run_cnt[i])], valid.astype(np.int64))
                ).cumsum()
                picked = scan[:-1] if exclusive else scan[1:]
                pcnt = cnt[:-1] if exclusive else cnt[1:]
                if pcnt[0] > 0:
                    # fast path (the common all-valid case): every row
                    # has a non-null predecessor in its frame (pcnt is
                    # nondecreasing, so checking the first suffices) —
                    # hand the int64 array straight to Arrow, no per-row
                    # Python objects (measured ~2x on the value table)
                    outs[out_cols[i]] = picked
                else:
                    outs[out_cols[i]] = [
                        None if c == 0 else int(v)
                        for v, c in zip(picked.tolist(), pcnt.tolist())
                    ]
                run_val[i] = None if cnt[-1] == 0 else int(scan[-1])
                run_cnt[i] = int(cnt[-1])
            res = pdf[payload_names].copy()
            for oc in out_cols:
                v = outs[oc]
                res[oc] = (
                    pd.Series(v, index=res.index)
                    if isinstance(v, np.ndarray)
                    else pd.Series(v, dtype=object, index=res.index)
                )
            yield res

    return staged.mapInPandas(op_fn, schema=out_schema)


def _prefix_scan_window(
    df: DataFrame,
    value_cols: list,
    order_cols: list,
    ops: list,
    out_cols: list,
    exclusive: bool,
    n_partitions: int | None,
) -> DataFrame:
    """Windowed fallback tier for non-integral value columns: keeps the
    engine's native type/FP semantics, at the cost of the extra
    hashpartitioning(_pid) exchange Catalyst inserts above the range
    exchange (it cannot prove the data is already clustered by _pid)."""
    n = n_partitions or df.sparkSession.sparkContext.defaultParallelism
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    ordered = df.repartitionByRange(n, *cols)
    hi = -1 if exclusive else Window.currentRow
    wloc = (
        Window.partitionBy("_pid")
        .orderBy(*cols)
        .rowsBetween(Window.unboundedPreceding, hi)
    )
    win_fn = {"sum": F.sum, "max": F.max, "min": F.min}
    local = ordered.withColumn("_pid", F.spark_partition_id())
    for i, (vc, op) in enumerate(zip(value_cols, ops)):
        local = local.withColumn(f"_ls_{i}", win_fn[op](vc).over(wloc))
    # Pin ONE materialization: RangePartitioner samples its boundaries,
    # so the offsets job and the final job must agree on the cut.
    local = materialize(local)
    # Partition carry = the column's FULL-partition aggregate (for sum:
    # the partition total — max(_ls) would be wrong for signed values).
    agg_fn = {"sum": F.sum, "max": F.max, "min": F.min}
    totals = local.groupBy("_pid").agg(
        *[
            agg_fn[op](vc).alias(f"_pt_{i}")
            for i, (vc, op) in enumerate(zip(value_cols, ops))
        ]
    ).collect()
    # only max/min reach the comb_expr branch below — sum combines via
    # the coalesce form (review r12 removed a dead "sum" entry here)
    comb_expr = {
        "max": F.greatest,
        "min": F.least,
    }
    carry = [None] * len(value_cols)
    carries: dict[int, list] = {}
    for r in sorted(totals, key=lambda r: r["_pid"]):
        carries[r["_pid"]] = list(carry)
        for i, op in enumerate(ops):
            v = r[f"_pt_{i}"]
            if v is not None:
                if carry[i] is None:
                    carry[i] = v
                elif op == "sum":
                    carry[i] = carry[i] + v
                elif op == "max":
                    carry[i] = max(carry[i], v)
                else:
                    carry[i] = min(carry[i], v)
    out = local
    for i, (op, oc) in enumerate(zip(ops, out_cols)):
        if carries:
            off_expr = F.element_at(
                F.create_map(
                    *[
                        F.lit(x)
                        for pid, cs in carries.items()
                        for x in (pid, cs[i])
                    ]
                ),
                F.col("_pid"),
            )
        else:  # empty input: no partitions produced rows
            off_expr = F.lit(None)
        ls = F.col(f"_ls_{i}")
        if op == "sum":
            combined = ls + F.coalesce(off_expr, F.lit(0))
            # NULL window value (no non-null predecessor in-partition)
            # + non-null carry must still yield the carry, matching the
            # global window's null-skipping semantics.
            combined = F.coalesce(combined, off_expr, ls)
        else:
            combined = F.when(
                ls.isNull(), off_expr
            ).when(off_expr.isNull(), ls).otherwise(
                comb_expr[op](ls, off_expr)
            )
        out = out.withColumn(oc, combined)
    return out.drop("_pid", *(f"_ls_{i}" for i in range(len(value_cols))))


def _range_local_row_number(
    df: DataFrame, order_cols: list, n_partitions: int | None
) -> DataFrame:
    """Pass 1 of the distributed rank: range-partition on the total
    order, sort within partitions, and read (_pid, _local_rn) straight
    out of ``monotonically_increasing_id()`` — which by contract encodes
    ``(partition_id << 33) + row_index_within_partition`` evaluated in
    physical row order above the sort.

    This shape has exactly ONE exchange. The r10-r11 version computed
    the local row_number with ``Window.partitionBy("_pid")``, whose
    required ClusteredDistribution(_pid) Catalyst cannot prove from the
    range exchange, so it inserted a SECOND full exchange
    (hashpartitioning(_pid)) plus a window sort — 2x the data movement
    for a value the row stream already carries positionally (found r12
    by reading the captured pre-checkpoint executed plan). The id-based
    read is pure codegen'd projection: no Window operator at all.
    Caveat: row index is 33 bits, so a single range partition past
    ~8.6B rows would wrap — size n_partitions to keep slices under that
    (distributed_row_number's offsets pass checks the per-partition
    counts and raises loudly on a violation).

    Factored out un-checkpointed so the plan tests can inspect the
    shape the checkpoint later hides.
    """
    n = n_partitions or df.sparkSession.sparkContext.defaultParallelism
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    ordered = df.repartitionByRange(n, *cols).sortWithinPartitions(*cols)
    mid = F.monotonically_increasing_id()
    out = ordered.withColumn("_mid", mid).select(
        "*",
        F.shiftright(F.col("_mid"), 33).cast("int").alias("_pid"),
        (F.col("_mid").bitwiseAND(F.lit((1 << 33) - 1)) + 1).alias(
            "_local_rn"
        ),
    )
    return out.drop("_mid")


def distributed_row_number(
    df: DataFrame,
    order_cols: list,
    *,
    out_col: str = "rn",
    n_partitions: int | None = None,
    total_col: str | None = None,
) -> DataFrame:
    """Scalable GLOBAL ``row_number`` over a total order — the rank/ntile
    sibling of :func:`global_prefix_sum`, replacing the plan shape
    ``Window.orderBy(...)`` produces (an ``Exchange SinglePartition``
    that funnels EVERY row through one task — the one shape that dies at
    100 TB fact cardinality).

    Same two-pass scan algorithm:

    1. ``repartitionByRange(order_cols)`` range-partitions the rows so
       partition i holds a contiguous slice of the total order; a
       partition-local window computes the within-partition row_number
       (each task sorts only its own slice).
    2. Per-partition ROW COUNTS (one row per partition — bounded,
       collected to the driver) become exclusive offsets, broadcast back
       and added to the local row_number.

    ``order_cols`` must be a TOTAL order (include a tie-break column):
    with distinct sort keys the global row_number is independent of
    where RangePartitioner's sampled boundaries land, so the output is
    deterministic even though the sampling isn't. The checkpoint pins
    ONE materialization so the offsets job and the final job agree.

    ``total_col``, when set, also attaches the global row count as a
    literal column — callers that would otherwise compute N via
    ``count().over(Window.partitionBy())`` (another single-partition
    exchange) get it for free from the offsets pass.
    """
    # Loud guard, not silent clobber: withColumn REPLACES an existing
    # column, so a caller frame already carrying an internal staging
    # name would lose that column with no error (the asof_join
    # __b_/__fw_ hazard class, ADVICE r10 / review r11).
    clash = {"_pid", "_local_rn", "_mid"} & set(df.columns)
    if clash:
        raise ValueError(
            f"distributed_row_number reserves column names {sorted(clash)}; "
            "rename them on the input frame first"
        )
    # Pin one materialization: RangePartitioner samples its boundaries,
    # so the counts job and the final job must see the SAME cut.
    local = materialize(_range_local_row_number(df, order_cols, n_partitions))
    counts = local.groupBy("_pid").agg(F.count(F.lit(1)).alias("_pcount")).collect()
    offsets = {}
    acc = 0
    for r in sorted(counts, key=lambda r: r["_pid"]):
        # the id-based local row index is 33 bits per partition — a
        # slice past that wraps silently, so fail loudly instead
        if r["_pcount"] >= (1 << 33):
            raise ValueError(
                f"range partition {r['_pid']} holds {r['_pcount']} rows "
                ">= 2^33; raise n_partitions so each slice fits the "
                "33-bit local row index"
            )
        offsets[r["_pid"]] = acc
        acc += r["_pcount"]
    if offsets:
        off_expr = F.element_at(
            F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv]),
            F.col("_pid"),
        )
    else:  # empty input: no partitions produced rows
        off_expr = F.lit(0)
    out = local.withColumn(
        out_col, (F.col("_local_rn") + off_expr).cast("long")
    ).drop("_pid", "_local_rn")
    if total_col is not None:
        out = out.withColumn(total_col, F.lit(acc).cast("long"))
    return out


def distributed_ntile(
    df: DataFrame,
    n_tiles: int,
    order_cols: list,
    *,
    out_col: str = "tile",
    n_partitions: int | None = None,
) -> DataFrame:
    """Scalable GLOBAL ``ntile(k)`` — SQL-standard semantics (bucket
    sizes differ by at most one, larger buckets first) derived from
    :func:`distributed_row_number` plus pure arithmetic, instead of the
    single-partition window ``F.ntile(k).over(Window.orderBy(...))``
    plans.

    With N total rows (known exactly from the offsets pass), q = N // k
    and rem = N % k: the first ``rem`` buckets hold q+1 rows, the rest q
    — exactly how Spark and DuckDB place NTILE boundaries, so results
    hash-match the builtin bit-for-bit while the plan stays one range
    shuffle + one tiny broadcast. ``order_cols`` must be a total order
    (tie-break included), same contract as the builtin call sites had.
    """
    clash = {"_grn", "_gn", "_big", "_rem"} & set(df.columns)
    if clash:
        raise ValueError(
            f"distributed_ntile reserves column names {sorted(clash)}; "
            "rename them on the input frame first"
        )
    ranked = distributed_row_number(
        df, order_cols, out_col="_grn", n_partitions=n_partitions, total_col="_gn"
    )
    rn = F.col("_grn")
    # N is already on every row as a literal; read it back driver-side
    # free of charge from the lineage (it was a Python int in the
    # offsets pass) — but deriving q/rem as COLUMN arithmetic keeps the
    # operator a pure function of the frame, so do that instead.
    # All tile arithmetic is integral (`DIV`, not float divide-then-
    # floor): long/long `/` yields DOUBLE in Spark, which silently
    # loses exactness past 2^53 — and this operator is pitched at
    # unbounded row counts (ADVICE r10).
    q = F.expr(f"_gn DIV {int(n_tiles)}")
    rem = F.col("_gn") % n_tiles
    big = q + 1
    staged = ranked.withColumn("_big", big).withColumn("_rem", rem)
    tile = F.when(
        rn <= F.col("_rem") * F.col("_big"),
        F.expr("(_grn - 1) DIV _big") + 1,
    ).otherwise(
        # greatest(q,1): when N < k the first branch covers every row
        # (rem == N, big == 1); the guard only keeps the unevaluated
        # branch well-formed under ANSI division semantics.
        F.col("_rem")
        + F.expr("(_grn - _rem * _big - 1) DIV greatest(_big - 1, CAST(1 AS BIGINT))")
        + 1
    )
    return staged.withColumn(out_col, tile.cast("long")).drop(
        "_grn", "_gn", "_big", "_rem"
    )
