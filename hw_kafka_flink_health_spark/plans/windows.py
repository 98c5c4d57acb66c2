"""Parse Catalyst plan text for unpartitioned window specs.

Catalyst prints a window spec as ``windowspecdefinition(partExprs...,
sortExprs..., specifiedwindowframe(...))``; sort expressions carry
' ASC ' / ' DESC ', partition expressions never do. An EMPTY partition
spec — the first non-frame arg is a sort expr, or there are no non-frame
args at all (an ``over ()`` whole-frame window) — plans as
``Exchange SinglePartition`` + one task sorting the entire input: the
one plan shape that cannot survive 100 TB fact cardinality. One parser,
imported by both the CI gate and the scout script, so a Catalyst
print-format change is fixed in exactly one place (review r11).
"""

from __future__ import annotations

import contextlib

from hw_kafka_flink_health_spark.session import conf_override


@contextlib.contextmanager
def capture_checkpoints(captured: list, executed: list | None = None):
    """Patch ``localCheckpoint`` so the ANALYZED plan of every frame
    about to be checkpointed is appended (untruncated) to ``captured``
    before materialization — the sweep's window into subtrees the
    checkpoint later hides. When ``executed`` is given, the EXECUTED
    (physical) plan text is appended there too, for shape tests that
    need to see exchanges behind a checkpoint.

    Patches the CONCRETE class: on Spark 4, DataFrame instances are
    ``pyspark.sql.classic.dataframe.DataFrame``, which defines its OWN
    ``localCheckpoint`` — patching the ``pyspark.sql.DataFrame`` base is
    a silent no-op (instance lookup never reaches the base attribute).
    The r11 sweep's capture never fired for exactly this reason; found
    in r12 when ``stats_kruskal_wallis``'s runtime single-partition WARN
    contradicted an empty capture list.
    """
    from pyspark.sql.classic.dataframe import DataFrame

    orig = DataFrame.localCheckpoint

    # signature-transparent: PySpark 4.1's localCheckpoint is (self,
    # eager=True, storageLevel=None) — a fixed (self, eager) wrapper
    # would TypeError on storageLevel and turn a legitimate build into a
    # spurious BUILD_ERROR (review r12)
    def capturing(self, *args, **kwargs):
        captured.append(analyzed_str(self))
        if executed is not None:
            executed.append(str(self._jdf.queryExecution().executedPlan()))
        return orig(self, *args, **kwargs)

    DataFrame.localCheckpoint = capturing
    try:
        yield captured
    finally:
        DataFrame.localCheckpoint = orig


def split_top_level(s: str) -> list[str]:
    """Split on commas not nested inside parentheses."""
    out: list[str] = []
    depth = 0
    cur: list[str] = []
    for ch in s:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    if cur:
        out.append("".join(cur).strip())
    return out


def analyzed_str(df) -> str:
    """UNTRUNCATED analyzed-plan text for the window sweep.

    Catalyst truncates every node's field list past
    ``spark.sql.debug.maxToStringFields`` (default 25) with
    ``... N more fields`` — which silently DROPS windowspecdefinition
    from wide Project/Window nodes and turns the sweep into a false
    negative (``stats_kruskal_wallis``'s single-partition value-rank
    window evaded the r11 gate exactly this way: the WARN fired at
    runtime while the captured plan text showed no window at all).
    Raise the cap around the render (``conf_override`` restores it, so
    PLANS.md dumps and log lines keep their readable width).
    """
    key = "spark.sql.debug.maxToStringFields"
    with conf_override(df.sparkSession, key, "2147483647"):
        return str(df._jdf.queryExecution().analyzed())


def unpartitioned_specs(plan: str) -> list[str]:
    """Arg-strings of every windowspecdefinition with NO partition exprs."""
    hits: list[str] = []
    needle = "windowspecdefinition("
    i = 0
    while True:
        i = plan.find(needle, i)
        if i < 0:
            break
        start = i + len(needle)
        depth, j = 1, start
        while j < len(plan) and depth:
            if plan[j] == "(":
                depth += 1
            elif plan[j] == ")":
                depth -= 1
            j += 1
        args = [
            a
            for a in split_top_level(plan[start : j - 1])
            if not a.startswith("specifiedwindowframe(")
        ]
        if not args or (" ASC " in args[0] or " DESC " in args[0]):
            hits.append(", ".join(args)[:120])
        i = j
    return hits
