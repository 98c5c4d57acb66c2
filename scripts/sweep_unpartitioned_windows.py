"""Scout: enumerate every unpartitioned window in every registered query,
INCLUDING subtrees later hidden by a localCheckpoint (VERDICT r10 #3 — the
round-10 per-query plan gate inspected executed plans, which a checkpoint
truncates; text_heaps_vocab_growth's doc-cardinality window hid that way).

Mechanism: plans.capture_checkpoints patches
pyspark.sql.classic.dataframe.DataFrame.localCheckpoint (the concrete
class, which overrides the pyspark.sql base — patching the base was a
silent no-op, the r11 hole), which every engine materialisation reaches
through sources.files.materialize. The patch captures each input's
UNTRUNCATED analyzed plan before delegating; the script builds each
query at sf0.001, then parses every windowspecdefinition for an empty
partition spec.

Usage: python scripts/sweep_unpartitioned_windows.py [name_filter]
Prints one line per (query, window) hit: the window's spec args.
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")

from hw_kafka_flink_health_spark.queries import QUERIES  # noqa: E402
from hw_kafka_flink_health_spark.session import get_spark  # noqa: E402
from hw_kafka_flink_health_spark.plans import (  # noqa: E402
    analyzed_str,
    capture_checkpoints,
    unpartitioned_specs,
)

SF = "/root/testdata/sf0.001"


def main() -> None:
    flt = sys.argv[1] if len(sys.argv) > 1 else ""
    spark = get_spark("window-sweep")
    captured: list[str] = []
    with capture_checkpoints(captured):
        for name in sorted(QUERIES):
            if flt and flt not in name:
                continue
            captured.clear()
            try:
                df = QUERIES[name](spark, SF)
                plans = [analyzed_str(df)] + list(captured)
            except Exception as e:  # noqa: BLE001
                print(f"{name}\tBUILD_ERROR\t{e}")
                continue
            seen = set()
            for p in plans:
                for h in unpartitioned_specs(p):
                    if h not in seen:
                        seen.add(h)
                        print(f"{name}\t{h}")


if __name__ == "__main__":
    main()
