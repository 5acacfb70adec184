#!/usr/bin/env python
"""Memory-pressure receipt: run heavy sort/window/agg queries THROUGH
Spark's spill path and prove the results are unchanged.

Every scale argument in SCALE.md so far is shuffle-shape; this probe
demonstrates the orthogonal failure mode — executor memory pressure —
by forcing the external sorters to spill and value-hashing the output.
Spill knobs are JVM-start configs, so this runs as its OWN process
(tests/test_spill.py launches it via subprocess and compares the
hashes against an unconstrained session):

- ``spark.shuffle.spill.numElementsForceSpillThreshold`` /
  ``spark.sql.windowExec.buffer.spill.threshold`` /
  ``spark.sql.sortMergeJoinExec.buffer.spill.threshold`` — the knobs
  Spark's own test suite uses to force UnsafeExternalSorter and the
  window buffer through their spill paths deterministically (memory-
  pressure-only spill is machine- and timing-dependent: at sf0.1 a
  512m heap spills on some runs and not others);
- ``spark.memory.fraction=0.2`` + 512m driver heap — genuine pressure
  on top, so the run is not ONLY the force knob.

Per query it prints one JSON line:
    {"query": ..., "rows": N, "sha256": ..., "memoryBytesSpilled": N,
     "diskBytesSpilled": N}

Spill totals come from the AppStatusStore stage metrics (the same
numbers the UI's stage page shows), diffed around each query.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from retry_probe import row_hash  # noqa: E402  (tools/ is on the path)

QUERIES = [
    "order_global_rownum",        # global sort: range exchange + per-partition sort
    "window_topn_per_customer",   # window buffer + partition sort
    "agg_pricing_summary",        # wide hash aggregate (map-side partials keep it
                                  # in-memory even constrained — asserted hash-stable)
]

SPILL_EXPECTED = {"order_global_rownum", "window_topn_per_customer"}


def stage_spills(spark) -> tuple[int, int]:
    from mapreducegcp_spark.profile import stages

    mem = disk = 0
    for s in stages(spark):
        mem += s.memoryBytesSpilled()
        disk += s.diskBytesSpilled()
    return mem, disk


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("spill-probe")
        .config("spark.driver.memory", "512m")
        .config("spark.memory.fraction", "0.2")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.shuffle.spill.numElementsForceSpillThreshold", "10000")
        .config("spark.sql.windowExec.buffer.spill.threshold", "10000")
        .config("spark.sql.sortMergeJoinExec.buffer.spill.threshold", "10000")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    from mapreducegcp_spark.registry import all_queries

    qs = all_queries()
    for name in QUERIES:
        m0, d0 = stage_spills(spark)
        n, digest = row_hash(qs[name].fn(spark, sf_dir))
        m1, d1 = stage_spills(spark)
        print(
            json.dumps(
                {
                    "query": name,
                    "rows": n,
                    "sha256": digest,
                    "memoryBytesSpilled": m1 - m0,
                    "diskBytesSpilled": d1 - d0,
                }
            ),
            flush=True,
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
