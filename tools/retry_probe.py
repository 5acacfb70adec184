#!/usr/bin/env python
"""Task-retry fault-tolerance receipt: inject a deterministic task
failure into every table scan and prove query output is unchanged.

At 100 TB, task attempts FAIL — preemptions, OOM-kills, disk faults —
and Spark's recovery unit is the task retry. Every operator in this
engine must therefore be attempt-idempotent: retries re-run partitions
from lineage (or a checkpoint) and the SAME bytes must come out. This
probe executes that contract instead of asserting it:

- the session master is ``local[4, 4]`` — the second number is task
  maxFailures, which in local mode can ONLY be set there (JVM-start),
  which is why this runs as its own process (tests/test_retry.py
  launches it and compares hashes against the normal session);
- ``load_table`` is wrapped so every scan passes through a
  ``mapInPandas`` stage whose FIRST attempt of partition 0 raises
  (``TaskContext.attemptNumber() == 0``) — the retry (attempt 1)
  streams the partition through untouched;
- per query it prints one JSON line with the row count, a sha256 over
  the sorted rows, and the number of FAILED TASKS the scheduler
  recorded (AppStatusStore stage metrics — accumulators can't count
  this: updates from failed attempts are discarded by design, which
  is itself part of the exactly-once story). 0 failed tasks would
  mean the probe proved nothing.

Queries chosen for state-shape coverage: a shuffle aggregate
(wordcount), a window rank (window_topn_per_customer), and the
partition-local union-find cluster engine (dedup_embedding_clusters —
its mapInPandas generator holds per-partition state, exactly the kind
of operator a naive retry story breaks).
"""

from __future__ import annotations

import hashlib
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

QUERIES = ["wordcount", "window_topn_per_customer", "dedup_embedding_clusters"]


def row_hash_rows(rows) -> tuple[int, str]:
    """(row count, sha256 over the rows' sorted ``repr``s): an
    order-free value hash of collected rows."""
    srows = sorted(repr(tuple(r)) for r in rows)
    h = hashlib.sha256()
    for r in srows:
        h.update(r.encode())
    return len(srows), h.hexdigest()


def row_hash(df) -> tuple[int, str]:
    return row_hash_rows(df.collect())


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4, 4]")  # maxFailures=4
        .appName("retry-probe")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    import mapreducegcp_spark.sources.catalog as catalog_mod
    from mapreducegcp_spark.profile import stages
    from mapreducegcp_spark.registry import all_queries

    def failed_tasks() -> int:
        return sum(s.numFailedTasks() for s in stages(spark))

    base_load = catalog_mod.load_table

    def flaky_load(spark_, sf_dir_, table_):
        df = base_load(spark_, sf_dir_, table_)
        schema = df.schema

        def gen(batches):
            from pyspark import TaskContext

            tc = TaskContext.get()
            if tc is not None and tc.partitionId() == 0 and tc.attemptNumber() == 0:
                raise RuntimeError("retry-probe: injected attempt-0 failure")
            yield from batches

        return df.mapInPandas(gen, schema)

    # patch the catalog AND every operator module that imported the
    # symbol directly (from ... import load_table binds by value)
    patched = [catalog_mod]
    for name, mod in list(sys.modules.items()):
        if (
            name.startswith("mapreducegcp_spark.")
            and getattr(mod, "load_table", None) is base_load
        ):
            patched.append(mod)
    for mod in patched:
        mod.load_table = flaky_load
    try:
        qs = all_queries()
        for name in QUERIES:
            before = failed_tasks()
            n, digest = row_hash(qs[name].fn(spark, sf_dir))
            print(
                json.dumps(
                    {
                        "query": name,
                        "rows": n,
                        "sha256": digest,
                        "injected_failures": failed_tasks() - before,
                    }
                ),
                flush=True,
            )
    finally:
        for mod in patched:
            mod.load_table = base_load
    return 0


if __name__ == "__main__":
    sys.exit(main())
