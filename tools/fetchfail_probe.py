#!/usr/bin/env python
"""Shuffle-refetch fault-tolerance receipt: lose a map output AFTER
its stage completed and prove the query recovers through a real
FetchFailed -> map-stage-resubmission cycle with unchanged bytes.

tests/test_retry.py covers the TASK-attempt failure mode; the other
failure unit at 100 TB is losing a node's already-written shuffle
outputs (disk death, node preemption after the map stage finished).
Spark's recovery there is different machinery: the reduce task throws
FetchFailedException, the DAGScheduler marks the map outputs missing
and RESUBMITS the completed map stage for the lost partitions, then
re-runs the fetch. This probe executes that path deterministically:

- master ``local-cluster[2,2,1536]`` — real separate executor JVMs
  with their own block managers and shuffle files (plain ``local``
  cannot lose a fetch: reads are direct file access);
- a private local dir (``tempfile.mkdtemp``, exported as
  ``SPARK_LOCAL_DIRS`` before the JVM starts — it overrides
  ``spark.local.dir``) holds every block-manager dir of the driver and
  both executors, so the corruption below can only ever touch this
  probe's own shuffle files, never another Spark process's; it is
  removed on exit;
- per query, pin the physical RDD (``df.rdd``) and materialize every
  shuffle with ``count()`` — re-running an action on the SAME RDD
  reuses registered map outputs instead of replanning new shuffles;
- overwrite every ``.data`` file of the HIGHEST shuffle id with
  garbage (the result stage refetches exactly that shuffle; earlier
  shuffles stay intact so the resubmitted map stage reruns from them,
  a cascade only as deep as the damage — the 100 TB behavior);
- ``collect()`` again: the lz4 stream fails, shuffle-read wraps it in
  FetchFailedException (spark.shuffle.detectCorrupt), the stage
  resubmits, and the rows that come back must hash-equal a clean
  session's (tests/test_fetchfail.py compares).

Per query it prints one JSON line with rows, sha256, the delta of
scheduler-recorded failed tasks, the delta of stage entries with
attemptId >= 1 (a resubmitted stage attempt), the private local dir
and every file it corrupted. Zero deltas mean the
injection never fired and the receipt proves nothing — the test pins
both.

Queries chosen for shuffle-shape coverage: wordcount (pure-JVM
exchange + partial agg), tpch_q10_returned_items (broadcast joins
above an order-sized rollup shuffle), window_topn_per_customer (sort
window), join_nation_revenue (rollup below a dimension join), and
bpe_fertility_stats (Arrow pandas stages feeding an aggregation —
the Python boundary under refetch).

dedup_minhash_lsh was measured and EXCLUDED: its re-read is served
entirely from localCheckpoint blocks (every data file of all 4 of its
shuffles corrupted -> zero refetches, zero failed tasks, identical
output), i.e. lineage truncation also shields a replayed plan from
refetch storms — checkpoint-block loss is a different failure unit
(RDD recompute) already exercised by the retry probe's stateful
union-find query.
"""

from __future__ import annotations

import glob
import json
import os
import re
import shutil
import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from retry_probe import row_hash_rows  # noqa: E402  (tools/ is on the path)

QUERIES = [
    "wordcount",
    "tpch_q10_returned_items",
    "window_topn_per_customer",
    "join_nation_revenue",
    "bpe_fertility_stats",
]


def _stage_stats(spark) -> tuple[int, int]:
    """(total failed tasks, stage entries with attemptId >= 1) from the
    AppStatusStore."""
    from mapreducegcp_spark.profile import stages

    failed = 0
    resubmitted = 0
    for s in stages(spark):
        failed += s.numFailedTasks()
        if s.attemptId() >= 1:
            resubmitted += 1
    return failed, resubmitted


def _corrupt_shuffles(local_dir: str) -> tuple[int, list[str]]:
    """Overwrite every shuffle .data file under ``local_dir`` (the
    probe's private local dir: all executor block-manager dirs live
    below it) — whichever shuffle the result stage refetches, it hits
    damage; stages whose outputs live in localCheckpoint blocks
    recompute from those, so the resubmission cascade is only as deep
    as the actual lineage. Returns (shuffle ids, files hit)."""
    files = sorted(glob.glob(os.path.join(local_dir, "**", "shuffle_*.data"), recursive=True))
    ids: set[int] = set()
    hit: list[str] = []
    for f in files:
        m = re.match(r"shuffle_(\d+)_", os.path.basename(f))
        if not m:
            continue
        sz = os.path.getsize(f)
        if sz == 0:
            continue
        with open(f, "r+b") as fh:
            fh.write(b"\xde\xad\xbe\xef" * max(1, sz // 8))
        ids.add(int(m.group(1)))
        hit.append(f)
    if not hit:
        raise RuntimeError(f"no shuffle .data files found to corrupt under {local_dir}")
    return len(ids), hit


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    local_dir = tempfile.mkdtemp(prefix="fetchfail-probe-")
    # read by the driver JVM, the local-cluster worker and both
    # executors; set before the first SparkSession launches the JVM
    os.environ["SPARK_LOCAL_DIRS"] = local_dir
    try:
        return _probe(sf_dir, local_dir)
    finally:
        shutil.rmtree(local_dir, ignore_errors=True)


def _probe(sf_dir: str, local_dir: str) -> int:
    from pyspark.sql import SparkSession

    repo = str(Path(__file__).resolve().parent.parent)
    spark = (
        SparkSession.builder.master("local-cluster[2,2,1536]")
        .appName("fetchfail-probe")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.shuffle.detectCorrupt", "true")
        # python workers on the executor JVMs must import this package
        .config("spark.executorEnv.PYTHONPATH", repo)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    from mapreducegcp_spark.registry import all_queries

    qs = all_queries()
    try:
        for name in QUERIES:
            # pin the physical RDD: a second action on the SAME RDD reuses
            # the registered map outputs (a fresh df action would replan
            # brand-new shuffle ids and never refetch the damaged files)
            rdd = qs[name].fn(spark, sf_dir).rdd
            rdd.count()
            failed0, resub0 = _stage_stats(spark)
            n_ids, hit = _corrupt_shuffles(local_dir)
            rows = rdd.collect()
            n, digest = row_hash_rows(rows)
            failed1, resub1 = _stage_stats(spark)
            print(
                json.dumps(
                    {
                        "query": name,
                        "rows": n,
                        "sha256": digest,
                        "local_dir": local_dir,
                        "corrupted_shuffle_ids": n_ids,
                        "corrupted_paths": hit,
                        "failed_task_delta": failed1 - failed0,
                        "resubmitted_stage_delta": resub1 - resub0,
                    }
                ),
                flush=True,
            )
    finally:
        # stop the executors before the caller removes their dirs
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
