"""Shuffle-refetch fault-tolerance receipts: losing already-written
map outputs must not change any query's output.

tests/test_retry.py pins the TASK-attempt failure unit; this suite
pins the other 100 TB failure unit — a node's shuffle files vanish
AFTER its map stage completed (disk death, preemption). Recovery is
different machinery: FetchFailedException on the reduce side ->
DAGScheduler resubmits the completed map stage -> refetch.
tools/fetchfail_probe.py runs it deterministically in its own JVM
(``local-cluster[2,2,1536]`` — real executor processes with their own
shuffle files; plain local mode cannot lose a fetch) by corrupting
every shuffle .data file between two actions on the SAME pinned RDD.
This test pins:

- the scheduler really recorded failed tasks AND a resubmitted stage
  attempt (attemptId >= 1) per query — zero means the refetch never
  happened and the receipt proves nothing;
- row count + sha256 value hash equal the normal session's — a
  refetch-recovered execution is indistinguishable in output;
- every file the probe corrupted lies inside its own private local dir,
  which is gone once the probe exits — the probe never touches another
  Spark process's shuffle files (this session's included).
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO / "tools"))

from fetchfail_probe import QUERIES  # noqa: E402
from retry_probe import row_hash  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def probe_results():
    out = subprocess.run(
        [sys.executable, str(REPO / "tools" / "fetchfail_probe.py"), SF_DIR],
        capture_output=True,
        text=True,
        timeout=540,
        cwd=str(REPO),
    )
    assert out.returncode == 0, out.stderr[-3000:]
    rows = [
        json.loads(line)
        for line in out.stdout.splitlines()
        if line.startswith("{")
    ]
    return {r["query"]: r for r in rows}


@pytest.mark.parametrize("name", QUERIES)
def test_fetch_failure_actually_fired(probe_results, name):
    r = probe_results[name]
    assert r["failed_task_delta"] >= 1, r
    assert r["resubmitted_stage_delta"] >= 1, r


def test_probe_corrupts_only_its_own_local_dir(probe_results):
    assert set(probe_results) == set(QUERIES)
    for name, r in probe_results.items():
        root = Path(r["local_dir"])
        assert r["corrupted_paths"], r
        outside = [p for p in r["corrupted_paths"] if not Path(p).is_relative_to(root)]
        assert not outside, f"{name}: corrupted files outside {root}: {outside}"
        assert not root.exists(), f"probe left its local dir {root} behind"


@pytest.mark.parametrize("name", QUERIES)
def test_refetched_results_match_clean_run(spark, probe_results, name):
    from mapreducegcp_spark.registry import all_queries

    n, digest = row_hash(all_queries()[name].fn(spark, SF_DIR))
    r = probe_results[name]
    assert (r["rows"], r["sha256"]) == (n, digest), (
        f"{name}: refetch-recovered execution diverged from clean run"
    )
