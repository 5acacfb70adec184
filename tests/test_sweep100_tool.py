"""sweep100 sharding + receipt-report invariants (pure, no Spark).

Round-10 ADVICE: stride sharding sliced each worker's RESIDUAL todo
list (names minus its start-time done snapshot), so workers started at
staggered times computed inconsistent shards and could leave queries
assigned to no worker. Round-11 verdict ask #2: the emitted artifact
must read as value-verified for every catalog query in one file, with
the PRE_EXCLUDED register carrying crossverify receipt rows instead of
bare "excluded".
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

import sweep100 as sw  # noqa: E402

NAMES = [f"q{i:03d}" for i in range(20)] + list(sw.PRE_EXCLUDED)


def test_shards_partition_universe_regardless_of_done_snapshots():
    """Each non-excluded query lands in EXACTLY one worker's shard,
    even when every worker holds a different done-log snapshot (the
    staggered-start scenario)."""
    universe = [n for n in NAMES if n not in sw.PRE_EXCLUDED]
    snapshots = [
        {},  # worker started first: nothing done
        {n: {} for n in universe[:5]},  # started later
        {n: {} for n in universe[:11]},  # started last
    ]
    assignment: dict[str, int] = {}
    for w, done in enumerate(snapshots):
        shard = sw.shard_todo(NAMES, done, reverse=False, stride=3, offset=w)
        for n in shard:
            assert n not in assignment, f"{n} assigned to two workers"
            assignment[n] = w
    # everything not already done in a worker's own snapshot is owned
    # by exactly the worker whose (stable) shard contains it
    for n in universe:
        owner = [w for w in range(3) if n in sw.shard_todo(NAMES, {}, False, 3, w)]
        assert len(owner) == 1
        if n not in snapshots[owner[0]]:
            assert assignment.get(n) == owner[0], n


def test_shard_subtracts_done_after_sharding():
    universe = [n for n in NAMES if n not in sw.PRE_EXCLUDED]
    done = {universe[0]: {}, universe[3]: {}}
    full = sw.shard_todo(NAMES, {}, False, 1, 0)
    residual = sw.shard_todo(NAMES, done, False, 1, 0)
    assert full == universe
    assert residual == [n for n in universe if n not in done]


def test_report_emit_reads_as_fully_value_verified(tmp_path, capsys):
    """A done log with pass rows for the universe and stratum_pass
    receipt rows for the register emits an artifact whose summary says
    value_verified == total and whose register rows carry receipts."""
    done = {}
    for n in NAMES:
        if n in sw.PRE_EXCLUDED:
            done[n] = {
                "query": n,
                "status": "stratum_pass",
                "detail": "PASS on stratum",
                "receipts": ["strict stratum compare"],
            }
        else:
            done[n] = {"query": n, "status": "pass", "detail": "PASS"}
    out = tmp_path / "SWEEP100_rTEST.json"
    sw.report(NAMES, done, str(out))
    doc = json.loads(out.read_text())
    assert doc["summary"]["value_verified"] == doc["summary"]["total"] == len(NAMES)
    assert doc["summary"]["failures"] == 0
    reg = next(iter(sw.PRE_EXCLUDED))
    assert doc["queries"][reg]["status"] == "stratum_pass"
    assert doc["queries"][reg]["receipts"]


def test_report_without_receipts_does_not_claim_verification(tmp_path):
    """Bare 'excluded' register rows must NOT count as value-verified —
    the 288/288 claim is only producible after --receipts succeeded."""
    done = {
        n: {"query": n, "status": "excluded" if n in sw.PRE_EXCLUDED else "pass"}
        for n in NAMES
    }
    out = tmp_path / "SWEEP100_rTEST2.json"
    sw.report(NAMES, done, str(out))
    doc = json.loads(out.read_text())
    assert doc["summary"]["value_verified"] == len(NAMES) - len(sw.PRE_EXCLUDED)


def _latest_new_format_artifact() -> Path | None:
    history = Path(__file__).resolve().parent.parent / "history"
    arts = sorted(
        (p for p in history.glob("SWEEP100_r*.json")
         if re.fullmatch(r"SWEEP100_r(\d+)\.json", p.name)),
        key=lambda p: int(re.search(r"r(\d+)", p.name).group(1)),
    )
    for p in reversed(arts):
        doc = json.loads(p.read_text())
        if "value_verified" in doc.get("summary", {}):
            return p
    return None


def test_committed_sweep_artifact_fully_value_verified():
    """The newest receipt-format SWEEP100_r{N}.json must read as
    288/288 value-verified in one file — the round-11 'done' bar. Skips
    until the first receipt-format artifact is committed."""
    p = _latest_new_format_artifact()
    if p is None:
        pytest.skip("no receipt-format SWEEP100_r*.json committed yet")
    doc = json.loads(p.read_text())
    s = doc["summary"]
    assert s["value_verified"] == s["total"], (p.name, s)
    assert s["failures"] == 0
    bad = {
        n: row
        for n, row in doc["queries"].items()
        if row["status"] not in ("pass", "stratum_pass")
    }
    assert not bad, bad
    # register rows carry their receipts inline
    for n in sw.PRE_EXCLUDED:
        assert doc["queries"][n].get("receipts"), n
