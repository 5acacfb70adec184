"""Pins the benchmark's output: every metric BENCHMARK.json names, with
its unit, for every workload, and a fully correct tiny run.

    python -m pytest perfbench/test_selfcheck.py -q
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())


@pytest.fixture(scope="module")
def selfcheck() -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--selfcheck"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_every_workload_is_checked(selfcheck):
    assert sorted(selfcheck) == sorted(w["name"] for w in BENCH["workloads"])


@pytest.mark.parametrize("kind", ["end_to_end", "per_layer"])
def test_every_metric_is_reported_with_its_unit(selfcheck, kind):
    for name, res in selfcheck.items():
        got = {k: v["unit"] for k, v in res[kind].items()}
        assert got == {m["name"]: m["unit"] for m in BENCH[kind]}, name
        for metric in res[kind].values():
            assert isinstance(metric["value"], (int, float))


def test_outputs_are_correct(selfcheck):
    for name, res in selfcheck.items():
        assert res["end_to_end"]["ok_frac"]["value"] == 1.0, name
        assert res["failed"] == 0 and res["attempted"] >= 1, name


def test_timings_are_positive(selfcheck):
    for name, res in selfcheck.items():
        for key in ("setup_s", "cold_s", "warm_s", "peak_rss_mb"):
            assert res["end_to_end"][key]["value"] > 0, (name, key)


def test_bare_directory_fails_without_a_result(tmp_path):
    """Given only BENCHMARK.json and perfbench/, the benchmark must fail
    and print no result line."""
    (tmp_path / "perfbench").mkdir()
    for f in (ROOT / "perfbench").glob("*.py"):
        (tmp_path / "perfbench" / f.name).write_text(f.read_text())
    (tmp_path / "BENCHMARK.json").write_text((ROOT / "BENCHMARK.json").read_text())
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "catalog", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
