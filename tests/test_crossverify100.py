"""Engine-vs-engine cross-verification of the 17 oracle-excluded
queries at blowup volume, frozen as an opt-in test.

SCALE.md's round-9 "cross-verified at 100x" table is committed prose;
this file makes it executable so a regression in any pair-graph /
all-pairs family FAILS a run instead of silently aging the document.
Opt-in and corpus-gated (the blowup corpora live under /tmp and are
rebuilt per round):

    RUN_SCALE_PROBE=1 python -m pytest tests/test_crossverify100.py -q

Three layers (see tools/crossverify100.py for the full argument):
stratum strict-oracle over all 17; the served component engine and
its two-phase fallback row-for-row on shared full-volume pair graphs; restriction equality +
closure re-derivation against the DuckDB graph.
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

import crossverify100 as cv  # noqa: E402

RUN = os.environ.get("RUN_SCALE_PROBE") == "1"

need_corpus = pytest.mark.skipif(
    not (RUN and Path(cv.BIG).exists()),
    reason="opt-in blowup cross-verify; needs RUN_SCALE_PROBE=1 and "
    f"{cv.BIG} (tools/blowup_probe.py --build --factor 100)",
)


@pytest.fixture(scope="module")
def stratum(spark):
    if not Path(cv.STRAT, "documents.parquet").exists():
        cv.build_stratum(spark)
    return cv.STRAT


@need_corpus
def test_stratum_oracle_all_20_exact(spark, stratum):
    """Every oracle-excluded query strict-value-verified on the
    deterministic stratum of the 100x corpus (subprocess checker —
    the unchanged Spark-vs-DuckDB exact-multiset compare)."""
    res = cv.step_stratum()
    assert res["ok"], res


@need_corpus
def test_component_engines_agree_at_full_volume(spark, stratum):
    """local-UF and its two-phase fallback row-for-row equal on the
    uniform-100x LSH graph and on the 10x-skew verbatim-clique graph
    (~2.5M edges)."""
    res = cv.step_engines(spark)
    assert res["ok"], res


@need_corpus
def test_lsh_restriction_and_closure_rederivation(spark, stratum):
    """Full-100x dedup_minhash_lsh restricted to stratum members ==
    the DuckDB oracle's stratum pair set (pairwise restriction
    equality — checks the full-corpus run, hot buckets included);
    keep_manifest / split_leakage_safe fed the DuckDB pair graph
    reproduce the registered engine outputs."""
    res = cv.step_restrict(spark)
    assert res["ok"], res


@need_corpus
def test_two_phase_checkpoint_blocks_bounded(spark):
    """two_phase_components' hi-keyed per-round checkpoint is exempted
    from safe_checkpoint on a documented degree bound; this measures
    every pinned block of every round on the full-volume pair graphs
    (uniform 100x; 10x-skew clique when built) and asserts
    max block <= max hi-degree + 4x ideal share + 1024 (C0: balanced
    bound without the degree term) — the round-10 verdict ask #4
    'executable bound' for the one prose-exempted checkpoint site."""
    res = cv.step_two_phase_blocks(spark)
    assert res["ok"], res


need_tenx = pytest.mark.skipif(
    not (RUN and Path(cv.TENX).exists()),
    reason="opt-in 10x stratum check; needs RUN_SCALE_PROBE=1 and "
    f"{cv.TENX} (tools/blowup_probe.py --build --factor 10)",
)


@need_tenx
def test_stratum10_allpairs_family_exact(spark):
    """The all-pairs-oracle family strict-value-verified on the
    deterministic 10x-drawn stratum — the documented stand-in for
    similarity_nearest_neighbor's full-10x strict row, whose
    200k-vector all-pairs DuckDB oracle exhausts spill disk."""
    res = cv.step_stratum10(spark)
    assert res["ok"], res
