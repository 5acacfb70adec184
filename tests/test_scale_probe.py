"""Empirical scaling ratios, frozen as an opt-in test.

SCALE.md's 1x/10x probe table is committed prose; this file makes the
invariant executable so a future quadratic regression FAILS a run
instead of silently aging a document. Opt-in (slow: every query in
``blowup_probe.RATIO_QUERIES`` runs on the base corpus and on its
factor-10 disk tier, which must be built first):

    python tools/blowup_probe.py --build --factor 10
    RUN_SCALE_PROBE=1 python -m pytest tests/test_scale_probe.py -q

The bound mirrors the probe's acceptance rule: wall clock at 10x the
input must stay under 10x the 1x wall clock, with an absolute grace
floor so fixed per-query overhead (session, planning, tiny inputs) on
sub-second timings can't fail the linearity claim on noise. A plan
hiding an O(n^2) step shows ~100x and clears neither term.
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

import blowup_probe as bp  # noqa: E402
from mapreducegcp_spark.session import sf_dir_from_env  # noqa: E402

RUN = os.environ.get("RUN_SCALE_PROBE") == "1"
SF_DIR = sf_dir_from_env()  # the base the default tier is built from
FACTOR = 10
GRACE_SEC = 2.0  # absolute slack for fixed overheads on short timings
BLOWUP_ROOT = Path(os.environ.get("BLOWUP_ROOT", "/tmp/blowup"))
RATIO_TIER = bp.tier_dir(BLOWUP_ROOT, SF_DIR, FACTOR)

slow_probe = pytest.mark.skipif(
    not RUN, reason="slow 1x/10x probe; set RUN_SCALE_PROBE=1 to run"
)


def test_blowup_permutation_preserves_word_multiset(spark):
    """The disk-blowup probe's honesty hinges on its document
    permutation: copies > 0 must keep the exact word multiset (so
    wordcount/tf-idf/quality volumes scale truthfully) while
    reordering words (so shingle sets diverge and near-dup structure
    replicates linearly). Not gated behind RUN_SCALE_PROBE — this is
    a cheap expression-level invariant, not a timing probe."""
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "a a b  c"),  # repeated words + a double space
            (3, "single"),
        ],
        "doc_id long, text string",
    )
    out = docs.select(
        "doc_id",
        "text",
        F.expr(bp._PERMUTE).alias("permuted"),
    ).collect()
    changed = 0
    for r in out:
        assert sorted(r.text.split(" ")) == sorted(r.permuted.split(" ")), r
        assert len(r.text) == len(r.permuted), r
        changed += r.text != r.permuted
    assert changed >= 1  # the multi-word docs actually reorder


@pytest.mark.parametrize(
    "sf_dir, factor, skew, tier",
    [
        ("data/sf0.1", 3, False, "sf0.3"),
        ("data/sf0.1", 10, False, "sf1"),
        ("data/sf0.1", 100, False, "sf10"),
        ("data/sf0.01", 10, False, "sf0.1"),
        ("data/sf0.1/", 10, True, "sf1skew"),
    ],
)
def test_tier_dir_is_named_for_its_volume(sf_dir, factor, skew, tier):
    assert bp.tier_dir("blowup", sf_dir, factor, skew) == Path("blowup", tier)


def test_tier_dir_rejects_a_base_without_its_scale():
    with pytest.raises(ValueError, match="sf<scale>"):
        bp.tier_dir("blowup", "data/tpch", 10)


def test_time_rounds_times_whole_passes_after_a_warm_pass(monkeypatch):
    """One untimed pass per scale, then ROUNDS rounds of every query at
    1x followed by every query at Nx; each call's seconds land in its
    own (query, scale) cell, one value per round."""
    calls = []
    clock = iter(range(1, 1000))

    def fake_run(fn, spark, sf_dir):
        calls.append((fn, sf_dir))
        return float(next(clock))

    monkeypatch.setattr(bp, "_run", fake_run)
    times = bp.time_rounds(None, {"a": "fa", "b": "fb"}, "1x", "Nx")

    one_pass = [("fa", "1x"), ("fb", "1x"), ("fa", "Nx"), ("fb", "Nx")]
    assert calls == one_pass * (1 + bp.ROUNDS)
    rounds = range(bp.ROUNDS)
    assert times == {
        "a": ([5.0 + 4 * r for r in rounds], [7.0 + 4 * r for r in rounds]),
        "b": ([6.0 + 4 * r for r in rounds], [8.0 + 4 * r for r in rounds]),
    }


@pytest.mark.parametrize(
    "xs, median, iqr",
    [
        ([5.0, 1.0, 4.0, 2.0, 3.0], 3.0, 2.0),
        ([1.0, 2.0, 4.0, 8.0, 16.0], 4.0, 6.0),
        ([1.0, 2.0, 3.0, 4.0], 2.5, 1.5),  # interpolated quartiles
    ],
)
def test_median_iqr(xs, median, iqr):
    assert bp.median_iqr(xs) == pytest.approx((median, iqr))


@slow_probe
@pytest.mark.skipif(
    not RATIO_TIER.is_dir(),
    reason="disk blowup corpora absent; build with "
    "tools/blowup_probe.py --build --factor 10",
)
@pytest.mark.parametrize("name", bp.RATIO_QUERIES)
def test_ratio_stays_linear(spark, name):
    from mapreducegcp_spark.registry import all_queries

    fn = all_queries()[name].fn
    t1 = min(bp._run(fn, spark, SF_DIR) for _ in range(2))
    tN = min(bp._run(fn, spark, str(RATIO_TIER)) for _ in range(2))

    limit = max(FACTOR * t1, t1 + GRACE_SEC)
    assert tN <= limit, (
        f"{name}: {t1:.2f}s at 1x -> {tN:.2f}s at {FACTOR}x "
        f"(limit {limit:.2f}s) — super-linear scaling"
    )


_BLOWUP_TIERS = [
    t for t in ("sf0.3", "sf1", "sf10") if (BLOWUP_ROOT / t).is_dir()
]


@slow_probe
@pytest.mark.skipif(
    not _BLOWUP_TIERS,
    reason="disk blowup corpora absent; build with tools/blowup_probe.py --build",
)
@pytest.mark.parametrize("tier", _BLOWUP_TIERS)
@pytest.mark.parametrize("name", ["similarity_ann_lsh", "similarity_ann_ivf", "similarity_ann_pq"])
def test_ann_recall_gates_pass_at_disk_blowup(spark, name, tier):
    """Round 7's closing of the round-6 adjudication: the REGISTERED
    id-based recall gates (not just the tie-aware metric) must pass
    OUTRIGHT at every disk blowup tier now that LSH bands/rows/flips,
    IVF nlist/nprobe and the PQ re-rank budget are derived from the
    corpus count (measured this round: 3x id-recall LSH 0.76 -> 0.94,
    PQ 0.64 -> 0.92; 10x and 100x all 0.98-1.0)."""
    from mapreducegcp_spark.registry import all_queries

    row = all_queries()[name].fn(spark, str(BLOWUP_ROOT / tier)).collect()[0]
    assert row.recall_ok, (name, tier, row)


_SKEW_TIER = BLOWUP_ROOT / "sf1skew"


@slow_probe
@pytest.mark.skipif(
    not _SKEW_TIER.is_dir(),
    reason="skewed blowup corpus absent; build with "
    "tools/blowup_probe.py --build --factor 10 --skew",
)
def test_aqe_skew_split_receipt_on_zipfian_corpus(spark):
    """Round-8 skew receipt, re-runnable: on the zipfian 10x corpus
    (18% of orders on ONE hot customer) the forced-SMJ hot join must
    show AQE skew-split markers in the executed adaptive plan AND
    hash-equal the unsplit execution (decimal-domain sum, so the
    compare is fold-order-invariant). SystemExit from the probe means
    the mitigation no longer engages or diverged — both are round-8
    regressions."""
    bp.skew_receipt(spark, str(_SKEW_TIER))  # raises SystemExit on failure


@slow_probe
@pytest.mark.skipif(
    not _SKEW_TIER.is_dir(),
    reason="skewed blowup corpus absent; build with "
    "tools/blowup_probe.py --build --factor 10 --skew",
)
@pytest.mark.parametrize(
    "name", ["dedup_exact", "window_topn_per_customer", "sessionize_events"]
)
def test_skew_tier_oracles_stay_exact(spark, name):
    """Skew changes the data DISTRIBUTION, never the semantics: the
    hot-partition window, the hot-user sessionizer and the
    giant-duplicate-cluster dedup must stay strict-multiset-equal to
    their DuckDB oracles on the zipfian corpus (the probe's full
    10-query SKEW_VERIFY list ran green when the tier was built; this
    re-runnable subset guards the three most skew-sensitive shapes)."""
    import subprocess

    out = subprocess.run(
        [
            sys.executable,
            str(Path(bp.__file__).with_name("check_oracles.py")),
            "--sf-dir",
            str(_SKEW_TIER),
            name,
        ],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert f"PASS {name}" in out.stdout, out.stdout + out.stderr[-1500:]
