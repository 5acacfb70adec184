"""Empirical scaling ratios and full-volume checks, frozen as opt-in
tests.

SCALE.md's 1x/10x probe table is committed prose; this file makes the
invariant executable so a future quadratic regression FAILS a run
instead of silently aging a document. Opt-in (slow: every query in
``blowup_probe.RATIO_QUERIES`` runs on the base corpus and on its
factor-10 disk tier, which must be built first; ``--skew`` adds the
zipfian tier the skew tests read):

    python tools/blowup_probe.py --build --factor 10
    RUN_SCALE_PROBE=1 python -m pytest tests/test_scale_probe.py -q

The same tiers carry the checks that need the full corpus rather than
an oracle: ``blowup_probe --verify`` over the whole catalog, the two
component engines' agreement, LSH restriction equality, and the
two-phase engine's checkpoint-block bound.

The bound mirrors the probe's acceptance rule: wall clock at 10x the
input must stay under 10x the 1x wall clock, with an absolute grace
floor so fixed per-query overhead (session, planning, tiny inputs) on
sub-second timings can't fail the linearity claim on noise. A plan
hiding an O(n^2) step shows ~100x and clears neither term.
"""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

import blowup_probe as bp  # noqa: E402
import check_oracles  # noqa: E402
from mapreducegcp_spark.session import sf_dir_from_env  # noqa: E402

RUN = os.environ.get("RUN_SCALE_PROBE") == "1"
SF_DIR = sf_dir_from_env()  # the base the default tier is built from
FACTOR = 10
GRACE_SEC = 2.0  # absolute slack for fixed overheads on short timings
BLOWUP_ROOT = Path(os.environ.get("BLOWUP_ROOT", "/tmp/blowup"))
RATIO_TIER = bp.tier_dir(BLOWUP_ROOT, SF_DIR, FACTOR)
SKEW_TIER = bp.tier_dir(BLOWUP_ROOT, SF_DIR, FACTOR, skew=True)
PAIR_TIERS = [t for t in (RATIO_TIER, SKEW_TIER) if t.is_dir()]

slow_probe = pytest.mark.skipif(
    not RUN, reason="slow 1x/10x probe; set RUN_SCALE_PROBE=1 to run"
)
need_ratio_tier = pytest.mark.skipif(
    not RATIO_TIER.is_dir(),
    reason="disk blowup corpora absent; build with "
    "tools/blowup_probe.py --build --factor 10",
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


def _verify_split(monkeypatch, only, rcs=(0, 0)):
    """Run ``bp.verify`` with ``subprocess.call`` stubbed (each call
    returns the next of ``rcs``); return its exit code and, per
    ``--sf-dir``, the names that check_oracles would check there."""
    from mapreducegcp_spark.registry import all_queries

    calls, codes = [], iter(rcs)
    monkeypatch.setattr(subprocess, "call", lambda cmd: calls.append(cmd) or next(codes))
    rc = bp.verify(Path("tier"), Path("strat"), only)
    checked = {}
    for cmd in calls:
        args = cmd[2:]  # after the interpreter and the script
        i = args.index("--sf-dir")
        sf_dir = args.pop(i + 1)
        excluded = {a.split("=", 1)[1] for a in args if a.startswith("--exclude=")}
        named = [a for a in args if not a.startswith("--")]
        checked[sf_dir] = set(named or all_queries()) - excluded
    return rc, checked


def test_verify_sends_the_register_only_to_the_stratum(monkeypatch):
    """--verify checks the ORACLE_EXCLUDED names on the stratum and
    every other name on the full tier, never both; ``--only`` with a
    mix of names splits the same way, and a half with no names is not
    run."""
    from mapreducegcp_spark.registry import all_queries

    register = set(bp.ORACLE_EXCLUDED)
    rc, checked = _verify_split(monkeypatch, None)
    assert rc == 0
    assert checked == {"tier": set(all_queries()) - register, "strat": register}

    mixed = ["wordcount", "dedup_ngram_jaccard", "dedup_exact", "similarity_nearest_neighbor"]
    assert _verify_split(monkeypatch, mixed)[1] == {
        "tier": {"wordcount", "dedup_exact"},
        "strat": {"dedup_ngram_jaccard", "similarity_nearest_neighbor"},
    }
    assert _verify_split(monkeypatch, ["dedup_exact"])[1] == {"tier": {"dedup_exact"}}
    assert _verify_split(monkeypatch, ["dedup_incremental"], rcs=(0,))[1] == {
        "strat": {"dedup_incremental"}
    }


def test_verify_fails_when_either_half_fails_and_runs_both(monkeypatch):
    for rcs in ((1, 0), (0, 1)):
        rc, checked = _verify_split(monkeypatch, None, rcs)
        assert rc == 1
        assert set(checked) == {"tier", "strat"}


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
@need_ratio_tier
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


need_skew_tier = pytest.mark.skipif(
    not SKEW_TIER.is_dir(),
    reason="skewed blowup corpus absent; build with "
    "tools/blowup_probe.py --build --factor 10 --skew",
)


@slow_probe
@need_skew_tier
def test_aqe_skew_split_receipt_on_zipfian_corpus(spark):
    """Round-8 skew receipt, re-runnable: on the zipfian 10x corpus
    (18% of orders on ONE hot customer) the forced-SMJ hot join must
    show AQE skew-split markers in the executed adaptive plan AND
    hash-equal the unsplit execution (decimal-domain sum, so the
    compare is fold-order-invariant). SystemExit from the probe means
    the mitigation no longer engages or diverged — both are round-8
    regressions."""
    bp.skew_receipt(spark, str(SKEW_TIER))  # raises SystemExit on failure


@slow_probe
@need_skew_tier
@pytest.mark.parametrize(
    "name", ["dedup_exact", "window_topn_per_customer", "sessionize_events"]
)
def test_skew_tier_oracles_stay_exact(spark, name):
    """Skew changes the data DISTRIBUTION, never the semantics: the
    hot-partition window, the hot-user sessionizer and the
    giant-duplicate-cluster dedup must stay strict-multiset-equal to
    their DuckDB oracles on the zipfian corpus (``blowup_probe --skew
    --verify`` checks the whole catalog there; this subset guards the
    three most skew-sensitive shapes)."""
    out = subprocess.run(
        [
            sys.executable,
            str(Path(bp.__file__).with_name("check_oracles.py")),
            "--sf-dir",
            str(SKEW_TIER),
            name,
        ],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert f"PASS {name}" in out.stdout, out.stdout + out.stderr[-1500:]


def _canon(df) -> list:
    return sorted(tuple(r) for r in df.collect())


@slow_probe
@need_ratio_tier
def test_verify_passes_on_ratio_tier():
    """``blowup_probe --verify`` at the factor-10 tier: every registered
    query strict-equal to its DuckDB oracle, the ORACLE_EXCLUDED
    register on the tier's stratum (built here if absent)."""
    out = subprocess.run(
        [
            sys.executable,
            bp.__file__,
            "--sf-dir", SF_DIR,
            "--root", str(BLOWUP_ROOT),
            "--factor", str(FACTOR),
            "--verify",
        ],
        capture_output=True,
        text=True,
    )
    fails = [line for line in out.stdout.splitlines() if line.startswith("FAIL")]
    assert out.returncode == 0, "\n".join(fails) + out.stdout[-1500:] + out.stderr[-1500:]


need_pair_tiers = pytest.mark.skipif(
    not PAIR_TIERS,
    reason="disk blowup corpora absent; build with tools/blowup_probe.py --build "
    "--factor 10 (and --skew)",
)


def _lsh_pairs(spark, tier: Path):
    from mapreducegcp_spark.operators.dedup import q_dedup_minhash_lsh

    return q_dedup_minhash_lsh(spark, str(tier)).select("doc_a", "doc_b")


@slow_probe
@need_pair_tiers
@pytest.mark.parametrize("tier", PAIR_TIERS, ids=lambda t: t.name)
def test_component_engines_agree_at_full_volume(spark, tier):
    """The served duplicate-cluster engine (partition-local union-find
    with contraction) and its fallback (alternating large-star /
    small-star) agree row-for-row on the tier's MinHash-LSH pair graph;
    on the skew tier that graph holds the verbatim-cluster clique. At
    100x this check caught a diameter-5 component (cross-copy LSH
    chains) that a depth-4 reachability walk mislabelled."""
    from mapreducegcp_spark.functions.checkpoint import safe_checkpoint
    from mapreducegcp_spark.operators.dedup import (
        local_uf_components,
        two_phase_components,
    )

    # safe_checkpoint, not a raw localCheckpoint: the intra expansion
    # emits one verbatim cluster's pairs into a single partition, and a
    # lineage-truncated hot block that cannot cache is unrecoverable
    # (functions/checkpoint.py). Both engines read the one pin.
    pairs = safe_checkpoint(_lsh_pairs(spark, tier))
    local_uf, two_phase = (
        _canon(engine(pairs, "doc_a", "doc_b"))
        for engine in (local_uf_components, two_phase_components)
    )
    assert local_uf == two_phase, (len(local_uf), len(two_phase))


@slow_probe
@need_ratio_tier
def test_lsh_restriction_and_closure_rederivation(spark):
    """Pair membership in dedup_minhash_lsh is a pairwise predicate of
    the two documents' texts (a signature collision in >= 1 band, or the
    same exact-collapse group), so the full-tier run restricted to the
    stratum's documents must EQUAL the DuckDB oracle's pair set on the
    stratum: an exact value check of the full-volume run, hot buckets
    included. Then the closures re-derive: dedup_keep_manifest and
    split_leakage_safe fed the DuckDB oracle's pair graph as ``pairs``
    reproduce the registered engine outputs row-for-row."""
    from mapreducegcp_spark.operators.pipeline import (
        q_dedup_keep_manifest,
        q_split_leakage_safe,
    )
    from mapreducegcp_spark.registry import all_queries
    from pyspark.sql import functions as F

    strat = bp.build_stratum(spark, RATIO_TIER, FACTOR)
    con = check_oracles.duck_con(str(strat))
    queries = all_queries()

    ids = spark.read.parquet(str(strat / "documents.parquet")).select("doc_id")
    lsh = queries["dedup_minhash_lsh"]
    restricted = (
        lsh.fn(spark, str(RATIO_TIER))
        .join(ids.select(F.col("doc_id").alias("doc_a")), "doc_a", "leftsemi")
        .join(ids.select(F.col("doc_id").alias("doc_b")), "doc_b", "leftsemi")
        .select("doc_a", "doc_b", "jaccard_est")
    )
    oracle = sorted(tuple(r) for r in con.execute(lsh.oracle).fetchall())
    assert _canon(restricted) == oracle

    jaccard = queries["dedup_ngram_jaccard"].oracle
    duck_pairs = con.execute(f"SELECT doc_a, doc_b FROM ({jaccard}) t").fetchall()
    pairs = spark.createDataFrame(duck_pairs or [(0, 0)], "doc_a long, doc_b long")
    if not duck_pairs:
        pairs = pairs.limit(0)
    for name, fn in (
        ("dedup_keep_manifest", q_dedup_keep_manifest),
        ("split_leakage_safe", q_split_leakage_safe),
    ):
        from_oracle = _canon(fn(spark, str(strat), pairs=pairs))
        assert from_oracle == _canon(queries[name].fn(spark, str(strat))), name


@slow_probe
@need_pair_tiers
@pytest.mark.parametrize("tier", PAIR_TIERS, ids=lambda t: t.name)
def test_two_phase_checkpoint_blocks_bounded(spark, tier):
    """two_phase_components' per-round ``small`` checkpoint is hi-keyed,
    exempt from safe_checkpoint on a documented bound: its hottest
    pinned block is at most the largest star's degree plus a fair share
    of the other stars. Every pinned block of every round on the tier's
    pair graph is measured through the ``block_probe`` hook:

    - C0 (hash-balanced distinct output): max block <= 4x ideal + 1024;
    - each round's ``small``: max block <= max hi-degree + 4x ideal + 1024.

    4x ideal is generous hash-imbalance slack; the failure excluded is
    categorical (one block holding about all rows)."""
    from mapreducegcp_spark.operators.dedup import two_phase_components
    from pyspark.sql import functions as F

    over = []

    def probe(tag, df):
        sizes = [
            r["count"]
            for r in df.groupBy(F.spark_partition_id().alias("pid")).count().collect()
        ] or [0]
        max_hi = df.groupBy("hi").count().agg(F.max("count")).first()[0] or 0
        bound = 4 * sum(sizes) / len(sizes) + 1024 + (0 if tag == "C0" else max_hi)
        if max(sizes) > bound:
            over.append((tag, max(sizes), bound))

    two_phase_components(_lsh_pairs(spark, tier), "doc_a", "doc_b", block_probe=probe).count()
    assert not over, over
