from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from mapreducegcp_spark.registry import get_query


def test_minhash_recall_against_exact_jaccard(spark, sf_dir):
    """LSH candidates must recover (nearly) all exact near-dup pairs.

    With 8 bands x 4 rows, a pair at jaccard 0.5 is caught with
    p = 1-(1-0.5^4)^8 ~ 0.40 per band config — but the pairs the exact
    query finds at >=0.5 on this corpus are mostly far above threshold,
    so demand >=80% recall (deterministic given fixed xxhash64 seeds).
    """
    exact = {
        (r.doc_a, r.doc_b)
        for r in get_query("dedup_ngram_jaccard").fn(spark, sf_dir).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b)
        for r in get_query("dedup_minhash_lsh").fn(spark, sf_dir).collect()
    }
    assert exact, "corpus should contain at least one exact near-dup pair"
    recall = len(exact & lsh) / len(exact)
    assert recall >= 0.8, f"LSH recall too low: {recall} ({len(exact)} exact pairs)"


def test_minhash_lsh_leaves_no_cached_plan(spark, sf_dir):
    """The signature table feeds both the banding self-join and the
    estimate joins through a lazy local checkpoint, not ``.cache()``: a
    cached plan stays registered in the session's CacheManager for the
    session's life, outside the memo's freshness stamp. The rows still
    strict-match the DuckDB oracle."""
    import duckdb

    from mapreducegcp_spark.registry import all_queries

    spark.catalog.clearCache()
    rq = all_queries()["dedup_minhash_lsh"]
    got = sorted((r.doc_a, r.doc_b, r.jaccard_est) for r in rq.fn(spark, sf_dir).collect())
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    want = sorted(map(tuple, con.execute(rq.oracle).fetchall()))
    assert got and got == want, (got[:10], want[:10])


def test_minhash_lsh_warm_call_reuses_its_signatures(spark, sf_dir, monkeypatch):
    """The corpus's signature table is memoized (functions/memo.py):
    a second call reads the checkpointed signatures and launches fewer
    jobs than the first, with the same rows and no cached plan. The
    verbatim-duplicate probe is warmed first, so only the signatures
    differ between the two calls."""
    import mapreducegcp_spark.functions.memo as memo

    from mapreducegcp_spark.operators.dedup import has_verbatim_dups
    from mapreducegcp_spark.registry import all_queries

    monkeypatch.setattr(memo, "_ENTRIES", {})
    spark.catalog.clearCache()
    has_verbatim_dups(spark, sf_dir)
    fn = all_queries()["dedup_minhash_lsh"].fn
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    runs = []
    for _ in range(2):
        before = dag.numTotalJobs()
        rows = sorted(map(tuple, fn(spark, sf_dir).collect()))
        runs.append((dag.numTotalJobs() - before, rows))
    (cold_jobs, cold_rows), (warm_jobs, warm_rows) = runs
    assert warm_jobs < cold_jobs, runs
    assert warm_rows == cold_rows and warm_rows
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_simhash_close_for_similar_docs(spark, sf_dir):
    """Near-dup pairs (from exact jaccard) should have small simhash
    hamming distance, far pairs a large one, on average."""
    sim = get_query("dedup_simhash").fn(spark, sf_dir)
    pairs = get_query("dedup_ngram_jaccard").fn(spark, sf_dir)
    a = sim.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("h_a"))
    b = sim.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("h_b"))
    ham = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    near = (
        pairs.join(a, "doc_a").join(b, "doc_b").select(ham.alias("d")).collect()
    )
    avg_near = sum(r.d for r in near) / len(near)
    assert avg_near < 20, f"near-dup pairs should have low hamming dist, got {avg_near}"


def test_exact_dedup_counts(spark, sf_dir):
    exact = get_query("dedup_exact").fn(spark, sf_dir)
    docs_total = exact.agg(F.sum("n_copies")).collect()[0][0]
    from mapreducegcp_spark.sources.catalog import load_table

    assert docs_total == load_table(spark, sf_dir, "documents").count()


def test_leakage_safe_split_keeps_dup_groups_together(spark, sf_dir):
    """No document may land in a different split than its dedup
    representative — the invariant the operator exists for."""
    split = {r.doc_id: r.split for r in get_query("split_leakage_safe").fn(spark, sf_dir).collect()}
    manifest = get_query("dedup_keep_manifest").fn(spark, sf_dir).collect()
    checked = 0
    for r in manifest:
        if r.representative is not None:
            assert split[r.doc_id] == split[r.representative], r
            checked += 1
    assert checked > 0, "fixture has no duplicate groups to check"


# ---------------- property: components engines == union-find oracle

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


def _union_find_components(edges):
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            # min-attach keeps every root the component minimum
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(st.integers(0, 24), st.integers(0, 24)).filter(
            lambda e: e[0] != e[1]
        ),
        min_size=1,
        max_size=40,
    )
)
def test_two_phase_components_matches_union_find(spark, edges):
    """large-star/small-star must agree with sequential union-find on
    arbitrary graphs — including long chains, where its O(log n)
    rounds are the reason it exists."""
    from mapreducegcp_spark.operators.dedup import two_phase_components

    pairs = spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges], "a long, b long"
    )
    got = {
        r["node"]: r["cluster_id"]
        for r in two_phase_components(pairs, "a", "b").collect()
    }
    assert got == _union_find_components(edges)


def test_two_phase_block_probe_sees_every_checkpoint(spark):
    """The ``block_probe`` hook (the executable form of the
    checkpoint-skew exemption, round-10 verdict ask #4) must fire for
    C0 and for every round's checkpointed `small` edge set, with row
    counts that match the data — the gated crossverify step relies on
    this hook measuring ALL pinned blocks, so a silently skipped
    checkpoint would void the bound."""
    from pyspark.sql import functions as F

    from mapreducegcp_spark.operators.dedup import two_phase_components

    # two triangles + a 6-node path: converges in >1 round
    edges = [(0, 1), (1, 2), (0, 2), (10, 11), (11, 12), (10, 12)]
    edges += [(i, i + 1) for i in range(20, 25)]
    pairs = spark.createDataFrame(edges, "a long, b long")
    seen: list[tuple[str, int, int]] = []

    def probe(tag, df):
        parts = df.groupBy(F.spark_partition_id()).count().collect()
        seen.append((tag, df.count(), max((r["count"] for r in parts), default=0)))

    out = two_phase_components(pairs, "a", "b", block_probe=probe).collect()
    assert {r["cluster_id"] for r in out} == {0, 10, 20}
    tags = [t for t, _, _ in seen]
    assert tags[0] == "C0" and tags[1:] == [f"round{i}" for i in range(len(tags) - 1)]
    assert len(tags) >= 3  # C0 + at least two alternation rounds
    c0_rows = seen[0][1]
    assert c0_rows == len(set(map(tuple, map(sorted, edges))))
    # every probe saw a materialized block set covering all rows
    assert all(mx <= rows for _, rows, mx in seen if rows)


# Graph shapes that broke or bounded a retired engine, kept as inputs:
# a chain past a depth-4 reachability walk (the defect class the
# 100x engine cross-check caught), a 300-clique (44,850 edges, the
# path-explosion shape) and a 40-deep chain (past a fixed depth or
# round budget).
_CARRIED_SHAPES = {
    "chain_depth6": [(i, i + 1) for i in range(6)],
    "clique_300": list(itertools.combinations(range(300), 2)),
    "chain_depth40": [(i, i + 1) for i in range(40)],
}


@pytest.mark.parametrize("shape", list(_CARRIED_SHAPES))
@pytest.mark.parametrize("engine", ["local_uf_components", "two_phase_components"])
def test_engines_resolve_carried_shapes(spark, engine, shape):
    from mapreducegcp_spark.operators import dedup

    edges = _CARRIED_SHAPES[shape]
    pairs = spark.createDataFrame(edges, "a long, b long")
    got = {
        r["node"]: r["cluster_id"]
        for r in getattr(dedup, engine)(pairs, "a", "b").collect()
    }
    assert got == _union_find_components(edges)


@pytest.mark.parametrize("query", ["dedup_connected_components", "dedup_keep_manifest"])
def test_cluster_consumers_run_local_uf_components(spark, sf_dir, monkeypatch, query):
    """Every duplicate-cluster consumer resolves its pair graph with
    the one components engine."""
    from mapreducegcp_spark.operators import dedup

    calls = []
    real = dedup.local_uf_components

    def counting(pairs, a, b, *args, **kwargs):
        calls.append((a, b))
        return real(pairs, a, b, *args, **kwargs)

    monkeypatch.setattr(dedup, "local_uf_components", counting)
    get_query(query).fn(spark, sf_dir)
    assert calls == [("doc_a", "doc_b")]


def test_pair_graph_cache_bypassed_for_unstattable_corpus(spark, monkeypatch):
    """Two different monkeypatched corpora under the SAME placeholder
    sf_dir must produce DIFFERENT pair graphs — the session cache must
    not serve corpus A's edges to corpus B when the corpus file cannot
    be statted (the key cannot identify the data source)."""
    import mapreducegcp_spark.operators.dedup as dedup_mod

    def mk(texts):
        return spark.createDataFrame(
            [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)],
            "doc_id long, text string, lang string, source string, n_chars long",
        )

    near = "alpha beta gamma delta epsilon zeta eta theta"
    a = mk([near, near + " iota", "totally different words entirely here now"])
    b = mk(["unrelated corpus one two three four five six", near, near])

    monkeypatch.setattr(dedup_mod, "load_table", lambda *args, **kw: a)
    pairs_a = {
        (r.doc_a, r.doc_b)
        for r in dedup_mod.jaccard_pair_graph(spark, "placeholder-dir").collect()
    }
    monkeypatch.setattr(dedup_mod, "load_table", lambda *args, **kw: b)
    pairs_b = {
        (r.doc_a, r.doc_b)
        for r in dedup_mod.jaccard_pair_graph(spark, "placeholder-dir").collect()
    }
    assert pairs_a == {(0, 1)}
    assert pairs_b == {(1, 2)}, "cache served stale edges for an unidentifiable corpus"


def test_substring_spans_detect_cross_doc_boilerplate(spark, monkeypatch):
    """Two docs sharing a 40-char boilerplate run + one unique doc:
    every position inside the shared run (and only those) counts as
    duplicated, within-doc repetition does NOT count, and docs
    shorter than the span unit are excluded."""
    import mapreducegcp_spark.operators.dedup as dedup_mod
    from mapreducegcp_spark.operators.dedup import _SPAN_K

    boiler = "SPDX-License-Identifier: Apache-2.0 XXXX"  # 40 chars
    assert len(boiler) == 40
    rep = "zz" * 30  # within-doc repetition only (unique to doc 3)
    docs = spark.createDataFrame(
        [
            (1, boiler + " alpha beta gamma delta epsilon zeta!!"),
            (2, "intro words here. " + boiler),
            (3, rep),
            (4, "short"),  # < _SPAN_K chars -> no rows
        ],
        "doc_id long, text string",
    )
    monkeypatch.setattr(dedup_mod, "load_table", lambda *a, **k: docs)
    rows = {r.doc_id: r for r in
            dedup_mod.q_dedup_substring_spans(spark, "ignored").collect()}
    assert set(rows) == {1, 2, 3}
    # doc 1: boilerplate at positions 1..40 -> dup anchors 1..(40-K+1)
    assert rows[1].n_dup_spans == 40 - _SPAN_K + 1
    assert rows[1].n_spans == len(boiler + " alpha beta gamma delta epsilon zeta!!") - _SPAN_K + 1
    # doc 2: same run, offset — same number of duplicated anchors
    assert rows[2].n_dup_spans == 40 - _SPAN_K + 1
    # doc 3: repeated text exists in ONE doc only -> zero cross-doc dups
    assert rows[3].n_dup_spans == 0 and rows[3].n_spans == len(rep) - _SPAN_K + 1
    for r in rows.values():
        assert r.dup_milli == r.n_dup_spans * 1000 // r.n_spans


def test_jaccard_df_cap_is_precision_one_lower_bound(spark, sf_dir):
    """The hot-shingle cap must only LOSE pairs, never invent or
    inflate them: capped output is a subset of the exact pair set, and
    every surviving pair's jaccard is <= its exact value (the size
    denominator stays uncapped while n_common can only shrink). An
    unreachable cap must be the identity. The synthetic corpus's tiny
    vocabulary makes shingles corpus-hot, so a small cap genuinely
    drops join keys here — the subset claim is exercised, not vacuous.
    """
    from mapreducegcp_spark.operators.dedup import q_dedup_ngram_jaccard

    exact = {
        (r.doc_a, r.doc_b): (r.n_common, r.jaccard)
        for r in q_dedup_ngram_jaccard(spark, sf_dir).collect()
    }
    capped = {
        (r.doc_a, r.doc_b): (r.n_common, r.jaccard)
        for r in q_dedup_ngram_jaccard(spark, sf_dir, df_cap=8).collect()
    }
    assert set(capped) <= set(exact), "df_cap must never create pairs"
    for pair, (n_common, jac) in capped.items():
        en, ej = exact[pair]
        assert n_common <= en and jac <= ej + 1e-12, (pair, (n_common, jac), (en, ej))

    identity = {
        (r.doc_a, r.doc_b): (r.n_common, r.jaccard)
        for r in q_dedup_ngram_jaccard(
            spark, sf_dir, df_cap=10_000_000
        ).collect()
    }
    assert identity == exact, "an unreachable cap must be exact"


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(st.integers(0, 24), st.integers(0, 24)).filter(
            lambda e: e[0] != e[1]
        ),
        min_size=1,
        max_size=40,
    )
)
def test_local_uf_components_matches_union_find(spark, edges):
    """Partition-local union-find + boundary contraction must agree
    with a sequential union-find on arbitrary graphs (same contract
    as the three sibling engines)."""
    from mapreducegcp_spark.operators.dedup import local_uf_components

    pairs = spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges], "a long, b long"
    )
    got = {
        r["node"]: r["cluster_id"]
        for r in local_uf_components(pairs, "a", "b").collect()
    }
    assert got == _union_find_components(edges)


def test_local_uf_components_multi_level_contraction(spark):
    """Force the multi-partition path: with edges_per_part=4 a 40-node
    adversarial-id path shatters across many partition-local
    union-finds, so components MUST be stitched through at least one
    boundary-contraction level — the cross-partition correctness the
    single-partition fast path never exercises. Ids are deliberately
    scrambled (bit-reversed) so labels can't shortcut along the chain."""
    from mapreducegcp_spark.operators.dedup import local_uf_components

    ids = [int(format(i, "06b")[::-1], 2) for i in range(40)]  # permutation
    pairs = spark.createDataFrame(
        [(ids[i], ids[i + 1]) for i in range(39)], "a long, b long"
    )
    out = local_uf_components(pairs, "a", "b", edges_per_part=4).collect()
    assert {r["node"] for r in out} == set(ids)
    assert {r["cluster_id"] for r in out} == {min(ids)}
    assert len(out) == 40  # exactly one row per node after compose/dedup


def test_local_uf_components_falls_back_instead_of_crashing(spark, caplog):
    """A graph the contraction loop cannot finish must DEGRADE to
    two_phase_components (loud warning, identical result contract),
    not crash the registered query (ADVICE r7). Deterministic trigger:
    max_levels=1 on the bit-reversed path that provably needs >=2
    contraction levels at edges_per_part=4 (same graph as the
    multi-level test above), so the for-else fallback path runs for
    real — warning logged, result still exactly the component map."""
    import logging

    from mapreducegcp_spark.operators.dedup import local_uf_components

    ids = [int(format(i, "06b")[::-1], 2) for i in range(13)]
    pairs = spark.createDataFrame(
        [(ids[i], ids[i + 1]) for i in range(12)], "a long, b long"
    )
    with caplog.at_level(logging.WARNING, "mapreducegcp_spark.operators.dedup"):
        out = local_uf_components(
            pairs, "a", "b", edges_per_part=4, max_levels=1
        ).collect()
    assert any(
        "falling back to two_phase_components" in r.getMessage()
        for r in caplog.records
    )
    assert {r["node"] for r in out} == set(ids)
    assert {r["cluster_id"] for r in out} == {min(ids)}


def test_local_uf_components_slice_bound_is_ceil(spark):
    """n_part = ceil(edges / edges_per_part): 5 edges at 4-per-slice
    must run as 2 partitions, never one near-double slice (ADVICE r7
    pinned the floor-division bug where 2N-1 edges ran single-slice)."""
    from mapreducegcp_spark.operators import dedup as dd

    assert int(max(1, -(-5 // 4))) == 2
    assert int(max(1, -(-199_999 // 100_000))) == 2
    assert int(max(1, -(-100_000 // 100_000))) == 1
    # and the engine still resolves the graph correctly at that sizing
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "a long, b long"
    )
    out = dd.local_uf_components(pairs, "a", "b", edges_per_part=4).collect()
    assert {r["cluster_id"] for r in out} == {0}
    assert len(out) == 6


def test_local_uf_components_empty_and_self_pairs(spark):
    """Self-pairs are ignored and an edgeless input yields an empty
    mapping — the shared engine contract."""
    from mapreducegcp_spark.operators.dedup import local_uf_components

    pairs = spark.createDataFrame([(7, 7), (9, 9)], "a long, b long")
    assert local_uf_components(pairs, "a", "b").collect() == []


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(st.integers(0, 24), st.integers(0, 24)).filter(
            lambda e: e[0] != e[1]
        ),
        min_size=1,
        max_size=40,
    )
)
def test_local_uf_multi_level_matches_union_find(spark, edges):
    """The boundary-contraction RECURSION on arbitrary hypothesis
    graphs: edges_per_part=3 forces every input through multiple
    partition-local union-finds and at least one contraction level —
    the single-partition fast path never runs here, so this pins the
    cross-partition stitching on shapes the fixed-path test can't
    shrink to (cycles, stars, disjoint blobs)."""
    from mapreducegcp_spark.operators.dedup import local_uf_components

    pairs = spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges], "a long, b long"
    )
    got = {
        r["node"]: r["cluster_id"]
        for r in local_uf_components(pairs, "a", "b", edges_per_part=3).collect()
    }
    assert got == _union_find_components(edges)


def test_incremental_df_cap_decisions_are_conservative(spark, sf_dir):
    """dedup_incremental's df_cap mirrors the jaccard contract at the
    DECISION level: the exact-hash stage is cap-independent
    (drop_exact rows identical), a capped drop_neardup implies an
    exact drop_neardup (the cap can only lose pairs, so it can only
    move docs toward keep), a surviving match's jaccard never exceeds
    the exact best (denominators stay uncapped), and an unreachable
    cap is the identity. The synthetic corpus's tiny vocabulary makes
    corpus-hot shingles real at any size, so a small cap genuinely
    drops join keys here."""
    from mapreducegcp_spark.operators.pipeline import q_dedup_incremental

    exact = {r.doc_id: r for r in q_dedup_incremental(spark, sf_dir).collect()}
    capped = {
        r.doc_id: r
        for r in q_dedup_incremental(spark, sf_dir, df_cap=8).collect()
    }
    assert set(capped) == set(exact), "cap must not change the admitted batch"
    for doc_id, c in capped.items():
        e = exact[doc_id]
        if c.decision == "drop_exact" or e.decision == "drop_exact":
            # hash stage sees no shingles: cap-independent
            assert c.decision == e.decision == "drop_exact"
        elif c.decision == "drop_neardup":
            assert e.decision == "drop_neardup", doc_id
            assert c.jaccard <= e.jaccard + 1e-12, (doc_id, c.jaccard, e.jaccard)
        else:
            assert c.decision == "keep"  # exact may be keep OR drop_neardup

    identity = {
        r.doc_id: r
        for r in q_dedup_incremental(spark, sf_dir, df_cap=10_000_000).collect()
    }
    assert all(
        identity[d].decision == exact[d].decision
        and identity[d].match_doc_id == exact[d].match_doc_id
        for d in exact
    ), "an unreachable cap must be exact"


def test_exact_group_map_null_text_docs_are_singletons(spark, tmp_path):
    """sha2(NULL) is NULL; without the per-doc sentinel every NULL-text
    document would collapse into ONE 'verbatim duplicate' group — a
    (rep, member) consumer would treat distinct empty documents as
    copies of each other. Each NULL-text doc must be its own group,
    while real duplicate texts still share a representative."""
    import pandas as pd

    from mapreducegcp_spark.operators.dedup import exact_group_map

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4, 5],
            "text": ["same text here", "same text here", None, None, "solo"],
            "lang": "en",
            "source": "test",
            "n_chars": [14, 14, 0, 0, 4],
        }
    ).astype({"doc_id": "int64", "n_chars": "int64"})
    pdf.to_parquet(tmp_path / "documents.parquet", index=False)

    rows = {r.member: r.rep for r in exact_group_map(spark, str(tmp_path)).collect()}
    assert rows == {1: 1, 2: 1, 3: 3, 4: 4, 5: 5}


def test_has_verbatim_dups_both_ways(spark, tmp_path):
    """The adaptive-collapse decision: True on a corpus with a verbatim
    duplicate pair, False on the duplicate-free driver corpus."""
    import pandas as pd

    from mapreducegcp_spark.operators.dedup import has_verbatim_dups

    assert has_verbatim_dups(spark, "/root/testdata/sf0.001") is False

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2],
            "text": ["twin", "twin"],
            "lang": "en",
            "source": "test",
            "n_chars": [4, 4],
        }
    ).astype({"doc_id": "int64", "n_chars": "int64"})
    pdf.to_parquet(tmp_path / "documents.parquet", index=False)
    assert has_verbatim_dups(spark, str(tmp_path)) is True
