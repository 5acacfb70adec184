"""Degenerate-input semantics for core operators beyond the round-3 set.

Same mechanism as test_training_ops: inject tiny synthetic tables by
patching the operator module's ``load_table``; pin behaviors the driver
corpus never exercises (ties, empty strings, single-row groups)."""

from __future__ import annotations

import pytest

from mapreducegcp_spark.registry import all_queries

DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def test_weighted_median_all_ties_and_single_row(spark, monkeypatch):
    """A group whose prices are all equal must return that price; a
    single-row group returns its own price. The distinct-price
    collapse must not change either."""
    import mapreducegcp_spark.operators.aggregates as agg_mod

    rows = [
        # group A: every row the same price
        ("A", 10.00, 5.0), ("A", 10.00, 7.0), ("A", 10.00, 1.0),
        # group B: single row
        ("B", 42.50, 3.0),
        # group C: median must respect weights: price 1 carries 9/10 mass
        ("C", 1.00, 9.0), ("C", 100.00, 1.0),
    ]
    li = spark.createDataFrame(
        rows, "l_returnflag string, l_extendedprice double, l_quantity double"
    )
    monkeypatch.setattr(agg_mod, "load_table", lambda s, d, n: li)
    out = {
        r.l_returnflag: r.weighted_median_price
        for r in all_queries()["agg_weighted_median"].fn(spark, "ignored").collect()
    }
    assert out == {"A": 10.00, "B": 42.50, "C": 1.00}


def test_simhash_empty_text_yields_no_row(spark, monkeypatch):
    """A document with no alphabetic tokens contributes no token rows,
    so it is absent from the fingerprint table (matching the oracle's
    unnest semantics) rather than crashing or hashing to zero."""
    import mapreducegcp_spark.operators.dedup as dedup_mod

    docs = spark.createDataFrame(
        [(1, "1234 %% !!", "en", "s", 10), (2, "real words here", "en", "s", 15)],
        DOC_SCHEMA,
    )
    monkeypatch.setattr(dedup_mod, "load_table", lambda s, d, n: docs)
    rows = {r.doc_id for r in all_queries()["dedup_simhash"].fn(spark, "ignored").collect()}
    assert rows == {2}


def test_knn_classify_tie_breaks_to_smaller_label(spark, monkeypatch):
    """With k=10 neighbors split 5/5 between two labels, the predicted
    label must be the SMALLER one (deterministic tie-break)."""
    import mapreducegcp_spark.operators.similarity as sim_mod

    # query vec_id 0; corpus = 10 vectors, half label 7, half label 3,
    # all equidistant from the query (identical embeddings)
    dim = 4
    rows = [(0, [1.0] * dim, 0)]
    for i in range(1, 11):
        rows.append((100 + i, [1.0] * dim, 7 if i % 2 == 0 else 3))
    # the other four query ids must exist (the query set is fixed)
    for q in (1, 2, 3, 4):
        rows.append((q, [1.0] * dim, 0))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    monkeypatch.setattr(sim_mod, "load_table", lambda s, d, n: emb)
    out = {
        r.query_id: r
        for r in all_queries()["similarity_knn_classify"].fn(spark, "ignored").collect()
    }
    assert out[0].predicted_label == 3 and out[0].votes == 5


def test_bounded_components_on_two_disjoint_edges(spark):
    """two_phase_components with two disjoint pairs must emit two
    2-node components labeled by their minima."""
    from pyspark.sql import functions as F

    from mapreducegcp_spark.operators.dedup import two_phase_components

    pairs = spark.createDataFrame([(5, 9), (2, 7)], "a long, b long")
    out = {(r.node, r.cluster_id) for r in two_phase_components(pairs, "a", "b").collect()}
    assert out == {(5, 5), (9, 5), (2, 2), (7, 2)}


def test_temperature_weights_sum_to_one_many_sources(spark, monkeypatch):
    """With 7 sources of co-prime token masses the sqrt-normalized
    weights must sum to exactly 1.0 under the ordered fold (the
    left-fold makes the normalizer the same sum the division sees)."""
    import mapreducegcp_spark.operators.training as training_mod

    docs = []
    masses = [3, 5, 7, 11, 13, 17, 19]
    for i, m in enumerate(masses):
        docs.append((i, " ".join(["tok"] * m), "en", f"s{i}", 0))
    df = spark.createDataFrame(docs, DOC_SCHEMA)
    monkeypatch.setattr(training_mod, "load_table", lambda s, d, n: df)
    rows = all_queries()["sample_temperature"].fn(spark, "ignored").collect()
    assert len(rows) == 7
    total = sum(r.temp_weight for r in rows)
    assert abs(total - 1.0) < 1e-12


def test_bpe_trainer_exhausts_pairs_early(spark, monkeypatch):
    """A corpus whose words collapse before the round budget: 'ab' x2
    admits exactly ONE merge ((a,b) -> single symbol), after which no
    length-2 word remains — the trainer must stop with 1 row, not
    crash or emit empty-pair rounds."""
    import mapreducegcp_spark.operators.textstats as textstats_mod

    docs = spark.createDataFrame([(1, "ab ab", "en", "s", 5)], DOC_SCHEMA)
    monkeypatch.setattr(textstats_mod, "load_table", lambda *a, **k: docs)
    rows = all_queries()["bpe_train_merges"].fn(spark, "ignored").collect()
    assert len(rows) == 1
    assert (rows[0].left_sym, rows[0].right_sym, rows[0].weight) == ("a", "b", 2)


def test_bpe_encode_runs_with_no_learnable_merges(spark, monkeypatch):
    """Single-character words admit zero merges: encoding must still
    return per-doc counts with symbols == words (each word is one
    unmergeable symbol)."""
    import mapreducegcp_spark.operators.textstats as textstats_mod

    docs = spark.createDataFrame([(1, "a b a", "en", "s", 5)], DOC_SCHEMA)
    monkeypatch.setattr(textstats_mod, "load_table", lambda *a, **k: docs)
    rows = all_queries()["bpe_encode_corpus"].fn(spark, "ignored").collect()
    assert len(rows) == 1
    assert (rows[0].n_words, rows[0].n_bpe_symbols) == (3, 3)


def test_compaction_single_oversized_file_gets_own_group(spark, monkeypatch):
    """A file larger than the target must still land in exactly one
    group (files are never split), and the next file starts a fresh
    group at the running-byte boundary."""
    import mapreducegcp_spark.operators.layout as layout_mod

    rows = [("a", "en", 1, 50_000), ("b", "en", 2, 1_000), ("c", "en", 3, 1_000)]
    docs = spark.createDataFrame(
        rows, "source string, lang string, doc_id long, n_chars long"
    )
    monkeypatch.setattr(layout_mod, "load_table", lambda *a, **k: docs)
    out = {
        r.source: r.out_group
        for r in all_queries()["layout_compaction_plan"].fn(spark, "ignored").collect()
    }
    # a starts at 0 -> group 0; b starts at 50000 -> group 3; c at 51000 -> group 3
    assert out == {"a": 0, "b": 3, "c": 3}


def test_phrase_search_requires_adjacency(spark, monkeypatch):
    """Docs containing all three words NON-adjacently must not match;
    overlapping/repeated occurrences count correctly."""
    import mapreducegcp_spark.operators.textstats as textstats_mod

    docs = spark.createDataFrame(
        [
            (1, "scan slow fast", "en", "s", 14),            # 1 occurrence
            (2, "scan slow fast scan slow fast", "en", "s", 29),  # 2
            (3, "scan fast slow", "en", "s", 14),             # words, wrong order
            (4, "scan slow slow fast", "en", "s", 19),        # broken adjacency
        ],
        DOC_SCHEMA,
    )
    monkeypatch.setattr(textstats_mod, "load_table", lambda *a, **k: docs)
    out = {
        r.doc_id: r.n_occurrences
        for r in all_queries()["search_phrase_positional"].fn(spark, "ignored").collect()
    }
    assert out == {1: 1, 2: 2}


def test_referential_integrity_counts_orphans_not_nulls(spark, monkeypatch):
    """An FK value absent from the parent is an orphan; a NULL FK is
    not (ANSI semantics) — it must vanish from the keyed counts
    entirely. Duplicate child rows on one orphan key count once in
    n_orphan_keys and each in n_orphan_rows."""
    import mapreducegcp_spark.operators.sampling as samp_mod

    tables = {
        "orders": spark.createDataFrame(
            [(1, 10), (2, 10), (3, 99), (4, 99), (5, None)],
            "o_orderkey long, o_custkey long",
        ),
        "customer": spark.createDataFrame([(10,)], "c_custkey long"),
    }
    monkeypatch.setattr(
        samp_mod, "load_table", lambda spark, sf_dir, name: tables[name]
    )
    monkeypatch.setattr(
        samp_mod, "_FK_EDGES",
        [("orders", "o_custkey", "customer", "c_custkey")],
    )
    [r] = all_queries()["dq_referential_integrity"].fn(spark, "ignored").collect()
    assert r.fk_edge == "orders.o_custkey->customer.c_custkey"
    assert r.n_child_rows == 4          # the NULL row is excluded
    assert r.n_distinct_keys == 2       # 10 and 99
    assert r.n_orphan_keys == 1         # 99
    assert r.n_orphan_rows == 2         # both rows keyed 99


def test_fertility_identical_sources_equal_and_bounded(spark, monkeypatch):
    """Two sources with byte-identical text must report identical
    fertility, and fertility lives in [1, max word length]: merges can
    only shrink a word's symbol count, never below one."""
    import mapreducegcp_spark.operators.textstats as ts_mod

    text = "alpha alpha beta alpha beta gamma"
    docs = spark.createDataFrame(
        [(1, text, "en", "s1", len(text)), (2, text, "en", "s2", len(text))],
        DOC_SCHEMA,
    )
    monkeypatch.setattr(ts_mod, "load_table", lambda spark, sf_dir, name: docs)
    rows = {
        r.source: r
        for r in all_queries()["bpe_fertility_stats"].fn(spark, "ignored").collect()
    }
    assert set(rows) == {"s1", "s2"}
    a, b = rows["s1"], rows["s2"]
    assert (a.n_words, a.n_bpe_symbols, a.n_chars) == (
        b.n_words, b.n_bpe_symbols, b.n_chars,
    )
    assert a.fertility == b.fertility
    assert 1.0 <= a.fertility <= 5.0    # longest word is 5 chars
    assert a.n_words == 6 and a.n_docs == 1


def test_kcenter_farthest_first_and_radius_curve(spark, monkeypatch):
    """On the line {0, 1, 10}: seed is min vec_id (0), the farthest
    point (10) is chosen next with radius 100, then 1 with radius 1 —
    and the radius curve is non-increasing after the seed."""
    import mapreducegcp_spark.operators.sampling as samp_mod

    emb = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 0.0]), (3, [10.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    monkeypatch.setattr(samp_mod, "load_table", lambda spark, sf_dir, name: emb)
    monkeypatch.setattr(samp_mod, "_KCENTER_K", 3)
    rows = sorted(
        all_queries()["sample_kcenter_coreset"].fn(spark, "ignored").collect(),
        key=lambda r: r.sel_order,
    )
    assert [r.vec_id for r in rows] == [1, 3, 2]
    assert rows[0].cover_radius_sq is None
    assert rows[1].cover_radius_sq == 100.0
    assert rows[2].cover_radius_sq == 1.0


def test_kcenter_stops_at_distinct_points_and_empty_input(spark, monkeypatch):
    """With k=5 but only 3 points — two of them duplicates — selection
    stops once every point is covered (no re-selected centers, no
    zero-radius rows), and an empty table yields 0 rows instead of
    crashing (the oracle's empty-CTE chain collapses the same way)."""
    import mapreducegcp_spark.operators.sampling as samp_mod

    emb = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [3.0, 0.0]), (3, [3.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    monkeypatch.setattr(samp_mod, "load_table", lambda spark, sf_dir, name: emb)
    monkeypatch.setattr(samp_mod, "_KCENTER_K", 5)
    rows = sorted(
        all_queries()["sample_kcenter_coreset"].fn(spark, "ignored").collect(),
        key=lambda r: r.sel_order,
    )
    # seed=1, then 2 (d2=9); 3 duplicates 2 so dmin=0 — never selected
    assert [r.vec_id for r in rows] == [1, 2]
    assert len({r.vec_id for r in rows}) == len(rows)

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    monkeypatch.setattr(samp_mod, "load_table", lambda spark, sf_dir, name: empty)
    assert all_queries()["sample_kcenter_coreset"].fn(spark, "ignored").count() == 0


def test_perplexity_buckets_rank_by_rarity(spark, monkeypatch):
    """Docs made of common tokens must land in a lower (more fluent)
    bucket than the doc built from corpus-rare tokens, and a
    single-document language lands in bucket 1 (cuts collapse)."""
    import mapreducegcp_spark.operators.textstats as ts_mod

    common = "the the the the"
    docs = spark.createDataFrame(
        [
            (1, common, "en", "s", 15),
            (2, common, "en", "s", 15),
            (3, common, "en", "s", 15),
            (4, "zq xv jk wq", "en", "s", 11),
            (5, "solo doc here", "xx", "s", 13),
        ],
        DOC_SCHEMA,
    )
    monkeypatch.setattr(ts_mod, "load_table", lambda spark, sf_dir, name: docs)
    rows = {
        r.doc_id: r
        for r in all_queries()["quality_perplexity_buckets"].fn(spark, "ignored").collect()
    }
    assert rows[4].ppl_bucket == 4
    assert all(rows[d].ppl_bucket <= 2 for d in (1, 2, 3))
    assert rows[5].ppl_bucket == 1


def test_simhash_eval_perfect_on_exact_duplicates(spark, monkeypatch):
    """Two identical documents are a Jaccard pair AND a hamming-0
    simhash pair; an unrelated doc joins neither side. The eval must
    report exactly tp=1, fp=0, fn=0, precision=recall=1."""
    import mapreducegcp_spark.operators.dedup as dd_mod

    text = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [
            (1, text, "en", "s", len(text)),
            (2, text, "en", "s", len(text)),
            (3, "unrelated words entirely disjoint from neighbors", "en", "s", 48),
        ],
        DOC_SCHEMA,
    )
    monkeypatch.setattr(dd_mod, "load_table", lambda spark, sf_dir, name: docs)
    [r] = all_queries()["dedup_simhash_eval"].fn(spark, "ignored").collect()
    assert (r.tp, r.fp, r.fn) == (1, 0, 0)
    assert r.precision == 1.0 and r.recall == 1.0


def test_payload_dedup_store_audit_counts(spark, monkeypatch):
    """Duplicate payloads shrink n_unique and fill bytes_reclaimable;
    a dup-free format reports exact zeros, not an absent row. doc_ids
    are multiples of 3 so every doc shares one format tag (png)."""
    import mapreducegcp_spark.operators.multimodal as mm_mod

    docs = spark.createDataFrame(
        [
            (3, "same bytes", "en", "s", 10),
            (6, "same bytes", "en", "s", 10),
            (9, "uniq", "en", "s", 4),
        ],
        DOC_SCHEMA,
    )
    monkeypatch.setattr(mm_mod, "load_table", lambda spark, sf_dir, name: docs)
    rows = all_queries()["multimodal_payload_dedup"].fn(spark, "ignored").collect()
    assert len(rows) == 1
    [r] = rows
    assert r.fmt == "png"
    assert (r.n_payloads, r.n_unique, r.n_dup_copies) == (3, 2, 1)
    assert r.bytes_total == 2 * len("same bytes") + len("uniq")
    assert r.bytes_reclaimable == len("same bytes")


def test_dim_health_flags_collapsed_dimension(spark, monkeypatch):
    """A dimension that is identically zero reports n_zero = n and
    variance exactly 0.0; a symmetric ±2 dimension reports mean 0 and
    variance exactly 4.0 (binary-exact quantization)."""
    import mapreducegcp_spark.operators.similarity as sim_mod

    emb = spark.createDataFrame(
        [(1, [0.0, 2.0]), (2, [0.0, -2.0])],
        "vec_id long, embedding array<float>",
    )
    monkeypatch.setattr(sim_mod, "load_table", lambda spark, sf_dir, name: emb)
    rows = {
        r.dim: r
        for r in all_queries()["embedding_dim_health"].fn(spark, "ignored").collect()
    }
    assert rows[0].n_zero == 2 and rows[0].variance == 0.0 and rows[0].mean == 0.0
    assert rows[1].n_zero == 0 and rows[1].mean == 0.0 and rows[1].variance == 4.0


def test_freshness_sla_verdicts(spark, monkeypatch):
    """The stream holding the corpus head has lag 0 and passes; a
    stream more than the SLA behind fails with the exact second lag."""
    import datetime

    import mapreducegcp_spark.operators.sampling as samp_mod

    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)
    ev = spark.createDataFrame(
        [
            (1, t0, 1, "live", 1.0, "{}"),
            (2, t0 - datetime.timedelta(seconds=5000), 2, "stalled", 1.0, "{}"),
        ],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    monkeypatch.setattr(samp_mod, "load_table", lambda spark, sf_dir, name: ev)
    rows = {
        r.event_type: r
        for r in all_queries()["dq_freshness_sla"].fn(spark, "ignored").collect()
    }
    assert rows["live"].lag_seconds == 0 and rows["live"].within_sla
    assert rows["stalled"].lag_seconds == 5000 and not rows["stalled"].within_sla


def test_holt_two_point_series_exact(spark, monkeypatch):
    """y = [4, 8]: month 1 seeds level=4, trend=0, no forecast; month 2
    level = .5*8+.5*4 = 6, trend = .5*(6-4) = 1, forecast = 4 — all
    binary-exact halvings."""
    import datetime

    import mapreducegcp_spark.operators.timeseries as ts_mod

    orders = spark.createDataFrame(
        [
            (1, datetime.date(2020, 1, 10), 4.0),
            (2, datetime.date(2020, 2, 10), 8.0),
        ],
        "o_orderkey long, o_orderdate date, o_totalprice double",
    )
    monkeypatch.setattr(ts_mod, "load_table", lambda spark, sf_dir, name: orders)
    rows = sorted(
        all_queries()["timeseries_holt_smoothing"].fn(spark, "ignored").collect(),
        key=lambda r: r.ym,
    )
    assert [r.revenue for r in rows] == [4.0, 8.0]
    assert (rows[0].level, rows[0].trend, rows[0].forecast) == (4.0, 0.0, None)
    assert (rows[1].level, rows[1].trend, rows[1].forecast) == (6.0, 1.0, 4.0)


def test_pareto_four_customers_exact_shares(spark, monkeypatch):
    """Four customers spending 40/30/20/10: with 10 buckets the first
    four deciles hold one customer each and the cumulative share walks
    0.4 -> 0.7 -> 0.9 -> 1.0 exactly."""
    import datetime

    import mapreducegcp_spark.operators.relational as rel_mod

    d = datetime.date(2020, 1, 1)
    orders = spark.createDataFrame(
        [
            (1, 101, d, 40.0),
            (2, 102, d, 30.0),
            (3, 103, d, 20.0),
            (4, 104, d, 10.0),
        ],
        "o_orderkey long, o_custkey long, o_orderdate date, o_totalprice double",
    )
    monkeypatch.setattr(rel_mod, "load_table", lambda spark, sf_dir, name: orders)
    rows = sorted(
        all_queries()["customer_pareto_deciles"].fn(spark, "ignored").collect(),
        key=lambda r: r.decile,
    )
    assert [r.decile for r in rows] == [1, 2, 3, 4]
    assert all(r.n_customers == 1 for r in rows)
    assert [r.share for r in rows] == [0.4, 0.3, 0.2, 0.1]
    assert [r.cum_share for r in rows] == [0.4, 0.7, 0.9, 1.0]


def test_cusum_flags_the_level_shift_day(spark, monkeypatch):
    """Three days at 0 then three at 10: gmean = 5, CUSUM walks
    -5,-10,-15,-10,-5,0 — the |peak| sits on the last day of the old
    level (the classic CUSUM changepoint estimate)."""
    import datetime

    import mapreducegcp_spark.operators.timeseries as ts_mod

    rows = []
    for d in range(6):
        val = 0.0 if d < 3 else 10.0
        rows.append(
            (d, datetime.datetime(2024, 3, 1 + d, 12, 0, 0), 1, "t", val, "{}")
        )
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    monkeypatch.setattr(ts_mod, "load_table", lambda spark, sf_dir, name: ev)
    out = {
        r.day: r
        for r in all_queries()["events_cusum_changepoint"].fn(spark, "ignored").collect()
    }
    assert [out[f"2024-03-0{d+1}"].cusum for d in range(6)] == [
        -5.0, -10.0, -15.0, -10.0, -5.0, 0.0,
    ]
    flags = [d for d, r in out.items() if r.is_changepoint]
    assert flags == ["2024-03-03"]


def test_bm25_ranking_and_scores(spark, monkeypatch):
    """Hand-checkable BM25: the doc matching two query terms with a
    repeated rare-ish term outranks the single-term doc; a doc with no
    query terms never appears; scores match the formula to 1 nano."""
    import math

    import mapreducegcp_spark.operators.textstats as ts_mod
    from mapreducegcp_spark.operators.textstats import (
        _BM25_B, _BM25_K1, _BM25_TERMS,
    )

    docs = spark.createDataFrame(
        [
            (1, "hash hash vector", "en", "s", 16),
            (2, "hash stream other words here", "en", "s", 28),
            (3, "nothing matches at all", "en", "s", 22),
        ],
        DOC_SCHEMA,
    )
    monkeypatch.setattr(ts_mod, "load_table", lambda spark, sf_dir, name: docs)
    rows = {
        r.doc_id: r
        for r in all_queries()["search_bm25_topk"].fn(spark, "ignored").collect()
    }
    assert set(rows) == {1, 2}
    assert rows[1].n_terms == 2 and rows[2].n_terms == 2
    assert _BM25_TERMS == ("hash", "vector", "stream")

    n, avgdl = 3, (3 + 5 + 4) / 3
    dfs = {"hash": 2, "vector": 1, "stream": 1}
    tfs = {1: {"hash": 2, "vector": 1}, 2: {"hash": 1, "stream": 1}}
    dls = {1: 3, 2: 5}

    def contrib(doc, term):
        idf = math.log(1.0 + (n - dfs[term] + 0.5) / (dfs[term] + 0.5))
        tf = float(tfs[doc][term])
        denom = tf + _BM25_K1 * (
            1.0 - _BM25_B + _BM25_B * (dls[doc] / avgdl)
        )
        return idf * ((tf * (_BM25_K1 + 1.0)) / denom)

    for doc in (1, 2):
        expect = sum(
            int(math.floor(1e9 * contrib(doc, t) + 0.5)) for t in tfs[doc]
        )
        assert abs(rows[doc].score_nano - expect) <= len(tfs[doc])
    assert rows[1].score_nano > rows[2].score_nano


def test_gini_equal_and_concentrated(spark, monkeypatch):
    """Equal per-customer revenue -> Gini ~ 0; revenue concentrated on
    one of four customers -> matches the closed form computed by hand."""
    import mapreducegcp_spark.operators.relational as rel_mod

    def orders_of(rows):
        return spark.createDataFrame(
            rows, "o_orderkey long, o_custkey long, o_totalprice double"
        )

    eq = orders_of([(i, i, 100.0) for i in range(1, 5)])
    monkeypatch.setattr(rel_mod, "load_table", lambda s, d, n: eq)
    r = all_queries()["customer_gini_coefficient"].fn(spark, "ignored").collect()[0]
    assert r.n_customers == 4 and r.total_cents == 40000
    assert abs(r.gini) < 1e-12

    conc = orders_of(
        [(1, 1, 1.0), (2, 2, 1.0), (3, 3, 1.0), (4, 4, 97.0)]
    )
    monkeypatch.setattr(rel_mod, "load_table", lambda s, d, n: conc)
    r = all_queries()["customer_gini_coefficient"].fn(spark, "ignored").collect()[0]
    # ascending cents [100,100,100,9700]: S1 = 1*100+2*100+3*100+4*9700
    s1, tot, n = 1 * 100 + 2 * 100 + 3 * 100 + 4 * 9700, 10000, 4
    assert abs(r.gini - (2.0 * s1 / (n * tot) - (n + 1) / n)) < 1e-12


def test_ppswor_weights_dominate_and_zero_excluded(spark, monkeypatch):
    """A doc with overwhelming weight is always sampled (its Exp(w) key
    is ~0); zero-token docs are excluded; k > n returns all weighted
    docs ordered by key."""
    import mapreducegcp_spark.operators.sampling as samp_mod

    rows = [(1, " ".join(["tok"] * 10000), "en", "s", 0),
            (2, "a b", "en", "s", 0),
            (3, "c d e", "en", "s", 0),
            (4, "123 !!", "en", "s", 0)]  # zero alphabetic tokens
    docs = spark.createDataFrame(rows, DOC_SCHEMA)
    monkeypatch.setattr(samp_mod, "load_table", lambda s, d, n: docs)
    out = all_queries()["sample_priority_ppswor"].fn(spark, "ignored").collect()
    ids = [r.doc_id for r in out]
    assert 4 not in ids and set(ids) == {1, 2, 3}
    assert ids[0] == 1  # weight 10000 -> smallest key
    assert all(r.key_pico >= 0 for r in out)
    assert out[0].key_pico <= out[1].key_pico <= out[2].key_pico


def test_hybrid_rrf_rewards_agreement(spark, monkeypatch):
    """A doc ranked top by BOTH rankers must outscore docs top in only
    one; rrf_score equals 1/(60+lex)+1/(60+vec) with absent = 0."""
    import mapreducegcp_spark.operators.textstats as ts_mod

    # doc 10: contains all three query terms AND its vector matches the
    # query vector (vec 0); doc 20: lexical only; doc 30: dense only.
    docs = spark.createDataFrame(
        [
            (0, "query doc itself", "en", "s", 0),
            (10, "hash vector stream", "en", "s", 0),
            (20, "hash hash vector vector stream stream filler", "en", "s", 0),
            (30, "no terms here", "en", "s", 0),
        ],
        DOC_SCHEMA,
    )
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (10, [1.0, 0.05]),
            (30, [1.0, 0.0]),
            (20, [0.0, 1.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    tables = {"documents": docs, "embeddings": emb}
    monkeypatch.setattr(ts_mod, "load_table", lambda s, d, n: tables[n])
    out = {r.doc_id: r for r in all_queries()["search_hybrid_rrf"].fn(spark, "ignored").collect()}
    assert set(out) == {10, 20, 30}
    # dense ranking: 30 (cos=1) then 10; lexical: 20 (higher tf) then 10
    assert out[30].vec_rank == 1 and out[30].lex_rank is None
    assert out[10].vec_rank == 2 and out[10].lex_rank == 2
    assert out[20].lex_rank == 1 and out[20].vec_rank == 3
    for r in out.values():
        expect = (1 / (60 + r.lex_rank) if r.lex_rank else 0.0) + (
            1 / (60 + r.vec_rank) if r.vec_rank else 0.0
        )
        assert abs(r.rrf_score - expect) < 1e-15
    # docs nominated by BOTH rankers (10 and 20) beat the dense-only
    # doc 30 despite 30 holding the single best dense rank
    assert out[10].rrf_score > out[30].rrf_score
    assert out[20].rrf_score > out[30].rrf_score


def test_benford_digits_and_chi2(spark, monkeypatch):
    """Hand-crafted amounts: digit counts are exact, zero/negative
    amounts are excluded, and the chi-square term matches the formula."""
    import math

    import mapreducegcp_spark.operators.sampling as samp_mod

    # cents first digits: 1, 1, 2, 9; the 0.0 row is excluded
    orders = spark.createDataFrame(
        [(1, 1.00), (2, 19.99), (3, 2.50), (4, 0.09), (5, 0.0)],
        "o_orderkey long, o_totalprice double",
    )
    monkeypatch.setattr(samp_mod, "load_table", lambda s, d, n: orders)
    out = {r.digit: r for r in all_queries()["dq_benford_first_digit"].fn(spark, "ignored").collect()}
    assert {d: r.n_obs for d, r in out.items()} == {1: 2, 2: 1, 9: 1}
    for d, r in out.items():
        share = math.log10(1.0 + 1.0 / d)
        assert abs(r.expected_share - share) < 1e-15
        e = share * 4.0
        assert abs(r.chi2_term - (r.n_obs - e) ** 2 / e) < 1e-12


def test_iqr_fences_hand_case(spark, monkeypatch):
    """Nine values 1..8 plus outlier 100: Q1/Q3 interpolate exactly,
    and only 100 breaches the upper fence."""
    import mapreducegcp_spark.operators.aggregates as agg_mod

    vals = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 100.0]
    ev = spark.createDataFrame(
        [(i, "a", v) for i, v in enumerate(vals)],
        "event_id long, event_type string, value double",
    )
    monkeypatch.setattr(agg_mod, "load_table", lambda s, d, n: ev)
    r = all_queries()["events_iqr_outliers"].fn(spark, "ignored").collect()[0]
    assert r.n == 9
    # cents = value * 10000; quantile_cont over 9 points: q1 at idx 2, q3 at idx 6
    assert r.q1 == 30000.0 and r.q3 == 70000.0
    assert r.fence_lo == 30000.0 - 1.5 * 40000.0
    assert r.fence_hi == 70000.0 + 1.5 * 40000.0
    assert r.n_low == 0 and r.n_high == 1


def test_kneser_ney_hand_counts(spark, monkeypatch):
    """Two-doc corpus with hand-computable KN probabilities: verify
    each doc's cross-entropy against the interpolated formula."""
    import math

    import mapreducegcp_spark.operators.textstats as ts_mod

    docs = spark.createDataFrame(
        [(1, "a b a b", "en", "s", 7), (2, "a c", "en", "s", 3)], DOC_SCHEMA
    )
    monkeypatch.setattr(ts_mod, "load_table", lambda *a, **k: docs)
    out = {
        r.doc_id: r
        for r in all_queries()["text_bigram_xent_kneser_ney"].fn(spark, "ignored").collect()
    }
    # bc: (a,b)=2 (b,a)=1 (a,c)=1; ctx a:(cw 3, nf 2) b:(1,1); np all 1; B=3
    d = 0.75
    p_ab = (2 - d) / 3 + (d * 2 / 3) * (1 / 3)
    p_ba = (1 - d) / 1 + (d * 1 / 1) * (1 / 3)
    p_ac = (1 - d) / 3 + (d * 2 / 3) * (1 / 3)
    assert out[1].n_bigrams == 3
    assert abs(out[1].xent_nats - (-(2 * math.log(p_ab) + math.log(p_ba)) / 3)) < 1e-6
    assert abs(out[2].xent_nats - (-math.log(p_ac))) < 1e-6
    # probabilities out of each context sum to <= 1 (mass reserved by D)
    assert p_ab + p_ac < 1.0


def test_gopher_rules_each_gate_fires_independently(spark, monkeypatch):
    """Hand-built docs that each violate exactly one Gopher gate: too
    few tokens, a repetition-dominated doc, and a clean doc that keeps.
    The diversity gate must use DISTINCT/total, the repetition gate the
    TOP token's occupancy, and ``keep`` the full conjunction."""
    import mapreducegcp_spark.operators.textstats as ts_mod

    clean = " ".join(
        ["the a of and to in is it"] + [f"word{c}xy" for c in "abcdefghijklmnopqrst"]
    )  # 28 tokens, all distinct, stopwords present, mean len 157/28 ~ 5.6
    short = "the apple of anyone today indeed ishtar item"  # 8 tokens < 24
    reps = " ".join(
        ["the a of and to in is it"] + ["drums"] * 8 + [f"extra{c}" for c in "abcdefghijkl"]
    )  # 28 tokens, 'drums' occupies 8/28 > 0.125 -> r_repetition fails
    docs = spark.createDataFrame(
        [(1, clean, "en", "s", 1), (2, short, "en", "s", 1), (3, reps, "en", "s", 1)],
        DOC_SCHEMA,
    )
    monkeypatch.setattr(ts_mod, "load_table", lambda s, d, n: docs)
    rows = {
        r.doc_id: r
        for r in all_queries()["text_gopher_rules"].fn(spark, "ignored").collect()
    }
    assert rows[1].keep and all(
        [rows[1].r_n_tokens, rows[1].r_word_len, rows[1].r_repetition,
         rows[1].r_diversity, rows[1].r_stopwords]
    )
    assert not rows[2].keep and not rows[2].r_n_tokens and rows[2].r_stopwords
    assert not rows[3].keep and not rows[3].r_repetition and rows[3].r_n_tokens
    assert rows[3].top_token_frac == pytest.approx(8 / 28)
    assert rows[1].distinct_ratio == pytest.approx(1.0)


def test_recursive_cte_cap_on_fork_and_counts_cached(spark, sf_dir, monkeypatch):
    """sql_recursive_cte_hierarchy sizes its recursion row cap on its
    own fork: the caller's cap is unchanged after the builder, and the
    returned DataFrame still collects after the caller's cap drops to
    10. Its node counts are memoized per corpus, so repeat invocations
    run zero count() jobs."""
    import mapreducegcp_spark.operators.relational as rel

    fn = all_queries()["sql_recursive_cte_hierarchy"].fn
    key = "spark.sql.cteRecursionRowLimit"
    prior = spark.conf.get(key)
    try:
        df = fn(spark, sf_dir)
        assert spark.conf.get(key) == prior
        spark.conf.set(key, "10")
        assert sum(r.n_nodes for r in df.collect()) > 10
    finally:
        spark.conf.set(key, prior)

    # counts cached: a second lookup must not touch load_table at all
    assert rel._hierarchy_node_count(spark, sf_dir) > 0

    def boom(*a, **k):
        raise AssertionError("count jobs must be cached per corpus")

    monkeypatch.setattr(rel, "load_table", boom)
    assert rel._hierarchy_node_count(spark, sf_dir) > 0


def test_recursion_cap_binds_at_execution_not_build(spark):
    """spark.sql.cteRecursionRowLimit is read when the recursion
    EXECUTES, under the conf of the DataFrame's own session, not when
    the DataFrame is built — so a set-before/restore-after bracket on a
    shared session would re-tighten the cap under every not-yet-executed
    recursive DataFrame. This is why sql_recursive_cte_hierarchy sets
    its cap on a fork (session.py): the cap travels with the returned
    DataFrame, whatever the caller's session says later."""
    import pytest

    key = "spark.sql.cteRecursionRowLimit"
    prior = spark.conf.get(key)
    try:
        spark.conf.set(key, "1000000")
        df = spark.sql(
            "WITH RECURSIVE s(n) AS (SELECT 1 UNION ALL SELECT n+1 FROM s "
            "WHERE n < 500) SELECT count(*) AS c FROM s"
        )
        spark.conf.set(key, "10")  # what restore-after would do
        with pytest.raises(Exception, match="RECURSION_ROW_LIMIT_EXCEEDED"):
            df.collect()
    finally:
        spark.conf.set(key, prior)
