"""Edge-case semantics for the round-3 training-pipeline operators.

The oracle harness proves cross-engine equality on the driver corpus;
these pin the DEGENERATE inputs the corpus doesn't contain: a language
with one document, a single-source corpus, an all-duplicates corpus.
Tables are injected by patching the operator module's ``load_table``
(the scale-probe harness's mechanism)."""

from __future__ import annotations

import pytest

import mapreducegcp_spark.operators.textstats as textstats_mod
import mapreducegcp_spark.operators.training as training_mod
from mapreducegcp_spark.registry import all_queries

DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def _patch(monkeypatch, mod, df):
    monkeypatch.setattr(mod, "load_table", lambda spark, sf_dir, name: df)


def test_curriculum_single_doc_language_is_phase_1(spark, monkeypatch):
    """One document in a language: all three quartile cuts equal its
    token count, so <=q1 fires and the document lands in phase 1 —
    not 4, and not an error."""
    docs = spark.createDataFrame(
        [(1, "one two three", "xx", "s", 13), (2, "a b", "yy", "s", 3), (3, "c d e f", "yy", "s", 7)],
        DOC_SCHEMA,
    )
    _patch(monkeypatch, training_mod, docs)
    rows = {r.doc_id: r for r in all_queries()["curriculum_length_phases"].fn(spark, "ignored").collect()}
    assert rows[1].phase == 1
    # two-doc language: shorter doc phase 1; longer lands above the median
    assert rows[2].phase == 1 and rows[3].phase > 1


def test_temperature_single_source_weight_is_one(spark, monkeypatch):
    docs = spark.createDataFrame(
        [(1, "alpha beta", "xx", "only", 10), (2, "gamma", "xx", "only", 5)],
        DOC_SCHEMA,
    )
    _patch(monkeypatch, training_mod, docs)
    rows = all_queries()["sample_temperature"].fn(spark, "ignored").collect()
    assert len(rows) == 1
    assert rows[0].raw_share == 1.0 and rows[0].temp_weight == 1.0


def test_temperature_flattens_toward_uniform(spark, monkeypatch):
    """sqrt scaling must pull the dominant source's weight BELOW its
    raw token share and lift the minority's above it."""
    big = " ".join(["tok"] * 90)
    small = " ".join(["tok"] * 10)
    docs = spark.createDataFrame(
        [(1, big, "xx", "crawl", 0), (2, small, "xx", "books", 0)], DOC_SCHEMA
    )
    _patch(monkeypatch, training_mod, docs)
    rows = {r.source: r for r in all_queries()["sample_temperature"].fn(spark, "ignored").collect()}
    assert rows["crawl"].temp_weight < rows["crawl"].raw_share
    assert rows["books"].temp_weight > rows["books"].raw_share
    assert abs(rows["crawl"].temp_weight + rows["books"].temp_weight - 1.0) < 1e-12


def test_novelty_all_duplicates(spark, monkeypatch):
    """Identical documents: the smallest doc_id owns every shingle
    (novelty 1.0), every copy scores 0.0."""
    text = "alpha beta gamma delta epsilon"
    docs = spark.createDataFrame(
        [(i, text, "xx", "s", len(text)) for i in (7, 3, 9)], DOC_SCHEMA
    )
    import mapreducegcp_spark.operators.dedup as dedup_mod

    _patch(monkeypatch, dedup_mod, docs)
    rows = {r.doc_id: r for r in all_queries()["text_ngram_novelty"].fn(spark, "ignored").collect()}
    assert rows[3].novelty == 1.0
    assert rows[7].novelty == 0.0 and rows[9].novelty == 0.0


def test_novelty_short_docs_absent(spark, monkeypatch):
    """Documents under 3 tokens contribute no shingles and are absent
    from the result (matching the oracle), not zero-rows."""
    docs = spark.createDataFrame(
        [(1, "just two", "xx", "s", 8), (2, "one two three four", "xx", "s", 18)],
        DOC_SCHEMA,
    )
    import mapreducegcp_spark.operators.dedup as dedup_mod

    _patch(monkeypatch, dedup_mod, docs)
    rows = {r.doc_id for r in all_queries()["text_ngram_novelty"].fn(spark, "ignored").collect()}
    assert rows == {2}


def test_bpe_single_char_words_excluded(spark, monkeypatch):
    """Single-character words produce no pairs; pair weights are
    vocabulary counts weighted by word frequency."""
    docs = spark.createDataFrame(
        [(1, "a a a ab ab b", "xx", "s", 0)], DOC_SCHEMA
    )
    _patch(monkeypatch, textstats_mod, docs)
    rows = {r.pair: r.weight for r in all_queries()["bpe_pair_counts"].fn(spark, "ignored").collect()}
    assert rows == {"ab": 2}


def test_hashing_tf_total_mass_equals_token_count(spark, monkeypatch):
    """The hashed features partition the token stream: per-doc sum of
    tf equals the doc's token count regardless of collisions."""
    docs = spark.createDataFrame(
        [(1, "w x y z w", "xx", "s", 0), (2, "", "xx", "s", 0)], DOC_SCHEMA
    )
    _patch(monkeypatch, training_mod, docs)
    out = all_queries()["feature_hashing_tf"].fn(spark, "ignored").collect()
    by_doc: dict[int, int] = {}
    for r in out:
        by_doc[r.doc_id] = by_doc.get(r.doc_id, 0) + r.tf
        assert 0 <= r.feature < training_mod.FEATURE_DIM
    assert by_doc == {1: 5}  # empty doc contributes nothing


def test_drift_zero_reference_bin_is_null_not_crash(spark, monkeypatch):
    """A bin with current rows but NO reference rows has zero expected
    mass: chi2_term must be NULL (DuckDB's x/0 semantics), not an ANSI
    DIVIDE_BY_ZERO crash. Reference values all 0.00 collapse every
    quartile cut to 0, so the one current row at 1.00 lands alone in
    the top bin. (event_ids chosen so md5(id||':drift') buckets put
    1,3,4,5 in the reference slice and 0 in the current slice.)"""
    import datetime

    import mapreducegcp_spark.operators.sampling as sampling_mod

    ts = datetime.datetime(2026, 1, 1)
    rows = [(eid, ts, 1, "view", 0.0, "{}") for eid in (1, 3, 4, 5)]
    rows.append((0, ts, 1, "view", 1.0, "{}"))
    events = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    monkeypatch.setattr(sampling_mod, "load_table", lambda s, d, n: events)
    out = {r.bin: r for r in all_queries()["dq_distribution_drift"].fn(spark, "ignored").collect()}
    hot = out[3]
    assert hot.n_ref == 0 and hot.n_cur == 1
    assert hot.chi2_term is None


def test_leakage_audit_measures_precedence_residual(spark, monkeypatch):
    """The exact-over-near precedence can split one near-dup cluster
    across group keys (an exact-dup group nested in a larger cluster
    takes the exact rep) — so the group-keyed count is MEASURED, not
    assumed zero. Reviewer-reproduced corpus: doc 8 is the base, doc 9
    its exact duplicate, doc 1 a near-dup of both; the audit's safe
    count must equal the straddle count computed directly from
    split_leakage_safe's own assignments."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    near = base + "extra tail token"
    docs = spark.createDataFrame(
        [(1, near, "en", "s", len(near)), (8, base, "en", "s", len(base)),
         (9, base, "en", "s", len(base))],
        DOC_SCHEMA,
    )
    import mapreducegcp_spark.operators.dedup as dedup_mod
    import mapreducegcp_spark.operators.pipeline as pipeline_mod

    _patch(monkeypatch, dedup_mod, docs)
    _patch(monkeypatch, pipeline_mod, docs)
    audit = all_queries()["split_leakage_audit"].fn(spark, "ignored").collect()[0]
    pairs = {
        (r.doc_a, r.doc_b)
        for r in dedup_mod.q_dedup_ngram_jaccard(spark, "ignored").collect()
    }
    splits = {
        r.doc_id: r.split
        for r in pipeline_mod.q_split_leakage_safe(spark, "ignored").collect()
    }
    expect_safe = sum(1 for a, b in pairs if splits[a] != splits[b])
    assert audit.n_near_dup_pairs == len(pairs) > 0
    assert audit.group_keyed_cross_split_pairs == expect_safe


def test_funnel_is_one_scan(spark):
    """pipeline_filter_funnel's docstring claims ONE scan: the plan
    must contain exactly one parquet scan of documents (the old
    union-of-aggs shape ran four)."""
    import re

    df = all_queries()["pipeline_filter_funnel"].fn(spark, "/root/testdata/sf0.001")
    tree = df._jdf.queryExecution().executedPlan().toString()
    scans = len(re.findall(r"Scan parquet|FileScan parquet", tree))
    assert scans == 1, tree[:1500]


def test_bpe_trainer_greedy_merge_semantics(spark, monkeypatch):
    """'abab' x3 + 'aab' x1: round 1 must pick ('a','b') (weight 7 —
    two occurrences per 'abab'), and applying it greedily turns 'abab'
    into [ab, ab] so round 2 sees pair (ab, ab) with weight 3."""
    docs = spark.createDataFrame(
        [(1, "abab abab abab aab", "en", "s", 18)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    monkeypatch.setattr(textstats_mod, "load_table", lambda *a, **k: docs)
    rows = {
        r.round: (r.left_sym, r.right_sym, r.merged, r.weight)
        for r in textstats_mod.q_bpe_train_merges(spark, "ignored").collect()
    }
    assert rows[1] == ("a", "b", "ab", 7)
    assert rows[2] == ("ab", "ab", "abab", 3)


def test_bpe_batched_selection_is_nonconflicting(spark, monkeypatch):
    """Disjoint-alphabet corpus: 'ab' and 'cd' share no symbol, so ONE
    round must learn both merges (batched selection), ranked by weight
    then lexicographically; 'ba' conflicts with the (a,b) pick (shares
    both symbols) and must be left for never (after the batch applies,
    no adjacent b,a remains in any word)."""
    docs = spark.createDataFrame(
        [(1, "ab ab ab cd cd ba", "en", "s", 17)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    monkeypatch.setattr(textstats_mod, "load_table", lambda *a, **k: docs)
    rows = textstats_mod.q_bpe_train_merges(spark, "ignored").collect()
    r1 = [(r.merge_rank, r.left_sym, r.right_sym, r.weight)
          for r in rows if r.round == 1]
    assert r1 == [(1, "a", "b", 3), (2, "c", "d", 2)]
    # (b,a) shared symbols with pick #1 -> excluded from round 1; the
    # standalone word 'ba' still admits it in round 2
    assert [(r.left_sym, r.right_sym) for r in rows if r.round == 2] == [("b", "a")]


def test_bpe_merges_per_sync_contract():
    """Batching is the scale story: >=64 merges must be learnable in
    <=8 driver syncs (one sync per round) — VERDICT r5 ask #4."""
    assert textstats_mod._BPE_TRAIN_ROUNDS <= 8
    assert textstats_mod._BPE_TRAIN_ROUNDS * textstats_mod._BPE_BATCH >= 64


def test_bpe_learns_64_merges_on_real_corpus(spark, sf_dir):
    """The capacity contract must be exercised, not just configured:
    on the real sf0.001 documents corpus the trainer must emit >=64
    merges within its <=8 rounds, and no round may exceed the batch
    cap or pick conflicting rules (shared left/right/merged)."""
    rows = textstats_mod.q_bpe_train_merges(spark, sf_dir).collect()
    assert len(rows) >= 64, len(rows)
    by_round: dict[int, list] = {}
    for r in rows:
        by_round.setdefault(r.round, []).append(r)
    assert len(by_round) <= textstats_mod._BPE_TRAIN_ROUNDS
    for rnd, batch in by_round.items():
        assert len(batch) <= textstats_mod._BPE_BATCH
        used: set[str] = set()
        for r in sorted(batch, key=lambda x: x.merge_rank):
            assert not ({r.left_sym, r.right_sym, r.merged} & used), (rnd, r)
            used.update((r.left_sym, r.right_sym, r.merged))


def test_bpe_encode_compresses_and_bounds(spark, monkeypatch):
    """Encoded symbol count is bounded by [n_words, n_chars] and the
    learned merges actually compress the dominant word."""
    docs = spark.createDataFrame(
        [(1, "abab abab cd", "en", "s", 12), (2, "abab", "en", "s", 4)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    monkeypatch.setattr(textstats_mod, "load_table", lambda *a, **k: docs)
    out = {r.doc_id: r for r in textstats_mod.q_bpe_encode_corpus(spark, "ignored").collect()}
    # doc 2: one word 'abab' -> 4 merge rounds collapse it to 1 symbol
    assert out[2].n_words == 1
    assert out[2].n_bpe_symbols == 1
    # doc 1: words never blow past their char counts, never under word count
    assert out[1].n_words == 3
    assert out[1].n_words <= out[1].n_bpe_symbols <= 10


def test_span_corruption_budget_identity(spark, monkeypatch):
    """input_len + target_len == n_tokens + 2 * n_spans_masked (each
    masked span adds one sentinel to each side), and the mask is a
    pure function of doc_id — rerunning yields identical rows."""
    docs = spark.createDataFrame(
        [(i, "one two three four five six seven", "en", "s", 33) for i in range(20)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    monkeypatch.setattr(training_mod, "load_table", lambda *a, **k: docs)
    q = all_queries()["mask_span_corruption"].fn
    rows = {r.doc_id: r for r in q(spark, "ignored").collect()}
    again = {r.doc_id: r for r in q(spark, "ignored").collect()}
    assert rows.keys() == again.keys()
    for k in rows:
        r = rows[k]
        assert tuple(r) == tuple(again[k])
        assert r.input_len + r.target_len == r.n_tokens + 2 * r.n_spans_masked
        assert 0 <= r.n_masked <= r.n_tokens


def test_dataset_card_majority_lang_tiebreak(spark, monkeypatch):
    """2-2 lang tie resolves to the lexicographically LARGER lang (the
    count-then-lang sortable-string argmax), dup fraction counts exact
    text copies only."""
    docs = spark.createDataFrame(
        [
            (1, "x y", "en", "s1", 3),
            (2, "x y", "de", "s1", 3),   # exact dup of doc 1
            (3, "a b", "de", "s1", 3),
            (4, "c d", "en", "s1", 3),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    monkeypatch.setattr(training_mod, "load_table", lambda *a, **k: docs)
    r = all_queries()["dataset_card_stats"].fn(spark, "ignored").collect()[0]
    assert r.source == "s1"
    assert r.n_docs == 4 and r.n_exact_dups == 1
    assert r.n_langs == 2 and r.majority_lang == "en"  # 2-2 tie -> lex max


def test_classifier_separates_synthetic_signal(spark, monkeypatch):
    """A corpus with REAL lexical signal (disjoint vocabularies per
    class) must be separated perfectly by the trained scorer: every
    'en' doc above threshold, every other doc below."""
    rows = []
    for i in range(8):
        rows.append((i, "alpha beta gamma delta " * 3, "en", "s", 92))
    for i in range(8, 16):
        rows.append((i, "uno dos tres cuatro " * 3, "es", "s", 80))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    monkeypatch.setattr(training_mod, "load_table", lambda *a, **k: docs)
    out = {r.doc_id: r for r in
           training_mod.q_quality_classifier_scores(spark, "ignored").collect()}
    assert len(out) == 16
    for i in range(8):
        assert out[i].label == 1 and out[i].predicted == 1
    for i in range(8, 16):
        assert out[i].label == 0 and out[i].predicted == 0
    # positive-class scores strictly dominate
    assert min(out[i].score_nano for i in range(8)) > max(
        out[i].score_nano for i in range(8, 16)
    )


def test_classifier_single_class_corpus_degenerates_safely(spark, monkeypatch):
    """All-positive corpus: no negative examples -> all weights zero,
    score 0, nothing predicted positive (0 > 0 is false) — no
    NaN/NULL divergence."""
    docs = spark.createDataFrame(
        [(i, "alpha beta", "en", "s", 10) for i in range(4)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    monkeypatch.setattr(training_mod, "load_table", lambda *a, **k: docs)
    rows = training_mod.q_quality_classifier_scores(spark, "ignored").collect()
    assert len(rows) == 4
    assert all(r.score_nano == 0 and r.predicted == 0 for r in rows)


def test_classifier_funnel_stages_chain(spark, monkeypatch):
    """Stage 1's n_in must equal stage 0's n_kept, and every count is
    monotone non-increasing down the funnel."""
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma", "en" if i % 2 else "de", "s",
          150 + 100 * (i % 3)) for i in range(12)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    monkeypatch.setattr(training_mod, "load_table", lambda *a, **k: docs)
    stages = {r.stage_idx: r for r in
              training_mod.q_quality_classifier_funnel(spark, "ignored").collect()}
    assert stages[0].stage == "min_chars" and stages[1].stage == "classifier"
    assert stages[1].n_in == stages[0].n_kept
    assert stages[0].n_in >= stages[0].n_kept >= stages[1].n_kept


def test_classifier_decimal_midpoint_survives_int64_overflow(spark, monkeypatch):
    """VERDICT r5 ask #3: the midpoint rule's cross-products
    (thr2 = sum(wq*(s1*n0+s0*n1)); score_nano*2*n1*n0) exhaust int64
    around 50k docs. The fix routes them through DECIMAL(38,0) on the
    Spark side and HUGEINT in the DuckDB oracle. This drives the
    sufficient statistics PAST 2**63 with a synthetic, perfectly
    separable corpus and asserts (a) the cross-products really do
    overflow int64, (b) Spark and DuckDB agree row for row, (c) the
    predictions are the obviously-correct separation — i.e. the old
    wrapped-int64 path (which flipped comparisons) is gone."""
    import duckdb
    import pandas as pd

    n_pos, n_neg, reps = 500, 500, 5000
    pos_text = ("zqx " * reps).strip()
    neg_text = "wvu wvu wvu"
    rows = [(i, pos_text, "en", "s", len(pos_text)) for i in range(n_pos)] + [
        (n_pos + i, neg_text, "xx", "s", len(neg_text)) for i in range(n_neg)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    monkeypatch.setattr(training_mod, "load_table", lambda *a, **k: docs)
    got = {
        r.doc_id: (r.label, r.score_nano, r.predicted)
        for r in training_mod.q_quality_classifier_scores(spark, "ignored").collect()
    }
    assert len(got) == n_pos + n_neg
    # (c) exact separation: every 'en' doc predicted 1, every other 0
    for doc_id, (label, _score, predicted) in got.items():
        assert predicted == label, f"doc {doc_id}: predicted {predicted} != {label}"

    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source", "n_chars"]),
    )
    chain = training_mod._clf_chain_sql()
    oracle = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute(
            f"WITH {chain} SELECT doc_id, label, score_nano, predicted FROM scored"
        ).fetchall()
    }
    assert got == oracle  # (b) cross-engine row-for-row agreement
    # (a) the int64 path would have overflowed: both cross-products > 2**63
    thr2 = int(con.execute(f"WITH {chain} SELECT CAST(t.thr2 AS VARCHAR) FROM thr t").fetchone()[0])
    max_score_prod = int(
        con.execute(
            f"WITH {chain} SELECT CAST(max(abs(CAST(score_nano AS HUGEINT) * ((CAST(2 AS HUGEINT) * c.n1) * c.n0))) AS VARCHAR) FROM scored, cls c"
        ).fetchone()[0]
    )
    assert abs(thr2) > 2**63, thr2
    assert max_score_prod > 2**63, max_score_prod


def test_dsir_separable_corpus_selects_targetlike(spark, monkeypatch):
    """Target-language docs use 'alpha', raw-only docs use 'beta'
    (distinct md5 buckets, verified): the LLR must push alpha-docs to
    positive log-weight (selected) and beta-docs negative — the
    steering property that IS DSIR."""
    docs = spark.createDataFrame(
        [
            (1, "alpha alpha alpha", "en", "s", 0),
            (2, "alpha alpha", "en", "s", 0),
            (3, "beta beta beta", "de", "s", 0),
            (4, "beta beta", "fr", "s", 0),
        ],
        DOC_SCHEMA,
    )
    _patch(monkeypatch, training_mod, docs)
    rows = {
        r.doc_id: r
        for r in all_queries()["sample_dsir_importance"].fn(spark, "x").collect()
    }
    assert rows[1].logw_nano > 0 and rows[1].selected
    assert rows[2].logw_nano > 0 and rows[2].selected
    assert rows[3].logw_nano < 0 and not rows[3].selected
    assert rows[4].logw_nano < 0 and not rows[4].selected
    # weight accumulates per token: more alpha tokens -> larger weight
    assert rows[1].logw_nano > rows[2].logw_nano


def test_dsir_alltarget_corpus_is_neutral(spark, monkeypatch):
    """When every doc is in the target language the target and raw
    models coincide (ct == cr, Tt == Tr), every bucket's LLR is
    exactly 0, and no document is 'selected' — degenerate input, not
    an error or a spurious all-pass."""
    docs = spark.createDataFrame(
        [(1, "alpha beta", "en", "s", 0), (2, "gamma", "en", "s", 0)],
        DOC_SCHEMA,
    )
    _patch(monkeypatch, training_mod, docs)
    rows = all_queries()["sample_dsir_importance"].fn(spark, "x").collect()
    assert all(r.logw_nano == 0 and not r.selected for r in rows)


def test_token_budget_single_source_epochs(spark, monkeypatch):
    """One source: temperature weight is exactly 1.0, so the whole
    4x budget lands on it — fresh = corpus mass, repeated = 3x (the
    epoch arithmetic in the exact-integer domain)."""
    docs = spark.createDataFrame(
        [(1, "a b c d", "en", "only", 0), (2, "e f", "en", "only", 0)],
        DOC_SCHEMA,
    )
    _patch(monkeypatch, training_mod, docs)
    rows = all_queries()["pipeline_token_budget_plan"].fn(spark, "x").collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.n_tokens == 6 and r.temp_weight == 1.0
    assert r.allocated_tokens == 24
    assert r.fresh_tokens == 6 and r.repeated_tokens == 18


def test_token_budget_allocation_conserves_and_splits(spark, monkeypatch):
    """Two sources: allocations sum to the budget within rounding (one
    round() per source), and fresh+repeated == allocated per source
    with fresh capped at the source's own mass."""
    big = " ".join(["tok"] * 90)
    small = " ".join(["tok"] * 10)
    docs = spark.createDataFrame(
        [(1, big, "en", "crawl", 0), (2, small, "en", "books", 0)], DOC_SCHEMA
    )
    _patch(monkeypatch, training_mod, docs)
    rows = {
        r.source: r
        for r in all_queries()["pipeline_token_budget_plan"].fn(spark, "x").collect()
    }
    total_alloc = sum(r.allocated_tokens for r in rows.values())
    assert abs(total_alloc - 4 * 100) <= len(rows)  # one round() each
    for r in rows.values():
        assert r.fresh_tokens + r.repeated_tokens == r.allocated_tokens
        assert r.fresh_tokens <= r.n_tokens
    # temperature: the small source is over-sampled relative to share
    assert rows["books"].repeated_tokens > 0


def test_bpe_merges_train_once_per_corpus(spark, monkeypatch):
    """The trained merge table is a per-corpus artifact (like the IVF
    centroids): encode/fertility/tokenizer-dataset share ONE training
    run per corpus per process — re-training per query was ~2.7s of
    every BPE-family invocation at sf0.1. Freshness keys on the
    documents table's payload bytes, so a regenerated corpus retrains."""
    import mapreducegcp_spark.functions.memo as memo
    import mapreducegcp_spark.operators.textstats as ts

    calls = {"n": 0}
    real = ts.q_bpe_train_merges

    def counting(spark_, sf_dir_):
        calls["n"] += 1
        return real(spark_, sf_dir_)

    monkeypatch.setattr(ts, "q_bpe_train_merges", counting)
    monkeypatch.setattr(memo, "_ENTRIES", {})
    d = "/root/testdata/sf0.001"
    a = ts._encoded_vocab(spark, d).count()
    b = ts._encoded_vocab(spark, d).count()
    assert a == b > 0
    assert calls["n"] == 1, "second consumer must reuse the trained merges"
