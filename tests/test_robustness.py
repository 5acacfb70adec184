"""Edge-input behavior and observability.

Operators must degrade to empty/NULL results — never throw — when a
filter leaves nothing behind, and pipelines expose row-level metrics
through the Observation API without a second pass over the data.
"""

from pyspark.sql import Observation
from pyspark.sql import functions as F

from mapreducegcp_spark.registry import all_queries
from mapreducegcp_spark.sources.catalog import load_table

SF_DIR = "/root/testdata/sf0.001"


def _empty_docs(spark):
    return (
        load_table(spark, SF_DIR, "documents").filter(F.lit(False))
    )


def test_wordcount_on_empty_corpus(spark, monkeypatch):
    import mapreducegcp_spark.operators.wordcount as wc

    empty = _empty_docs(spark)
    monkeypatch.setattr(wc, "load_table", lambda *a, **k: empty)
    assert all_queries()["wordcount"].fn(spark, SF_DIR).count() == 0


def test_jaccard_on_empty_corpus(spark, monkeypatch):
    import mapreducegcp_spark.operators.dedup as dd

    empty = _empty_docs(spark)
    monkeypatch.setattr(dd, "load_table", lambda *a, **k: empty)
    assert all_queries()["dedup_ngram_jaccard"].fn(spark, SF_DIR).count() == 0


def test_asof_with_no_clicks(spark, monkeypatch):
    import mapreducegcp_spark.operators.timeseries as ts

    ev = load_table(spark, SF_DIR, "events").filter(F.col("event_type") != "click")
    monkeypatch.setattr(ts, "load_table", lambda *a, **k: ev)
    out = all_queries()["asof_join_last_click"].fn(spark, SF_DIR)
    rows = out.collect()
    assert rows  # purchases still present
    assert all(r.last_click_us is None and r.gap_us is None for r in rows)


def test_shingle_queries_on_sub_k_token_docs(spark, monkeypatch):
    # docs shorter than SHINGLE_K tokens must contribute no shingles —
    # the naive sequence(1, size-k+1) yields the DESCENDING [1, 0] for
    # them and element_at(toks, 0) throws INVALID_INDEX_OF_ZERO
    import mapreducegcp_spark.operators.dedup as dd

    short = spark.createDataFrame(
        [(900001, "one two"), (900002, "solo"), (900003, ""), (900004, "a b c")],
        "doc_id long, text string",
    )
    monkeypatch.setattr(dd, "load_table", lambda *a, **k: short)
    pairs = all_queries()["dedup_ngram_jaccard"].fn(spark, SF_DIR).collect()
    assert pairs == []  # only the 3-token doc shingles; no pairs, no crash


def test_frame_sample_on_empty_payload(spark, monkeypatch):
    # zero-length payload => 0 frames and 0 sampled (sequence(0, -1)
    # would otherwise produce a phantom frame 0)
    import mapreducegcp_spark.operators.multimodal as mm

    docs = spark.createDataFrame(
        [(900001, ""), (900002, "x" * 40)], "doc_id long, text string"
    )
    monkeypatch.setattr(mm, "load_table", lambda *a, **k: docs)
    rows = {
        r.doc_id: r
        for r in all_queries()["multimodal_frame_sample"].fn(spark, SF_DIR).collect()
    }
    assert rows[900001].n_frames == 0 and rows[900001].n_sampled == 0
    assert rows[900002].n_frames == 3 and rows[900002].n_sampled == 1


def test_observe_emits_metrics_without_second_pass(spark):
    # Observation metrics ride the same action as the result — the
    # pattern for row-count / quality accounting in production sinks
    docs = load_table(spark, SF_DIR, "documents")
    obs = Observation("corpus")
    observed = docs.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.length("text")).alias("n_chars"),
    )
    kept = observed.filter(F.col("lang") == "en").count()
    assert obs.get["n_rows"] == docs.count()
    assert obs.get["n_chars"] > 0
    assert 0 < kept <= obs.get["n_rows"]


def test_repetition_filter_on_degenerate_docs(spark, monkeypatch):
    # empty text, whitespace-only, and single-token docs must not crash;
    # docs with zero tokens drop out (no token stats row), matching the
    # oracle's inner-join semantics
    import mapreducegcp_spark.operators.textstats as tx

    docs = spark.createDataFrame(
        [
            (1, "the the the the the the"),  # top-token mass 1.0 -> drop
            (2, ""),                          # zero tokens -> absent
            (3, "   \n  \n "),                # whitespace only -> absent
            (4, "one two three four five six"),
        ],
        "doc_id long, text string",
    )
    monkeypatch.setattr(tx, "load_table", lambda *a, **k: docs)
    rows = {r.doc_id: r for r in
            all_queries()["text_repetition_filter"].fn(spark, SF_DIR).collect()}
    assert set(rows) == {1, 4}
    assert rows[1].keep is False and rows[1].top_token_frac == 1.0
    assert rows[4].keep is True


def test_chunker_on_empty_payload(spark, monkeypatch):
    import mapreducegcp_spark.operators.multimodal as mm

    docs = spark.createDataFrame(
        [(1, ""), (2, "x" * 256), (3, "y" * 257)], "doc_id long, text string"
    )
    monkeypatch.setattr(mm, "load_table", lambda *a, **k: docs)
    rows = all_queries()["multimodal_chunk_payload"].fn(spark, SF_DIR).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert 1 not in by_doc            # empty payload -> zero chunks, no crash
    assert len(by_doc[2]) == 1 and by_doc[2][0].chunk_bytes == 256
    assert len(by_doc[3]) == 2
    assert sorted(c.chunk_bytes for c in by_doc[3]) == [1, 256]


def test_cdc_single_and_tied_rows(spark, monkeypatch):
    import mapreducegcp_spark.operators.timeseries as ts

    ev = spark.createDataFrame(
        [
            (10, "2020-01-01 00:00:00", 7, "a", 1.0),
            (11, "2020-01-01 00:00:00", 7, "b", 2.0),  # same ts: higher id wins
            (12, "2020-01-02 00:00:00", 8, "c", 3.0),
        ],
        "event_id long, ts string, user_id long, event_type string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    monkeypatch.setattr(ts, "load_table", lambda *a, **k: ev)
    rows = {r.user_id: r for r in
            all_queries()["cdc_latest_snapshot"].fn(spark, SF_DIR).collect()}
    assert rows[7].event_id == 11 and rows[7].event_type == "b"
    assert rows[8].event_id == 12


def test_twa_single_event_user_drops_out(spark, monkeypatch):
    # a user with one event has no interval -> no TWA row (not a crash,
    # not a divide-by-zero)
    import mapreducegcp_spark.operators.timeseries as ts

    ev = spark.createDataFrame(
        [
            (1, "2020-01-01 00:00:00", 1, "a", 10.0),
            (2, "2020-01-01 01:00:00", 1, "a", 20.0),
            (3, "2020-01-01 00:00:00", 2, "a", 5.0),
        ],
        "event_id long, ts string, user_id long, event_type string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    monkeypatch.setattr(ts, "load_table", lambda *a, **k: ev)
    rows = {r.user_id: r for r in
            all_queries()["time_weighted_avg"].fn(spark, SF_DIR).collect()}
    assert set(rows) == {1}
    assert rows[1].twa_value == 10.0  # value holds over the single interval


def test_fuzzy_join_blocking_is_exact(spark, monkeypatch):
    # deletion-neighborhood blocking must find substitutions, indels,
    # and equal-length swaps at distance 1 — and must NOT emit the
    # distance-2 pair even though it shares no verification shortcut
    import mapreducegcp_spark.operators.relational  # noqa: F401 (registry)
    import mapreducegcp_spark.operators.dedup as dd

    names = spark.createDataFrame(
        [("abc",), ("abd",), ("abcd",), ("xbd",), ("zzzz",)], "p_name string"
    )
    monkeypatch.setattr(dd, "load_table", lambda *a, **k: names)
    rows = {
        (r.name_a, r.name_b)
        for r in all_queries()["fuzzy_join_part_names"].fn(spark, SF_DIR).collect()
    }
    assert ("abc", "abd") in rows          # substitution
    assert ("abc", "abcd") in rows         # insertion
    assert ("abcd", "abd") in rows         # deletion mid-string ('abcd' < 'abd')
    assert ("abd", "xbd") in rows          # substitution at pos 0
    assert ("abc", "xbd") not in rows      # distance 2 (two substitutions)
    assert all("zzzz" not in pair for pair in rows)


def test_python_sink_empty_input(spark, monkeypatch):
    # an empty aggregate must write no files and read back as an empty
    # frame with the declared schema (not crash on the empty directory)
    # (the sink is registered on the builder's fork, so the empty events
    # frame is built on the session the builder hands to load_table)
    import mapreducegcp_spark.sources.catalog as cat
    real = cat.load_table
    monkeypatch.setattr(
        cat, "load_table",
        lambda s, d, n: real(s, d, n).filter(F.lit(False)) if n == "events" else real(s, d, n),
    )
    out = all_queries()["sink_python_datasource"].fn(spark, SF_DIR)
    assert out.count() == 0
    assert [f[0] for f in out.dtypes] == ["event_type", "n", "total_cents"]


def test_bloom_prefilter_with_empty_build_side(spark):
    """An empty dimension side must yield an all-zero bitmap that
    prunes EVERYTHING (no false 'might contain'), and the downstream
    join returns no rows rather than throwing."""
    from mapreducegcp_spark.operators.sketches import bloom_build, bloom_might_contain

    empty = load_table(spark, SF_DIR, "orders").filter(F.lit(False))
    bitmap = bloom_build(empty, "o_orderkey")
    assert all(w == 0 for w in bitmap)
    li = load_table(spark, SF_DIR, "lineitem")
    assert li.where(bloom_might_contain(bitmap, F.col("l_orderkey"))).count() == 0


def test_chunking_short_and_empty_docs(spark, monkeypatch):
    """Docs shorter than one window produce exactly one (short) chunk;
    zero-token docs produce none — matching the oracle's WHERE n > 0."""
    import mapreducegcp_spark.operators.training as tr

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, ""), (3, "...!!!")],
        "doc_id long, text string",
    )
    monkeypatch.setattr(tr, "load_table", lambda *a, **k: docs)
    rows = all_queries()["chunk_text_sliding"].fn(spark, SF_DIR).collect()
    assert len(rows) == 1
    assert rows[0]["doc_id"] == 1 and rows[0]["n_chunk_tokens"] == 3


def test_weighted_median_single_row_groups(spark, monkeypatch):
    """A one-row group's weighted median is its own value (2*cum >=
    total holds for the only row)."""
    import mapreducegcp_spark.operators.aggregates as ag

    li = spark.createDataFrame(
        [("A", 10.0, 5.0), ("B", 7.5, 1.0)],
        "l_returnflag string, l_extendedprice double, l_quantity double",
    )
    monkeypatch.setattr(ag, "load_table", lambda *a, **k: li)
    got = {
        r["l_returnflag"]: r["weighted_median_price"]
        for r in all_queries()["agg_weighted_median"].fn(spark, SF_DIR).collect()
    }
    assert got == {"A": 10.0, "B": 7.5}


def test_trigram_search_no_match(spark, monkeypatch):
    """A corpus without the pattern returns an empty result through the
    whole index->verify path (no false positives survive)."""
    import mapreducegcp_spark.operators.textstats as tx

    docs = spark.createDataFrame(
        [(1, "nothing relevant here"), (2, "sca n sl ow fa st broken up")],
        "doc_id long, text string",
    )
    monkeypatch.setattr(tx, "load_table", lambda *a, **k: docs)
    assert all_queries()["search_trigram_index"].fn(spark, SF_DIR).count() == 0


def test_bigram_xent_on_short_docs(spark, monkeypatch):
    """Docs with <2 tokens produce no bigrams and must be ABSENT from
    the LM scoring output (not crash, not emit nulls); multi-token
    docs still score."""
    import mapreducegcp_spark.operators.textstats as tx

    docs = spark.createDataFrame(
        [
            (1, "one"),
            (2, ""),
            (3, "two tokens here and more words follow"),
            (4, "two tokens"),
        ],
        "doc_id long, text string",
    )
    monkeypatch.setattr(tx, "load_table", lambda *a, **k: docs)
    out = tx.q_text_bigram_xent(spark, SF_DIR).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert set(by_id) == {3, 4}
    assert by_id[4]["n_bigrams"] == 1
    assert all(r["xent_nats"] > 0 for r in out)


def test_two_phase_components_empty_and_self_pairs(spark):
    """Self-pairs are ignored; an empty pair set yields empty labels."""
    from mapreducegcp_spark.operators.dedup import two_phase_components

    selfs = spark.createDataFrame([(7, 7), (1, 2)], "a long, b long")
    out = two_phase_components(selfs, "a", "b").collect()
    assert {(r["node"], r["cluster_id"]) for r in out} == {(1, 1), (2, 1)}

    empty = spark.createDataFrame([], "a long, b long")
    assert two_phase_components(empty, "a", "b").count() == 0


def test_arrow_minhash_udf_matches_columnar_batch_path(spark):
    """The streaming LSH's Python/Arrow signature stage (hashlib md5 +
    numpy fold) must produce BIT-IDENTICAL signatures to the JVM
    columnar path (md5 expr + groupBy min fold) — the cross-engine
    hash-family contract; short/empty/null docs yield null."""
    from mapreducegcp_spark.operators.dedup import (
        _MOD,
        MINHASH_K,
        minhash_signatures,
        shingles,
    )
    from mapreducegcp_spark.functions.text import tokens
    from mapreducegcp_spark.streaming.events import _make_doc_minhash_udf

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "to be"),          # < 3 tokens -> null
            (3, ""),               # empty -> null
            (4, None),             # null -> null
            (5, "numbers 123 split tokens here so shingling still works fine"),
        ],
        "doc_id long, text string",
    )
    udf_sig = {
        r["doc_id"]: r["sig"]
        for r in docs.select(
            "doc_id", _make_doc_minhash_udf(MINHASH_K, _MOD)("text").alias("sig")
        ).collect()
    }
    assert udf_sig[2] is None and udf_sig[3] is None and udf_sig[4] is None

    sh = docs.select("doc_id", tokens("text").alias("toks")).select(
        "doc_id", F.explode(shingles("toks")).alias("shingle")
    )
    jvm_sig = {
        r["doc_id"]: [r[f"m{i}"] for i in range(MINHASH_K)]
        for r in minhash_signatures(sh).collect()
    }
    for doc_id in (1, 5):
        assert list(udf_sig[doc_id]) == jvm_sig[doc_id], doc_id


def test_fixed_k_samples_on_empty_corpus(spark, monkeypatch):
    """Both exactly-k samplers degrade to zero rows on an empty table."""
    import mapreducegcp_spark.operators.sampling as sp

    empty = _empty_docs(spark)
    monkeypatch.setattr(sp, "load_table", lambda *a, **k: empty)
    assert sp.q_sample_uniform_fixed_k(spark, SF_DIR).count() == 0
    assert sp.q_sample_fixed_k_per_group(spark, SF_DIR).count() == 0


def test_spark_decimal_to_double_cast_correct_past_2_53(spark):
    """Spark half of the o_dsum witness (DuckDB half:
    test_oracle_syntax.py): the engine's own decimal->double cast must
    be correctly rounded past the 2^53 scaled-integer boundary — this
    is what lets the oracle fix live entirely on the DuckDB side."""
    witness = "282529058707.179600"  # scaled int 2.8e17 >> 2^53
    val = spark.sql(
        f"SELECT CAST(SUM(CAST({witness} AS DECIMAL(18,6))) AS DOUBLE) AS v"
    ).first()["v"]
    assert val == float(witness)  # Python str->float is correctly rounded
