"""run_mapred facade: reference API parity over dir/file/string inputs."""

import json
import re
from collections import Counter

import pytest

from mapreducegcp_spark.plans.run_mapred import MapReduceEngine, json_sink

CORPUS = {
    "1.txt": "The quick brown fox jumps over the lazy dog's back.",
    "2.txt": "Don't count your chickens, count your words: words words!",
}


def _tokens(text: str) -> list[str]:
    # the reference tokenizer contract (Worker/Worker.py:11-12)
    return [t for t in re.sub(r"[^a-z]+", " ", text.lower()).split() if t]


@pytest.fixture(scope="module")
def corpus_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("corpus")
    for name, text in CORPUS.items():
        (d / name).write_text(text)
    return str(d)


@pytest.fixture()
def engine(spark):
    return MapReduceEngine(spark)


def test_wordcount_over_directory(engine, corpus_dir):
    uid = engine.init_cluster(3, 3)
    out = json.loads(engine.run_mapred(uid, corpus_dir, "WordCountMapper", "WordCountReducer"))
    want = Counter(t for text in CORPUS.values() for t in _tokens(text))
    assert out == dict(want)
    engine.destroy_cluster(uid)


def test_wordcount_over_literal_string(engine):
    uid = engine.init_cluster(1, 1)
    out = json.loads(
        engine.run_mapred(uid, "spark spark SPARK!", "WordCountMapper", "WordCountReducer")
    )
    assert out == {"spark": 3}


def test_literal_string_job_leaves_the_active_session(spark, engine):
    """The job's fork never becomes the thread's active session, which
    ``SparkSession.builder.getOrCreate()`` and pandas-on-Spark read."""
    jsession = type(spark)._get_j_spark_session_class(spark._jvm)
    before = jsession.getActiveSession()
    uid = engine.init_cluster(1, 2)
    engine.run_mapred(uid, "a b a", "WordCountMapper", "WordCountReducer")
    assert jsession.getActiveSession().equals(before)


def test_inverted_index_over_directory(engine, corpus_dir):
    uid = engine.init_cluster(2, 2)
    out = json.loads(
        engine.run_mapred(uid, corpus_dir, "InvertedIndexMapper", "InvertedIndexReducer")
    )
    # {word: {filename: count}} — Worker/Worker.py:30-41 shape
    counts = out["count"]
    assert len(counts) == 1
    (fname, n), = counts.items()
    assert fname.endswith("2.txt") and n == 2
    assert all(isinstance(v, dict) for v in out.values())


def test_custom_application_arrow_path(engine, corpus_dir):
    def mapper(text, filename):
        # self-contained: executors can't import this test module
        import re as _re

        toks = [t for t in _re.sub(r"[^a-z]+", " ", text.lower()).split() if t]
        return [(t, len(t)) for t in toks]

    def reducer(key, values):
        return {"n": len(values), "total_len": sum(values)}

    engine.register_application("TokenLen", mapper, reducer)
    uid = engine.init_cluster(2, 2)
    out = json.loads(engine.run_mapred(uid, corpus_dir, "TokenLen", "TokenLen"))
    assert out["words"] == {"n": 3, "total_len": 15}
    assert out["the"]["n"] == 2


def test_unknown_app_and_job_errors(engine):
    with pytest.raises(KeyError):
        engine.run_mapred("nope", "x", "WordCountMapper", "WordCountReducer")
    uid = engine.init_cluster(1, 1)
    with pytest.raises(KeyError):
        engine.run_mapred(uid, "x", "NoSuchMapper", "NoSuchReducer")


def test_output_path_and_json_sink(engine, corpus_dir, tmp_path, spark):
    uid = engine.init_cluster(2, 2)
    out_file = tmp_path / "wc.json"
    engine.run_mapred(uid, corpus_dir, "WordCountMapper", "WordCountReducer", str(out_file))
    assert json.loads(out_file.read_text())["the"] == 2

    from mapreducegcp_spark.operators.wordcount import word_count
    from mapreducegcp_spark.sources.catalog import docs_from_dir

    sink_dir = tmp_path / "wc_dir"
    json_sink(word_count(docs_from_dir(spark, corpus_dir)), str(sink_dir))
    rows = [json.loads(line) for f in sink_dir.glob("part-*.json") for line in f.read_text().splitlines()]
    assert {r["word"]: r["cnt"] for r in rows}["words"] == 3


# ------------------------------------------- the user-Python reduce stream


def _register_values_app(engine):
    """Register "Values": "key=json" tokens, a bare token is itself the
    key with value 1; the reducer returns the count and the sorted
    values. Defined locally: workers cannot import this test module."""

    def mapper(text, filename):
        import json as _json

        pairs = []
        for tok in text.split():
            key, sep, val = tok.partition("=")
            pairs.append((key, _json.loads(val) if sep else 1))
        return pairs

    def reducer(key, values):
        import json as _json

        return {"n": len(values), "values": sorted(values, key=_json.dumps)}

    engine.register_application("Values", mapper, reducer)
    return engine._apps["Values"]


@pytest.fixture()
def tiny_batches(spark):
    """Two-row Arrow batches over two shuffle partitions, so every key
    run with more than two values crosses a batch boundary."""
    keys = ("spark.sql.execution.arrow.maxRecordsPerBatch", "spark.sql.shuffle.partitions")
    saved = {k: spark.conf.get(k) for k in keys}
    spark.conf.set(keys[0], "2")
    spark.conf.set(keys[1], "2")
    try:
        yield
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def _reduce_rows(spark, engine, text):
    from mapreducegcp_spark.sources.catalog import docs_from_string

    df = engine._generic_mapred(docs_from_string(spark, text), _register_values_app(engine))
    return [(r["key"], json.loads(r["value"])) for r in df.collect()], df


def test_reduce_hot_key_across_batches_is_one_call(spark, engine, tiny_batches):
    text = " ".join(["hot"] * 25 + ["a", "b"] + ["hot"] * 25 + ["a"])
    rows, _ = _reduce_rows(spark, engine, text)
    keys = [k for k, _ in rows]
    assert sorted(keys) == ["a", "b", "hot"], keys  # each key exactly once
    got = dict(rows)
    assert got["hot"] == {"n": 50, "values": [1] * 50}
    assert got["a"]["n"] == 2 and got["b"]["n"] == 1


def test_reduce_every_key_once_with_odd_keys_and_values(spark, engine, tiny_batches):
    words = [f"w{i % 7}" for i in range(40)]
    text = " ".join(words + ["=null", "=null", '={"x":[1,null]}', "n=null", "n=[[]]"])
    rows, _ = _reduce_rows(spark, engine, text)
    keys = [k for k, _ in rows]
    assert len(keys) == len(set(keys)) == 9, keys
    got = dict(rows)
    assert all(got[f"w{i}"]["n"] == Counter(words)[f"w{i}"] for i in range(7))
    # "" is a legal key, distinct from "no key yet"
    assert got[""] == {"n": 3, "values": sorted([None, None, {"x": [1, None]}], key=json.dumps)}
    assert got["n"] == {"n": 2, "values": sorted([None, [[]]], key=json.dumps)}


def test_reduce_plan_is_one_exchange_and_a_sorted_stream(spark, engine, tiny_batches):
    _, df = _reduce_rows(spark, engine, "a b a")
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.finalPhysicalPlan()
    nodes = Counter(
        re.sub(r"^[\s:+|-]*(\*\(\d+\) )?", "", line).split(" ")[0]
        for line in plan.toString().splitlines()
    )
    assert nodes["FlatMapGroupsInPandas"] == 0, plan.toString()
    assert nodes["Exchange"] == 1, plan.toString()
    assert nodes["MapInPandas"] == 2, plan.toString()


def test_empty_input_returns_empty_object(engine):
    _register_values_app(engine)
    uid = engine.init_cluster(1, 2)
    assert engine.run_mapred(uid, "", "Values", "Values") == "{}"


# ---------------------------------------------------------- property test

from collections import Counter
import re

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


def _reference_wordcount(text: str) -> dict[str, int]:
    """The reference's tokenize+count semantics in pure Python:
    lowercase, every non-[a-z] char is a separator (SURVEY.md §2.3,
    Worker/Worker.py:21-26,45-49)."""
    return dict(Counter(re.sub("[^a-z]+", " ", text.lower()).split()))


@settings(
    max_examples=8,  # each example runs real Spark jobs
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.text(
        alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=300
    )
)
def test_wordcount_property_matches_reference_semantics(engine, text):
    """Property: for ANY printable-ASCII input string, WordCount through
    the run_mapred facade (literal-string ingestion mode) equals the
    reference's tokenizer+count semantics computed in pure Python."""
    uid = engine.init_cluster(2, 2)
    got = json.loads(engine.run_mapred(uid, text, "WordCountMapper", "WordCountReducer"))
    assert got == _reference_wordcount(text)


def _reference_wordcount_unicode(text: str) -> dict[str, int]:
    """The reference's ACTUAL tokenizer is ``str.isalpha()``
    (Worker/Worker.py:11-12) — Unicode-aware, unlike the ASCII [a-z]
    approximation valid only for ASCII corpora."""
    sep = "".join(c if c.isalpha() else " " for c in text.lower())
    return dict(Counter(sep.split()))


@settings(
    max_examples=8,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.text(
        alphabet=st.characters(
            codec="utf-8",
            categories=("Lu", "Ll", "Lo", "Nd", "Zs", "Po"),
        ),
        max_size=200,
    )
)
def test_unicode_tokenizer_matches_isalpha_reference(spark, text):
    """Property: tokens_unicode reproduces the reference's Unicode
    str.isalpha() contract on arbitrary letters across scripts.

    Caveat pinned by the filter: \\p{L} is the LETTER class, while
    str.isalpha() is slightly wider on a few modifier/other codepoints;
    the generated categories stay within territory where the two
    definitions agree (the reference corpus never leaves it either)."""
    from pyspark.sql import functions as F

    from mapreducegcp_spark.functions.text import tokens_unicode

    df = spark.createDataFrame([(text,)], "text string")
    got = dict(
        df.select(F.explode(tokens_unicode("text")).alias("w"))
        .groupBy("w")
        .count()
        .rdd.map(lambda r: (r.w, r["count"]))
        .collect()
    )
    assert got == _reference_wordcount_unicode(text)
