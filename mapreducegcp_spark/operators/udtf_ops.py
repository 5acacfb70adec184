"""Python UDTF (user-defined table function) surface.

The reference's mapper contract is exactly a table function: one input
record fans out to N output records (``f(content, filename) ->
list[(k, v)]``, Worker/Worker.py:10-26, called at Worker/Worker.py:87-93).
``run_mapred``'s facade covers that contract with ``mapInPandas``; this
module exercises the other idiomatic Spark spelling — a declared UDTF
invoked in LATERAL position from SQL — so both fan-out APIs a user
might reach for are present and tested.

Scale posture: UDTFs are per-row Python (the slow path). This one is
registered with ``useArrow=True`` so rows batch over Arrow, and the
work per row is O(len(text)) string splitting with no state — it
parallelizes exactly like the scan. For hot paths prefer the built-in
explode/split spelling (operators/wordcount.py) or mapInPandas; the
point here is API coverage with identical semantics, oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from mapreducegcp_spark.registry import register
from mapreducegcp_spark.session import fork
from mapreducegcp_spark.sources.catalog import load_table

_SENTENCES_ORACLE = """
WITH t AS (SELECT doc_id, string_split(text, '.') AS parts FROM documents),
e AS (
  SELECT doc_id, i AS sentence_no, trim(parts[i]) AS sentence
  FROM t, unnest(generate_series(1, len(parts))) AS u(i)
)
SELECT doc_id, sentence_no, sentence, length(sentence) AS n_chars
FROM e
WHERE sentence <> ''
"""


def make_sentence_udtf():
    """Sentence-splitter UDTF: (doc_id, text) -> one row per non-empty
    '.'-delimited sentence, numbered by its position in the raw split
    (1-based, matching the oracle's generate_series indexing).
    Closure-built so cloudpickle ships it by value."""
    from pyspark.sql.functions import udtf

    class SplitSentences:
        def eval(self, doc_id, text):
            if text is None:
                return
            for i, part in enumerate(text.split("."), start=1):
                s = part.strip()
                if s:
                    yield doc_id, i, s, len(s)

    return udtf(
        SplitSentences,
        returnType="doc_id bigint, sentence_no int, sentence string, n_chars int",
        useArrow=True,
    )


@register("udtf_split_sentences", oracle=_SENTENCES_ORACLE, tags=("relational",))
def q_udtf_split_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL UDTF over documents: each doc fans out to its sentences —
    the reference's mapper fan-out contract as a declared table
    function. Whitespace trim + empty drop mirror the oracle exactly,
    so the row multiset hash-matches despite the Python row path."""
    spark = fork(spark)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    spark.udtf.register("split_sentences", make_sentence_udtf())
    return spark.sql(
        """
        SELECT s.doc_id, s.sentence_no, s.sentence, s.n_chars
        FROM documents d, LATERAL split_sentences(d.doc_id, d.text) s
        """
    )


# --------------------------------------- table-argument UDTF (PARTITION BY)

_LANG_STATS_ORACLE = """
SELECT lang, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(max(n_chars) AS BIGINT) AS max_chars
FROM documents
GROUP BY lang
"""


def make_lang_stats_udtf():
    """Per-partition aggregating UDTF: consumes TABLE(...) PARTITION BY
    lang, folds rows in eval(), emits one summary row in terminate().
    This is the arbitrary-stateful-per-group contract (the batch twin
    of applyInPandasWithState) spelled as a SQL table function — the
    API a user reaches for when per-group logic doesn't decompose into
    aggregates. Closure-built so cloudpickle ships it by value."""
    from pyspark.sql.functions import udtf

    class LangStats:
        def __init__(self):
            self._lang = None
            self._n = 0
            self._chars = 0
            self._max = 0

        def eval(self, row):
            self._lang = row["lang"]
            self._n += 1
            self._chars += row["n_chars"]
            self._max = max(self._max, row["n_chars"])

        def terminate(self):
            if self._n:
                yield self._lang, self._n, self._chars, self._max

    return udtf(
        LangStats,
        returnType="lang string, n_docs bigint, total_chars bigint, max_chars bigint",
    )


@register("udtf_lang_stats_table_arg", oracle=_LANG_STATS_ORACLE, tags=("relational",))
def q_udtf_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-level corpus stats through a TABLE-argument UDTF with
    PARTITION BY — Spark routes every row of a partition to one UDTF
    instance (a hash shuffle on lang), eval() folds, terminate() emits.
    Integer counts/sums only, so the result is deterministic and
    hash-matches the plain GROUP BY oracle. At scale the shuffle
    carries the two projected columns, and state per instance is four
    scalars — but prefer real aggregates when the logic fits them
    (they combine map-side; a UDTF cannot)."""
    spark = fork(spark)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    spark.udtf.register("lang_stats_udtf", make_lang_stats_udtf())
    return spark.sql(
        "SELECT * FROM lang_stats_udtf("
        "TABLE(SELECT lang, n_chars FROM documents) PARTITION BY lang)"
    )
