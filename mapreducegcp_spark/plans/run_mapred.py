"""``run_mapred`` compatibility facade — the reference's public API on Spark.

The reference's entire query surface is three XML-RPC calls
(Master/Master.py:271-272, Master/testMaster.py:8-12):

    uid = init_cluster(numberOfMappers, numberOfReducers)
    out = run_mapred(uid, inputPath, mapFunction, reducerFunction, outputPath)
    destroy_cluster(uid)

``MapReduceEngine`` keeps that call shape. Everything behind it is
re-expressed Spark-first:

- input classification (dir / file / literal string —
  Master/Master.py:195-224) maps to the corpus sources in
  sources/catalog.py; chunking/round-robin assignment
  (Master/Master.py:205-213,241-255) disappears into FileScan splits.
- the string-named function registry (``functionMap``,
  Worker/Worker.py:68-78) becomes ``register_application``. The two
  built-in applications (WordCount, InvertedIndex) dispatch to fully
  declarative DataFrame plans — no Python in the hot path.
- user-supplied map/reduce Python runs through Arrow-batched
  ``mapInPandas`` stages, never row-at-a-time serialization: the map
  stage calls ``f(text, filename) -> [(k, v)]``, and the reduce stage
  is a key-sorted ``mapInPandas`` stream, one ``f(key, values) -> value``
  call per key. Values cross stages JSON-encoded so an
  arbitrary JSON-able value type keeps a stable Spark schema — the
  same contract the reference's KV store imposed (everything
  ``json.dumps``-able, SURVEY.md §1.2).
- the shuffle (``intermediateCombiner``, Master/Master.py:130-163 —
  single-threaded through the master) is Catalyst's Exchange;
  ``numberOfReducers`` becomes ``spark.sql.shuffle.partitions`` on the
  job's own fork of the session (session.py).
- the JSON gather/sink (``combineAndStoreReducerOutput``,
  Master/Master.py:97-108) is a driver-side gather: the result
  DataFrame is pulled through ``toLocalIterator`` into one merged dict,
  returned as JSON and, with ``outputPath``, written from the driver.
  The reference returns a JSON array with one dict per reducer; this
  engine emits one logical table, which per SURVEY.md §2.3 is the
  comparison-stable form.

Scale note: ``toLocalIterator`` moves one partition at a time to the
driver, but the merged dict and its JSON string hold the whole result
there, so ``run_mapred`` is bounded by driver memory (fine for the
reference's corpus sizes). The distributed writer is ``json_sink``
(one file per partition, no driver transit); at volume, callers build
the plan with the DataFrame API and write it through ``json_sink``.
"""

from __future__ import annotations

import json
import os
import uuid
from collections.abc import Callable, Iterator
from dataclasses import dataclass

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreducegcp_spark.operators.inverted_index import inverted_index
from mapreducegcp_spark.operators.wordcount import word_count
from mapreducegcp_spark.session import fork
from mapreducegcp_spark.sources.catalog import (
    docs_from_dir,
    docs_from_file,
    docs_from_string,
)

MapFn = Callable[[str, str], list[tuple]]
ReduceFn = Callable[[str, list], object]

_PAIR_SCHEMA = "key string, value string"


@dataclass
class _Application:
    mapper: MapFn | None
    reducer: ReduceFn | None
    builtin: str | None = None  # name of a declarative plan


class UnknownJobError(KeyError):
    """Raised when ``run_mapred`` is handed a job id that was never
    minted or was already destroyed — the typed form of the contract
    the reference leaves implicit (its Master indexes a dict and lets
    the KeyError escape over XML-RPC). Subclasses KeyError so callers
    written against the raw-dict behavior keep working."""


class MapReduceEngine:
    """Drop-in stand-in for the reference Master's RPC surface."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._jobs: dict[str, SparkSession] = {}  # job handle -> its fork
        self._apps: dict[str, _Application] = {
            # functionMap parity (Worker/Worker.py:69-78): both built-in
            # applications, addressed by their reference mapper/reducer
            # names, served by declarative plans.
            "WordCount": _Application(None, None, builtin="wordcount"),
            "InvertedIndex": _Application(None, None, builtin="inverted_index"),
        }

    # -- lifecycle (Master/Master.py:25-58, 17-21) -----------------------

    def init_cluster(self, number_of_mappers: int, number_of_reducers: int) -> str:
        """Mint a job handle. Mapper count is advisory (scan splits rule);
        reducer count sets the shuffle partitioning of the job's fork."""
        uid = str(uuid.uuid4())
        self._jobs[uid] = fork(
            self.spark, {"spark.sql.shuffle.partitions": str(number_of_reducers)}
        )
        return uid

    def destroy_cluster(self, unique_id: str) -> None:
        """Forget the job handle (the reference's stub — Master/Master.py:17-21
        — never freed anything; the SparkSession outlives jobs here).
        Idempotent: destroying an unknown/already-destroyed handle is a
        no-op."""
        self._jobs.pop(unique_id, None)

    def live_job_count(self) -> int:
        """Number of job handles currently live (minted by
        ``init_cluster`` and not yet destroyed) — the public form of
        the lifecycle state the catalog probe asserts, so an internal
        refactor of the job store breaks a unit test, not a registered
        query at runtime."""
        return len(self._jobs)

    # -- application registry (functionMap, Worker/Worker.py:68-78) ------

    def register_application(self, name: str, mapper: MapFn, reducer: ReduceFn) -> None:
        """Add a named map/reduce application, the pluggable-app surface.

        ``mapper(text, filename) -> [(key, value), ...]`` and
        ``reducer(key, values) -> value`` — the Dean & Ghemawat
        signatures (per-key reduce, unlike the reference's
        whole-partition dict at Worker/Worker.py:94-97; same results).
        ``reducer`` is called exactly once per key; the order of
        ``values`` is unspecified; one key's values are held in memory
        at once. Values must be JSON-serializable. Standard Spark
        shipping rules apply: the functions must be self-contained (or
        reference only modules importable on executors) — cloudpickle
        serializes the function body by value but module-level globals
        by reference.
        """
        self._apps[name] = _Application(mapper, reducer)

    # -- the query path (run_mapred, Master/Master.py:61-94) -------------

    def run_mapred(
        self,
        unique_id: str,
        input_path: str,
        map_function: str,
        reduce_function: str,
        output_path: str | None = None,
    ) -> str:
        """Execute a named application over an input; return merged JSON.

        ``map_function``/``reduce_function`` accept the reference's
        names (``WordCountMapper``/``WordCountReducer``, ...) or a name
        registered via ``register_application`` (both args then name
        the same app, as in the reference where the pair selects one
        logical application).
        """
        session = self._jobs.get(unique_id)
        if session is None:
            raise UnknownJobError(
                f"unknown job id {unique_id!r}; call init_cluster first"
            )
        docs = self._classify_input(session, input_path)
        app = self._resolve_app(map_function, reduce_function)

        if app.builtin == "wordcount":
            result_df = word_count(docs)
            payload = {r["word"]: r["cnt"] for r in result_df.toLocalIterator()}
        elif app.builtin == "inverted_index":
            result_df = inverted_index(docs, doc_col="filename")
            payload: dict[str, dict[str, int]] = {}
            for r in result_df.toLocalIterator():
                payload.setdefault(r["word"], {})[r["filename"]] = r["cnt"]
        else:
            result_df = self._generic_mapred(docs, app)
            payload = {
                r["key"]: json.loads(r["value"]) for r in result_df.toLocalIterator()
            }

        out = json.dumps(payload, sort_keys=True)
        if output_path:
            with open(output_path, "w") as fh:
                fh.write(out)
        return out

    # -- internals -------------------------------------------------------

    @staticmethod
    def _classify_input(spark: SparkSession, input_path: str) -> DataFrame:
        """dir / file / literal-string classification, exactly the
        reference's branch order (Master/Master.py:195,217,222)."""
        if os.path.isdir(input_path):
            return docs_from_dir(spark, input_path)
        if os.path.isfile(input_path):
            return docs_from_file(spark, input_path)
        return docs_from_string(spark, input_path)

    def _resolve_app(self, map_function: str, reduce_function: str) -> _Application:
        for name in (map_function, reduce_function):
            base = name.removesuffix("Mapper").removesuffix("Reducer")
            if base in self._apps:
                return self._apps[base]
        raise KeyError(
            f"no application registered for ({map_function!r}, {reduce_function!r}); "
            f"known: {sorted(self._apps)}"
        )

    def _generic_mapred(self, docs: DataFrame, app: _Application) -> DataFrame:
        """User-Python map/reduce as two Arrow-batched ``mapInPandas``
        stages around one shuffle.

        The shuffle is Catalyst's Exchange (``repartition("key")``) — the
        stage the reference funneled through one Python process
        (Master/Master.py:130-163) runs distributed here. Each reduce
        partition is then sorted by key and read as one stream, so the
        per-key cost is a Python call, not a pandas frame and an Arrow
        round trip as with ``groupBy().applyInPandas``. Only the current
        key's values are held, in the Python worker; collecting them
        into one JVM row (``collect_list``) would hit the 2 GB row limit
        on a hot key.
        """
        mapper, reducer = app.mapper, app.reducer

        def map_stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                keys: list[str] = []
                vals: list[str] = []
                for fname, text in zip(pdf["filename"], pdf["text"]):
                    for k, v in mapper(text, fname):
                        keys.append(str(k))
                        vals.append(json.dumps(v))
                yield pd.DataFrame({"key": keys, "value": vals})

        def reduce_stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            # Hadoop's sorted-merge reduce: each partition arrives sorted
            # by key, so a run of equal keys is one reducer call. The
            # open run carries across batch boundaries and is flushed
            # after the last batch. ``no_key`` is a sentinel because ""
            # is a legal key; it is made here, not at module level, so
            # the closure ships to workers without importing this module.
            no_key = object()
            open_key, open_vals = no_key, []
            for pdf in batches:
                keys: list[str] = []
                vals: list[str] = []
                for k, v in zip(pdf["key"], pdf["value"]):
                    if k != open_key:
                        if open_key is not no_key:
                            keys.append(open_key)
                            vals.append(json.dumps(reducer(open_key, open_vals)))
                        open_key, open_vals = k, []
                    open_vals.append(json.loads(v))
                if keys:
                    yield pd.DataFrame({"key": keys, "value": vals})
            if open_key is not no_key:
                yield pd.DataFrame(
                    {"key": [open_key], "value": [json.dumps(reducer(open_key, open_vals))]}
                )

        pairs = docs.select("filename", "text").mapInPandas(map_stage, _PAIR_SCHEMA)
        return (
            pairs.repartition("key")
            .sortWithinPartitions("key")
            .mapInPandas(reduce_stage, _PAIR_SCHEMA)
        )


def json_sink(df: DataFrame, path: str, n_files: int = 1) -> None:
    """Distributed JSON sink — the scale path the reference's gather
    stage (Master/Master.py:97-108) could not take: no driver transit,
    one file per partition."""
    df.coalesce(n_files).write.mode("overwrite").json(path)
