"""The engine's session defaults and the fork rule
(``mapreducegcp_spark.session``).

``get_spark`` sizes Spark's generated-class cache to the engine's
working set. These tests pin the setting and its effect: after a
workload that generates more classes than the 100-entry default holds,
re-running its first queries compiles nothing new.

Builders never write the session they are handed: every builder leaves
the caller's confs, temp views, functions and data sources as they
were, reads correctly from a session without the engine's timestamp
confs, and runs beside other builders on one session with the result
it has alone.
"""

from __future__ import annotations

import hashlib
from concurrent.futures import ThreadPoolExecutor

from mapreducegcp_spark.plans.run_mapred import MapReduceEngine
from mapreducegcp_spark.profile import codegen
from mapreducegcp_spark.registry import all_queries
from mapreducegcp_spark.session import fork
from mapreducegcp_spark.sources.catalog import TABLES, load_table

# more distinct generated classes than the default cache of 100 holds
N_DISTINCT = 150
RERUN = 10


def _query(spark, i: int) -> None:
    # the literals are inlined into the generated code, so each i
    # compiles its own class
    spark.range(3).selectExpr(f"id * {i} + {i}").collect()


def test_codegen_cache_sized_to_the_working_set(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "4096"


def test_rerun_after_large_workload_compiles_nothing(spark):
    before, _ = codegen(spark)
    for i in range(N_DISTINCT):
        _query(spark, i)
    after, _ = codegen(spark)
    assert after - before > 100  # the workload outgrows the default
    for i in range(RERUN):
        _query(spark, i)
    again, _ = codegen(spark)
    assert again - after == 0


# the names builders register for themselves (on their forks)
_FUNCTIONS = ("split_sentences", "lang_stats_udtf", "price_band", "status_band", "band_ranks")
_DATA_SOURCES = ("synthetic_rows", "synthetic_stream", "jsonl_sink")
_TS_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)


def _session_state(spark) -> tuple:
    sources = spark._jsparkSession.sessionState().dataSourceManager()
    return (
        dict(spark.conf.getAll),
        sorted(t.name for t in spark.catalog.listTables() if t.isTemporary),
        [spark.catalog.functionExists(f) for f in _FUNCTIONS],
        [sources.dataSourceExists(d) for d in _DATA_SOURCES],
    )


def test_builders_leave_the_callers_session_unchanged(spark, sf_dir):
    caller = fork(spark, {"spark.mapreducegcp.test.marker": "caller"})
    for key in _TS_CONFS:
        caller.conf.unset(key)
    before = _session_state(caller)
    assert before[0]["spark.mapreducegcp.test.marker"] == "caller"
    assert not any(k in before[0] for k in _TS_CONFS)
    for rq in all_queries().values():
        rq.fn(caller, sf_dir)  # builders only: no action on the result
    assert _session_state(caller) == before
    for t in TABLES:
        assert load_table(caller, sf_dir, t).dtypes == load_table(spark, sf_dir, t).dtypes, t


def test_nanos_events_read_without_the_timestamp_confs(spark, tmp_path):
    """A TIMESTAMP(NANOS) events file reads through the memoized schema
    on a session that has neither timestamp conf."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    us = [1_700_000_000_123_456, 1_700_000_100_999_999]
    ns = pa.array([u * 1000 + 999 for u in us], pa.int64()).cast(pa.timestamp("ns"))
    pq.write_table(pa.table({"ts": ns}), tmp_path / "events.parquet")
    caller = fork(spark)
    for key in _TS_CONFS:
        caller.conf.unset(key)
    got = [r.ts for r in load_table(caller, str(tmp_path), "events").collect()]
    epoch = datetime.datetime(1970, 1, 1)
    assert got == [epoch + datetime.timedelta(microseconds=u) for u in us]


# every builder that runs on a fork of its own
CONCURRENT = (
    "source_python_datasource", "source_python_stream", "sink_python_datasource",
    "stream_tumbling_counts", "stream_sliding_value", "stream_session_windows",
    "stream_dedup_keys", "stream_dedup_within_watermark", "stream_watermark_append",
    "stream_stateful_user_stats", "stream_stream_join", "stream_foreach_batch_sink",
    "stream_cdc_latest", "stream_ohlc_bars", "stream_kmv_distinct",
    "stream_static_enrich", "stream_topk_users", "stream_lsh_bucket_index",
    "subquery_exists", "subquery_not_exists", "subquery_in",
    "subquery_scalar_correlated", "subquery_scalar_uncorrelated",
    "agg_grouping_sets", "agg_time_rollup", "join_lateral_topn",
    "sql_recursive_cte_hierarchy", "sql_udf_scalar_tvf",
    "udtf_split_sentences", "udtf_lang_stats_table_arg",
)
_TEXT = "the quick brown fox jumps over the lazy dog the fox " * 20


def test_fork_builders_run_concurrently_on_one_session(spark, sf_dir):
    """The fork-owning builders and two run_mapred jobs with different
    reducer counts, on 4 threads against one session: every result
    equals its serial run, and the session's shuffle partitioning is
    the same afterwards."""
    qs = all_queries()
    engine = MapReduceEngine(spark)
    jobs = {f"mapred_{n}": engine.init_cluster(2, n) for n in (2, 7)}

    def run(name: str) -> str:
        if name in jobs:
            out = engine.run_mapred(jobs[name], _TEXT, "WordCountMapper", "WordCountReducer")
        else:
            out = "\n".join(sorted(map(repr, qs[name].fn(spark, sf_dir).collect())))
        return hashlib.sha256(out.encode()).hexdigest()

    names = [*CONCURRENT, *jobs]
    partitions = spark.conf.get("spark.sql.shuffle.partitions")
    serial = {n: run(n) for n in names}
    with ThreadPoolExecutor(max_workers=4) as pool:
        together = dict(zip(names, pool.map(run, names)))
    assert together == serial
    assert spark.conf.get("spark.sql.shuffle.partitions") == partitions
