"""The table reader (sources/catalog.py): ``load_table`` reads through a
memoized file schema, so a warm read launches no Spark job and returns
exactly what a read with an inferred schema returns; and the session
``get_spark`` builds has PySpark's call-site capture off."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from mapreducegcp_spark.sources import catalog


def _jobs(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


def _inferred(spark, sf_dir, name):
    """The table read with an inferred schema, post-processed the way
    ``load_table`` does it."""
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


@pytest.mark.parametrize("name", catalog.TABLES)
def test_warm_load_table_launches_no_job(spark, sf_dir, name):
    catalog.load_table(spark, sf_dir, name)
    before = _jobs(spark)
    df = catalog.load_table(spark, sf_dir, name)
    assert df.dtypes
    assert _jobs(spark) - before == 0


@pytest.mark.parametrize("name", catalog.TABLES)
def test_load_table_matches_inferred_read(spark, sf_dir, name):
    got = catalog.load_table(spark, sf_dir, name)
    want = _inferred(spark, sf_dir, name)
    assert got.dtypes == want.dtypes
    if name == "events":
        assert dict(got.dtypes)["ts"] == "timestamp"
    rows = sorted(map(repr, got.collect()))
    assert rows
    assert rows == sorted(map(repr, want.collect()))


def test_get_spark_turns_call_site_capture_off(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_table_schema_memo_hits_and_invalidates(spark, tmp_path):
    """The per-session schema memo serves repeated probes of the same
    file without re-reading it, and a rewritten file (new mtime/size)
    misses and replaces the entry — a stale schema must never survive
    a corpus swap."""
    import mapreducegcp_spark.functions.memo as memo

    p = tmp_path / "t.parquet"

    def entries():
        return [v for k, v in memo._ENTRIES.items() if k[1] == str(p)]

    spark.range(3).selectExpr("id AS a").write.mode("overwrite").parquet(str(p))
    s1 = catalog.table_schema(spark, str(p))
    assert [f.name for f in s1.fields] == ["a"]
    assert len(entries()) == 1
    # hit: same object back, no new entry
    assert catalog.table_schema(spark, str(p)) is s1
    assert len(entries()) == 1
    # rewrite with a different schema -> stamp changes, fresh probe
    spark.range(3).selectExpr("id AS a", "id AS b").write.mode(
        "overwrite"
    ).parquet(str(p))
    s2 = catalog.table_schema(spark, str(p))
    assert [f.name for f in s2.fields] == ["a", "b"]
    # one entry, holding the fresh schema
    assert [v for _, v in entries()] == [s2]
