"""Sources — table catalog and corpus ingestion.

Replaces the reference's three ingestion modes in ``inputDataProcessing``
(Master/Master.py:188-255): directory-of-files, single file with
word-granular chunking, and a literal string. In Spark the chunk/assign
machinery (Master/Master.py:205-213,241-255) disappears — the FileScan
computes splits and the scheduler assigns them with locality, so each
source is just a DataFrame with the corpus schema ``(filename, text)``.

Scale posture: parquet is the primary substrate (columnar, predicate
pushdown, column pruning); ``wholetext`` text reads are only for the
reference-parity document corpus, where one file = one logical document.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from mapreducegcp_spark.functions.memo import memo, stamp
from mapreducegcp_spark.session import fork

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one of the driver's parquet tables from a scale-factor dir.

    ``events.ts`` is parquet TIMESTAMP(NANOS), which Spark's vectorized
    reader rejects outright; it is read as a raw long and truncated to
    microseconds with integer arithmetic — the same truncation DuckDB
    applies, so timestamps stay oracle-comparable.

    The read takes its schema from ``table_schema``, so a warm read
    launches no schema-inference job and the caller's session needs
    neither timestamp conf (session.py, the fork rule). A file
    rewritten in place gets a new stamp and is probed again.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.schema(table_schema(spark, path)).parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # integer div (not double /): a double round-trip can round a
        # ...999 nanos tail up and disagree with true floor division.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


# The probe's confs: TIMESTAMP(NANOS) infers as a raw long, and naive
# TIMESTAMP(MICROS) as a UTC TIMESTAMP, not TIMESTAMP_NTZ — the engine's
# time arithmetic and the DuckDB oracle treat naive storage as UTC.
_PROBE_CONF = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
}


def table_schema(spark: SparkSession, path: str) -> StructType:
    """Schema of the parquet table at ``path``, memoized per file
    (functions/memo.py) and probed on a fork with ``_PROBE_CONF``.
    Inferring it launches one Spark job per read; batch and stream
    readers of a table share this one probe."""
    return memo(
        spark, "parquet_schema", path, stamp(path),
        lambda: fork(spark, _PROBE_CONF).read.parquet(path).schema,
    )


def docs_from_dir(spark: SparkSession, path: str) -> DataFrame:
    """One document per file in a directory.

    Reference: the dir branch of ``inputDataProcessing``
    (Master/Master.py:195-213) stores ``{filename: text}`` chunks.
    Spark reads each file as a single row (``wholetext``) and tags it
    with ``input_file_name()``; splitting/scheduling is automatic.
    """
    return (
        spark.read.text(path, wholetext=True)
        .select(
            F.input_file_name().alias("filename"),
            F.col("value").alias("text"),
        )
    )


def docs_from_file(spark: SparkSession, path: str) -> DataFrame:
    """A single file as a one-document corpus.

    Reference: the file branch (Master/Master.py:216-238) whitespace-splits
    into ceil(words/n_mappers) chunks. Spark splits text files by byte
    ranges at scan time — equivalent for token-level jobs — so no manual
    chunking is needed; we keep one logical row per file.
    """
    return docs_from_dir(spark, path)


def docs_from_string(spark: SparkSession, data: str) -> DataFrame:
    """A literal string as the corpus, filename ``InputString``.

    Reference: the else branch (Master/Master.py:222-224). Built with a
    query parameter, not ``createDataFrame``, which would leave ``spark``
    (a ``run_mapred`` job's fork) as the thread's active session.
    """
    return spark.sql("SELECT 'InputString' AS filename, :text AS text", args={"text": data})


def fan_out_scan(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Round-robin repartition a CPU-heavy map stage's input ONLY when
    the upstream scan under-parallelizes.

    Local fixtures are single-row-group parquet files, and row groups
    are parquet's split granularity — so every scan arrives as ONE
    partition and a heavy stage-1 (per-position hashing, codec work,
    shingle explodes) serializes onto one core no matter how many the
    box has (measured 3-4x wall-clock on the span-dedup and codec
    queries at sf0.1). At production partitioning (many files / row
    groups >= cores) the guard makes this a NO-OP, so no shuffle of
    input bytes is ever added where the scan already fans out — the
    distinction that makes the repartition scale-honest rather than a
    local-only hack.

    ``getNumPartitions`` computes file splits without running the
    job; AQE cannot coalesce an explicit numPartitions repartition, so
    the fan-out survives tiny byte volumes.
    """
    n = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < n:
        return df.repartition(n)
    return df
