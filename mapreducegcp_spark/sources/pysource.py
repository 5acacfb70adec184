"""Custom Python data source (Spark 4 DataSource API).

The reference's only "source" is its Master-side chunker feeding a KV
store (Master/Master.py:188-255). Spark subsumes file sources entirely
(sources/catalog.py); this module exercises the OTHER direction a real
pipeline needs — a programmatic source that is not a file at all
(a service, a queue, a generator) — via PySpark 4's Python DataSource
API: schema declaration, option passing, and partition-parallel reads
that scale out like any file scan.

The shipped source is a deterministic synthetic-row generator (LCG
arithmetic, no RNG state), so the DuckDB oracle reproduces every row
with generate_series — the custom-source path gets the same exact
value-hash check as the parquet path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

from mapreducegcp_spark.registry import register
from mapreducegcp_spark.session import fork

_LCG_A = 1103515245
_LCG_C = 12345
_LCG_M = 2_147_483_648  # 2^31

N_ROWS = 100_000
N_PARTS = 8


def make_synthetic_rows_source():
    """Build the DataSource class in local scope so cloudpickle ships
    it BY VALUE — the plan-time and executor Python workers must not
    need this package on their import path (same rule as
    operators/multimodal.py::make_feature_extractor)."""

    class SyntheticRowsReader(DataSourceReader):
        def __init__(self, options) -> None:
            self.n = int(options.get("n", N_ROWS))
            self.parts = int(options.get("partitions", N_PARTS))

        def partitions(self):
            # one InputPartition per stride class -> Spark schedules
            # them as independent tasks, exactly like file splits
            return [InputPartition(i) for i in range(self.parts)]

        def read(self, partition: InputPartition):
            # Yield ONE Arrow RecordBatch per partition instead of
            # per-row tuples: the DataSource API pickles every yielded
            # tuple through the Python worker, while RecordBatch
            # yields cross the boundary as columnar Arrow buffers —
            # same rows, vectorized generation (the LCG is pure int64
            # arithmetic, exact in numpy: i*A <= 1e5 * 1.1e9 << 2^63).
            import numpy as np
            import pyarrow as pa

            ids = np.arange(partition.value, self.n, self.parts, dtype=np.int64)
            vals = (ids * _LCG_A + _LCG_C) % _LCG_M
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids, pa.int64()),
                    pa.array(vals, pa.int64()),
                    pa.array((ids % 7).astype(np.int32), pa.int32()),
                ],
                names=["id", "value", "bucket"],
            )

    class SyntheticRowsDataSource(DataSource):
        """``spark.read.format("synthetic_rows").option("n", ...)`` —
        id, an LCG-derived value, and a small category bucket."""

        @classmethod
        def name(cls) -> str:
            return "synthetic_rows"

        def schema(self) -> str:
            return "id bigint, value bigint, bucket int"

        def reader(self, schema) -> DataSourceReader:
            return SyntheticRowsReader(self.options)

    return SyntheticRowsDataSource


_PYSOURCE_ORACLE = f"""
WITH src AS (
  SELECT g AS id,
         (g * {_LCG_A} + {_LCG_C}) % {_LCG_M} AS value,
         CAST(g % 7 AS INT) AS bucket
  FROM generate_series(0, {N_ROWS - 1}) t(g)
)
SELECT bucket, count(*) AS n, CAST(sum(value) AS BIGINT) AS total,
       min(value) AS min_v, max(value) AS max_v
FROM src
GROUP BY bucket
"""


@register("source_python_datasource", oracle=_PYSOURCE_ORACLE, tags=("sources",))
def q_source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read through the registered Python data source and aggregate —
    proves the partition-parallel custom-source path end to end
    against a DuckDB re-derivation of the generator.

    Scale: each InputPartition is an independent task; a real service-
    backed source shards by key range or shard id the same way. Rows
    stream from Python via Arrow batches — no driver materialization."""
    spark = fork(spark)
    spark.dataSource.register(make_synthetic_rows_source())
    df = (
        spark.read.format("synthetic_rows")
        .option("n", str(N_ROWS))
        .option("partitions", str(N_PARTS))
        .load()
    )
    return df.groupBy("bucket").agg(
        F.count("*").alias("n"),
        F.sum("value").alias("total"),
        F.min("value").alias("min_v"),
        F.max("value").alias("max_v"),
    )


# ------------------------------------------------ streaming variant

N_STREAM_ROWS = 20_000
# 2 data micro-batches + the drained-offset round: enough to prove
# multi-batch offset advancement while keeping the per-micro-batch
# planning overhead (~2s each in local mode) out of the check budget.
STREAM_BATCH = 10_000


def make_synthetic_stream_source():
    """Python STREAMING data source (SimpleDataSourceStreamReader):
    the same LCG rows arrive in micro-batches with offset tracking —
    the shape a queue/service-backed streaming source takes when there
    is no built-in connector. Built in local scope for by-value
    pickling (same rule as make_synthetic_rows_source)."""

    class SyntheticStreamReader(SimpleDataSourceStreamReader):
        def initialOffset(self):
            return {"i": 0}

        def read(self, start):
            i = start["i"]
            if i >= N_STREAM_ROWS:
                return iter([]), start  # drained: offset stops advancing
            end = min(i + STREAM_BATCH, N_STREAM_ROWS)
            rows = [
                (k, (k * _LCG_A + _LCG_C) % _LCG_M, k % 7) for k in range(i, end)
            ]
            return iter(rows), {"i": end}

        def readBetweenOffsets(self, start, end):
            return iter(
                (k, (k * _LCG_A + _LCG_C) % _LCG_M, k % 7)
                for k in range(start["i"], end["i"])
            )

    class SyntheticStreamDataSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "synthetic_stream"

        def schema(self) -> str:
            return "id bigint, value bigint, bucket int"

        def simpleStreamReader(self, schema):
            return SyntheticStreamReader()

    return SyntheticStreamDataSource


_PYSTREAM_ORACLE = f"""
WITH src AS (
  SELECT g AS id,
         (g * {_LCG_A} + {_LCG_C}) % {_LCG_M} AS value,
         CAST(g % 7 AS INT) AS bucket
  FROM generate_series(0, {N_STREAM_ROWS - 1}) t(g)
)
SELECT bucket, count(*) AS n, CAST(sum(value) AS BIGINT) AS total
FROM src
GROUP BY bucket
"""


@register("source_python_stream", oracle=_PYSTREAM_ORACLE, tags=("sources", "streaming"))
def q_source_python_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream the Python source to completion (20k rows in 10k-row
    micro-batches) through a windowless grouped aggregate in complete mode —
    the custom streaming connector path, value-hash-checked against
    the batch derivation once the stream drains. Offsets advance per
    micro-batch exactly as a queue consumer would commit them."""
    from mapreducegcp_spark.streaming.events import run_to_memory, stream_session

    spark = stream_session(spark)
    spark.dataSource.register(make_synthetic_stream_source())
    sdf = spark.readStream.format("synthetic_stream").load()
    agg = sdf.groupBy("bucket").agg(
        F.count("*").alias("n"), F.sum("value").alias("total")
    )
    return run_to_memory(agg, "complete")


# ------------------------------------------- Python DataSource writer (sink)


def make_jsonl_sink_source():
    """Custom JSON-lines SINK via the Python DataSource writer API —
    the programmatic-sink twin of the reader above (a service, a queue,
    an index ingest endpoint). Each task writes its partition to its
    own file and returns a commit message; the driver sees per-task
    commits exactly like a real transactional sink. Closure-built so
    cloudpickle ships it by value."""
    import json as _json
    import os as _os
    import uuid as _uuid

    from pyspark.sql.datasource import (
        DataSource as _DS,
        DataSourceWriter as _DSW,
        WriterCommitMessage as _WCM,
    )

    class JsonlWriter(_DSW):
        def __init__(self, options) -> None:
            self.path = options.get("path")

        def write(self, iterator):
            _os.makedirs(self.path, exist_ok=True)
            fname = _os.path.join(self.path, f"part-{_uuid.uuid4().hex}.json")
            n = 0
            with open(fname, "w") as f:
                for row in iterator:
                    f.write(_json.dumps(row.asDict()) + "\n")
                    n += 1
            if n == 0:
                _os.remove(fname)
            return _WCM()

    class JsonlSinkDataSource(_DS):
        @classmethod
        def name(cls) -> str:
            return "jsonl_sink"

        def writer(self, schema, overwrite: bool):
            return JsonlWriter(self.options)

    return JsonlSinkDataSource


_PYSINK_ORACLE = """
SELECT event_type, count(*) AS n,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM events
GROUP BY event_type
"""


@register("sink_python_datasource", oracle=_PYSINK_ORACLE, tags=("sources",))
def q_sink_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip through the custom Python sink: aggregate events,
    write the result with the jsonl_sink DataSource writer, read the
    files back with an explicit schema, and return them — proving the
    write path (task-parallel write + per-task commit messages) works
    end to end and byte-preserves the data. Money is integer cents so
    the JSON round-trip is exact by construction.

    Scale posture: the sink writes one file per partition with no
    driver collect; a real deployment implements commit/abort for
    transactional semantics — the API surface exercised here."""
    import os
    import shutil

    from mapreducegcp_spark.sources.catalog import load_table

    spark = fork(spark)
    spark.dataSource.register(make_jsonl_sink_source())
    agg = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("total_cents"),
        )
    )
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    out = f"/tmp/mapreducegcp_spark_jsonl_sink/{sf_tag}"
    shutil.rmtree(out, ignore_errors=True)
    # The writer resolves the format name in the thread's ACTIVE session
    # (and plans the write in the frame's), so the fork is active for
    # the write only.
    jsession = SparkSession._get_j_spark_session_class(spark._jvm)
    active = jsession.getActiveSession()
    jsession.setActiveSession(spark._jsparkSession)
    try:
        # coalesce(1): the aggregate is a handful of rows, but each write
        # partition spins up a Python worker for the sink — 32 empty-ish
        # tasks cost ~2s of pure startup (measured). Size the write
        # parallelism to the DATA; a corpus-sized write keeps full width.
        agg.coalesce(1).write.format("jsonl_sink").option("path", out).mode("append").save()
    finally:
        jsession.setActiveSession(active.get() if active.isDefined() else None)
    return spark.read.schema("event_type string, n bigint, total_cents bigint").json(
        out
    )
