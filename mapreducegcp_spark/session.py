"""SparkSession construction.

Replaces the reference's cluster lifecycle (``init_cluster`` /
``destroy_cluster``, Master/Master.py:25-58,17-21): one SparkContext
runs every job, and each job gets its own handle, a ``fork`` of the
caller's session whose ``spark.sql.shuffle.partitions`` plays the role
of ``numberOfReducers``.

The fork rule: a builder never writes the session it is handed. The
runtime confs, temp views, UDFs, UDTFs and Python data sources a
builder (or a ``run_mapred`` job) needs for itself go on
``fork(spark, conf)``, so queries sharing one session never see each
other's settings or names. The fork is ``cloneSession``, not
``newSession``: it starts with the caller's runtime confs (a RocksDB
state-store provider, a timezone), views and functions, and shares the
SparkContext, the CacheManager, the memo and the generated-class cache,
for a few milliseconds. A DataFrame runs under its own session's conf,
also when the action comes after the builder returned. The schema probe
(sources/catalog.py::table_schema) runs on a fork with the two
parquet-timestamp confs below, so no caller's session needs them;
``get_spark`` still sets both for ad-hoc reads.

Scale posture: these defaults target local[N] testing but are written so
the same code runs on a real cluster — AQE handles runtime partition
coalescing and skew joins, shuffle partitions default to the core count
locally (a cluster submit would set it to ~2-3x total cores or rely on
AQE), and Arrow is enabled for any pandas-UDF path.

PySpark's call-site capture (``spark.python.sql.dataFrameDebugging``)
is off: it costs about five py4j round trips per Column expression a
builder creates. Analysis errors then lose the Python ``file:line`` in
their DataFrame context; Python and JVM stack traces are unchanged.

Python workers fork from the engine's daemon,
``mapreducegcp_spark.pyworker``, not from ``pyspark.daemon``. PySpark
calls ``importlib.invalidate_caches()`` in every Python task, and under
Python 3.11 that re-reads ``pyspark.zip``'s directory once per cached
zipimporter, about 0.1 s of CPU per task; the daemon skips the re-read
of unchanged archives. It has to be the daemon module: PySpark ignores
a ``spark.python.worker.module`` outside ``pyspark``. Workers find the
package through ``spark.executorEnv.PYTHONPATH``, so Python tasks run
whatever the driver's working directory is.

Spark keeps the classes it generates and compiles with Janino in one
JVM-wide LRU cache, ``spark.sql.codegen.cache.maxEntries``, whose
default is 100 entries. The engine's working set is far larger: a sweep
of every registered query at sf0.001 compiles about 3,080 distinct
classes, and the 18 benchmark headliners alone use about 290. At the
default every pass evicts each class before the next pass asks for it
again, so a warm pass recompiles nearly all of them (a second sweep:
about 3,950 compilations), both for driver planning and for task setup
(local tasks share the driver's cache). ``get_spark`` sets 4096
entries, the smallest power of two above the working set; Guava splits
that bound over 4 segments, which leaves each about 25% headroom. A
second sweep then compiles about 75 classes. Holding the whole catalog
costs about 22 MB of Metaspace (215 to 238 MB after two sweeps). The
conf is static: Spark reads it once per JVM, when it compiles its first
class, so it has to be set when the session is built.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = "/root/testdata/sf0.1"
# the directory that holds this package, for the Python workers' path
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def sf_dir_from_env() -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)


def cpus_from_env() -> int:
    try:
        return int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)
    except ValueError:
        return os.cpu_count() or 4


def get_spark(
    app_name: str = "mapreducegcp-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession tuned for this engine.

    ``extra_conf`` entries are applied last (they win over the
    defaults). Creation-time-only confs (driver memory, maxResultSize)
    are silently ignored by getOrCreate when a session already exists —
    callers that need them must be the ones creating the session.
    """
    n = cpus or cpus_from_env()
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.python.daemon.module", "mapreducegcp_spark.pyworker")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # parquet TIMESTAMP(MICROS) without a timezone must read as a
        # session-TZ (UTC) TIMESTAMP, not TIMESTAMP_NTZ: the engine's
        # time arithmetic (unix_micros, window ranges) and the DuckDB
        # oracle both treat naive storage as UTC instants, and NTZ
        # inference would make the same parquet file type-unstable
        # across writer versions.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # write timestamps as TIMESTAMP_MICROS, not legacy INT96:
        # INT96 row groups carry no min/max statistics, which silently
        # disables row-group skipping on every time-range predicate
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def fork(spark: SparkSession, conf: dict[str, str] | None = None) -> SparkSession:
    """A child of ``spark`` with ``conf`` applied (the fork rule above):
    it sees the caller's confs, views and functions, and what it writes
    stays in it."""
    child = SparkSession(spark.sparkContext, spark._jsparkSession.cloneSession())
    for k, v in (conf or {}).items():
        child.conf.set(k, v)
    return child
