"""What a run did, read back from Spark's status store.

``stages(spark)`` is the one reader of the application's stage list;
the retry, spill and fetch-failure probes under ``tools/`` sum their
own fields over it. ``codegen(spark)`` is the one reader of the JVM's
generated-code compilation counters.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def stages(spark: SparkSession) -> list:
    """Every stage attempt the status store holds for ``spark``'s
    application, as py4j ``StageData`` objects (``numFailedTasks()``,
    ``attemptId()``, ``memoryBytesSpilled()``, ...)."""
    store = spark.sparkContext._jsc.sc().statusStore()
    try:
        # Scala default args surface as stageList$default$N accessors;
        # the arity is 5 in Spark 4.x. A py4j "method does not exist"
        # here means a Spark upgrade changed the signature.
        args = [spark._jvm.java.util.ArrayList()] + [
            getattr(store, "stageList$default$%d" % i)() for i in range(2, 6)
        ]
        seq = store.stageList(*args)
    except Exception as e:  # noqa: BLE001
        raise RuntimeError(
            "AppStatusStore.stageList reflection failed — the Spark "
            "version changed its Scala default-arg arity; update the "
            "range(2, 6) in mapreducegcp_spark/profile.py"
        ) from e
    return [seq.apply(i) for i in range(seq.size())]


def codegen(spark: SparkSession) -> tuple[int, float]:
    """``(compilations, compile_s)``: how many generated classes the
    JVM behind ``spark`` has compiled so far, and their summed compile
    seconds. Both count only cache misses of Spark's codegen cache and
    are cumulative and JVM-wide (every session, driver and local
    tasks); diff two reads to measure a run.

    The count is ``CodegenMetrics.METRIC_COMPILATION_TIME``'s; its
    histogram keeps only a sample of the times, so the seconds come
    from ``CodeGenerator.compileTime``, which sums the same
    compilations exactly."""
    jvm = spark._jvm
    n = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
    ns = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return int(n), ns / 1e9
