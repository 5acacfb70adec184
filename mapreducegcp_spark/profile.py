"""What a run did, read back from Spark's status store.

``stages(spark)`` is the one reader of the application's stage list;
the retry, spill and fetch-failure probes under ``tools/`` sum their
own fields over it.
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
