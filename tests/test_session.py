"""The engine's session defaults (``mapreducegcp_spark.session``).

``get_spark`` sizes Spark's generated-class cache to the engine's
working set. These tests pin the setting and its effect: after a
workload that generates more classes than the 100-entry default holds,
re-running its first queries compiles nothing new.
"""

from __future__ import annotations

from mapreducegcp_spark.profile import codegen

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
