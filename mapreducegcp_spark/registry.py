"""Query registry — the engine's pluggable-application surface.

The reference exposes applications by string name through ``functionMap``
(Worker/Worker.py:68-78): a dict from mapper/reducer names to Python
functions, dispatched by ``worker()``. This registry is the Spark-native
generalization: a named catalog of query builders, each a callable
``(spark, sf_dir) -> DataFrame`` plus (when SQL-expressible) a DuckDB
oracle SQL string used by the correctness harness.

Operator modules self-register at import; ``all_queries()`` imports them
all so the catalog is complete after one call, and iterates it in
registration order.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

# Modules that register queries (imported lazily by _load_all), in
# registration order.
_OPERATOR_MODULES = [
    "mapreducegcp_spark.operators.dedup",
    "mapreducegcp_spark.operators.similarity",
    "mapreducegcp_spark.operators.textstats",
    "mapreducegcp_spark.operators.multimodal",
    "mapreducegcp_spark.operators.pipeline",
    "mapreducegcp_spark.operators.training",
    "mapreducegcp_spark.operators.graph",
    "mapreducegcp_spark.operators.timeseries",
    "mapreducegcp_spark.operators.sampling",
    "mapreducegcp_spark.operators.sketches",
    "mapreducegcp_spark.operators.layout",
    "mapreducegcp_spark.sources.pysource",
    "mapreducegcp_spark.sources.formats",
    "mapreducegcp_spark.streaming.events",
    "mapreducegcp_spark.operators.windows",
    "mapreducegcp_spark.operators.scalars",
    "mapreducegcp_spark.operators.subqueries",
    "mapreducegcp_spark.operators.udtf_ops",
    "mapreducegcp_spark.operators.aggregates",
    "mapreducegcp_spark.operators.mapred_parity",
    "mapreducegcp_spark.operators.wordcount",
    "mapreducegcp_spark.operators.inverted_index",
    "mapreducegcp_spark.operators.relational",
    "mapreducegcp_spark.operators.tpch",
]


@dataclass
class RegisteredQuery:
    name: str
    fn: QueryFn
    oracle: str | None = None
    tags: tuple[str, ...] = field(default_factory=tuple)


_REGISTRY: dict[str, RegisteredQuery] = {}
_LOADED = False


def register(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Decorator: add a ``(spark, sf_dir) -> DataFrame`` builder to the catalog."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query registration: {name}")
        _REGISTRY[name] = RegisteredQuery(name=name, fn=fn, oracle=oracle, tags=tuple(tags))
        return fn

    return deco


def _load_all() -> None:
    global _LOADED
    if _LOADED:
        return
    for mod in _OPERATOR_MODULES:
        importlib.import_module(mod)
    _LOADED = True


def all_queries() -> dict[str, RegisteredQuery]:
    """The whole catalog, in registration order (a copy)."""
    _load_all()
    return dict(_REGISTRY)


def get_query(name: str) -> RegisteredQuery:
    _load_all()
    return _REGISTRY[name]


def query_fns() -> dict[str, QueryFn]:
    return {name: rq.fn for name, rq in all_queries().items()}


def oracle_sqls() -> dict[str, str]:
    return {
        name: rq.oracle for name, rq in all_queries().items() if rq.oracle is not None
    }
