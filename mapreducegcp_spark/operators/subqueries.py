"""Subquery operators — EXISTS / IN / correlated scalar subqueries.

Relational-breadth surface (SURVEY.md §7 Phase 2; absent from the
reference per §2.2). Expressed through ``spark.sql`` over temp views so
Catalyst's subquery machinery itself is exercised: EXISTS/IN rewrite to
left-semi joins, NOT EXISTS to anti joins, correlated scalar
aggregates to an aggregate-then-join — the same physical plans the
DataFrame API would produce, but proving the SQL entry point works.

Scale posture: every subquery here decorrelates to a join keyed on the
filter column (orderkey/partkey) — shuffle-partitioned, map-side
pre-aggregated where an aggregate feeds the join. Nothing degenerates
to per-row re-execution (Spark has no iterative subquery executor; if
Catalyst can't decorrelate, planning fails loudly rather than running
N+1 scans — none of these do).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from mapreducegcp_spark.functions.exact import o_dec2, o_dsum
from mapreducegcp_spark.registry import register
from mapreducegcp_spark.session import fork
from mapreducegcp_spark.sources.catalog import load_table


def _views(spark: SparkSession, sf_dir: str, *names: str) -> SparkSession:
    """A fork (session.py) holding the named tables as temp views."""
    spark = fork(spark)
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)
    return spark


_EXISTS_SQL = """
SELECT o.o_orderpriority, count(*) AS n_orders
FROM orders o
WHERE EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45
)
GROUP BY o.o_orderpriority
"""


@register("subquery_exists", oracle=_EXISTS_SQL, tags=("relational",))
def q_subquery_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS subquery (TPC-H Q4 shape): orders having at least one
    high-quantity line, counted per priority. Catalyst rewrites the
    EXISTS to a left-semi hash join on l_orderkey."""
    return _views(spark, sf_dir, "orders", "lineitem").sql(_EXISTS_SQL)


_NOT_EXISTS_SQL = """
SELECT c.c_mktsegment, count(*) AS n_customers
FROM customer c
WHERE NOT EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000
)
GROUP BY c.c_mktsegment
"""


@register("subquery_not_exists", oracle=_NOT_EXISTS_SQL, tags=("relational",))
def q_subquery_not_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS: customers with no big-ticket order, per segment —
    rewritten to a left-anti join (null-safe, unlike NOT IN with
    nullable keys); the price filter pushes into the orders scan."""
    return _views(spark, sf_dir, "customer", "orders").sql(_NOT_EXISTS_SQL)


_IN_SQL = """
SELECT p.p_brand, count(*) AS n_parts
FROM part p
WHERE p.p_partkey IN (
  SELECT l.l_partkey FROM lineitem l WHERE l.l_returnflag = 'R'
)
GROUP BY p.p_brand
"""


@register("subquery_in", oracle=_IN_SQL, tags=("relational",))
def q_subquery_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN subquery: brands of parts that appear on returned lines —
    semi join keyed on partkey; the returnflag filter pushes into the
    lineitem scan before the exchange."""
    return _views(spark, sf_dir, "part", "lineitem").sql(_IN_SQL)


_SCALAR_CORR_SQL = f"""
SELECT l.l_partkey,
       count(*) AS n_small_lines,
       {o_dsum(o_dec2('l.l_extendedprice'))} AS small_revenue
FROM lineitem l
WHERE l.l_quantity < (
  SELECT 0.5 * ({o_dsum(o_dec2('l2.l_quantity'))} / count(*))
  FROM lineitem l2
  WHERE l2.l_partkey = l.l_partkey
)
GROUP BY l.l_partkey
"""


# The Spark-side formulation: the correlated scalar aggregate as a
# partkey-partitioned window (the classic TPC-H Q17 rewrite). The
# whole-partition window aggregate over l_partkey IS the subquery's
# per-part average (same decimal-exact expression), computed in ONE
# pass over lineitem with ONE exchange — and the final GROUP BY
# l_partkey reuses that exact hash partitioning, so Catalyst plans no
# second exchange. The decorrelated aggregate-join form the SQL text
# would plan costs two lineitem scans and two shuffles plus a join.
# The NULL-partkey guard makes the rewrite provably identical: the
# subquery's avg over an empty correlated set is NULL (comparison
# false, row dropped), while a window PARTITION BY groups NULL keys
# together and would score them — excluding NULL keys up front keeps
# both shapes row-identical (TPC-H data has no NULL partkeys; the
# guard is for equivalence, not data).
_SCALAR_CORR_WINDOW_SQL = f"""
SELECT l_partkey,
       count(*) AS n_small_lines,
       {o_dsum(o_dec2('l_extendedprice'))} AS small_revenue
FROM (
  SELECT l_partkey, l_extendedprice, l_quantity,
         CAST(CAST(SUM({o_dec2('l_quantity')})
                   OVER (PARTITION BY l_partkey) AS STRING) AS DOUBLE) AS qsum,
         count(*) OVER (PARTITION BY l_partkey) AS qcnt
  FROM lineitem
  WHERE l_partkey IS NOT NULL
)
WHERE l_quantity < 0.5 * (qsum / qcnt)
GROUP BY l_partkey
"""


@register("subquery_scalar_correlated", oracle=_SCALAR_CORR_SQL, tags=("relational",))
def q_subquery_scalar_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar aggregate (TPC-H Q17 shape): lines with
    quantity under half their part's average. The DuckDB oracle keeps
    the textbook correlated-subquery SQL; the Spark plan runs the
    equivalent single-pass window rewrite (_SCALAR_CORR_WINDOW_SQL —
    one lineitem scan, one l_partkey exchange shared by the window and
    the final rollup, guide §2.4's exchange-reuse pattern) instead of
    the decorrelated aggregate-join (two scans, two shuffles, a join).
    Equivalence argued at the rewrite definition; proven by the
    unchanged oracle hash. The comparison avg goes through the
    decimal-exact convention (functions/exact.py), so the filter
    boundary is order-independent and hash-stable across engines."""
    return _views(spark, sf_dir, "lineitem").sql(_SCALAR_CORR_WINDOW_SQL)


_SCALAR_UNCORR_SQL = f"""
SELECT o.o_orderpriority, count(*) AS n_orders
FROM orders o
WHERE o.o_totalprice > (
  SELECT ({o_dsum(o_dec2('o2.o_totalprice'))} / count(*)) * 1.5 FROM orders o2
)
GROUP BY o.o_orderpriority
"""


@register("subquery_scalar_uncorrelated", oracle=_SCALAR_UNCORR_SQL, tags=("relational",))
def q_subquery_scalar_uncorrelated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery: orders 50% above the global average
    price. Planned as a one-row subquery result broadcast into the
    scan's filter — no join shuffle at all. The average goes through
    the decimal-exact convention (functions/exact.py), so the cut line
    is bit-identical in both engines."""
    return _views(spark, sf_dir, "orders").sql(_SCALAR_UNCORR_SQL)
