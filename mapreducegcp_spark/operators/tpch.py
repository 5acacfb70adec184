"""TPC-H query shapes adapted to the driver's star schema.

The reference has no relational queries at all (SURVEY.md §2.2 — its
entire query surface is run_mapred, Master/Master.py:61-94); these
classic shapes demonstrate the relational breadth the PySpark engine
adds on top. Q1/Q3/Q10 live in aggregates.py / relational.py; this
module adds the remaining 19 shapes (Q2, Q4-Q9, Q11-Q22) — the full
TPC-H inventory — each adapted where the driver schema lacks a TPC-H
column (no partsupp, no l_commitdate/l_receiptdate/l_shipmode; the
partsupp-dependent queries Q2/Q9/Q11/Q16/Q20 derive the part–supplier
relation from lineitem history; adaptations noted per query).

Numeric convention: all money aggregates go through the decimal-exact
helpers (functions/exact.py) so Spark and the DuckDB oracle produce
bit-identical doubles regardless of partitioning/order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreducegcp_spark.functions.exact import dec2, dsum, o_davg, o_dec2, o_dsum
from mapreducegcp_spark.registry import register
from mapreducegcp_spark.sources.catalog import load_table

_REVENUE = f"{o_dec2('l_extendedprice')} * (1 - {o_dec2('l_discount')})"

# Executable pin of the raw-localCheckpoint block bound. A
# lineage-truncated block has no recompute path, so every pinned block
# must be individually storable (functions/checkpoint.py documents the
# death mode). The JOIN-OUTPUT checkpoints below (Q21's lo, Q2's eu)
# skip safe_checkpoint's rebalance on the argument that they exit
# hash-balanced exchanges over near-uniform TPC-H keys — no pinned
# block can hold an unbounded share of the rows. Like
# two_phase_components' block_probe, that claim is measured, not
# trusted: tests set this hook to a callable ``(tag, df) -> None`` and
# check every pinned block against the bound
# (tests/test_checkpoint.py::test_tpch_join_output_checkpoint_blocks_bounded).
_checkpoint_block_probe = None


def _probed_lazy_checkpoint(tag: str, df: DataFrame) -> DataFrame:
    out = df.localCheckpoint(eager=False)
    if _checkpoint_block_probe is not None:
        _checkpoint_block_probe(tag, out)
    return out


# ------------------------------------------------------------------ Q4

_Q4_ORACLE = """
SELECT o.o_orderpriority AS priority, COUNT(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
  AND o.o_orderdate <  TIMESTAMP '1997-04-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
GROUP BY o.o_orderpriority
"""


@register("tpch_q4_order_priority", oracle=_Q4_ORACLE, tags=("relational",))
def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: orders in a quarter with at least one
    late-shipping line, counted per priority. Adapted predicate: the
    driver schema has no l_commitdate/l_receiptdate, so "late" =
    shipped >60 days after order date.

    Plan: the quarter filter pushes into the orders scan; the EXISTS
    becomes one left-semi shuffle join on orderkey (lineitem never
    widens the rows); the final agg is 5 groups — map-side partials
    make the second exchange negligible at any scale."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    late = o.join(
        li,
        (li.l_orderkey == o.o_orderkey)
        & (li.l_shipdate > F.date_add(o.o_orderdate, 60)),
        "leftsemi",
    )
    return late.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count("*").alias("order_count")
    )


# ------------------------------------------------------------------ Q6

_Q6_ORACLE = f"""
SELECT {o_dsum(f"{o_dec2('l_extendedprice')} * {o_dec2('l_discount')}")} AS revenue,
       COUNT(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


@register("tpch_q6_forecast_revenue", oracle=_Q6_ORACLE, tags=("relational",))
def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: forecasting revenue change — pure scan-filter-agg,
    the predicate-pushdown showcase. All three predicates reach the
    parquet scan as PushedFilters and ReadSchema is 4 of 11 columns;
    the single-row global agg is one partial per partition + a 1-row
    final — zero meaningful shuffle at any scale."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dsum(dec2("l_extendedprice") * dec2("l_discount")).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


# ------------------------------------------------------------------ Q7

_Q7_ORACLE = f"""
SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
       CAST(EXTRACT(year FROM l.l_shipdate) AS INT) AS l_year,
       {o_dsum(_REVENUE)} AS revenue
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation ns  ON s.s_nationkey = ns.n_nationkey
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation nc  ON c.c_nationkey = nc.n_nationkey
WHERE ns.n_name IN ('NATION_3', 'NATION_7')
  AND nc.n_name IN ('NATION_3', 'NATION_7')
  AND ns.n_name <> nc.n_name
GROUP BY ns.n_name, nc.n_name, l_year
"""


@register("tpch_q7_nation_volume", oracle=_Q7_ORACLE, tags=("relational",))
def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: shipping volume between two nations by year
    (nation names adapted to the driver's synthetic NATION_i values).

    Plan: supplier (tiny) and both nation copies broadcast, so the
    supp-nation filter applies before the big orders join; customer
    joins shuffle on custkey; the nation-pair inequality lands as a
    post-join filter on two broadcast columns. The only heavy
    exchanges are lineitem⋈orders (orderkey) and ⋈customer (custkey)
    — the same two any engine needs without bucketing."""
    li = load_table(spark, sf_dir, "lineitem")
    s = F.broadcast(load_table(spark, sf_dir, "supplier"))
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_3", "NATION_7")
    )
    ns = F.broadcast(nation.select(F.col("n_nationkey").alias("ns_key"),
                                   F.col("n_name").alias("supp_nation")))
    nc = F.broadcast(nation.select(F.col("n_nationkey").alias("nc_key"),
                                   F.col("n_name").alias("cust_nation")))
    return (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(ns, F.col("s_nationkey") == F.col("ns_key"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(nc, F.col("c_nationkey") == F.col("nc_key"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(dsum(dec2("l_extendedprice") * (1 - dec2("l_discount"))).alias("revenue"))
    )


# ------------------------------------------------------------------ Q12

_Q12_ORACLE = """
SELECT l.l_linestatus AS linestatus,
       SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
       SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END)::BIGINT AS low_line_count
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
  AND l.l_shipdate <  TIMESTAMP '1998-01-01'
  AND l.l_returnflag = 'R'
GROUP BY l.l_linestatus
"""


@register("tpch_q12_priority_lines", oracle=_Q12_ORACLE, tags=("relational",))
def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: priority mix of returned lines per line status.
    Adapted: the driver schema has no l_shipmode/receiptdate, so the
    grouping is l_linestatus and the window predicate rides l_shipdate
    with a returnflag filter.

    The conditional counts are map-side-combinable SUM(CASE...) — one
    orderkey shuffle join plus a 2-group agg."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_returnflag") == "R")
    )
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy(F.col("l_linestatus").alias("linestatus"))
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~is_high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


# ------------------------------------------------------------------ Q14

_Q14_ORACLE = f"""
SELECT CAST(CAST(100.00 * SUM(CASE WHEN p.p_type = 'PROMO'
                              THEN {_REVENUE} ELSE 0 END) AS STRING) AS DOUBLE)
       / CAST(CAST(SUM({_REVENUE}) AS STRING) AS DOUBLE) AS promo_revenue_pct,
       COUNT(*) AS n_lines
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1997-09-01'
  AND l.l_shipdate <  TIMESTAMP '1997-10-01'
"""


@register("tpch_q14_promo_effect", oracle=_Q14_ORACLE, tags=("relational",))
def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: promotion revenue share in a month. part joins
    broadcast (dimension); the month filter pushes into the lineitem
    scan. Both sums are exact decimals; the percentage is one IEEE
    division of bit-identical operands, so the double hash-matches the
    oracle."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    p = F.broadcast(load_table(spark, sf_dir, "part"))
    revenue = dec2("l_extendedprice") * (1 - dec2("l_discount"))
    zero = F.lit(0).cast("decimal(26,4)")
    promo = F.when(F.col("p_type") == "PROMO", revenue).otherwise(zero)
    return li.join(p, li.l_partkey == p.p_partkey).agg(
        (
            (F.lit(100.0) * F.sum(promo).cast("double"))
            / F.sum(revenue).cast("double")
        ).alias("promo_revenue_pct"),
        F.count("*").alias("n_lines"),
    )


# ------------------------------------------------------------------ Q18

_Q18_ORACLE = f"""
SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate,
       CAST({o_dec2('o.o_totalprice')} AS DOUBLE) AS o_totalprice, t.sum_qty
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN (SELECT l_orderkey, CAST(SUM({o_dec2('l_quantity')}) AS DOUBLE) AS sum_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM({o_dec2('l_quantity')}) > 140) t
  ON o.o_orderkey = t.l_orderkey
ORDER BY o.o_totalprice DESC, o.o_orderkey
LIMIT 20
"""


@register("tpch_q18_large_volume", oracle=_Q18_ORACLE, tags=("relational",))
def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: large-volume customers — orders whose total line
    quantity exceeds a threshold, top-20 by price.

    Plan: the HAVING aggregate shrinks lineitem to a tiny keyset
    *before* joining orders (aggregate-then-join, not join-then-
    aggregate — at 100 TB this is the difference between shuffling
    the fact table once for a 6B-row join vs joining against a few
    thousand qualifying keys, which AQE then broadcasts). Top-20 is
    TakeOrderedAndProject — no global sort."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(dec2("l_quantity")).alias("_qty"))
        .filter(F.col("_qty") > 140)
        .select("l_orderkey", F.col("_qty").cast("double").alias("sum_qty"))
    )
    return (
        o.join(big, o.o_orderkey == big.l_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            dec2("o_totalprice").cast("double").alias("o_totalprice"),
            "sum_qty",
        )
    )


# ------------------------------------------------------------------ Q19

_Q19_ORACLE = f"""
SELECT {o_dsum(_REVENUE)} AS revenue, COUNT(*) AS n_lines
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
       AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 35
       AND l.l_quantity BETWEEN 20 AND 30)
"""


@register("tpch_q19_disjunctive", oracle=_Q19_ORACLE, tags=("relational",))
def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: discounted revenue under an OR-of-ANDs predicate
    spanning both join sides. Catalyst extracts the common
    single-side conjuncts (brand/size on part, quantity bands on
    lineitem) as pushable pre-join filters and keeps the cross-side
    disjunction as the join's residual condition — part broadcasts,
    so the whole thing is one scan of lineitem."""
    li = load_table(spark, sf_dir, "lineitem")
    p = F.broadcast(load_table(spark, sf_dir, "part"))
    revenue = dec2("l_extendedprice") * (1 - dec2("l_discount"))
    cond = (
        (
            (p.p_brand == "Brand#12")
            & p.p_size.between(1, 15)
            & li.l_quantity.between(1, 11)
        )
        | (
            (p.p_brand == "Brand#23")
            & p.p_size.between(1, 25)
            & li.l_quantity.between(10, 20)
        )
        | (
            (p.p_brand == "Brand#34")
            & p.p_size.between(1, 35)
            & li.l_quantity.between(20, 30)
        )
    )
    return li.join(p, (li.l_partkey == p.p_partkey) & cond).agg(
        dsum(revenue).alias("revenue"), F.count("*").alias("n_lines")
    )


# ------------------------------------------------------------------ Q15

_Q15_ORACLE = f"""
WITH rev AS (
  SELECT l_suppkey AS supplier_no, {o_dsum(_REVENUE)} AS total_revenue
  FROM lineitem l
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate <  TIMESTAMP '1997-04-01'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, r.total_revenue
FROM supplier s JOIN rev r ON s.s_suppkey = r.supplier_no
WHERE r.total_revenue = (SELECT max(total_revenue) FROM rev)
"""


@register("tpch_q15_top_supplier", oracle=_Q15_ORACLE, tags=("relational",))
def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: the quarter's top supplier(s) by revenue — an
    aggregate "view" filtered by its own max (an uncorrelated scalar
    subquery). The decimal-exact revenue makes the max comparison an
    equality on bit-identical doubles, so ties resolve identically in
    both engines.

    Plan: one shuffle to the per-supplier rollup (map-side combined);
    the max is a broadcast 1-row aggregate over that tiny table;
    supplier joins broadcast. lineitem is scanned once."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    rev = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(dsum(dec2("l_extendedprice") * (1 - dec2("l_discount"))).alias("total_revenue"))
        # rev feeds the max AND the filter join; the checkpoint makes
        # "lineitem is scanned once" physically true
        .localCheckpoint(eager=False)
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    s = F.broadcast(load_table(spark, sf_dir, "supplier"))
    return (
        rev.join(F.broadcast(mx), rev.total_revenue == F.col("mx"))
        .join(s, F.col("supplier_no") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


# ------------------------------------------------------------------ Q21

_Q21_ORACLE = """
WITH lo AS (
  SELECT l.l_orderkey, l.l_suppkey,
         l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY AS late
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderstatus = 'F'
),
per_order AS (
  SELECT l_orderkey,
         count(DISTINCT l_suppkey) AS n_supp,
         count(DISTINCT CASE WHEN late THEN l_suppkey END) AS n_late_supp
  FROM lo GROUP BY l_orderkey
)
SELECT s.s_name, count(*) AS numwait
FROM lo
JOIN per_order p ON lo.l_orderkey = p.l_orderkey
JOIN supplier s  ON lo.l_suppkey = s.s_suppkey
WHERE lo.late AND p.n_supp > 1 AND p.n_late_supp = 1
GROUP BY s.s_name
ORDER BY numwait DESC, s.s_name
LIMIT 10
"""


@register("tpch_q21_suppliers_kept_waiting", oracle=_Q21_ORACLE, tags=("relational",))
def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the SOLE late supplier on a
    finished multi-supplier order. Adapted: "late" = shipped >60 days
    after order date (no commit/receipt dates in the driver schema).

    The classic formulation is EXISTS + correlated NOT EXISTS; this is
    the decorrelated equivalent — one per-order aggregate (distinct
    suppliers, distinct late suppliers) joined back to the late lines.
    Same trick as Q18: aggregate-then-join keeps the second pass keyed
    on the already-shuffled orderkey, and at 100 TB AQE broadcasts the
    shrunken per-order table. The oracle mirrors this derivation, so
    semantics are pinned line-for-line."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    li = load_table(spark, sf_dir, "lineitem")
    # lo feeds BOTH the per-order aggregate and the late-lines probe;
    # without the checkpoint each consumer re-derives the scan + the
    # orderkey shuffle join (2 lineitem scans, 2 orders scans, 2 wide
    # joins — history/plans/r12/tpch_q21_suppliers_kept_waiting_before.txt).
    # Lazy localCheckpoint materializes the joined, projected (3-col)
    # table once; the checkpointed RDD keeps its orderkey hash
    # partitioning, so the groupBy and the join-back both reuse it
    # without a new exchange.
    lo = _probed_lazy_checkpoint(
        "q21_lo",
        li.join(o, li.l_orderkey == o.o_orderkey).select(
            "l_orderkey",
            "l_suppkey",
            (F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 60)).alias("late"),
        ),
    )
    per_order = lo.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(F.col("late"), F.col("l_suppkey"))).alias("n_late_supp"),
    )
    s = F.broadcast(load_table(spark, sf_dir, "supplier"))
    return (
        lo.filter(F.col("late"))
        .join(per_order, "l_orderkey")
        .filter((F.col("n_supp") > 1) & (F.col("n_late_supp") == 1))
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(10)
    )


# ------------------------------------------------------------------ Q22

_Q22_ORACLE = f"""
SELECT c.c_mktsegment, count(*) AS numcust,
       {o_dsum(o_dec2('c.c_acctbal'))} AS totacctbal
FROM customer c
WHERE c.c_acctbal > (
  SELECT {o_davg(o_dec2('c2.c_acctbal'))} FROM customer c2 WHERE c2.c_acctbal > 0.0
)
AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                AND o.o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY c.c_mktsegment
"""


@register("tpch_q22_global_sales_opportunity", oracle=_Q22_ORACLE, tags=("relational",))
def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: rich customers with no recent order, per
    market segment (segment stands in for the phone country code and
    "recent" scopes the anti join — the driver's synthetic customers
    all have lifetime orders). Uncorrelated scalar average (decimal-exact, so the
    cut line is bit-identical) + anti join on custkey + rollup."""
    c = load_table(spark, sf_dir, "customer")
    avg_pos = c.filter(F.col("c_acctbal") > 0.0).agg(
        (F.sum(dec2("c_acctbal")).cast("double") / F.count(F.lit(1))).alias("cut")
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    return (
        c.join(F.broadcast(avg_pos), F.col("c_acctbal") > F.col("cut"))
        .join(o, c.c_custkey == o.o_custkey, "leftanti")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("numcust"),
            dsum("c_acctbal").alias("totacctbal"),
        )
    )


# ------------------------------------------------------------------ Q8

_Q8_ORACLE = f"""
SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS INT) AS o_year,
       CAST(CAST(SUM(CASE WHEN ns.n_name = 'NATION_3' THEN {_REVENUE} ELSE
                CAST(0 AS DECIMAL(26,4)) END) AS STRING) AS DOUBLE)
         / CAST(CAST(SUM({_REVENUE}) AS STRING) AS DOUBLE) AS mkt_share
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation ns  ON s.s_nationkey = ns.n_nationkey
JOIN orders o   ON l.l_orderkey = o.o_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
GROUP BY o_year
"""


@register("tpch_q8_market_share", oracle=_Q8_ORACLE, tags=("relational",))
def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of supplier revenue per order
    year (adapted to the driver's synthetic NATION_i names and flat
    dimension chain). The share is a ratio of two decimal-exact sums —
    one IEEE division of bit-identical operands per group."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp")
    )
    s = F.broadcast(load_table(spark, sf_dir, "supplier"))
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    o = load_table(spark, sf_dir, "orders")
    revenue = dec2("l_extendedprice") * (1 - dec2("l_discount"))
    zero = F.lit(0).cast("decimal(26,4)")
    nat_rev = F.when(F.col("n_name") == "NATION_3", revenue).otherwise(zero)
    return (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(n, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (F.sum(nat_rev).cast("double") / F.sum(revenue).cast("double")).alias(
                "mkt_share"
            )
        )
    )


# ------------------------------------------------------------------ Q13

_Q13_ORACLE = """
WITH c_orders AS (
  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
  FROM customer c
  LEFT OUTER JOIN orders o
    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
  GROUP BY c.c_custkey
)
SELECT c_count, count(*) AS custdist
FROM c_orders
GROUP BY c_count
"""


@register("tpch_q13_customer_distribution", oracle=_Q13_ORACLE, tags=("relational",))
def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: distribution of per-customer order counts, with the
    LEFT OUTER join keeping zero-order customers (count(o_orderkey)
    skips the null-extended rows, so they land in the c_count=0 bucket
    — the null-semantics contract the outer join exists to test).

    Plan: one custkey shuffle join + two cheap aggregates; the second
    groupBy is on c_count (tiny domain), all map-side combined."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    c_orders = (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return c_orders.groupBy("c_count").agg(F.count("*").alias("custdist"))


# ------------------------------------------------------------------ Q5

_Q5_ORACLE = f"""
SELECT n.n_name AS nation, {o_dsum(_REVENUE)} AS revenue
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n   ON s.s_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1997-01-01'
  AND o.o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY n.n_name
"""


@register("tpch_q5_local_supplier_volume", oracle=_Q5_ORACLE, tags=("relational",))
def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5: revenue per nation where customer and supplier share
    the nation, scoped to one region and one order year.

    Plan: region⋈nation⋈supplier collapse into one broadcast chain, so
    lineitem picks up s_nationkey/n_name map-side; the year filter
    pushes into the orders scan. The only wide exchanges are
    lineitem⋈orders (orderkey) and ⋈customer (custkey); the
    same-nation predicate rides the customer join as a residual —
    never a separate shuffle. 25 output groups, all map-side combined."""
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load_table(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    )
    s = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    )
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    c = load_table(spark, sf_dir, "customer")
    return (
        li.join(F.broadcast(s), li.l_suppkey == F.col("s_suppkey"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(
            c,
            (o.o_custkey == c.c_custkey)
            & (c.c_nationkey == F.col("s_nationkey")),
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(dsum(dec2("l_extendedprice") * (1 - dec2("l_discount"))).alias("revenue"))
    )


# ------------------------------------------------------------------ Q2

_Q2_ORACLE = """
WITH ps AS (
  SELECT l_partkey, l_suppkey,
         min(l_extendedprice / l_quantity) AS supply_cost
  FROM lineitem GROUP BY l_partkey, l_suppkey
),
eu AS (
  SELECT ps.*, s.s_name, s.s_acctbal, n.n_name
  FROM ps
  JOIN supplier s ON ps.l_suppkey = s.s_suppkey
  JOIN nation n   ON s.s_nationkey = n.n_nationkey
  JOIN region r   ON n.n_regionkey = r.r_regionkey
  WHERE r.r_name = 'EUROPE'
)
SELECT eu.s_acctbal, eu.s_name, eu.n_name, p.p_partkey, p.p_name, eu.supply_cost
FROM eu JOIN part p ON eu.l_partkey = p.p_partkey
WHERE p.p_size = 15 AND p.p_type = 'STANDARD'
  AND eu.supply_cost = (SELECT min(e2.supply_cost) FROM eu e2
                        WHERE e2.l_partkey = eu.l_partkey)
ORDER BY eu.s_acctbal DESC, eu.n_name, eu.s_name, p.p_partkey
LIMIT 100
"""


@register("tpch_q2_min_cost_supplier", oracle=_Q2_ORACLE, tags=("relational",))
def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: for each qualifying part, the EUROPE supplier
    offering it at the minimum cost. Adapted: the driver schema has no
    partsupp, so the part–supplier catalog is derived from lineitem
    history and supply_cost = min observed unit price
    (l_extendedprice/l_quantity — deterministic IEEE division, exact
    min, so the double equality joins identically in both engines).

    Plan: the correlated min subquery decorrelates into a per-part
    aggregate joined back on (partkey, cost) — both sides of that join
    come from the same already-shuffled partkey partitioning, so no
    extra exchange. supplier/nation/region broadcast; the part filter
    broadcasts too. Top-100 is TakeOrderedAndProject."""
    li = load_table(spark, sf_dir, "lineitem")
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("supply_cost")
    )
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    n = load_table(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    )
    s = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    )
    # eu feeds BOTH the per-part min aggregate and the join-back;
    # checkpointing it materializes the lineitem rollup + supplier
    # chain once (was: 2 lineitem scans, the dim chain derived twice —
    # 24 Exchanges in the audited plan). Project to the 5 columns the
    # consumers need BEFORE the checkpoint (guide §2.3): Catalyst
    # cannot prune columns across a checkpoint boundary, so without
    # the select the pinned blocks carry the full 12-column supplier⋈
    # nation⋈region row (measured round 13: flat at sf10, ~4% faster
    # at sf0.1, and strictly fewer pinned bytes at any scale).
    eu = _probed_lazy_checkpoint(
        "q2_eu",
        ps.join(F.broadcast(s), ps.l_suppkey == F.col("s_suppkey")).select(
            "l_partkey", "supply_cost", "s_acctbal", "s_name", "n_name"
        ),
    )
    mn = eu.groupBy(F.col("l_partkey").alias("mn_partkey")).agg(
        F.min("supply_cost").alias("min_cost")
    )
    p = F.broadcast(
        load_table(spark, sf_dir, "part").filter(
            (F.col("p_size") == 15) & (F.col("p_type") == "STANDARD")
        )
    )
    return (
        eu.join(
            mn,
            (eu.l_partkey == F.col("mn_partkey"))
            & (eu.supply_cost == F.col("min_cost")),
        )
        .join(p, eu.l_partkey == p.p_partkey)
        .orderBy(F.desc("s_acctbal"), F.asc("n_name"), F.asc("s_name"), F.asc("p_partkey"))
        .limit(100)
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name", "supply_cost")
    )


# ------------------------------------------------------------------ Q9

_Q9_COST = f"{o_dec2('p.p_retailprice')} * {o_dec2('l.l_quantity')}"

_Q9_ORACLE = f"""
SELECT n.n_name AS nation,
       CAST(EXTRACT(year FROM o.o_orderdate) AS INT) AS o_year,
       {o_dsum(f"{_REVENUE} - {_Q9_COST}")} AS sum_profit
FROM lineitem l
JOIN part p     ON p.p_partkey = l.l_partkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n   ON s.s_nationkey = n.n_nationkey
JOIN orders o   ON o.o_orderkey = l.l_orderkey
WHERE p.p_name LIKE '%gear%'
GROUP BY n.n_name, o_year
"""


@register("tpch_q9_product_profit", oracle=_Q9_ORACLE, tags=("relational",))
def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit on a product line by supplier nation and
    order year. Adapted: no partsupp, so cost = p_retailprice *
    l_quantity (decimal-exact, same scale-4 domain as the revenue term
    — the subtraction never rounds in either engine).

    Plan: the p_name filter prunes part before its broadcast join, so
    lineitem shrinks map-side before the one orderkey shuffle;
    supplier/nation broadcast. ~125 output groups (25 nations × 5
    years), all partial-aggregated."""
    li = load_table(spark, sf_dir, "lineitem")
    p = F.broadcast(
        load_table(spark, sf_dir, "part").filter(F.col("p_name").contains("gear"))
    )
    s = F.broadcast(load_table(spark, sf_dir, "supplier"))
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    o = load_table(spark, sf_dir, "orders")
    amount = dec2("l_extendedprice") * (1 - dec2("l_discount")) - dec2(
        "p_retailprice"
    ) * dec2("l_quantity")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(n, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(F.sum(amount).cast("double").alias("sum_profit"))
    )


# ------------------------------------------------------------------ Q11

_Q11_ORACLE = f"""
WITH v AS (
  SELECT l.l_partkey, SUM({o_dec2('l.l_extendedprice')}) AS value_dec
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n   ON s.s_nationkey = n.n_nationkey
  JOIN region r   ON n.n_regionkey = r.r_regionkey
  WHERE r.r_name = 'EUROPE'
  GROUP BY l.l_partkey
)
SELECT l_partkey AS ps_partkey, CAST(CAST(value_dec AS STRING) AS DOUBLE) AS value
FROM v
WHERE CAST(CAST(value_dec AS STRING) AS DOUBLE) >
      0.001 * (SELECT CAST(CAST(SUM(value_dec) AS STRING) AS DOUBLE) FROM v)
"""


@register("tpch_q11_important_stock", oracle=_Q11_ORACLE, tags=("relational",))
def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose traded value through one region's
    suppliers exceeds a fraction of that region's total. Adapted: no
    partsupp, so value = shipped l_extendedprice through EUROPE
    suppliers rather than availqty*supplycost.

    The grand total is the decimal sum of the per-part decimal
    subtotals — decimal addition is associative, so re-aggregating
    subtotals is exact in any partition order and the single
    final cast lands on the same double as the oracle's HUGEINT sum.

    Plan: region⋈nation⋈supplier broadcast onto lineitem; one partkey
    shuffle for the rollup; the total is a 1-row re-aggregate of that
    rollup (no second lineitem scan) broadcast back as the threshold."""
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    n = load_table(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    )
    s = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    )
    li = load_table(spark, sf_dir, "lineitem")
    v = (
        li.join(F.broadcast(s), li.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum(dec2("l_extendedprice")).alias("value_dec"))
        # v feeds the grand total AND the threshold filter; the
        # checkpoint makes "no second lineitem scan" true in the
        # physical plan, not just the docstring
        .localCheckpoint(eager=False)
    )
    total = v.agg(F.sum("value_dec").cast("double").alias("total"))
    return (
        v.join(F.broadcast(total))
        .filter(F.col("value_dec").cast("double") > 0.001 * F.col("total"))
        .select(
            F.col("l_partkey").alias("ps_partkey"),
            F.col("value_dec").cast("double").alias("value"),
        )
    )


# ------------------------------------------------------------------ Q16

_Q16_ORACLE = """
SELECT p.p_brand, p.p_type, p.p_size,
       count(DISTINCT ps.l_suppkey) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
JOIN part p ON p.p_partkey = ps.l_partkey
WHERE p.p_brand <> 'Brand#1' AND p.p_type <> 'PROMO'
  AND p.p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
  AND ps.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p.p_brand, p.p_type, p.p_size
"""


@register("tpch_q16_supplier_part_types", oracle=_Q16_ORACLE, tags=("relational",))
def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: how many distinct suppliers can provide parts
    of each brand/type/size combo, excluding blacklisted suppliers.
    Adapted: the part–supplier catalog is the distinct (partkey,
    suppkey) pairs in lineitem history; the complaint blacklist is
    suppliers with negative balance (NOT IN, null-free keys ⇒ plain
    anti join).

    Plan: the distinct-pair dedup and the count-distinct reuse the
    same partkey-ish shuffle; part's brand/type/size filters broadcast
    onto the pairs, and the blacklist is a broadcast anti join —
    lineitem is the only large input and is touched once."""
    li = load_table(spark, sf_dir, "lineitem")
    ps = li.select("l_partkey", "l_suppkey").distinct()
    bad = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    p = F.broadcast(
        load_table(spark, sf_dir, "part").filter(
            (F.col("p_brand") != "Brand#1")
            & (F.col("p_type") != "PROMO")
            & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)
        )
    )
    return (
        ps.join(F.broadcast(bad), ps.l_suppkey == bad.s_suppkey, "leftanti")
        .join(p, ps.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


# ------------------------------------------------------------------ Q17

_Q17_ORACLE = f"""
WITH pf AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#23'),
a AS (
  SELECT l.l_partkey AS pk,
         {o_davg(o_dec2('l.l_quantity'))} AS avg_qty
  FROM lineitem l JOIN pf ON l.l_partkey = pf.p_partkey
  GROUP BY l.l_partkey
)
SELECT {o_dsum(o_dec2('l.l_extendedprice'))} / 7.0 AS avg_yearly,
       COUNT(*) AS n_lines
FROM lineitem l JOIN a ON a.pk = l.l_partkey
WHERE l.l_quantity < 0.2 * a.avg_qty
"""


@register("tpch_q17_small_quantity_revenue", oracle=_Q17_ORACLE, tags=("relational",))
def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: revenue lost to small-quantity orders of one brand —
    lines below 20% of their part's average order quantity (the
    correlated AVG subquery, decorrelated). Adapted: brand filter only
    (no p_container in the driver schema).

    Plan: the brand filter semi-joins lineitem down *before* the
    per-part average — per-part AVG is unchanged by dropping other
    parts, so the avg aggregate runs on the pruned fraction of
    lineitem instead of all of it. One partkey shuffle feeds both the
    average and the join-back (same partitioning, no extra exchange);
    the average is exact decimal-sum / count in both engines."""
    pf = F.broadcast(
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#23")
        .select("p_partkey")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        # project BEFORE the checkpoint: only these three columns are
        # consumed downstream, so the materialized survivor table is
        # narrow (guide §2.3 project-early)
        .select("l_partkey", "l_quantity", "l_extendedprice")
        .join(pf, F.col("l_partkey") == F.col("p_partkey"), "leftsemi")
        # li feeds the per-part average AND the join-back; checkpoint
        # the brand-pruned slice once instead of scanning + semi-joining
        # lineitem twice
        .localCheckpoint(eager=False)
    )
    a = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (F.sum(dec2("l_quantity")).cast("double") / F.count(F.lit(1))).alias("avg_qty")
    )
    return (
        li.join(a, li.l_partkey == a.pk)
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            (F.sum(dec2("l_extendedprice")).cast("double") / 7.0).alias("avg_yearly"),
            F.count("*").alias("n_lines"),
        )
    )


# ------------------------------------------------------------------ Q20

_Q20_ORACLE = f"""
WITH excess AS (
  SELECT l.l_suppkey
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey AND p.p_name LIKE 'small%'
  WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
    AND l.l_shipdate <  TIMESTAMP '1998-01-01'
  GROUP BY l.l_suppkey, l.l_partkey
  HAVING SUM({o_dec2('l.l_quantity')}) > 40
)
SELECT s.s_name, s.s_acctbal
FROM supplier s
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'EUROPE'
  AND s.s_suppkey IN (SELECT l_suppkey FROM excess)
"""


@register("tpch_q20_part_promotion", oracle=_Q20_ORACLE, tags=("relational",))
def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: EUROPE suppliers who shipped a surplus (>40
    units in 1997) of any 'small*' part — candidates for a promotion.
    Adapted: surplus is measured from shipment history instead of
    partsupp availqty.

    Plan: the part-name filter broadcasts onto the date-pruned
    lineitem scan; one (suppkey, partkey) shuffle for the surplus
    aggregate (decimal-exact HAVING, identical cut in both engines);
    the supplier side is a broadcast of the 20 EUROPE suppliers
    semi-joined against the surplus keys — at any scale the wide side
    is scanned once and only qualifying pairs survive the exchange."""
    sp = F.broadcast(
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").startswith("small"))
        .select("p_partkey")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    excess = (
        li.join(sp, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(dec2("l_quantity")).alias("_qty"))
        .filter(F.col("_qty") > 40)
        .select("l_suppkey")
    )
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    n = load_table(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    )
    s = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    )
    return s.join(
        excess, s.s_suppkey == excess.l_suppkey, "leftsemi"
    ).select("s_name", "s_acctbal")
