"""Relational operators: filter/project, joins of every flavor, set ops,
top-k — the capability gap SURVEY.md §2.2 identifies (the reference has
none of these; its only dataflow is map -> shuffle -> reduce,
Master/Master.py:61-94).

Everything here is declarative DataFrame composition — Catalyst supplies
predicate pushdown, column pruning, and join planning. Scale notes sit on
each operator: which side broadcasts, where the shuffle lands, why the
plan survives a 1000-executor 100 TB run.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mapreducegcp_spark.functions.exact import dec2, dsum, o_dec2, o_dsum
from mapreducegcp_spark.functions.memo import memo, stamp
from mapreducegcp_spark.registry import register
from mapreducegcp_spark.session import fork
from mapreducegcp_spark.sources.catalog import load_table


# ---------------------------------------------------------------- filter/project

_FILTER_ORACLE = """
SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.02 AND 0.08
  AND l_quantity < 30
"""


@register("filter_project", oracle=_FILTER_ORACLE, tags=("relational",))
def q_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selection + projection. At scale this is the pushdown showcase:
    all three predicates reach the parquet scan (PushedFilters) and
    ReadSchema carries only the 7 referenced columns of 11."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & F.col("l_discount").between(0.02, 0.08)
        & (F.col("l_quantity") < 30)
    ).select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")


# ---------------------------------------------------------------- joins

_REVENUE = f"{o_dec2('l_extendedprice')} * (1 - {o_dec2('l_discount')})"

_NATION_REVENUE_ORACLE = f"""
SELECT n.n_name AS nation, r.r_name AS region,
       {o_dsum(_REVENUE)} AS revenue,
       COUNT(*) AS n_items
FROM lineitem l
JOIN orders o    ON l.l_orderkey = o.o_orderkey
JOIN customer c  ON o.o_custkey = c.c_custkey
JOIN nation n    ON c.c_nationkey = n.n_nationkey
JOIN region r    ON n.n_regionkey = r.r_regionkey
GROUP BY n.n_name, r.r_name
"""


@register("join_nation_revenue", oracle=_NATION_REVENUE_ORACLE, tags=("relational",))
def q_join_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Four-way join, TPC-H Q5 shape. Scale plan: lineitem⋈orders is the
    one lineitem-sized shuffle (both huge, co-partitioned on orderkey);
    revenue then PARTIALLY AGGREGATES by o_custkey BELOW the customer
    join — a push-down Catalyst does not do on its own — so the second
    shuffle carries one row per customer, never per line item (exact:
    decimal sums are associative, so sum-of-per-customer-sums is
    bit-identical to the flat sum). nation (25 rows) and region (5)
    are explicit broadcasts so the customer-sized stream is never
    repartitioned for them. At 100 TB the custkey exchange drops from
    ~6e9 lineitem rows to ~1.5e8 customer rows — the difference
    between a second fact-sized shuffle and a dim-sized one.

    NOT pre-aggregated per order (the tpch_q10/join_priority_revenue
    rewrite), measured at THREE scales in round 13 and rejected on the
    largest: alternating same-session A/B mins, old vs per-order-rollup
    — sf0.1 wash (1.49 vs 1.46), sf1 rollup wins (2.59 vs 2.17), sf10
    (60M lines) rollup LOSES consistently (7.15 vs 9.39 and 10.81 vs
    13.24 across two sessions). The unfiltered per-order aggregate
    builds ~500k-key hash tables per map task before the exchange,
    and on a local box where shuffle bytes ride the page cache that
    CPU/memory cost buys nothing back; q10's version survives because
    its returnflag filter quarters the aggregate's input first. A
    network cluster (where the 4x row cut pays per byte) should
    re-measure — the decision flips on shuffle transport cost, so it
    belongs to the deployment, not the code shape."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    region = F.broadcast(load_table(spark, sf_dir, "region"))
    revenue = dec2("l_extendedprice") * (1 - dec2("l_discount"))
    per_cust = (
        li.select("l_orderkey", revenue.alias("rev"))
        .join(
            orders.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_custkey")
        .agg(F.sum("rev").alias("rev_c"), F.count("*").alias("n_c"))
    )
    return (
        per_cust.join(cust, per_cust.o_custkey == cust.c_custkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"), F.col("r_name").alias("region"))
        .agg(
            F.sum("rev_c").cast("double").alias("revenue"),
            F.sum("n_c").alias("n_items"),
        )
    )


_PRIORITY_ORACLE = f"""
SELECT o.o_orderpriority AS priority,
       COUNT(DISTINCT o.o_orderkey) AS n_orders,
       {o_dsum(_REVENUE)} AS revenue
FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
"""


@register("join_priority_revenue", oracle=_PRIORITY_ORACLE, tags=("relational",))
def q_join_priority_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large⋈large shuffle join (orders⋈lineitem on orderkey) + low-
    cardinality re-aggregation. Lineitem is rolled up to one decimal
    revenue row PER ORDER before the join, so the orderkey exchange
    carries order-count rollups instead of every line, and the final
    priority aggregate is a plain count(*) — the two-phase distinct
    aggregation (an extra fact-sized HashAggregate pair over
    (priority, orderkey)) the naive join-then-countDistinct shape pays
    is gone. Decimal sums are
    exact and associative, so the two-stage rollup is bit-identical to
    the oracle's flat SUM/COUNT DISTINCT (inner join ⇒ both count
    exactly the orders that have lines). At 100 TB bucketing both
    tables on orderkey removes the remaining exchange entirely."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    revenue = dec2("l_extendedprice") * (1 - dec2("l_discount"))
    per_order = (
        li.select("l_orderkey", revenue.alias("rev"))
        .groupBy("l_orderkey")
        .agg(F.sum("rev").alias("rev_o"))
    )
    return (
        orders.select("o_orderkey", "o_orderpriority")
        .join(per_order, per_order.l_orderkey == F.col("o_orderkey"))
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("rev_o").cast("double").alias("revenue"),
        )
    )


_SEMI_ORACLE = """
SELECT c_custkey, c_name, c_acctbal
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
"""


@register("join_semi", oracle=_SEMI_ORACLE, tags=("relational",))
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join — EXISTS without duplicating or widening rows.
    Only the orders key column crosses the shuffle; at scale the filter
    on the probe side shrinks it before the exchange."""
    cust = load_table(spark, sf_dir, "customer")
    big = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return cust.join(big, cust.c_custkey == big.o_custkey, "leftsemi").select(
        "c_custkey", "c_name", "c_acctbal"
    )


_ANTI_ORACLE = """
SELECT c_custkey, c_name
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 350000)
"""


@register("join_anti", oracle=_ANTI_ORACLE, tags=("relational",))
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join — NOT EXISTS (customers with no large order).
    Same shuffle shape as semi; the probe-side filter shrinks the
    build input before the exchange."""
    cust = load_table(spark, sf_dir, "customer")
    big = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 350000)
    return cust.join(big, cust.c_custkey == big.o_custkey, "leftanti").select(
        "c_custkey", "c_name"
    )


_RANGE_JOIN_ORACLE = """
SELECT b.band, COUNT(*) AS n_parts, MIN(p.p_retailprice) AS min_price,
       MAX(p.p_retailprice) AS max_price
FROM part p
JOIN (VALUES ('budget', 0.0, 930.0), ('mid', 930.0, 970.0),
             ('premium', 970.0, 100000.0)) AS b(band, lo, hi)
  ON p.p_retailprice >= b.lo AND p.p_retailprice < b.hi
GROUP BY b.band
"""


@register("join_range_band", oracle=_RANGE_JOIN_ORACLE, tags=("relational",))
def q_join_range_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (theta/range) join against a tiny inline dimension.
    MUST broadcast: a non-equi join with no equi keys would otherwise
    be BroadcastNestedLoop against a shuffled big side or worse; with
    the 3-row band table broadcast it is a single scan of part."""
    part = load_table(spark, sf_dir, "part")
    bands = F.broadcast(
        spark.createDataFrame(
            [("budget", 0.0, 930.0), ("mid", 930.0, 970.0), ("premium", 970.0, 100000.0)],
            "band string, lo double, hi double",
        )
    )
    return (
        part.join(
            bands,
            (part.p_retailprice >= bands.lo) & (part.p_retailprice < bands.hi),
        )
        .groupBy("band")
        .agg(
            F.count("*").alias("n_parts"),
            F.min("p_retailprice").alias("min_price"),
            F.max("p_retailprice").alias("max_price"),
        )
    )


# ---------------------------------------------------------------- set ops

_UNION_ORACLE = """
SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
UNION
SELECT c_custkey FROM customer WHERE c_acctbal < 0
"""


@register("set_union", oracle=_UNION_ORACLE, tags=("relational",))
def q_set_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    a = cust.filter(F.col("c_mktsegment") == "AUTOMOBILE").select("c_custkey")
    b = cust.filter(F.col("c_acctbal") < 0).select("c_custkey")
    return a.union(b).distinct()


_INTERSECT_ORACLE = """
SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
INTERSECT
SELECT c_custkey FROM customer WHERE c_acctbal < 0
"""


@register("set_intersect", oracle=_INTERSECT_ORACLE, tags=("relational",))
def q_set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    a = cust.filter(F.col("c_mktsegment") == "AUTOMOBILE").select("c_custkey")
    b = cust.filter(F.col("c_acctbal") < 0).select("c_custkey")
    return a.intersect(b)


_EXCEPT_ORACLE = """
SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
EXCEPT
SELECT c_custkey FROM customer WHERE c_acctbal < 0
"""


@register("set_except", oracle=_EXCEPT_ORACLE, tags=("relational",))
def q_set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    a = cust.filter(F.col("c_mktsegment") == "AUTOMOBILE").select("c_custkey")
    b = cust.filter(F.col("c_acctbal") < 0).select("c_custkey")
    return a.exceptAll(b).distinct()


# ---------------------------------------------------------------- top-k

_TOPK_ORACLE = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 10
"""


@register("top_k_orders", oracle=_TOPK_ORACLE, tags=("relational",))
def q_top_k_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k. Spark plans orderBy+limit as TakeOrderedAndProject:
    per-partition top-10 then a single-driver merge of k*partitions
    rows — no global sort, safe at any scale. Tie-break on o_orderkey
    makes the result set deterministic for the hash compare."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
    )


# ------------------------------------------------------- TPC-H query shapes

_Q3_ORACLE = f"""
SELECT l.l_orderkey, {o_dsum(_REVENUE)} AS revenue,
       o.o_orderdate, o.o_orderpriority
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1997-06-01'
  AND l.l_shipdate  > TIMESTAMP '1997-06-01'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, l.l_orderkey
LIMIT 10
"""


@register("tpch_q3_shipping_priority", oracle=_Q3_ORACLE, tags=("relational",))
def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: top-10 unshipped BUILDING orders by revenue.

    The segment filter prunes customer before its (broadcastable) join;
    both date predicates push into the parquet scans; the top-10 is a
    global TakeOrdered after partial per-partition top-k — no full sort
    of the aggregate. Revenue ordering is hash-stable because the
    decimal-exact sums are bit-identical across engines (ties broken by
    orderkey)."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1997-06-01").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-06-01").cast("timestamp")
    )
    revenue = dec2("l_extendedprice") * (1 - dec2("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(revenue).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


_Q10_ORACLE = f"""
SELECT c.c_custkey, c.c_name, n.n_name AS nation,
       {o_dsum(_REVENUE)} AS revenue, count(*) AS n_lines
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
WHERE l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, n.n_name
ORDER BY revenue DESC, c.c_custkey
LIMIT 20
"""


@register("tpch_q10_returned_items", oracle=_Q10_ORACLE, tags=("relational",))
def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by returned-line revenue.

    The returnflag filter pushes into the lineitem scan (cuts ~3/4 of
    the fact table before the join); the surviving lines then roll up
    to ONE decimal revenue row per order BEFORE the orders join (guide
    §2.3 aggregate-before-shuffle, the join_nation_revenue rewrite),
    so the orderkey exchange carries per-order rollups. Exact: decimal
    sums are associative, count(*) per line = sum of per-order counts.
    nation broadcasts; at 100 TB the orderkey exchange is the dominant
    cost and is exactly what bucketing both fact tables on orderkey
    removes (sources/formats.py::write_bucketed). Measured at sf1
    (10x, alternating same-session A/B, noop sink): old min 2.101 /
    med 2.401 vs new min 1.857 / med 2.235 over 5 passes."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    revenue = dec2("l_extendedprice") * (1 - dec2("l_discount"))
    per_order = (
        li.select("l_orderkey", revenue.alias("rev"))
        .groupBy("l_orderkey")
        .agg(F.sum("rev").alias("rev_o"), F.count("*").alias("n_o"))
    )
    return (
        per_order.join(o, F.col("l_orderkey") == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.sum("rev_o").cast("double").alias("revenue"),
            F.sum("n_o").alias("n_lines"),
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
        .select(
            "c_custkey", "c_name", F.col("n_name").alias("nation"), "revenue", "n_lines"
        )
    )


_SKEW_SALT_ORACLE = f"""
SELECT o.o_orderpriority AS priority, {o_dsum(_REVENUE)} AS revenue,
       COUNT(*) AS n_lines
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderstatus = 'O'
GROUP BY o.o_orderpriority
"""

_N_SALT = 8


@register("join_skew_salted", oracle=_SKEW_SALT_ORACLE, tags=("relational",))
def q_join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manually skew-salted large⋈large join: lineitem rows scatter
    across N_SALT sub-keys of their orderkey; the orders side
    replicates each row N_SALT times (explode) so every sub-key still
    finds its match. A hot orderkey that would pin one reducer now
    spreads over 8, at the cost of an 8× blowup of the (smaller)
    replicated side. Result is provably identical to the plain join —
    the oracle IS the unsalted join.

    When to use at 100 TB: AQE's skew-join split
    (spark.sql.adaptive.skewJoin) handles skew discovered at runtime
    and should be the first tool; explicit salting is for the cases
    AQE can't fix — skew inside a single key (AQE can only split
    *partitions*, and one key's rows all hash to one partition until
    salted) — and for deterministic layouts in bucketed pipelines.
    The salt is a hash of the line number, not rand(): retried tasks
    must land rows on the same sub-key or results double-count."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    salted_li = li.withColumn(
        "salt", F.pmod(F.hash("l_linenumber"), F.lit(_N_SALT))
    )
    replicated_o = o.withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(_N_SALT)]))
    )
    revenue = dec2("l_extendedprice") * (1 - dec2("l_discount"))
    return (
        salted_li.join(
            replicated_o,
            (salted_li.l_orderkey == replicated_o.o_orderkey)
            & (salted_li.salt == replicated_o.salt),
        )
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(dsum(revenue).alias("revenue"), F.count("*").alias("n_lines"))
    )


_LATERAL_ORACLE = f"""
SELECT c.c_custkey, c.c_mktsegment, l.o_orderkey,
       {o_dec2('l.o_totalprice')}::DOUBLE AS o_totalprice
FROM customer c,
LATERAL (
  SELECT o.o_orderkey, o.o_totalprice
  FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
  ORDER BY o.o_totalprice DESC, o.o_orderkey
  LIMIT 2
) l
WHERE c.c_acctbal > 9000
"""


@register("join_lateral_topn", oracle=_LATERAL_ORACLE, tags=("relational",))
def q_join_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery: each rich customer's two most
    expensive finished orders — the per-row top-N join SQL:2016
    standardized and Spark 4 executes natively.

    Catalyst decorrelates the LATERAL into the same plan the manual
    window-rank formulation produces (partition by custkey, rank,
    filter <= 2) — one custkey shuffle, no nested-loop per row. The
    deterministic ORDER BY tie-break keeps the row set hash-stable."""
    spark = fork(spark)
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT c.c_custkey, c.c_mktsegment, l.o_orderkey,
               CAST(CAST(l.o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS o_totalprice
        FROM customer c,
        LATERAL (
          SELECT o.o_orderkey, o.o_totalprice
          FROM orders o
          WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
          ORDER BY o.o_totalprice DESC, o.o_orderkey
          LIMIT 2
        ) l
        WHERE c.c_acctbal > 9000
        """
    )


# ------------------------------------------------- bucketed co-located join

_BUCKETS = 8
# Per-process scratch root: two concurrent sessions (pytest + bench, or
# two drivers) each have their OWN in-memory catalog, so a shared path
# would let one process overwrite files the other is mid-read on. The
# pid suffix makes the layout private to the session that built it.
_BUCKET_BASE = f"/tmp/mapreducegcp_spark_bucketed_{os.getpid()}"

_BUCKETED_ORACLE = """
SELECT c.c_mktsegment AS mktsegment,
       count(*) AS n_orders,
       CAST(sum(CAST(o.o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
"""


def _bucketed_table(spark: SparkSession, sf_dir: str, table: str, key: str) -> str:
    """Materialize ``table`` as an external bucketed+sorted table (once
    per session+sf) and return its catalog name.

    This is the offline layout step a 100 TB deployment runs at ingest:
    ``bucketBy(key).sortBy(key)`` pre-shuffles and pre-sorts the data
    into a fixed number of hash buckets so every future equi-join or
    aggregation on ``key`` reads co-located, pre-sorted buckets and
    skips both the exchange and the sort."""
    sf_tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    name = f"{table}_bucketed_{sf_tag}"
    if not spark.catalog.tableExists(name):
        (
            load_table(spark, sf_dir, table)
            # one writer task per bucket -> one file per bucket: Spark
            # only trusts bucket-level sort order (and skips the
            # join-side Sort) when each bucket is a single file
            .repartition(_BUCKETS, F.col(key))
            .write.bucketBy(_BUCKETS, key)
            .sortBy(key)
            .mode("overwrite")
            .option("path", f"{_BUCKET_BASE}/{sf_tag}/{table}")
            .format("parquet")
            .saveAsTable(name)
        )
    return name


@register("join_bucketed_colocated", oracle=_BUCKETED_ORACLE, tags=("relational",))
def q_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exchange-free join via bucketing: orders and customer are laid
    out as 8-bucket hash-bucketed, bucket-sorted tables on the join
    key, so the sort-merge join consumes both scans directly — zero
    shuffle on either side. The ``merge`` hint pins SMJ (a broadcast
    would also skip the exchange, but the point here is the layout: at
    100 TB neither side broadcasts, and bucketing is what keeps the
    daily join from re-shuffling the fact table every run). The only
    exchange in the plan is the final 5-group rollup. The residual
    in-partition Sort nodes are linear passes over already-bucket-
    sorted single files (Spark only drops them under the legacy
    bucketedTableScan.outputOrdering conf); the shuffle is what
    matters at scale, and there is none.

    test_plans.py asserts the no-exchange-before-join invariant."""
    t_orders = _bucketed_table(spark, sf_dir, "orders", "o_custkey")
    t_cust = _bucketed_table(spark, sf_dir, "customer", "c_custkey")
    o = spark.table(t_orders).hint("merge")
    c = spark.table(t_cust).hint("merge")
    joined = o.join(c, o["o_custkey"] == c["c_custkey"])
    return joined.groupBy(F.col("c_mktsegment").alias("mktsegment")).agg(
        F.count("*").alias("n_orders"),
        F.sum(dec2("o_totalprice")).cast("double").alias("revenue"),
    )


# ---------------------------------------------------- MERGE upsert emulation

_MERGE_ORACLE = """
WITH base AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
  FROM orders WHERE o_orderkey % 7 <> 0
),
changes AS (
  SELECT o_orderkey, o_custkey,
         CASE WHEN o_orderkey % 7 = 0 THEN 'I'
              WHEN o_orderkey % 7 = 1 THEN 'U'
              ELSE 'D' END AS op,
         o_orderstatus, o_totalprice
  FROM orders WHERE o_orderkey % 7 IN (0, 1, 2)
)
SELECT coalesce(b.o_orderkey, c.o_orderkey) AS o_orderkey,
       coalesce(b.o_custkey, c.o_custkey) AS o_custkey,
       CASE WHEN c.op = 'U' THEN 'U' ELSE b.o_orderstatus END AS o_orderstatus,
       CASE WHEN c.op = 'U' THEN b.o_totalprice * 1.05
            WHEN c.op = 'I' THEN c.o_totalprice
            ELSE b.o_totalprice END AS o_totalprice,
       CASE WHEN c.op = 'U' THEN 'updated'
            WHEN c.op = 'I' THEN 'inserted'
            ELSE 'kept' END AS merge_action
FROM base b FULL OUTER JOIN changes c ON b.o_orderkey = c.o_orderkey
WHERE (c.op IS NULL AND b.o_orderkey IS NOT NULL)   -- untouched base row
   OR (c.op = 'U' AND b.o_orderkey IS NOT NULL)     -- matched update
   OR (c.op = 'I' AND b.o_orderkey IS NULL)         -- not-matched insert
"""


@register("merge_upsert_orders", oracle=_MERGE_ORACLE, tags=("relational",))
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO emulation (the lakehouse upsert): apply a change feed
    of inserts / updates / deletes onto a base snapshot in one full
    outer join + resolution pass — WHEN MATCHED THEN UPDATE/DELETE,
    WHEN NOT MATCHED THEN INSERT. The feed is carved deterministically
    from orders (key mod 7: 0=insert-only keys, 1=updates, 2=deletes)
    so both engines reproduce it exactly.

    Scale shape: one equi-join on the merge key. A real change feed is
    small relative to the base, so Spark broadcasts it (or, combined
    with join_bucketed_colocated's layout, bucket-joins without any
    exchange); resolution is pure projection. This is the whole
    read-side of copy-on-write MERGE — the write side is
    write.partitionBy, exercised by the format round-trip tests."""
    orders = load_table(spark, sf_dir, "orders")
    base = orders.filter(F.col("o_orderkey") % 7 != 0).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    changes = (
        orders.filter((F.col("o_orderkey") % 7).isin(0, 1, 2))
        .select(
            F.col("o_orderkey").alias("c_orderkey"),
            F.col("o_custkey").alias("c_custkey"),
            F.when(F.col("o_orderkey") % 7 == 0, "I")
            .when(F.col("o_orderkey") % 7 == 1, "U")
            .otherwise("D")
            .alias("op"),
            F.col("o_totalprice").alias("c_totalprice"),
        )
    )
    j = base.join(
        changes, base["o_orderkey"] == changes["c_orderkey"], "full_outer"
    )
    matched = F.col("o_orderkey").isNotNull()
    # Explicit allowlist (not negations): full-outer NULLs make negated
    # predicates silently three-valued — a matched delete is simply the
    # absence of any keep rule.
    keep = (
        (F.col("op").isNull() & matched)
        | ((F.col("op") == "U") & matched)
        | ((F.col("op") == "I") & ~matched)
    )
    return j.filter(keep).select(
        F.coalesce("o_orderkey", "c_orderkey").alias("o_orderkey"),
        F.coalesce("o_custkey", "c_custkey").alias("o_custkey"),
        F.when(F.col("op") == "U", "U").otherwise(F.col("o_orderstatus")).alias(
            "o_orderstatus"
        ),
        F.when(F.col("op") == "U", F.col("o_totalprice") * 1.05)
        .when(F.col("op") == "I", F.col("c_totalprice"))
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        F.when(F.col("op") == "U", "updated")
        .when(F.col("op") == "I", "inserted")
        .otherwise("kept")
        .alias("merge_action"),
    )


# ------------------------------------------------- multiset (ALL) set ops

_EXCEPT_ALL_ORACLE = """
SELECT o_custkey FROM orders WHERE o_totalprice > 300000
EXCEPT ALL
SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
"""


@register("set_except_all", oracle=_EXCEPT_ALL_ORACLE, tags=("relational",))
def q_set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset difference (EXCEPT ALL): each occurrence on the right
    cancels ONE occurrence on the left — the semantics audits need
    ("remove exactly the rows already processed"), which DISTINCT-based
    EXCEPT silently breaks. Spark plans this as a single count-matching
    aggregation per key — one shuffle, no join explosion."""
    orders = load_table(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_totalprice") > 300000).select("o_custkey")
    b = orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    return a.exceptAll(b)


_INTERSECT_ALL_ORACLE = """
SELECT o_custkey FROM orders WHERE o_totalprice > 300000
INTERSECT ALL
SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
"""


@register("set_intersect_all", oracle=_INTERSECT_ALL_ORACLE, tags=("relational",))
def q_set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset intersection (INTERSECT ALL): keeps min(left-count,
    right-count) occurrences per key. Same single-shuffle count-
    matching plan as EXCEPT ALL."""
    orders = load_table(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_totalprice") > 300000).select("o_custkey")
    b = orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    return a.intersectAll(b)


# --------------------------------------------------------- unpivot / melt

_UNPIVOT_ORACLE = """
SELECT l_orderkey, l_linenumber, measure, value FROM (
  SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure,
         l_quantity AS value FROM lineitem
  UNION ALL
  SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
  FROM lineitem
  UNION ALL
  SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
  UNION ALL
  SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
) t
WHERE l_orderkey % 100 = 0
"""


@register("unpivot_lineitem_measures", oracle=_UNPIVOT_ORACLE, tags=("relational",))
def q_unpivot_lineitem_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long reshaping (UNPIVOT/melt): the four lineitem
    measures become (measure, value) rows — the transform feeding
    generic metric pipelines and per-measure quality checks, inverse
    of agg_pivot_events.

    Spark's native ``unpivot`` is a zero-shuffle Expand node: each
    input row fans out to 4 output rows in the same task, with the
    modulo filter pushed to the scan below it. The oracle spells the
    same reshape as the portable 4-way UNION ALL."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") % 100 == 0
    )
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "measure",
        "value",
    )


# ---------------------------------------------- market-basket affinity

_BASKET_MIN_SUPPORT = 3  # pairs must co-occur in at least this many orders

_BASKET_ORACLE = f"""
WITH items AS (
  SELECT DISTINCT l_orderkey AS okey, l_partkey AS part FROM lineitem
),
n AS (SELECT count(DISTINCT okey) AS n_orders FROM items),
freq AS (SELECT part, count(*) AS part_orders FROM items GROUP BY part),
pairs AS (
  SELECT a.part AS part_a, b.part AS part_b, count(*) AS pair_orders
  FROM items a JOIN items b ON a.okey = b.okey AND a.part < b.part
  GROUP BY a.part, b.part
  HAVING count(*) >= {_BASKET_MIN_SUPPORT}
)
SELECT p.part_a, p.part_b, p.pair_orders,
       CAST(p.pair_orders AS DOUBLE) / fa.part_orders AS conf_a_to_b,
       CAST(p.pair_orders AS DOUBLE) * n.n_orders
         / (CAST(fa.part_orders AS DOUBLE) * fb.part_orders) AS lift
FROM pairs p
JOIN freq fa ON p.part_a = fa.part
JOIN freq fb ON p.part_b = fb.part
CROSS JOIN n
"""


@register("basket_pair_affinity", oracle=_BASKET_ORACLE, tags=("relational",))
def q_basket_pair_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair mining: support, confidence and lift for
    part pairs that co-occur in at least 3 orders (_BASKET_MIN_SUPPORT)
    — the association-rule primitive behind "bought together".

    Shape: distinct (order, part) once, then ONE self-equi-join on the
    order key with part_a < part_b — pair explosion is bounded by
    basket size squared, never corpus size, and the co-occurrence
    count is a narrow (part_a, part_b) aggregation with map-side
    partials. Per-part frequencies broadcast back onto the surviving
    (support-filtered) pairs, and the order total is a 1-row literal
    crossJoin, so the lift math adds no wide stage. At 100 TB the
    known hot-basket fix applies: cap basket size or salt the order
    key — the plan is otherwise insensitive to part popularity because
    the join key is the ORDER, not the part. Confidence/lift divisions
    are single IEEE ops on exact integer counts — bit-identical across
    engines."""
    li = load_table(spark, sf_dir, "lineitem")
    # ONE wide pass builds the baskets (collect_set dedups in the agg,
    # so there is no separate distinct); pairs and per-part frequencies
    # both explode the basket ARRAY map-side — the naive form (distinct
    # items self-joined + re-aggregated per use) re-derived the same
    # subplan four times and cost 8 exchanges.
    # Materialized ONCE — EAGER localCheckpoint, deliberately: the
    # three consumers (pairs, frequencies, order count) include TWO
    # broadcast branches whose exchange jobs Spark submits
    # concurrently; with a lazy checkpoint they race to materialize it
    # and re-run the scan+basket aggregation (the duplicate block
    # computation fe08e0d recorded on the same shape in
    # timeseries_monthly_growth — which round 4 reworked into bounded
    # window frames instead; here the consumers genuinely need the
    # corpus-derived table, so eager's build-time job is the lesser
    # cost). Without any checkpoint each consumer re-derived the
    # subplan: measured 7 exchanges vs 3. Checkpoint, not cache():
    # checkpoint blocks are released by the ContextCleaner when the
    # query's RDD goes out of scope, while a cache() pinned here would
    # outlive the query (no unpersist hook — the CMS heavy-hitters
    # operator documents the same decision). At 100 TB this
    # intermediate is WRITTEN — a basket table reused by every
    # affinity query.
    baskets = (
        li.select(F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("part"))
        .groupBy("okey")
        .agg(F.sort_array(F.collect_set("part")).alias("ps"))
        .localCheckpoint(eager=True)
    )
    pair_structs = F.expr(
        "flatten(transform(ps, (x, i) ->"
        " transform(slice(ps, i + 2, size(ps)),"
        " y -> struct(x AS part_a, y AS part_b))))"
    )
    pairs = (
        baskets.select(F.explode(pair_structs).alias("p"))
        .select("p.part_a", "p.part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("pair_orders"))
        .where(F.col("pair_orders") >= _BASKET_MIN_SUPPORT)
    )
    freq = (
        baskets.select(F.explode("ps").alias("part"))
        .groupBy("part")
        .agg(F.count("*").alias("part_orders"))
    )
    n_orders = baskets.agg(F.count("*").alias("n_orders"))
    fa = freq.select(F.col("part").alias("part_a"), F.col("part_orders").alias("fa"))
    fb = freq.select(F.col("part").alias("part_b"), F.col("part_orders").alias("fb"))
    return (
        pairs.join(F.broadcast(fa), "part_a")
        .join(F.broadcast(fb), "part_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "pair_orders",
            (F.col("pair_orders").cast("double") / F.col("fa")).alias("conf_a_to_b"),
            (
                F.col("pair_orders").cast("double")
                * F.col("n_orders")
                / (F.col("fa").cast("double") * F.col("fb"))
            ).alias("lift"),
        )
    )


# ------------------------------------------------- RFM segmentation

_RFM_ORACLE = """
WITH per_cust AS (
  SELECT o_custkey,
         max(o_orderdate) AS last_order,
         count(*) AS frequency,
         CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS monetary
  FROM orders GROUP BY o_custkey
),
scored AS (
  SELECT *,
         ntile(5) OVER (ORDER BY last_order DESC, o_custkey) AS r_score,
         ntile(5) OVER (ORDER BY frequency DESC, o_custkey) AS f_score,
         ntile(5) OVER (ORDER BY monetary DESC, o_custkey) AS m_score
  FROM per_cust
)
SELECT r_score, f_score, m_score,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(CAST(monetary AS DECIMAL(18,2))) AS DOUBLE) AS segment_value
FROM scored
GROUP BY r_score, f_score, m_score
"""


@register("customer_rfm_segments", oracle=_RFM_ORACLE, tags=("relational",))
def q_customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: quintile scores for recency / frequency /
    monetary per customer, rolled up to segment sizes and value — the
    standard customer-analytics cube.

    One orders aggregation, then quintile scores per dimension with
    ntile's EXACT SQL semantics but NO unpartitioned window: each
    dimension gets a distributed two-phase global row number
    (``layout.global_rownum``: range exchange + local numbering +
    broadcast offsets — no stage sees more than one partition of
    data), and the bucket is the closed-form ntile arithmetic over
    (rownum, n_customers). The o_custkey tiebreak makes every total
    order unique, so both engines agree bucket-for-bucket and the
    DuckDB ntile oracle hash-checks the whole segmentation. At 100 TB
    the three range exchanges of the per-customer table replace what
    was a single-task triple sort. Final rollup sums in the decimal
    domain."""
    from mapreducegcp_spark.operators.layout import global_rownum, ntile_from_rownum

    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count("*").alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(12,2)"))
        .cast("double")
        .alias("monetary"),
    )
    # Drop each ranking column once its rownum exists: global_rownum
    # lazily checkpoints its output, and projections cannot cross a
    # checkpoint boundary (the tpch_q2 lesson), so a column carried
    # past its last use is pinned AND range-exchanged twice for
    # nothing. Measured at sf1: 3.022 -> 2.457 min-of-4 alternating
    # (0.81x); the saving is two 8-byte columns off every row of two
    # customer-sized exchanges and their pinned blocks.
    ranked = global_rownum(
        per_cust, [F.col("last_order").desc(), F.col("o_custkey")], "rn_r"
    ).drop("last_order")
    ranked = global_rownum(
        ranked, [F.col("frequency").desc(), F.col("o_custkey")], "rn_f"
    ).drop("frequency")
    ranked = global_rownum(
        ranked, [F.col("monetary").desc(), F.col("o_custkey")], "rn_m"
    )
    # n from the thrice-ranked plan, not per_cust: the broadcast branch
    # then materializes the three lazy rownum checkpoints first and the
    # main branch reuses them — orders is scanned/aggregated once.
    n = ranked.agg(F.count("*").alias("n_cust"))
    scored = ranked.crossJoin(F.broadcast(n)).select(
        "monetary",
        ntile_from_rownum(F.col("rn_r"), F.col("n_cust"), 5).alias("r_score"),
        ntile_from_rownum(F.col("rn_f"), F.col("n_cust"), 5).alias("f_score"),
        ntile_from_rownum(F.col("rn_m"), F.col("n_cust"), 5).alias("m_score"),
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count("*").alias("n_customers"),
        F.sum(F.col("monetary").cast("decimal(18,2)")).cast("double").alias("segment_value"),
    )


# ------------------------------------------------- snapshot reconciliation

_SNAPDIFF_ORACLE = """
WITH base AS (
  SELECT o_orderkey, o_orderstatus,
         CAST(o_totalprice AS DECIMAL(12,2)) AS price
  FROM orders WHERE o_orderkey % 7 != 0
),
curr AS (
  SELECT o_orderkey, o_orderstatus,
         CAST(CASE WHEN o_orderkey % 7 = 1 THEN o_totalprice * 2
                   ELSE o_totalprice END AS DECIMAL(12,2)) AS price
  FROM orders WHERE o_orderkey % 7 NOT IN (2, 3)
),
j AS (
  SELECT coalesce(b.o_orderkey, c.o_orderkey) AS o_orderkey,
         CASE
           WHEN b.o_orderkey IS NULL THEN 'added'
           WHEN c.o_orderkey IS NULL THEN 'removed'
           WHEN b.price != c.price OR b.o_orderstatus != c.o_orderstatus
             THEN 'changed'
           ELSE 'unchanged'
         END AS diff
  FROM base b FULL OUTER JOIN curr c ON b.o_orderkey = c.o_orderkey
)
SELECT diff, CAST(count(*) AS BIGINT) AS n,
       CAST(min(o_orderkey) AS BIGINT) AS min_key,
       CAST(max(o_orderkey) AS BIGINT) AS max_key
FROM j
GROUP BY diff
"""


@register("snapshot_diff_reconcile", oracle=_SNAPDIFF_ORACLE, tags=("relational",))
def q_snapshot_diff_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-version reconciliation: classify every key across two
    snapshots as added / removed / changed / unchanged and roll up the
    audit — the validation pass run after any MERGE/CDC apply (its
    input here is carved deterministically from orders: version B
    drops key%7∈{2,3}, adds %7=0, doubles prices on %7=1).

    One full-outer equi-join on the key (the only join type that sees
    both one-sided rows; deliberately sort-merge — broadcast cannot do
    full outer) and a pure-projection classifier, then a 4-group
    rollup. Column comparison stays in the decimal domain so 'changed'
    is exact. At 100 TB both snapshots are bucketed by the key
    (join_bucketed_colocated's layout) and the diff runs
    exchange-free; min/max keys per class give the auditor a starting
    cursor, not just counts."""
    orders = load_table(spark, sf_dir, "orders")
    base = orders.filter(F.col("o_orderkey") % 7 != 0).select(
        F.col("o_orderkey").alias("b_key"),
        F.col("o_orderstatus").alias("b_status"),
        F.col("o_totalprice").cast("decimal(12,2)").alias("b_price"),
    )
    curr = orders.filter(~(F.col("o_orderkey") % 7).isin(2, 3)).select(
        F.col("o_orderkey").alias("c_key"),
        F.col("o_orderstatus").alias("c_status"),
        F.when(F.col("o_orderkey") % 7 == 1, F.col("o_totalprice") * 2)
        .otherwise(F.col("o_totalprice"))
        .cast("decimal(12,2)")
        .alias("c_price"),
    )
    j = base.join(curr, base["b_key"] == curr["c_key"], "full_outer")
    diff = (
        F.when(F.col("b_key").isNull(), "added")
        .when(F.col("c_key").isNull(), "removed")
        .when(
            (F.col("b_price") != F.col("c_price"))
            | (F.col("b_status") != F.col("c_status")),
            "changed",
        )
        .otherwise("unchanged")
    )
    return (
        j.select(F.coalesce("b_key", "c_key").alias("o_orderkey"), diff.alias("diff"))
        .groupBy("diff")
        .agg(
            F.count("*").alias("n"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )
    )


# ------------------------------------------- incremental view maintenance

_IVM_CUTOVER = "2001-01-01"

_IVM_ORACLE = f"""
SELECT o_custkey,
       count(*) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS total_cents,
       max(o_orderdate) AS last_order
FROM orders
GROUP BY o_custkey
"""


@register("ivm_incremental_agg", oracle=_IVM_ORACLE, tags=("relational",))
def q_ivm_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance of a per-customer order summary:
    merge a STORED historical aggregate with the partial aggregate of a
    new-data delta instead of rescanning history — the pattern that
    keeps a 100 TB materialized view updatable from a 100 GB daily
    delta.

    The view's aggregates are chosen mergeable: count and integer-cent
    sums add, max takes max — so merged = re-agg over the union of the
    two partial tables, and the result is bit-identical to a full
    recompute (the oracle recomputes from scratch; the hash match IS
    the IVM correctness proof). The historical side is materialized
    (localCheckpoint standing in for the stored MV), so the maintenance
    plan's data-sized inputs are O(historical keys) + O(delta rows),
    never O(historical rows). Non-mergeable aggregates (median, exact
    distinct) must instead keep mergeable state (sketches, partials) —
    see agg_hll_partitioned_union for that variant."""
    orders = load_table(spark, sf_dir, "orders")
    cut = F.lit(_IVM_CUTOVER).cast("timestamp")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("o_custkey").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "total_cents"
            ),
            F.max("o_orderdate").alias("last_order"),
        )

    # the stored MV: everything before the cutover, materialized once
    # (lazy — single consumer chain, so the first action both builds
    # and reads it; plan construction stays job-free)
    historical = partial(orders.filter(F.col("o_orderdate") < cut)).localCheckpoint(
        eager=False
    )
    delta = partial(orders.filter(F.col("o_orderdate") >= cut))
    return (
        historical.unionByName(delta)
        .groupBy("o_custkey")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("total_cents").alias("total_cents"),
            F.max("last_order").alias("last_order"),
        )
    )


# --------------------------------- revenue concentration (Pareto)

_PARETO_BUCKETS = 10

_PARETO_ORACLE = f"""
WITH pc AS (
  SELECT o_custkey,
         CAST(sum(CAST({o_dec2('o_totalprice')} * 100 AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY o_custkey
),
r AS (
  SELECT cents,
         SUM(cents) OVER (ORDER BY cents DESC, o_custkey
                          ROWS UNBOUNDED PRECEDING) AS cum_cents,
         NTILE({_PARETO_BUCKETS}) OVER (ORDER BY cents DESC, o_custkey)
           AS decile
  FROM pc
),
t AS (SELECT CAST(sum(cents) AS BIGINT) AS total FROM pc)
SELECT r.decile,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(r.cents) AS BIGINT) AS decile_cents,
       CAST(max(r.cum_cents) AS BIGINT) AS cum_cents,
       CAST(sum(r.cents) AS DOUBLE) / t.total AS share,
       CAST(max(r.cum_cents) AS DOUBLE) / t.total AS cum_share
FROM r CROSS JOIN t
GROUP BY r.decile, t.total
"""


@register("customer_pareto_deciles", oracle=_PARETO_ORACLE, tags=("relational",))
def q_customer_pareto_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration (Pareto) report: customers ranked by
    lifetime spend, cut into deciles, each with its exact revenue
    share and the cumulative share down the curve — the "do 20% of
    customers carry 80% of revenue" answer, and for a training corpus
    the same curve over sources answers "how head-heavy is my data".

    Scale shape: per-customer cents (exact integers) roll up in ONE
    map-side-combinable pass; the global descending rank AND running
    revenue total come from the two-phase ``global_cumsum`` (range
    exchange + per-partition offsets — NO single-partition window,
    the ``order_global_rownum`` pattern); decile assignment is the
    closed-form ``ntile_from_rownum`` arithmetic, checked here against
    DuckDB's native NTILE — so the whole plan's widest operator
    shuffles one row per customer. Shares are one IEEE division of
    exact integers per decile row."""
    from mapreducegcp_spark.operators.layout import global_cumsum, ntile_from_rownum

    # `pc` feeds both the two-phase cumsum and the totals agg; the lazy
    # checkpoint pins the orders scan + per-customer rollup to run once.
    pc = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum((dec2("o_totalprice") * 100).cast("long")).alias("cents")
        )
        .localCheckpoint(eager=False)
    )
    ranked = global_cumsum(
        pc,
        [F.col("cents").desc(), F.col("o_custkey").asc()],
        "cents",
        rn_out="rnk",
        cum_out="cum_cents",
    )
    tot = pc.agg(
        F.sum("cents").alias("total"), F.count("*").alias("n_cust")
    )
    decile = ntile_from_rownum(
        F.col("rnk"), F.col("n_cust"), _PARETO_BUCKETS
    )
    return (
        ranked.crossJoin(F.broadcast(tot))
        .select(
            decile.cast("long").alias("decile"),
            "cents",
            "cum_cents",
            "total",
        )
        .groupBy("decile", "total")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum("cents").alias("decile_cents"),
            F.max("cum_cents").alias("cum_cents"),
            (F.sum("cents").cast("double") / F.col("total")).alias("share"),
            (F.max("cum_cents").cast("double") / F.col("total")).alias(
                "cum_share"
            ),
        )
        .drop("total")
    )


# ------------------------------ Gini coefficient of customer revenue

_GINI_ORACLE = f"""
WITH pc AS (
  SELECT o_custkey,
         CAST(sum(CAST({o_dec2('o_totalprice')} * 100 AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY o_custkey
),
r AS (
  SELECT cents, ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS rn
  FROM pc
)
SELECT CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(cents) AS BIGINT) AS total_cents,
       CASE WHEN sum(cents) > 0 THEN
         2.0 * CAST(sum(CAST(rn AS HUGEINT) * cents) AS DOUBLE)
           / (CAST(count(*) AS DOUBLE) * CAST(sum(cents) AS DOUBLE))
         - (CAST(count(*) AS DOUBLE) + 1.0) / CAST(count(*) AS DOUBLE)
       ELSE NULL END AS gini
FROM r
"""


@register("customer_gini_coefficient", oracle=_GINI_ORACLE, tags=("relational",))
def q_customer_gini_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of lifetime customer spend — the single-number
    summary of the Pareto curve (customer_pareto_deciles is the
    shape; this is the scalar a dashboard tracks), via the closed
    form G = 2*sum(i*x_i)/(n*sum(x)) - (n+1)/n over ascending-sorted
    exact integer cents.

    Determinism and overflow: the rank-weighted sum runs in
    DECIMAL(38,0) (DuckDB HUGEINT) — at 1e9 customers x 1e7 cents the
    int64 sum would overflow, the 128-bit one cannot; the final Gini
    is one fixed double expression over exact integers, NULL-guarded
    on a zero-revenue corpus. Scale shape: per-customer cents roll up
    map-side, the global ascending rank comes from the two-phase
    range-partitioned cumsum (no single-partition window), and the
    rank-weighted reduction is one map-side-combinable agg."""
    from mapreducegcp_spark.operators.layout import global_cumsum

    pc = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum((dec2("o_totalprice") * 100).cast("long")).alias("cents"))
    )
    ranked = global_cumsum(
        pc,
        [F.col("cents").asc(), F.col("o_custkey").asc()],
        "cents",
        rn_out="rn",
        cum_out="cum_cents",
    )
    res = ranked.agg(
        F.count("*").alias("n_customers"),
        F.sum("cents").alias("total_cents"),
        F.sum(F.col("rn").cast("decimal(38,0)") * F.col("cents")).alias("s1"),
    )
    n_d = F.col("n_customers").cast("double")
    tot_d = F.col("total_cents").cast("double")
    gini = F.when(
        F.col("total_cents") > 0,
        F.lit(2.0) * F.col("s1").cast("double") / (n_d * tot_d)
        - (n_d + F.lit(1.0)) / n_d,
    )
    return res.select("n_customers", "total_cents", gini.alias("gini"))


# ----------------------------- order-to-ship latency distribution

_LATENCY_ORACLE = """
SELECT o.o_orderpriority AS priority,
       CAST(floor(date_diff('day', CAST(o.o_orderdate AS DATE),
                            CAST(l.l_shipdate AS DATE)) / 7) AS BIGINT)
         AS week_bucket,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority, week_bucket
"""


@register("latency_ship_weeks", oracle=_LATENCY_ORACLE, tags=("relational",))
def q_latency_ship_weeks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency histogram: per priority class, line items
    bucketed by whole weeks between order date and ship date — the
    operational SLA distribution ("how long until URGENT orders
    actually ship"), and the shape comparison that exposes a priority
    class silently degrading.

    Exact integer day arithmetic on both engines (date_diff /
    datediff), float division by 7 then floor — identical dyadic
    steps. Scale: the one lineitem-sized stage is the orderkey join
    (co-partitioned, the join_priority_revenue shape); the rollup
    keys on (priority, bucket) — output is priorities x weeks, tiny.
    At 100 TB bucketing both tables on orderkey removes the exchange."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    days = F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
    return (
        li.select("l_orderkey", "l_shipdate")
        .join(
            orders.select("o_orderkey", "o_orderdate", "o_orderpriority"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy(
            F.col("o_orderpriority").alias("priority"),
            F.floor(days / 7).cast("long").alias("week_bucket"),
        )
        .agg(F.count("*").alias("n_lines"))
    )


# ------------------------------------ recursive CTE (Spark 4 WITH RECURSIVE)

_RCTE_ORACLE = """
WITH RECURSIVE edges AS (
  SELECT 'R' || CAST(n_regionkey AS VARCHAR) AS parent,
         'N' || CAST(n_nationkey AS VARCHAR) AS child
  FROM nation
  UNION ALL
  SELECT 'N' || CAST(s_nationkey AS VARCHAR), 'S' || CAST(s_suppkey AS VARCHAR)
  FROM supplier
  UNION ALL
  SELECT 'N' || CAST(c_nationkey AS VARCHAR), 'C' || CAST(c_custkey AS VARCHAR)
  FROM customer
),
h AS (
  SELECT 'R' || CAST(r_regionkey AS VARCHAR) AS node,
         r_name AS root_region,
         CAST(0 AS BIGINT) AS depth
  FROM region
  UNION ALL
  SELECT e.child, h.root_region, h.depth + 1
  FROM edges e JOIN h ON e.parent = h.node
)
SELECT root_region, depth, CAST(count(*) AS BIGINT) AS n_nodes
FROM h GROUP BY root_region, depth
"""


def _hierarchy_node_count(spark: SparkSession, sf_dir: str) -> int:
    """Total node count of the region/nation/supplier/customer
    hierarchy: sql_recursive_cte_hierarchy's recursion-cap input,
    memoized per corpus (functions/memo.py)."""
    tables = ("region", "nation", "supplier", "customer")
    return memo(
        spark, "hierarchy_nodes", sf_dir, stamp(sf_dir, tables),
        lambda: sum(load_table(spark, sf_dir, t).count() for t in tables),
    )


@register("sql_recursive_cte_hierarchy", oracle=_RCTE_ORACLE, tags=("relational",))
def q_sql_recursive_cte_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (ANSI WITH RECURSIVE, new engine surface in Spark
    4): walk the star schema's containment hierarchy
    region -> nation -> {supplier, customer} from the region roots,
    carrying root region and depth through the recursion, and roll up
    node counts per (root, depth) — the org-chart/BOM traversal shape
    that needed a hand-rolled Pregel loop (graph_bfs_levels) before
    the engine grew the SQL form. Both engines run the IDENTICAL
    recursive query, so this also pins that Spark's UnionLoop
    fixpoint semantics match the standard.

    Scale: each iteration is one distributed join of the frontier
    against the edge list; depth is bounded by the hierarchy (3
    levels), so the loop count is schema-, not data-, sized. The
    frontier shuffles on the join key like any other join — skew/AQE
    handling applies per iteration. Spark guards runaway recursion
    with a cumulative ROW limit (default 1e6) on top of the level
    limit; a 3-level walk over a real corpus emits one row per entity,
    so the default aborts around 1M customers+suppliers
    (RECURSION_ROW_LIMIT_EXCEEDED at the 100x corpus, 16M nodes).
    The level limit is the right runaway guard for a fixed-depth
    hierarchy, so the row cap is SIZED FROM THE DATA: 2x the node
    count (+slack for the seed level), set on this builder's fork
    (session.py). The cap is read when the recursion executes, and
    the returned DataFrame executes under its fork's conf, so the
    caller's cap neither changes nor applies. The node count is
    memoized per corpus, so repeat calls run no count() job."""
    n_nodes = _hierarchy_node_count(spark, sf_dir)
    spark = fork(spark, {"spark.sql.cteRecursionRowLimit": str(2 * n_nodes + 1_000)})
    for t in ("region", "nation", "supplier", "customer"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(
        """
        WITH RECURSIVE edges AS (
          SELECT 'R' || CAST(n_regionkey AS STRING) AS parent,
                 'N' || CAST(n_nationkey AS STRING) AS child
          FROM nation
          UNION ALL
          SELECT 'N' || CAST(s_nationkey AS STRING), 'S' || CAST(s_suppkey AS STRING)
          FROM supplier
          UNION ALL
          SELECT 'N' || CAST(c_nationkey AS STRING), 'C' || CAST(c_custkey AS STRING)
          FROM customer
        ),
        h AS (
          SELECT 'R' || CAST(r_regionkey AS STRING) AS node,
                 r_name AS root_region,
                 CAST(0 AS BIGINT) AS depth
          FROM region
          UNION ALL
          SELECT e.child, h.root_region, h.depth + 1
          FROM edges e JOIN h ON e.parent = h.node
        )
        SELECT root_region, depth, count(*) AS n_nodes
        FROM h GROUP BY root_region, depth
        """
    )


# --------------------------------------- SQL UDFs (scalar + table-valued)

_SQLUDF_ORACLE = f"""
WITH banded AS (
  SELECT CASE WHEN o_totalprice < 100000 THEN 'low'
              WHEN o_totalprice < 250000 THEN 'mid'
              ELSE 'high' END AS band,
         o_orderstatus || ':' ||
           CASE WHEN o_totalprice < 100000 THEN 'low'
                WHEN o_totalprice < 250000 THEN 'mid'
                ELSE 'high' END AS status_band,
         o_totalprice
  FROM orders
),
ranks(band, band_rank) AS (
  VALUES ('low', CAST(1 AS BIGINT)), ('mid', CAST(2 AS BIGINT)),
         ('high', CAST(3 AS BIGINT))
)
SELECT b.band, r.band_rank,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(count(DISTINCT b.status_band) AS BIGINT) AS n_status_bands,
       {o_dsum(o_dec2('b.o_totalprice'))} AS total_price
FROM banded b JOIN ranks r ON b.band = r.band
GROUP BY b.band, r.band_rank
"""


@register("sql_udf_scalar_tvf", oracle=_SQLUDF_ORACLE, tags=("relational",))
def q_sql_udf_scalar_tvf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL user-defined functions (Spark 4 surface): a scalar SQL UDF
    (price_band), a second scalar UDF COMPOSING it (status_band — UDFs
    calling UDFs is the reuse pattern that motivates the feature), and
    a table-valued SQL UDF (band_ranks) consumed in the FROM clause —
    all pure SQL, so Catalyst inlines the bodies into the plan and the
    whole query stays inside codegen (unlike a Python UDF, there is NO
    serialization boundary; .explain shows plain CASE expressions).
    The oracle runs the UDF bodies inlined by hand — identical
    semantics, no UDF support needed on the DuckDB side.

    The reference dispatches user Python by name through functionMap
    (Worker/Worker.py:68-78); SQL UDFs are the declarative counterpart
    where the user logic itself becomes plannable. Scale: inlined
    expressions — zero cost beyond the underlying scan/rollup."""
    spark = fork(spark)
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION price_band(p DOUBLE)
        RETURNS STRING
        RETURN CASE WHEN p < 100000 THEN 'low'
                    WHEN p < 250000 THEN 'mid'
                    ELSE 'high' END
        """
    )
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION status_band(s STRING, p DOUBLE)
        RETURNS STRING
        RETURN s || ':' || price_band(p)
        """
    )
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION band_ranks()
        RETURNS TABLE(band STRING, band_rank BIGINT)
        RETURN VALUES ('low', CAST(1 AS BIGINT)), ('mid', CAST(2 AS BIGINT)),
                      ('high', CAST(3 AS BIGINT))
        """
    )
    return spark.sql(
        """
        SELECT b.band, r.band_rank,
               count(*) AS n_orders,
               count(DISTINCT b.status_band) AS n_status_bands,
               CAST(SUM(CAST(b.o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
                 AS total_price
        FROM (SELECT price_band(o_totalprice) AS band,
                     status_band(o_orderstatus, o_totalprice) AS status_band,
                     o_totalprice
              FROM orders) b
        JOIN band_ranks() r ON b.band = r.band
        GROUP BY b.band, r.band_rank
        """
    )
