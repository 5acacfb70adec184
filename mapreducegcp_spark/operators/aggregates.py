"""Aggregation operators: multi-key aggregates, distinct counts,
rollup/cube/grouping sets, conditional (pivot-style) aggregation,
exact variance.

The reference's entire aggregation surface is count-per-key
(Worker/Worker.py:45-49) and nested group-count (Worker/Worker.py:30-41);
everything here is north-star breadth (SURVEY.md §2.2) on the TPC-H-ish
tables.

All double sums go through the decimal domain (functions/exact.py) so results
are order-independent — identical across any partitioning, which is both
what makes the DuckDB hash-compare possible and what makes results
reproducible between local[32] and a 1000-executor cluster.

Scale: every query here is scan -> partial agg -> exchange on the group
keys -> final agg. Map-side partial aggregation bounds shuffle volume by
(partitions x groups), not rows; low-cardinality keys like returnflag
make the exchange a few KB even at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mapreducegcp_spark.functions.exact import (
    davg,
    dec2,
    dsum,
    o_davg,
    o_dec2,
    o_dsum,
    o_pct,
    o_sorted_list,
)
from mapreducegcp_spark.registry import register
from mapreducegcp_spark.session import fork
from mapreducegcp_spark.sources.catalog import load_table

_DISC_PRICE = f"{o_dec2('l_extendedprice')} * (1 - {o_dec2('l_discount')})"
_CHARGE = _DISC_PRICE + f" * (1 + {o_dec2('l_tax')})"

_PRICING_ORACLE = f"""
SELECT l_returnflag, l_linestatus,
       {o_dsum(o_dec2('l_quantity'))} AS sum_qty,
       {o_dsum(o_dec2('l_extendedprice'))} AS sum_base_price,
       {o_dsum(_DISC_PRICE)} AS sum_disc_price,
       {o_dsum(_CHARGE)} AS sum_charge,
       {o_davg(o_dec2('l_quantity'))} AS avg_qty,
       {o_davg(o_dec2('l_extendedprice'))} AS avg_price,
       {o_davg(o_dec2('l_discount'))} AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


@register("agg_pricing_summary", oracle=_PRICING_ORACLE, tags=("relational",))
def q_agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape — the canonical wide-aggregate scan. One pass,
    8 aggregates, 4-group output; shuffle is negligible at any scale."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = dec2("l_extendedprice") * (1 - dec2("l_discount"))
    charge = disc_price * (1 + dec2("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(charge).alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


_DISTINCT_ORACLE = """
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       COUNT(DISTINCT o_custkey) AS n_customers,
       COUNT(DISTINCT o_orderstatus) AS n_statuses
FROM orders
GROUP BY o_orderpriority
"""


@register("agg_distinct", oracle=_DISTINCT_ORACLE, tags=("relational",))
def q_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple DISTINCT aggregates — Spark expands to a two-level
    aggregate (Expand + partial dedup before the exchange), so distinct
    shuffle volume is bounded by distinct pairs, not rows."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
        F.countDistinct("o_orderstatus").alias("n_statuses"),
    )


def q_agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct estimate (raw plan, unregistered: DuckDB's
    approx_count_distinct uses a different sketch, so values can't
    hash-match — the REGISTERED agg_approx_distinct_tol below runs this
    sketch against the exact count and leaves the hash-checkable row).
    The scale story (constant memory per group vs exact distinct's
    shuffle of every key) is the point of the operator."""
    orders = load_table(spark, sf_dir, "orders")
    # rsd 0.025 ≈ 2^14 HLL registers per group — the sketch-size sweet
    # spot (rsd 0.01 forces the dense 2^17-register encoding, ~26 KB per
    # group-partition pair and measured 5x slower on this aggregate).
    return orders.groupBy("o_orderpriority").agg(
        F.approx_count_distinct("o_custkey", 0.025).alias("approx_customers")
    )


_APPROX_RSD = 0.025
_APPROX_TOL = 3 * _APPROX_RSD  # 3 sigma of the sketch's relative error

_APPROX_TOL_ORACLE = """
SELECT o_orderpriority,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_customers,
       TRUE AS within_tol
FROM orders
GROUP BY o_orderpriority
"""


@register("agg_approx_distinct_tol", oracle=_APPROX_TOL_ORACLE, tags=("relational",))
def q_agg_approx_distinct_tol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable companion to agg_approx_distinct: per group,
    compute BOTH the HLL++ estimate and the exact distinct count and
    emit whether the estimate lands within 3x the configured relative
    standard deviation. The oracle re-derives the exact count from the
    data and states TRUE for the gate, so the value-hash matches iff
    every group's sketch is inside tolerance — the approximate operator
    gets a full CORRECTNESS row instead of a rows-only check."""
    orders = load_table(spark, sf_dir, "orders")
    agg = orders.groupBy("o_orderpriority").agg(
        F.approx_count_distinct("o_custkey", _APPROX_RSD).alias("approx"),
        F.countDistinct("o_custkey").alias("exact_customers"),
    )
    within = (
        F.abs(F.col("approx") - F.col("exact_customers"))
        <= F.col("exact_customers") * _APPROX_TOL
    )
    return agg.select("o_orderpriority", "exact_customers", within.alias("within_tol"))


_ROLLUP_ORACLE = f"""
SELECT l_returnflag, l_linestatus, COUNT(*) AS n, {o_dsum(o_dec2('l_quantity'))} AS sum_qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


@register("agg_rollup", oracle=_ROLLUP_ORACLE, tags=("relational",))
def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (flag, flag+status, grand total)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"), dsum("l_quantity").alias("sum_qty")
    )


_CUBE_ORACLE = f"""
SELECT l_returnflag, l_linestatus, COUNT(*) AS n
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


@register("agg_cube", oracle=_CUBE_ORACLE, tags=("relational",))
def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(F.count("*").alias("n"))


_GSETS_ORACLE = """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
"""


@register("agg_grouping_sets", oracle=_GSETS_ORACLE, tags=("relational",))
def q_agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit grouping sets via SQL (the DataFrame API exposes only
    rollup/cube; groupingSets arrives via spark.sql)."""
    spark = fork(spark)
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        """
    )


_PIVOT_ORACLE = f"""
SELECT user_id,
       COUNT(*) FILTER (WHERE event_type = 'click')    AS n_click,
       COUNT(*) FILTER (WHERE event_type = 'view')     AS n_view,
       COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
       {o_dsum(f"CASE WHEN event_type = 'purchase' THEN {o_dec2('value')} ELSE 0 END")} AS purchase_value
FROM events
GROUP BY user_id
"""


@register("agg_pivot_events", oracle=_PIVOT_ORACLE, tags=("relational",))
def q_agg_pivot_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot-style conditional aggregation — wide per-entity feature
    rows from a tall event log, the standard featurization shape. Done
    with when()/filter-aggregates (single pass, codegen) rather than
    .pivot() so the column set is static and plannable."""
    ev = load_table(spark, sf_dir, "events")
    is_t = lambda t: (F.col("event_type") == t).cast("long")  # noqa: E731
    return ev.groupBy("user_id").agg(
        F.sum(is_t("click")).alias("n_click"),
        F.sum(is_t("view")).alias("n_view"),
        F.sum(is_t("purchase")).alias("n_purchase"),
        dsum(
            F.when(F.col("event_type") == "purchase", dec2("value")).otherwise(F.lit(0))
        ).alias("purchase_value"),
    )


_MINMAX_ORACLE = """
SELECT o_orderstatus,
       MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price,
       MIN(o_orderdate) AS first_order, MAX(o_orderdate) AS last_order,
       COUNT(*) AS n
FROM orders
GROUP BY o_orderstatus
"""


@register("agg_minmax", oracle=_MINMAX_ORACLE, tags=("relational",))
def q_agg_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIN/MAX over doubles and timestamps — exact regardless of order."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
        F.min("o_orderdate").alias("first_order"),
        F.max("o_orderdate").alias("last_order"),
        F.count("*").alias("n"),
    )


_BAL = o_dec2("c_acctbal")
_VARIANCE_ORACLE = f"""
SELECT c_mktsegment,
       COUNT(*) AS n,
       {o_davg(_BAL)} AS mean_bal,
       ({o_dsum(f"{_BAL} * {_BAL}")}
        - {o_dsum(_BAL)} * {o_dsum(_BAL)} / COUNT(*))
       / (COUNT(*) - 1) AS var_bal
FROM customer
GROUP BY c_mktsegment
"""


@register("agg_variance", oracle=_VARIANCE_ORACLE, tags=("relational",))
def q_agg_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample variance from exact decimal moments (sum, sum-of-squares),
    finished with a fixed sequence of IEEE double ops — bit-stable where
    the built-in var_samp (streaming double accumulation) is not."""
    cust = load_table(spark, sf_dir, "customer")
    bal = dec2("c_acctbal")
    s = dsum(bal)
    s2 = dsum(bal * bal)
    n = F.count("*")
    return cust.groupBy("c_mktsegment").agg(
        n.alias("n"),
        davg("c_acctbal").alias("mean_bal"),
        ((s2 - s * s / n) / (n - 1)).alias("var_bal"),
    )


_QUANTILES_ORACLE = f"""
WITH base AS (
  SELECT l_returnflag, {o_sorted_list('l_extendedprice')} AS l
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag,
       {o_pct('l', 0.25)} AS p25,
       {o_pct('l', 0.5)}  AS p50,
       {o_pct('l', 0.9)}  AS p90,
       {o_pct('l', 0.99)} AS p99
FROM base
"""


@register("agg_quantiles", oracle=_QUANTILES_ORACLE, tags=("relational",))
def q_agg_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group. The oracle replicates
    Spark's interpolation exactly via ``o_pct`` (functions/exact.py):
    DuckDB's quantile_cont interpolates even between EQUAL bracketing
    order statistics, which can land 1 ulp off the value at specific
    group sizes (first seen at the 10x blowup corpus) — Spark's
    (value, count) walk returns the element directly there. Exact
    percentile sorts each group's values in one pass (OK for bounded
    groups); the unbounded-cardinality scale path is approx_percentile,
    checked rows-only as agg_approx_distinct is."""
    li = load_table(spark, sf_dir, "lineitem")
    # One percentile aggregate with an array argument: a single buffer +
    # sort per group serves all four cut points (4 scalar percentile
    # calls each buffer and sort the group independently — measured 2x
    # slower at sf0.1).
    qs = F.percentile("l_extendedprice", F.array(*[F.lit(p) for p in (0.25, 0.5, 0.9, 0.99)]))
    return (
        li.groupBy("l_returnflag")
        .agg(qs.alias("_qs"))
        .select(
            "l_returnflag",
            F.col("_qs")[0].alias("p25"),
            F.col("_qs")[1].alias("p50"),
            F.col("_qs")[2].alias("p90"),
            F.col("_qs")[3].alias("p99"),
        )
    )


def make_energy_udaf():
    """Custom aggregation function (pandas GROUPED_AGG UDAF): 'energy'
    = sum of squared cents. Arrow ships each group's values to Python
    once; numpy does the arithmetic in int64 so the result is exact and
    order-independent (squares of <=1e6 cents sum far below 2^63 at any
    tested scale). Closure-built so executors need no package import.

    Scale note: GROUPED_AGG UDAFs have no partial aggregation — every
    raw value crosses the shuffle (unlike built-in aggregates, which
    combine map-side). Right tool for moderate group counts /
    must-be-Python logic; for billion-row groups prefer re-expressing
    in built-ins (this one's oracle shows the rewrite exists).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def energy(v):
        cents = np.rint(v.to_numpy(dtype="float64") * 100).astype("int64")
        return int((cents * cents).sum())

    # Real (non-string) hints: `from __future__ import annotations` would
    # stringify inline ones and pandas_udf can't resolve them in a closure.
    energy.__annotations__ = {"v": pd.Series, "return": int}

    def n_vals(v):
        return len(v)

    # Spark refuses to mix GROUPED_AGG pandas UDFs with built-in
    # aggregates in one .agg(), so the count rides along as a UDAF too.
    n_vals.__annotations__ = {"v": pd.Series, "return": int}
    return pandas_udf(energy, "long"), pandas_udf(n_vals, "long")


_ENERGY_ORACLE = """
SELECT event_type,
       count(*) AS n,
       CAST(sum(CAST(round(value * 100) AS BIGINT)
                * CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS energy
FROM events
GROUP BY event_type
"""


@register("agg_custom_udaf_energy", oracle=_ENERGY_ORACLE, tags=("relational",))
def q_agg_custom_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-defined aggregate over events: per-type count (built-in)
    mixed with the pandas UDAF in one agg — the pluggable-aggregation
    surface the reference's reducer registry gestured at
    (Worker/Worker.py:68-78), typed and Arrow-batched."""
    ev = load_table(spark, sf_dir, "events")
    energy, n_vals = make_energy_udaf()
    return ev.groupBy("event_type").agg(
        n_vals("value").alias("n"),
        energy("value").alias("energy"),
    )


_TIME_ROLLUP_ORACLE = f"""
SELECT CASE WHEN GROUPING(hour_bucket) = 0 THEN 'hour' ELSE 'day' END AS grain,
       coalesce(hour_bucket, day_bucket) AS bucket,
       CASE WHEN GROUPING(event_type) = 0 THEN event_type ELSE '<all>' END
         AS event_type,
       count(*) AS n,
       {o_dsum(o_dec2('value'))} AS total_value
FROM (SELECT date_trunc('hour', ts) AS hour_bucket,
             date_trunc('day', ts) AS day_bucket,
             event_type, value
      FROM events)
GROUP BY GROUPING SETS ((hour_bucket, day_bucket, event_type),
                        (day_bucket, event_type),
                        (day_bucket))
"""


@register("agg_time_rollup", oracle=_TIME_ROLLUP_ORACLE, tags=("relational",))
def q_agg_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate rollup: one pass over
    events produces hour x type, day x type, and day-total grains via
    GROUPING SETS — the multi-granularity materialization a time-series
    store precomputes.

    Scale: a single shuffle keyed on the finest grain; coarser grains
    re-aggregate the expanded rows map-side (Spark plans grouping sets
    as Expand + one hash aggregate), so cost is ~3x rows in, not 3
    scans. At 100 TB you'd partition the sink by day_bucket so rollup
    reads prune to the affected partitions."""
    spark = fork(spark)
    ev = load_table(spark, sf_dir, "events").select(
        F.date_trunc("hour", "ts").alias("hour_bucket"),
        F.date_trunc("day", "ts").alias("day_bucket"),
        "event_type",
        "value",
    )
    ev.createOrReplaceTempView("events_buckets")
    return spark.sql(
        f"""
        SELECT CASE WHEN GROUPING(hour_bucket) = 0 THEN 'hour' ELSE 'day' END
                 AS grain,
               coalesce(hour_bucket, day_bucket) AS bucket,
               CASE WHEN GROUPING(event_type) = 0 THEN event_type
                    ELSE '<all>' END AS event_type,
               count(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        FROM events_buckets
        GROUP BY GROUPING SETS ((hour_bucket, day_bucket, event_type),
                                (day_bucket, event_type),
                                (day_bucket))
        """
    )


_SALTED_ORACLE = f"""
SELECT event_type, count(*) AS n, {o_dsum(o_dec2('value'))} AS total_value
FROM events
GROUP BY event_type
"""


@register("agg_salted_twophase", oracle=_SALTED_ORACLE, tags=("relational",))
def q_agg_salted_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigating salted aggregation: phase 1 groups by
    (key, salt16) so a hot key's rows spread over 16 reducers, phase 2
    combines the 16 partials per key. event_type has ~5 values — at
    100 TB a plain groupBy would funnel ~20 TB through 5 reducer
    partitions; salting bounds any partition at 1/16 of a key.

    The decimal-exact sums are associative, so the two-phase result is
    bit-identical to the direct GROUP BY (the oracle) — correctness
    does not depend on how the salt splits rows. Count re-aggregates
    with sum; the salt derives from the row's unique id (deterministic,
    uniform), not rand(), so replays/retries are stable."""
    ev = load_table(spark, sf_dir, "events")
    salted = (
        ev.groupBy("event_type", F.pmod(F.xxhash64("event_id"), F.lit(16)).alias("_salt"))
        .agg(F.count("*").alias("n"), F.sum(dec2("value")).alias("v"))
    )
    return salted.groupBy("event_type").agg(
        F.sum("n").alias("n"),
        F.sum("v").cast("double").alias("total_value"),
    )


_QTY = o_dec2("l_quantity")
_PRICE = o_dec2("l_extendedprice")
_N = "COUNT(*)"
_CORR_ORACLE = f"""
SELECT l_returnflag,
       {_N} AS n,
       ({o_dsum(f"{_QTY} * {_PRICE}")} / {_N}
        - ({o_dsum(_QTY)} / {_N}) * ({o_dsum(_PRICE)} / {_N})) AS cov_qty_price,
       ({o_dsum(f"{_QTY} * {_PRICE}")} / {_N}
        - ({o_dsum(_QTY)} / {_N}) * ({o_dsum(_PRICE)} / {_N}))
       / (sqrt({o_dsum(f"{_QTY} * {_QTY}")} / {_N}
               - ({o_dsum(_QTY)} / {_N}) * ({o_dsum(_QTY)} / {_N}))
          * sqrt({o_dsum(f"{_PRICE} * {_PRICE}")} / {_N}
                 - ({o_dsum(_PRICE)} / {_N}) * ({o_dsum(_PRICE)} / {_N})))
       AS corr_qty_price
FROM lineitem
GROUP BY l_returnflag
"""


@register("agg_correlation", oracle=_CORR_ORACLE, tags=("relational",))
def q_agg_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation and population covariance from exact decimal
    moments — the same recipe as agg_variance: all five moments (sums
    of x, y, xy, x², y²) accumulate exactly in the decimal domain
    (order-independent, partitioning-independent), then ONE fixed
    sequence of IEEE double ops finishes the statistic, so the result
    hash-matches DuckDB bit-for-bit where the built-in corr()/covar_pop
    (streaming double accumulation) cannot. One shuffle, map-side
    partials, five 16-byte accumulators per group."""
    li = load_table(spark, sf_dir, "lineitem")
    x, y = dec2("l_quantity"), dec2("l_extendedprice")
    n = F.count("*")
    mx, my = dsum(x) / n, dsum(y) / n
    cov = dsum(x * y) / n - mx * my
    var_x = dsum(x * x) / n - mx * mx
    var_y = dsum(y * y) / n - my * my
    return li.groupBy("l_returnflag").agg(
        n.alias("n"),
        cov.alias("cov_qty_price"),
        (cov / (F.sqrt(var_x) * F.sqrt(var_y))).alias("corr_qty_price"),
    )


# ------------------------------------- approx quantiles with tolerance gate

_APPROX_Q_EPS = 0.02  # approx_percentile accuracy = 1/eps = 50

_APPROX_Q_ORACLE = """
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n,
       TRUE AS p50_within_tol,
       TRUE AS p95_within_tol
FROM lineitem
GROUP BY l_returnflag
"""


@register("agg_approx_quantiles_tol", oracle=_APPROX_Q_ORACLE, tags=("relational",))
def q_agg_approx_quantiles_tol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based percentiles with a driver-checkable gate: per
    group, compute approx_percentile (Greenwald–Khanna style, bounded
    memory — the 100 TB path, vs exact percentile's full sort) AND the
    exact rank of each estimate, then emit whether the estimate's true
    rank is within the configured accuracy of the target rank. The
    oracle states TRUE, so the hash matches iff every group's sketch
    meets its contract — rank-based (the GK guarantee is on *rank*
    error, not value error, so a value tolerance would be the wrong
    gate for skewed columns)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    acc = int(1 / _APPROX_Q_EPS)
    # NOT checkpointed: a localCheckpoint on this group-cardinality
    # table measured 1.33x slower (round-12 interleaved min-of-6) —
    # the serialization barrier costs more than the duplicated GK pass,
    # whose two derivations overlap in the un-checkpointed plan
    approx = li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", 0.5, acc).alias("p50_est"),
        F.percentile_approx("l_extendedprice", 0.95, acc).alias("p95_est"),
        F.count("*").alias("n"),
    )
    # Exact rank INTERVAL of each estimate: [count(< est), count(<= est)],
    # one extra aggregation joined back on the group key (broadcast —
    # group cardinality is tiny). The interval matters under heavy ties:
    # a duplicated value occupies a rank RANGE, and the GK contract is
    # met if that range intersects the tolerance band — gating on the
    # upper count alone would fail a correct sketch whenever one value's
    # multiplicity exceeds the band width.
    def counts(est_col: str, tag: str):
        return [
            F.sum(
                F.when(F.col("l_extendedprice") < F.col(est_col), 1).otherwise(0)
            ).alias(f"lo{tag}"),
            F.sum(
                F.when(F.col("l_extendedprice") <= F.col(est_col), 1).otherwise(0)
            ).alias(f"hi{tag}"),
        ]

    ranked = (
        li.join(F.broadcast(approx), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(*counts("p50_est", "50"), *counts("p95_est", "95"))
    )
    out = approx.join(ranked, "l_returnflag")
    n = F.col("n")

    def gate(tag: str, q: float):
        target = n * q
        tol = n * _APPROX_Q_EPS + 1
        # pass iff the estimate's rank interval intersects the band
        return ~(
            (F.col(f"hi{tag}") < target - tol) | (F.col(f"lo{tag}") > target + tol)
        )

    return out.select(
        "l_returnflag",
        "n",
        gate("50", 0.5).alias("p50_within_tol"),
        gate("95", 0.95).alias("p95_within_tol"),
    )


# ------------------------------------------------------ fixed-bin histogram

_HIST_WIDTH = 5.0

_HIST_ORACLE = f"""
SELECT event_type,
       CAST(floor(value / {_HIST_WIDTH}) AS BIGINT) AS bin,
       CAST(floor(value / {_HIST_WIDTH}) * {_HIST_WIDTH} AS DOUBLE) AS bin_lo,
       count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS bin_sum
FROM events
GROUP BY event_type, bin, bin_lo
"""


@register("agg_histogram_bins", oracle=_HIST_ORACLE, tags=("relational",))
def q_agg_histogram_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram per event type — the distribution
    profile behind dashboards and outlier gates, as one groupBy on a
    computed bin key. Unlike percentile sketches this is exact and
    merge-able: partial counts combine map-side, the shuffle carries
    only (type, bin) cells, and two histograms union by adding cells.
    The bin id is floor(value/width) — one IEEE division + floor,
    identical in both engines; bin sums fold in the exact decimal
    domain (functions/exact.py)."""
    ev = load_table(spark, sf_dir, "events")
    bin_ = F.floor(F.col("value") / _HIST_WIDTH)
    return (
        ev.groupBy(
            "event_type",
            bin_.alias("bin"),
            (bin_ * _HIST_WIDTH).cast("double").alias("bin_lo"),
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(dec2("value")).cast("double").alias("bin_sum"),
        )
    )


# ------------------------------------------------- z-score anomaly flagging

_Z_THRESH = 2.5

_ZSCORE_ORACLE = f"""
WITH stats AS (
  SELECT event_type,
         COUNT(*) AS n,
         {o_davg(o_dec2('value'))} AS mean_v,
         sqrt(({o_dsum(f"{o_dec2('value')} * {o_dec2('value')}")}
               - {o_dsum(o_dec2('value'))} * {o_dsum(o_dec2('value'))} / COUNT(*))
              / (COUNT(*) - 1)) AS std_v
  FROM events
  GROUP BY event_type
)
SELECT e.event_id, e.event_type, e.value,
       (e.value - s.mean_v) / s.std_v AS z
FROM events e JOIN stats s USING (event_type)
WHERE abs((e.value - s.mean_v) / s.std_v) > {_Z_THRESH}
"""


@register("events_anomaly_zscore", oracle=_ZSCORE_ORACLE, tags=("relational",))
def q_events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-relative outlier flagging: events whose value sits
    more than {z} sigma from their type's mean — the standard two-pass
    anomaly pattern (aggregate stats, broadcast them back, flag rows).

    Pass 1 is one shuffle of decimal partial sums (map-side combine,
    5 groups); pass 2 re-scans events with the 5-row stats table
    broadcast — no second shuffle, no window over the full table.
    Mean/std finish from exact decimal moments with a fixed IEEE op
    sequence (functions/exact.py), and each row's z is two more IEEE
    ops on identical operands, so the flagged set hash-matches the
    oracle exactly despite being a float threshold."""
    ev = load_table(spark, sf_dir, "events")
    v = dec2("value")
    n = F.count("*")
    s = F.sum(v).cast("double")
    s2 = F.sum(v * v).cast("double")
    stats = ev.groupBy("event_type").agg(
        (s / n).alias("mean_v"),
        F.sqrt((s2 - s * s / n) / (n - 1)).alias("std_v"),
    )
    z = (F.col("value") - F.col("mean_v")) / F.col("std_v")
    return (
        ev.join(F.broadcast(stats), "event_type")
        .select("event_id", "event_type", "value", z.alias("z"))
        .filter(F.abs("z") > _Z_THRESH)
    )


# --------------------------------------------------------------- exact mode

_MODE_ORACLE = """
WITH counts AS (
  SELECT c_mktsegment, c_nationkey, count(*) AS cnt
  FROM customer GROUP BY c_mktsegment, c_nationkey
),
ranked AS (
  SELECT c_mktsegment, c_nationkey, cnt,
         row_number() OVER (PARTITION BY c_mktsegment
                            ORDER BY cnt DESC, c_nationkey) AS rn
  FROM counts
)
SELECT c_mktsegment, c_nationkey AS mode_nationkey, cnt AS mode_count
FROM ranked WHERE rn = 1
"""


@register("agg_mode", oracle=_MODE_ORACLE, tags=("relational",))
def q_agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact mode (most frequent value) per group, deterministic
    tie-break to the smallest value — what Spark's built-in ``mode()``
    does NOT guarantee (its ties are arbitrary, so it could never
    hash-match an oracle).

    Two-level aggregation: (group, value) counts (map-side combine),
    then argmax-by-struct per group — ``max(struct(cnt, -value))``
    keeps both levels as partial-aggregating hash aggregates; no
    window sort over the full table, both shuffles carry only count
    cells. The oracle uses the independent row_number formulation."""
    cust = load_table(spark, sf_dir, "customer")
    counts = cust.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count("*").alias("cnt")
    )
    best = counts.groupBy("c_mktsegment").agg(
        F.max(F.struct(F.col("cnt"), (-F.col("c_nationkey")).alias("neg"))).alias("s")
    )
    return best.select(
        "c_mktsegment",
        (-F.col("s.neg")).alias("mode_nationkey"),
        F.col("s.cnt").alias("mode_count"),
    )


# ------------------------------------------------- exact weighted median

_WMEDIAN_ORACLE = """
WITH c AS (
  SELECT l_returnflag,
         CAST(l_extendedprice AS DECIMAL(12,2)) AS price,
         sum(CAST(l_quantity AS DECIMAL(12,2)))
           OVER (PARTITION BY l_returnflag ORDER BY CAST(l_extendedprice AS DECIMAL(12,2))
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         sum(CAST(l_quantity AS DECIMAL(12,2)))
           OVER (PARTITION BY l_returnflag) AS total
  FROM lineitem
)
SELECT l_returnflag,
       CAST(any_value(total) AS DOUBLE) AS total_weight,
       CAST(min(price) AS DOUBLE) AS weighted_median_price
FROM c
WHERE 2 * cum >= total
GROUP BY l_returnflag
"""


@register("agg_weighted_median", oracle=_WMEDIAN_ORACLE, tags=("relational",))
def q_agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted median — the order statistic Spark has no builtin
    for (percentile() weights every row equally): the smallest price
    whose cumulative QUANTITY covers half the group's total quantity.

    Two passes: (1) collapse to one row per (group, DISTINCT price)
    with its summed weight — a map-side-combinable aggregation, so the
    shuffle and the downstream sort scale with price cardinality, not
    row count (the round-2 shape windowed over raw rows: its one-task-
    per-group sort was the scale ceiling; group size grew 100x ->
    sort grew 100x); (2) a window cumsum over the collapsed rows,
    then ``min(price)`` past the halfway mark. All comparisons stay in
    the decimal domain (``2*cum >= total``, no division), so ties and
    the halfway boundary are exact — the same arithmetic both engines
    execute bit-identically; collapsing ties changes nothing because
    the selected price is read at its tie-block END in both shapes.
    Two exchanges: hash(group, price) for the collapse, hash(group)
    for the window, which the final same-key groupBy reuses."""
    li = load_table(spark, sf_dir, "lineitem")
    per_price = li.groupBy(
        "l_returnflag", dec2("l_extendedprice").alias("price")
    ).agg(F.sum(dec2("l_quantity")).alias("w"))
    w_ord = (
        Window.partitionBy("l_returnflag")
        .orderBy("price")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("l_returnflag")
    c = per_price.select(
        "l_returnflag",
        "price",
        F.sum("w").over(w_ord).alias("cum"),
        F.sum("w").over(w_all).alias("total"),
    )
    return (
        c.where(F.lit(2) * F.col("cum") >= F.col("total"))
        .groupBy("l_returnflag")
        .agg(
            F.any_value("total").cast("double").alias("total_weight"),
            F.min("price").cast("double").alias("weighted_median_price"),
        )
    )


# ------------------------------------------------ winsorized statistics

_WINSOR_ORACLE = f"""
WITH cuts AS (
  SELECT event_type,
         {o_pct('l', 0.01)} AS lo,
         {o_pct('l', 0.99)} AS hi
  FROM (SELECT event_type, {o_sorted_list('value')} AS l
        FROM events GROUP BY event_type)
)
SELECT e.event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN e.value < c.lo OR e.value > c.hi THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clamped,
       CAST(sum(CAST(least(greatest(e.value, c.lo), c.hi) AS DECIMAL(28,10))) AS DOUBLE)
         / count(*) AS winsorized_mean,
       any_value(c.lo) AS p01,
       any_value(c.hi) AS p99
FROM events e JOIN cuts c ON e.event_type = c.event_type
GROUP BY e.event_type
"""


@register("events_winsorize", oracle=_WINSOR_ORACLE, tags=("relational", "llm-pipeline"))
def q_events_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (p1/p99-clamped) group statistics — the outlier-
    robust feature-cleaning pass a training pipeline runs before
    normalization: one exact-percentile pass for the cut points (tiny
    result, broadcast back), then a map-side clamp and one aggregation.
    least/greatest are single IEEE ops over the same doubles both
    engines read; the cut points come from the ``o_pct`` Spark-replica
    interpolation (this query is where the quantile_cont equal-order-
    stat ulp boundary was first observed, at the 10x blowup corpus —
    see functions/exact.py); and the
    mean folds in the DECIMAL domain (per-row cast, associative bigint
    sum — the dsum pattern) because a raw double sum is
    partition-order-dependent and would flake the cross-engine hash. n_clamped makes the clamp itself
    observable, not just its effect on the mean."""
    events = load_table(spark, sf_dir, "events")
    cuts = events.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.01)).alias("lo"),
        F.percentile("value", F.lit(0.99)).alias("hi"),
    )
    clamped = F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
    out_of_range = (F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi"))
    return (
        events.join(F.broadcast(cuts), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(out_of_range.cast("long")).alias("n_clamped"),
            (F.sum(clamped.cast("decimal(28,10)")).cast("double") / F.count("*")).alias("winsorized_mean"),
            F.any_value("lo").alias("p01"),
            F.any_value("hi").alias("p99"),
        )
    )


# ---------------------------------------------- higher moments (skew/kurt)

_MOM_ORACLE = """
WITH m AS (
  SELECT c_mktsegment,
         count(*) AS n,
         -- via VARCHAR: DuckDB's direct HUGEINT->DOUBLE cast is off by
         -- an ulp above 2^53 (two-limb multiply-add), while strtod is
         -- correctly rounded and matches Spark's BigDecimal path
         CAST(CAST(sum(c) AS VARCHAR) AS DOUBLE) / count(*) AS mu1,
         CAST(CAST(sum(c * c) AS VARCHAR) AS DOUBLE) / count(*) AS mu2,
         CAST(CAST(sum(c * c * c) AS VARCHAR) AS DOUBLE) / count(*) AS mu3,
         CAST(CAST(sum(c * c * c * c) AS VARCHAR) AS DOUBLE) / count(*) AS mu4
  FROM (SELECT c_mktsegment, CAST(round(c_acctbal * 100) AS HUGEINT) AS c
        FROM customer)
  GROUP BY c_mktsegment
)
SELECT c_mktsegment, CAST(n AS BIGINT) AS n,
       mu1 / 100 AS mean_bal,
       (mu3 - 3 * mu1 * mu2 + 2 * ((mu1 * mu1) * mu1))
         / ((mu2 - mu1 * mu1) * sqrt(mu2 - mu1 * mu1)) AS skewness,
       (mu4 - 4 * mu1 * mu3 + 6 * ((mu1 * mu1) * mu2)
            - 3 * (((mu1 * mu1) * mu1) * mu1))
         / ((mu2 - mu1 * mu1) * (mu2 - mu1 * mu1)) - 3 AS kurtosis_excess
FROM m
"""


@register("agg_skew_kurtosis", oracle=_MOM_ORACLE, tags=("relational",))
def q_agg_skew_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population skewness and excess kurtosis per segment from EXACT
    integer power sums — the agg_variance recipe extended to third and
    fourth moments: balances become exact cents (bigint-in-decimal, no
    float error), the four raw power sums fold associatively, and the
    dimensionless statistics are finished by an identical fixed
    sequence of IEEE double ops in both engines (multiplications
    written left-associated, one correctly-rounded sqrt — no pow()).
    Spark's built-in skewness/kurtosis stream doubles and are neither
    partition-stable nor cross-engine comparable; this form is both.
    Cents cancel in the ratios, so no unit correction is needed (mean
    divides back to currency)."""
    cust = load_table(spark, sf_dir, "customer")
    c = F.round(F.col("c_acctbal") * 100).cast("decimal(38,0)")
    n = F.count("*")
    mu1 = F.sum(c).cast("double") / n
    mu2 = F.sum(c * c).cast("double") / n
    mu3 = F.sum(c * c * c).cast("double") / n
    mu4 = F.sum(c * c * c * c).cast("double") / n
    m2 = mu2 - mu1 * mu1
    skew = (mu3 - 3 * mu1 * mu2 + 2 * ((mu1 * mu1) * mu1)) / (m2 * F.sqrt(m2))
    kurt = (
        mu4 - 4 * mu1 * mu3 + 6 * ((mu1 * mu1) * mu2) - 3 * (((mu1 * mu1) * mu1) * mu1)
    ) / (m2 * m2) - 3
    return cust.groupBy("c_mktsegment").agg(
        n.alias("n"),
        (mu1 / 100).alias("mean_bal"),
        skew.alias("skewness"),
        kurt.alias("kurtosis_excess"),
    )


# ---------------------------------------------- behavioural entropy

_ENT_SCALE = 1_000_000_000  # nano-nats (text_unigram_xent's quantization)

_ENTROPY_ORACLE = f"""
WITH c AS (
  SELECT user_id, event_type, count(*) AS c
  FROM events GROUP BY user_id, event_type
),
t AS (
  SELECT *, sum(c) OVER (PARTITION BY user_id) AS n FROM c
),
q AS (
  SELECT user_id, c, n,
         CAST(round(ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                    * {_ENT_SCALE}) AS BIGINT) AS lq
  FROM t
)
SELECT user_id,
       CAST(any_value(n) AS BIGINT) AS n_events,
       CAST(count(*) AS BIGINT) AS n_types,
       -(CAST(sum(c * lq) AS DOUBLE) / {_ENT_SCALE}) / any_value(n)
         AS entropy_nats
FROM q
GROUP BY user_id
"""


@register("events_behavior_entropy", oracle=_ENTROPY_ORACLE, tags=("relational",))
def q_events_behavior_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each user's event-type mix — the behavioural
    diversity feature (0 = single-action user, ln(5) = uniform over
    all five types), via the fixed-point-log contract that makes an
    information-theoretic statistic hash-checkable: ln(p) is quantized
    to integer nano-nats (round absorbs libm's last-ulp variation —
    see text_unigram_xent), products and sums stay in bigint, one
    float division at the end.

    Shape: (user, type) counts, per-user totals from a window over the
    SAME partitioning (no second shuffle), map-side combine into the
    per-user rollup. State is O(users x types)."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("c"))
    t = c.withColumn("n", F.sum("c").over(Window.partitionBy("user_id")))
    lq = F.round(
        F.log(F.col("c").cast("double") / F.col("n").cast("double")) * _ENT_SCALE
    ).cast("long")
    return (
        t.withColumn("lq", lq)
        .groupBy("user_id")
        .agg(
            F.any_value("n").alias("n_events"),
            F.count("*").alias("n_types"),
            (-(F.sum(F.col("c") * F.col("lq")).cast("double") / _ENT_SCALE)
             / F.any_value("n")).alias("entropy_nats"),
        )
    )


# ----------------------- grouped-Arrow exact OLS (applyInArrow)

_OLS_ORACLE = """
WITH pts AS (
  SELECT event_type,
         CAST(hour(ts) AS BIGINT) AS x,
         CAST(round(value * 100) AS BIGINT) AS y
  FROM events
),
s AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx
  FROM pts GROUP BY event_type
)
SELECT event_type, n,
       CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)
         AS slope_cents_per_hour,
       (CAST(sy AS DOUBLE)
          - (CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE))
            * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS intercept_cents
FROM s
"""


def make_ols_arrow_fn():
    """Factory for the grouped-Arrow OLS kernel (local scope so
    cloudpickle ships the function by value instead of importing this
    module on executors — required when the driver runs the contract
    from an arbitrary cwd)."""
    import numpy as np
    import pyarrow as pa

    def ols(table: "pa.Table") -> "pa.Table":
        x = table.column("x").to_numpy(zero_copy_only=False).astype("int64")
        y = table.column("y").to_numpy(zero_copy_only=False).astype("int64")
        n = len(x)
        sx, sy = int(x.sum()), int(y.sum())
        sxy, sxx = int((x * y).sum()), int((x * x).sum())
        denom = n * sxx - sx * sx
        if denom == 0:
            # all x equal (or n == 1): the slope is undefined. DuckDB's
            # double division by zero yields NULL, so emit NULL for
            # both fitted values to stay bit-compatible with the oracle.
            slope = intercept = None
        else:
            slope = float(n * sxy - sx * sy) / float(denom)
            intercept = (float(sy) - slope * float(sx)) / float(n)
        return pa.table(
            {
                "event_type": [table.column("event_type")[0].as_py()],
                "n": pa.array([n], type=pa.int64()),
                "slope_cents_per_hour": pa.array([slope], type=pa.float64()),
                "intercept_cents": pa.array([intercept], type=pa.float64()),
            }
        )

    return ols


@register("agg_ols_slope_arrow", oracle=_OLS_ORACLE, tags=("relational",))
def q_agg_ols_slope_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group ordinary-least-squares fit (value-cents vs hour of
    day) through ``groupBy().applyInArrow`` — the grouped-Arrow entry
    point (no pandas materialization; the kernel reads Arrow buffers
    into numpy directly), completing the Arrow API surface beside
    mapInArrow (multimodal byte stats) and the pandas UDAF.

    Determinism: all five sufficient statistics are exact int64 sums
    of integer-scaled inputs (hours 0-23, per-row-rounded cents) —
    associative, partition-order-free — and the slope/intercept are
    the same two IEEE expressions on identical operands in both
    engines; a degenerate group (all x equal) yields NULL in both.
    The cross products stay ~1e14 here, far inside int64; a corpus
    where n*Sxy approached 2^63 would need the kernel's products
    promoted to python ints (arbitrary precision) WITH a matching
    oracle change, since cast-then-divide and exact-divide round
    differently past 2^53."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.hour("ts").cast("long").alias("x"),
        F.round(F.col("value") * 100).cast("long").alias("y"),
    )
    return ev.groupBy("event_type").applyInArrow(
        make_ols_arrow_fn(),
        schema="event_type string, n long, slope_cents_per_hour double, intercept_cents double",
    )


# ------------------------------ IQR outlier fences (Tukey, per group)

_IQR_ORACLE = f"""
WITH ec AS (
  SELECT event_type,
         CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS cents
  FROM events
),
vc AS (
  SELECT event_type, cents, CAST(count(*) AS BIGINT) AS cnt
  FROM ec GROUP BY event_type, cents
),
cuts AS (
  SELECT event_type,
         {o_pct('l', 0.25)} AS q1,
         {o_pct('l', 0.75)} AS q3
  FROM (SELECT event_type, {o_sorted_list('cents')} AS l
        FROM ec GROUP BY event_type)
),
f AS (
  SELECT event_type, q1, q3,
         q1 - 1.5 * (q3 - q1) AS lo,
         q3 + 1.5 * (q3 - q1) AS hi
  FROM cuts
)
SELECT v.event_type,
       CAST(sum(v.cnt) AS BIGINT) AS n,
       any_value(f.q1) AS q1,
       any_value(f.q3) AS q3,
       any_value(f.lo) AS fence_lo,
       any_value(f.hi) AS fence_hi,
       CAST(sum(CASE WHEN v.cents < f.lo THEN v.cnt ELSE 0 END) AS BIGINT)
         AS n_low,
       CAST(sum(CASE WHEN v.cents > f.hi THEN v.cnt ELSE 0 END) AS BIGINT)
         AS n_high
FROM vc v JOIN f USING (event_type)
GROUP BY v.event_type
"""


@register("events_iqr_outliers", oracle=_IQR_ORACLE, tags=("relational",))
def q_events_iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey IQR outlier fences per event stream: Q1/Q3 over exact
    integer ten-thousandths, fences at 1.5*IQR, and how many points
    fall below/above — the robust anomaly gate that, unlike the
    z-score detector (events_anomaly_zscore), is immune to the
    outliers it is hunting.

    One corpus scan: values collapse to a (event_type, cents, cnt)
    distinct-value table first (map-side combinable — the
    agg_weighted_median precedent), lazily checkpointed to feed BOTH
    the percentile pass (frequency-weighted, identical by definition
    to the raw quantile) and the fence-count rollup; the fences
    broadcast back. Quarter-fraction interpolation over bigints is
    exact dyadic arithmetic, so q1/q3/fences hash bit-identical."""
    ev = load_table(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(18,4)") * 10000).cast("long")
    vc = (
        ev.select("event_type", cents.alias("cents"))
        .groupBy("event_type", "cents")
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    cuts = vc.groupBy("event_type").agg(
        F.percentile("cents", F.lit(0.25), F.col("cnt")).alias("q1"),
        F.percentile("cents", F.lit(0.75), F.col("cnt")).alias("q3"),
    )
    f = cuts.select(
        "event_type",
        "q1",
        "q3",
        (F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))).alias("lo"),
        (F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))).alias("hi"),
    )
    return (
        vc.join(F.broadcast(f), "event_type")
        .groupBy("event_type")
        .agg(
            F.sum("cnt").alias("n"),
            F.any_value("q1").alias("q1"),
            F.any_value("q3").alias("q3"),
            F.any_value("lo").alias("fence_lo"),
            F.any_value("hi").alias("fence_hi"),
            F.sum(F.when(F.col("cents") < F.col("lo"), F.col("cnt")).otherwise(0)).alias("n_low"),
            F.sum(F.when(F.col("cents") > F.col("hi"), F.col("cnt")).otherwise(0)).alias("n_high"),
        )
    )


# ----------------------------------- geometric mean (log-domain exact)

_GEOMEAN_ORACLE = f"""
WITH b AS (
  SELECT o_orderpriority,
         CAST(round(ln(CAST(cents AS DOUBLE)) * 1e9) AS BIGINT) AS lnq
  FROM (SELECT o_orderpriority,
               CAST({o_dec2('o_totalprice')} * 100 AS BIGINT) AS cents
        FROM orders) t
  WHERE cents > 0
)
SELECT o_orderpriority AS priority,
       CAST(count(*) AS BIGINT) AS n,
       CAST(round(CAST(sum(lnq) AS DOUBLE) / count(*)) AS BIGINT)
         AS ln_mean_nano,
       CAST(round(exp((CAST(sum(lnq) AS DOUBLE) / count(*)) / 1e9) * 1e4)
            AS BIGINT) AS geomean_price_micro
FROM b GROUP BY o_orderpriority
"""


@register("agg_geometric_mean", oracle=_GEOMEAN_ORACLE, tags=("relational",))
def q_agg_geometric_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric mean of order value per priority — the right average
    for multiplicative quantities (growth factors, prices spanning
    orders of magnitude) where the arithmetic mean is dominated by the
    tail. exp(mean(ln x)) with the log-domain sum QUANTIZED to integer
    nano-units per row (the xent nano-nat precedent): the bigint sum
    is exact and associative, so the result is independent of
    partition order and bit-identical to the DuckDB replay — a raw
    double sum of logs would flake the cross-engine hash. The
    log-domain mean is reported as an exact nano integer; the
    price-domain geomean re-quantizes to micro-price integers because
    JVM Math.exp and libm exp are each allowed 1 ulp of slack and DO
    disagree on ~1 in 5 of these arguments (measured) — the micro
    quantization is 4+ orders of magnitude coarser than that slack.
    One map-side-combinable pass; output rows = priorities."""
    orders = load_table(spark, sf_dir, "orders")
    cents = (dec2("o_totalprice") * 100).cast("long")
    lnq = F.round(F.log(F.col("cents").cast("double")) * 1e9).cast("long")
    ln_mean = F.sum("lnq").cast("double") / F.count("*")
    return (
        orders.select("o_orderpriority", cents.alias("cents"))
        .where(F.col("cents") > 0)
        .select("o_orderpriority", lnq.alias("lnq"))
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count("*").alias("n"),
            F.round(ln_mean).cast("long").alias("ln_mean_nano"),
            F.round(F.exp(ln_mean / F.lit(1e9)) * F.lit(1e4))
            .cast("long")
            .alias("geomean_price_micro"),
        )
    )
