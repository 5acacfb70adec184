#!/usr/bin/env python
"""Disk-based scale blowup: materialize key-offset replicated PARQUET
tables at 3x/10x/100x sf0.1 volume and time the benchmark's 18 catalog
queries (``perfbench/workloads.py::CATALOG_QUERIES``) on them at 1x and
at the blown-up volume.

`tools/scale_probe.py` replicates IN MEMORY (a union over the same
cached scan), which proves plan-shape linearity but exercises neither
the scan path nor realistic shuffle byte volumes. This probe writes the
replicated corpus to disk as multi-file parquet — so the 10x/100x runs
pay real columnar scans (pushdown, pruning, row-group parallelism) and
real exchange volumes, the closest a local[32] box gets to the
100 TB posture.

Replication honesty (same rules as scale_probe.py, enforced here on
the DATA rather than per-query):

- Fact tables replicate with key offsets (FK edges offset together, so
  join and group cardinality grow linearly and referential integrity
  holds). `nation`/`region` are copied UNreplicated — dimensions do
  not grow with fact volume (TPC-H fixes them at 25/5 for the same
  reason), and keeping them small keeps the broadcast-join posture.
- `documents.text` in copies > 0 is deterministically word-permuted
  (each word ranked by xxhash64(word, new doc_id)): token/word counts
  are preserved (wordcount, quality scores, tf-idf see a genuine 10x
  corpus) while shingle sets across copies diverge. Measured effect
  on the shingle-level pair graph: permutation dissolves near-dup
  adjacency WITHIN copies > 0 too (each doc is permuted
  independently), so the exact-Jaccard pair set stays at the
  original corpus's size (256 pairs at 1x, 3x and 10x) rather than
  growing — no manufactured cross-copy pairs, and no replicated
  clusters either. The quadratic pressure on pair-graph operators at
  blowup scale comes instead from shingle-SPACE saturation (the tiny
  synthetic vocabulary makes per-shingle document frequency grow
  linearly with corpus size), which is exactly the hot-key join
  explosion the df-cap mitigation addresses (see SCALE.md).
- `embeddings` replicate with vec_id offsets and unchanged vectors:
  fine for per-query top-k and IVF (output linear in queries), so the
  brute-force-vs-IVF contrast below is apples-to-apples.

Expected results (and what a failure looks like): on a FIXED 32-core
box a linear plan shows t(10x) <= ~10 * t(1x) — usually much less
while the 1x run under-utilizes cores — and t(100x)/t(10x) near 10.
A plan hiding an O(n^2) step shows ~100x per decade: the labeled
quadratic baseline `similarity_topk_bruteforce` is INCLUDED at 10x to
show exactly that signature next to `similarity_ann_ivf`'s linear one,
and excluded from the 100x tier (10,000x its 1x cost, by design).

    python tools/blowup_probe.py --build --factor 10
    python tools/blowup_probe.py --run --factor 10
    (default root /tmp/blowup -> /tmp/blowup/sf1, /tmp/blowup/sf10)

Paste the tables into SCALE.md.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))
sys.path.insert(0, str(REPO / "perfbench"))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreducegcp_spark.session import get_spark
from mapreducegcp_spark.sources.catalog import TABLES, load_table
from retry_probe import row_hash_rows  # tools/ is on the path

OFFSET = 10_000_000_000

# FK-consistent key offsets (the dq_referential_integrity edge map,
# minus the nation/region edges — dims stay fixed, see module doc).
KEYS = {
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "nation": None,  # copied once, never replicated
    "region": None,
}

# headline queries excluded per factor, with the reason printed
EXCLUDE = {
    10: {},
    100: {
        "similarity_topk_bruteforce": "labeled O(n^2) baseline: 100x data = 10^4x work by design",
        # similarity_ann_ivf's former exclusion (per-run centroid
        # train) was lifted in round 7: the quantizer is a persisted
        # artifact keyed on corpus bytes (ivf_centroids), so the probe
        # pays only the probe-time scan like production would
    },
}

# queries whose DuckDB oracle is tractable at the 100x corpus AND whose
# output is meaningful under replication — the one-command version of
# the 100x exact-verification table in SCALE.md. (Excluded from the
# list, with reasons: minhash/phash/jaccard pair graphs and novelty
# would measure the replication's duplicate structure; tpch_q11
# returns empty at 100x because its 0.001-of-total threshold scales
# with the corpus while per-part value does not.)
VERIFY_100X = [
    "agg_pricing_summary",
    "cdc_latest_snapshot",
    "cohort_retention",
    "events_attribution_linear",
    "events_run_length_islands",
    "funnel_view_click_purchase",
    "timeseries_ohlc_downsample",
    "agg_skew_kurtosis",
    "agg_weighted_median",
    "asof_join_last_click",
    "calendar_gap_fill",
    "customer_gini_coefficient",
    "customer_pareto_deciles",
    "dedup_exact",
    "dedup_substring_spans",
    "feature_quantile_bins",
    "pipeline_token_budget_plan",
    "quality_classifier_eval",
    "quality_classifier_funnel",
    "quality_classifier_scores",
    "sample_dsir_importance",
    "sessionize_events",
    "subquery_scalar_correlated",
    "text_gopher_rules",
    "tfidf_top_terms",
    "tpch_q10_returned_items",
    "tpch_q14_promo_effect",
    "tpch_q8_market_share",
    "window_topn_per_customer",
    "wordcount",
]

# words-per-doc permutation: rank every word by xxhash64(word, doc_id)
# — deterministic, unique per replicated row (doc_id carries the copy
# offset), preserves the word multiset exactly.
_PERMUTE = (
    "array_join(transform(array_sort(transform(split(text, ' '), "
    "w -> struct(xxhash64(w, doc_id) AS h, w AS w))), s -> s.w), ' ')"
)


# Skewed-replication knobs (--skew): real 100 TB corpora are zipfian,
# not uniform — the uniform tiers above prove plan LINEARITY, this
# tier proves the skew MITIGATIONS engage. In copies > 0:
#   - 1 in SKEW_MOD_KEYS orders rows remap o_custkey to ONE base
#     customer (hot join key: customer<-orders fan-in concentrates);
#   - 1 in SKEW_MOD_KEYS events rows remap user_id to ONE base user
#     (hot window/sessionize partition);
#   - 1 in SKEW_MOD_DOCS documents get the SAME base text verbatim
#     (hot shingles: per-shingle document frequency concentrates on
#     one duplicate cluster — the df-cap target — and exact dedup
#     sees one giant group).
# Selection hashes the row's own key with the copy index, so the hot
# sets are deterministic and the corpus is reproducible byte-for-byte.
# Referential integrity holds: the hot custkey/user exist in copy 0.
SKEW_MOD_KEYS = 5   # 20% of replicated rows hit the hot key
SKEW_MOD_DOCS = 20  # 5% of replicated docs carry the hot text


def _hot_literals(spark: SparkSession, sf_dir: str) -> dict:
    """The hot-key literals, read once from the BASE corpus (bounded
    1-row collects): min custkey, min user_id, and min-doc text."""
    o = load_table(spark, sf_dir, "customer").agg(F.min("c_custkey")).collect()[0][0]
    u = load_table(spark, sf_dir, "events").agg(F.min("user_id")).collect()[0][0]
    d = (
        load_table(spark, sf_dir, "documents")
        .orderBy("doc_id")
        .select("text")
        .limit(1)
        .collect()[0][0]
    )
    return {"custkey": int(o), "user": int(u), "text": d}


def build(
    spark: SparkSession, sf_dir: str, out_dir: Path, factor: int, skew: bool = False
) -> None:
    out_dir.mkdir(parents=True, exist_ok=True)
    hot = _hot_literals(spark, sf_dir) if skew else None
    for name in TABLES:
        df = load_table(spark, sf_dir, name)
        keys = KEYS[name]
        if keys is None:
            out = df
            n_files = 1
        else:
            parts = []
            for i in range(factor):
                p = df
                for k in keys:
                    p = p.withColumn(k, (F.col(k) + F.lit(i * OFFSET)).cast("long"))
                if name == "documents" and i > 0:
                    p = p.withColumn("text", F.expr(_PERMUTE))
                if skew and i > 0:
                    if name == "orders":
                        p = p.withColumn(
                            "o_custkey",
                            F.when(
                                F.pmod(
                                    F.xxhash64("o_orderkey", F.lit(i)),
                                    F.lit(SKEW_MOD_KEYS),
                                )
                                == 0,
                                F.lit(hot["custkey"]).cast("long"),
                            ).otherwise(F.col("o_custkey")),
                        )
                    elif name == "events":
                        p = p.withColumn(
                            "user_id",
                            F.when(
                                F.pmod(
                                    F.xxhash64("event_id", F.lit(i)),
                                    F.lit(SKEW_MOD_KEYS),
                                )
                                == 0,
                                F.lit(hot["user"]).cast("long"),
                            ).otherwise(F.col("user_id")),
                        )
                    elif name == "documents":
                        p = p.withColumn(
                            "text",
                            F.when(
                                F.pmod(F.xxhash64("doc_id"), F.lit(SKEW_MOD_DOCS))
                                == 0,
                                F.lit(hot["text"]),
                            ).otherwise(F.col("text")),
                        )
                parts.append(p)
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            # multi-file parquet so downstream scans split without any
            # fan_out_scan help — the production partitioning
            n_files = min(32, factor) if name != "documents" else 32
            out = out.repartition(n_files)
        t0 = time.time()
        out.write.mode("overwrite").parquet(str(out_dir / f"{name}.parquet"))
        n = spark.read.parquet(str(out_dir / f"{name}.parquet")).count()
        print(f"built {name}: {n} rows, {n_files} file(s), {time.time() - t0:.1f}s", flush=True)


def _run(fn, spark: SparkSession, sf_dir: str) -> float:
    """Seconds for one query's full plan, written to the noop sink."""
    t0 = time.perf_counter()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def run(
    spark: SparkSession, sf_dir: str, big_dir: str, factor: int, skew: bool = False
) -> None:
    """Time each query at 1x and at ``factor``x (best of 2, after one
    warm-up per corpus): a markdown table, then one JSON line. The skew
    tier times SKEW_QUERIES and adds the AQE skew-split receipt."""
    from mapreducegcp_spark.registry import all_queries
    from workloads import CATALOG_QUERIES

    catalog = all_queries()
    names = SKEW_QUERIES if skew else CATALOG_QUERIES
    skip = {} if skew else EXCLUDE.get(factor, {})

    for d in (sf_dir, big_dir):
        _run(catalog["wordcount"].fn, spark, d)

    rows = {}
    print(f"| query | t_1x (s) | t_{factor}x{'-skew' if skew else ''} (s) | ratio |")
    print("|---|---|---|---|")
    for name in names:
        if name in skip:
            print(f"| `{name}` | — | — | excluded: {skip[name]} |")
            continue
        fn = catalog[name].fn
        t1 = min(_run(fn, spark, sf_dir) for _ in range(2))
        tN = min(_run(fn, spark, big_dir) for _ in range(2))
        rows[name] = (round(t1, 2), round(tN, 2), round(tN / t1, 1))
        print(f"| `{name}` | {t1:.2f} | {tN:.2f} | {tN / t1:.1f} |", flush=True)
    if skew:
        skew_receipt(spark, big_dir)
    print(json.dumps({"factor": factor, "skew": skew, "rows": rows}))


# Skew-sensitive families for the --skew --run table: the hot join key
# (customer<-orders), the hot window/sessionize partition (user_id),
# and the hot-shingle / giant-duplicate-cluster dedup family.
SKEW_QUERIES = [
    "wordcount",
    "tpch_q10_returned_items",
    "join_nation_revenue",
    "window_topn_per_customer",
    "sessionize_events",
    "dedup_exact",
    "dedup_minhash_lsh",
    "tfidf_top_terms",
]

# strict value-oracle list at the skewed tier — skew changes the data
# DISTRIBUTION, never the semantics, so the same Spark-vs-DuckDB
# compare must stay green on a zipfian corpus (hot join key, hot
# window partition, one giant duplicate cluster).
SKEW_VERIFY = [
    "wordcount",
    "dedup_exact",
    "sessionize_events",
    "window_topn_per_customer",
    "tpch_q10_returned_items",
    "agg_pricing_summary",
    "events_run_length_islands",
    "tfidf_top_terms",
    "text_gopher_rules",
    "quality_classifier_scores",
]


# Shuffle partitions for the skew receipt, fixed so that the receipt
# does not depend on the box: with 4 partitions (local[4]) the hot key
# of the 3x tier (14% of orders) never reaches twice the median
# partition. 32 is the core count the receipt was first taken on.
SKEW_PARTITIONS = 32


def skew_receipt(spark: SparkSession, big_dir: str) -> None:
    """Pin that AQE's skew-join split ENGAGES on the hot key and that
    the split execution returns the same bytes as the unsplit one.

    Forces the sort-merge path (broadcast off — at production volume
    the orders side is thousands of times the customer side and SMJ is
    the real plan) over SKEW_PARTITIONS shuffle partitions. The
    unsplit run goes first and measures the larger join side's shuffle
    bytes; the split run's thresholds are scaled from that, the way
    production tunes them to task-size targets: the advisory size is
    the mean partition, and a partition is skewed above twice the mean
    (and above twice the median, ``skewedPartitionFactor``). Evidence:
    ``skew=true`` markers in the executed adaptive plan + identical
    sha256 with the skew-split disabled."""
    from mapreducegcp_spark.profile import stages

    conf = spark.conf
    saved = {
        k: conf.get(k)
        for k in (
            "spark.sql.shuffle.partitions",
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.enabled",
            "spark.sql.adaptive.skewJoin.enabled",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.forceOptimizeSkewedJoin",
        )
    }

    def hot_join():
        # grouped on c_nationkey, NOT the join key: a downstream
        # aggregation re-shuffles anyway, so AQE is free to split the
        # skewed join partition without introducing an extra exchange
        # (grouping on c_custkey made AQE decline the split — the join
        # output would have had to keep hash(c_custkey) distribution)
        o = load_table(spark, big_dir, "orders")
        c = load_table(spark, big_dir, "customer")
        return (
            o.join(c, o.o_custkey == c.c_custkey)
            .groupBy("c_nationkey")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                # decimal domain: associative, so the hash compare is
                # invariant to how the split re-orders the fold
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias(
                    "revenue"
                ),
            )
        )

    def run_once(split_on: bool, mean_bytes: int = 0):
        conf.set("spark.sql.shuffle.partitions", str(SKEW_PARTITIONS))
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.adaptive.enabled", "true")
        conf.set("spark.sql.adaptive.skewJoin.enabled", str(split_on).lower())
        conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", str(split_on).lower())
        if split_on:
            conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
            conf.set(
                "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
                str(2 * mean_bytes),
            )
            conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", str(mean_bytes))
        seen = {s.stageId() for s in stages(spark)}
        df = hot_join()
        t0 = time.time()
        rows = df.collect()
        sec = time.time() - t0
        plan = df._jdf.queryExecution().executedPlan().toString()
        # the larger of the join's two map sides: the hot (orders) one
        shuffle = max(
            (s.shuffleWriteBytes() for s in stages(spark) if s.stageId() not in seen),
            default=0,
        )
        return (*row_hash_rows(rows), sec, plan, shuffle)

    try:
        n_off, h_off, t_off, _, shuffle = run_once(False)
        mean = max(1, shuffle // SKEW_PARTITIONS)
        n_on, h_on, t_on, plan_on, _ = run_once(True, mean)
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)
    split_engaged = "skew=true" in plan_on
    print(
        json.dumps(
            {
                "receipt": "aqe_skew_split",
                "rows": n_on,
                "shuffle_bytes": shuffle,
                "partitions": SKEW_PARTITIONS,
                "advisory_bytes": mean,
                "split_engaged": split_engaged,
                "hash_equal": h_on == h_off,
                "t_split_on": round(t_on, 2),
                "t_split_off": round(t_off, 2),
            }
        ),
        flush=True,
    )
    if not split_engaged:
        raise SystemExit("skew receipt: AQE never split the hot partition")
    if h_on != h_off:
        raise SystemExit("skew receipt: split and unsplit outputs diverged")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--root", default="/tmp/blowup")
    ap.add_argument("--factor", type=int, default=10, choices=(3, 10, 100))
    ap.add_argument("--build", action="store_true")
    ap.add_argument("--run", action="store_true")
    ap.add_argument(
        "--verify",
        action="store_true",
        help="strict Spark-vs-DuckDB multiset compare of the VERIFY_100X "
        "list against the blowup corpus (the SCALE.md receipt, one command)",
    )
    ap.add_argument(
        "--skew",
        action="store_true",
        help="zipfian replication tier: hot join key (o_custkey), hot "
        "window partition (user_id), hot document text (shingle df). "
        "--run uses the skew-sensitive query list + the AQE skew-split "
        "receipt; --verify uses the SKEW_VERIFY oracle list",
    )
    args = ap.parse_args()

    # sf0.1 * 10 = sf1, * 100 = sf10 — each tier dir is named for its volume
    # sf0.1 * 3 = sf0.3 — the mid tier exists for the exact-pair-graph
    # family, whose cost is quadratic in the blowup factor on THIS
    # corpus by construction (see VERIFY notes / SCALE.md)
    tier = {3: "sf0.3", 10: "sf1", 100: "sf10"}[args.factor]
    if args.skew:
        tier += "skew"
    out_dir = Path(args.root) / tier
    spark = get_spark("blowup-probe")
    if args.build:
        build(spark, args.sf_dir, out_dir, args.factor, skew=args.skew)
    if args.run:
        run(spark, args.sf_dir, str(out_dir), args.factor, skew=args.skew)
    if args.verify:
        import subprocess

        rc = subprocess.call(
            [
                sys.executable,
                str(Path(__file__).with_name("check_oracles.py")),
                "--sf-dir",
                str(out_dir),
                *(SKEW_VERIFY if args.skew else VERIFY_100X),
            ]
        )
        if rc:
            sys.exit(rc)
    if not (args.build or args.run or args.verify):
        print("nothing to do: pass --build, --run and/or --verify", file=sys.stderr)
        sys.exit(2)


if __name__ == "__main__":
    main()
