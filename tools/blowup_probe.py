#!/usr/bin/env python
"""The scale harness: materialize key-offset replicated PARQUET tables
at 3x/10x/100x the base corpus and time queries on them at 1x and at
the blown-up volume.

The replicated corpus is written to disk as multi-file parquet, so the
Nx runs pay real columnar scans (pushdown, pruning, row-group
parallelism) and real exchange volumes. Each tier's directory is named
for its volume (``tier_dir``: sf0.1 x 10 -> ``<root>/sf1``).

Replication honesty, enforced on the DATA rather than per query:

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

``--run`` times whole passes over the query list (``time_rounds``), so
cross-query costs such as codegen-cache eviction land in the cells.
A plan linear in its input shows t(Nx) <= ~N * t(1x) — usually much
less while the 1x run under-utilizes cores. A plan hiding an O(n^2)
step shows ~100x per decade: the labeled quadratic baseline
`similarity_topk_bruteforce` is INCLUDED at 10x to show exactly that
signature next to `similarity_ann_ivf`'s linear one, and excluded from
the 100x tier (10,000x its 1x cost, by design).

    python tools/blowup_probe.py --build --factor 10
    python tools/blowup_probe.py --run --factor 10            # the 18 catalog queries
    python tools/blowup_probe.py --run --factor 10 --only 0:20  # a slice of RATIO_QUERIES
    (default root /tmp/blowup -> /tmp/blowup/sf1, /tmp/blowup/sf10)
"""

from __future__ import annotations

import argparse
import json
import re
import statistics
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))
sys.path.insert(0, str(REPO / "perfbench"))

from pyspark.sql import SparkSession
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

# The 1x/Nx linearity set: every name's cost must grow at most linearly
# with the replication factor (tests/test_scale_probe.py bounds each
# ratio on the factor-10 tier; ``--run --only i:j`` slices it). Order
# is fixed: SCALE.md's historical tables cite slices of it.
#
# Left out, because the ratio would measure the replicated data, not
# the plan. (These reasons were written for exact in-memory copies; on
# disk, copies > 0 are word-permuted, which trades exact copies for
# shingle-space saturation — module doc.)
# - dedup_minhash_lsh: replicating documents creates 10 exact copies of
#   every text, so the (correct!) output grows quadratically in the
#   duplicate count.
# - multimodal_phash_near_dup, dedup_lsh_eval, dedup_simhash_eval: the
#   same pair-graph artifact (replication manufactures quadratic
#   duplicate pairs).
# - interval_bucket_join: replication copies timestamps unchanged, so
#   every purchase gains 10x followers AND there are 10x purchases —
#   the correct output grows 100x.
# - text_ngram_novelty: replication manufactures copies whose shingles
#   all first-occur in the original, so the (correct!) output is zero
#   novelty for every copy.
RATIO_QUERIES = (
    "wordcount", "agg_pricing_summary", "join_nation_revenue",
    "sessionize_events", "dedup_exact", "cdc_latest_snapshot",
    "time_weighted_avg", "funnel_view_click_purchase", "cohort_retention",
    "merge_upsert_orders", "text_unigram_xent", "similarity_sq8_topk",
    "join_bloom_prefilter", "agg_countmin_heavyhitters", "chunk_text_sliding",
    "timeseries_ohlc_downsample", "asof_join_nearest",
    "events_run_length_islands", "agg_weighted_median", "events_winsorize",
    "pipeline_corpus_to_manifest", "basket_pair_affinity",
    "order_global_rownum", "layout_zorder_cluster", "feature_quantile_bins",
    "text_bigram_xent", "sample_uniform_fixed_k", "sample_fixed_k_per_group",
    "dq_k_anonymity", "sessionize_native_window", "estimate_join_cardinality",
    "curriculum_length_phases", "sample_temperature",
    "similarity_knn_classify", "feature_hashing_tf", "bpe_pair_counts",
    "window_cumulative_distinct", "dq_distribution_drift",
    "pipeline_filter_funnel", "text_source_vocab_overlap",
    "timeseries_monthly_growth", "layout_compaction_plan",
    "vocab_coverage_cutoff", "bpe_train_merges", "bpe_encode_corpus",
    "customer_rfm_segments", "mask_span_corruption", "dataset_card_stats",
    "search_phrase_positional", "search_proximity_window",
    "sample_neyman_allocation", "pipeline_tokenizer_dataset",
    "dq_referential_integrity", "quality_perplexity_buckets",
    "sample_kcenter_coreset", "multimodal_payload_dedup",
    "bpe_fertility_stats", "timeseries_autocorrelation",
    "timeseries_weekday_seasonal", "timeseries_theilsen_trend",
    "search_bm25_topk", "customer_gini_coefficient", "sample_priority_ppswor",
    "search_hybrid_rrf", "events_iqr_outliers", "agg_geometric_mean",
    "dq_benford_first_digit", "latency_ship_weeks",
    "embedding_top_eigenvector", "text_bigram_xent_kneser_ney",
    "events_attribution_linear", "funnel_abandonment_window",
    "text_langid_eval", "dedup_substring_spans",
    "pipeline_multimodal_manifest", "text_gopher_rules", "search_mmr_rerank",
    "sample_dsir_importance", "pipeline_token_budget_plan",
    "sql_recursive_cte_hierarchy", "sql_udf_scalar_tvf",
    "multimodal_png_roundtrip", "multimodal_jpeg_roundtrip",
)

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


def tier_dir(root, sf_dir: str, factor: int, skew: bool = False) -> Path:
    """The directory of the ``factor``x tier built from ``sf_dir``,
    named for its volume: base ``sf<scale>`` -> ``<root>/sf<scale *
    factor>`` (sf0.1 x 10 -> ``sf1``), with a ``skew`` suffix for the
    zipfian tier. Raises ValueError when the base directory's name does
    not carry its scale."""
    m = re.fullmatch(r"sf(\d+(?:\.\d+)?)", Path(sf_dir).name)
    if m is None:
        raise ValueError(
            f"cannot derive a tier name from base corpus {sf_dir!r}: its "
            "directory must be named sf<scale>, e.g. sf0.1"
        )
    return Path(root) / f"sf{float(m.group(1)) * factor:g}{'skew' if skew else ''}"


def _run(fn, spark: SparkSession, sf_dir: str) -> float:
    """Seconds for one query's full plan, written to the noop sink.
    Includes building the plan: iterative operators (BPE trainer,
    k-center, power iteration) run their corpus passes there."""
    t0 = time.perf_counter()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


# Timed rounds per --run cell: enough for a median and an IQR.
ROUNDS = 5


def median_iqr(xs: list[float]) -> tuple[float, float]:
    """Median and interquartile range (inclusive quartiles)."""
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return med, q3 - q1


def time_rounds(
    spark: SparkSession, fns: dict, sf_dir: str, big_dir: str
) -> dict[str, tuple[list[float], list[float]]]:
    """One untimed warm pass over ``fns`` at each scale (a query's
    first call costs 2-4x its later ones), then ROUNDS rounds, each a
    timed pass over every query at 1x followed by one at Nx. Returns
    name -> (1x seconds per round, Nx seconds per round)."""
    for d in (sf_dir, big_dir):
        for fn in fns.values():
            _run(fn, spark, d)
    times = {name: ([], []) for name in fns}
    for _ in range(ROUNDS):
        for side, d in enumerate((sf_dir, big_dir)):
            for name, fn in fns.items():
                times[name][side].append(_run(fn, spark, d))
    return times


def select(only: str) -> list[str]:
    """``--only``: comma-separated query names, or an ``i:j`` slice of
    RATIO_QUERIES."""
    i, sep, j = only.partition(":")
    if sep and i.isdigit() and j.isdigit():
        return list(RATIO_QUERIES[int(i) : int(j)])
    return [n.strip() for n in only.split(",")]


def run(
    spark: SparkSession,
    sf_dir: str,
    big_dir: str,
    factor: int,
    skew: bool = False,
    only: str | None = None,
) -> None:
    """Time the query list at 1x and at ``factor``x (``time_rounds``):
    a markdown table of per-cell median (IQR) and the ratio of the
    medians, the per-round pass sums, then one JSON line with every
    round's value. The list is ``only`` if given, else the catalog
    headliners; the skew tier defaults to SKEW_QUERIES and adds the
    AQE skew-split receipt."""
    from mapreducegcp_spark.registry import all_queries
    from workloads import CATALOG_QUERIES

    catalog = all_queries()
    names = select(only) if only else (SKEW_QUERIES if skew else CATALOG_QUERIES)
    unknown = [n for n in names if n not in catalog]
    if unknown:
        raise SystemExit(f"blowup_probe: not registered queries: {unknown}")
    skip = {} if skew else EXCLUDE.get(factor, {})
    times = time_rounds(
        spark, {n: catalog[n].fn for n in names if n not in skip}, sf_dir, big_dir
    )

    tag = f"{factor}x{'-skew' if skew else ''}"
    print(f"| query | t_1x (s) median (IQR) | t_{tag} (s) median (IQR) | ratio |")
    print("|---|---|---|---|")
    rows = {}
    for name in names:
        if name in skip:
            print(f"| `{name}` | — | — | excluded: {skip[name]} |")
            continue
        t1, tN = times[name]
        (m1, iqr1), (mN, iqrN) = median_iqr(t1), median_iqr(tN)
        rows[name] = {
            "t_1x": [round(t, 3) for t in t1],
            f"t_{factor}x": [round(t, 3) for t in tN],
            "ratio": round(mN / m1, 2),
        }
        print(f"| `{name}` | {m1:.2f} ({iqr1:.2f}) | {mN:.2f} ({iqrN:.2f}) | {mN / m1:.1f} |")
    sums = [
        [round(sum(t[side][r] for t in times.values()), 2) for r in range(ROUNDS)]
        for side in (0, 1)
    ]
    print(f"pass sums per round (s): 1x {sums[0]}, {tag} {sums[1]}", flush=True)
    if skew:
        skew_receipt(spark, big_dir)
    print(
        json.dumps(
            {
                "factor": factor,
                "skew": skew,
                "rounds": ROUNDS,
                "pass_s": {"1x": sums[0], f"{factor}x": sums[1]},
                "rows": rows,
            }
        )
    )


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


def chain_probe(spark: SparkSession, n_nodes: int = 10_000) -> None:
    """Connected components on a PATH graph — diameter = n_nodes - 1.

    Diameter-round label propagation would pay one round per hop; the
    two-phase large-star/small-star engine converges in O(log n)
    alternations, and the served engine (local_uf_components) either
    contracts the path or falls back to two-phase when its boundary
    stops shrinking. This probe is the empirical round-complexity
    receipt for both, on the same shape."""
    from mapreducegcp_spark.operators.dedup import (
        local_uf_components,
        two_phase_components,
    )

    pairs = spark.range(n_nodes - 1).select(
        F.col("id").alias("a"), (F.col("id") + 1).alias("b")
    )
    for name, engine in (
        ("two_phase_components", two_phase_components),
        ("local_uf_components", local_uf_components),
    ):
        t0 = time.time()
        roots = engine(pairs, "a", "b").agg(
            F.countDistinct("cluster_id").alias("n_comp"),
            F.count("*").alias("n_nodes"),
        ).first()
        dt = time.time() - t0
        print(
            f"{name}: path of {n_nodes} nodes "
            f"(diameter {n_nodes - 1}) -> {roots['n_comp']} component, "
            f"{roots['n_nodes']} nodes labelled, {dt:.1f}s"
        )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--root", default="/tmp/blowup")
    # the 3x tier exists for the exact-pair-graph family, whose cost is
    # quadratic in the blowup factor on THIS corpus by construction
    # (see VERIFY notes / SCALE.md)
    ap.add_argument("--factor", type=int, default=10, choices=(3, 10, 100))
    ap.add_argument("--build", action="store_true")
    ap.add_argument("--run", action="store_true")
    ap.add_argument(
        "--only",
        help="with --run: comma-separated query names, or an i:j slice of "
        "RATIO_QUERIES (default: the 18 catalog queries)",
    )
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
    ap.add_argument(
        "--chain",
        action="store_true",
        help="connected components on a 10,000-node path graph",
    )
    args = ap.parse_args()
    if not (args.build or args.run or args.verify or args.chain):
        ap.error("nothing to do: pass --build, --run, --verify and/or --chain")
    try:
        out_dir = tier_dir(args.root, args.sf_dir, args.factor, args.skew)
    except ValueError as e:
        ap.error(str(e))

    spark = get_spark("blowup-probe")
    if args.build:
        build(spark, args.sf_dir, out_dir, args.factor, skew=args.skew)
    if args.run:
        run(spark, args.sf_dir, str(out_dir), args.factor, skew=args.skew, only=args.only)
    if args.chain:
        chain_probe(spark)
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


if __name__ == "__main__":
    main()
