#!/usr/bin/env python
"""Empirical scaling probe: run representative queries at 1x and 10x
data volume and report the wall-clock ratio.

The 10x corpus is built in-memory by unioning ten key-offset copies of
the sf tables (join keys offset consistently, so join/group cardinality
scales linearly — the honest way to replicate). A plan whose cost is
linear in input shows a ratio near 10 on a fixed-size cluster; a plan
hiding an O(n^2) step or a driver-side bottleneck shows much worse.
Paste the table into SCALE.md.

    python tools/scale_probe.py [--sf-dir /root/testdata/sf0.1] [--factor 10]
"""

from __future__ import annotations

import argparse
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreducegcp_spark.session import get_spark

OFFSET = 10_000_000_000

# query name -> (operator module, offset key columns per table)
PROBES = {
    "wordcount": {"documents": ["doc_id"]},
    "agg_pricing_summary": {"lineitem": []},
    "join_nation_revenue": {
        "lineitem": ["l_orderkey"],
        "orders": ["o_orderkey", "o_custkey"],
        "customer": ["c_custkey"],
    },
    "sessionize_events": {"events": ["event_id", "user_id"]},
    "dedup_exact": {"documents": ["doc_id"]},
    # round-2 operators. NOTE dedup_minhash_lsh is deliberately absent:
    # replicating documents creates 10 exact copies of every text, so
    # the (correct!) output grows quadratically in the duplicate count
    # — a ratio probe would measure the data's duplicate structure,
    # not the plan.
    "cdc_latest_snapshot": {"events": ["event_id", "user_id"]},
    "time_weighted_avg": {"events": ["event_id", "user_id"]},
    "funnel_view_click_purchase": {"events": ["event_id", "user_id"]},
    "cohort_retention": {"orders": ["o_orderkey", "o_custkey"]},
    "merge_upsert_orders": {"orders": ["o_orderkey", "o_custkey"]},
    "text_unigram_xent": {"documents": ["doc_id"]},
    "similarity_sq8_topk": {"embeddings": ["vec_id"]},
    # round-2b operators. phash near-dup is absent for the same reason
    # as minhash (replication manufactures quadratic duplicate pairs);
    # the bloom join replicates both sides so selectivity is preserved.
    "join_bloom_prefilter": {
        "lineitem": ["l_orderkey"],
        "orders": ["o_orderkey", "o_custkey"],
    },
    "agg_countmin_heavyhitters": {"documents": ["doc_id"]},
    "chunk_text_sliding": {"documents": ["doc_id"]},
    "timeseries_ohlc_downsample": {"events": ["event_id", "user_id"]},
    "asof_join_nearest": {"events": ["event_id", "user_id"]},
    "events_run_length_islands": {"events": ["event_id", "user_id"]},
    "agg_weighted_median": {"lineitem": []},
    "events_winsorize": {"events": ["event_id", "user_id"]},
    "pipeline_corpus_to_manifest": {"documents": ["doc_id"]},
    "basket_pair_affinity": {"lineitem": ["l_orderkey"]},
    # layout family. interval_bucket_join is deliberately absent:
    # replication copies timestamps unchanged, so every purchase gains
    # 10x followers AND there are 10x purchases — the correct output
    # grows 100x and the ratio would measure the replication artifact,
    # not the plan (same reasoning as minhash above).
    "order_global_rownum": {"orders": ["o_orderkey"]},
    "layout_zorder_cluster": {"orders": ["o_orderkey", "o_custkey"]},
    "feature_quantile_bins": {"lineitem": []},
    # round-2d operators. The LM scorers replicate documents, which
    # copies every text 10x — the bigram VOCABULARY stays constant
    # while doc-bigram volume grows 10x, exactly the production shape
    # (vocab grows sublinearly in corpus size).
    "text_bigram_xent": {"documents": ["doc_id"]},
    "sample_uniform_fixed_k": {"documents": ["doc_id"]},
    "sample_fixed_k_per_group": {"documents": ["doc_id"]},
    "dq_k_anonymity": {"customer": ["c_custkey"]},
    "sessionize_native_window": {"events": ["event_id", "user_id"]},
    "estimate_join_cardinality": {
        "lineitem": ["l_orderkey"],
        "orders": ["o_orderkey", "o_custkey"],
    },
    # round-3 operators. text_ngram_novelty is deliberately absent:
    # replicating documents manufactures exact copies whose shingles
    # all first-occur in the original, so the (correct!) output is
    # zero novelty for every copy — the ratio would measure the
    # replication artifact, not the plan (same reasoning as minhash).
    "curriculum_length_phases": {"documents": ["doc_id"]},
    "sample_temperature": {"documents": ["doc_id"]},
    "similarity_knn_classify": {"embeddings": ["vec_id"]},
    "feature_hashing_tf": {"documents": ["doc_id"]},
    "bpe_pair_counts": {"documents": ["doc_id"]},
    "window_cumulative_distinct": {"events": ["event_id", "user_id"]},
    "dq_distribution_drift": {"events": ["event_id", "user_id"]},
    # dedup_lsh_eval is deliberately absent (pair-graph artifact under
    # replication, same reasoning as minhash above)
    "pipeline_filter_funnel": {"documents": ["doc_id"]},
    "text_source_vocab_overlap": {"documents": ["doc_id"]},
    "timeseries_monthly_growth": {"orders": ["o_orderkey", "o_custkey"]},
    # round-4 operators. Replicating documents keeps the (source, lang)
    # file set and the word vocabulary CONSTANT while corpus volume
    # grows 10x — exactly the production shape for the compaction
    # planner (manifest fixed, bytes grow), the coverage scan and the
    # BPE trainer/encoder (vocab sublinear in corpus bytes); the
    # probed cost is the corpus-sized rollup each starts from.
    "layout_compaction_plan": {"documents": ["doc_id"]},
    "vocab_coverage_cutoff": {"documents": ["doc_id"]},
    "bpe_train_merges": {"documents": ["doc_id"]},
    "bpe_encode_corpus": {"documents": ["doc_id"]},
    "customer_rfm_segments": {"orders": ["o_orderkey", "o_custkey"]},
    "mask_span_corruption": {"documents": ["doc_id"]},
    "dataset_card_stats": {"documents": ["doc_id"]},
    # posting-list search: replication grows the query words' posting
    # lists 10x (new doc_ids), the exact production shape; phrase/
    # proximity joins stay per-document so no quadratic blowup.
    "search_phrase_positional": {"documents": ["doc_id"]},
    "search_proximity_window": {"documents": ["doc_id"]},
    "sample_neyman_allocation": {"documents": ["doc_id"]},
    "pipeline_tokenizer_dataset": {"documents": ["doc_id"]},
    # round-4b operators. Every FK edge's child and parent keys offset
    # together, so replication preserves zero-orphan integrity and the
    # audit's cost scales with distinct-key volume — the production
    # shape. dedup_simhash_eval is deliberately absent (pair-graph
    # artifact under replication, same reasoning as dedup_lsh_eval).
    # Replicated payloads make every digest 10x-duplicated, which only
    # changes the audit's VALUES, not its two-rollup plan.
    "dq_referential_integrity": {
        "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
        "orders": ["o_orderkey", "o_custkey"],
        "customer": ["c_custkey", "c_nationkey"],
        "supplier": ["s_suppkey", "s_nationkey"],
        "part": ["p_partkey"],
        "nation": ["n_nationkey", "n_regionkey"],
        "region": ["r_regionkey"],
    },
    "quality_perplexity_buckets": {"documents": ["doc_id"]},
    "sample_kcenter_coreset": {"embeddings": ["vec_id"]},
    "multimodal_payload_dedup": {"documents": ["doc_id"]},
    "bpe_fertility_stats": {"documents": ["doc_id"]},
    # round-4c operators. Replicating events copies timestamps, so the
    # DAY count stays constant while per-day volume grows 10x — the
    # production shape for every daily-series op: the probed cost is
    # the one map-side daily rollup; ACF folds, the weekday profile
    # and the pairwise-slope join are all days-cardinality and must
    # not move. BM25's query-term posting lists grow 10x (new docs),
    # per-doc work constant.
    "timeseries_autocorrelation": {"events": ["event_id", "user_id"]},
    "timeseries_weekday_seasonal": {"events": ["event_id", "user_id"]},
    "timeseries_theilsen_trend": {"events": ["event_id", "user_id"]},
    "search_bm25_topk": {"documents": ["doc_id"]},
    # Gini's distinct customers grow 10x (near-linear two-phase cumsum
    # + one rank-weighted agg); PPSWOR is map-only scoring + one
    # bottom-k TakeOrdered; hybrid RRF replicates docs AND embeddings
    # together (ids stay 1:1), each ranker's pool stays depth-30.
    "customer_gini_coefficient": {"orders": ["o_orderkey", "o_custkey"]},
    "sample_priority_ppswor": {"documents": ["doc_id"]},
    "search_hybrid_rrf": {
        "documents": ["doc_id"],
        "embeddings": ["vec_id"],
    },
    # IQR's distinct-value table replicates its counts (values copy
    # unchanged), Benford's digit rollup stays <= 9 groups, geomean is
    # one map-side pass, and the latency histogram replays the
    # co-partitioned orderkey join with a (priority x weeks) rollup.
    "events_iqr_outliers": {"events": ["event_id", "user_id"]},
    "agg_geometric_mean": {"orders": ["o_orderkey", "o_custkey"]},
    "dq_benford_first_digit": {"orders": ["o_orderkey", "o_custkey"]},
    "latency_ship_weeks": {
        "lineitem": ["l_orderkey"],
        "orders": ["o_orderkey", "o_custkey"],
    },
    # Power iteration: per-round cost is one corpus pass (fold + 64-group
    # map-side rollup); replication grows rows 10x, rounds stay 6.
    "embedding_top_eigenvector": {"embeddings": ["vec_id"]},
    # KN replays the bigram-LM shape (vocab-sized count tables, join
    # back on the agg key); attribution/abandonment replicate users so
    # per-user event density — and thus window fan-out — is preserved.
    "text_bigram_xent_kneser_ney": {"documents": ["doc_id"]},
    "events_attribution_linear": {"events": ["event_id", "user_id"]},
    "funnel_abandonment_window": {"events": ["event_id", "user_id"]},
    "text_langid_eval": {"documents": ["doc_id"]},
    # round-6 operators. Substring spans: replication duplicates every
    # doc 10x, so EVERY span becomes cross-doc-duplicated — worst-case
    # dup-table size (= distinct spans), exercising the rollup + join
    # back at maximum width; cost must stay linear in positions. The
    # multimodal manifest replays decode-gate + phash (both map-only
    # Arrow passes) + the sharded pack; replicated payloads collapse
    # 10:1 in the phash dedup, so the pack stage sees 1x survivors —
    # the production shape for a re-crawled corpus.
    "dedup_substring_spans": {"documents": ["doc_id"]},
    "pipeline_multimodal_manifest": {"documents": ["doc_id"]},
    # (the join back is gone since the round-6 rewrite; the comment
    # above describes the worst-case duplication structure, which
    # still holds for the single-exchange pair-rollup shape)
    # round-6b: Gopher gates are map-only (cost = one scan, linear);
    # MMR's retrieval pool scans a 10x corpus but the re-rank stays
    # pool-sized — near-linear retrieval, constant rerank.
    "text_gopher_rules": {"documents": ["doc_id"]},
    "search_mmr_rerank": {"embeddings": ["vec_id"]},
    # round-6c: DSIR replays the hashed-TF shape (bucket model is
    # 128 rows regardless of corpus size; both exchanges combiner-
    # reduced) — cost must stay linear in tokens. The budget planner
    # is one map-side rollup to a source-sized table. The recursive
    # CTE's frontier join grows 10x per iteration with iteration
    # count fixed by the schema; SQL UDFs inline to expressions, so
    # the probe measures the plain scan+rollup underneath.
    "sample_dsir_importance": {"documents": ["doc_id"]},
    "pipeline_token_budget_plan": {"documents": ["doc_id"]},
    "sql_recursive_cte_hierarchy": {
        "supplier": ["s_suppkey"],
        "customer": ["c_custkey"],
    },
    "sql_udf_scalar_tvf": {"orders": ["o_orderkey", "o_custkey"]},
    # png round-trip is map-only compress+decode per payload — pure
    # linear scan cost, the decode-dims posture with real DEFLATE.
    "multimodal_png_roundtrip": {"documents": ["doc_id"]},
    # jpeg round-trip: same map-only posture with the DCT+Huffman
    # codec; the explicit pre-codec repartition keeps the Python stage
    # CPU-parallel at any input partitioning.
    "multimodal_jpeg_roundtrip": {"documents": ["doc_id"]},
}


def replicate(df: DataFrame, keys: list[str], factor: int) -> DataFrame:
    parts = []
    for i in range(factor):
        p = df
        for k in keys:
            p = p.withColumn(k, F.col(k) + F.lit(i * OFFSET))
        parts.append(p)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def timed(build) -> float:
    """Wall-clock of BUILD + materialize. ``build`` is a thunk (or a
    DataFrame for legacy callers): driver-loop operators (BPE trainer,
    k-center, power iteration) do their corpus passes at CONSTRUCTION
    time via bounded collects, so timing only the final noop write
    would silently exclude their real cost."""
    t = time.time()
    df = build() if callable(build) else build
    df.write.format("noop").mode("overwrite").save()
    return time.time() - t


def skew_probe(spark: SparkSession, sf_dir: str, hot_share_pct: int = 50) -> None:
    """Deliberate single-key skew: remap ~hot_share_pct% of lineitem
    rows onto ONE hot orderkey, then join against orders three ways.

    Isolates the failure mode AQE cannot fix for a hash join: all rows
    of one key hash to one reducer, so the hot task serializes the
    stage. Salting scatters the key across N_SALT sub-keys (replicating
    the other side) and restores parallelism. Broadcast is disabled so
    the join actually exchanges on the key (with a broadcastable build
    side there is no key shuffle and no skew problem — that IS the
    first fix when the dimension fits).
    """
    from mapreducegcp_spark.functions.exact import dec2, dsum
    from mapreducegcp_spark.sources.catalog import load_table

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    hot = o.select(F.min("o_orderkey")).first()[0]
    # deterministic remap: ~hot_share_pct% of lines pile onto `hot`
    skewed_li = li.withColumn(
        "l_orderkey",
        F.when(
            F.pmod(F.hash("l_orderkey", "l_linenumber"), F.lit(100)) < hot_share_pct,
            F.lit(hot).cast("long"),
        ).otherwise(F.col("l_orderkey")),
    )
    revenue = dec2("l_extendedprice") * (1 - dec2("l_discount"))

    def naive():
        return (
            skewed_li.join(o, skewed_li.l_orderkey == o.o_orderkey)
            .groupBy(F.col("o_orderpriority").alias("priority"))
            .agg(dsum(revenue).alias("revenue"), F.count("*").alias("n_lines"))
        )

    def salted(n_salt: int = 8):
        s_li = skewed_li.withColumn("salt", F.pmod(F.hash("l_linenumber"), F.lit(n_salt)))
        r_o = o.withColumn("salt", F.explode(F.array(*[F.lit(i) for i in range(n_salt)])))
        return (
            s_li.join(
                r_o,
                (s_li.l_orderkey == r_o.o_orderkey) & (s_li.salt == r_o.salt),
            )
            .groupBy(F.col("o_orderpriority").alias("priority"))
            .agg(dsum(revenue).alias("revenue"), F.count("*").alias("n_lines"))
        )

    conf = spark.conf
    saved = {
        k: conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.enabled",
        )
    }
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        print(f"hot key carries ~{hot_share_pct}% of lineitem; broadcast disabled")
        print("| plan | AQE skew-join | t (s) |")
        print("|---|---|---|")
        for label, build, aqe_skew in (
            ("naive shuffle join", naive, "false"),
            ("naive shuffle join", naive, "true"),
            ("salted (N_SALT=8)", salted, "false"),
        ):
            conf.set("spark.sql.adaptive.skewJoin.enabled", aqe_skew)
            t = min(timed(build) for _ in range(2))
            print(f"| {label} | {aqe_skew} | {t:.2f} |")
        # same rows out of both plans (salting must not change results)
        a = {tuple(r) for r in naive().collect()}
        b = {tuple(r) for r in salted().collect()}
        print(f"results identical: {a == b}")

        # plan receipt: with the skew threshold scaled to this corpus
        # (the sf0.1 hot partition is ~10 MB, far under the 256 MB
        # production default — the same RATIO a 100 TB corpus hits
        # against the default), OptimizeSkewedJoin must mark the hot
        # side's shuffle read `skewed` in the final adaptive plan.
        # Frozen as tests/test_plans.py::
        # test_aqe_skew_join_splits_hot_partition.
        evidence_keys = {
            "spark.sql.adaptive.skewJoin.enabled": "true",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "262144",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "131072",
        }
        saved2 = {k: conf.get(k, None) for k in evidence_keys}
        try:
            for k, v in evidence_keys.items():
                conf.set(k, v)
            df = naive()
            df.collect()
            plan = df._jdf.queryExecution().executedPlan().toString()
            n_skewed = sum("skewed" in line for line in plan.splitlines())
            print(
                f"plan receipt (threshold 256 KiB): {n_skewed} shuffle read(s) "
                f"marked skewed, isFinalPlan="
                f"{'true' if 'isFinalPlan=true' in plan else 'false'}"
            )
        finally:
            for k, v in saved2.items():
                if v is None:
                    conf.unset(k)
                else:
                    conf.set(k, v)
    finally:
        for k, v in saved.items():
            conf.set(k, v)



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
    ap.add_argument("--factor", type=int, default=10)
    ap.add_argument("--skew", action="store_true", help="run the skew-join probe only")
    ap.add_argument("--chain", action="store_true", help="run the long-chain components probe only")
    ap.add_argument(
        "--only",
        help="comma-separated probe names (or i:j slice of the table) — "
        "lets a bounded-walltime harness run the table in chunks",
    )
    args = ap.parse_args()

    spark = get_spark("scale-probe")
    if args.skew:
        skew_probe(spark, args.sf_dir)
        return
    if args.chain:
        chain_probe(spark)
        return
    from mapreducegcp_spark.registry import all_queries
    import mapreducegcp_spark.sources.catalog as catalog

    qs = all_queries()
    base_load = catalog.load_table

    probes = PROBES
    if args.only:
        parts = args.only.split(":")
        if len(parts) == 2 and all(p.isdigit() for p in parts):
            keys = list(PROBES)[int(parts[0]) : int(parts[1])]
        else:
            keys = [k.strip() for k in args.only.split(",")]
            unknown_keys = [k for k in keys if k not in PROBES]
            if unknown_keys:
                sys.exit(
                    f"scale_probe: unknown probe(s) {unknown_keys}; "
                    f"valid names: {', '.join(PROBES)}"
                )
        probes = {k: PROBES[k] for k in keys}

    print(f"| query | t_1x (s) | t_{args.factor}x (s) | ratio |")
    print("|---|---|---|---|")
    for name, tables in probes.items():
        q = qs[name]
        mod = sys.modules[q.fn.__module__]

        # warm + 1x (best of 2)
        t1 = min(timed(lambda: q.fn(spark, args.sf_dir)) for _ in range(2))

        def scaled_load(spark_, sf_dir_, table_):
            df = base_load(spark_, sf_dir_, table_)
            if table_ in tables:
                return replicate(df, tables[table_], args.factor)
            return df

        mod.load_table = scaled_load
        try:
            tN = min(timed(lambda: q.fn(spark, args.sf_dir)) for _ in range(2))
        finally:
            mod.load_table = base_load
        print(f"| `{name}` | {t1:.2f} | {tN:.2f} | {tN / t1:.1f} |")


if __name__ == "__main__":
    main()
