#!/usr/bin/env python
"""Engine-vs-engine cross-verification at the 100x corpus for the 17
oracle-excluded queries (SCALE.md round-8 exclusion register, minus
the three alias cluster queries retired with their engines).

Those 17 are excluded from the full-catalog strict sweep at
/tmp/blowup/sf10 because the DUCKDB ORACLE is quadratic at that
volume (exact pair-graph / all-pairs families) — the engines are not.
This tool closes the evidence gap without the intractable oracle:

A. STRATUM ORACLE (--stratum): materialize a deterministic stratum OF
   the 100x corpus — copy 0 in full (so the 1x exact pair graph is
   present with BOTH endpoints of every pair) plus a 1-in-99 hash
   sample of the replicated copies (rows drawn from the permuted 100x
   population; the replicated-identical-vector cliques appear, giving
   the embedding dedup family real multi-copy duplicate structure) —
   then run the UNCHANGED strict Spark-vs-DuckDB compare
   (tools/check_oracles.py) for all 17 on it. ~9.5k docs / ~4k
   vectors keeps every quadratic oracle tractable (the 3x full sweep
   ran the same oracles at 15k docs). This is a value-level check of
   every excluded query on 100x-DISTRIBUTION data.

B. COMPONENT ENGINES (--engines): the served duplicate-cluster
   engine (partition-local union-find + contraction) and its fallback
   (alternating large-star/small-star) must agree ROW-FOR-ROW on
   shared pair graphs at full blowup volume: the uniform-100x
   MinHash-LSH pair graph, and the 10x-skew corpus's verbatim-cluster
   graph (a ~2.5M-edge clique from 2,244 identical documents).

C. RESTRICTION EQUALITY + CLOSURE RE-DERIVATION (--restrict):
   pair membership in dedup_minhash_lsh is a pairwise predicate of
   the two documents' texts (signature collision in >= 1 band, or
   same exact-collapse group), so the FULL-100x engine run restricted
   to stratum members must EQUAL the DuckDB oracle's pair set on the
   stratum — an exact value check of the full-corpus run, hot buckets
   included. The manifest/split closures then re-derive: feeding the
   DUCKDB oracle's stratum pair graph into dedup_keep_manifest /
   split_leakage_safe (their `pairs` input) must reproduce the
   registered engine outputs row-for-row (split_leakage_audit /
   pipeline_training_dataset take no pairs input; their full closures
   are value-checked by step A).

    python tools/crossverify100.py --build
    python tools/crossverify100.py --stratum
    python tools/crossverify100.py --engines
    python tools/crossverify100.py --restrict
    python tools/crossverify100.py --all

Prereqs: /tmp/blowup/sf10 (blowup_probe --build --factor 100) for
everything; /tmp/blowup/sf1skew (--skew --build --factor 10) for the
clique tier of --engines (skipped with a notice if absent).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from blowup_probe import OFFSET  # copy 0 = id < OFFSET (tools/ is on the path)
from mapreducegcp_spark.session import get_spark

BIG = "/tmp/blowup/sf10"        # 100x uniform corpus
TENX = "/tmp/blowup/sf1"        # 10x uniform corpus
SKEW = "/tmp/blowup/sf1skew"    # 10x zipfian corpus (verbatim cluster)
STRAT = "/tmp/blowup/sf10strat"
STRAT10 = "/tmp/blowup/sf1strat"
SAMPLE_MOD, SAMPLE_HIT = 99, 7  # 1-in-99 hash sample of replicated copies
SAMPLE_MOD_10X = 9              # 1-in-9 at 10x -> same ~10k-doc stratum size

# The 10x full-catalog re-sweep's single oracle-capacity gap (SCALE.md
# "Full-catalog 10x re-sweep"): the all-pairs list-cosine oracle at
# 200k vectors exhausts spill disk. Its 10x value check runs on the
# 10x-drawn stratum instead (same method as the 100x layer A); the
# two family neighbors run alongside for context.
ALLPAIRS_10X = [
    "similarity_nearest_neighbor",
    "similarity_topk_bruteforce",
    "dedup_embedding_cosine",
]

# The exclusion register (SCALE.md "Full-catalog strict sweep at the
# 100x corpus"), minus the three retired alias cluster queries.
EXCLUDED = [
    "dedup_ngram_jaccard",
    "dedup_ngram_containment",
    "dedup_lsh_eval",
    "dedup_simhash_eval",
    "dedup_semantic_vs_lexical_eval",
    "dedup_connected_components",
    "dedup_keep_manifest",
    "split_leakage_safe",
    "split_leakage_audit",
    "pipeline_training_dataset",
    "decontaminate_ngram_overlap",
    "dedup_embedding_cosine",
    "dedup_embedding_clusters",
    "similarity_nearest_neighbor",
    "similarity_topk_bruteforce",
    "dedup_incremental",
    "multimodal_phash_near_dup",
]


def build_stratum(
    spark: SparkSession,
    big_dir: str = BIG,
    out: str = STRAT,
    sample_mod: int = SAMPLE_MOD,
) -> None:
    """Deterministic stratum of a blowup corpus: full copy 0 plus a
    1-in-``sample_mod`` hash-of-own-id sample of replicated copies,
    for the two tables the excluded families read; the other eight are
    symlinked so check_oracles' view registration works unchanged."""
    out_p = Path(out)
    out_p.mkdir(parents=True, exist_ok=True)
    for table, key in (("documents", "doc_id"), ("embeddings", "vec_id")):
        df = spark.read.parquet(f"{big_dir}/{table}.parquet")
        keep = (F.col(key) < OFFSET) | (
            F.pmod(F.xxhash64(key), F.lit(sample_mod)) == SAMPLE_HIT
        )
        dst = out_p / f"{table}.parquet"
        df.filter(keep).repartition(8).write.mode("overwrite").parquet(str(dst))
        n = spark.read.parquet(str(dst)).count()
        print(f"stratum {table}: {n} rows", flush=True)
    for table in (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events",
    ):
        dst = out_p / f"{table}.parquet"
        if not dst.exists():
            os.symlink(f"{big_dir}/{table}.parquet", dst)


def step_stratum() -> dict:
    """Strict Spark-vs-DuckDB compare of all 17 on the stratum, via
    the unchanged checker (subprocess: its own session + conf).
    ``queries`` in the result maps each query to its per-line outcome
    (pass/fail/rows_only) so sweep100 --receipts can write per-query
    receipt rows into the sweep log."""
    t0 = time.time()
    proc = subprocess.run(
        [
            sys.executable,
            str(Path(__file__).parent / "check_oracles.py"),
            "--sf-dir", STRAT,
            "--duckdb-mem", "24GB",
            *EXCLUDED,
        ],
        capture_output=True,
        text=True,
        timeout=7200,
    )
    sys.stdout.write(proc.stdout)
    tail = [l for l in proc.stdout.splitlines() if l.strip()]
    summary = tail[-1] if tail else ""
    ok = summary.startswith(f"{len(EXCLUDED)} pass, 0 fail")
    if not ok:
        sys.stderr.write(proc.stderr[-4000:])
    status_map = {"PASS": "pass", "FAIL": "fail", "SKIP": "rows_only"}
    queries: dict[str, dict] = {}
    for line in proc.stdout.splitlines():
        parts = line.split()
        if len(parts) >= 2 and parts[0] in status_map:
            queries[parts[1].rstrip(":")] = {
                "status": status_map[parts[0]],
                "detail": line.strip()[:300],
            }
    return {"step": "stratum_oracle", "ok": ok, "summary": summary,
            "queries": queries, "sec": round(time.time() - t0, 1)}


def step_stratum10(spark: SparkSession) -> dict:
    """10x-tier value check for the all-pairs-oracle family: build the
    10x-drawn stratum (full copy 0 + 1-in-9 sample of copies, ~10k
    docs / ~4k vectors — the size the quadratic oracles are proven
    tractable at) and run the unchanged strict compare. This is the
    documented stand-in for similarity_nearest_neighbor's full-10x
    strict row, whose 200k-vector all-pairs DuckDB oracle exhausts
    spill disk (engine untouched; oracle capacity)."""
    build_stratum(spark, big_dir=TENX, out=STRAT10, sample_mod=SAMPLE_MOD_10X)
    t0 = time.time()
    proc = subprocess.run(
        [
            sys.executable,
            str(Path(__file__).parent / "check_oracles.py"),
            "--sf-dir", STRAT10,
            "--duckdb-mem", "24GB",
            *ALLPAIRS_10X,
        ],
        capture_output=True,
        text=True,
        timeout=7200,
    )
    sys.stdout.write(proc.stdout)
    tail = [l for l in proc.stdout.splitlines() if l.strip()]
    summary = tail[-1] if tail else ""
    ok = summary.startswith(f"{len(ALLPAIRS_10X)} pass, 0 fail")
    if not ok:
        sys.stderr.write(proc.stderr[-4000:])
    return {"step": "stratum10_allpairs", "ok": ok, "summary": summary,
            "sec": round(time.time() - t0, 1)}


def _canon(df: DataFrame) -> list:
    return sorted(tuple(r) for r in df.collect())


def step_engines(spark: SparkSession) -> dict:
    from mapreducegcp_spark.functions.checkpoint import safe_checkpoint
    from mapreducegcp_spark.operators.dedup import (
        local_uf_components,
        q_dedup_minhash_lsh,
        two_phase_components,
    )

    engines = {
        "local_uf": local_uf_components,
        "two_phase": two_phase_components,
    }

    def agreement(sf_dir: str, tag: str) -> dict:
        t0 = time.time()
        # safe_checkpoint, not a raw localCheckpoint: the intra expansion
        # emits one verbatim cluster's pairs into a single partition, and
        # a lineage-truncated hot block that cannot cache is unrecoverable
        # (functions/checkpoint.py) — measured at the uniform-100x tier.
        pairs = safe_checkpoint(
            q_dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
        )  # materialize once, both engines read it
        n_edges = pairs.count()
        outs = {name: _canon(fn(pairs, "doc_a", "doc_b")) for name, fn in engines.items()}
        ref = outs["local_uf"]
        agree = all(v == ref for v in outs.values())
        if not agree:
            for k, v in outs.items():
                print(tag, k, "first rows:", v[:5], "n:", len(v))
        return {
            "edges": n_edges,
            "nodes": len(ref),
            "engines": len(engines),
            "agree": agree,
            "sec": round(time.time() - t0, 1),
        }

    # Tier 1: uniform 100x LSH pair graph. In round 9 this tier caught
    # a diameter-5 component (cross-copy LSH chains) that a bare
    # depth-4 reachability walk silently mislabeled.
    results = {"uniform_100x": agreement(BIG, "uniform")}
    # Tier 2: 10x-skew verbatim-cluster graph (~2.5M-edge clique).
    if Path(SKEW).exists():
        results["skew_clique_10x"] = agreement(SKEW, "skew")
    else:
        results["skew_clique_10x"] = {"skipped": f"{SKEW} absent"}

    ok = results["uniform_100x"]["agree"] and (
        results["skew_clique_10x"].get("agree", True)
    )
    return {"step": "component_engines", "ok": ok, **results}


def step_two_phase_blocks(spark: SparkSession) -> dict:
    """Executable pin of two_phase_components' checkpoint-skew claim
    (round-10 verdict ask #4): its per-round `small` checkpoint is
    hi-keyed, exempted from safe_checkpoint on the DOCUMENTED bound
    that the hottest pinned block is at most the largest star's degree
    plus a fair share of the other stars. This step measures every
    pinned block of every round on the full-volume blowup pair graphs
    (uniform 100x LSH graph; 10x-skew verbatim clique when present) via
    the operator's ``block_probe`` hook and asserts:

    - C0 (hash-balanced distinct output): max block <= 4x ideal + 1024;
    - each round's `small`: max block <= max hi-degree + 4x ideal + 1024.

    4x ideal is generous hash-imbalance slack; the failure mode being
    excluded is categorical (one block holding ~all rows)."""
    from mapreducegcp_spark.operators.dedup import (
        q_dedup_minhash_lsh,
        two_phase_components,
    )

    results: dict = {}
    tiers = {"uniform_100x": BIG}
    if Path(SKEW).exists():
        tiers["skew_clique_10x"] = SKEW
    else:
        results["skew_clique_10x"] = {"skipped": f"{SKEW} absent", "ok": True}
    for tier, d in tiers.items():
        t0 = time.time()
        pairs = q_dedup_minhash_lsh(spark, d).select("doc_a", "doc_b")
        stats: list[dict] = []

        def probe(tag: str, df: DataFrame, _stats=stats) -> None:
            parts = df.groupBy(F.spark_partition_id().alias("pid")).count().collect()
            sizes = [r["count"] for r in parts] or [0]
            dmax = (
                df.groupBy("hi").count().agg(F.max("count").alias("m"))
                .collect()[0]["m"]
            )
            _stats.append(
                {
                    "tag": tag,
                    "rows": int(sum(sizes)),
                    "blocks": len(sizes),
                    "max_block": int(max(sizes)),
                    "max_hi_degree": int(dmax or 0),
                }
            )

        two_phase_components(pairs, "doc_a", "doc_b", block_probe=probe).count()
        ok = True
        for s in stats:
            ideal = s["rows"] / max(1, s["blocks"])
            bound = 4 * ideal + 1024
            if s["tag"] != "C0":
                bound += s["max_hi_degree"]
            s["bound"] = int(bound)
            s["ok"] = s["max_block"] <= bound
            ok = ok and s["ok"]
        results[tier] = {"rounds": stats, "ok": ok, "sec": round(time.time() - t0, 1)}
    return {
        "step": "two_phase_blocks",
        "ok": all(v["ok"] for v in results.values()),
        **results,
    }


def _duck_con(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute("SET memory_limit='24GB'")
    from mapreducegcp_spark.sources.catalog import TABLES

    for t in TABLES:
        p = Path(sf_dir) / f"{t}.parquet"
        src = f"{p}/*.parquet" if p.is_dir() else str(p)
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{src}'")
    return con


def step_restrict(spark: SparkSession) -> dict:
    from mapreducegcp_spark.operators.dedup import q_dedup_minhash_lsh
    from mapreducegcp_spark.operators.pipeline import (
        q_dedup_keep_manifest,
        q_split_leakage_safe,
    )
    from mapreducegcp_spark.registry import all_queries

    results = {}
    con = _duck_con(STRAT)

    # (a) full-100x LSH restricted to stratum == stratum oracle pairs.
    t0 = time.time()
    strat_ids = spark.read.parquet(f"{STRAT}/documents.parquet").select("doc_id")
    full = q_dedup_minhash_lsh(spark, BIG)
    restricted = (
        full.join(strat_ids.withColumnRenamed("doc_id", "doc_a"), "doc_a", "leftsemi")
        .join(strat_ids.withColumnRenamed("doc_id", "doc_b"), "doc_b", "leftsemi")
        .select("doc_a", "doc_b", "jaccard_est")
    )
    eng = sorted(tuple(r) for r in restricted.collect())
    oracle_sql = all_queries()["dedup_minhash_lsh"].oracle
    ora = sorted(
        tuple(r) for r in con.execute(oracle_sql).fetchall()
    )
    eq = eng == ora
    results["lsh_restriction"] = {
        "pairs_engine": len(eng),
        "pairs_oracle": len(ora),
        "equal": eq,
        "sec": round(time.time() - t0, 1),
    }
    if not eq:
        se, so = set(eng), set(ora)
        print("engine-only:", sorted(se - so)[:5])
        print("oracle-only:", sorted(so - se)[:5])

    # (b) closures re-derive from the (independently checked) oracle
    # pair graph: keep_manifest / split_leakage_safe with the DuckDB
    # graph as `pairs` must equal the registered engine path.
    t0 = time.time()
    jac_sql = all_queries()["dedup_ngram_jaccard"].oracle
    duck_pairs = con.execute(
        f"SELECT doc_a, doc_b FROM ({jac_sql}) t"
    ).fetchall()
    pairs_df = spark.createDataFrame(
        duck_pairs or [(0, 0)], "doc_a long, doc_b long"
    )
    if not duck_pairs:
        pairs_df = pairs_df.limit(0)
    for qname, fn in (
        ("dedup_keep_manifest", q_dedup_keep_manifest),
        ("split_leakage_safe", q_split_leakage_safe),
    ):
        from_oracle = _canon(fn(spark, STRAT, pairs=pairs_df))
        registered = _canon(all_queries()[qname].fn(spark, STRAT))
        results[f"rederive_{qname}"] = {
            "rows": len(registered),
            "equal": from_oracle == registered,
        }
    results["rederive_sec"] = round(time.time() - t0, 1)

    ok = results["lsh_restriction"]["equal"] and all(
        v["equal"] for k, v in results.items() if k.startswith("rederive_dedup")
        or k.startswith("rederive_split")
    )
    return {"step": "restriction_rederive", "ok": ok, **results}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--build", action="store_true")
    ap.add_argument("--stratum", action="store_true")
    ap.add_argument("--engines", action="store_true")
    ap.add_argument("--restrict", action="store_true")
    ap.add_argument("--stratum10", action="store_true")
    ap.add_argument("--twophase", action="store_true")
    ap.add_argument("--all", action="store_true")
    args = ap.parse_args()
    if args.all:
        args.build = args.stratum = args.engines = args.restrict = True
        args.stratum10 = args.twophase = True

    out = []
    spark = None
    if args.build or args.engines or args.restrict or args.stratum10 or args.twophase:
        spark = get_spark()
    if args.build:
        build_stratum(spark)
    if args.stratum:
        out.append(step_stratum())
    if args.stratum10:
        out.append(step_stratum10(spark))
    if args.engines:
        out.append(step_engines(spark))
    if args.restrict:
        out.append(step_restrict(spark))
    if args.twophase:
        out.append(step_two_phase_blocks(spark))
    for r in out:
        print(json.dumps(r), flush=True)
    if not all(r["ok"] for r in out):
        raise SystemExit("crossverify100: FAILURES above")


if __name__ == "__main__":
    main()
