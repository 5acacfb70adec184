#!/usr/bin/env python
"""Full-catalog strict oracle sweep at the 100x blowup corpus.

Round 6j verified the whole catalog at the 3x/10x tiers and round 7
re-certified a 30-query list at 100x (`blowup_probe --verify
--factor 100`); this driver extends the strict Spark-vs-DuckDB
multiset compare toward ALL registered queries at /tmp/blowup/sf10
(100x sf0.1: 600M lineitem-rows-equivalent volume, 5M documents, 2M
embeddings) — the SCALE.md "N/288 exact at 100x, M excluded with
named reasons" table row.

Exclusion honesty: a query is excluded ONLY when its ORACLE is
intractable at this volume, in one of two documented ways:

- PRE_EXCLUDED: complexity class known from the 3x/10x sweeps — the
  exact-pair-graph family (the synthetic vocabulary saturates the
  shingle space, so the oracle's exact self-join grows quadratically
  with the blowup factor; the uncapped join spilled >70 GB at 10x)
  and the all-pairs embedding oracles (n^2 list-lambda cosines over
  2M vectors). Every entry names the tier where the query IS
  verified exact.
- measured timeout: anything else that exceeds the per-query solo
  budget gets recorded with the measured bound instead of a guess.

Results append to SWEEP100.jsonl (one line per query) so the sweep is
resumable — re-running skips queries already recorded. Batches run as
check_oracles subprocesses (one Spark/DuckDB pair per batch) so a
DuckDB out-of-core crash loses one batch, not the sweep; a timed-out
batch is retried query-by-query to isolate the hog.

    python tools/sweep100.py            # run / resume
    python tools/sweep100.py --receipts # record crossverify receipts
                                        # for the PRE_EXCLUDED register
    python tools/sweep100.py --report [--emit history/SWEEP100_rN.json]
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF100 = "/tmp/blowup/sf10"
OUT = REPO / "SWEEP100.jsonl"
BATCH = 6
BATCH_TIMEOUT = 2400  # s — generous 400 s/query average
SOLO_TIMEOUT = 900  # s — per-query budget when isolating a slow batch

# Oracle complexity class known from the 3x/10x sweeps (SCALE.md):
# {query: (reason, tier where verified exact)}.
PRE_EXCLUDED = {
    # exact shingle-pair-graph family: oracle self-join quadratic in
    # the blowup factor on this corpus (shingle-space saturation)
    "dedup_ngram_jaccard": ("exact shingle self-join oracle quadratic in blowup (spilled >70 GB at 10x)", "3x"),
    "dedup_ngram_containment": ("exact shingle self-join oracle quadratic in blowup", "3x"),
    "dedup_lsh_eval": ("eval against the exact pair graph (quadratic oracle)", "3x"),
    "dedup_simhash_eval": ("eval against the exact pair graph (quadratic oracle)", "3x"),
    "dedup_semantic_vs_lexical_eval": ("eval joins the exact lexical pair graph (quadratic oracle)", "3x"),
    "dedup_connected_components": ("recursive-CTE closure over the quadratic pair graph", "3x"),
    "dedup_keep_manifest": ("manifest derives from the quadratic pair graph", "3x"),
    "decontaminate_ngram_overlap": ("train x test n-gram join saturates at blowup vocabulary", "3x"),
    "split_leakage_safe": ("leakage graph is the quadratic pair graph", "3x"),
    "split_leakage_audit": ("leakage graph is the quadratic pair graph (363 s at 3x)", "3x"),
    "pipeline_training_dataset": ("capstone includes the pair-graph dedup stage (846 s at 3x)", "3x"),
    # all-pairs embedding oracles: n^2 list-lambda cosines at 2M vectors
    "dedup_embedding_cosine": ("all-pairs cosine oracle: 4e12 pairs at 2M vectors", "3x"),
    "dedup_embedding_clusters": ("components over the all-pairs cosine oracle", "3x"),
    "similarity_nearest_neighbor": ("all-pairs exact-NN oracle: 4e12 cosines at 2M vectors", "10x"),
    "similarity_topk_bruteforce": ("labeled O(n^2) baseline; oracle shares the blowup", "10x"),
    # the round-8 sweep excluded these two at runtime (recorded in
    # history/SWEEP100_r08.json); pre-registered here so future sweeps skip
    # the disk-exhausting solo attempts
    "dedup_incremental": ("exact shingle probe join saturates at blowup vocabulary (>77 GB spill measured); df_cap=1000 scale path 25.5s at 100x", "3x/10x"),
    "multimodal_phash_near_dup": ("all-pairs hamming oracle: 1.25e11 candidate pairs in DuckDB (>900s); engine multi-index completes standalone in 204s", "10x"),
}

# Round 9 closed the residual gap for every PRE_EXCLUDED query
# without the intractable oracle: tools/crossverify100.py runs the
# UNCHANGED strict compare for every one on a deterministic 100x-corpus
# stratum (20/20 exact then; 17 since three alias cluster queries were
# retired), checks the served components engine row-for-row against
# its two-phase fallback on full-volume pair graphs, and pins restriction-equality /
# closure re-derivation — executable via
# RUN_SCALE_PROBE=1 pytest tests/test_crossverify100.py.
#
# Round 11 (verdict ask #2): `--receipts` runs that crossverify layer
# FROM HERE and writes its outcomes into the sweep log as per-query
# receipt rows (status "stratum_pass", detail naming the stratum and,
# for the cluster-engine and full-volume-restriction queries, the
# engine-agreement / restriction receipts with counts) — so the emitted
# SWEEP100_r{N}.json reads as value-verified for ALL catalog queries in
# one file instead of "excluded" rows whose value checks live in
# SCALE.md.

# PRE_EXCLUDED queries whose crossverify receipt goes beyond the
# stratum: the served components engine agrees row-for-row with its
# two-phase fallback at FULL blowup volume, and the LSH pair graph's full-100x run is restriction-checked
# against the stratum oracle (see crossverify100 steps B/C).
ENGINE_AGREEMENT = {"dedup_connected_components"}
RESTRICTION_CHECKED = {"dedup_keep_manifest", "split_leakage_safe"}


def catalog_names() -> list[str]:
    from mapreducegcp_spark.registry import all_queries

    return sorted(all_queries())


def done_names() -> dict[str, dict]:
    if not OUT.exists():
        return {}
    rows = {}
    for line in OUT.read_text().splitlines():
        if line.strip():
            r = json.loads(line)
            rows[r["query"]] = r
    return rows


def record(row: dict) -> None:
    with OUT.open("a") as f:
        f.write(json.dumps(row) + "\n")


def run_batch(names: list[str], timeout: int) -> dict[str, dict] | None:
    """One check_oracles subprocess; None on timeout, else per-query
    rows parsed from its PASS/FAIL/ROWS-ONLY output lines."""
    t0 = time.time()
    try:
        out = subprocess.run(
            [
                sys.executable,
                str(REPO / "tools" / "check_oracles.py"),
                "--sf-dir",
                SF100,
                "--duckdb-mem",
                "24GB",
                *names,
            ],
            capture_output=True,
            text=True,
            timeout=timeout,
            cwd=str(REPO),
        )
    except subprocess.TimeoutExpired:
        return None
    rows: dict[str, dict] = {}
    # check_oracles lines: "PASS name (N rows, Ts)" /
    # "FAIL name: reason" / "SKIP name: rows-only (...)"
    status_map = {"PASS": "pass", "FAIL": "fail", "SKIP": "rows_only"}
    for line in out.stdout.splitlines():
        parts = line.split()
        if len(parts) >= 2 and parts[0] in status_map:
            q = parts[1].rstrip(":")
            rows[q] = {
                "query": q,
                "status": status_map[parts[0]],
                "detail": line.strip()[:400],
                "sf": "100x",
            }
    # a crashed batch (nonzero rc with missing rows) records errors for
    # whatever queries produced no line
    for n in names:
        if n not in rows:
            rows[n] = {
                "query": n,
                "status": "err",
                "detail": (out.stderr.strip().splitlines() or ["no output"])[-1][:400],
                "sf": "100x",
            }
    print(
        f"  batch({len(names)}) -> "
        + ", ".join(f"{r['status']}:{q}" for q, r in rows.items())
        + f" [{time.time() - t0:.0f}s]",
        flush=True,
    )
    return rows


def shard_todo(
    names: list[str],
    done: dict[str, dict],
    reverse: bool,
    stride: int,
    offset: int,
) -> list[str]:
    """Shard the STABLE full catalog order (names minus PRE_EXCLUDED),
    THEN subtract the done log. Sharding the residual list (pre-round-11
    behavior) made worker shards depend on the done log at each
    worker's start time: workers started at staggered moments computed
    inconsistent shards and some queries were assigned to NO worker
    (round-10 ADVICE). Sharding first, every worker partitions the same
    universe regardless of when it starts; the done-log re-read before
    each batch still keeps overlap at zero."""
    universe = [n for n in names if n not in PRE_EXCLUDED]
    if reverse:
        universe = universe[::-1]
    if stride > 1:
        universe = universe[offset::stride]
    return [n for n in universe if n not in done]


def run_receipts(names: list[str], done: dict[str, dict]) -> None:
    """Record crossverify value receipts for the PRE_EXCLUDED register
    as per-query rows (verdict r10 ask #2): stratum strict-compare
    outcome for each, engine-agreement counts for the cluster query,
    restriction/re-derivation for the closure queries."""
    sys.path.insert(0, str(REPO / "tools"))
    import crossverify100 as cv

    from mapreducegcp_spark.session import get_spark

    spark = get_spark("sweep100-receipts")
    if not Path(cv.STRAT, "documents.parquet").exists():
        cv.build_stratum(spark)
    strat = cv.step_stratum()
    engines = cv.step_engines(spark)
    restrict = cv.step_restrict(spark)
    print(json.dumps({k: v for k, v in strat.items() if k != "queries"}))
    print(json.dumps(engines))
    print(json.dumps(restrict))
    uni = engines.get("uniform_100x", {})
    skew = engines.get("skew_clique_10x", {})
    for n in PRE_EXCLUDED:
        q = strat["queries"].get(n, {})
        if q.get("status") != "pass":
            print(f"receipts: {n} stratum status {q.get('status')!r} — not recorded")
            continue
        receipts = [
            "strict Spark-vs-DuckDB exact on the deterministic 100x stratum "
            "(full copy 0 + 1-in-99 sample)"
        ]
        if n in ENGINE_AGREEMENT and uni.get("agree"):
            receipts.append(
                f"local_uf/two_phase row-for-row agreement at full 100x volume "
                f"({uni.get('edges')} edges, {uni.get('nodes')} nodes"
                + (
                    f"; 10x-skew clique {skew.get('edges')} edges"
                    if skew.get("agree")
                    else ""
                )
                + ")"
            )
        # (dedup_minhash_lsh itself is swept full-corpus, not via this
        # PRE_EXCLUDED loop — its restriction check feeds these members)
        if n in RESTRICTION_CHECKED:
            lr = restrict.get("lsh_restriction", {})
            if lr.get("equal"):
                receipts.append(
                    f"full-100x run restriction-equal to the stratum oracle "
                    f"({lr.get('pairs_engine')} pairs)"
                )
        if n in RESTRICTION_CHECKED and restrict.get(f"rederive_{n}", {}).get("equal"):
            receipts.append(
                "closure re-derived from the DuckDB oracle pair graph, "
                "row-for-row equal to the registered engine output"
            )
        record(
            {
                "query": n,
                "status": "stratum_pass",
                "detail": q.get("detail", "")
                + " | "
                + PRE_EXCLUDED[n][0]
                + f"; verified exact at {PRE_EXCLUDED[n][1]}",
                "receipts": receipts,
                "sf": "100x",
            }
        )
    print(f"receipts: recorded rows for PRE_EXCLUDED register ({len(PRE_EXCLUDED)})")


def report(names: list[str], done: dict[str, dict], emit: str | None) -> None:
    """Print status counts; with ``emit``, write the full artifact JSON
    (summary + per-query rows). A PRE_EXCLUDED query with a recorded
    receipt row reads as value-verified (status stratum_pass); without
    one it stays 'excluded' — so an artifact claiming 288/288
    value-verified can only be produced after --receipts succeeded."""
    statuses = {}
    for n in names:
        if n in done and done[n]["status"] == "stratum_pass":
            statuses[n] = "stratum_pass"
        elif n in PRE_EXCLUDED:
            statuses[n] = "excluded"
        elif n in done:
            statuses[n] = done[n]["status"]
        else:
            statuses[n] = "not_run"
    from collections import Counter

    c = Counter(statuses.values())
    print(json.dumps(c, indent=1))
    for n, s in statuses.items():
        if s not in ("pass", "excluded", "stratum_pass"):
            print(s, n, done.get(n, {}).get("detail", ""))
    if emit:
        value_verified = c.get("pass", 0) + c.get("stratum_pass", 0)
        doc = {
            "summary": {
                "sf": SF100,
                "method": "tools/sweep100.py strict exact-multiset "
                "Spark-vs-DuckDB compare; PRE_EXCLUDED register carries "
                "crossverify receipts (--receipts: stratum strict pass + "
                "engine agreement + restriction re-derivation)",
                "counts": dict(c),
                "total": len(names),
                "value_verified": value_verified,
                "failures": c.get("fail", 0) + c.get("err", 0),
                "timeouts": sum(
                    1
                    for n in names
                    if n in done
                    and "exceeded" in done[n].get("detail", "")
                    and done[n]["status"] == "excluded"
                ),
            },
            "queries": {
                n: {
                    k: v
                    for k, v in {
                        "status": statuses[n],
                        "detail": done.get(n, {}).get("detail"),
                        "receipts": done.get(n, {}).get("receipts"),
                    }.items()
                    if v is not None
                }
                for n in sorted(names)
            },
        }
        Path(emit).write_text(json.dumps(doc, indent=1) + "\n")
        print(f"wrote {emit}: {value_verified}/{len(names)} value-verified")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--report", action="store_true")
    ap.add_argument("--limit", type=int, default=None, help="stop after N new queries")
    ap.add_argument(
        "--reverse",
        action="store_true",
        help="work the todo list back-to-front — a second worker run "
        "this way converges toward the forward worker with at most "
        "one batch of overlap (the done log is re-read before every "
        "batch)",
    )
    ap.add_argument(
        "--stride",
        type=int,
        default=1,
        help="with --offset, shard the todo list (todo[offset::stride]) "
        "so N concurrent workers each take every N-th query; the "
        "done-log re-read before each batch keeps overlap to zero",
    )
    ap.add_argument("--offset", type=int, default=0)
    ap.add_argument(
        "--batch-timeout",
        type=int,
        default=BATCH_TIMEOUT,
        help="per-batch budget (s); raise when several workers share "
        "the box and per-query wall inflates with contention",
    )
    ap.add_argument(
        "--receipts",
        action="store_true",
        help="run the crossverify layer (stratum strict compare + "
        "engine agreement + restriction re-derivation) for the "
        "PRE_EXCLUDED register and record per-query receipt rows in "
        "the sweep log, superseding their 'excluded' rows",
    )
    ap.add_argument(
        "--emit",
        default=None,
        help="with --report: also write the full SWEEP100_r{N}.json "
        "artifact (summary + per-query rows) to this path; committed "
        "ones live under history/",
    )
    args = ap.parse_args()

    names = catalog_names()
    done = done_names()

    if args.receipts:
        run_receipts(names, done)
        return

    if args.report:
        report(names, done, args.emit)
        return

    todo = shard_todo(names, done, args.reverse, args.stride, args.offset)
    for n, (reason, tier) in PRE_EXCLUDED.items():
        if n not in done:
            record(
                {
                    "query": n,
                    "status": "excluded",
                    "detail": f"{reason}; verified exact at {tier}",
                    "sf": "100x",
                }
            )
    print(f"sweep100: {len(todo)} to run, {len(done)} recorded", flush=True)
    if args.limit:
        todo = todo[: args.limit]

    for i in range(0, len(todo), BATCH):
        # re-read the log so a concurrent worker's completed queries
        # are skipped (two workers converge with <= one batch overlap)
        fresh = done_names()
        batch = [n for n in todo[i : i + BATCH] if n not in fresh]
        if not batch:
            continue
        rows = run_batch(batch, args.batch_timeout)
        if rows is None:
            print(f"  batch timeout, isolating: {batch}", flush=True)
            solo_budget = max(SOLO_TIMEOUT, args.batch_timeout // 2)
            for n in batch:
                solo = run_batch([n], solo_budget)
                if solo is None:
                    record(
                        {
                            "query": n,
                            "status": "excluded",
                            "detail": f"measured: exceeded {solo_budget}s solo budget at 100x",
                            "sf": "100x",
                        }
                    )
                else:
                    record(solo[n])
        else:
            for n in batch:
                record(rows[n])


if __name__ == "__main__":
    main()
