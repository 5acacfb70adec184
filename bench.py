#!/usr/bin/env python
"""Benchmark harness — wall-clock per headline query at one scale factor.

Runs a curated subset of the registry (one representative per operator
family) against ``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1)
on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": "headline_total_sec", "value": N, "unit": "sec",
     "queries": {"q": sec, ...}, "sf": 0.1}

Each query executes end-to-end through the ``noop`` sink so the full
physical plan runs (scan -> shuffle -> agg) without driver-side collect
overhead distorting the numbers. A warmup query amortizes JVM/codegen
startup out of the per-query timings.

Breadth timings (every non-headline registered query, one pass each)
go to stderr and ``BENCH_BREADTH.json``.

    python bench.py                  # headline + breadth
    python bench.py --headline-only  # headline only

The repo's benchmark (seeded inputs, oracle-checked outputs, per-layer
split) is ``python3 perfbench/run.py``; this script is the quick
per-query timing over a shared scale-factor directory.
"""

from __future__ import annotations

import json
import re
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from mapreducegcp_spark.registry import all_queries
from mapreducegcp_spark.session import get_spark, sf_dir_from_env

# One representative per operator family (SURVEY.md §2 / §7 phases).
HEADLINE = [
    "wordcount",            # reference parity: scan->explode->agg
    "inverted_index",       # reference parity: (word, doc) matrix
    "agg_pricing_summary",  # TPC-H Q1-style wide aggregation
    "join_nation_revenue",  # multi-way broadcast + shuffle join
    "window_topn_per_customer",  # window rank + filter
    "top_k_orders",         # global top-k
    "dedup_exact",          # hash-based exact dedup
    "dedup_minhash_lsh",    # MinHash+LSH near-dup self-join
    "similarity_topk_bruteforce",  # cosine top-k over embeddings
    "similarity_ann_ivf",   # IVF ANN recall gate (train + probe + exact)
    "text_quality_scores",  # text-analysis pipeline pass
    "tfidf_top_terms",      # tf-idf scoring + per-doc top-k
    "subquery_scalar_correlated",  # decorrelated scalar subquery
    "tpch_q10_returned_items",     # multi-join + agg + top-k
    "asof_join_last_click",        # single-shuffle temporal as-of join
    "sessionize_events",           # gap sessionization (one exchange)
    "pipeline_corpus_clean",       # fused filter->dedup->rollup pipeline
    "stream_tumbling_counts",      # streaming windowed rollup (replay)
]


def _sf_of(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else -1.0


def _run(fn, spark, sf_dir) -> float:
    t0 = time.perf_counter()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _calibrate() -> float:
    """Fixed-work machine-load probe: sha256 over 256 MiB of constant
    bytes, single-threaded, zero I/O — the same work every run on every
    box. Timed before the headliners and again after the breadth sweep
    and written into BOTH artifacts as ``calibration_sec``: an idle
    32-core box reads a stable ~0.2-0.4s; a loaded box (concurrent
    pytest, a second Spark session) inflates it roughly with the load,
    making a slow capture machine-adjudicable from the artifact alone
    instead of by round-over-round inference."""
    import hashlib

    buf = b"\x5a" * (1 << 20)
    t0 = time.perf_counter()
    h = hashlib.sha256()
    for _ in range(256):
        h.update(buf)
    assert h.digest()  # keep the loop un-elidable
    return round(time.perf_counter() - t0, 3)


def _calibrate_mt(n_threads: int = 8) -> float:
    """Multi-core companion to _calibrate: the same sha256 work run on
    ``n_threads`` concurrently (hashlib releases the GIL on large
    buffers, so the threads really run in parallel). The single-thread
    probe misses contention on OTHER cores — a box running a second
    32-way Spark job leaves one spare core for the probe but starves
    the 32-thread query stages; this one inflates whenever total CPU
    is oversubscribed. Idle 32-core box: ~= the single-thread number
    (all 8 threads get their own core)."""
    import hashlib
    import threading

    buf = b"\x5a" * (1 << 20)

    def work():
        h = hashlib.sha256()
        for _ in range(256):
            h.update(buf)
        assert h.digest()

    threads = [threading.Thread(target=work) for _ in range(n_threads)]
    t0 = time.perf_counter()
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return round(time.perf_counter() - t0, 3)


def _cpu_snap() -> list[int] | None:
    """Aggregate jiffy counters from /proc/stat (user nice system idle
    iowait irq softirq steal ...). Diffed across the whole bench run
    they answer the question the fixed-work probes can't: was the
    INTERVAL itself disturbed — hypervisor steal (a noisy cloud
    neighbor), iowait (a contended disk) — versus the probes' clean
    before/after moments. A 14s and a 17s capture of identical code on
    this VM differed exactly this way (probes idle-flat both times)."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return None


def _cpu_profile(a: list[int] | None, b: list[int] | None) -> dict | None:
    if not a or not b:
        return None
    d = [y - x for x, y in zip(a, b)]
    tot = sum(d) or 1
    names = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")
    return {n: round(v / tot * 100, 1) for n, v in zip(names, d)}


def main() -> None:
    headline_only = "--headline-only" in sys.argv
    unknown = [a for a in sys.argv[1:] if a.startswith("--") and a != "--headline-only"]
    if unknown:
        print(f"bench: unknown flags {unknown}", file=sys.stderr)
        sys.exit(2)

    sf_dir = sf_dir_from_env()
    spark = get_spark("mapreducegcp-bench")
    catalog = all_queries()

    # Warmup: run the cheapest query once to pay JVM + codegen startup.
    catalog["wordcount"].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

    # Headliners get best-of-2: the first run can pay lazy codegen/
    # broadcast warmup that belongs to the JVM, not the plan — min is
    # the stable engine-side number (run-to-run noise at sf0.1 measured
    # up to 6x on short queries with a single pass). `value` sums ONLY
    # these 18.
    cal_before = _calibrate()
    cal_mt_before = _calibrate_mt()
    cpu0 = _cpu_snap()
    timings: dict[str, float] = {}
    runs: dict[str, list[float]] = {}
    for name in HEADLINE:
        if name not in catalog:  # a renamed headliner must not abort the whole bench
            print(f"bench: headline query {name!r} not registered", file=sys.stderr)
            continue
        runs[name] = [round(_run(catalog[name].fn, spark, sf_dir), 3) for _ in range(2)]
        timings[name] = min(runs[name])

    # Breadth: every other registered query, one pass each, so a
    # regression in a non-headline operator is visible.
    if not headline_only:
        breadth: dict[str, float] = {}
        reruns: dict[str, list[float]] = {}
        for name in sorted(catalog):
            if name in timings:
                continue
            try:
                sec = round(_run(catalog[name].fn, spark, sf_dir), 3)
                # Suspect-rerun: a single breadth pass late in a
                # 260-query session picks up JVM/GC noise that a
                # standalone run doesn't (round-6: text_ngram_novelty
                # read 5.0 s in two bench passes but 1.3 s standalone).
                # Queries over the threshold get ONE re-run and the
                # min, with both passes recorded — the headline's
                # interference-proofing, bounded to the slow tail.
                if sec > 2.5:
                    again = round(_run(catalog[name].fn, spark, sf_dir), 3)
                    reruns[name] = [sec, again]
                    sec = min(sec, again)
            except Exception as e:  # noqa: BLE001 — a broken query must not hide the rest
                sec = -1.0
                print(f"bench error {name}: {e}", file=sys.stderr)
            breadth[name] = sec
        breadth_doc = {
            "metric": "breadth_sec",
            "queries": breadth,
            "reruns": reruns,
            "calibration_sec": [cal_before, _calibrate()],
            "calibration_mt_sec": [cal_mt_before, _calibrate_mt()],
            "cpu_profile": _cpu_profile(cpu0, _cpu_snap()),
            "sf": _sf_of(sf_dir),
        }
        print(json.dumps(breadth_doc), file=sys.stderr)
        try:
            Path(__file__).resolve().parent.joinpath("BENCH_BREADTH.json").write_text(
                json.dumps(breadth_doc, indent=1) + "\n"
            )
        except OSError as e:
            print(f"bench: could not write BENCH_BREADTH.json: {e}", file=sys.stderr)

    doc = {
        "metric": "headline_total_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        # both raw passes per headliner: the headline `value` sums the
        # mins, but the spread is what distinguishes external-load
        # interference (pass A >> pass B) from a real plan regression
        # (both passes slow)
        "runs": runs,
        # fixed-work load probe before the headliners and at print
        # time: a loaded box inflates these, making the capture
        # self-adjudicating (see _calibrate)
        "calibration_sec": [cal_before, _calibrate()],
        "calibration_mt_sec": [cal_mt_before, _calibrate_mt()],
        # whole-interval CPU accounting: steal/iowait expose
        # disturbances the before/after probes cannot
        "cpu_profile": _cpu_profile(cpu0, _cpu_snap()),
        "sf": _sf_of(sf_dir),
    }
    print(json.dumps(doc))


if __name__ == "__main__":
    main()
