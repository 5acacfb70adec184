#!/usr/bin/env python
"""The bench headline under ``local-cluster`` — serialized shuffle,
real executor JVMs.

Every committed BENCH artifact runs ``local[32]``: one JVM, shuffle
reads served from the in-process block manager, zero serialization of
shuffle blocks across process boundaries. A real cluster pays netty
transfer + kryo/unsafe row serialization on every exchange. This tool
re-times the 18 headline queries (same ``bench._run`` convention:
min-of-2 warm, noop sink) on
``local-cluster[4,8,3072]`` — 4 separate executor JVMs x 8 cores, the
same 32 total cores as the committed numbers — so the artifact pair
isolates exactly one variable: the shuffle/serialization boundary.

Output: one JSON line (stdout) in the bench schema plus a
``master`` field, and BENCH_LOCALCLUSTER.json beside the script's
repo root for SCALE.md's delta table.

    python tools/bench_localcluster.py [SF_DIR]
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

MASTER = "local-cluster[4,8,3072]"


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    from pyspark.sql import SparkSession

    # get_spark()'s conf set, minus master: the engine's correctness
    # confs (UTC session TZ, arrow, parquet timestamp handling) must
    # match the committed bench exactly or the comparison measures
    # config drift, not the shuffle boundary.
    spark = (
        SparkSession.builder.master(MASTER)
        .appName("bench-local-cluster")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.executorEnv.PYTHONPATH", str(REPO))
        .getOrCreate()
    )

    from bench import HEADLINE, _calibrate, _calibrate_mt, _run, _sf_of
    from mapreducegcp_spark.registry import all_queries

    catalog = all_queries()
    cal0, cal_mt0 = _calibrate(), _calibrate_mt()

    _run(catalog["wordcount"].fn, spark, sf_dir)  # warm executors + scans
    runs: dict[str, list[float]] = {}
    for name in HEADLINE:
        runs[name] = [round(_run(catalog[name].fn, spark, sf_dir), 3) for _ in range(2)]
        print(f"{name}: {min(runs[name]):.3f}s {runs[name]}", file=sys.stderr, flush=True)

    best = {k: min(v) for k, v in runs.items()}
    out = {
        "metric": "headline_total_sec",
        "value": round(sum(best.values()), 3),
        "unit": "sec",
        "master": MASTER,
        "queries": best,
        "runs": runs,
        "calibration_sec": [cal0, _calibrate()],
        "calibration_mt_sec": [cal_mt0, _calibrate_mt()],
        "sf": _sf_of(sf_dir),
    }
    (REPO / "BENCH_LOCALCLUSTER.json").write_text(json.dumps(out) + "\n")
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
