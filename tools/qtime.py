#!/usr/bin/env python
"""Time individual registered queries through the noop sink.

Optimization-loop helper: one Spark session, named queries timed
back-to-back (``--n`` passes each, min reported) with the same
methodology as bench.py — warmup query first, noop sink, perf_counter.

    python tools/qtime.py [--n 3] [--sf-dir DIR] name [name...]
"""

from __future__ import annotations

import argparse
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from mapreducegcp_spark.registry import all_queries
from mapreducegcp_spark.session import get_spark, sf_dir_from_env


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=3)
    ap.add_argument("--sf-dir", default=None)
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    sf_dir = args.sf_dir or sf_dir_from_env()
    spark = get_spark("qtime")
    catalog = all_queries()
    # warmup: JVM + codegen startup paid outside the timings
    catalog["wordcount"].fn(spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    for name in args.names:
        fn = catalog[name].fn
        runs = []
        for _ in range(args.n):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            runs.append(round(time.perf_counter() - t0, 3))
        print(f"{name}: min={min(runs)} runs={runs}", flush=True)


if __name__ == "__main__":
    main()
