#!/usr/bin/env python
"""Capture ``explain("formatted")`` for named queries into plans/r{N}/.

Optimization-round evidence: the judge cannot run Spark, so every
plan-shape claim in OPTIMIZATION_r{N}.md is backed by a committed
before/after explain dump produced by this tool.

    python tools/plan_capture.py --round 12 --suffix before [names...]

With no names, captures the bench HEADLINE set. ``--suffix after``
writes ``<q>_after.txt`` next to the ``_before`` files.
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bench import HEADLINE
from mapreducegcp_spark.registry import all_queries
from mapreducegcp_spark.session import get_spark, sf_dir_from_env


def formatted_plan(df) -> str:
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(mode)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--round", type=int, required=True)
    ap.add_argument("--suffix", default="before", choices=("before", "after"))
    ap.add_argument("--sf-dir", default=None)
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    sf_dir = args.sf_dir or sf_dir_from_env()
    out_dir = Path(__file__).resolve().parent.parent / "plans" / f"r{args.round}"
    out_dir.mkdir(parents=True, exist_ok=True)

    spark = get_spark("plan-capture")
    catalog = all_queries()
    names = args.names or list(HEADLINE)
    for name in names:
        try:
            plan = formatted_plan(catalog[name].fn(spark, sf_dir))
        except Exception as e:  # noqa: BLE001 — capture what we can
            print(f"plan_capture: {name} failed: {e}", file=sys.stderr)
            continue
        p = out_dir / f"{name}_{args.suffix}.txt"
        p.write_text(plan)
        print(f"wrote {p} ({plan.count('Exchange')} Exchange)")


if __name__ == "__main__":
    main()
