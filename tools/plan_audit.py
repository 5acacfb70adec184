#!/usr/bin/env python
"""Physical-plan audit for the bench headline queries.

Prints a markdown table: exchanges, broadcast vs sort-merge joins,
whether filters reached the parquet scan (PushedFilters), and the
widest ReadSchema as a fraction of the table's columns — the four
things to check before believing a plan scales. Paste into SCALE.md.

    python tools/plan_audit.py [--sf-dir /root/testdata/sf0.1]
"""

from __future__ import annotations

import argparse
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bench import HEADLINE
from mapreducegcp_spark.registry import all_queries
from mapreducegcp_spark.session import get_spark


def audit(name: str, fn, spark, sf_dir: str) -> dict:
    df = fn(spark, sf_dir)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = df._jdf.queryExecution().explainString(mode)
    pushed = [p for p in re.findall(r"PushedFilters: \[([^\]]*)\]", plan) if p.strip()]
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    widths = [len(s.split(",")) if s.strip() else 0 for s in schemas]
    return {
        "exchanges": plan.count("Exchange"),
        "bhj": plan.count("BroadcastHashJoin"),
        "smj": plan.count("SortMergeJoin"),
        "codegen": plan.count("WholeStageCodegen"),
        "pushed": len(pushed),
        "scan_cols": max(widths) if widths else 0,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    args = ap.parse_args()
    spark = get_spark("plan-audit", cpus=8, shuffle_partitions=8)
    qs = all_queries()
    print("| query | exchanges | broadcast joins | sort-merge joins | pushed-filter scans | widest scan (cols) |")
    print("|---|---|---|---|---|---|")
    for name in HEADLINE:
        rq = qs.get(name)
        if rq is None:
            continue
        try:
            a = audit(name, rq.fn, spark, args.sf_dir)
        except Exception as ex:  # streaming queries have no batch plan
            print(f"| `{name}` | (not statically plannable: {type(ex).__name__}) | | | | |")
            continue
        print(
            f"| `{name}` | {a['exchanges']} | {a['bhj']} | {a['smj']} "
            f"| {a['pushed']} | {a['scan_cols']} |"
        )


if __name__ == "__main__":
    main()
