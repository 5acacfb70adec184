#!/usr/bin/env python
"""One-command driver-contract verification from a FRESH process.

The runtime surface is the driver contract: a fresh Python process
imports ``__spark_entry__`` and calls ``entry(spark)``, ``queries()``,
``oracle_sql()``. `tools/check_oracles.py` runs the same strict compare
but with cwd=repo — which hides a real class of bug: anything
cloudpickled to Python workers BY REFERENCE (module-level DataSource
classes, UDF helpers) imports fine in-repo but fails from outside the
checkout (a round-3 bug was caught exactly this way). This tool
re-execs itself with cwd=/tmp so every run exercises the import path a
real consumer would use, then:

1. entry smoke: > 0 rows, stable schema;
2. contract: set(queries()) == set(oracle_sql());
3. strict compare (check_oracles.normalize, then the same repr
   compare check_oracles makes) for the first ``--front`` catalog queries
   (registration order) plus any names passed on the command line;
4. edge probes: nonexistent sf_dir raises cleanly, empty literal
   corpus yields empty wordcount, unknown table -> KeyError, and the
   strict sample left the session's confs and temp views as they were
   (the fork rule, mapreducegcp_spark/session.py).

    python tools/verify_contract.py                 # front-12 + probes
    python tools/verify_contract.py --front 20
    python tools/verify_contract.py name1 name2 ... # specific queries
    python tools/verify_contract.py --sf-dir /root/testdata/sf0.01
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*", help="extra queries to strict-compare")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--front", type=int, default=12,
                    help="how many leading catalog queries to compare")
    ap.add_argument("--_inner", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args()

    if not args._inner:
        # re-exec from /tmp: the whole point is a fresh process whose
        # cwd is NOT the checkout
        cmd = [sys.executable, str(Path(__file__).resolve()), "--_inner",
               "--sf-dir", args.sf_dir, "--front", str(args.front), *args.names]
        return subprocess.run(cmd, cwd="/tmp").returncode

    sys.path.insert(0, str(REPO))
    sys.path.insert(0, str(REPO / "tools"))
    import __spark_entry__ as e
    from check_oracles import normalize
    from pyspark.sql import SparkSession

    from mapreducegcp_spark.operators.wordcount import word_count
    from mapreducegcp_spark.sources.catalog import TABLES, docs_from_string, load_table

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    report: dict = {"cwd": os.getcwd(), "sf_dir": args.sf_dir}

    rows = e.entry(spark).collect()
    report["entry_rows"] = len(rows)
    assert rows, "entry smoke: 0 rows"

    qs, oracles = e.queries(), e.oracle_sql()
    report["queries"] = len(qs)
    assert set(qs) == set(oracles), "queries()/oracle_sql() key mismatch"

    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        p = Path(args.sf_dir) / f"{t}.parquet"
        src = f"{p}/*.parquet" if p.is_dir() else str(p)
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")

    def session_state() -> tuple:
        views = sorted(t.name for t in spark.catalog.listTables() if t.isTemporary)
        return spark.conf.getAll, views

    state_before = session_state()
    sample = list(dict.fromkeys(list(qs)[: args.front] + args.names))
    fails: list[str] = []
    for name in sample:
        t0 = time.time()
        sdf = qs[name](spark, args.sf_dir).toPandas()
        ddf = con.execute(oracles[name]).fetchdf()
        scols, srows = normalize(sdf)
        dcols, drows = normalize(ddf)
        ok = scols == dcols and list(map(repr, srows)) == list(map(repr, drows))
        print(("PASS" if ok else "FAIL"),
              f"{name} ({len(sdf)} rows, {time.time() - t0:.1f}s)", flush=True)
        if not ok:
            fails.append(name)
    report["strict"] = {"pass": len(sample) - len(fails), "fail": fails}

    # edge probes
    probes = {}
    (conf0, views0), (conf1, views1) = state_before, session_state()
    changed = sorted(k for k in conf0.keys() | conf1.keys() if conf0.get(k) != conf1.get(k))
    views = sorted(set(views0) ^ set(views1))
    probes["session_unchanged"] = (
        "unchanged" if not changed and not views
        else f"confs {changed}, views {views} (bad)"
    )
    try:
        qs["wordcount"](spark, "/nonexistent_sf_dir").collect()
        probes["missing_sf_dir"] = "NO RAISE (bad)"
    except Exception as ex:  # noqa: BLE001 — any clean raise is the pass
        probes["missing_sf_dir"] = type(ex).__name__
    n = word_count(docs_from_string(spark, "")).count()
    probes["empty_literal_docs"] = n if n == 0 else f"{n} wordcount rows (bad)"
    try:
        load_table(spark, args.sf_dir, "nope")
        probes["unknown_table"] = "NO RAISE (bad)"
    except KeyError:
        probes["unknown_table"] = "KeyError"
    report["edge_probes"] = probes

    ok = not fails and "bad" not in str(probes)
    report["ok"] = ok
    print(json.dumps(report))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
