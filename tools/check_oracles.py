#!/usr/bin/env python
"""The strict oracle gate: every query's values against its DuckDB twin.

Runs every registered query on Spark and its oracle on DuckDB over the
same parquet tables, then compares row count, sorted column names, and
the exact multiset of values (columns sorted by name, rows sorted).
The compare is type-strict, and floats must match bit-for-bit, which
the engine guarantees by decimal-exact aggregation and ordered
folds (see mapreducegcp_spark.functions.vectors).

Usage:
    python tools/check_oracles.py [--sf-dir /root/testdata/sf0.01] [names...]
"""

from __future__ import annotations

import argparse
import datetime
import decimal
import math
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import duckdb
import numpy as np
import pandas as pd

from mapreducegcp_spark.profile import codegen
from mapreducegcp_spark.registry import all_queries
from mapreducegcp_spark.session import get_spark
from mapreducegcp_spark.sources.catalog import TABLES


def _norm_val(v):
    if v is None:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, np.integer):
        return int(v)
    if isinstance(v, np.floating):
        f = float(v)
        return None if math.isnan(f) else f
    if isinstance(v, np.bool_):
        return bool(v)
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime().replace(tzinfo=None)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None)
    if isinstance(v, np.ndarray):
        return tuple(_norm_val(x) for x in v.tolist())
    if isinstance(v, (list, tuple)):
        return tuple(_norm_val(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm_val(x)) for k, x in v.items()))
    return v


def normalize(df: pd.DataFrame) -> tuple[list[str], list[tuple]]:
    cols = sorted(df.columns)
    df = df[cols]
    rows = [tuple(_norm_val(v) for v in t) for t in df.itertuples(index=False, name=None)]
    rows.sort(key=repr)
    return cols, rows


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per catalog table over
    ``sf_dir``. Its memory limit is half of physical memory, so an
    oracle too large for the box raises a DuckDB error instead of
    getting the process (or the Spark JVM beside it) killed."""
    con = duckdb.connect()
    half = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2
    con.execute(f"SET memory_limit='{half >> 20}MiB'")
    for t in TABLES:
        # a table may be a single parquet FILE (the sf fixtures) or a
        # DIRECTORY of part files (tools/blowup_probe.py output) —
        # DuckDB needs an explicit glob for the directory layout
        p = Path(sf_dir) / f"{t}.parquet"
        src = f"{p}/*.parquet" if p.is_dir() else str(p)
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{src}'")
    return con


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*", help="query names to check (default: all)")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--verbose", action="store_true")
    ap.add_argument(
        "--exclude",
        action="append",
        default=[],
        metavar="NAME",
        help="query name to skip (repeatable) — blowup_probe --verify "
        "checks its quadratic-oracle register on a stratum instead",
    )
    args = ap.parse_args()

    qs = all_queries()
    names = args.names or sorted(qs)
    unknown = [n for n in names if n not in qs] + [n for n in args.exclude if n not in qs]
    if unknown:
        sys.exit(f"check_oracles: unknown query name(s) {unknown}")
    names = [n for n in names if n not in set(args.exclude)]
    # The compare intentionally materializes FULL query results on the
    # driver (exact multiset check) — lift the collect guard that a
    # production driver would keep: at the 100x corpus, row-level
    # queries legitimately return >1 GiB of rows.
    spark = get_spark(
        "check-oracles", extra_conf={"spark.driver.maxResultSize": "0"}
    )

    con = duck_con(args.sf_dir)

    n_pass = n_fail = n_skip = 0
    compiled_before, _ = codegen(spark)
    t_sweep = time.time()
    for name in names:
        rq = qs[name]
        t0 = time.time()
        try:
            sdf = rq.fn(spark, args.sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        if rq.oracle is None:
            print(f"SKIP {name}: rows-only ({len(sdf)} rows, {time.time()-t0:.1f}s)")
            n_skip += 1
            continue
        try:
            ddf = con.execute(rq.oracle).fetchdf()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            n_fail += 1
            continue

        scols, srows = normalize(sdf)
        dcols, drows = normalize(ddf)
        ok = True
        if scols != dcols:
            print(f"FAIL {name}: schema spark={scols} duckdb={dcols}")
            ok = False
        elif len(srows) != len(drows):
            print(f"FAIL {name}: rowcount spark={len(srows)} duckdb={len(drows)}")
            ok = False
        elif list(map(repr, srows)) != list(map(repr, drows)):
            # repr-compare: type-strict (int64 52561 != float64 52561.0),
            # matching the worst-case strictness of the driver's value-hash
            diffs = [(a, b) for a, b in zip(srows, drows) if repr(a) != repr(b)]
            print(f"FAIL {name}: {len(diffs)} differing rows; first: {diffs[0]}")
            ok = False
        if ok:
            print(f"PASS {name} ({len(srows)} rows, {time.time()-t0:.1f}s)")
            n_pass += 1
        else:
            n_fail += 1
            if args.verbose:
                print("  spark head:", srows[:3])
                print("  duck  head:", drows[:3])

    compiled = codegen(spark)[0] - compiled_before
    print(f"\n{n_pass} pass, {n_fail} fail, {n_skip} rows-only, "
          f"{time.time() - t_sweep:.1f}s summed over the queries, "
          f"{compiled} classes compiled")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
