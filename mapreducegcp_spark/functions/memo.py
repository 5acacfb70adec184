"""One session-scoped memo for values derived from a corpus on disk.

Builders reuse what an earlier query already derived from the same
corpus: the shared near-dup pair graph, BPE merge tables, row counts,
parquet schemas, trained ANN quantizers. Every such value goes through
this module, under one freshness rule:

- ``stamp(path, tables)`` records, per table, its payload bytes
  (summed over the part files when the table is a directory — a
  directory's own ``st_size`` is the same 4096 for every directory)
  and its ``mtime_ns``. A regenerated corpus at the same path, even one
  of the same size, gets a new stamp. When any file cannot be statted
  (tests that monkeypatch ``load_table`` pass placeholder paths) the
  stamp is ``None``: the data comes from somewhere the stamp cannot
  see, so the value is built every time and cached nowhere.
- ``memo`` keeps at most one entry per (kind, path) for the current
  Spark application. A changed stamp replaces the entry; a new
  ``applicationId`` drops every entry, because cached DataFrames
  (checkpointed blocks) are only valid in the application that built
  them.
- ``artifact`` layers a JSON file under ``ARTIFACT_DIR`` on top of
  ``memo`` for values that are worth keeping across processes (trained
  quantizers, calibration samples): it reads the file when present,
  else builds and writes it. The file name carries the corpus
  directory's basename and the table's payload bytes, so it survives
  a moved checkout but not a regenerated corpus of a different size.
  A failed write only logs a warning; the value is still returned and
  memoized for this process.
"""

from __future__ import annotations

import json
import logging
import os
from collections.abc import Callable, Sequence
from pathlib import Path
from typing import Any, TypeVar

from pyspark.sql import SparkSession

T = TypeVar("T")

ARTIFACT_DIR = Path(__file__).resolve().parent.parent / "artifacts"

_app_id: str | None = None
_ENTRIES: dict[tuple[str, str], tuple[tuple, Any]] = {}


def _table_stamp(p: str) -> tuple[int, int]:
    if not os.path.isdir(p):
        st = os.stat(p)
        return st.st_size, st.st_mtime_ns
    files = [os.path.join(p, f) for f in sorted(os.listdir(p))]
    stats = [os.stat(f) for f in files if os.path.isfile(f)]
    mtime = max([os.stat(p).st_mtime_ns] + [s.st_mtime_ns for s in stats])
    return sum(s.st_size for s in stats), mtime


def stamp(path: str, tables: Sequence[str] = ()) -> tuple | None:
    """Freshness stamp of ``<path>/<table>.parquet`` for each table, or
    of ``path`` itself when no tables are named: one
    ``(payload_bytes, mtime_ns)`` pair per table, or ``None`` when any
    of them cannot be statted."""
    paths = [os.path.join(path, f"{t}.parquet") for t in tables] or [path]
    try:
        return tuple(_table_stamp(p) for p in paths)
    except OSError:
        return None


def memo(
    spark: SparkSession, kind: str, path: str, stamp: tuple | None,
    build: Callable[[], T],
) -> T:
    """The value ``build()`` derives from the corpus at ``path``, built
    at most once per (kind, path, stamp) in this Spark application."""
    global _app_id
    if stamp is None:
        return build()
    app = spark.sparkContext.applicationId
    if app != _app_id:
        _ENTRIES.clear()
        _app_id = app
    key = (kind, os.path.normpath(path))
    hit = _ENTRIES.get(key)
    if hit is not None and hit[0] == stamp:
        return hit[1]
    value = build()
    _ENTRIES[key] = (stamp, value)
    return value


def artifact(
    spark: SparkSession, kind: str, sf_dir: str, table: str, params: str,
    build: Callable[[], T], decode: Callable[[Any], T] = lambda doc: doc,
) -> T:
    """Memoized value backed by the JSON file
    ``ARTIFACT_DIR/<kind>_<basename of sf_dir>_b<bytes><params>.json``,
    where ``bytes`` is the payload size of ``table`` under ``sf_dir``.
    The memo entry's kind is ``<kind><params>``. ``decode`` turns the
    parsed JSON back into the value ``build`` returns."""
    st = stamp(sf_dir, (table,))
    if st is None:
        return build()
    name = f"{kind}_{os.path.basename(os.path.normpath(sf_dir))}_b{st[0][0]}{params}"

    def load_or_build() -> T:
        f = ARTIFACT_DIR / f"{name}.json"
        if f.exists():
            return decode(json.loads(f.read_text()))
        value = build()
        try:
            ARTIFACT_DIR.mkdir(parents=True, exist_ok=True)
            f.write_text(json.dumps(value))
        except OSError as e:
            logging.getLogger(__name__).warning(
                "artifact %s not persisted (%s); the next process rebuilds it",
                name, e,
            )
        return value

    return memo(spark, f"{kind}{params}", sf_dir, st, load_or_build)
