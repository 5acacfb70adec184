"""Seeded input corpora for the benchmark.

Two generators, both pure functions of (seed, size):

- ``write_tables`` writes the engine's ten catalog tables (a TPC-H-like
  star schema plus ``events``, ``documents`` and ``embeddings``) as
  parquet, one file per table, with the column names, types and value
  ranges the catalog's queries read.  Row counts follow the scale
  factor ``sf`` the way the engine's fixtures do (``lineitem`` is
  6M x sf rows).
- ``write_text`` writes a directory of plain-text documents, one
  document per file, whose words follow a Zipf law over a fixed
  vocabulary — the input of the ``run_mapred`` facade.

The same seed always yields byte-identical files.
"""

from __future__ import annotations

import json
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_DOC_WORDS = (
    "a the data spark table column row key value join group agg sort hash "
    "merge filter scan query stream window batch vector line part order "
    "customer big small fast slow"
).split()
_PART_ADJ = ("large", "small", "hot", "cold", "red", "blue", "old", "new")
_PART_NOUN = ("ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo")
_DAY_US = 86_400 * 1_000_000


def _day_us(iso: str) -> int:
    return int(np.datetime64(iso, "us").astype(np.int64))


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype("datetime64[us]"), pa.timestamp("us"))


def _ts_ns(values_us: np.ndarray) -> pa.Array:
    """Nanosecond timestamps, as the engine's ``events`` fixture stores
    them (Spark reads them through ``nanosAsLong``)."""
    return pa.array((values_us * 1000).astype("datetime64[ns]"), pa.timestamp("ns"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _write(out: Path, name: str, cols: dict[str, pa.Array | np.ndarray | list]) -> int:
    table = pa.table({k: v if isinstance(v, pa.Array) else pa.array(v) for k, v in cols.items()})
    pq.write_table(table, out / f"{name}.parquet", compression="snappy")
    return table.num_rows


def write_tables(out: Path, seed: int, sf: float) -> dict[str, int]:
    """Write all catalog tables for scale factor ``sf`` into ``out``;
    return their row counts."""
    out.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(10, int(15_000 * sf))
    n_docs, n_vecs = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    rows = {}

    rows["region"] = _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    rows["nation"] = _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    rows["customer"] = _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)],
    })
    rows["supplier"] = _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = np.array([f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    pk = np.arange(n_part, dtype=np.int64)
    rows["part"] = _write(out, "part", {
        "p_partkey": pk,
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": types[rng.integers(0, len(types), n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    })
    d0, d1 = _day_us("1995-01-01"), _day_us("2001-08-01")
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    rows["orders"] = _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(d0 + rng.integers(0, (d1 - d0) // _DAY_US + 1, n_ord) * _DAY_US),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)],
    })
    s0, s1 = _day_us("1995-01-02"), _day_us("2001-11-04")
    rows["lineitem"] = _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(s0 + rng.integers(0, (s1 - s0) // _DAY_US + 1, n_line) * _DAY_US),
    })
    e0 = _day_us("2024-01-01")
    rows["events"] = _write(out, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts_ns(np.sort(e0 + rng.integers(0, 30 * _DAY_US, n_ev))),
        "user_id": rng.integers(0, n_users, n_ev, dtype=np.int64),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, n_ev)
        ],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    })
    rows["documents"] = _write(out, "documents", _documents(rng, n_docs))
    vecs = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    rows["embeddings"] = _write(out, "embeddings", {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vecs).astype(np.int32),
    })
    return rows


def _documents(rng: np.random.Generator, n: int) -> dict[str, list]:
    """Bag-of-words documents; one in twenty is a near-duplicate of an
    earlier document (its text plus a trailing ``dup`` token), so the
    dedup queries have pairs to find."""
    vocab = np.array(_DOC_WORDS)
    dups = set(rng.choice(np.arange(1, n), n // 20, replace=False).tolist())
    texts: list[str] = []
    for i in range(n):
        if i in dups:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))]))
    langs = np.array(["en", "de", "es", "fr", "zh"])
    lang_p = np.array([0.41, 0.14, 0.15, 0.15, 0.15])
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": langs[rng.choice(5, n, p=lang_p / lang_p.sum())],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def text_vocabulary(size: int) -> list[str]:
    """``size`` distinct lowercase ASCII words, shortest first."""
    letters = "abcdefghijklmnopqrstuvwxyz"
    words, n = [], 0
    while len(words) < size:
        n += 1
        w, k = "", n
        while k:
            k, r = divmod(k - 1, 26)
            w = letters[r] + w
        words.append(w)
    return words


def zipf_counts(total: int, vocab_size: int, s: float) -> np.ndarray:
    """Occurrences of each frequency rank among ``total`` words drawn
    from a Zipf law with exponent ``s``: the expected counts, rounded so
    that they sum to ``total`` (largest remainders round up)."""
    p = np.arange(1, vocab_size + 1, dtype=np.float64) ** -s
    exact = total * p / p.sum()
    counts = np.floor(exact).astype(np.int64)
    short = total - int(counts.sum())
    counts[np.argsort(counts - exact, kind="stable")[:short]] += 1
    return counts


def write_text(out: Path, seed: int, n_files: int, words_per_file: int,
               vocab_size: int, zipf_s: float) -> dict[str, str]:
    """Write ``n_files`` documents of ``words_per_file`` words each into
    ``out``; return {file name: text}.

    Word frequencies follow ``zipf_counts`` exactly, so every seed has
    the same number of distinct words and the same frequency profile;
    the seed decides which word holds which rank and where each
    occurrence falls."""
    out.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    vocab = np.array(text_vocabulary(vocab_size))[rng.permutation(vocab_size)]
    counts = zipf_counts(n_files * words_per_file, vocab_size, zipf_s)
    words = rng.permutation(np.repeat(vocab, counts))
    docs = {}
    for i in range(n_files):
        mine = words[i * words_per_file:(i + 1) * words_per_file]
        lines = [" ".join(mine[j:j + 12]) for j in range(0, words_per_file, 12)]
        text = "\n".join(lines) + "\n"
        name = f"doc{i:04d}.txt"
        (out / name).write_text(text)
        docs[name] = text
    return docs

