"""The benchmark's workloads: what each runs, on which input, and what
a correct output is.

Both workloads are one closed-loop client (a single driver thread that
waits for each call before the next) against Spark ``local[4]``.

- ``catalog``: the 18 headline queries of the engine's catalog, each
  as registered (builder ``fn(spark, sf_dir)``, then ``toPandas()``),
  over a seeded corpus of all ten catalog tables at scale 0.01
  (60k ``lineitem`` rows). Expected outputs come from each query's
  DuckDB oracle over the same files.
- ``mapred-text``: the ``run_mapred`` facade (``init_cluster`` ->
  ``run_mapred`` x 3 apps -> ``destroy_cluster``) over a seeded
  directory of Zipf-distributed text, one document per file. The apps
  are ``WordCount``, ``InvertedIndex`` and a user-Python word count
  added through ``register_application``. Expected outputs are
  computed in plain Python from the generated text.
"""

from __future__ import annotations

import json
import pickle
import sys
from collections import Counter
from dataclasses import dataclass
from pathlib import Path

# Frozen here so that edits to bench.py's HEADLINE cannot change the
# workload.
CATALOG_QUERIES = (
    "wordcount", "inverted_index", "agg_pricing_summary", "join_nation_revenue",
    "window_topn_per_customer", "top_k_orders", "dedup_exact", "dedup_minhash_lsh",
    "similarity_topk_bruteforce", "similarity_ann_ivf", "text_quality_scores",
    "tfidf_top_terms", "subquery_scalar_correlated", "tpch_q10_returned_items",
    "asof_join_last_click", "sessionize_events", "pipeline_corpus_clean",
    "stream_tumbling_counts",
)
MAPRED_APPS = ("WordCount", "InvertedIndex", "PyWordCount")

# Driver heap cap for every benchmark process (the engine's
# SPARK_GRAFT_DRIVER_MEM; its default of 16g exceeds a 16 GB host's
# free memory). The heap grows on demand below the cap, so heap growth
# shows in peak_rss_mb. With an 8g cap the catalog JVM's peak RSS over
# five seeds ranged 2.4-3.3 GB; with 2g it ranged 1.57-1.77 GB over
# ten, below the cap.
DRIVER_MEM = "2g"
# Fixed young generation. With G1 sizing it, mapred-text's JVM peak
# RSS over five seeds ranged 1.44-1.78 GB, unrelated to its old-gen
# peak; fixed, it ranged 1.45-1.56 GB over ten and follows the old
# generation (data the driver keeps alive).
YOUNG_GEN = "768m"
CPUS = 4


def spark_conf() -> dict[str, str]:
    """Session settings the benchmark adds to the engine's own."""
    import tempfile

    return {"spark.driver.extraJavaOptions": (
        f"-Xmn{YOUNG_GEN} -Djava.io.tmpdir={tempfile.gettempdir()}"
    )}


@dataclass(frozen=True)
class Sizes:
    catalog_sf: float
    text_files: int
    text_words_per_file: int
    text_vocab: int = 10_000
    # English word frequencies follow Zipf's law with an exponent near
    # 1 (Zipf 1949; Piantadosi, Psychon. Bull. Rev. 21(5), 2014)
    text_zipf: float = 1.0


FULL = Sizes(catalog_sf=0.01, text_files=128, text_words_per_file=16)
SELFCHECK = Sizes(catalog_sf=0.001, text_files=16, text_words_per_file=100)


def repo_root() -> Path:
    return Path(__file__).resolve().parent.parent


def normalize_fn():
    """The oracle gate's own result normalizer (tools/check_oracles.py)."""
    sys.path.insert(0, str(repo_root() / "tools"))
    from check_oracles import normalize

    return normalize


def prepare_catalog(dest: Path, seed: int, sf: float) -> Path:
    """Write the seeded tables and their expected query outputs under
    ``dest`` (once per seed); return the expected-output file."""
    expected = dest / "expected.pkl"
    if expected.exists():
        return expected
    import duckdb
    from corpus import TABLES, write_tables

    rows = write_tables(dest, seed, sf)
    if rows["lineitem"] != int(6_000_000 * sf):
        raise RuntimeError(f"corpus at {dest} has {rows['lineitem']} lineitem rows")
    sys.path.insert(0, str(repo_root()))
    from mapreducegcp_spark.registry import all_queries

    qs = all_queries()
    normalize = normalize_fn()
    con = duckdb.connect()
    con.execute("SET threads=4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{dest / t}.parquet'")
    out = {}
    for name in CATALOG_QUERIES:
        cols, vals = normalize(con.execute(qs[name].oracle).fetchdf())
        out[name] = (cols, [repr(v) for v in vals])
    con.close()
    tmp = expected.with_suffix(".tmp")
    tmp.write_bytes(pickle.dumps(out))
    tmp.rename(expected)
    return expected


def prepare_text(dest: Path, seed: int, sizes: Sizes) -> Path:
    """Write the seeded text corpus into ``dest/docs`` and the three
    apps' expected merged outputs; return the expected-output file."""
    expected = dest / "expected.json"
    if expected.exists():
        return expected
    from corpus import write_text

    docs = write_text(dest / "docs", seed, sizes.text_files, sizes.text_words_per_file,
                      sizes.text_vocab, sizes.text_zipf)
    counts: Counter = Counter()
    index: dict[str, dict[str, int]] = {}
    for fname, text in docs.items():
        per_doc = Counter(text.split())
        counts.update(per_doc)
        for w, n in per_doc.items():
            index.setdefault(w, {})[fname] = n
    want = {"WordCount": counts, "InvertedIndex": index, "PyWordCount": counts}
    tmp = expected.with_suffix(".tmp")
    tmp.write_text(json.dumps(want, sort_keys=True))
    tmp.rename(expected)
    return expected


def mapred_output_ok(app: str, out: str, want: dict) -> bool:
    """Compare one ``run_mapred`` return value with the expected merged
    JSON. File keys are compared by base name: the engine reports each
    document as a ``file:`` URI."""
    got = json.loads(out)
    if app == "InvertedIndex":
        got = {w: {f.rsplit("/", 1)[-1]: n for f, n in per.items()} for w, per in got.items()}
    return got == want[app]


def user_app():
    """PyWordCount's (mapper, reducer). Defined in local scope so that
    cloudpickle ships them by value: executors cannot import this
    module."""

    def mapper(text, filename):
        return [(w, 1) for w in text.split()]

    def reducer(key, values):
        return sum(values)

    return mapper, reducer
