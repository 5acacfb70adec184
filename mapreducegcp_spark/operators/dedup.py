"""Deduplication operators over the ``documents`` / ``embeddings`` tables.

North-star extension surface (SURVEY.md §7 phase 3) — the reference has
no dedup of any kind; these are the operators a 100 TB training-data
pipeline needs. Five families:

- exact dedup (sha256 hash-groupBy, raw + normalized text)
- n-gram (shingle) Jaccard similarity — exact, via inverted-index join
- MinHash + LSH banding — the at-scale approximation of the former
- SimHash (64-bit) fingerprints + banded near-dup candidates
- embedding cosine near-dup (brute-force; LSH-scaled variant lives in
  operators/similarity.py)

Scale design notes inline per operator; everything is DataFrame-native,
no Python in the row path (xxhash64 / sha2 / higher-order array
functions are all JVM expressions).
"""

from __future__ import annotations

import logging

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mapreducegcp_spark.functions.checkpoint import safe_checkpoint
from mapreducegcp_spark.functions.memo import memo, stamp
from mapreducegcp_spark.functions.text import TOKEN_ORACLE_EXPR, tokens
from mapreducegcp_spark.functions.vectors import blas_pair_candidates, dot, l2_norm, o_cosine
from mapreducegcp_spark.registry import register
from mapreducegcp_spark.sources.catalog import fan_out_scan, load_table

# ------------------------------------------------------------------ exact

_EXACT_ORACLE = """
SELECT sha256(text) AS text_hash,
       COUNT(*) AS n_copies,
       MIN(doc_id) AS keeper_doc_id
FROM documents
GROUP BY sha256(text)
"""


@register("dedup_exact", oracle=_EXACT_ORACLE, tags=("llm-pipeline",))
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on sha256(text), keep lowest doc_id.

    Scale: the shuffle key is the 64-hex digest, uniformly distributed —
    no skew by construction; shuffle volume is one (hash, id) pair per
    document regardless of document size, because the hash is computed
    map-side and the text column is pruned before the exchange.
    Deterministic keeper (MIN(doc_id)) rather than dropDuplicates'
    arbitrary-row semantics, so results are stable across runs/clusters.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.sha2("text", 256).alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(
            F.count("*").alias("n_copies"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
    )


_NORM_EXPR = "regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')"
_EXACT_NORM_ORACLE = f"""
SELECT sha256({_NORM_EXPR}) AS text_hash,
       COUNT(*) AS n_copies,
       MIN(doc_id) AS keeper_doc_id
FROM documents
GROUP BY 1
"""


@register("dedup_exact_normalized", oracle=_EXACT_NORM_ORACLE, tags=("llm-pipeline",))
def q_dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup after whitespace/case normalization — catches
    formatting-variant duplicates that byte-identity misses."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")
    return (
        docs.select(F.sha2(norm, 256).alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(
            F.count("*").alias("n_copies"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
    )


# ------------------------------------------------- shingles (shared helper)

SHINGLE_K = 3


def shingles(toks_col: Column | str, k: int = SHINGLE_K) -> Column:
    """Distinct k-token shingles from a *materialized* token-array column.

    Takes the token array (functions/text.py ``tokens``) as an existing
    column, NOT an inline expression: Catalyst substitutes a lambda's
    argument expression into every element evaluation of a higher-order
    function, so an inlined tokenizer would re-tokenize the document
    once per shingle position (~7x slower, measured at sf0.1). Call
    sites must ``select(tokens("text").alias("toks"))`` first.

    A document shorter than k tokens contributes no shingles.
    """
    toks = F.col(toks_col) if isinstance(toks_col, str) else toks_col
    # Sub-k-token docs must yield an EMPTY array: sequence(1, 0) in
    # Spark is the DESCENDING [1, 0], whose element_at(toks, 0) throws
    # INVALID_INDEX_OF_ZERO — hence the explicit size guard.
    idx = F.when(
        F.size(toks) >= k, F.sequence(F.lit(1), F.size(toks) - (k - 1))
    ).otherwise(F.array().cast("array<int>"))
    return F.array_distinct(
        F.transform(
            idx,
            lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(k)]),
        )
    )


# DuckDB twin of ``shingles`` (kept in lockstep).
_TOKS = f"list_filter({TOKEN_ORACLE_EXPR.format(col='text')}, t -> t <> '')"
_SHINGLES = (
    "list_distinct(list_transform(range(1, greatest(len(toks) - 1, 0) + 1), "
    "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))"
)


def _doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # tokenize+shingle+explode is the dominant map cost of the whole
    # fuzzy-dedup family — fan it out when the scan under-parallelizes
    docs = fan_out_scan(load_table(spark, sf_dir, "documents"), spark)
    return docs.select("doc_id", tokens("text").alias("toks")).select(
        "doc_id", F.explode(shingles("toks")).alias("shingle")
    )


def _doc_shingle_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, 64-bit shingle id) — for count-only shingle joins.

    Joining on xxhash64 ids instead of ~25-byte shingle strings cuts
    the self-join shuffle width ~3x (measured 2.9s -> 2.3s at sf0.1).
    Only valid where shingle IDENTITY feeds counts, never where the
    string value is consumed (MinHash md5 needs the raw string). A
    64-bit collision would miscount one pair; at 2^32 distinct
    shingles the birthday bound is ~2^-1 per *corpus*, at the 27k
    distinct shingles of sf0.1 it is ~2^-35 — and the DuckDB oracle
    (which joins raw strings) would flag any miscount at check scale.
    """
    return _doc_shingles(spark, sf_dir).select(
        "doc_id", F.xxhash64("shingle").alias("shingle")
    )


# ------------------------------------------------- exact n-gram Jaccard

_JACCARD_THRESHOLD = 0.5

_JACCARD_ORACLE = f"""
WITH tk AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
sh AS (
  SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM tk
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT p.doc_a, p.doc_b, p.n_common,
       CAST(p.n_common AS DOUBLE) / (sa.sz + sb.sz - p.n_common) AS jaccard
FROM pairs p
JOIN sizes sa ON p.doc_a = sa.doc_id
JOIN sizes sb ON p.doc_b = sb.doc_id
WHERE CAST(p.n_common AS DOUBLE) / (sa.sz + sb.sz - p.n_common) >= {_JACCARD_THRESHOLD}
"""


@register("dedup_ngram_jaccard", oracle=_JACCARD_ORACLE, tags=("llm-pipeline",))
def q_dedup_ngram_jaccard(
    spark: SparkSession,
    sf_dir: str,
    shingle_rows: DataFrame | None = None,
    df_cap: int | None = None,
) -> DataFrame:
    """EXACT shingle-Jaccard near-dup pairs via inverted-index join.

    Not a cross join: documents are paired only through shared shingles
    (join on the shingle, then count per pair), so cost is
    sum-over-shingles(docs_per_shingle^2) — proportional to actual
    similarity mass, not n^2. This is the exact counterpart that
    validates MinHash below. At 100 TB the hot shingles (stop-word
    n-grams) dominate: mitigations are k>=5 shingles, dropping shingles
    with document-frequency above a cap (they can't create >=tau pairs
    on their own but explode the join), or going straight to MinHash.
    Exact integer intersection/union -> one double division: hash-stable.
    The join key is the 64-bit shingle id (_doc_shingle_ids) — identity
    only, counts unchanged. ``shingle_rows`` lets a caller that also
    needs the string shingles (dedup_lsh_eval) supply ONE shared
    materialized (doc_id, shingle) table instead of re-tokenizing.

    ``df_cap`` is the hot-shingle mitigation made concrete: shingles
    appearing in more than ``df_cap`` documents are dropped from the
    JOIN (never from the per-doc size denominator), so the self-join's
    worst-case fan-out per shingle falls from df^2 to df_cap^2 while
    every surviving pair's Jaccard is computed against the TRUE union
    size. Because dropping a shingle can only shrink n_common, the
    capped estimate is a LOWER bound: output pairs are a SUBSET of the
    exact ones (precision 1.0 by construction; recall is what the cap
    trades — pairs whose overlap clears the threshold only through
    corpus-hot shingles are the ones lost, and those are boilerplate
    n-grams, not document identity). The 10x blowup corpus makes the
    need measurable: its ~30-word vocabulary saturates the trigram
    space, document frequency grows linearly with corpus size, and the
    UNCAPPED join's intermediate explodes quadratically (tens of GB at
    10x sf0.1) — the capped join stays linear. Default None preserves
    exact semantics (the registered/oracle-checked path).
    """
    # Lazy checkpoint: the narrow (doc_id, shingle_id) table feeds BOTH
    # join sides and the size rollup — without it each branch re-runs
    # tokenize+shingle+md5 over the corpus (3 scans). 16 bytes/row, so
    # the materialization is smaller than the shuffle it feeds; lazy so
    # plan CONSTRUCTION stays job-free (eager would fire at build time).
    base = shingle_rows if shingle_rows is not None else _doc_shingles(spark, sf_dir)
    sh = base.select("doc_id", F.xxhash64("shingle").alias("shingle")).localCheckpoint(
        eager=False
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    joinable = sh
    if df_cap is not None:
        # The hot set is tiny by definition (only keys with df >
        # df_cap survive the HAVING), so the anti-join broadcasts:
        # the cap applies map-side, no extra exchange on the
        # position volume.
        hot = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("df"))
            .where(F.col("df") > df_cap)
            .select("shingle")
        )
        joinable = sh.join(F.broadcast(hot), "shingle", "left_anti")
    a = joinable.alias("a")
    b = joinable.alias("b")
    pairs = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("n_common").cast("double") / (
        F.col("sa.sz") + F.col("sb.sz") - F.col("n_common")
    )
    return (
        pairs.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select("doc_a", "doc_b", "n_common", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= _JACCARD_THRESHOLD)
    )


# ----------------------------------------- shared near-dup pair graph


def exact_group_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(rep, member) verbatim-duplicate group map over sha256(text):
    rep = min doc_id of the group, one row per document. The
    exact-collapse pre-pass of dedup_minhash_lsh consumes it; memoized
    per corpus (functions/memo.py), so repeated LSH consumers (bench
    min-of-2, dedup_lsh_eval after dedup_minhash_lsh) pay the
    doc-sized window shuffle once. One exchange total: min(doc_id)
    OVER (PARTITION BY hash) replaces the earlier groupBy+join pair.

    NULL-text documents are each their OWN singleton group (the hash
    is coalesced with a per-doc sentinel that cannot collide with a
    hex digest): sha2(NULL) is NULL, and grouping all NULL-text docs
    together would tell a (rep, member) consumer that distinct
    empty documents are verbatim duplicates of each other."""

    def build() -> DataFrame:
        docs_h = load_table(spark, sf_dir, "documents").select(
            "doc_id",
            F.coalesce(
                F.sha2("text", 256),
                F.concat(F.lit("null:"), F.col("doc_id").cast("string")),
            ).alias("h"),
        )
        # safe_checkpoint: the window leaves the map partitioned by
        # text hash, so one giant verbatim group = one hot partition;
        # a lineage-truncated hot block is unrecoverable (SCALE.md,
        # functions/checkpoint.py) — bound the pinned blocks first.
        return safe_checkpoint(
            docs_h.select(
                F.min("doc_id").over(Window.partitionBy("h")).alias("rep"),
                F.col("doc_id").alias("member"),
            ),
            eager=False,
        )

    return memo(spark, "exact_group_map", sf_dir, stamp(sf_dir, ("documents",)), build)


def has_verbatim_dups(spark: SparkSession, sf_dir: str) -> bool:
    """ONE bounded 1-row sync on the (session-cached) group map: does
    this corpus contain ANY verbatim sha256(text) duplicate?
    dedup_minhash_lsh uses it to skip the exact-collapse expansion
    joins entirely on duplicate-free corpora (the common case for an
    already-cleaned corpus) — the group map is computed either way, so
    the decision costs one limit-1 scan, memoized like the map
    itself."""

    members = exact_group_map(spark, sf_dir)

    def probe() -> bool:
        return bool(
            members.where(F.col("member") != F.col("rep")).limit(1).take(1)
        )

    return memo(spark, "has_verbatim_dups", sf_dir, stamp(sf_dir, ("documents",)), probe)


def jaccard_pair_graph(
    spark: SparkSession, sf_dir: str, shingle_rows: DataFrame | None = None
) -> DataFrame:
    """The shared exact near-dup edge set: (doc_a, doc_b) pairs with
    shingle Jaccard >= threshold, materialized AT MOST ONCE per
    (SparkSession, corpus) and reused by every cluster/manifest/audit
    consumer. ``shingle_rows`` lets the first builder in a query that
    also needs raw shingles (dedup_lsh_eval) feed one shared scan.

    The cluster query, the keep manifest (and the leakage split, audit
    and training dataset built on it) and the three pair-set evals
    (lsh, simhash, semantic-vs-lexical) consume this identical edge
    set; without the memo (functions/memo.py) each re-ran the same
    ~2-4 s shingle self-join. Every cluster consumer resolves it with
    the one components engine, local_uf_components."""

    def build() -> DataFrame:
        # safe_checkpoint: near-dup pair streams concentrate a hot
        # cluster's pairs in few partitions; a lineage-truncated hot
        # block is unrecoverable (functions/checkpoint.py).
        return safe_checkpoint(
            q_dedup_ngram_jaccard(spark, sf_dir, shingle_rows).select(
                "doc_a", "doc_b"
            ),
            eager=False,
        )

    return memo(spark, "jaccard_pair_graph", sf_dir, stamp(sf_dir, ("documents",)), build)


# ------------------------------------------------- MinHash + LSH

MINHASH_K = 32  # signature length
LSH_BANDS = 8   # 8 bands x 4 rows -> catches jaccard >= ~0.5 w.h.p.


# Kirsch–Mitzenmacher double hashing: permutation i over shingles is
# g_i(s) = (h1(s) + i*h2(s)) mod 2^32, with h1/h2 = two 32-bit halves of
# one md5 — ONE string hash per shingle feeds all K permutations, and
# both engines compute the identical value (md5 is md5 everywhere).
_MOD = 4_294_967_296  # 2^32


def minhash_signatures(doc_shingles: DataFrame, k: int = MINHASH_K) -> DataFrame:
    """Wide k-column MinHash signatures from an exploded
    (doc_id, shingle) table: ``doc_id, m0..m{k-1}``.

    Signature element i is MIN(g_i(shingle)) per document under the
    double-hashing family above. Expressed columnar — explode, one md5,
    k arithmetic mins, one groupBy with k MIN aggregates — everything
    stays in whole-stage codegen with map-side partial aggregation, so
    shuffle rows = one per (doc, partition). The nested-higher-order-
    function formulation (transform over seeds x array_min over
    shingles) is ~5x slower: HOF lambdas are interpreted per element
    and allocate an intermediate array per seed (measured at sf0.1).
    """
    h1 = F.conv(F.substring(F.md5("shingle"), 1, 8), 16, 10).cast("long")
    h2 = F.conv(F.substring(F.md5("shingle"), 9, 8), 16, 10).cast("long")
    aggs = [F.min((h1 + F.lit(i) * h2) % F.lit(_MOD)).alias(f"m{i}") for i in range(k)]
    return doc_shingles.groupBy("doc_id").agg(*aggs)


def _minhash_oracle() -> str:
    r = MINHASH_K // LSH_BANDS
    mins = ", ".join(
        f"MIN((h1 + {i}*h2) % {_MOD}) AS m{i}" for i in range(MINHASH_K)
    )
    banded = "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS band, concat("
        + ", ',', ".join(f"m{b * r + j}" for j in range(r))
        + ") AS bucket FROM sig"
        for b in range(LSH_BANDS)
    )
    eq = " + ".join(
        f"CASE WHEN sa.m{i} = sb.m{i} THEN 1 ELSE 0 END" for i in range(MINHASH_K)
    )
    return f"""
WITH tk AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
sh AS (SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM tk),
hh AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(shingle), 1, 8)) AS BIGINT) AS h1,
         CAST(('0x' || substr(md5(shingle), 9, 8)) AS BIGINT) AS h2
  FROM sh
),
sig AS (SELECT doc_id, {mins} FROM hh GROUP BY doc_id),
banded AS ({banded}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, ({eq}) / 32.0 AS jaccard_est
FROM cand
JOIN sig sa ON doc_a = sa.doc_id
JOIN sig sb ON doc_b = sb.doc_id
WHERE ({eq}) / 32.0 >= {_JACCARD_THRESHOLD}
"""


@register("dedup_minhash_lsh", oracle=_minhash_oracle(), tags=("llm-pipeline",))
def q_dedup_minhash_lsh(
    spark: SparkSession, sf_dir: str, shingle_rows: DataFrame | None = None
) -> DataFrame:
    """MinHash-LSH near-dup pairs: shingle -> 32-hash signature ->
    8 bands of 4 -> band-bucket join -> exact-signature Jaccard estimate.

    Fully oracle-checked: the md5-based double-hashing family is
    engine-portable, so DuckDB reproduces the identical signatures,
    candidate pairs, and estimates. The EXACT dedup_ngram_jaccard query
    above remains the semantic ground truth — tests assert LSH recall
    against it on the same corpus.

    Scale: this is THE fuzzy-dedup design for 100 TB. Per document the
    shuffle carries 8 (band, bucket) pairs — constant, independent
    of document size. Candidate generation is a self-join on the band
    bucket (uniform keys, no planned skew; a pathological bucket is
    handled by AQE skew-join). Signature comparison happens only on the
    (much smaller) candidate-pair set; raw text is tokenized and md5'd
    exactly once per shingle regardless of K. At production scale the
    bucket string would be xxhash64'd down to 8 bytes before the
    shuffle; it stays raw here so both engines join on identical keys.
    132s -> ~8s at sf0.1 vs the earlier nested-HOF plan.
    ``shingle_rows``: optional pre-materialized (doc_id, shingle)
    table shared with other shingle consumers (dedup_lsh_eval).

    EXACT-COLLAPSE PRE-PASS (the RefinedWeb/SlimPajama order): verbatim
    duplicates are collapsed to one representative per sha256(text)
    group BEFORE shingling/banding, and pairs are expanded back through
    the group map afterwards. Within a group signatures are identical,
    so (a) every intra-group pair is a candidate in every band with
    estimate exactly 32/32 = 1.0, and (b) a cross-group member pair is
    a candidate iff its representatives share a bucket, with the same
    estimate — the expansion therefore reproduces the uncollapsed
    output EXACTLY (same oracle), while the bucket self-join sees one
    row per distinct text instead of one per document. That removes
    the bucket-size^2 candidate blowup a verbatim duplicate cluster
    otherwise drives through the shuffle (the zipfian skew tier's
    2,244-copy cluster: 2,244^2 x 8 banded candidate rows + distinct
    before; one representative row per band after — intra pairs are
    emitted directly by a group self-join, output-bound). Groups whose
    representative yields no shingles (texts shorter than the shingle
    width) are excluded from intra expansion, matching the uncollapsed
    plan which emits nothing for unsigned docs.

    The pre-pass is ADAPTIVE (round 10): a 1-row sync on the
    session-cached group map (has_verbatim_dups) skips the collapse
    filter and both expansion joins entirely on duplicate-free
    corpora — the representative pairs ARE the output there. When
    duplicates exist, every collapse/expansion join is against the
    DUPLICATE-sized member set of multi-copy groups rather than the
    corpus-sized map (left_anti on copies, left join + coalesce on
    expansion), so a corpus with 8 verbatim copies pays ~16 broadcast
    rows while the 2,244-copy skew tier still gets the full
    bucket-blowup protection. Output identical on every path (same
    oracle); both plan shapes pinned in tests/test_plans.py.

    Note the OUTPUT for a verbatim cluster is quadratic in cluster
    size BY THE PAIR SEMANTICS (every member pair is a true near-dup
    pair) — the collapse removes quadratic WORK, not quadratic truth.
    A production manifest consumer that only needs keep/drop decisions
    reads the group map + representative pairs instead
    (dedup_keep_manifest's shape) and never materializes intra pairs.
    Callers that cache or localCheckpoint the returned pair stream
    RAW should `.repartition(n)` first: the intra expansion emits one
    verbatim group's pairs per join partition, and a lineage-
    truncated checkpoint whose hot partition cannot cache is
    unrecoverable (measured at the 100x-skew tier — SCALE.md
    "Cluster engines at 3x10^8 edges"). Downstream groupBy/joins are
    immune (they re-shuffle on pair keys).
    """
    r = MINHASH_K // LSH_BANDS

    # Adaptive collapse: ONE bounded 1-row sync on the session-cached
    # group map decides whether any collapse/expansion machinery is
    # needed at all (duplicate-free corpora skip it; plan pinned both
    # ways in tests/test_plans.py).
    collapse = has_verbatim_dups(spark, sf_dir)
    if collapse:
        members = exact_group_map(spark, sf_dir)
        # Non-representative verbatim copies — DUPLICATE-sized, not
        # corpus-sized: on a lightly-duplicated corpus AQE broadcasts
        # every join against it; on the verbatim-skew tier it degrades
        # gracefully to the shuffle joins of the unrestricted plan.
        non_rep = members.where(F.col("member") != F.col("rep"))
        dup_ids = non_rep.select(F.col("member").alias("doc_id"))

    # Collapse BEFORE tokenize+shingle: the dominant map cost runs
    # once per distinct text, not once per copy. Representatives =
    # all docs minus the non-rep copies (anti vs the duplicate-sized
    # set, not semi vs the corpus-sized one).
    if shingle_rows is not None:
        rep_shingles = (
            shingle_rows.join(dup_ids, "doc_id", "left_anti")
            if collapse
            else shingle_rows
        )
        sigw = minhash_signatures(rep_shingles).localCheckpoint(eager=False)
    else:
        # memoized like the group map: a warm call reads the checkpoint
        def build() -> DataFrame:
            docs = fan_out_scan(load_table(spark, sf_dir, "documents"), spark)
            if collapse:
                docs = docs.join(dup_ids, "doc_id", "left_anti")
            rep_shingles = docs.select(
                "doc_id", tokens("text").alias("toks")
            ).select("doc_id", F.explode(shingles("toks")).alias("shingle"))
            return minhash_signatures(rep_shingles).localCheckpoint(eager=False)

        sigw = memo(
            spark, "minhash_signatures", sf_dir, stamp(sf_dir, ("documents",)), build
        )

    # Narrow band table: (doc_id, band, bucket) only — the signatures do
    # NOT flow through the self-join shuffle.
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    ",", *[F.col(f"m{b * r + j}").cast("string") for j in range(r)]
                ).alias("bucket"),
            )
            for b in range(LSH_BANDS)
        ]
    )
    banded = sigw.select("doc_id", F.explode(bands).alias("bb")).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )

    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )

    sig = sigw.select(
        "doc_id", F.array(*[f"m{i}" for i in range(MINHASH_K)]).alias("sig")
    )
    sa = sig.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sig.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    est = (
        F.size(
            F.filter(
                F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
                lambda eq: eq,
            )
        ).cast("double")
        / MINHASH_K
    )
    rep_pairs = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", est.alias("jaccard_est"))
        .filter(F.col("jaccard_est") >= _JACCARD_THRESHOLD)
    )

    if not collapse:
        # Duplicate-free corpus: every document is its own
        # representative, the expansion joins are identities and the
        # intra-group set is empty — the representative pairs ARE the
        # answer, same oracle.
        return rep_pairs

    # Expand representative pairs back to member pairs. Cross-group:
    # each member inherits its rep's estimate (identical signatures);
    # canonical orientation via least/greatest — exactly one of the
    # two orientations satisfied the uncollapsed a < b predicate.
    # Restricted to MULTI-member groups (singleton groups expand to
    # themselves): multi_members' row count is the total membership of
    # groups with >=2 copies, so the expansion joins scale with how
    # much verbatim duplication exists, not with the corpus — LEFT
    # joins + coalesce pass singleton endpoints through untouched.
    multi_members = non_rep.unionByName(
        non_rep.select("rep").distinct().withColumn("member", F.col("rep"))
    )
    ma = multi_members.select(
        F.col("rep").alias("doc_a"), F.col("member").alias("a_m")
    )
    mb = multi_members.select(
        F.col("rep").alias("doc_b"), F.col("member").alias("b_m")
    )
    a_m = F.coalesce(F.col("a_m"), F.col("doc_a"))
    b_m = F.coalesce(F.col("b_m"), F.col("doc_b"))
    cross = (
        rep_pairs.join(ma, "doc_a", "left")
        .join(mb, "doc_b", "left")
        .select(
            F.least(a_m, b_m).alias("doc_a"),
            F.greatest(a_m, b_m).alias("doc_b"),
            "jaccard_est",
        )
    )
    # Intra-group: all-equal signatures -> candidate in every band,
    # estimate exactly 1.0. Restrict to groups whose rep has a
    # signature (>=1 shingle) — unsigned docs emit nothing either way.
    signed = sigw.select(F.col("doc_id").alias("rep"))
    signed_members = multi_members.join(signed, "rep", "leftsemi")
    x = signed_members.alias("x")
    y = signed_members.alias("y")
    intra = (
        x.join(
            y,
            (F.col("x.rep") == F.col("y.rep"))
            & (F.col("x.member") < F.col("y.member")),
        )
        .select(
            F.col("x.member").alias("doc_a"),
            F.col("y.member").alias("doc_b"),
            F.lit(1.0).alias("jaccard_est"),
        )
    )
    return cross.unionByName(intra)


# ------------------------------------------------- SimHash

SIMHASH_BITS = 60  # 15 hex chars of md5: portable across engines, fits BIGINT

_SIMHASH_BITSUMS = ", ".join(
    f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
    for b in range(SIMHASH_BITS)
)
_SIMHASH_ASSEMBLE = " + ".join(
    f"CASE WHEN b{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END"
    for b in range(SIMHASH_BITS)
)

_SIMHASH_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
),
h AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h
  FROM tok
),
bits AS (SELECT doc_id, {_SIMHASH_BITSUMS} FROM h GROUP BY doc_id)
SELECT doc_id, {_SIMHASH_ASSEMBLE} AS simhash FROM bits
"""


@register("dedup_simhash", oracle=_SIMHASH_ORACLE, tags=("llm-pipeline",))
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash fingerprint per document: bit b = sign of the sum
    over tokens of ±1 according to bit b of the token's hash.

    The token hash is the first 15 hex chars of md5 — bit-identical in
    Spark (``conv(substr(md5,1,15),16,10)``) and DuckDB
    (``'0x'||substr`` cast), which upgrades this from a rows-only check
    to a full value-hash oracle. A production run would swap md5 for
    xxhash64 (~5× cheaper, same downstream shape) — the operator
    structure is hash-agnostic.

    Computed as 60 conditional-sum aggregates after a token explode —
    one shuffle keyed by doc_id with map-side partial aggregation, so
    shuffle rows = docs × 1 (the 60 partial sums ride one row).
    Near-dup candidates at scale: band the bits into 4×15 chunks and
    join on any equal chunk (see dedup_minhash_lsh for the pattern).
    """
    docs = fan_out_scan(load_table(spark, sf_dir, "documents"), spark)
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("tok"))
    h = F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long")
    bit_sums = [
        F.sum(
            F.when((F.shiftright(h, b).bitwiseAND(F.lit(1))) == 1, 1).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(SIMHASH_BITS)
    ]
    agg = tok.groupBy("doc_id").agg(*bit_sums)
    fingerprint = None
    for b in range(SIMHASH_BITS):
        term = F.when(F.col(f"b{b}") > 0, F.lit(1 << b).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        fingerprint = term if fingerprint is None else fingerprint + term
    return agg.select("doc_id", fingerprint.alias("simhash"))


# ------------------------------------------------- embedding cosine near-dup

# Synthetic embeddings are near-orthogonal (max pairwise cos ~0.51 at
# sf0.01); 0.4 exercises the operator with a non-empty result. A real
# near-dup pass would run at ~0.95.
_COSINE_DUP_THRESHOLD = 0.4

_COSINE_DUP_ORACLE = f"""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       {o_cosine('a.embedding', 'b.embedding')} AS cos_sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE {o_cosine('a.embedding', 'b.embedding')} >= {_COSINE_DUP_THRESHOLD}
"""


@register("dedup_embedding_cosine", oracle=_COSINE_DUP_ORACLE, tags=("llm-pipeline",))
def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic near-dup pairs: cosine >= 0.95 over embeddings.

    Brute-force O(n^2) self-join — correct baseline, fine to ~1e5
    vectors; the LSH-bucketed scale path is similarity_ann_lsh in
    operators/similarity.py. Cosine uses a strict left fold in double
    (functions/vectors.py) so values hash-match the DuckDB fold exactly.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    # Distributed BLAS prefilter (functions/vectors.py): a blocked
    # all-pairs join — one numpy matmul per block-pair task — narrows
    # the n^2 pair space to near-threshold candidates with no driver
    # transit; the strict-fold cosine below re-scores ONLY candidates
    # and alone decides membership, so the output is bit-identical to
    # evaluating every pair (measured 24s -> <1s at sf0.1). The margin
    # guarantees no qualifying pair is pruned.
    cand = blas_pair_candidates(emb, threshold=_COSINE_DUP_THRESHOLD)
    embn = emb.select("vec_id", "embedding", l2_norm("embedding").alias("nrm"))
    a = embn.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("emb_a"),
        F.col("nrm").alias("nrm_a"),
    )
    b = embn.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"),
        F.col("nrm").alias("nrm_b"),
    )
    d = dot(F.col("emb_a"), F.col("emb_b"))
    cos = F.when(
        (F.col("nrm_a") > 0) & (F.col("nrm_b") > 0),
        d / (F.col("nrm_a") * F.col("nrm_b")),
    ).otherwise(F.lit(0.0))
    return (
        cand.join(F.broadcast(a), "vec_a")
        .join(F.broadcast(b), "vec_b")
        .select("vec_a", "vec_b", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= _COSINE_DUP_THRESHOLD)
    )


# ------------------------------------------- duplicate-cluster resolution

_CLUSTERS_ORACLE = f"""
WITH RECURSIVE
p AS (SELECT doc_a, doc_b FROM ({_JACCARD_ORACLE.strip()}) jq),
e AS (SELECT doc_a AS a, doc_b AS b FROM p
      UNION ALL
      SELECT doc_b, doc_a FROM p),
nodes AS (SELECT DISTINCT a AS n FROM e),
reach(src, dst) AS (
  SELECT n, n FROM nodes
  UNION
  SELECT r.src, e.b FROM reach r JOIN e ON r.dst = e.a
)
SELECT src AS doc_id, min(dst) AS cluster_id
FROM reach
GROUP BY src
"""


@register("dedup_connected_components", oracle=_CLUSTERS_ORACLE, tags=("llm-pipeline",))
def q_dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster resolution: connected components over the exact
    near-dup pair graph (dedup_ngram_jaccard), cluster id = min doc_id
    in the component — the step that turns pairwise similarity into
    keep-one-per-group dedup decisions.

    Served by local_uf_components, the package's one components
    engine: a fixed job count per contraction level instead of one
    scheduled round per graph-diameter step, falling back to
    two_phase_components when the boundary graph stops shrinking.
    The DuckDB oracle is a recursive-CTE transitive closure.
    """
    pairs = jaccard_pair_graph(spark, sf_dir)
    return local_uf_components(pairs, "doc_a", "doc_b").select(
        F.col("node").alias("doc_id"), "cluster_id"
    )


# ------------------------------------- fuzzy string join (FastSS, dist<=1)

_FUZZY_ORACLE = """
WITH names AS (SELECT DISTINCT p_name FROM part)
SELECT a.p_name AS name_a, b.p_name AS name_b,
       levenshtein(a.p_name, b.p_name) AS dist
FROM names a JOIN names b ON a.p_name < b.p_name
WHERE levenshtein(a.p_name, b.p_name) = 1
"""


@register("fuzzy_join_part_names", oracle=_FUZZY_ORACLE, tags=("llm-pipeline",))
def q_fuzzy_join_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance-1 fuzzy self-join over distinct part names — the
    entity-resolution primitive (typo matching, near-identical record
    linkage) done with FastSS deletion-neighborhood blocking instead
    of an all-pairs comparison.

    Blocking: every string emits itself plus its |s| single-character-
    deletion variants; two strings within edit distance 1 necessarily
    share a variant (substitution -> same deletion at the edit
    position; indel -> the shorter string IS a variant of the longer),
    so the variant self-join yields a guaranteed superset, and an
    exact levenshtein() verification (integer, engine-independent)
    keeps only true pairs. O(N*L) keys and candidate-only verification
    vs the oracle's O(N^2) brute force — at 1e9 strings the brute
    force is 1e18 comparisons while blocking stays linear in data
    size. Variant generation is pure expression work (transform over
    a position sequence), no Python."""
    part = load_table(spark, sf_dir, "part")
    names = part.select("p_name").distinct()
    variants = names.select(
        "p_name",
        F.explode(
            F.array_union(
                F.array(F.col("p_name")),
                F.expr(
                    "transform(sequence(1, length(p_name)), "
                    "i -> concat(left(p_name, i-1), substr(p_name, i+1)))"
                ),
            )
        ).alias("variant"),
    ).distinct()
    a = variants.select(F.col("p_name").alias("name_a"), "variant")
    b = variants.select(F.col("p_name").alias("name_b"), "variant")
    cand = (
        a.join(b, "variant")
        .filter(F.col("name_a") < F.col("name_b"))
        .select("name_a", "name_b")
        .distinct()
    )
    return cand.select(
        "name_a",
        "name_b",
        F.levenshtein("name_a", "name_b").alias("dist"),
    ).filter(F.col("dist") == 1)


# ------------------------------------- corpus-wide line-level deduplication

_LINE_DEDUP_ORACLE = """
WITH lines AS (
  SELECT doc_id, i - 1 AS pos, parts[i] AS line
  FROM (SELECT doc_id, string_split(text, chr(10)) AS parts FROM documents),
       unnest(generate_series(1, len(parts))) AS u(i)
),
tagged AS (
  SELECT doc_id, pos, line,
         min(doc_id) OVER (PARTITION BY line) AS first_doc
  FROM lines
)
SELECT doc_id,
       CAST(sum(CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       CAST(sum(CASE WHEN doc_id = first_doc THEN 0 ELSE 1 END) AS BIGINT)
         AS n_dropped,
       md5(coalesce(string_agg(CASE WHEN doc_id = first_doc THEN line END,
                               chr(10) ORDER BY pos), '')) AS cleaned_md5
FROM tagged
GROUP BY doc_id
"""


@register("dedup_lines_corpuswide", oracle=_LINE_DEDUP_ORACLE, tags=("llm-pipeline",))
def q_dedup_lines_corpuswide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide line-level deduplication — the C4/RefinedWeb move
    that strips boilerplate (nav bars, footers, license blocks)
    repeated across documents while document-level dedup sees nothing:
    a line survives only in the lowest-doc_id document that contains
    it. Emits per-doc kept/dropped counts and the md5 of the cleaned,
    order-preserved text.

    One shuffle on the line value (a window min — no separate count
    table or join-back), then a per-doc rollup. Line order is restored
    by sorting on the exploded position before the ordered rejoin, so
    the digest is deterministic on any partitioning. At 100 TB hash
    the line to a 64-bit key for the window shuffle and keep raw text
    only in the rollup — the same narrow-shuffle trick as the shingle
    joins (dedup_ngram_jaccard)."""
    docs = load_table(spark, sf_dir, "documents")
    lines = docs.select(
        "doc_id", F.posexplode(F.split("text", "\n")).alias("pos", "line")
    )
    w = Window.partitionBy("line")
    tagged = lines.withColumn("first_doc", F.min("doc_id").over(w))
    kept_struct = F.when(
        F.col("doc_id") == F.col("first_doc"),
        F.struct(F.col("pos"), F.col("line")),
    )
    return tagged.groupBy("doc_id").agg(
        F.sum(F.when(F.col("doc_id") == F.col("first_doc"), 1).otherwise(0)).alias(
            "n_kept"
        ),
        F.sum(F.when(F.col("doc_id") == F.col("first_doc"), 0).otherwise(1)).alias(
            "n_dropped"
        ),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(kept_struct)
                    ),
                    lambda s: s["line"],
                ),
                "\n",
            )
        ).alias("cleaned_md5"),
    )


_EMB_CLUSTERS_ORACLE = f"""
WITH RECURSIVE
p AS ({_COSINE_DUP_ORACLE}),
e AS (SELECT vec_a AS a, vec_b AS b FROM p
      UNION ALL SELECT vec_b, vec_a FROM p),
nodes AS (SELECT DISTINCT a AS n FROM e),
reach(src, dst) AS (
  SELECT n, n FROM nodes
  UNION
  SELECT r.src, e.b FROM reach r JOIN e ON r.dst = e.a
)
SELECT src AS vec_id, min(dst) AS cluster_id
FROM reach
GROUP BY src
"""


@register("dedup_embedding_clusters", oracle=_EMB_CLUSTERS_ORACLE, tags=("llm-pipeline",))
def q_dedup_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC dedup clusters: connected components over the
    embedding-cosine near-dup pair graph — the embedding-space twin of
    the shingle-based cluster resolution, and the last step of
    semantic dedup (SemDeDup-style): pairs -> components -> keep one
    representative (min vec_id) per cluster of semantically-identical
    items. Served by local_uf_components (round 7): the embedding
    near-dup graph has LONG chains (measured diameter 17 at sf0.1),
    so the min-label loop paid 17 scheduled rounds (~4.8s breadth
    tail); the contraction engine resolves the same graph in one
    level's fixed job count (~1.5s warm). Pair generation is the
    distributed BLAS prefilter + exact re-score (no driver
    transit)."""
    pairs = q_dedup_embedding_cosine(spark, sf_dir).select("vec_a", "vec_b")
    return local_uf_components(pairs, "vec_a", "vec_b").select(
        F.col("node").alias("vec_id"), "cluster_id"
    )


# --------------------------------------------- asymmetric containment

_CONTAINMENT_THRESHOLD = 0.6

_CONTAIN_ORACLE = f"""
WITH tk AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
sh AS (
  SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM tk
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_small, b.doc_id AS doc_large, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT p.doc_small, p.doc_large, p.n_common,
       CAST(p.n_common AS DOUBLE) / ss.sz AS containment
FROM pairs p
JOIN sizes ss ON p.doc_small = ss.doc_id
JOIN sizes sl ON p.doc_large = sl.doc_id
WHERE ss.sz <= sl.sz
  AND CAST(p.n_common AS DOUBLE) / ss.sz >= {_CONTAINMENT_THRESHOLD}
"""


@register("dedup_ngram_containment", oracle=_CONTAIN_ORACLE, tags=("llm-pipeline",))
def q_dedup_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-subset detection: |A∩B| / |A| for the smaller
    document of each sharing pair — the measure that catches a doc
    EMBEDDED in a larger one (quote farms, boilerplate wrappers,
    copy-with-additions), which symmetric Jaccard structurally
    under-scores (a 100-shingle doc inside a 10000-shingle doc has
    jaccard <= 0.01 but containment 1.0; decontaminate_ngram_overlap
    applies the same insight to train/test leakage).

    Same inverted-index join as dedup_ngram_jaccard — pairs only
    through shared shingles, never n² — but directional: both (a,b)
    orientations are counted once and the smaller side (ties by the
    size table, stable) becomes the containee. Exact integer counts,
    one double division: hash-stable. Same lazy checkpoint of the
    narrow shingle-id table as jaccard (three consumers, one pass)."""
    sh = _doc_shingle_ids(spark, sf_dir).localCheckpoint(eager=False)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_small"), F.col("b.doc_id").alias("doc_large"))
        .agg(F.count("*").alias("n_common"))
    )
    ss = sizes.alias("ss")
    sl = sizes.alias("sl")
    cont = F.col("n_common").cast("double") / F.col("ss.sz")
    return (
        pairs.join(ss, F.col("doc_small") == F.col("ss.doc_id"))
        .join(sl, F.col("doc_large") == F.col("sl.doc_id"))
        .where((F.col("ss.sz") <= F.col("sl.sz")) & (cont >= _CONTAINMENT_THRESHOLD))
        .select("doc_small", "doc_large", "n_common", cont.alias("containment"))
    )


# ---------------- two-phase components (large-star / small-star)


def two_phase_components(
    pairs: DataFrame,
    a: str,
    b: str,
    *,
    block_probe=None,
) -> DataFrame:
    """Connected components by alternating large-star / small-star
    rounds (Kiveris et al., "Connected Components in MapReduce and
    Beyond") — local_uf_components' fallback for graphs whose boundary
    stops shrinking (id-locality-free chains): its round count is
    O(log n) in component size, whatever the graph's diameter.

    Each round rewrites the edge set toward stars centered at
    component minima:

    - large-star: per node u, every LARGER neighbor is re-linked to
      m(u) = min(N(u) ∪ {u});
    - small-star: per node h over its smaller neighbors L(h), all of
      L(h) ∪ {h} link to min(L(h)).

    Both are one groupBy + one join over the canonical (lo, hi) edge
    list — edge-proportional shuffles, one label-free edge set as the
    only state, localCheckpoint truncating lineage per round. The
    fixed point is one star per component; labels read directly off
    the final edges. Same contract as local_uf_components: nodes
    without edges are absent; self-pairs ignored; output (node,
    cluster_id = component min).

    Checkpoint-skew note (functions/checkpoint.py): the initial C0
    checkpoint pins a (lo, hi)-hash-balanced distinct output, and the
    per-round `small` checkpoint is hi-keyed — its hottest block is
    bounded by the largest star's degree plus the partition's fair
    share of other stars, and the small-star rewrite itself shrinks
    star degrees round over round; rebalancing through safe_checkpoint
    would forfeit the exchange reuse the round is built on. This bound
    is EXECUTABLE, not prose: pass ``block_probe`` (a callable
    ``(tag, checkpointed_df) -> None``, tags "C0"/"round{i}") and the
    gated test tests/test_scale_probe.py::
    test_two_phase_checkpoint_blocks_bounded measures every pinned
    block of every round on the blowup tiers' pair graphs against that
    bound. Callers checkpointing RAW pair streams (unbounded hot
    keys) must use safe_checkpoint."""
    spark = pairs.sparkSession
    half = pairs.select(F.col(a).alias("x"), F.col(b).alias("y")).where(
        F.col(a) != F.col(b)
    )
    canon = (
        half.select(F.least("x", "y").alias("lo"), F.greatest("x", "y").alias("hi"))
        .distinct()
    )
    # Checkpoint BEFORE counting: the count job and the first round must
    # not each re-run the (expensive) pair generator upstream — the
    # eager localCheckpoint materializes it exactly once and both the
    # sizing count and the loop read the checkpointed edges (one
    # jaccard materialization instead of two: ~1.1s off a two-phase
    # run over the sf0.1 jaccard graph, warm best-of-2).
    C0 = canon.localCheckpoint()
    if block_probe is not None:
        block_probe("C0", C0)
    n_edges = C0.count()
    n_part = int(
        max(2, min(spark.sparkContext.defaultParallelism, 1 + n_edges // 100_000))
    )
    C = C0.repartition(n_part, "hi")

    def _sig(df: DataFrame) -> tuple:
        r = df.agg(
            F.count("*").alias("n"),
            F.expr("bit_xor(xxhash64(lo, hi))").alias("h"),
        ).collect()[0]
        return (r["n"], r["h"])

    sig = _sig(C)
    from pyspark.sql import Observation

    for _round in range(50):  # fixed point in O(log n) alternations
        S = C.select(F.col("lo").alias("u"), F.col("hi").alias("v")).union(
            C.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
        )
        mins = S.groupBy("u").agg(F.min("v").alias("mv"))
        mins = mins.select("u", F.least("u", "mv").alias("m"))
        # repartition BEFORE distinct: HashPartitioning(hi) satisfies the
        # (lo, hi) clustering requirement (subset rule), so the dedup
        # reuses the exchange instead of adding a second one. The
        # large-star result is consumed once within the round — no
        # checkpoint; lineage is truncated once per round at `small`.
        large = (
            S.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("m").alias("lo"), F.col("v").alias("hi"))
            .where(F.col("lo") != F.col("hi"))
            .repartition(n_part, "hi")
            .distinct()
        )
        g = large.groupBy("hi").agg(F.min("lo").alias("m"))
        linked = large.join(g, "hi")
        # the convergence signature rides the checkpoint materialization
        # via observe() — no separate re-read of the edge set per round
        obs = Observation()
        small = (
            linked.select(F.col("lo").alias("x"), F.col("m").alias("y"))
            .union(linked.select(F.col("hi").alias("x"), F.col("m").alias("y")))
            .where(F.col("x") != F.col("y"))
            .select(F.least("x", "y").alias("lo"), F.greatest("x", "y").alias("hi"))
            .repartition(n_part, "hi")
            .distinct()
            .observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.expr("bit_xor(xxhash64(lo, hi))").alias("h"),
            )
            .localCheckpoint()
        )
        if block_probe is not None:
            block_probe(f"round{_round}", small)
        m = obs.get
        new_sig = (m["n"], m["h"])
        C = small
        if new_sig == sig:
            break
        sig = new_sig
    else:
        # a capped-out run means the edge set never reached its fixed
        # point, and labels read off it would be silently wrong
        # cluster ids — fail loudly instead
        raise RuntimeError(
            "two_phase_components did not converge in 50 alternations; "
            "O(log n) rounds should never need this many — the input "
            "edge list is pathological or the round cap needs raising"
        )
    roots = C.select(F.col("lo").alias("node"), F.col("lo").alias("cluster_id"))
    members = C.select(F.col("hi").alias("node"), F.col("lo").alias("cluster_id"))
    return roots.union(members).distinct()


_UF_EDGES_PER_PART = 100_000  # per-partition union-find work target


def local_uf_components(
    pairs: DataFrame,
    a: str,
    b: str,
    edges_per_part: int = _UF_EDGES_PER_PART,
    max_levels: int = 8,
) -> DataFrame:
    """Connected components by partition-local union-find + boundary
    contraction — the package's one components engine, behind every
    duplicate-cluster consumer (dedup_connected_components,
    dedup_keep_manifest and its splits, dedup_embedding_clusters).
    Iterative engines pay a scheduled round-trip per iteration; on a
    17-diameter embedding near-dup chain graph diameter-round label
    propagation paid 17 jobs x fixed stage latency (~4.8s at sf0.1 for
    a 920-edge graph). This engine pays a FIXED number of jobs per
    contraction LEVEL (4 jobs in all on every catalog graph), and
    levels are logarithmic in graph size with base edges_per_part
    (~100k), so any graph under ~10^10 edges resolves in 2-3 levels:

    - partition the canonical (lo, hi) edge list by hash(lo) into
      ceil(n_edges / edges_per_part) partitions;
    - inside each partition run classic union-find (path compression,
      union-by-min so the root IS the piece minimum) via mapInPandas —
      the generator sees every Arrow batch of its partition, state is
      O(nodes in partition), output is the (node, piece_root) mapping
      (distributed — nothing returns to the driver);
    - a node landing in several partitions with different piece roots
      proves those pieces are one component: emit boundary edges
      (min(roots), other root) and recurse on THAT graph — its size is
      bounded by the number of cross-partition pieces, a contraction
      of at least the per-partition compression factor per level;
    - the last level runs single-partition (boundary < edges_per_part),
      which cannot produce a boundary, so termination is structural;
      compose mappings back up with one left join per level.

    Contract: nodes without edges absent, self-pairs ignored, output
    (node, cluster_id = component min).
    Union-by-min keeps every root the minimum of its piece, so the
    composed root is the GLOBAL component minimum (min over piece
    minima). The per-partition Python loop is the deliberate trade:
    an O(E alpha) sequential pass over ~100k-edge slices beats 17
    scheduled shuffle rounds by an order of magnitude in wall clock,
    and the slice size — not the graph size — bounds task memory.
    Its known cost is the clique-heavy graph: the Python pass walks
    every clique edge, where a shuffle engine drops intra-label edges
    in the JVM (2.4M-edge synthetic clique graph, local[4]: 11-15 s
    against 7-10 s for the retired label-propagation and recursive
    engines; SCALE.md records the 32-core 100x-skew receipt)."""
    spark = pairs.sparkSession
    dt = {f.name: f.dataType.simpleString() for f in pairs.schema.fields}[a]
    schema = f"node {dt}, root {dt}"

    def _uf_mapping(edges: DataFrame, n_part: int) -> DataFrame:
        # defined in local scope so cloudpickle ships it by VALUE —
        # a module-level generator would pickle by REFERENCE and break
        # any driver that imports this package from outside the repo
        # checkout (executors can't re-import the module to resolve it)
        def gen(batches):
            parent: dict = {}

            def find(x):
                r = x
                while parent[r] != r:
                    r = parent[r]
                while parent[x] != r:
                    parent[x], x = r, parent[x]
                return r

            for pdf in batches:
                for lo, hi in zip(pdf["lo"].to_numpy(), pdf["hi"].to_numpy()):
                    if lo not in parent:
                        parent[lo] = lo
                    if hi not in parent:
                        parent[hi] = hi
                    ra, rb = find(lo), find(hi)
                    if ra == rb:
                        continue
                    if ra < rb:
                        parent[rb] = ra
                    else:
                        parent[ra] = rb
            if parent:
                nodes = list(parent)
                yield pd.DataFrame(
                    {"node": nodes, "root": [find(x) for x in nodes]}
                )

        return edges.repartition(n_part, "lo").mapInPandas(gen, schema)

    edges = (
        pairs.where(F.col(a) != F.col(b))
        .select(F.least(a, b).alias("lo"), F.greatest(a, b).alias("hi"))
    )
    from pyspark.sql import Observation

    mappings: list[DataFrame] = []
    prev_edges = None
    for _level in range(max_levels):
        # count rides the checkpoint materialization (observe), not a
        # second scheduled job per level — same trick as two_phase's
        # fixed-point signature
        obs = Observation()
        # safe_checkpoint at LEVEL 0 ONLY: there `edges` carries the
        # CALLER's partitioning — a skewed pair stream (one verbatim
        # cluster's pairs in one partition) would pin one unrecoverable
        # hot block (functions/checkpoint.py). Boundary graphs at
        # levels >= 1 come out of _uf_mapping's groupBy — hash-balanced
        # by construction, and _uf_mapping re-shuffles them by "lo"
        # anyway, so a round-robin exchange there is pure overhead
        # (round-10 ADVICE): a plain localCheckpoint truncates lineage
        # and the observation rides either materialization, one job.
        observed = edges.observe(obs, F.count(F.lit(1)).alias("n"))
        E = safe_checkpoint(observed) if _level == 0 else observed.localCheckpoint()
        n_edges = int(obs.get["n"])
        if prev_edges is not None and n_edges >= prev_edges:
            # a non-shrinking boundary means the contraction argument
            # above no longer holds for this graph shape — log loudly
            # and degrade to the structure-driven O(log n) engine
            # instead of crashing the query (the result contract is
            # identical; only the round pattern differs)
            logging.getLogger(__name__).warning(
                "local_uf_components: boundary graph did not shrink "
                "(%d -> %d edges at level %d); falling back to "
                "two_phase_components",
                prev_edges, n_edges, _level,
            )
            return two_phase_components(pairs, a, b)
        prev_edges = n_edges
        # NO parallelism cap here: the slice size IS the task-memory
        # bound (a capped n_part would let slices grow as E/cores with
        # the graph, silently breaking the O(edges_per_part) union-find
        # state claim at billions of edges — Spark queues surplus
        # partitions over the cores just fine). Ceil division keeps
        # every slice AT OR UNDER edges_per_part (floor would let a
        # 2N-1-edge set run as one near-double-sized slice).
        n_part = int(max(1, -(-n_edges // edges_per_part)))
        if n_part == 1:
            # single partition sees every edge: no boundary possible,
            # and the mapping feeds the final compose exactly once —
            # checkpointing it here would be a wasted materialization
            mappings.append(_uf_mapping(E, n_part))
            break
        mapping = _uf_mapping(E, n_part).localCheckpoint()
        mappings.append(mapping)
        edges = (
            mapping.groupBy("node")
            .agg(F.collect_set("root").alias("roots"))
            .where(F.size("roots") > 1)
            .select(F.array_min("roots").alias("lo"), F.explode("roots").alias("hi"))
            .where(F.col("lo") != F.col("hi"))
            .distinct()
        )
    else:
        # Documented boundary: locality-based contraction is slow on
        # graphs whose edges have NO id locality under hash
        # partitioning (a multi-million-edge pure path shatters into
        # ~1-edge pieces and the boundary barely shrinks per level).
        # Real dup graphs are clique-/star-heavy and contract fast;
        # adversarial chain shapes go to two_phase_components, whose
        # large-star/small-star rounds contract by structure, not
        # locality — log loudly and degrade rather than crash.
        logging.getLogger(__name__).warning(
            "local_uf_components did not converge in %d levels (boundary "
            "contracting too slowly: id-locality-free chain shape); "
            "falling back to two_phase_components",
            max_levels,
        )
        return two_phase_components(pairs, a, b)

    res = mappings[-1]
    for mapping in reversed(mappings[:-1]):
        deeper = res.select(F.col("node").alias("rn"), F.col("root").alias("rr"))
        res = (
            mapping.join(deeper, mapping["root"] == deeper["rn"], "left")
            .select(
                mapping["node"],
                F.coalesce(F.col("rr"), mapping["root"]).alias("root"),
            )
            .distinct()
        )
    return res.select("node", F.col("root").alias("cluster_id"))


# ------------------------------------ LSH vs exact: precision / recall

def _pair_eval_tail_oracle(est_table: str = "est") -> str:
    """The shared tail of every pair-set evaluation oracle: the
    full-outer-join membership CTE over ``truth`` and ``est_table``
    plus the tp/fp/fn/precision/recall rollup. The empty-denominator
    CASE guard (Spark x/0 yields NULL; DuckDB's IEEE behavior is
    version-dependent) lives ONLY here — lsh_eval and simhash_eval
    both append this after their own pair-set CTEs."""
    return f"""j AS (
  SELECT (t.doc_a IS NOT NULL) AS in_truth,
         (e.doc_a IS NOT NULL) AS in_est
  FROM truth t FULL OUTER JOIN {est_table} e
    ON t.doc_a = e.doc_a AND t.doc_b = e.doc_b
)
SELECT CAST(sum(CASE WHEN in_truth AND in_est THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       CAST(sum(CASE WHEN in_est AND NOT in_truth THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       CAST(sum(CASE WHEN in_truth AND NOT in_est THEN 1 ELSE 0 END) AS BIGINT) AS fn,
       CASE WHEN sum(CASE WHEN in_est THEN 1 ELSE 0 END) > 0
            THEN CAST(sum(CASE WHEN in_truth AND in_est THEN 1 ELSE 0 END) AS DOUBLE)
                   / sum(CASE WHEN in_est THEN 1 ELSE 0 END)
            ELSE NULL END AS precision,
       CASE WHEN sum(CASE WHEN in_truth THEN 1 ELSE 0 END) > 0
            THEN CAST(sum(CASE WHEN in_truth AND in_est THEN 1 ELSE 0 END) AS DOUBLE)
                   / sum(CASE WHEN in_truth THEN 1 ELSE 0 END)
            ELSE NULL END AS recall
FROM j
"""


def pair_set_eval(truth: DataFrame, est: DataFrame) -> DataFrame:
    """Confusion-matrix rollup over two (doc_a, doc_b) pair sets —
    tp / fp / fn / precision / recall as ONE full-outer-join + agg,
    O(pairs). Explicit NULL on empty denominators: Spark's x/0 yields
    NULL but DuckDB's IEEE double division is version-dependent
    (NaN/inf), so the when/CASE pins both engines to NULL on
    degenerate corpora. Mirrors ``_pair_eval_tail_oracle`` — a fix to
    either side's null/zero handling belongs in this pair of helpers,
    nowhere else."""
    t = truth.select("doc_a", "doc_b").withColumn("in_truth", F.lit(True))
    e = est.select("doc_a", "doc_b").withColumn("in_est", F.lit(True))
    j = t.join(e, ["doc_a", "doc_b"], "full_outer").select(
        F.coalesce(F.col("in_truth"), F.lit(False)).alias("in_truth"),
        F.coalesce(F.col("in_est"), F.lit(False)).alias("in_est"),
    )
    tp = F.sum(F.when(F.col("in_truth") & F.col("in_est"), 1).otherwise(0))
    fp = F.sum(F.when(F.col("in_est") & ~F.col("in_truth"), 1).otherwise(0))
    fn = F.sum(F.when(F.col("in_truth") & ~F.col("in_est"), 1).otherwise(0))
    n_est = F.sum(F.when(F.col("in_est"), 1).otherwise(0))
    n_truth = F.sum(F.when(F.col("in_truth"), 1).otherwise(0))
    return j.agg(
        tp.alias("tp"),
        fp.alias("fp"),
        fn.alias("fn"),
        F.when(n_est > 0, tp.cast("double") / n_est).alias("precision"),
        F.when(n_truth > 0, tp.cast("double") / n_truth).alias("recall"),
    )


def _lsh_eval_oracle() -> str:
    return f"""
WITH truth AS (SELECT doc_a, doc_b FROM ({_JACCARD_ORACLE.strip()})),
est AS (SELECT doc_a, doc_b FROM ({_minhash_oracle().strip()})),
{_pair_eval_tail_oracle("est")}"""


@register("dedup_lsh_eval", oracle=_lsh_eval_oracle(), tags=("llm-pipeline",))
def q_dedup_lsh_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-engine evaluation of the MinHash-LSH pair detector against
    the exact shingle-Jaccard ground truth at the same threshold:
    true/false positives, misses, precision, recall — the number you
    tune MINHASH_K and LSH_BANDS against before trusting fuzzy dedup
    on a real corpus. Both sides are SQL-expressible (the md5 hash
    family is engine-portable), so even the evaluation itself is
    value-hash-checked — precision/recall here are exact statements,
    not samples.

    Scale: both pair sets are the operators' own outputs (bucketed,
    no all-pairs) fed from ONE shared materialized shingle table (the
    tokenize+shingle scan — the dominant map-side cost — runs once,
    not once per branch); the comparison is a full outer join on the
    pair key — O(pairs), vertex-sized — and one conditional rollup.
    At 100 TB you'd run it on a sampled partition slice; the plan is
    unchanged."""
    shared = _doc_shingles(spark, sf_dir).localCheckpoint(eager=False)
    truth = jaccard_pair_graph(spark, sf_dir, shared)
    est = q_dedup_minhash_lsh(spark, sf_dir, shared).select("doc_a", "doc_b")
    return pair_set_eval(truth, est)


# ---------------------------- SimHash banding vs exact: precision / recall

SIMHASH_BAND_BITS = 15          # 4 bands x 15 bits over the 60-bit fingerprint
SIMHASH_N_BANDS = SIMHASH_BITS // SIMHASH_BAND_BITS
SIMHASH_HAMMING_T = 3           # pairs within this hamming radius are "near"
# Pigeonhole: <= 3 differing bits cannot touch all 4 bands, so banding
# has recall 1.0 against the hamming-radius pair set by construction —
# the eval below therefore measures the HAMMING detector against the
# JACCARD ground truth, i.e. how well bit-sign agreement proxies
# shingle overlap, not banding loss.


def _simhash_pairs_oracle() -> str:
    mask = (1 << SIMHASH_BAND_BITS) - 1
    banded = "\nUNION ALL\n".join(
        f"SELECT doc_id, {c} AS band,"
        f" (simhash >> {c * SIMHASH_BAND_BITS}) & {mask} AS chunk FROM sig"
        for c in range(SIMHASH_N_BANDS)
    )
    return f"""
sig AS ({_SIMHASH_ORACLE.strip()}),
banded AS ({banded}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.chunk = b.chunk AND a.doc_id < b.doc_id
),
spairs AS (
  SELECT doc_a, doc_b
  FROM cand
  JOIN sig sa ON cand.doc_a = sa.doc_id
  JOIN sig sb ON cand.doc_b = sb.doc_id
  WHERE bit_count(xor(sa.simhash, sb.simhash)) <= {SIMHASH_HAMMING_T}
)"""


def _simhash_eval_oracle() -> str:
    return f"""
WITH {_simhash_pairs_oracle().strip().lstrip()},
truth AS (SELECT doc_a, doc_b FROM ({_JACCARD_ORACLE.strip()})),
{_pair_eval_tail_oracle("spairs")}"""


@register("dedup_simhash_eval", oracle=_simhash_eval_oracle(), tags=("llm-pipeline",))
def q_dedup_simhash_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup detection (banded candidate join + hamming
    filter) evaluated in-engine against the exact shingle-Jaccard
    ground truth — the companion to dedup_lsh_eval that completes the
    fuzzy-dedup eval matrix: MinHash estimates Jaccard directly;
    SimHash proxies it through bit-sign agreement, and THIS query
    quantifies how much precision/recall that proxy costs on a given
    corpus before anyone trusts it at scale.

    Candidate generation follows the MinHash-LSH economics: 4 bands of
    15 fingerprint bits each, equal-chunk self-join on a narrow
    (doc_id, band, chunk) table — by pigeonhole, banding loses NOTHING
    within hamming radius {T} (3 flipped bits cannot touch 4 bands),
    so the hamming filter after the join is exact, not sampled. Per
    document the shuffle carries 4 constant-width rows; the 60-bit
    xor + bit_count runs only on the candidate set. Fingerprints come
    from ONE lazily-checkpointed simhash pass feeding the banding and
    both join-back sides."""
    mask = (1 << SIMHASH_BAND_BITS) - 1
    sig = q_dedup_simhash(spark, sf_dir).localCheckpoint(eager=False)
    chunks = F.array(
        *[
            F.struct(
                F.lit(c).alias("band"),
                F.shiftright("simhash", c * SIMHASH_BAND_BITS)
                .bitwiseAND(F.lit(mask))
                .alias("chunk"),
            )
            for c in range(SIMHASH_N_BANDS)
        ]
    )
    banded = sig.select("doc_id", F.explode(chunks).alias("bb")).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.chunk").alias("chunk")
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = sig.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a"))
    sb = sig.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b"))
    est = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .where(
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
            <= SIMHASH_HAMMING_T
        )
        .select("doc_a", "doc_b")
    )
    truth = jaccard_pair_graph(spark, sf_dir)
    return pair_set_eval(truth, est)


q_dedup_simhash_eval.__doc__ = q_dedup_simhash_eval.__doc__.format(
    T=SIMHASH_HAMMING_T
)


# -------------- semantic (embedding) vs lexical (Jaccard) dedup eval

_SEMVLEX_ORACLE = f"""
WITH truth AS (SELECT doc_a, doc_b FROM ({_JACCARD_ORACLE.strip()})),
est AS (
  SELECT vec_a AS doc_a, vec_b AS doc_b FROM ({_COSINE_DUP_ORACLE.strip()})
),
{_pair_eval_tail_oracle("est")}"""


@register(
    "dedup_semantic_vs_lexical_eval",
    oracle=_SEMVLEX_ORACLE,
    tags=("llm-pipeline",),
)
def q_dedup_semantic_vs_lexical_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cross-modal dedup agreement: the embedding-cosine near-dup pair
    set (vec/doc ids are 1:1) scored against the shingle-Jaccard
    ground truth with the shared confusion-matrix helper — the third
    row of the fuzzy-dedup eval matrix (MinHash estimates Jaccard,
    SimHash proxies it via bit signs, embeddings replace it with
    SEMANTIC similarity). Low precision here is not a bug: it
    quantifies exactly how many semantic-duplicate pairs lexical
    dedup would keep — the number you need before deciding whether to
    run the (more expensive) embedding pass at all.

    Scale: both pair sets are the operators' own bucketed/prefiltered
    outputs; the comparison is the O(pairs) full-outer join + rollup
    shared with lsh_eval/simhash_eval."""
    truth = jaccard_pair_graph(spark, sf_dir)
    est = q_dedup_embedding_cosine(spark, sf_dir).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    return pair_set_eval(truth, est)


# ---------------------------------- cross-doc exact substring spans

_SPAN_K = 24  # span detection unit, chars — any duplicated run of
              # >= _SPAN_K chars contains a duplicated _SPAN_K-gram


@register(
    "dedup_substring_spans",
    oracle=f"""
WITH pos AS (
  SELECT doc_id, text,
         unnest(generate_series(1, strlen(text) - {_SPAN_K - 1})) AS k
  FROM documents WHERE strlen(text) >= {_SPAN_K}
),
sh AS (SELECT doc_id, substr(text, k, {_SPAN_K}) AS span FROM pos),
dup AS (
  SELECT span FROM sh GROUP BY span HAVING count(DISTINCT doc_id) >= 2
),
per AS (
  SELECT s.doc_id, count(*) AS n_spans,
         count(d.span) AS n_dup_spans
  FROM sh s LEFT JOIN dup d ON s.span = d.span
  GROUP BY s.doc_id
)
SELECT doc_id, CAST(n_spans AS BIGINT) AS n_spans,
       CAST(n_dup_spans AS BIGINT) AS n_dup_spans,
       CAST(n_dup_spans * 1000 // n_spans AS BIGINT) AS dup_milli
FROM per
""",
    tags=("llm-pipeline",),
)
def q_dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document EXACT-SUBSTRING duplication coverage — the span-
    level dedup of Lee et al. 2022 ("Deduplicating Training Data Makes
    Language Models Better"), distinct from every doc-level dedup in
    this family: it finds the duplicated TEXT RUNS themselves (license
    boilerplate, templated headers, quoted chunks) inside otherwise-
    unique documents. Every character position anchors a {K}-char
    span; a span duplicated across >= 2 DISTINCT docs (within-doc
    repetition is text_repetition_filter's job) marks its positions as
    duplicated text. Output per doc: total spans, duplicated spans,
    and per-mille duplicated coverage — the signal a pipeline uses to
    cut the span (not the doc) before training.

    Correctness device: any duplicated run of length >= {K} contains a
    duplicated {K}-gram, so position coverage detects exactly the runs
    the suffix-array method finds at this granularity.

    Scale: the position explode is O(total chars) — the irreducible
    cost of substring-level dedup (a suffix array is also linear).
    Spans travel as 8-byte xxhash64 ids, never 24-byte strings (the
    _doc_shingle_ids convention — collision odds at the oracle's check
    scale ~2^-35, and the string-joining DuckDB oracle would flag any
    miscount). Raw position rows cross exactly ONE exchange, already
    map-side combined to distinct (span, doc) pairs (a document's
    positions all sit in one input partition, so within-doc repeats —
    boilerplate's common case — collapse before the wire); per-doc
    span totals are closed-form length(text)-K+1, never recounted from
    the explode; the span rollup carries pair-cardinality rows and
    everything after the duplicate filter is dup-cardinality only. The
    round-5 join-back shape shuffled full position volume 3x — this
    shape measures ~1.2x faster at sf0.1 (4.6 s vs 5.3 s min-of-3;
    the synthetic corpus is small enough that per-stage overhead, not
    shuffle volume, bounds it — the 3x-fewer-position-bytes-on-the-
    wire property is what matters at corpus scale) with identical
    output.
    No pairwise anything — cost is linear in corpus size at any
    scale."""
    docs = fan_out_scan(
        load_table(spark, sf_dir, "documents").where(F.length("text") >= _SPAN_K),
        spark,
    )
    base = docs.select(
        "doc_id",
        (F.length("text") - (_SPAN_K - 1)).cast("long").alias("n_spans"),
        "text",
    ).localCheckpoint(eager=False)  # feeds totals AND the explode
    pairs = (
        base.select(
            "doc_id",
            F.explode(
                F.expr(f"sequence(1, length(text) - {_SPAN_K - 1})")
            ).alias("k"),
            "text",
        )
        .select(
            "doc_id",
            F.xxhash64(F.substring(F.col("text"), F.col("k"), _SPAN_K)).alias("sid"),
        )
        .groupBy("sid", "doc_id")
        .agg(F.count("*").alias("n_pos"))
    )
    # ">= 2 distinct docs" needs no count-distinct: the pairs table is
    # already distinct per (span, doc), so min < max over doc_id is the
    # same predicate, map-side combinable. collect_list keeps each
    # span's per-doc position counts through the same rollup, so no
    # join back to the position table is ever needed.
    dup_per_doc = (
        pairs.groupBy("sid")
        .agg(
            F.min("doc_id").alias("mn"),
            F.max("doc_id").alias("mx"),
            F.collect_list(F.struct("doc_id", "n_pos")).alias("per_doc"),
        )
        .where(F.col("mn") < F.col("mx"))
        .select(F.explode("per_doc").alias("pd"))
        .groupBy(F.col("pd.doc_id").alias("doc_id"))
        .agg(F.sum("pd.n_pos").alias("n_dup_spans"))
    )
    return (
        base.select("doc_id", "n_spans")
        .join(dup_per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_spans",
            F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
            F.expr(
                "CAST(coalesce(n_dup_spans, 0) * 1000 div n_spans AS BIGINT)"
            ).alias("dup_milli"),
        )
    )


q_dedup_substring_spans.__doc__ = q_dedup_substring_spans.__doc__.replace(
    "{K}", str(_SPAN_K)
)
