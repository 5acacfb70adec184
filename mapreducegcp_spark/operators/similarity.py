"""Similarity search over the ``embeddings`` table (array<float> column).

North-star extension (SURVEY.md §7 phase 3). The operator family:

- brute-force cosine top-k for a fixed query set (exact baseline,
  oracle-checked)
- global nearest-neighbor pairs (exact, oracle-checked)
- LSH-bucketed approximate top-k (random-hyperplane signs) — the scale
  path, rows-only with a recall test against the brute-force baseline
- IVF approximate top-k (k-means coarse quantizer persisted as an
  index artifact, probe-N lists) — the other classic ANN scale path,
  also rows-only + recall-tested
- SQ8 scalar-quantized rank + exact re-rank — integer quantized dots,
  so the whole pipeline carries a full value oracle
- JL random projection (normalize + 8 fixed hyperplanes) — map-only
  dimensionality reduction, bit-exact
- hard-negative mining — top cross-label similars for contrastive
  training, same broadcast/stream shape as the exact top-k

All exact vector math is JVM-side higher-order array functions with a
strict left fold in double (functions/vectors.py), so exact queries
hash-match the DuckDB fold bit-for-bit.
"""

from __future__ import annotations

import math

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mapreducegcp_spark.functions.memo import artifact, memo, stamp
from mapreducegcp_spark.functions.vectors import (
    blas_pair_candidates, cosine, dot, l2_norm, o_cosine, o_dot,
)
from mapreducegcp_spark.registry import register
from mapreducegcp_spark.sources.catalog import load_table

# Deterministic query set: these vec_ids play "queries", the rest corpus.
_QUERY_IDS = (0, 1, 2, 3, 4)
_TOP_K = 10

_IDS_SQL = ", ".join(str(i) for i in _QUERY_IDS)

_TOPK_ORACLE = f"""
SELECT query_id, vec_id, cos_sim, rn AS rank
FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
         {o_cosine('q.embedding', 'c.embedding')} AS cos_sim,
         ROW_NUMBER() OVER (
           PARTITION BY q.vec_id
           ORDER BY {o_cosine('q.embedding', 'c.embedding')} DESC, c.vec_id
         ) AS rn
  FROM embeddings q JOIN embeddings c ON c.vec_id NOT IN ({_IDS_SQL})
  WHERE q.vec_id IN ({_IDS_SQL})
)
WHERE rn <= {_TOP_K}
"""


@register("similarity_topk_bruteforce", oracle=_TOPK_ORACLE, tags=("llm-pipeline",))
def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k: 5 query vectors x full corpus.

    Scale shape: the query set is broadcast (tiny), the corpus streams —
    one pass, no corpus shuffle for scoring; the only exchange is the
    per-query top-k window over k-bounded candidates. At a 1e9-vector
    corpus this is the map-side of every ANN system; the LSH variant
    below prunes the candidate stream.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    # Norms precomputed per side (O(n*d)) — identical IEEE values to the
    # inline-per-pair form, so the oracle's per-pair norms still match.
    queries = F.broadcast(
        emb.filter(F.col("vec_id").isin(*_QUERY_IDS)).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            l2_norm("embedding").alias("q_nrm"),
        )
    )
    corpus = emb.filter(~F.col("vec_id").isin(*_QUERY_IDS)).select(
        "vec_id", "embedding", l2_norm("embedding").alias("c_nrm")
    )
    d = dot(F.col("q_emb"), F.col("embedding"))
    cos = F.when(
        (F.col("q_nrm") > 0) & (F.col("c_nrm") > 0),
        d / (F.col("q_nrm") * F.col("c_nrm")),
    ).otherwise(F.lit(0.0))
    scored = corpus.crossJoin(queries).select(
        "query_id",
        "vec_id",
        cos.alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
        .select("query_id", "vec_id", "cos_sim", "rank")
    )


_RANGE_TAU = 0.25  # cosine radius: ~55 in-range rows at sf0.01

# The norm > 0 guards mirror the Spark side's zero-norm convention
# (cos := 0.0, excluded by tau): without them DuckDB computes 0/0 =
# NaN, which it ORDERS ABOVE every number, so a zero embedding would
# appear in oracle rows but never in Spark output (latent only —
# generated testdata has no zero vectors, but the oracle should state
# the same predicate the engine runs).
_RANGE_ORACLE = f"""
SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
       {o_cosine('q.embedding', 'c.embedding')} AS cos_sim
FROM embeddings q JOIN embeddings c ON c.vec_id NOT IN ({_IDS_SQL})
WHERE q.vec_id IN ({_IDS_SQL})
  AND {o_dot('q.embedding', 'q.embedding')} > 0
  AND {o_dot('c.embedding', 'c.embedding')} > 0
  AND {o_cosine('q.embedding', 'c.embedding')} >= {_RANGE_TAU}
"""


@register("similarity_range_search", oracle=_RANGE_ORACLE, tags=("llm-pipeline",))
def q_similarity_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range search: EVERY corpus vector within a cosine radius of each
    query — the other standard vector-search API next to top-k (FAISS
    ``range_search``), and the semantics dedup/decontamination actually
    want ("all near-duplicates of this document", not "the 10
    nearest"). Result size is data-dependent, so there is no window —
    the output is exactly the predicate's true row set, which is why
    this query carries a full value oracle rather than a recall gate.

    Scale shape: queries broadcast, corpus streams — one map-only pass
    with the radius predicate fused into the scan projection; nothing
    shuffles (no top-k window needed). At a 1e9-vector corpus this is
    the cheapest similarity primitive there is; the LSH banding above
    accelerates it the same way it does top-k (bands bound the
    candidate stream, radius filters exactly), and
    dedup_embedding_cosine IS that accelerated all-pairs form."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = F.broadcast(
        emb.filter(F.col("vec_id").isin(*_QUERY_IDS)).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            l2_norm("embedding").alias("q_nrm"),
        )
    )
    corpus = emb.filter(~F.col("vec_id").isin(*_QUERY_IDS)).select(
        "vec_id", "embedding", l2_norm("embedding").alias("c_nrm")
    )
    d = dot(F.col("q_emb"), F.col("embedding"))
    cos = F.when(
        (F.col("q_nrm") > 0) & (F.col("c_nrm") > 0),
        d / (F.col("q_nrm") * F.col("c_nrm")),
    ).otherwise(F.lit(0.0))
    return (
        corpus.crossJoin(queries)
        .select("query_id", "vec_id", cos.alias("cos_sim"))
        .where(F.col("cos_sim") >= F.lit(_RANGE_TAU))
    )


_NN_ORACLE = f"""
SELECT vec_a, vec_b, cos_sim
FROM (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         {o_cosine('a.embedding', 'b.embedding')} AS cos_sim,
         ROW_NUMBER() OVER (
           PARTITION BY a.vec_id
           ORDER BY {o_cosine('a.embedding', 'b.embedding')} DESC, b.vec_id
         ) AS rn
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
)
WHERE rn = 1
"""


@register("similarity_nearest_neighbor", oracle=_NN_ORACLE, tags=("llm-pipeline",))
def q_similarity_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each vector's single nearest neighbor (exact, full self-join).

    The O(n^2) shape is intentional as the correctness baseline for ANN;
    at scale replace with the LSH variant + a re-rank. Deterministic
    tie-break on vec_id keeps the argmax hash-stable.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    # BLAS argmax prefilter (functions/vectors.py): per vector, only the
    # partners within a safety margin of its approximate max survive —
    # a guaranteed superset of the exact argmax. The strict-fold cosine
    # then re-scores candidates and the window picks the winner with
    # the oracle's exact values and tie-break (28s -> <1s at sf0.1).
    cand = blas_pair_candidates(emb, threshold=None)
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
    scored = (
        cand.join(F.broadcast(a), "vec_a")
        .join(F.broadcast(b), "vec_b")
        .select("vec_a", "vec_b", cos.alias("cos_sim"))
    )
    w = Window.partitionBy("vec_a").orderBy(F.col("cos_sim").desc(), F.col("vec_b"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_a", "vec_b", "cos_sim")
    )


# ------------------------------------------------- LSH-bucketed ANN
#
# Hyperparameters are DERIVED from corpus statistics (lsh_params), not
# constants: round 6's blowup sweep measured fixed 16x4-bit bands
# walking recall 0.94 (sf0.01) -> 0.82 (3x blowup) as the corpus
# densified — the classic fixed-hyperparameter decay. The derivation
# holds two invariants as n grows:
#
#   rows r (bits/band): expected bucket occupancy n / 2^r stays near a
#     constant target, so per-bucket candidate work doesn't grow
#     linearly with the corpus (selectivity);
#   flips f + bands b: the per-neighbor retrieval probability at the
#     DESIGN cosine — MEASURED per corpus by lsh_design_p (median
#     k-th-neighbor cosine of a 64-vector id-hash sample, one
#     broadcast matmul pass, cached like the quantizer artifacts) —
#     stays >= 0.99, solved as the smallest multi-probe depth f (Lv
#     et al. 2007: also probe buckets within Hamming distance f inside
#     each band) whose band count b = ln(1-target)/ln(1-hit(p)) fits
#     the band budget. Measured across the tiers: p walks 0.58
#     (sf0.01, diffuse -> 38 bands) to 1.0 (100x blowup, duplicate
#     mass -> 6 bands, no flips) — the index gets CHEAPER exactly
#     where the data makes retrieval easier.
#
# Uniform-random 64-d vectors are the no-structure worst case (the
# marginal neighbor sits at cos < 0.4, barely above random), so the
# derivation spends multiprobe rather than raw bands — query-side
# probe fan-out is free (queries are tiny) while corpus-side signature
# rows stay at n*b.

_LSH_DESIGN_P = 0.625     # sign-agreement prob at the design cosine ~0.38
_LSH_TARGET = 0.99        # per-neighbor retrieval probability to hold
_LSH_MAX_BANDS = 64       # band budget (corpus signature rows = n * b)
_LSH_OCCUPANCY = 128      # target expected bucket occupancy n / 2^r


def lsh_params(n: int, p: float = _LSH_DESIGN_P) -> tuple[int, int, int]:
    """(rows_per_band, probe_flips, bands) for a corpus of ``n`` vectors
    whose marginal top-k neighbor has sign-agreement probability ``p``.

    Pure arithmetic — unit-tested directly (test_lsh_params_*) and
    monotone in the ways that matter: rows grow with log2(n)
    (occupancy invariant), retrieval probability at the design cosine
    is >= _LSH_TARGET at every n (recall invariant). ``p`` defaults to
    the uniform-random-corpus worst case; the registered query passes
    the SAMPLE-MEASURED value (``lsh_design_p``) so the derivation
    tracks corpus geometry, not just corpus size — a duplicate-heavy
    corpus (marginal neighbor at cos ~1, p ~1) gets FEWER bands and no
    flips, a diffuse one gets more."""
    r = max(4, min(12, round(math.log2(max(n, 1) / _LSH_OCCUPANCY))))
    p = min(0.95, max(0.55, p))  # sanity clamp: keep band math finite
    for f in range(3):
        hit = sum(
            math.comb(r, i) * p ** (r - i) * (1 - p) ** i for i in range(f + 1)
        )
        b = math.ceil(math.log(1 - _LSH_TARGET) / math.log(1 - hit))
        if b <= _LSH_MAX_BANDS:
            return r, f, b
    return r, 2, _LSH_MAX_BANDS


_LSH_CAL_SAMPLES = 64  # calibration sample size (deterministic hash pick)


def ann_calibration(spark: SparkSession, sf_dir: str) -> dict:
    """Ingest-time ANN ground-truth sample: ~64 corpus vectors picked
    by deterministic id hash, each with its exact top-k neighbors
    (ids + true cosines) against the FULL corpus.

    ONE broadcast matmul pass (64 x n dot products, trivial next to
    any ANN scan) feeds every per-corpus ANN hyperparameter this
    module derives — the LSH design cosine (lsh_design_p), the PQ
    re-rank budget (pq_cand_calibrated) and the IVF probe depth
    (ivf_nprobe_calibrated) — the same held-out-sample tuning loop
    FAISS's autotune runs, persisted as an artifact (functions/memo.py)
    like the quantizers. Returns {} for corpora too small to
    sample; consumers fall back to their size-only derivations.

    Shape: {"sample_ids": [..], "sample_vecs": [[..]..],
    "topk": {sample_id: [(vec_id, cos), .. <=k]}}."""
    return artifact(
        spark, "anncal", sf_dir, "embeddings", f"_k{_TOP_K}_s{_LSH_CAL_SAMPLES}",
        lambda: _calibration_compute(spark, sf_dir),
        decode=lambda doc: {
            "sample_ids": doc["sample_ids"],
            "sample_vecs": doc["sample_vecs"],
            "topk": {
                int(k): [(int(v), float(c)) for v, c in vs]
                for k, vs in doc["topk"].items()
            },
        } if doc else {},
    )


def _calibration_compute(spark: SparkSession, sf_dir: str) -> dict:
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(~F.col("vec_id").isin(*_QUERY_IDS))
    n = corpus_count(spark, sf_dir)
    # deterministic fixed-size sample: id-hash threshold, id-ordered
    # (a bare limit() would take partition-order-dependent rows)
    mod = max(1, n // _LSH_CAL_SAMPLES)
    sample = [
        (int(r["vec_id"]), list(r["embedding"]))
        for r in corpus.where(F.xxhash64("vec_id") % mod == 0)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(_LSH_CAL_SAMPLES)
        .collect()
    ]
    if not sample:
        return {}
    S = np.asarray([v for _, v in sample], dtype=np.float64)
    Sn = S / np.maximum(np.linalg.norm(S, axis=1, keepdims=True), 1e-12)
    sids = np.asarray([i for i, _ in sample], dtype=np.int64)

    def gen(batches, Sn=Sn, sids=sids):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            E = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            En = E / np.maximum(np.linalg.norm(E, axis=1, keepdims=True), 1e-12)
            cos = En @ Sn.T  # (batch, samples)
            ids = pdf["vec_id"].to_numpy()
            k1 = min(_TOP_K, len(En))
            out = {"sample_id": [], "vec_id": [], "cos": []}
            for s in range(cos.shape[1]):
                col = np.where(ids != sids[s], cos[:, s], -2.0)  # drop self
                # deterministic tie-break: (cos asc, id desc) so the
                # LAST k1 are the top cosines with the SMALLEST ids on
                # ties — matching the final window's (cos desc, id asc)
                # order. Plain argsort is unstable and on replicated
                # corpora (exact-copy tie mass) would make the batch
                # candidate cut — and thus the cached statistics —
                # vary run to run.
                top = np.lexsort((-ids, col))[-k1:]
                out["sample_id"] += [int(sids[s])] * len(top)
                out["vec_id"] += ids[top].tolist()
                out["cos"] += col[top].tolist()
            yield pd.DataFrame(out)

    partial = corpus.select("vec_id", "embedding").mapInPandas(
        gen, "sample_id long, vec_id long, cos double"
    )
    w = Window.partitionBy("sample_id").orderBy(
        F.col("cos").desc(), F.col("vec_id")
    )
    rows = (
        partial.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _TOP_K)
        .collect()
    )
    topk: dict[int, list[tuple[int, float]]] = {}
    for r in sorted(rows, key=lambda r: (r["sample_id"], -r["cos"], r["vec_id"])):
        topk.setdefault(int(r["sample_id"]), []).append(
            (int(r["vec_id"]), float(r["cos"]))
        )
    return {
        "sample_ids": [i for i, _ in sample],
        "sample_vecs": [v for _, v in sample],
        "topk": topk,
    }


def lsh_design_p(spark: SparkSession, sf_dir: str) -> float:
    """Sample-measured sign-agreement probability of the corpus's
    marginal (k-th) neighbor — the GEOMETRY statistic lsh_params pairs
    with the corpus count.

    A fixed design cosine is the same trap as fixed bands one level
    up: a corpus whose k-th neighbors sit closer (duplicate/near-dup
    mass) or farther (diffuse embeddings) than the assumed ~0.38 would
    decay recall or overspend probes. Median k-th-neighbor cosine from
    the shared calibration sample (ann_calibration), converted via
    p = 1 - arccos(cos)/pi."""
    import numpy as np

    cal = ann_calibration(spark, sf_dir)
    kth = [vs[-1][1] for vs in cal.get("topk", {}).values() if vs]
    if not kth:
        return _LSH_DESIGN_P
    med = float(np.median(kth))
    return 1.0 - math.acos(max(-1.0, min(1.0, med))) / math.pi


def _hyperplane(dim: int, h: int) -> list[float]:
    """Deterministic pseudo-random unit-ish hyperplane h (no RNG state:
    a fixed integer hash mixed per (h, i), public splitmix64 constants)."""
    vals = []
    for i in range(dim):
        x = (h * 0x9E3779B97F4A7C15 + i * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
        x ^= x >> 31
        x = (x * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
        x ^= x >> 29
        vals.append((x / 2**64) * 2.0 - 1.0)
    return vals


def _band_key_udf(planes: list[list[float]], n_bands: int, flips: int):
    """Vectorized (Arrow) hyperplane signing: one BLAS matmul per batch.

    Returns a pandas_udf ``embedding -> array<long>`` of PACKED probe
    keys ``(band << 16) | bucket``: band b packs the sign bits of its
    ``len(planes)//n_bands`` hyperplanes into a bucket id, and for
    ``flips > 0`` every bucket within Hamming distance ``flips`` is
    emitted too (multi-probe — the query side's recall knob; the
    corpus side always passes flips=0 so signature storage stays at
    n*bands rows). A column-expression formulation (one fold per
    plane) puts b*r literal trees in the plan — slow to compile and
    interpreted per row; the matmul is the scale path for vector ops
    that don't need oracle-exact float folds (bucketing only needs
    sign bits, and signs are unambiguous for these magnitudes).
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    P = np.asarray(planes, dtype=np.float64)  # (H, dim)
    per_band = len(planes) // n_bands
    weights = (1 << np.arange(per_band)).astype(np.int64)
    masks = [0]
    if flips >= 1:
        masks += [1 << j for j in range(per_band)]
    if flips >= 2:
        masks += [(1 << j) | (1 << l) for j in range(per_band) for l in range(j + 1, per_band)]
    M = np.asarray(masks, dtype=np.int64)  # (m,)
    band_hi = (np.arange(n_bands, dtype=np.int64) << 16)  # (b,)

    @pandas_udf("array<long>")
    def probe_keys(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series([], dtype=object)
        E = np.vstack(emb.to_numpy()).astype(np.float64)  # (n, dim)
        signs = (E @ P.T) > 0  # (n, H)
        packed = signs.reshape(len(E), n_bands, per_band) @ weights  # (n, b)
        keys = band_hi[None, :, None] | (packed[:, :, None] ^ M[None, None, :])
        return pd.Series([row.tolist() for row in keys.reshape(len(E), -1)])

    return probe_keys


def q_similarity_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via random-hyperplane LSH (raw plan).

    Scale-adaptive: (rows_per_band, probe_flips, bands) come from
    ``lsh_params(corpus_count)`` — occupancy-pinned rows, retrieval-
    probability-pinned multiprobe depth + band count (see the section
    comment above; e.g. n=500 -> 4-bit x 28 bands, exact probes;
    n=20k -> 7-bit x 22 bands probing Hamming<=1 per band). Corpus
    vectors emit one packed ``(band << 16) | bucket`` key per band;
    queries emit every probe key within the flip budget; candidates
    join on the single key column, exact cosine re-ranks, window takes
    top-k. The output is approximate (band pruning), so the REGISTERED
    ``similarity_ann_lsh`` query wraps this plan in the recall gate
    (``_recall_query``); tests assert recall >= 0.85 against the
    brute-force baseline at sf0.01 AND (opt-in scale gate) at the
    10x disk blowup corpus, where round 6's fixed 16x4 shape decayed
    to 0.82.

    Scale: corpus-side work per vector is b*r dot products + b packed
    keys — map-only, n*b signature rows exactly like a production LSH
    signature table. The candidate join is broadcast (queries tiny,
    multiprobe fan-out is query-side only); for query-at-scale (n x n
    ANN), the packed keys become the shuffle key and buckets are the
    unit of pairwise work, exactly the minhash-LSH plan.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    dim = 64  # embeddings are 64-d (TESTDATA)
    r, flips, bands = lsh_params(
        corpus_count(spark, sf_dir), lsh_design_p(spark, sf_dir)
    )
    planes = [_hyperplane(dim, h) for h in range(bands * r)]

    def with_keys(df: DataFrame, id_alias: str, emb_alias: str, f: int) -> DataFrame:
        key_udf = _band_key_udf(planes, bands, f)
        return df.select(
            F.col("vec_id").alias(id_alias),
            F.col("embedding").alias(emb_alias),
            F.explode(key_udf(F.col("embedding"))).alias("bk"),
        )

    queries = with_keys(
        emb.filter(F.col("vec_id").isin(*_QUERY_IDS)), "query_id", "q_emb", flips
    )
    corpus = with_keys(
        emb.filter(~F.col("vec_id").isin(*_QUERY_IDS)), "vec_id", "c_emb", 0
    )
    cand = (
        corpus.join(F.broadcast(queries), "bk")
        .select("query_id", "vec_id", "q_emb", "c_emb")
        .dropDuplicates(["query_id", "vec_id"])
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    return (
        cand.select(
            "query_id", "vec_id", cosine(F.col("q_emb"), F.col("c_emb")).alias("cos_sim")
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
        .select("query_id", "vec_id", "cos_sim", "rank")
    )


# ------------------------------------------------- IVF-bucketed ANN

_IVF_K = 16       # coarse-quantizer centroids (calibration-scale nlist)
_IVF_NPROBE = 6   # lists probed per query (calibration-scale nprobe)
_IVF_ITERS = 3    # Lloyd iterations (deterministic init -> converged enough)


def ivf_params(n: int) -> tuple[int, int]:
    """(nlist, nprobe) for a corpus of ``n`` vectors.

    Below 4096 vectors the calibrated 16/6 shape is kept (the floors
    and frozen plan shapes were measured there). Past it, nlist grows
    as sqrt(n) — the classic IVF balance point where coarse-scan cost
    (nlist) and probed-list cost (nprobe * n / nlist) grow together —
    and the FALLBACK nprobe preserves the calibration probe FRACTION
    (6/16) — the registered query replaces it with the sample-measured
    depth (``ivf_nprobe_calibrated``). Capped at 1024
    lists: past that the coarse quantizer itself wants quantizing
    (IVF-HNSW territory), out of scope for this corpus family."""
    if n <= 4096:
        return _IVF_K, _IVF_NPROBE
    nlist = min(1024, round(math.sqrt(n)))
    nprobe = max(_IVF_NPROBE, math.ceil(nlist * _IVF_NPROBE / _IVF_K))
    return nlist, nprobe


def _assign_udf(C):
    """Vectorized nearest-centroid assignment: one matmul per Arrow batch
    against the broadcast (k, dim) centroid matrix. Embeddings are
    scored by cosine = dot against unit-normalized centroids."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    Cn = np.asarray(C, dtype=np.float64)

    @pandas_udf("int")
    def assign(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series([], dtype="int32")
        E = np.vstack(emb.to_numpy()).astype(np.float64)
        nrm = np.linalg.norm(E, axis=1, keepdims=True)
        nrm[nrm == 0] = 1.0
        return pd.Series(((E / nrm) @ Cn.T).argmax(1).astype("int32"))

    return assign


def _probe_udf(C, nprobe: int):
    """Top-``nprobe`` centroid ids per query vector (array<int>)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    Cn = np.asarray(C, dtype=np.float64)

    @pandas_udf("array<int>")
    def probes(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series([], dtype=object)
        E = np.vstack(emb.to_numpy()).astype(np.float64)
        sims = E @ Cn.T
        top = np.argsort(-sims, axis=1)[:, :nprobe]
        return pd.Series([row.astype("int32").tolist() for row in top])

    return probes


def train_ivf_centroids(
    df: DataFrame, k: int = _IVF_K, iters: int = _IVF_ITERS
) -> list[list[float]]:
    """Distributed Lloyd iterations for the IVF coarse quantizer.

    Deterministic init (splitmix64 hyperplanes — no RNG state), then per
    iteration one ``mapInPandas`` pass: each Arrow batch normalizes its
    vectors, argmax-assigns them against the broadcast (k, dim) centroid
    matrix (one matmul), and emits (cluster, pos, val) triples of the
    unit vectors; ``groupBy(cluster, pos).avg`` does map-side partial
    aggregation, so the shuffle is O(partitions * k * dim) and only the
    (k, dim) centroid matrix ever reaches the driver (model-parameter
    sync, same as ml.clustering.KMeans). All vector math stays in numpy
    — JVM-side per-element folds would be O(dim^2) per row. Centroids
    are re-unit-normalized each round so assignment stays cosine."""
    import numpy as np

    dim = 64  # embeddings are 64-d (TESTDATA)
    C = np.array([_hyperplane(dim, 5000 + h) for h in range(k)], dtype=np.float64)
    C /= np.linalg.norm(C, axis=1, keepdims=True)
    for _ in range(iters):
        def gen(batches, C=C):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                E = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
                nrm = np.linalg.norm(E, axis=1, keepdims=True)
                nrm[nrm == 0] = 1.0
                En = E / nrm
                a = (En @ C.T).argmax(1)
                n = len(En)
                yield pd.DataFrame(
                    {
                        "cluster": np.repeat(a.astype("int32"), dim),
                        "pos": np.tile(np.arange(dim, dtype="int32"), n),
                        "val": En.ravel(),
                    }
                )

        means = (
            df.select("embedding")
            .mapInPandas(gen, "cluster int, pos int, val double")
            .groupBy("cluster", "pos")
            .agg(F.avg("val").alias("m"))
            .collect()
        )
        C2 = C.copy()
        acc = {}
        for r in means:
            acc.setdefault(r.cluster, [0.0] * dim)[r.pos] = r.m
        for j, vec in acc.items():
            C2[j] = vec
        nrm = np.linalg.norm(C2, axis=1, keepdims=True)
        nrm[nrm == 0] = 1.0
        C = C2 / nrm
    return C.tolist()


def corpus_count(spark: SparkSession, sf_dir: str) -> int:
    """Row count of the ``embeddings`` corpus at ``sf_dir`` — THE corpus
    statistic the ANN hyperparameter derivations below key on.

    Memoized per corpus (functions/memo.py): one parquet metadata-level
    count per corpus per session, so the adaptive plans never pay a
    per-invocation scan. At production scale this is catalog metadata
    (table statistics), not a query."""
    return memo(
        spark, "embeddings_count", sf_dir, stamp(sf_dir, ("embeddings",)),
        lambda: load_table(spark, sf_dir, "embeddings").count(),
    )


def ivf_centroids(
    spark: SparkSession,
    sf_dir: str,
    k: int = _IVF_K,
    iters: int = _IVF_ITERS,
) -> list[list[float]]:
    """Load the persisted IVF coarse quantizer for ``sf_dir``, training
    and persisting it on first use (the offline index-build step).

    Training per query invocation was 3.7s of every similarity_ann_ivf
    call; an IVF index at scale is trained once when the corpus is
    ingested and shipped as a (k, dim) artifact (functions/memo.py) —
    this mirrors that. Training is deterministic, so the artifact is
    reproducible from the data; tools/build_ivf_index.py rebuilds it."""

    def train() -> list[list[float]]:
        emb = load_table(spark, sf_dir, "embeddings")
        return train_ivf_centroids(emb.filter(~F.col("vec_id").isin(*_QUERY_IDS)), k, iters)

    return artifact(spark, "ivf", sf_dir, "embeddings", f"_k{k}_i{iters}", train)


LSH_RECALL_FLOOR = 0.85  # measured 0.98 at sf0.01 with derived params (r7)
IVF_RECALL_FLOOR = 0.60  # measured 0.74 at sf0.001; uniform vectors are IVF's worst case


def _recall_query(ann_fn, floor: float):
    """Single-row recall gate: |ANN topk ∩ exact topk| / |exact topk|
    >= floor, computed entirely in Spark (two plans + a semi join), so
    the approximate operator leaves a full value-hash CORRECTNESS row:
    the oracle re-derives n_expected from the data and states TRUE for
    the gate — the hash matches iff Spark's measured recall clears the
    floor. No collect; the single output row is the aggregate.

    This wrapper IS the registered ``similarity_ann_*`` query (round 3
    folded the former rows-only raw registration and its ``_recall``
    companion into one oracle-checked entry — the raw top-k plans stay
    public as ``q_similarity_ann_{lsh,ivf,pq}`` for tests and bench)."""

    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        exact = q_similarity_topk(spark, sf_dir).select("query_id", "vec_id")
        ann = ann_fn(spark, sf_dir).select("query_id", "vec_id")
        hits = exact.join(ann, ["query_id", "vec_id"], "left_semi")
        return (
            exact.agg(F.count("*").alias("n_expected"))
            .crossJoin(hits.agg(F.count("*").alias("n_hit")))
            .select(
                "n_expected",
                (
                    F.col("n_hit").cast("double") / F.col("n_expected")
                    >= F.lit(floor)
                ).alias("recall_ok"),
            )
        )

    return q


_RECALL_ORACLE = f"""
SELECT count(*) AS n_expected, TRUE AS recall_ok FROM ({_TOPK_ORACLE.strip()})
"""

register("similarity_ann_lsh", oracle=_RECALL_ORACLE, tags=("llm-pipeline",))(
    _recall_query(q_similarity_ann_lsh, LSH_RECALL_FLOOR)
)


def ivf_nprobe_calibrated(spark: SparkSession, sf_dir: str, C) -> int:
    """Probe depth measured on the calibration sample: for each
    sampled vector, how deep into ITS ranked centroid list do the
    centroids of its true top-k neighbors sit? nprobe = the p95 of
    those depths (+1 safety), floored at the calibrated 6 and capped
    at nlist. This is the query-time recall knob tuned the way
    production tunes it — against held-out ground truth — while nlist
    stays a size-derived index-BUILD choice (ivf_params).

    All arithmetic is driver-side numpy over the bounded sample
    (64 queries x k neighbors x nlist centroids); the only Spark work
    is one bounded collect of the neighbors' embeddings. Persisted as
    an artifact (functions/memo.py) like the centroids it belongs
    with."""
    return artifact(
        spark, "nprobe", sf_dir, "embeddings", f"_k{len(C)}",
        lambda: int(_nprobe_compute(spark, sf_dir, C)), decode=int,
    )


def _nprobe_compute(spark: SparkSession, sf_dir: str, C) -> int:
    import numpy as np

    nlist = len(C)
    cal = ann_calibration(spark, sf_dir)
    topk = cal.get("topk", {})
    if not topk:
        return min(nlist, _IVF_NPROBE)
    emb = load_table(spark, sf_dir, "embeddings")
    need_ids = sorted({vid for vs in topk.values() for vid, _ in vs})
    nbr_vecs = {
        int(r["vec_id"]): list(r["embedding"])
        for r in emb.filter(F.col("vec_id").isin(need_ids))
        .select("vec_id", "embedding")
        .collect()
    }
    Cn = np.asarray(C, dtype=np.float64)

    def assign(v):
        x = np.asarray(v, dtype=np.float64)
        x /= max(np.linalg.norm(x), 1e-12)
        return int((x @ Cn.T).argmax())

    depths = []
    for sid, svec in zip(cal["sample_ids"], cal["sample_vecs"]):
        q = np.asarray(svec, dtype=np.float64)
        q /= max(np.linalg.norm(q), 1e-12)
        order = np.argsort(-(q @ Cn.T))  # sample's centroid ranking
        rank_of = {int(c): i + 1 for i, c in enumerate(order)}
        needed = [
            rank_of[assign(nbr_vecs[vid])]
            for vid, _ in topk.get(sid, [])
            if vid in nbr_vecs
        ]
        if needed:
            depths.append(max(needed))
    if not depths:
        return min(nlist, _IVF_NPROBE)
    nprobe = int(np.percentile(depths, 95)) + 1
    return min(nlist, max(_IVF_NPROBE, nprobe))


def q_similarity_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via IVF (inverted-file) coarse quantization (raw plan).

    Load the cosine k-means quantizer (trained offline by 3
    distributed Lloyd rounds — see ivf_centroids / train_ivf_centroids;
    nlist/nprobe are corpus-derived via ``ivf_params``: 16/6 at
    calibration scale, sqrt(n) lists at the same probe fraction past
    it), assign every corpus vector to its nearest centroid (its
    inverted list), probe the nprobe nearest lists per query,
    exact-cosine re-rank the candidates, window top-k. The output is
    approximate, so the
    REGISTERED ``similarity_ann_ivf`` query wraps this plan in the
    hash-checkable recall gate (``_recall_query``); tests
    assert recall >= 0.6 against brute force (measured 0.74 at sf0.001 —
    the driver's embeddings are near-uniform random, which is the
    adversarial case for IVF; clustered real-world embeddings do far
    better at the same probe fraction).

    Scale: this is the classic billion-vector layout — the quantizer is
    a persisted index artifact loaded per job, assignment is map-only
    (one matmul per Arrow batch), lists are just a cluster-id column
    (partition/bucket by it on write so a probe reads only nprobe/k of
    the corpus), and per-query work is nprobe lists instead of the full
    scan. The LSH variant above trades deterministic probe counts for
    this one's data-adaptive buckets."""
    emb = load_table(spark, sf_dir, "embeddings")
    nlist, _ = ivf_params(corpus_count(spark, sf_dir))
    C = ivf_centroids(spark, sf_dir, k=nlist)
    nprobe = ivf_nprobe_calibrated(spark, sf_dir, C)

    # Assignment and probe ranking are invariant to per-row positive
    # scaling, so raw embeddings feed both UDFs (they normalize in numpy
    # where it is one vectorized op, not a JVM per-element fold).
    corpus = emb.filter(~F.col("vec_id").isin(*_QUERY_IDS)).select(
        "vec_id",
        F.col("embedding").alias("c_emb"),
        _assign_udf(C)(F.col("embedding")).alias("cluster"),
    )
    queries = (
        emb.filter(F.col("vec_id").isin(*_QUERY_IDS))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            F.explode(_probe_udf(C, nprobe)(F.col("embedding"))).alias("cluster"),
        )
    )
    cand = corpus.join(F.broadcast(queries), "cluster").select(
        "query_id", "vec_id", "q_emb", "c_emb"
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    return (
        cand.select(
            "query_id", "vec_id", cosine(F.col("q_emb"), F.col("c_emb")).alias("cos_sim")
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
        .select("query_id", "vec_id", "cos_sim", "rank")
    )

register("similarity_ann_ivf", oracle=_RECALL_ORACLE, tags=("llm-pipeline",))(
    _recall_query(q_similarity_ann_ivf, IVF_RECALL_FLOOR)
)


# ------------------------------------- SQ8 scalar-quantized top-k + re-rank

_SQ8_CAND = 4 * _TOP_K  # oversampled candidates per query before re-rank

_SQ8_ORACLE = f"""
WITH dims AS (
  SELECT i AS pos, max(abs(CAST(embedding[i] AS DOUBLE))) AS mx
  FROM embeddings, unnest(range(1, 65)) AS t(i)
  GROUP BY i
),
sc AS (
  SELECT list(CASE WHEN mx > 0 THEN 127.0 / mx ELSE 0.0 END ORDER BY pos)
           AS scales
  FROM dims
),
qz AS (
  SELECT vec_id, embedding,
         list_transform(range(1, 65),
           i -> CAST(round(CAST(embedding[i] AS DOUBLE) * scales[i]) AS BIGINT))
           AS q8
  FROM embeddings, sc
),
cand AS (
  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
         q.embedding AS q_emb, c.embedding AS c_emb,
         ROW_NUMBER() OVER (
           PARTITION BY q.vec_id
           ORDER BY list_reduce(list_transform(range(1, 65),
                      i -> q.q8[i] * c.q8[i]), (x, y) -> x + y) DESC,
                    c.vec_id
         ) AS arn
  FROM qz q JOIN qz c ON c.vec_id NOT IN ({_IDS_SQL})
  WHERE q.vec_id IN ({_IDS_SQL})
)
SELECT query_id, vec_id, cos_sim, rn AS rank
FROM (
  SELECT query_id, vec_id,
         {o_cosine('q_emb', 'c_emb')} AS cos_sim,
         ROW_NUMBER() OVER (
           PARTITION BY query_id
           ORDER BY {o_cosine('q_emb', 'c_emb')} DESC, vec_id
         ) AS rn
  FROM cand WHERE arn <= {_SQ8_CAND}
)
WHERE rn <= {_TOP_K}
"""


@register("similarity_sq8_topk", oracle=_SQ8_ORACLE, tags=("llm-pipeline",))
def q_similarity_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantized (SQ8) top-k: per-dimension max-abs scales map
    every float32 coordinate to an int8-range integer; the candidate
    scan ranks by the *integer* quantized dot product and only the top
    4k candidates per query get the exact float re-rank. This is the
    classic memory-bound ANN layout (FAISS SQ8): 4x less bandwidth per
    scanned vector, exact scores only where they matter.

    Unlike LSH/IVF, every step is deterministic — integer dot products
    have no float ordering sensitivity — so the full pipeline
    (quantize -> rank -> re-rank) is oracle-checked end to end, not
    just recall-gated. The scale pass is one posexplode aggregation
    (map-side partial, 64 groups); scales broadcast to the scan as a
    1-row crossJoin. At 100 TB the quantized corpus would be a
    persisted column (write once, scan cheap) — computed inline here
    for self-containedness, like the LSH signatures."""
    emb = load_table(spark, sf_dir, "embeddings")
    scales = (
        emb.select(F.posexplode("embedding").alias("pos", "val"))
        .groupBy("pos")
        .agg(F.max(F.abs(F.col("val").cast("double"))).alias("mx"))
        .groupBy()
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "mx"))),
                lambda s: F.when(s["mx"] > 0, 127.0 / s["mx"]).otherwise(F.lit(0.0)),
            ).alias("scales")
        )
    )
    q8 = F.transform(
        F.col("embedding"),
        lambda x, i: F.round(x.cast("double") * F.element_at(F.col("scales"), i + 1))
        .cast("long"),
    )
    qz = emb.crossJoin(F.broadcast(scales)).select(
        "vec_id", "embedding", q8.alias("q8")
    )
    queries = F.broadcast(
        qz.filter(F.col("vec_id").isin(*_QUERY_IDS)).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            F.col("q8").alias("qq8"),
        )
    )
    corpus = qz.filter(~F.col("vec_id").isin(*_QUERY_IDS)).select(
        "vec_id", F.col("embedding").alias("c_emb"), F.col("q8").alias("cq8")
    )
    approx = F.aggregate(
        F.zip_with(F.col("qq8"), F.col("cq8"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    aw = Window.partitionBy("query_id").orderBy(
        F.col("approx_dot").desc(), F.col("vec_id")
    )
    cand = (
        corpus.crossJoin(queries)
        .select("query_id", "vec_id", "q_emb", "c_emb", approx.alias("approx_dot"))
        .withColumn("arn", F.row_number().over(aw))
        .filter(F.col("arn") <= _SQ8_CAND)
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    return (
        cand.select(
            "query_id", "vec_id", cosine(F.col("q_emb"), F.col("c_emb")).alias("cos_sim")
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
        .select("query_id", "vec_id", "cos_sim", "rank")
    )


# -------------------------------------- normalize + random projection (JL)

_N_PROJ = 8
_PROJ_DIM = 64
_PROJ_PLANES = [_hyperplane(_PROJ_DIM, 1000 + j) for j in range(_N_PROJ)]


def _o_proj_cols() -> str:
    from mapreducegcp_spark.functions.vectors import DOT_ORACLE_EXPR, NORM_ORACLE_EXPR

    nrm = NORM_ORACLE_EXPR.format(a="embedding")
    cols = []
    for j, plane in enumerate(_PROJ_PLANES):
        # CAST each element from its shortest-roundtrip string: a bare
        # numeric literal is DECIMAL in DuckDB, and decimal->double
        # re-rounding drifts 1 ulp off the Python double the Spark side
        # uses. String->double parsing is correctly rounded.
        lit = (
            "[" + ", ".join(f"CAST('{v!r}' AS DOUBLE)" for v in plane) + "]"
        )
        d = DOT_ORACLE_EXPR.format(a="embedding", b=lit)
        cols.append(f"({d}) / ({nrm}) AS p{j}")
    return ",\n       ".join(cols)


_PROJECT_ORACLE = f"""
SELECT vec_id,
       {_o_proj_cols()}
FROM embeddings
WHERE {{nrm_guard}} > 0
""".replace(
    "{nrm_guard}",
    "list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, x) -> acc + x)",
)


@register("embedding_normalize_project", oracle=_PROJECT_ORACLE, tags=("llm-pipeline",))
def q_embedding_normalize_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-normalize every embedding and project it onto 8 fixed
    splitmix64-derived hyperplanes — the Johnson–Lindenstrauss-style
    dimensionality reduction that front-ends clustering, visualization,
    and cheap-filter stages (64 floats -> 8 doubles per vector, an 8x
    width cut before any downstream shuffle).

    Map-only: one scan, per-row strict-fold dots against literal plane
    vectors (JVM codegen, no Python), division by the strict-fold norm
    — every output double is a fixed IEEE op sequence over identical
    operands, so the projection hash-matches DuckDB's list_reduce twin
    exactly. Zero-norm vectors are dropped (projection undefined).
    At 100 TB the planes ship as literals in the plan itself — nothing
    to broadcast, nothing stateful."""
    emb = load_table(spark, sf_dir, "embeddings")
    nrm2 = dot("embedding", "embedding")
    cols = [F.col("vec_id")]
    for j, plane in enumerate(_PROJ_PLANES):
        lit = F.array(*[F.lit(v) for v in plane])
        cols.append((dot(F.col("embedding"), lit) / l2_norm("embedding")).alias(f"p{j}"))
    return emb.filter(nrm2 > 0).select(*cols)


# ------------------------------------------------- hard-negative mining

_HARDNEG_K = 3

_HARDNEG_ORACLE = f"""
SELECT query_id, vec_id, cos_sim, rn AS rank
FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
         {o_cosine('q.embedding', 'c.embedding')} AS cos_sim,
         ROW_NUMBER() OVER (
           PARTITION BY q.vec_id
           ORDER BY {o_cosine('q.embedding', 'c.embedding')} DESC, c.vec_id
         ) AS rn
  FROM embeddings q JOIN embeddings c
    ON c.vec_id NOT IN ({_IDS_SQL}) AND c.label <> q.label
  WHERE q.vec_id IN ({_IDS_SQL})
)
WHERE rn <= {_HARDNEG_K}
"""


@register("hard_negative_mining", oracle=_HARDNEG_ORACLE, tags=("llm-pipeline",))
def q_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    vector, the most similar corpus vectors with a DIFFERENT label —
    the near-misses that make embedding models learn boundaries
    instead of memorizing easy negatives.

    Same scale shape as the brute-force top-k (broadcast queries,
    streamed corpus, per-query k-bounded window); the label-mismatch
    predicate filters the candidate stream before the window, and at
    scale the candidate generator swaps to the LSH/IVF/SQ8 bucketed
    paths with the same label filter applied post-bucket."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = F.broadcast(
        emb.filter(F.col("vec_id").isin(*_QUERY_IDS)).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            F.col("label").alias("q_label"),
        )
    )
    corpus = emb.filter(~F.col("vec_id").isin(*_QUERY_IDS)).select(
        "vec_id", "embedding", "label"
    )
    scored = (
        corpus.crossJoin(queries)
        .filter(F.col("label") != F.col("q_label"))
        .select(
            "query_id",
            "vec_id",
            cosine(F.col("q_emb"), F.col("embedding")).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _HARDNEG_K)
        .select("query_id", "vec_id", "cos_sim", "rank")
    )


# ------------------------------------- PQ (product quantization) + re-rank

_PQ_M = 8               # subspaces: 64-d -> 8 sub-vectors of 8 dims
_PQ_SUB = 64 // _PQ_M
_PQ_K = 32              # centroids per subspace codebook (5-bit codes)
_PQ_ITERS = 3
_PQ_CAND = 16 * _TOP_K  # ADC oversample floor (calibration-scale budget)
# ADC quantization error is a constant-width score band around each true
# score; the number of competitors INSIDE a marginal neighbor's band
# grows with corpus density when the score distribution doesn't spread
# (replication/near-dup mass — the crawl-corpus norm, and exactly what
# round 6's blowup sweep measured: fixed 160 candidates walked recall
# 0.88 -> 0.68 by 3x). The REGISTERED query uses the sample-MEASURED
# budget (pq_cand_calibrated below); this size-only fraction rule —
# the calibration budget's fraction at the sf0.1 base corpus
# (160 / 2000) — is the FALLBACK for corpora too small to sample.
_PQ_CAND_FRAC = 0.08


def pq_cand_budget(n: int) -> int:
    """Size-only fallback ADC re-rank budget (see above); the
    registered plan uses ``pq_cand_calibrated`` when a calibration
    sample exists."""
    return max(_PQ_CAND, math.ceil(n * _PQ_CAND_FRAC))


def train_pq_codebooks(
    df: DataFrame, m: int = _PQ_M, k: int = _PQ_K, iters: int = _PQ_ITERS
) -> list:
    """Distributed Lloyd for all ``m`` subspace codebooks at once.

    Same model-sync shape as ``train_ivf_centroids``: deterministic
    hyperplane init, then per iteration ONE ``mapInPandas`` pass that
    L2-assigns every sub-vector to its nearest sub-centroid and emits
    (subspace, code, pos, val); ``groupBy.avg`` with map-side partials
    keeps the shuffle O(partitions * m * k * subdim) and only the
    (m, k, subdim) tensor — 1 KiB here — ever reaches the driver.
    Vectors are unit-normalized first so ADC dot products approximate
    cosine.
    """
    import numpy as np

    CB = np.zeros((m, k, _PQ_SUB), dtype=np.float64)
    for s in range(m):
        CB[s] = np.array(
            [_hyperplane(_PQ_SUB, 9000 + s * k + c) for c in range(k)],
            dtype=np.float64,
        )
    for _ in range(iters):

        def gen(batches, CB=CB.copy()):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                E = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
                nrm = np.linalg.norm(E, axis=1, keepdims=True)
                nrm[nrm == 0] = 1.0
                En = E / nrm
                n = len(En)
                frames = []
                for s in range(m):
                    X = En[:, s * _PQ_SUB : (s + 1) * _PQ_SUB]
                    d2 = (
                        (X**2).sum(1)[:, None]
                        - 2.0 * X @ CB[s].T
                        + (CB[s] ** 2).sum(1)[None, :]
                    )
                    a = d2.argmin(1)
                    frames.append(
                        pd.DataFrame(
                            {
                                "s": np.full(n * _PQ_SUB, s, dtype="int32"),
                                "c": np.repeat(a.astype("int32"), _PQ_SUB),
                                "p": np.tile(
                                    np.arange(_PQ_SUB, dtype="int32"), n
                                ),
                                "v": X.ravel(),
                            }
                        )
                    )
                yield pd.concat(frames, ignore_index=True)

        means = (
            df.select("embedding")
            .mapInPandas(gen, "s int, c int, p int, v double")
            .groupBy("s", "c", "p")
            .agg(F.avg("v").alias("mn"))
            .collect()
        )
        CB2 = CB.copy()
        for r in means:
            CB2[r.s][r.c][r.p] = r.mn
        CB = CB2
    return CB.tolist()


def pq_codebooks(spark: SparkSession, sf_dir: str) -> list:
    """Load (or train-and-persist) the PQ codebooks for ``sf_dir`` —
    the same artifact contract as ``ivf_centroids``."""

    def train() -> list:
        emb = load_table(spark, sf_dir, "embeddings")
        return train_pq_codebooks(emb.filter(~F.col("vec_id").isin(*_QUERY_IDS)))

    return artifact(
        spark, "pq", sf_dir, "embeddings", f"_m{_PQ_M}_k{_PQ_K}_i{_PQ_ITERS}", train
    )


def _pq_encode_udf(CB):
    """array<float> -> array<int> of m 4-bit codes (one per subspace)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(CB, dtype=np.float64)  # (m, k, sub)
    m, _, sub = C.shape

    @pandas_udf("array<int>")
    def encode(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series([], dtype=object)
        E = np.vstack(emb.to_numpy()).astype(np.float64)
        nrm = np.linalg.norm(E, axis=1, keepdims=True)
        nrm[nrm == 0] = 1.0
        En = E / nrm
        codes = np.empty((len(En), m), dtype="int32")
        for s in range(m):
            X = En[:, s * sub : (s + 1) * sub]
            d2 = (X**2).sum(1)[:, None] - 2.0 * X @ C[s].T + (C[s] ** 2).sum(1)[None, :]
            codes[:, s] = d2.argmin(1)
        return pd.Series([row.tolist() for row in codes])

    return encode


def _pq_lut_udf(CB):
    """Per-query ADC lookup table: flattened (m*k) array where entry
    ``s*k + c`` = dot(normalized query sub-vector s, codebook[s][c])."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(CB, dtype=np.float64)
    m, k, sub = C.shape

    @pandas_udf("array<double>")
    def lut(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series([], dtype=object)
        E = np.vstack(emb.to_numpy()).astype(np.float64)
        nrm = np.linalg.norm(E, axis=1, keepdims=True)
        nrm[nrm == 0] = 1.0
        En = E / nrm
        out = []
        for q in En:
            t = np.empty((m, k))
            for s in range(m):
                t[s] = C[s] @ q[s * sub : (s + 1) * sub]
            out.append(t.ravel().tolist())
        return pd.Series(out)

    return lut


def pq_cand_calibrated(spark: SparkSession, sf_dir: str) -> int:
    """Re-rank budget measured end-to-end on the calibration sample:
    run the REAL ADC scan (same codebooks, same fold) with the ~64
    sampled vectors as queries, find the worst ADC rank any true
    top-k neighbor lands at, and set the budget to 1.5x the p95 of
    those worst ranks — the exact statistic the oversample must
    cover, no noise model in between (FAISS autotune's method).
    Floored at the calibration-scale 160, capped at the corpus size;
    falls back to the size-only fraction rule (pq_cand_budget) when
    the corpus is too small to sample. Persisted as an artifact
    (functions/memo.py) like the codebooks — one n x 64 ADC pass at
    ingest time, never re-paid by a new process."""
    n = corpus_count(spark, sf_dir)
    return artifact(
        spark, "pqbudget", sf_dir, "embeddings", f"_m{_PQ_M}_k{_PQ_K}",
        lambda: int(_pq_budget_compute(spark, sf_dir, n)), decode=int,
    )


def _pq_budget_compute(spark: SparkSession, sf_dir: str, n: int) -> int:
    import numpy as np

    cal = ann_calibration(spark, sf_dir)
    topk = cal.get("topk", {})
    if not topk:
        return pq_cand_budget(n)
    CB = pq_codebooks(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(~F.col("vec_id").isin(*_QUERY_IDS)).select(
        "vec_id", _pq_encode_udf(CB)(F.col("embedding")).alias("codes")
    )
    sample_df = spark.createDataFrame(
        list(zip(cal["sample_ids"], cal["sample_vecs"])),
        "sample_id long, embedding array<float>",
    )
    queries = F.broadcast(
        sample_df.select(
            "sample_id", _pq_lut_udf(CB)(F.col("embedding")).alias("lut")
        )
    )
    adc = F.aggregate(
        F.sequence(F.lit(0), F.lit(_PQ_M - 1)),
        F.lit(0.0),
        lambda acc, s: acc
        + F.element_at(
            F.col("lut"), s * _PQ_K + F.element_at(F.col("codes"), s + 1) + 1
        ),
    )
    aw = Window.partitionBy("sample_id").orderBy(
        F.col("adc").desc(), F.col("vec_id")
    )
    ranked = (
        corpus.crossJoin(queries)
        .select("sample_id", "vec_id", adc.alias("adc"))
        .withColumn("arn", F.row_number().over(aw))
    )
    pairs = spark.createDataFrame(
        [(sid, vid) for sid, vs in topk.items() for vid, _ in vs],
        "sample_id long, vec_id long",
    )
    worst = [
        int(r["worst"])
        for r in ranked.join(F.broadcast(pairs), ["sample_id", "vec_id"])
        .groupBy("sample_id")
        .agg(F.max("arn").alias("worst"))
        .collect()
    ]
    if not worst:
        return pq_cand_budget(n)
    return int(min(n, max(_PQ_CAND, math.ceil(1.5 * np.percentile(worst, 95)))))


def q_similarity_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via product quantization + exact re-rank (raw plan).

    The billion-vector memory layout FAISS calls IVF-less PQ/ADC: each
    corpus vector is stored as m=8 5-bit codes (5 packed bytes instead of 256
    — a ~50x compression), queries score candidates by summing per-
    subspace lookup-table entries (asymmetric distance computation),
    and only the top oversample gets the exact float re-rank.

    Spark shape: codebooks are a persisted index artifact (see
    ``pq_codebooks``); encoding is one Arrow matmul pass; the ADC scan
    itself is PURE Catalyst — the per-query LUT is a broadcast column
    and the code-indexed sum is a higher-order fold over the 8 codes —
    so the hot scan stays in whole-stage codegen reading 4-byte codes,
    exactly the bandwidth story PQ exists for. The output is
    approximate; the REGISTERED ``similarity_ann_pq`` query wraps this
    plan in the hash-checkable recall gate below.

    The re-rank budget is sample-MEASURED (``pq_cand_calibrated``:
    1.5x the p95 worst true-neighbor rank under this exact ADC scan,
    cached per corpus) — a fixed oversample decays with density
    (measured 0.88 -> 0.68 recall by the 3x blowup corpus), and the
    measured budget prunes exactly as hard as the corpus permits
    (floor 160 on duplicate-heavy corpora, up to n on uniform ones
    where a full re-rank is the honest recall~1 answer and is cheap).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    CB = pq_codebooks(spark, sf_dir)
    cand_budget = pq_cand_calibrated(spark, sf_dir)

    corpus = emb.filter(~F.col("vec_id").isin(*_QUERY_IDS)).select(
        "vec_id",
        F.col("embedding").alias("c_emb"),
        _pq_encode_udf(CB)(F.col("embedding")).alias("codes"),
    )
    queries = F.broadcast(
        emb.filter(F.col("vec_id").isin(*_QUERY_IDS)).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            _pq_lut_udf(CB)(F.col("embedding")).alias("lut"),
        )
    )
    # ADC score: sum over subspaces of lut[s*k + code_s] — array fold,
    # no Python in the scan.
    adc = F.aggregate(
        F.sequence(F.lit(0), F.lit(_PQ_M - 1)),
        F.lit(0.0),
        lambda acc, s: acc
        + F.element_at(
            F.col("lut"), s * _PQ_K + F.element_at(F.col("codes"), s + 1) + 1
        ),
    )
    aw = Window.partitionBy("query_id").orderBy(F.col("adc").desc(), F.col("vec_id"))
    cand = (
        corpus.crossJoin(queries)
        .select("query_id", "vec_id", "q_emb", "c_emb", adc.alias("adc"))
        .withColumn("arn", F.row_number().over(aw))
        .filter(F.col("arn") <= cand_budget)
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    return (
        cand.select(
            "query_id", "vec_id", cosine(F.col("q_emb"), F.col("c_emb")).alias("cos_sim")
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
        .select("query_id", "vec_id", "cos_sim", "rank")
    )


PQ_RECALL_FLOOR = 0.70  # measured 0.88 at sf0.01, 0.82 at sf0.001 (uniform vectors = worst case)

register("similarity_ann_pq", oracle=_RECALL_ORACLE, tags=("llm-pipeline",))(
    _recall_query(q_similarity_ann_pq, PQ_RECALL_FLOOR)
)


def tie_aware_recall(ann_fn):
    """Tie-aware ANN recall: an ANN hit counts iff its TRUE cosine is
    >= the query's k-th EXACT cosine — the ann-benchmarks convention.

    The id-based gate (``_recall_query``) undercounts on corpora with
    duplicate or near-tie mass: when many candidates share the k-th
    score, the exact and approximate rankings break the tie
    differently and id-overlap drops even though every retrieved item
    is exactly as close as the "missed" one
    (test_tie_aware_recall_counts_score_parity_not_ids is the
    synthetic witness: 15 identical vectors, id-recall 0.5, tie-aware
    1.0). Measured on the 3x blowup corpus (embeddings replicated
    with unchanged vectors — deliberate duplicate structure, the
    crawl-corpus norm), the two effects separate: LSH id-recall 0.76
    vs tie-aware 0.82, PQ 0.64 vs 0.68 — ties account for the gap
    between the pairs, and the remaining decay vs the sf0.01-
    calibrated floors (0.94 -> 0.82 for LSH across sf0.01 -> sf0.1 ->
    3x) is GENUINE density-driven recall loss of fixed hyperparameters
    on a growing corpus. Both lessons are the at-scale reality:
    gate on score parity, not id parity, and re-tune bands/probes
    (or multi-probe) as the corpus densifies — recall floors are
    calibration-scale-specific, not constants of the algorithm.

    Returns one row: (n_expected, n_hit, recall). Hits are computed by
    rescoring the ANN pairs with the IDENTICAL cosine construction the
    exact baseline uses (same dot/l2_norm expressions), so the ``>=``
    compares bit-equal doubles — no epsilon needed.

    Metric hardening (so recall is bounded by 1.0 for ANY ann_fn, not
    just well-behaved ones): ANN pairs are deduplicated on
    (query_id, vec_id) — a multi-probe/banded union that forgot its
    distinct would otherwise double-count hits; hits are capped at k
    per query by a deterministic window — an ann_fn emitting more than
    k rows per query can contribute at most k hits, mirroring how
    ann-benchmarks scores a k-sized result list; and the candidate
    universe excludes the query ids themselves — q_similarity_topk's
    corpus never contains them, so an ann_fn returning a query as its
    own neighbor (cos=1.0) must not score against an exact set that
    could never hold it.
    """

    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        exact = q_similarity_topk(spark, sf_dir)
        kth = exact.groupBy("query_id").agg(F.min("cos_sim").alias("kth"))
        emb = load_table(spark, sf_dir, "embeddings")
        qs = F.broadcast(
            emb.select(
                F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("q_emb"),
                l2_norm("embedding").alias("q_nrm"),
            )
        )
        cs = emb.filter(~F.col("vec_id").isin(*_QUERY_IDS)).select(
            "vec_id",
            F.col("embedding").alias("c_emb"),
            l2_norm("embedding").alias("c_nrm"),
        )
        d = dot(F.col("q_emb"), F.col("c_emb"))
        true_cos = F.when(
            (F.col("q_nrm") > 0) & (F.col("c_nrm") > 0),
            d / (F.col("q_nrm") * F.col("c_nrm")),
        ).otherwise(F.lit(0.0))
        ann = (
            ann_fn(spark, sf_dir)
            .select("query_id", "vec_id")
            .dropDuplicates(["query_id", "vec_id"])
            .join(qs, "query_id")
            .join(cs, "vec_id")
            .select("query_id", "vec_id", true_cos.alias("true_cos"))
        )
        topw = Window.partitionBy("query_id").orderBy(
            F.col("true_cos").desc(), F.col("vec_id")
        )
        hits = (
            ann.withColumn("_rn", F.row_number().over(topw))
            .filter(F.col("_rn") <= _TOP_K)
            .join(kth, "query_id")
            .where(F.col("true_cos") >= F.col("kth"))
        )
        return (
            exact.agg(F.count("*").alias("n_expected"))
            .crossJoin(hits.agg(F.count("*").alias("n_hit")))
            .select(
                "n_expected",
                "n_hit",
                (F.col("n_hit").cast("double") / F.col("n_expected")).alias(
                    "recall"
                ),
            )
        )

    return q


# --------------------------------------- k-NN majority-vote classification

_KNN_CLASSIFY_ORACLE = f"""
WITH tk AS ({_TOPK_ORACLE.strip()}),
votes AS (
  SELECT t.query_id, e.label, CAST(count(*) AS BIGINT) AS votes
  FROM tk t JOIN embeddings e ON t.vec_id = e.vec_id
  GROUP BY t.query_id, e.label
)
SELECT query_id, label AS predicted_label, votes
FROM (
  SELECT query_id, label, votes,
         ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY votes DESC, label
         ) AS rn
  FROM votes
)
WHERE rn = 1
"""


@register("similarity_knn_classify", oracle=_KNN_CLASSIFY_ORACLE, tags=("llm-pipeline",))
def q_similarity_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN label prediction: majority vote over each query vector's
    exact cosine top-k's ``label`` column (ties break to the smaller
    label — deterministic). The evaluation harness half of similarity
    search: given labeled embeddings, this is how retrieval quality
    (and label propagation for weakly-supervised data curation) gets
    scored.

    Scale: the expensive part IS the top-k (one corpus scan, see
    q_similarity_topk); everything after operates on k rows per query
    — the k-bounded result set BROADCASTS back onto the corpus for
    the label join (map-side, no corpus shuffle), and the vote rollup
    touches k*queries rows. Swap the exact top-k for any ANN variant
    above and the classification layer is unchanged."""
    emb = load_table(spark, sf_dir, "embeddings")
    topk = q_similarity_topk(spark, sf_dir).select("query_id", "vec_id")
    votes = (
        emb.select("vec_id", "label")
        .join(F.broadcast(topk), "vec_id")
        .groupBy("query_id", "label")
        .agg(F.count("*").alias("votes"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("votes").desc(), F.col("label"))
    return (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("query_id", F.col("label").alias("predicted_label"), "votes")
    )


# ------------------------------- per-dimension embedding health audit

_DIM_SCALE = 1_048_576  # 2^20: float32 values quantized to exact bigints


@register(
    "embedding_dim_health",
    oracle=f"""
WITH v AS (
  SELECT i - 1 AS dim,
         CAST(round(CAST(embedding[i] AS DOUBLE) * {_DIM_SCALE}) AS BIGINT) AS q,
         (embedding[i] = 0) AS is_zero
  FROM embeddings, unnest(generate_series(1, len(embedding))) AS u(i)
)
SELECT dim,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN is_zero THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
       CAST(sum(q) AS BIGINT) AS sum_q,
       CAST(sum(q * q) AS BIGINT) AS sum_q2,
       (CAST(sum(q) AS DOUBLE) / count(*)) / {_DIM_SCALE} AS mean,
       (CAST(sum(q * q) AS DOUBLE) / count(*)
         - (CAST(sum(q) AS DOUBLE) / count(*))
           * (CAST(sum(q) AS DOUBLE) / count(*)))
         / ({_DIM_SCALE}.0 * {_DIM_SCALE}.0) AS variance
FROM v
GROUP BY dim
""",
    tags=("llm-pipeline",),
)
def q_embedding_dim_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-DIMENSION embedding health audit: count, zero fraction,
    exact quantized first/second moments, mean and variance for each
    of the vector's coordinates — the check that catches a collapsed
    dimension (variance ~0: dead unit, projector bug, truncated
    export) or a dc-offset dimension before anyone builds an ANN index
    on top of it. Indexes built over collapsed dimensions silently
    lose recall; this is the pre-flight.

    Determinism: each float32 coordinate is quantized once to an exact
    bigint at 2^20 (binary scale — the cast and round are single
    correctly-rounded ops both engines agree on), so the per-dimension
    moment sums are associative integer arithmetic — partitioning-
    independent and value-hash-checkable; mean/variance are then a
    fixed sequence of IEEE double ops on identical operands. Scale:
    one posexplode (rows x dims, map-side), one rollup keyed by the
    perfectly-uniform dim index — no skew by construction, output
    rows = dimensionality."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select(F.posexplode("embedding").alias("dim", "val")).select(
        "dim",
        F.round(F.col("val").cast("double") * _DIM_SCALE).cast("long").alias("q"),
        (F.col("val") == 0).alias("is_zero"),
    )
    n = F.count("*")
    sq = F.sum("q")
    sq2 = F.sum(F.col("q") * F.col("q"))
    mean_q = sq.cast("double") / n
    return v.groupBy("dim").agg(
        n.alias("n"),
        F.sum(F.when(F.col("is_zero"), 1).otherwise(0)).alias("n_zero"),
        sq.alias("sum_q"),
        sq2.alias("sum_q2"),
        (mean_q / _DIM_SCALE).alias("mean"),
        (
            (sq2.cast("double") / n - mean_q * mean_q)
            / (float(_DIM_SCALE) * float(_DIM_SCALE))
        ).alias("variance"),
    )


# --------------------- top principal direction via power iteration

_PCA_ITERS = 6
_PCA_DIM = 64  # embedding dimensionality (embedding_dim_health pins it)


def _pca_oracle() -> str:
    """Chained-CTE replay of the Gram-matrix power iteration: mu from
    exact nano sums, ONE pass of per-row nano-quantized centered
    products into the {d}x{d} Gram matrix, then _PCA_ITERS matvec
    rounds over the constant-size matrix as strict ordered left folds
    (mirroring the Spark driver's explicit-order Python loops). The
    VARCHAR-cast double conversion follows the _MOM_ORACLE note
    (DuckDB's direct HUGEINT->DOUBLE is off an ulp above 2^53; strtod
    is correctly rounded, matching Python's float(int) on the driver
    side). Every CTE is MATERIALIZED: DuckDB otherwise re-inlines the
    6-deep iteration chain exponentially (126 s -> 0.1 s measured)."""
    d = _PCA_DIM
    parts = [
        f"""dims AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings),
mus AS MATERIALIZED (
  SELECT u.d,
         sum(CAST(round(1e9 * CAST(embedding[u.d] AS DOUBLE)) AS BIGINT)) AS sx,
         CAST(count(*) AS BIGINT) AS n
  FROM dims, unnest(range(1, {d} + 1)) u(d)
  GROUP BY u.d
),
murow AS MATERIALIZED (
  SELECT list((CAST(sx AS DOUBLE) / n) / 1e9 ORDER BY d) AS mu,
         any_value(n) AS n
  FROM mus
),
gram AS MATERIALIZED (
  -- round_even mirrors the Spark side's np.rint (half-even); the
  -- 1e9-first multiply association matches (C * 1e9) einsum C
  SELECT p.i, p.j,
         sum(CAST(round_even(1e9 * (CAST(e.embedding[p.i] AS DOUBLE) - m.mu[p.i])
                                 * (CAST(e.embedding[p.j] AS DOUBLE) - m.mu[p.j]), 0)
             AS HUGEINT)) AS g
  FROM dims e CROSS JOIN murow m,
       (SELECT u.i, w.j FROM unnest(range(1, {d} + 1)) u(i),
                             unnest(range(1, {d} + 1)) w(j)) p
  GROUP BY p.i, p.j
),
grow AS MATERIALIZED (
  SELECT i, list(CAST(CAST(g AS VARCHAR) AS DOUBLE) ORDER BY j) AS gr
  FROM gram GROUP BY i
),
gmat AS MATERIALIZED (SELECT list(gr ORDER BY i) AS gm FROM grow),
v0 AS MATERIALIZED (SELECT list_transform(range(1, {d} + 1),
                             j -> 1.0 / sqrt(CAST({d} AS DOUBLE))) AS v)"""
    ]
    prev = "v0"
    for i in range(1, _PCA_ITERS + 1):
        parts.append(f"""t{i} AS MATERIALIZED (
  SELECT list_transform(range(1, {d} + 1),
           i -> list_reduce(list_prepend(0.0::DOUBLE,
                  list_transform(range(1, {d} + 1),
                    j -> g.gm[i][j] * w.v[j])),
                (a, b) -> a + b)) AS t
  FROM gmat g CROSS JOIN {prev} w
),
n{i} AS MATERIALIZED (
  SELECT sqrt(list_reduce(list_prepend(0.0::DOUBLE,
           list_transform(t, x -> x * x)), (a, b) -> a + b)) AS nrm
  FROM t{i}
),
v{i} AS MATERIALIZED (
  -- nrm = 0 (all rows equal mu): keep the prior vector, mirroring the
  -- Spark driver's early break on a degenerate corpus
  SELECT CASE WHEN w.nrm > 0
              THEN list_transform(t.t, x -> x / w.nrm)
              ELSE p.v END AS v
  FROM t{i} t CROSS JOIN n{i} w CROSS JOIN {prev} p
)""")
        prev = f"v{i}"
    last = prev
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT CAST(u.d - 1 AS BIGINT) AS dim,
       CAST(round(1e9 * (CASE WHEN w.v[1] < 0 THEN -w.v[u.d]
                              ELSE w.v[u.d] END)) AS BIGINT) AS loading_nano,
       m.n AS n_vectors
FROM {last} w CROSS JOIN murow m, unnest(range(1, {d} + 1)) u(d)
"""
    )


@register("embedding_top_eigenvector", oracle=_pca_oracle(), tags=("llm-pipeline",))
def q_embedding_top_eigenvector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the (centered) embedding corpus by
    {I} rounds of power iteration — the PCA-lite every embedding-store
    health check wants: the dominant direction exposes a rogue
    systematic component (an un-normalized batch, a collapsed model
    head) that per-dimension moments (embedding_dim_health) cannot
    see because it lives in a linear COMBINATION of dimensions.

    Scale shape (round-6 rework): the {I} distributed matvec passes
    collapsed into ONE corpus pass that partial-aggregates the per-row
    centered outer products into the {D}x{D} Gram matrix — upper
    triangle only ({D}({D}+1)/2 = 2080 map-side-combinable groups,
    symmetric per-row rounding makes the mirror exact — a constant-
    size mergeable summary (the sketch-family property), after which
    all {I} power-iteration rounds are driver arithmetic over the
    2080-entry matrix: TWO corpus passes and TWO bounded syncs total
    (mu, Gram) regardless of iteration count, versus {I}+1 passes and
    {I}+1 syncs before. The Gram pass itself is an Arrow/BLAS stage
    (one einsum per batch, int64 partials out) — the Catalyst explode
    of 2080 structs per row measured ~3x slower (4.6 -> ~1.7 s at
    sf0.1 warm).
    Determinism: every cross-row sum is quantized to integer
    nano-units first (exact + associative, so the result is
    independent of partition order) with HALF-EVEN rounding on both
    engines (np.rint / DuckDB round_even), and the driver's matvec/
    normalization arithmetic (explicit-order Python float folds:
    correctly-rounded int->double, IEEE multiply/add/sqrt/divide) is
    replayed by the oracle's ordered list_reduce folds over
    VARCHAR-cast doubles — bit-identical loadings, sign-fixed on the
    first component. At 1e9+ rows the nano scale would be dropped to
    micro for int64 headroom (the sums here stay under 2^53 so the
    driver's float(int) is exact)."""
    import math

    emb = load_table(spark, sf_dir, "embeddings").select("embedding")
    # no checkpoint: the two passes re-read a narrow column scan, which
    # measures cheaper than materializing the arrays (3.55 vs 3.7 s)
    dims = emb.select(F.posexplode("embedding").alias("d", "x"))
    mu_rows = (
        dims.groupBy("d")
        .agg(
            F.sum(
                F.round(F.lit(1e9) * F.col("x").cast("double")).cast("long")
            ).alias("sx"),
            F.count("*").alias("n"),
        )
        .collect()
    )
    if not mu_rows:
        return spark.createDataFrame(
            [], "dim long, loading_nano long, n_vectors long"
        )
    n = int(mu_rows[0]["n"])
    mu = [0.0] * _PCA_DIM
    for r in mu_rows:
        mu[int(r["d"])] = (float(int(r["sx"])) / n) / 1e9
    mu_arr = F.array(*[F.lit(m) for m in mu])

    # ONE pass: per-row centered outer products, nano-quantized per row
    # (associative int64 sums), partial-aggregated per Arrow batch via
    # BLAS into the 2080-entry upper triangle — the Catalyst explode of
    # 2080 structs per row measured 3x slower than one einsum per
    # batch. Rounding is half-even on BOTH engines (np.rint here,
    # round_even in the oracle); the float products keep the
    # (1e9*c_i)*c_j association the oracle replays. The collect is
    # bounded by the SKETCH size, not the corpus (k-means precedent).
    centered = emb.select(
        F.zip_with(
            F.col("embedding"), mu_arr, lambda x, m: x.cast("double") - m
        ).alias("c")
    )
    dim = _PCA_DIM

    def gram_partials(batches):
        import numpy as np
        import pandas as pd_

        iu = np.triu_indices(dim)
        for pdf in batches:
            if not len(pdf):
                continue
            C = np.array(pdf["c"].tolist(), dtype=np.float64)
            S = np.rint(np.einsum("ni,nj->nij", C * 1e9, C)).astype(
                np.int64
            ).sum(axis=0)
            yield pd_.DataFrame(
                {"i": iu[0] + 1, "j": iu[1] + 1, "q": S[iu]}
            )

    g_rows = (
        centered.mapInPandas(gram_partials, schema="i int, j int, q long")
        .groupBy("i", "j")
        .agg(F.sum("q").alias("g"))
        .collect()
    )
    gram = [[0.0] * _PCA_DIM for _ in range(_PCA_DIM)]
    for r in g_rows:
        gij = float(int(r["g"]))
        gram[int(r["i"]) - 1][int(r["j"]) - 1] = gij
        gram[int(r["j"]) - 1][int(r["i"]) - 1] = gij

    v = [1.0 / math.sqrt(float(_PCA_DIM))] * _PCA_DIM
    for _ in range(_PCA_ITERS):
        t = []
        for i in range(_PCA_DIM):
            acc = 0.0
            for j in range(_PCA_DIM):  # explicit order: oracle fold replays it
                acc += gram[i][j] * v[j]
            t.append(acc)
        acc = 0.0
        for x in t:
            acc += x * x
        nrm = math.sqrt(acc)
        if nrm == 0.0:
            break  # degenerate corpus (all rows equal mu): keep prior v
        v = [x / nrm for x in t]
    sign = -1.0 if v[0] < 0 else 1.0
    out = [
        (i, int(_py_round_half_away(1e9 * (sign * v[i]))), n)
        for i in range(_PCA_DIM)
    ]
    return spark.createDataFrame(out, "dim long, loading_nano long, n_vectors long")


def _py_round_half_away(x: float) -> int:
    """round-half-away-from-zero over a double — the same tie rule as
    Spark round() and DuckDB round() (Python's built-in round is
    banker's and would diverge on exact .5)."""
    import math

    return int(math.floor(x + 0.5)) if x >= 0 else -int(math.floor(-x + 0.5))


# --------------------------- MMR diversified re-rank (retrieve-then-rerank)

_MMR_POOL = 20  # retrieval pool per query (the distributed stage's top-k)
_MMR_K = 5      # diversified selections per query


def _mmr_oracle() -> str:
    """Chained-CTE replay of the greedy MMR selection (the k-center
    argmax-chain pattern): cand = exact top-{pool} per query, s1 = the
    pure-relevance pick, then each round carries a running greatest()
    redundancy penalty and picks argmax(0.7*rel - 0.3*pen) with the
    vec_id tie-break. MATERIALIZED per the BPE/PCA note (DuckDB
    re-inlines deep CTE chains exponentially otherwise)."""
    lam = "CAST(0.7 AS DOUBLE)"
    mu = "CAST(0.3 AS DOUBLE)"
    parts = [
        f"""cand AS MATERIALIZED (
  SELECT query_id, vec_id, embedding, rel, rn FROM (
    SELECT q.vec_id AS query_id, c.vec_id, c.embedding,
           {o_cosine('q.embedding', 'c.embedding')} AS rel,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY {o_cosine('q.embedding', 'c.embedding')} DESC, c.vec_id
           ) AS rn
    FROM embeddings q JOIN embeddings c ON c.vec_id NOT IN ({_IDS_SQL})
    WHERE q.vec_id IN ({_IDS_SQL}))
  WHERE rn <= {_MMR_POOL}
),
s1 AS MATERIALIZED (
  SELECT query_id, vec_id, embedding, {lam} * rel AS score
  FROM cand WHERE rn = 1
),
d1 AS MATERIALIZED (
  SELECT c.query_id, c.vec_id, c.embedding, c.rel,
         {o_cosine('c.embedding', 's.embedding')} AS pen
  FROM cand c JOIN s1 s USING (query_id) WHERE c.vec_id <> s.vec_id
)"""
    ]
    for r in range(2, _MMR_K + 1):
        p = r - 1
        parts.append(f"""s{r} AS MATERIALIZED (
  SELECT query_id, vec_id, embedding, score FROM (
    SELECT d.query_id, d.vec_id, d.embedding,
           {lam} * d.rel - {mu} * d.pen AS score,
           ROW_NUMBER() OVER (
             PARTITION BY d.query_id
             ORDER BY {lam} * d.rel - {mu} * d.pen DESC, d.vec_id
           ) AS rw
    FROM d{p} d) WHERE rw = 1
)""")
        if r < _MMR_K:
            parts.append(f"""d{r} AS MATERIALIZED (
  SELECT d.query_id, d.vec_id, d.embedding, d.rel,
         greatest(d.pen, {o_cosine('d.embedding', 's.embedding')}) AS pen
  FROM d{p} d JOIN s{r} s USING (query_id) WHERE d.vec_id <> s.vec_id
)""")
    rows = [
        f"SELECT query_id, CAST({r} AS BIGINT) AS sel_order, vec_id,"
        f" score AS mmr_score FROM s{r}"
        for r in range(1, _MMR_K + 1)
    ]
    return "WITH " + ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(rows)


@register("search_mmr_rerank", oracle=_mmr_oracle(), tags=("llm-pipeline",))
def q_search_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance diversified top-k (Carbonell &
    Goldstein 1998): retrieve an exact top-{P} pool per query
    (distributed — the similarity_topk_bruteforce stage, or any ANN
    variant at scale), then greedily select {K} results maximizing
    0.7*relevance - 0.3*max-similarity-to-already-selected — the
    re-rank that stops near-duplicate corpus items from filling a
    result page or a RAG context window.

    Scale shape: retrieval is the corpus-streaming broadcast-join
    stage; the re-rank touches only the {P}-row pool per query — a
    bounded driver sync (pool x dim doubles, the k-center-coreset
    precedent) followed by O(K*P) driver arithmetic. The greedy
    chain's floats (strict 0.0-init left folds, explicit operation
    order) are replayed by the oracle's chained CTEs bit-identically;
    ties break on vec_id in both engines. At corpus scale the pool
    would come from similarity_ann_* rather than the exact stage; the
    re-rank cost is unchanged (pool-sized, not corpus-sized)."""
    import math

    emb = load_table(spark, sf_dir, "embeddings")
    queries = F.broadcast(
        emb.filter(F.col("vec_id").isin(*_QUERY_IDS)).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            l2_norm("embedding").alias("q_nrm"),
        )
    )
    corpus = emb.filter(~F.col("vec_id").isin(*_QUERY_IDS)).select(
        "vec_id", "embedding", l2_norm("embedding").alias("c_nrm")
    )
    d = dot(F.col("q_emb"), F.col("embedding"))
    cos = F.when(
        (F.col("q_nrm") > 0) & (F.col("c_nrm") > 0),
        d / (F.col("q_nrm") * F.col("c_nrm")),
    ).otherwise(F.lit(0.0))
    w = Window.partitionBy("query_id").orderBy(F.col("rel").desc(), F.col("vec_id"))
    pool_rows = (
        corpus.crossJoin(queries)
        .select("query_id", "vec_id", cos.alias("rel"), "embedding")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _MMR_POOL)
        .select(
            "query_id",
            "vec_id",
            "rel",
            F.transform("embedding", lambda x: x.cast("double")).alias("emb_d"),
        )
        .collect()
    )

    def pycos(a: list[float], b: list[float]) -> float:
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        na = 0.0
        for x in a:
            na += x * x
        nb = 0.0
        for y in b:
            nb += y * y
        if na > 0 and nb > 0:
            return acc / (math.sqrt(na) * math.sqrt(nb))
        return 0.0

    by_q: dict[int, list] = {}
    for r in pool_rows:
        by_q.setdefault(int(r["query_id"]), []).append(
            (int(r["vec_id"]), float(r["rel"]), list(r["emb_d"]))
        )
    out = []
    for qid in sorted(by_q):
        # candidates in vec_id order so strict > keeps the smallest
        # vec_id on bit-equal score ties (the oracle's ROW_NUMBER order)
        cands = sorted(by_q[qid])
        pen = {vid: 0.0 for vid, _, _ in cands}
        remaining = {vid: (rel, e) for vid, rel, e in cands}
        for r in range(1, _MMR_K + 1):
            # round 1 ranks by raw rel (the oracle's rn = 1), later
            # rounds by the MMR score; comparing 0.7*rel in round 1
            # could merge two distinct rels into one rounded float and
            # flip the tie-break
            best_vid, best_key, best_score = None, None, None
            for vid, _, _ in cands:
                if vid not in remaining:
                    continue
                rel = remaining[vid][0]
                score = 0.7 * rel if r == 1 else 0.7 * rel - 0.3 * pen[vid]
                key = rel if r == 1 else score
                if best_key is None or key > best_key:
                    best_vid, best_key, best_score = vid, key, score
            if best_vid is None:
                break
            sel_emb = remaining.pop(best_vid)[1]
            out.append((qid, r, best_vid, best_score))
            for vid, _, _ in cands:
                if vid in remaining:
                    c = pycos(remaining[vid][1], sel_emb)
                    pen[vid] = c if r == 1 else max(pen[vid], c)
    return spark.createDataFrame(
        out, "query_id long, sel_order long, vec_id long, mmr_score double"
    )
