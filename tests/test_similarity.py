from __future__ import annotations

from mapreducegcp_spark.operators.similarity import (
    q_similarity_ann_ivf,
    q_similarity_ann_lsh,
    q_similarity_ann_pq,
)
from mapreducegcp_spark.registry import get_query


def _pairs(df):
    return {(r.query_id, r.vec_id) for r in df.collect()}


def test_bruteforce_topk_shape(spark, sf_dir):
    rows = get_query("similarity_topk_bruteforce").fn(spark, sf_dir).collect()
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == {0, 1, 2, 3, 4}
    for q, rs in by_q.items():
        assert len(rs) == 10
        sims = [r.cos_sim for r in sorted(rs, key=lambda r: r.rank)]
        assert sims == sorted(sims, reverse=True), f"query {q} not rank-ordered"
        assert all(-1.0 <= s <= 1.0 for s in sims)


def test_ann_lsh_recall_against_bruteforce(spark, sf_dir):
    """Random-hyperplane LSH (64 planes, 16 bands x 4 bits) must recover
    most of the exact top-10.  Deterministic planes (splitmix64 mix), so
    the measured 0.94 recall at sf0.01 is stable; assert a safe floor."""
    exact = _pairs(get_query("similarity_topk_bruteforce").fn(spark, sf_dir))
    ann = _pairs(q_similarity_ann_lsh(spark, sf_dir))
    recall = len(exact & ann) / len(exact)
    assert recall >= 0.85, f"ANN recall too low: {recall}"


def test_ann_ivf_recall_against_bruteforce(spark, sf_dir):
    """IVF (k=16 cosine k-means, probe 6 lists) on the driver's
    near-uniform-random embeddings — the adversarial case for IVF —
    still recovers most of the exact top-10 (measured 0.74 at
    sf0.001; deterministic init, so stable). Assert a safe floor."""
    exact = _pairs(get_query("similarity_topk_bruteforce").fn(spark, sf_dir))
    ivf = _pairs(q_similarity_ann_ivf(spark, sf_dir))
    recall = len(exact & ivf) / len(exact)
    assert recall >= 0.6, f"IVF recall too low: {recall}"


def test_nearest_neighbor_is_symmetric_sane(spark, sf_dir):
    nn = get_query("similarity_nearest_neighbor").fn(spark, sf_dir)
    rows = nn.collect()
    n = nn.count()
    assert n == len({r.vec_a for r in rows}), "one NN row per vector"
    assert all(r.vec_a != r.vec_b for r in rows)


def test_ann_pq_recall_against_bruteforce(spark, sf_dir):
    """PQ (8 subspaces x 32 centroids, 16x ADC oversample, exact
    re-rank) on near-uniform embeddings — PQ's worst case — recovers
    most of the exact top-10 (measured 0.82 at sf0.001 / 0.88 at
    sf0.01; deterministic codebook init, so stable)."""
    exact = _pairs(get_query("similarity_topk_bruteforce").fn(spark, sf_dir))
    pq = _pairs(q_similarity_ann_pq(spark, sf_dir))
    recall = len(exact & pq) / len(exact)
    assert recall >= 0.7, f"PQ recall too low: {recall}"


def test_top_eigenvector_recovers_rank1_direction(spark, monkeypatch):
    """A rank-1 centered corpus along (0.6, 0.8): the power iteration
    must recover that direction, sign-fixed positive on the first
    component, to within nano quantization."""
    import mapreducegcp_spark.operators.similarity as sim_mod

    emb = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [3.0, 4.0]), (3, [6.0, 8.0]), (4, [-3.0, -4.0])],
        "vec_id long, embedding array<float>",
    )
    monkeypatch.setattr(sim_mod, "load_table", lambda s, d, n: emb)
    monkeypatch.setattr(sim_mod, "_PCA_DIM", 2)
    rows = {
        r.dim: r
        for r in sim_mod.q_embedding_top_eigenvector(spark, "ignored").collect()
    }
    assert set(rows) == {0, 1} and rows[0].n_vectors == 4
    assert abs(rows[0].loading_nano - 600_000_000) <= 2
    assert abs(rows[1].loading_nano - 800_000_000) <= 2


def test_top_eigenvector_empty_and_degenerate(spark, monkeypatch):
    """Empty corpus -> 0 rows; all-identical corpus (zero variance) ->
    the init vector survives (no NaN, no crash)."""
    import math

    import mapreducegcp_spark.operators.similarity as sim_mod

    monkeypatch.setattr(sim_mod, "_PCA_DIM", 2)
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    monkeypatch.setattr(sim_mod, "load_table", lambda s, d, n: empty)
    assert sim_mod.q_embedding_top_eigenvector(spark, "ignored").count() == 0

    same = spark.createDataFrame(
        [(1, [2.0, 2.0]), (2, [2.0, 2.0])], "vec_id long, embedding array<float>"
    )
    monkeypatch.setattr(sim_mod, "load_table", lambda s, d, n: same)
    rows = {
        r.dim: r.loading_nano
        for r in sim_mod.q_embedding_top_eigenvector(spark, "ignored").collect()
    }
    init = round(1e9 / math.sqrt(2.0))
    assert rows == {0: init, 1: init}


def test_mmr_rerank_diversifies_and_stops_at_pool(spark, monkeypatch):
    """Query [1,0,0]; candidate 10 is most relevant, 11 is its near-
    duplicate, 12 is equally relevant as 11 but orthogonal to 10. Pure
    top-k would return 10 then 11; MMR must pick 12 second (11's
    redundancy penalty ~1, 12's ~0) and 11 third, then stop — pool
    exhausted at 3 < K selections."""
    import mapreducegcp_spark.operators.similarity as sim_mod
    from mapreducegcp_spark.registry import all_queries

    rows = [
        (0, [1.0, 0.0, 0.0], 0),          # the only query id present
        (10, [1.0, 0.99, 0.0], 0),
        (11, [1.0, 1.0, 0.0], 0),         # near-dup of 10
        (12, [1.0, -1.0, 0.0], 0),        # diverse, same relevance as 11
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    monkeypatch.setattr(sim_mod, "load_table", lambda s, d, n: emb)
    out = all_queries()["search_mmr_rerank"].fn(spark, "ignored").collect()
    picks = {r.sel_order: r.vec_id for r in out if r.query_id == 0}
    assert picks == {1: 10, 2: 12, 3: 11}
    assert len(out) == 3  # early break once the pool is exhausted


def test_tie_aware_recall_counts_score_parity_not_ids(spark, monkeypatch):
    """The tie-aware metric must rate an ANN result perfect when every
    retrieved item is exactly as close as the exact top-k (score
    parity), even with ZERO id overlap beyond the forced ties — the
    duplicate-heavy-corpus case (3x blowup: replicated identical
    vectors) where the id-based gate collapses. Corpus: 15 identical
    vectors; exact top-10 takes the lowest ids, the fake ANN returns
    the highest 10 — id recall 0.5, tie-aware 1.0."""
    import mapreducegcp_spark.operators.similarity as sim
    from pyspark.sql import functions as F

    qvecs = [(i, [float(i + 1), 1.0, 0.0, 0.0], 0) for i in range(5)]
    dup = [0.5, 0.5, 0.5, 0.0]
    corpus = [(10 + j, dup, 1) for j in range(15)]
    emb = spark.createDataFrame(
        qvecs + corpus, "vec_id long, embedding array<float>, label int"
    )
    monkeypatch.setattr(sim, "load_table", lambda s, d, n: emb)

    def fake_ann(s, d):
        return (
            emb.filter(F.col("vec_id") >= 15)
            .crossJoin(
                emb.filter(F.col("vec_id") < 5).select(
                    F.col("vec_id").alias("query_id")
                )
            )
            .select("query_id", "vec_id")
        )

    exact = {
        (r.query_id, r.vec_id)
        for r in sim.q_similarity_topk(spark, "ignored").collect()
    }
    ann = {(r.query_id, r.vec_id) for r in fake_ann(spark, "ignored").collect()}
    id_recall = len(exact & ann) / len(exact)
    assert id_recall == 0.5, id_recall  # ids 15-19 overlap, 20-24 don't

    row = sim.tie_aware_recall(fake_ann)(spark, "ignored").collect()[0]
    assert row.n_expected == 50 and row.n_hit == 50 and row.recall == 1.0


def test_tie_aware_recall_bounded_for_pathological_ann(spark, monkeypatch):
    """Metric-hardening witness (ADVICE r6): an ann_fn that emits
    duplicate (query_id, vec_id) rows, MORE than k rows per query, and
    the query as its own neighbor must still score recall <= 1.0 —
    duplicates dedup, hits cap at k per query, and self-pairs fall out
    of the candidate universe exactly as they do in the exact baseline."""
    import mapreducegcp_spark.operators.similarity as sim
    from pyspark.sql import functions as F

    qvecs = [(i, [float(i + 1), 1.0, 0.0, 0.0], 0) for i in range(5)]
    dup = [0.5, 0.5, 0.5, 0.0]
    corpus = [(10 + j, dup, 1) for j in range(15)]
    emb = spark.createDataFrame(
        qvecs + corpus, "vec_id long, embedding array<float>, label int"
    )
    monkeypatch.setattr(sim, "load_table", lambda s, d, n: emb)

    def hostile_ann(s, d):
        all_corpus = emb.select("vec_id").crossJoin(
            emb.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("query_id"))
        ).select("query_id", "vec_id")          # 20 rows/query incl. self
        return all_corpus.unionAll(all_corpus)  # ...each emitted twice

    row = sim.tie_aware_recall(hostile_ann)(spark, "ignored").collect()[0]
    assert row.n_expected == 50
    assert row.n_hit <= 50 and row.recall <= 1.0
    # every true neighbor IS in the hostile result, so after hardening
    # the score should be exactly perfect, not merely bounded
    assert row.recall == 1.0, row


def test_lsh_params_hold_retrieval_and_occupancy_invariants():
    """The LSH hyperparameter derivation is pure arithmetic — pin its
    two design invariants directly at every corpus scale this repo
    exercises (sf0.001 .. the 100x blowup) plus far beyond:

    - retrieval: P(a neighbor at the design cosine shares >=1 probed
      bucket) >= the 0.99 target — the invariant whose absence was
      round 6's measured 0.94 -> 0.82 recall decay;
    - occupancy/selectivity: rows-per-band grow with log2(n), so
      expected bucket occupancy n / 2^r stays within a constant factor
      of the target instead of growing linearly with the corpus.
    """
    import math

    import mapreducegcp_spark.operators.similarity as sim

    prev_r = 0
    for n in (500, 2000, 6000, 20000, 200000, 2_000_000, 50_000_000):
        r, f, b = sim.lsh_params(n)
        p = sim._LSH_DESIGN_P
        hit = sum(
            math.comb(r, i) * p ** (r - i) * (1 - p) ** i for i in range(f + 1)
        )
        retrieval = 1 - (1 - hit) ** b
        assert retrieval >= sim._LSH_TARGET - 1e-9, (n, r, f, b, retrieval)
        assert r >= prev_r, "rows must be monotone in corpus size"
        prev_r = r
        if 4 < r < 12:  # inside the clamp, occupancy tracks the target
            assert n / 2**r <= 4 * sim._LSH_OCCUPANCY, (n, r)
        assert b <= sim._LSH_MAX_BANDS and f <= 2

    # calibration scales keep the frozen 4-bit/no-flip shape
    assert sim.lsh_params(500)[:2] == (4, 0)
    assert sim.lsh_params(2000)[:2] == (4, 0)


def test_ivf_and_pq_params_scale_with_corpus():
    """ivf_params keeps the calibrated 16/6 below 4096 vectors, then
    grows nlist as sqrt(n) at the same probe fraction; pq_cand_budget
    keeps the calibration floor then holds a constant re-rank fraction."""
    import mapreducegcp_spark.operators.similarity as sim

    assert sim.ivf_params(500) == (16, 6)
    assert sim.ivf_params(2000) == (16, 6)
    nlist, nprobe = sim.ivf_params(200_000)
    assert nlist == 447 and nprobe / nlist >= 6 / 16 - 0.01
    assert sim.pq_cand_budget(500) == 160
    assert sim.pq_cand_budget(2000) == 160
    assert sim.pq_cand_budget(20_000) == 1600  # 8% of the corpus


def test_lsh_design_p_measures_corpus_geometry(spark, monkeypatch):
    """The design cosine is MEASURED, not assumed: on a synthetic
    corpus where every sampled vector has >= k exact copies, the
    median k-th-neighbor cosine is 1.0 and p clamps high (few bands,
    no flips); on a corpus of mutually-orthogonal vectors the k-th
    cosine is ~0 and p falls to ~0.5 (clamped 0.55 -> max probes)."""
    import mapreducegcp_spark.operators.similarity as sim
    from pyspark.sql import functions as F

    # 20 distinct vectors x 12 exact copies each (ids past the query set)
    rows = []
    vid = 10
    for g in range(20):
        base = [0.0] * 64
        base[g] = 1.0
        base[g + 20] = 0.5
        for _ in range(12):
            rows.append((vid, base, 0))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    monkeypatch.setattr(sim, "load_table", lambda s, d, n: emb)
    p_dup = sim.lsh_design_p(spark, "synthetic-dup-corpus")
    assert p_dup > 0.95, p_dup
    r, f, b = sim.lsh_params(240, p_dup)
    assert f == 0 and b <= 10, (r, f, b)  # duplicate mass -> cheap index

    # orthogonal corpus: kth cosine 0 -> p ~ 0.5 -> clamp floor, deep probes
    rows2 = [(10 + i, [1.0 if j == i else 0.0 for j in range(64)], 0) for i in range(50)]
    emb2 = spark.createDataFrame(rows2, "vec_id long, embedding array<float>, label int")
    monkeypatch.setattr(sim, "load_table", lambda s, d, n: emb2)
    p_orth = sim.lsh_design_p(spark, "synthetic-orth-corpus")
    assert p_orth < 0.55, p_orth
    r2, f2, b2 = sim.lsh_params(50, p_orth)
    assert (f2, b2) == (0, sim.lsh_params(50, 0.55)[2])  # clamp floor applied


def test_ann_calibrators_fall_back_without_a_sample(spark, monkeypatch):
    """When the corpus is too small to sample (ann_calibration -> {}),
    the PQ budget and IVF probe depth fall back to the size-only
    derivations instead of failing or over-pruning."""
    import mapreducegcp_spark.operators.similarity as sim

    monkeypatch.setattr(sim, "ann_calibration", lambda s, d: {})
    monkeypatch.setattr(sim, "corpus_count", lambda s, d: 2000)
    assert sim.pq_cand_calibrated(spark, "nowhere") == sim.pq_cand_budget(2000)
    C = [[0.0] * 64 for _ in range(16)]
    assert sim.ivf_nprobe_calibrated(spark, "nowhere", C) == sim._IVF_NPROBE


def test_tuned_scalars_persist_like_the_other_ann_artifacts(spark, monkeypatch, tmp_path):
    """The calibrated PQ budget and IVF nprobe must survive process
    death the way the anncal/centroid artifacts do (ADVICE r7: the
    in-process cache alone meant every new process re-paid the full
    n x 64 ADC crossJoin): the first compute writes <key>.json, and a
    cleared memo is served from DISK with the compute function never
    called again."""
    import mapreducegcp_spark.functions.memo as memo
    import mapreducegcp_spark.operators.similarity as sim

    art = tmp_path / "artifacts"
    monkeypatch.setattr(memo, "ARTIFACT_DIR", art)
    monkeypatch.setattr(memo, "_ENTRIES", {})
    monkeypatch.setattr(sim, "corpus_count", lambda s, d: 2000)
    calls = []

    def compute(*args):
        calls.append(1)
        return 37

    monkeypatch.setattr(sim, "_pq_budget_compute", compute)
    monkeypatch.setattr(sim, "_nprobe_compute", compute)
    corpus = tmp_path / "test"
    corpus.mkdir()
    (corpus / "embeddings.parquet").write_bytes(b"x")
    C = [[0.0] * 64 for _ in range(16)]

    assert sim.pq_cand_calibrated(spark, str(corpus)) == 37
    assert sim.ivf_nprobe_calibrated(spark, str(corpus), C) == 37
    assert (art / "pqbudget_test_b1_m8_k32.json").exists()
    assert (art / "nprobe_test_b1_k16.json").exists()
    memo._ENTRIES.clear()  # simulate a new process
    assert sim.pq_cand_calibrated(spark, str(corpus)) == 37
    assert sim.ivf_nprobe_calibrated(spark, str(corpus), C) == 37
    assert len(calls) == 2, "second process must read the artifacts, not recompute"
    # unstattable corpus: compute every time, never persist
    nowhere = str(tmp_path / "nowhere")
    assert sim.pq_cand_calibrated(spark, nowhere) == 37
    assert sim.pq_cand_calibrated(spark, nowhere) == 37
    assert len(calls) == 4
    assert sorted(p.name for p in art.iterdir()) == [
        "nprobe_test_b1_k16.json", "pqbudget_test_b1_m8_k32.json"
    ]


def test_ann_calibration_discovers_prunability(spark):
    """The calibrators must discover what the corpus permits: the
    driver's near-uniform sf0.001 embeddings are UNPRUNABLE at a
    recall~1 target (worst true-neighbor ADC rank spans the corpus,
    so the budget walks up to n and the probe depth to nlist) — the
    no-free-lunch half of the autotune story whose other half is the
    100x duplicate corpus collapsing to budget 160 / nprobe 6
    (measured in SCALE.md)."""
    import mapreducegcp_spark.operators.similarity as sim

    d = "/root/testdata/sf0.001"
    n = sim.corpus_count(spark, d)
    budget = sim.pq_cand_calibrated(spark, d)
    assert sim._PQ_CAND <= budget <= n
    assert budget > sim._PQ_CAND  # uniform corpus: floor cannot hold recall~1
    nlist, _ = sim.ivf_params(n)
    C = sim.ivf_centroids(spark, d, k=nlist)
    nprobe = sim.ivf_nprobe_calibrated(spark, d, C)
    assert sim._IVF_NPROBE <= nprobe <= nlist
