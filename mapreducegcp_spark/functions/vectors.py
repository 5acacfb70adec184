"""Vector column functions over array<float>/array<double> embeddings.

All arithmetic is expressed with Spark's higher-order array functions
(``zip_with`` / ``aggregate``) so it runs JVM-side inside codegen, with
a strict left-fold in double precision. The left fold matters: it makes
the result bit-identical to a DuckDB ``list_reduce`` oracle over the
same parquet floats, so similarity queries can be value-hash checked
exactly rather than with tolerances.

The reference has no vector support at all; this is part of the
LLM-pipeline extension surface (north star, SURVEY.md §7 phase 3).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from mapreducegcp_spark.functions.exact import _c


def dot(a: Column | str, b: Column | str) -> Column:
    """Left-fold dot product in double precision."""
    prods = F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: Column | str) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity; 0.0 when either vector has zero norm."""
    d = dot(a, b)
    na, nb = l2_norm(a), l2_norm(b)
    return F.when((na > 0) & (nb > 0), d / (na * nb)).otherwise(F.lit(0.0))


def o_dot(a: str, b: str) -> str:
    """DuckDB oracle twin of ``dot``: the same strict left fold."""
    return (
        f"list_reduce(list_transform(range(1, len({a}) + 1), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (x, y) -> x + y)"
    )


def o_cosine(a: str, b: str) -> str:
    """DuckDB oracle twin of ``cosine`` for nonzero vectors."""
    return f"({o_dot(a, b)} / (sqrt({o_dot(a, a)}) * sqrt({o_dot(b, b)})))"


# DuckDB oracle fragments, kept in lockstep with the fold order above.
DOT_ORACLE_EXPR = (
    "list_reduce(list_transform(list_zip({a}, {b}), "
    "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc, x) -> acc + x)"
)
NORM_ORACLE_EXPR = (
    "sqrt(list_reduce(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
    "(acc, x) -> acc + x))"
)


PAIR_BLOCKS = 4  # default block count for the all-pairs block join


def blas_pair_candidates(
    emb_df,
    threshold: float | None = None,
    margin: float = 1e-6,
    n_blocks: int = PAIR_BLOCKS,
) -> "DataFrame":
    """Distributed BLAS prefilter for exact all-pairs cosine operators.

    The exact O(n^2) fold evaluation is the correctness contract (it
    hash-matches DuckDB), but evaluating a 64-element interpreted fold
    per pair is ~100x the work of one matmul. This narrows the pair
    space first — fully distributed, nothing touches the driver:

    Every vector is hashed into one of ``n_blocks`` blocks and
    replicated once per block it must meet, keyed by the unordered
    block pair (gi, gj); ``applyInPandas`` then evaluates each block
    pair with one numpy matmul. Shuffle volume is O(n * n_blocks) rows
    and task work is O((n/B)^2 * dim) per block pair — the standard
    blocked all-pairs layout. On a cluster, raise ``n_blocks`` so a
    block fits executor memory (B >= n * dim * 8 / mem_per_task);
    B=32 at 1e6 x 64-d is ~16 MB per side per task. The construction
    is lazy: building the DataFrame launches no Spark job.

    - ``threshold`` mode: emits pairs (a < b) with approx >=
      threshold - margin. Each unordered pair lives in exactly one
      block-pair group, so no cross-group dedup is needed.
    - argmax mode (threshold=None): for each row, every partner within
      ``margin`` of that row's *global* approximate max — a superset
      of the exact argmax. Each block-pair task emits partners within
      ``margin`` of the row's *local* (within-group) max; a global
      max-window then filters to ``margin`` of the global max. The
      local pass cannot lose a qualifying partner: if approx(a,b) >=
      gmax - margin then the local max of a's group with b satisfies
      lmax <= gmax, hence approx(a,b) >= lmax - margin and b is kept.
      The row's true argmax partner IS its group's local max, so the
      max over emitted approx values equals the global max.

    numpy's pairwise-summed dot differs from the strict left fold by
    <1e-12 relative at dim 64, so with margin 1e-6 no qualifying pair
    can be lost; the caller re-scores candidates with the exact fold,
    which alone decides the output (values and ties).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    B = int(n_blocks)

    def gen(pdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame({"vec_a": [], "vec_b": [], "approx": []}).astype(
            {"vec_a": "int64", "vec_b": "int64", "approx": "float64"}
        )
        if len(pdf) == 0:
            return empty
        gi, gj = int(pdf["gi"].iloc[0]), int(pdf["gj"].iloc[0])

        def unit(rows):
            ids = rows["vec_id"].to_numpy().astype("int64")
            E = np.vstack(rows["embedding"].to_numpy()).astype(np.float64)
            n = np.linalg.norm(E, axis=1, keepdims=True)
            n[n == 0] = 1.0
            return ids, E / n

        if gi == gj:
            ids_l, L = unit(pdf)
            ids_r, R = ids_l, L
        else:
            left = pdf[pdf["side"] == gi]
            right = pdf[pdf["side"] == gj]
            if len(left) == 0 or len(right) == 0:
                return empty
            ids_l, L = unit(left)
            ids_r, R = unit(right)
        sims = L @ R.T  # (nl, nr)

        if threshold is not None:
            if gi == gj:
                # symmetric matrix: upper triangle = each pair once
                hit_r, hit_c = np.nonzero(
                    (sims >= threshold - margin) & (ids_l[:, None] < ids_r[None, :])
                )
                va, vb = ids_l[hit_r], ids_r[hit_c]
            else:
                # cross-block: either side may hold the smaller id —
                # emit the unordered pair as (min, max)
                hit_r, hit_c = np.nonzero(sims >= threshold - margin)
                il, ir = ids_l[hit_r], ids_r[hit_c]
                va, vb = np.minimum(il, ir), np.maximum(il, ir)
            return pd.DataFrame(
                {"vec_a": va, "vec_b": vb, "approx": sims[hit_r, hit_c]}
            )
        # argmax mode: per-row local-max candidates, both directions.
        outs = []
        if gi == gj:
            np.fill_diagonal(sims, -np.inf)
            mx = sims.max(axis=1, keepdims=True)
            # isfinite guard: a 1-row block would otherwise match its
            # own -inf diagonal (-inf >= -inf) and emit a self-pair
            hit_r, hit_c = np.nonzero((sims >= mx - margin) & np.isfinite(sims))
            outs.append((ids_l[hit_r], ids_r[hit_c], sims[hit_r, hit_c]))
        else:
            mx = sims.max(axis=1, keepdims=True)
            hit_r, hit_c = np.nonzero(sims >= mx - margin)
            outs.append((ids_l[hit_r], ids_r[hit_c], sims[hit_r, hit_c]))
            mxT = sims.max(axis=0, keepdims=True)
            hit_r, hit_c = np.nonzero(sims >= mxT - margin)
            outs.append((ids_r[hit_c], ids_l[hit_r], sims[hit_r, hit_c]))
        return pd.DataFrame(
            {
                "vec_a": np.concatenate([o[0] for o in outs]),
                "vec_b": np.concatenate([o[1] for o in outs]),
                "approx": np.concatenate([o[2] for o in outs]),
            }
        )

    blk = F.pmod(F.xxhash64("vec_id"), F.lit(B)).cast("int")
    replicated = (
        emb_df.select("vec_id", "embedding", blk.alias("side"))
        .withColumn("o", F.explode(F.sequence(F.lit(0), F.lit(B - 1))))
        .select(
            F.least("side", "o").alias("gi"),
            F.greatest("side", "o").alias("gj"),
            "side",
            "vec_id",
            "embedding",
        )
    )
    cand = replicated.groupBy("gi", "gj").applyInPandas(
        gen, "vec_a long, vec_b long, approx double"
    )
    if threshold is not None:
        return cand.select("vec_a", "vec_b")
    w = Window.partitionBy("vec_a")
    return (
        cand.withColumn("gmax", F.max("approx").over(w))
        .filter(F.col("approx") >= F.col("gmax") - margin)
        .select("vec_a", "vec_b")
    )
