#!/usr/bin/env python
"""Offline ANN index build: train the IVF coarse quantizer and the PQ
subspace codebooks per corpus and persist them under
mapreducegcp_spark/artifacts/.

This is the ingest-time step of the classic IVF layout — the quantizer
is a (k, dim) model artifact built once per corpus, not per query.
Training is deterministic (splitmix64 init, fixed Lloyd rounds), so the
committed artifacts are reproducible from the data.

Usage:
    python tools/build_ivf_index.py [sf_dir ...]
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from mapreducegcp_spark.functions.memo import ARTIFACT_DIR
from mapreducegcp_spark.operators.similarity import (
    corpus_count,
    ivf_centroids,
    ivf_params,
    pq_codebooks,
)
from mapreducegcp_spark.session import get_spark

DEFAULT_DIRS = [
    "/root/testdata/sf0.001",
    "/root/testdata/sf0.01",
    "/root/testdata/sf0.1",
]


def main() -> int:
    dirs = sys.argv[1:] or DEFAULT_DIRS
    spark = get_spark("build-ivf-index")
    for d in dirs:
        nlist, _ = ivf_params(corpus_count(spark, d))
        C = ivf_centroids(spark, d, k=nlist)
        print(f"{d}: IVF {len(C)} centroids x {len(C[0])} dims -> {ARTIFACT_DIR}")
        CB = pq_codebooks(spark, d)
        print(f"{d}: PQ {len(CB)} codebooks x {len(CB[0])} centroids -> {ARTIFACT_DIR}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
