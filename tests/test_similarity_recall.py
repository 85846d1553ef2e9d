"""Measured recall of the multiprobe LSH ANN against the brute-force
baseline. Two regimes:

* clustered embeddings (the data ANN exists for): recall must be high
* the driver's uniform-random embeddings: top-5 "neighbors" are
  near-orthogonal, so any LSH's recall is intrinsically low — measured
  and floor-asserted so a regression in the index still fails loudly
"""

import numpy as np
import pytest

SF_DIR = "/root/testdata/sf0.01"


def _recall(spark, emb):
    from osm2streets_spark.operators.similarity import (
        ann_topk, ann_topk_lsh,
    )

    brute = {(r["query_id"], r["neighbor_id"])
             for r in ann_topk(emb, k=5).collect()}
    lsh = {(r["query_id"], r["neighbor_id"])
           for r in ann_topk_lsh(emb, k=5).collect()}
    return len(brute & lsh) / max(len(brute), 1)


def test_ann_lsh_recall_clustered(spark):
    """Clustered recall at the sf0.01 corpus SIZE (500 vectors — the
    driver's correctness scale), same generator as
    scripts/recall_measure.py, which also measures the bench corpus
    (sf0.1: recall 0.98 clustered / 1.0 for both text-LSH paths, no
    bucket over cap — BENCH/recall_r07.json)."""
    from scripts.recall_measure import clustered_embeddings

    emb = clustered_embeddings(spark, 500).cache()
    r = _recall(spark, emb)
    assert r >= 0.8, f"clustered recall too low: {r:.3f}"


def test_ann_lsh_recall_random_corpus(spark):
    import os

    if not os.path.exists(f"{SF_DIR}/embeddings.parquet"):
        pytest.skip("driver embeddings table not present")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()
    r = _recall(spark, emb)
    # uniform-random 64-dim vectors: nearest neighbors sit at ~70deg,
    # P(agree on one hyperplane) ~ 0.6, so even 9-probe recall is small
    # by construction. The floor catches index regressions (e.g. broken
    # probes -> near zero), not data hardness.
    assert r >= 0.05, f"LSH recall collapsed: {r:.3f}"


def test_cosine_pairs_row_ceiling(spark, tmp_path, monkeypatch):
    """sim_cosine_pairs, the one all-pairs join, refuses an input over
    COSINE_PAIRS_MAX_ROWS before any Spark job runs; at the ceiling it
    plans and answers as before."""
    import pandas as pd
    from osm2streets_spark.operators import similarity

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(40, similarity.DIM)).astype("float32")
    vecs[1] = vecs[0]                        # one exact pair
    path = str(tmp_path / "embeddings.parquet")
    pd.DataFrame({"vec_id": np.arange(40, dtype="int64"),
                  "embedding": list(vecs)}).to_parquet(path)
    emb = spark.read.parquet(path)

    monkeypatch.setattr(similarity, "COSINE_PAIRS_MAX_ROWS", 39)
    with pytest.raises(ValueError, match="COSINE_PAIRS_MAX_ROWS=39"):
        similarity.cosine_pairs(emb)
    monkeypatch.setattr(similarity, "COSINE_PAIRS_MAX_ROWS", 40)
    pairs = {(r["vec_a"], r["vec_b"])
             for r in similarity.cosine_pairs(emb, 0.999).collect()}
    assert (0, 1) in pairs
