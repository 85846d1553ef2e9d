"""Measured recall + hot-cap behavior of the three banded-LSH paths at
the bench corpus (round-6 verdict ask #6): dd_minhash_lsh, dd_simhash,
sim_ann_lsh. Proves the MAX_BUCKET caps and the 9-probe expansion don't
silently gut recall as corpus density grows — numbers land in STATUS.md.

Usage: PYTHONPATH=. python scripts/recall_measure.py [sf_dir]
(default /root/testdata/sf0.1)
"""

import json
import sys

import numpy as np

sys.path.insert(0, ".")

from pyspark.sql import functions as F

from osm2streets_spark.session import get_spark
from osm2streets_spark.operators import dedup, similarity


def bucket_stats(buckets_sizes: list[int], n_items: int):
    cap = dedup.MAX_BUCKET
    s = np.array(buckets_sizes or [0])
    cand = int(np.where(s <= cap, s * (s - 1) // 2, s - 1).sum())
    allp = n_items * (n_items - 1) // 2
    return {
        "n_buckets": int(len(s)),
        "max_bucket": int(s.max()),
        "n_over_cap": int((s > cap).sum()),
        "candidate_pairs": cand,
        "candidate_fraction": round(cand / max(allp, 1), 6),
    }


def measure_minhash(spark, docs, n_docs):
    truth = {(r.doc_a, r.doc_b)
             for r in dedup.jaccard_pairs(docs).collect()}
    got = {(r.doc_a, r.doc_b)
           for r in dedup.minhash_lsh_pairs(docs).collect()}
    # bucket census — same construction as minhash_lsh_pairs
    sh = dedup.word_shingles(docs, 3)
    sh_sets = sh.groupBy("doc_id").agg(
        F.collect_list("shingle").alias("sh"))
    sigs = sh_sets.select("doc_id", dedup._minhash_sig("sh").alias("sig"))
    r = dedup.MINHASH_K // dedup.LSH_BANDS
    bands = sigs.select(
        "doc_id",
        F.posexplode(F.expr(
            f"transform(sequence(0, {dedup.LSH_BANDS - 1}), b -> "
            f"hash(slice(sig, b * {r} + 1, {r})))"
        )).alias("band_idx", "band_hash"))
    sizes = [r2.n for r2 in bands.groupBy("band_idx", "band_hash")
             .agg(F.countDistinct("doc_id").alias("n"))
             .where(F.col("n") >= 2).collect()]
    return {
        "truth_pairs": len(truth),
        "lsh_pairs": len(got),
        "recall": round(len(truth & got) / max(len(truth), 1), 4),
        "precision": round(len(truth & got) / max(len(got), 1), 4),
        **bucket_stats(sizes, n_docs),
    }


def measure_simhash(spark, docs, n_docs):
    """Brute-force truth: XOR popcount over every signature pair."""
    sh = dedup.word_shingles(docs, 3)
    sh_sets = sh.groupBy("doc_id").agg(
        F.collect_list("shingle").alias("shs"))
    sigs = sh_sets.select("doc_id",
                          dedup._simhash64("shs").alias("sim")).collect()
    ids = np.array([r.doc_id for r in sigs])
    u = np.array([r.sim for r in sigs], dtype=np.int64).view(np.uint64)
    x = u[:, None] ^ u[None, :]
    ham = np.zeros(x.shape, dtype=np.int16)
    for _ in range(8):
        ham += np.unpackbits((x & np.uint64(0xFF)).astype(np.uint8)
                             .reshape(-1, 1), axis=1).sum(axis=1) \
            .reshape(x.shape).astype(np.int16)
        x = x >> np.uint64(8)
    iu = np.triu_indices(len(u), k=1)
    close = ham[iu] <= 3
    truth = {tuple(sorted((ids[a], ids[b])))
             for a, b in zip(iu[0][close], iu[1][close])}
    got = {tuple(sorted((r.doc_a, r.doc_b)))
           for r in dedup.simhash_pairs(docs).collect()}
    bands = np.stack([(u >> np.uint64(b * 16)) & np.uint64(0xFFFF)
                      for b in range(4)])
    sizes = []
    for b in range(4):
        _, cnt = np.unique(bands[b], return_counts=True)
        sizes += [int(c) for c in cnt if c >= 2]
    return {
        "truth_pairs": len(truth),
        "banded_pairs": len(got),
        "recall": round(len(truth & got) / max(len(truth), 1), 4),
        **bucket_stats(sizes, n_docs),
    }


def measure_ann(spark, emb, label):
    n = emb.count()
    brute = {(r.query_id, r.neighbor_id)
             for r in similarity.ann_topk(emb, k=5).collect()}
    lsh = {(r.query_id, r.neighbor_id)
           for r in similarity.ann_topk_lsh(emb, k=5).collect()}
    # candidate fraction: per-query candidates = members of the 9
    # probed buckets
    b = similarity.ann_lsh_buckets(emb)
    sizes = {r.bucket: r.n for r in
             b.groupBy("bucket").agg(F.count("*").alias("n")).collect()}
    qb = {r.vec_id: r.bucket for r in
          b.where(F.col("vec_id") < 32).collect()}
    cand = 0
    for q, bk in qb.items():
        probes = [bk] + [bk ^ (1 << i) for i in range(8)]
        cand += sum(sizes.get(p, 0) for p in probes)
    return {
        "corpus": label, "n_vectors": int(n),
        "recall_at_5": round(len(brute & lsh) / max(len(brute), 1), 4),
        "mean_candidates_per_query": round(cand / max(len(qb), 1), 1),
        "candidate_fraction": round(cand / max(len(qb) * n, 1), 4),
    }


def clustered_embeddings(spark, n_rows, dim=64, n_clusters=40, seed=3):
    rng = np.random.RandomState(seed)
    centers = rng.randn(n_clusters, dim) * 4.0
    rows = []
    for vid in range(n_rows):
        c = centers[vid % n_clusters]
        rows.append((vid, (c + rng.randn(dim) * 0.3).tolist()))
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>")


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").cache()
    n_docs = docs.count()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()
    n_vec = emb.count()

    out = {"sf_dir": sf_dir, "n_docs": n_docs}
    out["minhash_lsh"] = measure_minhash(spark, docs, n_docs)
    print("minhash:", json.dumps(out["minhash_lsh"]), flush=True)
    out["simhash"] = measure_simhash(spark, docs, n_docs)
    print("simhash:", json.dumps(out["simhash"]), flush=True)
    out["ann_random"] = measure_ann(spark, emb, f"{sf_dir} (uniform)")
    print("ann random:", json.dumps(out["ann_random"]), flush=True)
    clus = clustered_embeddings(spark, n_vec).cache()
    out["ann_clustered"] = measure_ann(
        spark, clus, f"clustered n={n_vec}")
    print("ann clustered:", json.dumps(out["ann_clustered"]), flush=True)
    print("SUMMARY " + json.dumps(out))


if __name__ == "__main__":
    main()
