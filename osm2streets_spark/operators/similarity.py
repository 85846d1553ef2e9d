"""Similarity search over the embeddings table (array<float> column).

* brute-force cosine top-k — the correctness baseline, expressed with
  higher-order array functions (zip_with + aggregate → JVM-side, no
  Python) and a rank window.
* LSH-bucketed variant — random-hyperplane signs bucket the vectors; at
  scale candidates come from one equi-join on the bucket key instead of
  the full cross product.
* cosine near-duplicate pairs — embedding analogue of dedup.

Float determinism for the DuckDB oracle: both engines fold the arrays
sequentially in index order in float64, so dot products agree bitwise;
scores are rounded to 6 decimals before ranking/thresholding anyway.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import ArrayType, IntegerType

from ..session import input_rows

DIM = 64

# cosine_pairs compares every row with every other: n²/2 DIM-wide dot
# products. 2,000 rows (sf0.1) took ~28 s on 4 cores, so the ceiling's
# 100x the pairs is ~45 min there; a larger input fails up front
# instead of running for hours. Use ann_topk_lsh at that scale.
COSINE_PAIRS_MAX_ROWS = 20_000


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(F.aggregate(
        a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
    ))


def cosine_pairs(emb: DataFrame, threshold: float = 0.9) -> DataFrame:
    """All-pairs cosine ≥ threshold. O(n²) — the verifier/baseline; the
    LSH variant prunes the join at scale. Raises ValueError when the
    frame's parquet inputs hold more than COSINE_PAIRS_MAX_ROWS rows
    (footer counts, no Spark job; a filtered frame is judged by its
    inputs). A frame with no parquet input is not checked."""
    n = input_rows(emb)
    if n > COSINE_PAIRS_MAX_ROWS:
        raise ValueError(
            f"cosine_pairs: {n} input rows exceed COSINE_PAIRS_MAX_ROWS="
            f"{COSINE_PAIRS_MAX_ROWS}; the all-pairs join would compare "
            f"{n * (n - 1) // 2} pairs. Use ann_topk_lsh at this scale.")
    v = emb.select(
        "vec_id", "embedding", _norm(F.col("embedding")).alias("nrm"))
    a = v.alias("a")
    b = v.alias("b")
    cos = _dot(F.col("a.embedding"), F.col("b.embedding")) \
        / (F.col("a.nrm") * F.col("b.nrm"))
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(F.col("a.vec_id").alias("vec_a"),
                F.col("b.vec_id").alias("vec_b"),
                F.round(cos, 6).alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


def cosine_pairs_oracle_sql(emb_table: str, threshold: float = 0.9) -> str:
    dot = ("list_reduce([0.0] || [cast(a.embedding[i] as double) * "
           "cast(b.embedding[i] as double) for i in generate_series(1, "
           f"{DIM})], (x, y) -> x + y)")
    nrm = ("sqrt(list_reduce([0.0] || [cast({t}.embedding[i] as double) * "
           "cast({t}.embedding[i] as double) for i in generate_series(1, "
           f"{DIM})], (x, y) -> x + y))")
    return f"""
      select a.vec_id as vec_a, b.vec_id as vec_b,
             round({dot} / ({nrm.format(t='a')} * {nrm.format(t='b')}), 6)
                 as cosine
      from {emb_table} a join {emb_table} b on a.vec_id < b.vec_id
      where round({dot} / ({nrm.format(t='a')} * {nrm.format(t='b')}), 6)
            >= {threshold}
    """


def ann_topk(emb: DataFrame, k: int = 5, n_queries: int = 32) -> DataFrame:
    """Brute-force cosine top-k of the first n_queries vectors against
    the corpus. Scores rounded to 6 dp before ranking; ties broken by
    neighbor id — fully deterministic across engines."""
    from pyspark.sql import Window

    # r8: norms hoisted into the per-SIDE projections (n_queries + n
    # rows) instead of the per-PAIR expression (n_queries × n rows) —
    # the interpreted higher-order-function fold was the per-pair cost,
    # and 2/3 of it was recomputing the two norms for every pair
    # (guide §1.2 "per-task work"). Same expression over the same
    # array, so the float64 result is bitwise identical.
    q = emb.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        _norm(F.col("embedding")).alias("q_nrm"))
    v = emb.select(F.col("vec_id").alias("neighbor_id"),
                   F.col("embedding").alias("n_emb"),
                   _norm(F.col("embedding")).alias("n_nrm"))
    cos = _dot(F.col("q_emb"), F.col("n_emb")) \
        / (F.col("q_nrm") * F.col("n_nrm"))
    scored = (
        F.broadcast(q).join(v, F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", F.round(cos, 6).alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


def ann_topk_oracle_sql(emb_table: str, k: int = 5, n_queries: int = 32) -> str:
    dot = ("list_reduce([0.0] || [cast(q.embedding[i] as double) * "
           "cast(v.embedding[i] as double) for i in generate_series(1, "
           f"{DIM})], (x, y) -> x + y)")
    nrm = ("sqrt(list_reduce([0.0] || [cast({t}.embedding[i] as double) * "
           "cast({t}.embedding[i] as double) for i in generate_series(1, "
           f"{DIM})], (x, y) -> x + y))")
    return f"""
      with scored as (
        select q.vec_id as query_id, v.vec_id as neighbor_id,
               round({dot} / ({nrm.format(t='q')} * {nrm.format(t='v')}), 6)
                   as cosine
        from {emb_table} q join {emb_table} v on q.vec_id != v.vec_id
        where q.vec_id < {n_queries}
      ),
      ranked as (
        select *, row_number() over (partition by query_id
                   order by cosine desc, neighbor_id asc) as rank
        from scored
      )
      select query_id, rank, neighbor_id, cosine from ranked
      where rank <= {k}
    """


# deterministic random hyperplanes for the LSH variant
_rng = np.random.RandomState(7)
_PLANES = _rng.randn(8, DIM)


@F.pandas_udf(IntegerType())
def _lsh_bucket(embedding: pd.Series) -> pd.Series:
    mats = np.stack([np.asarray(e, dtype=np.float64) for e in embedding])
    # sequential fold over the dimension axis — NOT a matmul — so each
    # plane dot is computed as ((((0+t1)+t2)+...)+t64) in float64,
    # bitwise-identical to DuckDB's list_reduce fold in the oracle
    # (ann_lsh_oracle_sql). BLAS pairwise summation could flip a sign
    # on a near-zero dot and silently change a bucket.
    acc = np.zeros((mats.shape[0], _PLANES.shape[0]))
    for j in range(mats.shape[1]):
        acc += mats[:, j:j + 1] * _PLANES[:, j]
    signs = acc > 0
    buckets = (signs * (1 << np.arange(8))).sum(axis=1)
    return pd.Series(buckets.astype(np.int32))


def ann_lsh_buckets(emb: DataFrame) -> DataFrame:
    """Random-hyperplane LSH bucket id per vector — the scale path:
    candidates = equi-join on bucket, then exact re-rank within bucket."""
    return emb.select("vec_id", _lsh_bucket("embedding").alias("bucket"))


def ann_lsh_oracle_sql(emb_table: str, k: int = 5, n_queries: int = 32) -> str:
    """Exact DuckDB twin of ann_topk_lsh: the seed-7 hyperplane matrix
    is embedded as float64 literals (repr = round-trip exact), bucket =
    Σ 2^i·[dot_i > 0] with the dot folded sequentially — bitwise equal
    to _lsh_bucket's fold — then the same 9-probe candidate expansion
    (own bucket + 8 Hamming-1 flips) and exact cosine re-rank as the
    Spark path. Makes the LSH variant fully checkable, not rows-only."""
    def plane_dot(i: int) -> str:
        # repr(float(x)) not repr(x): numpy>=2 scalar repr is
        # 'np.float64(0.5)', which is invalid SQL; plain-float repr is
        # still a shortest round-trip exact literal
        lits = ", ".join(repr(float(x)) for x in _PLANES[i])
        return (f"list_reduce([0.0] || [cast(embedding[j] as double) * "
                f"([{lits}])[j] for j in generate_series(1, {DIM})], "
                f"(x, y) -> x + y)")

    bucket = " + ".join(
        f"(case when {plane_dot(i)} > 0 then {1 << i} else 0 end)"
        for i in range(8))
    probes = ", ".join(
        ["bucket"] + [f"xor(bucket, {1 << i})" for i in range(8)])
    dot = ("list_reduce([0.0] || [cast(q.q_emb[i] as double) * "
           "cast(v.embedding[i] as double) for i in generate_series(1, "
           f"{DIM})], (x, y) -> x + y)")
    nrm_q = ("sqrt(list_reduce([0.0] || [cast(q.q_emb[i] as double) * "
             "cast(q.q_emb[i] as double) for i in generate_series(1, "
             f"{DIM})], (x, y) -> x + y))")
    nrm_v = ("sqrt(list_reduce([0.0] || [cast(v.embedding[i] as double) * "
             "cast(v.embedding[i] as double) for i in generate_series(1, "
             f"{DIM})], (x, y) -> x + y))")
    return f"""
      with bucketed as (
        select vec_id, embedding, {bucket} as bucket
        from {emb_table}
      ),
      probes as (
        select vec_id as query_id, embedding as q_emb,
               unnest([{probes}]) as bucket
        from bucketed where vec_id < {n_queries}
      ),
      scored as (
        select q.query_id, v.vec_id as neighbor_id,
               round({dot} / ({nrm_q} * {nrm_v}), 6) as cosine
        from probes q join bucketed v using (bucket)
        where q.query_id != v.vec_id
      ),
      ranked as (
        select *, row_number() over (partition by query_id
                   order by cosine desc, neighbor_id asc) as rank
        from scored
      )
      select query_id, rank, neighbor_id, cosine from ranked
      where rank <= {k}
    """


def ann_topk_lsh(emb: DataFrame, k: int = 5, n_queries: int = 32) -> DataFrame:
    """Bucketed ANN: exact cosine re-rank over candidates from the
    query's own bucket plus all 8 Hamming-distance-1 probes (classic
    multiprobe LSH — a sign flip on one hyperplane is the most likely
    miss). Candidates ≈ 9/256 of the corpus per query; recall measured
    in tests/test_similarity_recall.py: high on clustered embeddings,
    intrinsically low on uniform-random vectors whose "neighbors" are
    near-orthogonal (that is the data, not the index)."""
    from pyspark.sql import Window

    # r8: bucket + norm computed once per vector as extra COLUMNS (the
    # old vec_id self-join re-ran the bucket UDF and the scan for both
    # join sides); the tiny bucketed frame is persisted so the q and v
    # branches read one materialization (guide §2.4, §5). Norms hoisted
    # per side exactly as in ann_topk — bitwise-identical expression.
    e = emb.select(
        "vec_id", "embedding",
        _lsh_bucket("embedding").alias("bucket"),
        _norm(F.col("embedding")).alias("nrm")).persist()
    probes = F.array(*(
        [F.col("bucket")] +
        [F.col("bucket").bitwiseXOR(F.lit(1 << i)) for i in range(8)]
    ))
    q = e.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
        F.explode(probes).alias("bucket"))
    v = e.select(F.col("vec_id").alias("neighbor_id"),
                 F.col("embedding").alias("n_emb"),
                 F.col("nrm").alias("n_nrm"), F.col("bucket"))
    cos = _dot(F.col("q_emb"), F.col("n_emb")) \
        / (F.col("q_nrm") * F.col("n_nrm"))
    scored = (
        q.join(v, ["bucket"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", F.round(cos, 6).alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )
