"""Deduplication suite over the documents table.

Training-data-pipeline operators (build brief): exact, n-gram Jaccard,
MinHash+LSH, SimHash. Designed for 100 TB:

* exact: one hash aggregation on md5(text) — map-side partial agg.
* n-gram Jaccard: shingle explode → self-join on shingle → pair counts.
  Quadratic in docs-per-shingle; at scale you run it only as the
  verifier behind LSH candidates (dedup_minhash does exactly that).
* MinHash+LSH: signatures in one pandas UDF pass (k permutations over
  word-shingle hashes), banding → candidate pairs via equi-join on
  (band_idx, band_hash) — the classic shuffle-friendly LSH join; then
  exact-Jaccard verification of candidates only.
* SimHash: 64-bit signature per doc; banded equi-join on 16-bit chunks
  finds all pairs within Hamming distance 3 (pigeonhole over 4 bands).
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import ArrayType, LongType

from .geometry_update import row_udf

# shared shingle hashing: base-31 polynomial over characters mod 2^31-1,
# identical in Spark SQL and DuckDB SQL (see text_analysis.fingerprints)
POLY_MOD = 2147483647

# the parameters each operator shares with its DuckDB oracle: word
# n-gram size, Jaccard threshold and SimHash Hamming radius
SHINGLE_N = 3
JACCARD_THRESHOLD = 0.5
MAX_HAMMING = 3


def exact_duplicates(docs: DataFrame) -> DataFrame:
    """Groups of byte-identical texts (hash-groupBy)."""
    return (
        docs.groupBy(F.md5("text").alias("text_md5"))
        .agg(F.count(F.lit(1)).alias("n_dups"),
             F.min("doc_id").alias("representative"))
        .where(F.col("n_dups") >= 2)
    )


def exact_duplicates_oracle_sql(doc_table: str) -> str:
    return f"""
      select md5(text) as text_md5, count(*) as n_dups,
             min(doc_id) as representative
      from {doc_table} group by 1 having count(*) >= 2
    """


# ---------------------------------------------------------------------------
# word shingles + exact Jaccard (the verifier)
# ---------------------------------------------------------------------------

# 31^j mod POLY_MOD for j < 512 (the vectorized word-hash fold)
_P31 = np.array([pow(31, j, POLY_MOD) for j in range(512)], dtype=np.int64)


def shingle_row(text, n) -> list[int]:
    """One document's sorted distinct word n-gram hashes."""
    M = POLY_MOD
    n = int(n)
    words = (text or "").split(" ")
    whs = np.empty(len(words), dtype=np.int64)
    for k, w in enumerate(words):
        L = len(w)
        if L == 0:
            whs[k] = 0
            continue
        if L <= 512:
            codes = np.fromiter(map(ord, w), dtype=np.int64, count=L)
            # vectorized fold: Σ c_j·31^(L-1-j) mod M; terms ≤
            # 2^31·0x10FFFF ≈ 2^52, sum of ≤512 ≈ 2^61 — safe
            whs[k] = int((codes * _P31[:L][::-1]).sum() % M)
        else:
            h = 0
            for c in w:
                h = (h * 31 + ord(c)) % M
            whs[k] = h
    size = len(words)
    if size >= n:
        # full n-grams: acc folds left-to-right over word hashes
        g = whs[: size - n + 1].copy()
        for j in range(1, n):
            g = (g * 31 + whs[j: size - n + 1 + j]) % M
    else:
        h = 0
        for v in whs:
            h = (h * 31 + int(v)) % M
        g = np.array([h], dtype=np.int64)
    return np.unique(g).tolist()


def shingle_arrays(docs: DataFrame, n: int = SHINGLE_N) -> DataFrame:
    """(doc_id, sh: array<long>) — per-doc sorted-distinct shingle set,
    ONE UDF pass. Per-word base-31 char-code hash folded across the
    n-gram; identical arithmetic on the DuckDB side
    (shingles_oracle_cte), so the oracle matches bit-for-bit. Empty
    words hash to 0 on both sides.

    Emitting the per-doc ARRAY (rather than exploded rows) is the
    round-8 shuffle fix: MinHash previously exploded the UDF output and
    re-collected it with a doc_id shuffle + ObjectHashAggregate just to
    get the set back — two exchanges and a whole duplicated UDF subtree
    for a no-op (guide §2.4: remove shuffles outright). Consumers that
    need rows explode this array (word_shingles); consumers that need
    sets (signatures, Jaccard verification via array_intersect) use it
    directly.

    Vectorized numpy (same rewrite as text_analysis.fingerprints): the
    sequential fold equals a powers-of-31 dot product mod M, so word
    hashes and gram folds compute as array ops instead of a Catalyst
    higher-order aggregate interpreting one lambda per character —
    this stage dominated every dedup query's wall time."""
    shingles = row_udf(shingle_row, ArrayType(LongType()))
    return docs.select("doc_id", shingles("text", F.lit(n)).alias("sh"))


def word_shingles(docs: DataFrame, n: int = SHINGLE_N) -> DataFrame:
    """(doc_id, shingle) distinct rows — explode of shingle_arrays."""
    return shingle_arrays(docs, n).select(
        "doc_id", F.explode("sh").alias("shingle"))


def shingles_oracle_cte(doc_table: str) -> str:
    """DuckDB CTE producing the identical (doc_id, shingle) rows."""
    word_hash = (
        f"case when length(words[j]) = 0 then cast(0 as bigint) else "
        f"list_reduce([cast(0 as bigint)] || "
        f"[cast(ascii(substring(words[j], q, 1)) as bigint) "
        f"for q in generate_series(1, length(words[j]))], "
        f"(a, c) -> (a * 31 + c) % {POLY_MOD}) end"
    )
    return f"""
      with w as (
        select doc_id, string_split(text, ' ') as words from {doc_table}
      ),
      sh as (
        select doc_id, unnest(list_distinct([
          list_reduce(
            [cast(0 as bigint)] || [{word_hash}
             for j in generate_series(i, least(i + {SHINGLE_N} - 1,
                                               len(words)))],
            (acc, h) -> (acc * 31 + h) % {POLY_MOD})
          for i in generate_series(
            1, greatest(len(words) - {SHINGLE_N} + 1, 1))]))
          as shingle
        from w
      )
    """


def jaccard_pairs(docs: DataFrame) -> DataFrame:
    """All-pairs n-gram Jaccard ≥ JACCARD_THRESHOLD (exact, via shingle
    self-join). At 100 TB this runs only behind an LSH prefilter.

    r8: shingles compute ONCE (persisted per-doc array frame) instead of
    five independent UDF subtrees — the sizes join reads array lengths
    off the same frame, and the self-join's two sides scan the cache
    (guide §5 caching: reused AND expensive to recompute; the persist
    lives inside the query plan, recomputed fresh every invocation)."""
    sh_arr = shingle_arrays(docs).persist()
    sh = sh_arr.select("doc_id", F.explode("sh").alias("shingle"))
    sizes = sh_arr.select(
        "doc_id", F.size("sh").cast("long").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"),
                 F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    out = (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a")
                   .withColumnRenamed("n_sh", "n_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b")
              .withColumnRenamed("n_sh", "n_b"), "doc_b")
        .withColumn(
            "jaccard",
            F.round(F.col("n_common")
                    / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 4))
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "n_common", "jaccard")
    )
    return out


def jaccard_pairs_oracle_sql(doc_table: str) -> str:
    return shingles_oracle_cte(doc_table) + f"""
      , sizes as (select doc_id, count(*) as n_sh from sh group by 1),
      inter as (
        select a.doc_id as doc_a, b.doc_id as doc_b, count(*) as n_common
        from sh a join sh b
          on a.shingle = b.shingle and a.doc_id < b.doc_id
        group by 1, 2
      )
      select i.doc_a, i.doc_b, i.n_common,
             round(i.n_common / (sa.n_sh + sb.n_sh - i.n_common), 4) as jaccard
      from inter i
      join sizes sa on sa.doc_id = i.doc_a
      join sizes sb on sb.doc_id = i.doc_b
      where round(i.n_common / (sa.n_sh + sb.n_sh - i.n_common), 4)
            >= {JACCARD_THRESHOLD}
    """


# ---------------------------------------------------------------------------
# MinHash + LSH (pandas-UDF signatures, equi-join banding)
# ---------------------------------------------------------------------------

MINHASH_K = 32
LSH_BANDS = 16            # r = 2 rows/band → high recall at τ≥0.5
MERSENNE = (1 << 61) - 1

# deterministic permutation parameters (seeded, stable across runs).
# a < 2^31 and the shingle hash is folded to 32 bits so a*h + b stays
# below 2^64 — the whole signature computes in vectorized uint64
# arithmetic (no Python bignum loop; ~10× on the signature stage).
_rng = np.random.RandomState(42)
_A = _rng.randint(1, 1 << 31, size=MINHASH_K).astype(np.uint64)
_B = _rng.randint(0, MERSENNE, size=MINHASH_K).astype(np.uint64)
_P = np.uint64(MERSENNE)
_MASK32 = np.uint64(0xFFFFFFFF)


def minhash_signature(sh) -> list[int]:
    """MINHASH_K-entry MinHash signature of one shingle set."""
    h = np.asarray(sh, dtype=np.int64).astype(np.uint64) & _MASK32
    if len(h) == 0:
        return [0] * MINHASH_K
    # (len(h), K) permuted hashes, min per permutation column
    m = (h[:, None] * _A[None, :] + _B[None, :]) % _P
    return m.min(axis=0).astype(np.int64).tolist()


_minhash_sig = row_udf(minhash_signature, ArrayType(LongType()))

# Candidate pairs come from ONE hash aggregation per band bucket instead
# of a bands⋈bands self-join: half the shuffles, and the skew story
# becomes explicit. A hot bucket (boilerplate text shared by thousands
# of docs) would make the self-join quadratic in a single task; here
# buckets larger than MAX_BUCKET switch to representative pairing —
# every member pairs with the bucket's min member (n-1 edges).
# Downstream connected-component clustering recovers the identical
# duplicate clusters, without the n²/2 edge blow-up. Buckets at test
# scale are far below the cap, so the verified output is unchanged vs
# the exact oracles.
MAX_BUCKET = 256


def _bucket_pairs(bands: DataFrame, bucket_cols: list[str],
                  member) -> DataFrame:
    """One row per member pair of each band bucket, as a struct column
    `p` = (a, b) with a < b: all pairs in a bucket of at most
    MAX_BUCKET members, else each member paired with the minimum."""
    buckets = bands.groupBy(*bucket_cols).agg(
        F.sort_array(F.collect_set(member)).alias("ids"))
    pairs = F.when(
        F.size("ids") <= MAX_BUCKET,
        F.expr("flatten(transform(ids, (x, i) -> "
               "transform(slice(ids, i + 2, size(ids)), y -> "
               "struct(x as a, y as b))))"),
    ).otherwise(
        F.expr("transform(slice(ids, 2, size(ids)), y -> "
               "struct(ids[0] as a, y as b))"))
    return buckets.where(F.size("ids") >= 2) \
        .select(F.explode(pairs).alias("p"))


def minhash_lsh_pairs(docs: DataFrame) -> DataFrame:
    """LSH candidate generation + exact-Jaccard verification.

    With k=32, b=16, r=2: P(candidate) = 1-(1-s²)^16 → ≥0.99 at s=0.5,
    so verified output equals the exact threshold pairs (the oracle) with
    negligible false-negative probability.

    CONTRACT above the hot-bucket cap: in buckets larger than MAX_BUCKET
    the output switches from exact PAIRS to CLUSTER EDGES — each member
    pairs only with the bucket's min doc_id. A true near-duplicate pair
    (x, y) that co-occurs only in hot buckets and is not similar to the
    representative is then reported via the shared representative (two
    edges), not directly; connected-component clustering downstream
    recovers the same duplicate clusters, but pairwise recall is
    deliberately traded for the n² bound. The DuckDB oracle (exact
    pairs) therefore only matches while every bucket is under the cap —
    true at the driver's correctness scale, asserted for the hot case in
    tests/test_dedup.py.

    r8 plan shape (guide §2.3/§2.4): the per-doc shingle SET computes in
    ONE UDF pass (shingle_arrays, persisted — the round-7 plan ran the
    shingle UDF SIX times and the signature UDF twice); signatures read
    the array directly (the old explode → doc_id-shuffle → collect_list
    round-trip is gone); the small/big bucket branches merge into one
    when/otherwise projection so the bands subtree executes once; and
    verification joins the candidate pairs back to the persisted set
    frame, computing exact Jaccard per pair via array_intersect (set
    semantics — both arrays are distinct) instead of re-deriving
    shingles from raw text on four more scans."""
    sh_arr = shingle_arrays(docs).persist()
    sigs = sh_arr.select("doc_id", _minhash_sig("sh").alias("sig"))
    r = MINHASH_K // LSH_BANDS
    bands = sigs.select(
        "doc_id",
        F.posexplode(
            F.expr(f"transform(sequence(0, {LSH_BANDS - 1}), b -> "
                   f"hash(slice(sig, b * {r} + 1, {r})))")
        ).alias("band_idx", "band_hash"),
    )
    cand = (
        _bucket_pairs(bands, ["band_idx", "band_hash"], "doc_id")
        .select(F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b"))
        .distinct()
    )
    # verify candidates with exact jaccard over the persisted sets
    av = sh_arr.select(F.col("doc_id").alias("doc_a"),
                       F.col("sh").alias("sh_a"))
    bv = sh_arr.select(F.col("doc_id").alias("doc_b"),
                       F.col("sh").alias("sh_b"))
    n_common = F.size(F.array_intersect("sh_a", "sh_b")).cast("long")
    out = (
        cand.join(av, "doc_a").join(bv, "doc_b")
        .withColumn("n_common", n_common)
        .withColumn(
            "jaccard",
            F.round(F.col("n_common")
                    / (F.size("sh_a").cast("long")
                       + F.size("sh_b").cast("long")
                       - F.col("n_common")), 4))
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
    )
    return out


def minhash_lsh_oracle_sql(doc_table: str) -> str:
    """Oracle = exact threshold pairs (LSH recall ≈ 1 by parameter
    choice; verification removes all false positives)."""
    return jaccard_pairs_oracle_sql(doc_table).replace(
        "select i.doc_a, i.doc_b, i.n_common,",
        "select i.doc_a, i.doc_b,", 1)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

_SM1 = np.uint64(0x9E3779B97F4A7C15)
_SM2 = np.uint64(0xBF58476D1CE4E5B9)
_BITS = np.arange(64, dtype=np.uint64)


def simhash(sh) -> int:
    """64-bit SimHash of one shingle set, as a signed long. Vectorized:
    one uint64 matrix per doc (shingles × 64 bits), no per-shingle
    Python loop — same shape as minhash_signature. The splitmix-style
    mix (public constants) is reproduced verbatim in the DuckDB oracle
    via HUGEINT modular arithmetic."""
    if sh is None or len(sh) == 0:
        return 0
    x = np.asarray(sh, dtype=np.int64).astype(np.uint64)
    x = x * _SM1                    # uint64 wraps mod 2^64
    x ^= x >> np.uint64(31)
    x = x * _SM2
    x ^= x >> np.uint64(27)
    bits = (x[:, None] >> _BITS[None, :]) & np.uint64(1)  # (n, 64)
    acc = (bits.astype(np.int64) * 2 - 1).sum(axis=0)
    h = int(((acc > 0).astype(np.uint64) << _BITS).sum(dtype=np.uint64))
    if h >= (1 << 63):
        h -= (1 << 64)              # store as signed 64-bit
    return h


_simhash64 = row_udf(simhash, LongType())


def simhash_pairs(docs: DataFrame) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ MAX_HAMMING, found
    via 4×16-bit bands (pigeonhole: any pair within distance 3 agrees on
    ≥1 of 4 bands). Candidates come from ONE hash aggregation per
    bucket — not a bands⋈bands self-join — with the same MAX_BUCKET
    hot-bucket representative pairing as MinHash-LSH (a boilerplate
    16-bit band value shared by thousands of docs would otherwise go
    quadratic inside a single task). Same above-cap contract as
    minhash_lsh_pairs: hot buckets emit cluster edges (member ↔
    bucket-min), not exact pairs — the pigeonhole exactness guarantee
    holds only below the cap, which is where the DuckDB brute-force
    oracle runs.

    r8: signatures read the per-doc shingle array straight from the one
    UDF pass (no explode → shuffle → collect_list round-trip), and the
    small/big bucket branches are one when/otherwise projection, so the
    whole upstream executes once instead of twice (guide §2.4)."""
    sh_arr = shingle_arrays(docs)
    sigs = sh_arr.select("doc_id", _simhash64("sh").alias("sim"))
    bands = sigs.select(
        "doc_id", "sim",
        F.explode(F.expr(
            "transform(sequence(0, 3), b -> "
            "struct(b as band_idx, "
            "shiftright(sim, b * 16) & 65535 as band_val))"
        )).alias("band"),
    ).select("doc_id", "sim", "band.band_idx", "band.band_val")
    cand = (
        _bucket_pairs(bands, ["band_idx", "band_val"],
                      F.struct("doc_id", "sim"))
        .select(F.col("p.a.doc_id").alias("doc_a"),
                F.col("p.b.doc_id").alias("doc_b"),
                F.col("p.a.sim").alias("sim_a"),
                F.col("p.b.sim").alias("sim_b"))
        .distinct()
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return cand.withColumn("hamming", hamming) \
               .where(F.col("hamming") <= MAX_HAMMING) \
               .select("doc_a", "doc_b", "hamming")


def simhash_oracle_sql(doc_table: str) -> str:
    """Exact DuckDB twin: the 4-band pigeonhole search is EXACT for
    Hamming ≤ 3 (below the hot-bucket cap), so brute-force XOR popcount
    over per-doc signatures — recomputed from the same shingles with
    the same splitmix mix in HUGEINT modular arithmetic — is the
    oracle."""
    m = "18446744073709551616"  # 2^64
    # (a*C) mod 2^64 without overflowing signed INT128: split C into
    # 32-bit halves — ((a*C_hi mod 2^32) << 32 + a*C_lo) mod 2^64
    mul1 = ("((((v * 2654435769::hugeint) % 4294967296::hugeint)"
            " * 4294967296::hugeint + v * 2135587861::hugeint)"
            f" % {m}::hugeint)")
    mul2 = ("((((v * 3210233709::hugeint) % 4294967296::hugeint)"
            " * 4294967296::hugeint + v * 484763065::hugeint)"
            f" % {m}::hugeint)")
    return shingles_oracle_cte(doc_table) + f"""
      , mixed as (
        select doc_id,
               xor(x2, x2 >> 27) as mx
        from (
          select doc_id, {mul2.replace('v', 'xor(x1, x1 >> 31)')} as x2
          from (
            select doc_id, {mul1.replace('v', '(shingle::hugeint)')} as x1
            from sh
          )
        )
      ),
      bits as (
        select doc_id, i,
               sum(case when (mx >> i) & 1 = 1 then 1 else -1 end) as acc
        from mixed, (select unnest(generate_series(0, 63)) as i)
        group by doc_id, i
      ),
      sims as (
        select doc_id,
               sum(case when acc > 0
                   then (1::hugeint << i) else 0::hugeint end) as sim
        from bits group by doc_id
      )
      select a.doc_id as doc_a, b.doc_id as doc_b,
             cast(bit_count(cast(xor(a.sim, b.sim) >> 32 as bigint))
                  + bit_count(cast(xor(a.sim, b.sim)
                                   & 4294967295::hugeint as bigint))
                  as bigint) as hamming
      from sims a join sims b on a.doc_id < b.doc_id
      where bit_count(cast(xor(a.sim, b.sim) >> 32 as bigint))
            + bit_count(cast(xor(a.sim, b.sim)
                             & 4294967295::hugeint as bigint))
            <= {MAX_HAMMING}
    """
