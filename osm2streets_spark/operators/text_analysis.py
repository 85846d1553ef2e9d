"""Text-analysis operators over the documents table — language ID,
quality scoring, token counting, document fingerprinting.

These are the training-data-pipeline additions (beyond the reference's
scope, per the build brief): each is pure Catalyst expressions so the
identical logic is expressible in ANSI SQL for the DuckDB oracle, and
at 100 TB everything stays in whole-stage codegen (no Python).
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import ArrayType, LongType

from .geometry_update import row_udf

# language marker words: tiny deterministic stopword lists per language.
# (A real system ships fasttext/CLD3; the heuristic here is the n-gram/
# stopword-ratio family, SQL-expressible for oracle parity.)
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "a"],
    "es": ["el", "la", "de", "que", "y"],
    "fr": ["le", "la", "et", "les", "des"],
    "de": ["der", "die", "und", "das", "ist"],
}

EN_STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "it"]


def _count_word(col, word: str):
    # count whole-word occurrences: pad text with spaces, count ' w '
    padded = F.concat(F.lit(" "), col, F.lit(" "))
    return (
        (F.length(padded) - F.length(F.replace(padded, F.lit(f" {word} "),
                                               F.lit(""))))
        / (len(word) + 2)
    ).cast("long")


def lang_id(docs: DataFrame) -> DataFrame:
    """Predict language by marker-word counts (argmax, ties broken by
    language code order)."""
    counts = {
        lang: sum([_count_word(F.col("text"), w) for w in words][1:],
                  _count_word(F.col("text"), words[0]))
        for lang, words in LANG_MARKERS.items()
    }
    out = docs.select(
        F.col("doc_id"),
        *[counts[lang].alias(f"n_{lang}") for lang in sorted(LANG_MARKERS)],
    )
    # argmax via greatest + case ladder; earliest language code wins ties
    g = F.greatest(*[F.col(f"n_{l}") for l in sorted(LANG_MARKERS)])
    pred = F.lit("unknown")
    for lang in sorted(LANG_MARKERS, reverse=True):
        pred = F.when((F.col(f"n_{lang}") == g) & (g > 0), F.lit(lang)) \
                .otherwise(pred)
    return out.withColumn("predicted_lang", pred)


def lang_id_oracle_sql(doc_table: str) -> str:
    def cnt(w):
        return (f"cast((length(' ' || text || ' ') - "
                f"length(replace(' ' || text || ' ', ' {w} ', ''))) "
                f"/ {len(w) + 2} as bigint)")

    cols = []
    for lang, words in sorted(LANG_MARKERS.items()):
        expr = " + ".join(cnt(w) for w in words)
        cols.append(f"({expr}) as n_{lang}")
    langs = sorted(LANG_MARKERS)
    g = "greatest(" + ", ".join(f"n_{l}" for l in langs) + ")"
    pred = "'unknown'"
    for lang in sorted(LANG_MARKERS, reverse=True):
        pred = (f"case when n_{lang} = {g} and {g} > 0 "
                f"then '{lang}' else {pred} end")
    return (
        f"with c as (select doc_id, {', '.join(cols)} from {doc_table}) "
        f"select doc_id, {', '.join('n_' + l for l in langs)}, "
        f"{pred} as predicted_lang from c"
    )


def quality_score(docs: DataFrame) -> DataFrame:
    """Length / punctuation / stopword-ratio quality heuristics
    (Gopher/C4-style rules, SQL-expressible)."""
    text = F.col("text")
    n_chars = F.length(text)
    n_tokens = F.size(F.split(text, " "))
    n_stop = sum(
        [_count_word(text, w) for w in EN_STOPWORDS[1:]],
        _count_word(text, EN_STOPWORDS[0]),
    )
    n_alpha = F.length(F.regexp_replace(text, "[^a-zA-Z]", ""))
    out = docs.select(
        "doc_id",
        n_chars.alias("n_chars_m"),
        n_tokens.alias("n_tokens"),
        n_stop.alias("n_stopwords"),
        F.round(n_alpha / F.greatest(n_chars, F.lit(1)), 4).alias("alpha_ratio"),
        F.round(n_stop / F.greatest(n_tokens, F.lit(1)), 4).alias("stop_ratio"),
        F.round(n_chars / F.greatest(n_tokens, F.lit(1)), 4).alias("mean_token_len"),
    )
    keep = (
        (F.col("n_tokens") >= 10)
        & (F.col("stop_ratio") >= 0.01)
        & (F.col("alpha_ratio") >= 0.5)
    )
    return out.withColumn("quality_keep", keep)


def quality_score_oracle_sql(doc_table: str) -> str:
    def cnt(w):
        return (f"cast((length(' ' || text || ' ') - "
                f"length(replace(' ' || text || ' ', ' {w} ', ''))) "
                f"/ {len(w) + 2} as bigint)")

    n_stop = " + ".join(cnt(w) for w in EN_STOPWORDS)
    return f"""
      with c as (
        select doc_id,
               length(text) as n_chars_m,
               len(string_split(text, ' ')) as n_tokens,
               ({n_stop}) as n_stopwords,
               length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) as n_alpha
        from {doc_table}
      )
      select doc_id, n_chars_m, n_tokens, n_stopwords,
             round(n_alpha / greatest(n_chars_m, 1), 4) as alpha_ratio,
             round(n_stopwords / greatest(n_tokens, 1), 4) as stop_ratio,
             round(n_chars_m / greatest(n_tokens, 1), 4) as mean_token_len,
             (n_tokens >= 10
              and round(n_stopwords / greatest(n_tokens, 1), 4) >= 0.01
              and round(n_alpha / greatest(n_chars_m, 1), 4) >= 0.5)
                 as quality_keep
      from c
    """


def token_stats(docs: DataFrame) -> DataFrame:
    """Whitespace tokens + a BPE-ish subword estimate (codepoints/4,
    the common chars-per-token approximation)."""
    text = F.col("text")
    return docs.select(
        "doc_id",
        F.size(F.split(text, " ")).alias("n_ws_tokens"),
        F.ceil(F.length(text) / 4.0).cast("long").alias("n_bpe_est"),
        F.size(F.array_distinct(F.split(text, " "))).alias("n_distinct_tokens"),
    )


def token_stats_oracle_sql(doc_table: str) -> str:
    return f"""
      select doc_id,
             len(string_split(text, ' ')) as n_ws_tokens,
             cast(ceil(length(text) / 4.0) as bigint) as n_bpe_est,
             len(list_distinct(string_split(text, ' '))) as n_distinct_tokens
      from {doc_table}
    """


def vocab_counts_salted(docs: DataFrame) -> DataFrame:
    """Corpus vocabulary counts with EXPLICIT key salting (north_rule):
    token frequencies are Zipf-skewed — 'the' lands on one reducer at
    10^12 docs. Two-level aggregation: partial counts on (token, salt)
    — salt derived from doc_id so the hot key spreads over 16
    reducers — then final sum on token. Result is exactly the unsalted
    count (oracle: plain GROUP BY in DuckDB)."""
    toks = docs.select(
        F.explode(F.split("text", " ")).alias("token"),
        F.pmod(F.xxhash64("doc_id"), F.lit(16)).alias("salt"),
    ).where(F.col("token") != "")
    partial = toks.groupBy("token", "salt").agg(
        F.count(F.lit(1)).alias("_n"))
    return partial.groupBy("token").agg(F.sum("_n").alias("n_occurrences"))


def vocab_counts_oracle_sql(doc_table: str) -> str:
    return f"""
      select t as token, count(*) as n_occurrences
      from (select unnest(string_split(text, ' ')) as t from {doc_table})
      where t != '' group by 1
    """


# --- fingerprinting: MOD-sampled k-gram polynomial hashes ---------------
# (winnowing-family document fingerprint; hash is a base-31 polynomial
#  over character codes mod 2^31-1, identical arithmetic in Spark SQL
#  and DuckDB SQL so the oracle matches bit-for-bit)

FP_K = 8        # k-gram length
FP_MOD = 2147483647   # 2^31 - 1 (fits exactly in doubles/int64 products)
FP_SAMPLE = 16  # keep hashes ≡ 0 (mod 16)


# 31^j mod FP_MOD for the FP_K window positions, highest power first
_FP_POWERS = ((31 ** np.arange(FP_K - 1, -1, -1, dtype=object))
              % FP_MOD).astype(np.int64)


def fingerprint_row(text) -> list[int]:
    """One document's sorted distinct sampled k-gram hashes."""
    text = text or ""
    n = len(text)
    if n < FP_K:
        return []
    codes = np.fromiter((ord(c) for c in text), dtype=np.int64, count=n)
    win = np.lib.stride_tricks.sliding_window_view(codes, FP_K)
    # no overflow: term ≤ 2^31·0x10FFFF ≈ 2^51, sum of 8 ≈ 2^54
    h = (win * _FP_POWERS[None, :]).sum(axis=1) % FP_MOD
    return np.unique(h[h % FP_SAMPLE == 0]).tolist()


def fingerprints(docs: DataFrame) -> DataFrame:
    """Winnowing-style k-gram fingerprints: base-31 polynomial rolling
    hash mod 2^31-1, keeping hashes ≡ 0 (mod 16), distinct per doc.

    Vectorized numpy over sliding codepoint windows: the sequential
    fold ((acc·31+c) mod M per char) equals the dot product with
    precomputed 31^j mod M (modular arithmetic distributes), so the
    whole document hashes in one windows×powers matmul — ~10× the
    Catalyst higher-order-aggregate chain this replaces, which paid an
    O(len·k) substring+lambda interpretation per char. The DuckDB
    oracle keeps the per-char fold; the values are identical."""
    fp = row_udf(fingerprint_row, ArrayType(LongType()))
    return docs.select("doc_id", F.explode(fp("text")).alias("fp_hash"))


def fingerprints_oracle_sql(doc_table: str) -> str:
    return f"""
      with grams as (
        select doc_id,
               unnest(list_distinct(list_filter(
                 [list_reduce(
                    [cast(ascii(substring(text, j, 1)) as bigint)
                     for j in generate_series(i, i + {FP_K} - 1)],
                    (acc, c) -> (acc * 31 + c) % {FP_MOD})
                  for i in generate_series(1, greatest(length(text) - {FP_K} + 1, 0))],
                 h -> h % {FP_SAMPLE} = 0))) as fp_hash
        from {doc_table}
      )
      select doc_id, fp_hash from grams
    """
