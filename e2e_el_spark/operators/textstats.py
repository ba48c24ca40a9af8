"""Text analysis for training-data pipelines: language-ID, quality scoring,
token counting, document fingerprinting — all JVM-side column expressions
over a documents table (the reference's length audits generalized:
`/root/reference/data/MM_full_CUI/el_data/token_count.py:10-29`,
`/root/reference/utils_E2E_exhaustive.py:280,307-312`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from e2e_el_spark.functions import STOPWORDS

# tiny per-language marker lexicons for the n-gram/function-word heuristic;
# langid here is a cheap prior, not a model (real pipelines plug fastText in
# via a pandas UDF at the same call site)
_LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is", "with", "that"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein"],
    "fr": ["le", "la", "les", "et", "est", "une", "que"],
    "es": ["el", "los", "las", "es", "una", "que", "para"],
}


def _marker_hits(text_col: str, words: list[str]) -> Column:
    arr = "array(" + ",".join(f"'{w}'" for w in words) + ")"
    return F.expr(
        f"size(filter(split(lower({text_col}), ' '), t -> array_contains({arr}, t)))"
    )


def detect_language(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds lang_pred + per-language marker ratios. Pure column arithmetic:
    argmax over function-word hit rates, 'und' (undetermined) when no
    marker fires."""
    out = df
    for lang, words in _LANG_MARKERS.items():
        out = out.withColumn(f"_hits_{lang}", _marker_hits(text_col, words))
    best = F.greatest(*[F.col(f"_hits_{lang}") for lang in _LANG_MARKERS])
    pred = F.lit("und")
    # build reverse so earlier languages win ties deterministically
    for lang in reversed(list(_LANG_MARKERS)):
        pred = F.when(
            (F.col(f"_hits_{lang}") == best) & (best > 0), F.lit(lang)
        ).otherwise(pred)
    out = out.withColumn("lang_pred", pred)
    return out.drop(*[f"_hits_{lang}" for lang in _LANG_MARKERS])


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword-ratio quality signals + a combined
    0..1 quality score (the heuristics C4-style corpora filter on)."""
    toks = f"split({text_col}, ' ')"
    sw = "array(" + ",".join(f"'{w}'" for w in STOPWORDS) + ")"
    out = (
        df.withColumn("n_chars_q", F.length(text_col).cast("bigint"))
        .withColumn("n_tokens", F.expr(f"size({toks})").cast("bigint"))
        .withColumn(
            "mean_token_len",
            F.expr(f"aggregate({toks}, 0D, (s, t) -> s + length(t)) / size({toks})"),
        )
        .withColumn(
            "stopword_ratio",
            F.expr(f"size(filter({toks}, t -> array_contains({sw}, lower(t)))) / size({toks})"),
        )
        .withColumn(
            "punct_ratio",
            (F.length(text_col) - F.length(F.regexp_replace(F.col(text_col), r"[^\w\s]", "")))
            / F.greatest(F.length(text_col), F.lit(1)),
        )
        .withColumn(
            "digit_ratio",
            (F.length(text_col) - F.length(F.regexp_replace(F.col(text_col), r"[0-9]", "")))
            / F.greatest(F.length(text_col), F.lit(1)),
        )
    )
    # simple calibrated combination: long-enough, some stopwords, not
    # punctuation/digit soup
    score = (
        F.when(F.col("n_tokens") >= 10, 0.4).otherwise(F.col("n_tokens") / 25.0)
        + F.least(F.col("stopword_ratio") * 2.0, F.lit(0.3))
        + F.when(F.col("punct_ratio") < 0.2, 0.15).otherwise(0.0)
        + F.when(F.col("digit_ratio") < 0.3, 0.15).otherwise(0.0)
    )
    return out.withColumn("quality_score", F.round(score, 6))


def token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace token count + a BPE-ish subword estimate via regex pieces
    (words, digits runs, punctuation) — the audit the reference prints for
    its 512-token budget (`/root/reference/utils_E2E_exhaustive.py:307-312`)."""
    return (
        df.withColumn("ws_tokens", F.size(F.split(F.col(text_col), r"\s+")).cast("bigint"))
        .withColumn(
            "bpe_ish_tokens",
            F.size(
                F.expr(rf"regexp_extract_all({text_col}, '[a-zA-Z]{{1,8}}|[0-9]{{1,3}}|[^a-zA-Z0-9\\s]', 0)")
            ).cast("bigint"),
        )
        .withColumn("over_512", (F.col("bpe_ish_tokens") > 512))
    )


def fingerprint(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Deterministic 64-bit document fingerprints: full-text hash plus a
    content-normalized hash (lowercased, whitespace-collapsed) — the rolling
    hash family for incremental dedup joins.

    Fingerprints are HASHES, not equality proofs: a 64-bit match has a
    birthday-collision floor (~4·10⁹ docs). For dedup *decisions* use
    dedup.exact_dedup, which groups on (length, two
    independent hashes); fingerprints are for joins, sketches, and change
    detection where a collision is tolerable or re-verified downstream."""
    norm = F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")
    return df.select(
        F.col(id_col),
        F.xxhash64(F.col(text_col)).alias("fp_exact"),
        F.xxhash64(norm).alias("fp_normalized"),
        F.crc32(F.col(text_col).cast("binary")).alias("fp_crc32"),
    )
