"""Pairwise scoring (SURVEY.md §2.11) — Arrow-batched pandas UDFs only.

Three signals per the north star, combined as a weighted column expression
(pattern of LATTE's composite score r = w_f·f + w_g·g,
`/root/reference/LATTE/modeling_LATTE.py:131-177`):

  * Jaro-Winkler surface similarity — not in the reference (its string
    similarity is char-n-gram TF-IDF cosine, C1); Spark's built-in
    ``levenshtein`` is available as a cross-check column.
  * TF-IDF cosine — computed relationally in ``pipeline.candidate_pairs``
    (a gram-key join over ``blocking.tfidf_vectors`` rows).
  * bi-encoder embedding dot product — the reference's dual-encoder score
    (`/root/reference/modeling_DualEncoder.py:44-66`,
    `/root/reference/modeling_E2E_exhaustive.py:147-173`); here a batched
    ``np.einsum`` over Arrow record batches. Test embeddings are
    deterministic hashed char-n-gram vectors (FIXTURES.md §7) so no model
    weights are needed; a real encoder plugs into ``embed_distinct``'s slot
    inside ``pair_signals_udf``, which also computes Jaro-Winkler.

No row-at-a-time Python UDFs anywhere (enforced by a test).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

EMB_DIM = 64

# ---------------------------------------------------------------------------
# Jaro-Winkler
# ---------------------------------------------------------------------------


def jaro_winkler(s1: str, s2: str, prefix_scale: float = 0.1) -> float:
    """Plain-python Jaro-Winkler (standard published formula). ``str.find``
    picks the first unmatched occurrence in the window, as the textbook scan
    does, so results are bit-identical to it (the oracle in the tests)."""
    if s1 == s2:
        return 1.0
    len1, len2 = len(s1), len(s2)
    if len1 == 0 or len2 == 0:
        return 0.0
    window = max(len1, len2) // 2 - 1
    if window < 0:
        window = 0
    match2 = [False] * len2
    matched1 = []  # matched characters of s1, in s1 order
    find = s2.find
    for i, c in enumerate(s1):
        hi = i + window + 1
        j = find(c, i - window if i > window else 0, hi)
        while j >= 0 and match2[j]:
            j = find(c, j + 1, hi)
        if j >= 0:
            match2[j] = True
            matched1.append(c)
    matches = len(matched1)
    if matches == 0:
        return 0.0
    t = 0.0
    for x, y in zip(matched1, [c for c, m in zip(s2, match2) if m]):
        if x != y:
            t += 0.5
    jaro = (matches / len1 + matches / len2 + (matches - t) / matches) / 3.0
    prefix = 0
    for a, b in zip(s1, s2):
        if a == b and prefix < 4:
            prefix += 1
        else:
            break
    return jaro + prefix * prefix_scale * (1.0 - jaro)


# ---------------------------------------------------------------------------
# deterministic hashed "bi-encoder" embeddings
# ---------------------------------------------------------------------------


# gram → blake2b hash memo (r6): the 3-gram universe of real text is tiny
# (a few 10⁴ distinct grams) while the flagship embeds ~10⁵ surfaces ×
# ~40 grams each, so >99% of blake2b calls were recomputing an
# already-seen gram. Module-level (importable module ⇒ survives task
# boundaries under spark.python.worker.reuse) and size-capped like
# wordpiece._MEMO_MAX so an adversarial gram stream cannot grow it
# unboundedly. Pure memoization: embeddings are bit-identical.
_GRAM_HASH_MEMO: dict[str, int] = {}
_GRAM_HASH_MEMO_MAX = 1_000_000


def hash_embed_numpy(texts: "pd.Series | list[str]", dim: int = EMB_DIM) -> np.ndarray:
    """L2-normalized char-3-gram hashing embeddings — a pure function of the
    normalized text, so same-entity surface variants land near each other
    (FIXTURES.md §7). Stands in for the BERT encoder at test scale."""
    memo = _GRAM_HASH_MEMO
    out = np.zeros((len(texts), dim), dtype=np.float64)
    for r, t in enumerate(texts):
        t = (t or "").lower()
        t = " ".join(t.split())
        padded = f"  {t}  "
        for i in range(len(padded) - 2):
            g = padded[i : i + 3]
            hv = memo.get(g)
            if hv is None:
                hv = int.from_bytes(
                    hashlib.blake2b(g.encode(), digest_size=8).digest(), "big"
                )
                if len(memo) < _GRAM_HASH_MEMO_MAX:
                    memo[g] = hv
            out[r, hv % dim] += 1.0 if (hv >> 63) else -1.0
    norms = np.linalg.norm(out, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return out / norms


def embed_distinct(texts: pd.Series) -> np.ndarray:
    """``hash_embed_numpy`` rows for ``texts`` (None → the ''-vector),
    hashing each distinct string once: a batch of pair rows repeats every
    surface, alias and context window many times over."""
    codes, uniq = pd.factorize(texts.fillna(""))
    return hash_embed_numpy(uniq)[codes]


# not a DDL string: parsing one needs a SparkContext, which workers lack
@F.pandas_udf(T.StructType([
    T.StructField("jw", T.DoubleType()), T.StructField("emb_dot", T.DoubleType())
]))
def pair_signals_udf(a: pd.Series, b: pd.Series) -> pd.DataFrame:
    """Both per-pair Python signals in one Arrow pass: Jaro-Winkler per row,
    and the bi-encoder dot of float32 embeddings — one einsum per batch, the
    engine analogue of torch.bmm (`/root/reference/modeling_DualEncoder.py:59`).
    A real encoder replaces ``embed_distinct`` here (load it once per
    executor). None texts score as ''."""
    a, b = a.fillna(""), b.fillna("")
    e = embed_distinct(pd.concat([a, b], ignore_index=True)).astype(np.float32)
    n = len(a)
    return pd.DataFrame(
        {
            "jw": [jaro_winkler(x, y) for x, y in zip(a, b)],
            "emb_dot": np.einsum("ij,ij->i", e[:n], e[n:]).astype(np.float64),
        }
    )


# ---------------------------------------------------------------------------
# combined score
# ---------------------------------------------------------------------------

DEFAULT_WEIGHTS = {"jw": 0.35, "tfidf_cos": 0.3, "emb_dot": 0.35}


def score_pairs(
    pairs: DataFrame,
    text_a: str = "text_a",
    text_b: str = "text_b",
    tfidf_col: str | None = "tfidf_cos",
    weights: dict[str, float] | None = None,
) -> DataFrame:
    """Attach jw, emb_dot, and the weighted combined ``score`` column.

    ``pairs`` must carry the two surface strings; if ``tfidf_col`` is absent
    the TF-IDF component weight is redistributed to the other two signals.
    Both Python signals run as one task per partition of ``pairs``.
    """
    w = dict(weights or DEFAULT_WEIGHTS)
    out = pairs.withColumn(
        "_sig", pair_signals_udf(F.col(text_a), F.col(text_b))
    ).select(*pairs.columns, "_sig.*")
    if tfidf_col is not None and tfidf_col in pairs.columns:
        score = (
            F.col("jw") * F.lit(w["jw"])
            + F.col(tfidf_col) * F.lit(w["tfidf_cos"])
            + F.col("emb_dot") * F.lit(w["emb_dot"])
        )
    else:
        total = w["jw"] + w["emb_dot"]
        score = (
            F.col("jw") * F.lit(w["jw"] / total * (w["jw"] + w["tfidf_cos"] + w["emb_dot"]))
            + F.col("emb_dot") * F.lit(w["emb_dot"] / total * (w["jw"] + w["tfidf_cos"] + w["emb_dot"]))
        )
    return out.withColumn("score", score)


# ---------------------------------------------------------------------------
# L3 cross-encoder rerank
# ---------------------------------------------------------------------------


def _marked_span(text: str, ms: str = "[Ms] ", me: str = " [Me]") -> str:
    """The [Ms]…[E] marked mention inside a context window, or the whole
    text when no markers are present (bare-surface inputs)."""
    i = text.find(ms)
    if i < 0:
        return text
    j = text.find(me, i + len(ms))
    if j < 0:
        return text
    return text[i + len(ms) : j]


def default_cross_scorer():
    """Deterministic stand-in for the cross-encoder: hashed-char-n-gram
    embeddings of the two texts, scored by their dot product plus a
    Jaro-Winkler term (pairwise, like the real model's joint attention over
    '[CLS] mention-context [SEP] candidate [SEP]'). When text_a is a marked
    P8/P9 context window, the JW term attends to the [Ms]…[Me] span (the
    real model's marker attention, utils_FullTransformer.py:395-470) while
    the embedding dot sees the whole window. A real
    BertForSequenceClassification head (modeling_FullTransformer.py:62-101)
    replaces this factory: load the model HERE (once per partition), score
    the batch inside the returned callable."""

    def score(text_a: pd.Series, text_b: pd.Series) -> np.ndarray:
        ea = embed_distinct(text_a)
        eb = embed_distinct(text_b)
        dots = np.einsum("ij,ij->i", ea, eb)
        jws = np.array(
            [
                jaro_winkler(_marked_span(x or "").lower(), (y or "").lower())
                for x, y in zip(text_a, text_b)
            ]
        )
        return 0.5 * dots + 0.5 * jws

    return score


def cross_scores(
    pairs: DataFrame, text_a: str, text_b: str, scorer_factory=None
) -> DataFrame:
    """``pairs`` plus ``cross_score``: the cross-encoder's score of
    (``text_a``, ``text_b``) per row, in mapInPandas ITERATOR form —
    ``scorer_factory()`` runs once per partition (the model-load site;
    per-batch loading would reload BERT thousands of times), then scores
    whole Arrow batches."""
    from collections.abc import Iterator

    factory = scorer_factory or default_cross_scorer
    out_schema = T.StructType(
        list(pairs.schema.fields) + [T.StructField("cross_score", T.DoubleType())]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        scorer = factory()  # once per partition == once per executor slot
        for pdf in batches:
            pdf = pdf.copy()
            pdf["cross_score"] = scorer(pdf[text_a], pdf[text_b])
            yield pdf

    return pairs.mapInPandas(gen, out_schema)


def rerank_cross(
    pairs: DataFrame,
    id_col: str = "mention_id",
    cand_col: str = "entity_id",
    text_a: str = "context",
    text_b: str = "cand_text",
    k: int = 10,
    scorer_factory=None,
) -> DataFrame:
    """L3: cross-encoder reranking of candidate pairs
    (`/root/reference/modeling_FullTransformer.py:62-101`; pair inputs
    '[CLS] mention window [SEP] entity window [SEP]' built at
    `/root/reference/utils_FullTransformer.py:395-470`).

    ``pairs`` carries one row per (mention, candidate) with the mention's
    context window in ``text_a`` and the candidate's text in ``text_b`` —
    exactly the reference's pair construction, minus the WordPiece ids (F3
    out of scope; the scorer sees the raw strings).

    Scores come from ``cross_scores``. Output adds ``cross_score`` and
    ``cross_rank`` (row_number per mention, ties broken by candidate id) and
    keeps only cross_rank ≤ k. Per-mention candidate lists are small (top-k
    from the retrieval stage), so the rank window shuffles only k rows per
    mention.
    """
    scored = cross_scores(pairs, text_a, text_b, scorer_factory)
    w = Window.partitionBy(id_col).orderBy(F.desc("cross_score"), F.asc(cand_col))
    return (
        scored.withColumn("cross_rank", F.row_number().over(w))
        .filter(F.col("cross_rank") <= k)
    )
