"""Scalar / array column functions (SURVEY.md §2.7) — JVM-side expressions.

Everything here is a pure Column expression (whole-stage-codegen'd); the only
Python-boundary functions in the engine live in ``operators/scoring.py`` as
Arrow-batched pandas UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# A compact English stopword list (style of the reference's inline list at
# /root/reference/candidate_selection.py:7-16; ours is an independent,
# engine-owned list — parity only requires Spark and the SQL oracle to agree).
STOPWORDS = [
    "a", "an", "and", "are", "as", "at", "be", "but", "by", "for", "from",
    "has", "have", "in", "into", "is", "it", "its", "of", "on", "or", "over",
    "that", "the", "to", "under", "was", "were", "will", "with", "about",
    "after", "between",
]


_metric_counter = __import__("itertools").count()


def unique_metric_name(prefix: str) -> str:
    """Process-unique observed-metric name: Spark raises AnalysisException
    when two observe nodes in ONE plan share a name, so operators that
    default-register a named metric (no Observation passed) must suffix it —
    composing the same operator twice in a query (e.g. unioning two
    near-dup runs) is legal."""
    return f"{prefix}#{next(_metric_counter)}"


def remove_stopwords_expr(text_col: str, stopwords: list[str] | None = None) -> str:
    """SQL expr: whitespace-tokenize, drop stopwords, re-join with spaces.

    Mirrors the reference's pre-n-gram stopword filter
    (`/root/reference/candidate_selection.py:116-118`) as a codegen'd
    filter over a split array (P2).
    """
    sw = stopwords if stopwords is not None else STOPWORDS
    arr = "array(" + ",".join("'%s'" % w for w in sw) + ")"
    return (
        f"array_join(filter(split({text_col}, ' '), "
        f"t -> NOT array_contains({arr}, t)), ' ')"
    )


def char_ngrams_expr(text_col: str, n: int, compat: bool = True) -> str:
    """SQL expr producing the char n-grams of ``text_col`` for one ``n``.

    compat=True replicates the reference's loop quirk *exactly*
    (`/root/reference/candidate_selection.py:119-124`):
    ``for pos in range(1, len(s)-n)`` — 0-based python slice positions
    1 .. len-n-1, i.e. the first character's gram and the last gram are
    dropped. In 1-based ``substr`` terms: starts 2 .. len(s)-n.

    compat=False is the standard full sliding window (starts 1 .. len-n+1).
    """
    if compat:
        lo, hi = 2, f"length({text_col}) - {n}"
    else:
        lo, hi = 1, f"length({text_col}) - {n} + 1"
    return (
        f"CASE WHEN ({hi}) >= {lo} THEN "
        f"transform(sequence({lo}, {hi}), i -> substr({text_col}, i, {n})) "
        f"ELSE array() END"
    )


def char_ngrams_all_expr(text_col: str, n_max: int = 5, compat: bool = True) -> str:
    """All char n-grams for n = 1..n_max concatenated into one array."""
    parts = [char_ngrams_expr(text_col, n, compat) for n in range(1, n_max + 1)]
    return "concat(" + ", ".join(parts) + ")"


def cosine_expr(a: str, b: str) -> Column:
    """Cosine similarity of two ARRAY<FLOAT>/ARRAY<DOUBLE> columns, fully
    JVM-side (F5: `/root/reference/candidate_selection.py:178-198`):
    zip_with for the elementwise product, aggregate for the sums."""
    dot = F.expr(f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * y), 0D, (s, v) -> s + v)")
    na = F.expr(f"sqrt(aggregate({a}, 0D, (s, v) -> s + CAST(v AS DOUBLE) * v))")
    nb = F.expr(f"sqrt(aggregate({b}, 0D, (s, v) -> s + CAST(v AS DOUBLE) * v))")
    return dot / (na * nb)


def dot_expr(a: str, b: str) -> Column:
    """Dot product of two array columns (F6, bi-encoder score
    `/root/reference/modeling_DualEncoder.py:59`), JVM-side."""
    return F.expr(f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * y), 0D, (s, v) -> s + v)")


def hyperplane_bucket_expr(
    vec_col: str, n_planes: int, seed: int, dim: int
) -> Column:
    """Random-hyperplane sign bucket of an array<float/double> column —
    deterministic from (seed, plane, dim), dim-INDEPENDENT expression size.

    Plane weights are a generated ``transform(sequence(0, dim-1), d -> …)``
    array (hash-derived uniform in [-1, 1], exactly the per-term constant the
    round-3 form inlined), and each sign bit is one
    ``aggregate(zip_with(vec, plane, …))`` fold — O(n_planes) expression
    nodes total instead of O(dim × n_planes). The round-3 inlined form hit
    analysis-time blowup and codegen fallback (Janino's 64 KB method limit)
    at realistic embedding dims (768-4096 ⇒ 6k-33k terms per bit); this form
    constructs instantly at any dim. The fold adds terms in the same
    left-to-right order as the inlined ``+`` chain, so buckets are
    bit-identical.

    Degenerate input note: a vector whose length ≠ ``dim`` used to raise
    (ANSI ``element_at`` out of bounds); with ``zip_with`` the null padding
    makes every dot NULL, so such rows land in the all-'0' bucket instead —
    mixed-dim inputs are a caller bug either way.
    """
    bits = []
    for p in range(n_planes):
        plane = (
            f"transform(sequence(0, {dim - 1}), d -> "
            f"(pmod(xxhash64({seed}, {p}, d), 2000001) - 1000000) / 1000000.0)"
        )
        dot = (
            f"aggregate(zip_with({vec_col}, {plane}, "
            f"(x, w) -> CAST(x AS DOUBLE) * w), 0D, (s, v) -> s + v)"
        )
        bits.append(f"CASE WHEN ({dot}) >= 0 THEN '1' ELSE '0' END")
    return F.expr("concat(" + ", ".join(bits) + ")")


def mention_window_expr(
    text: str, start: str, end: str, budget: int = 100,
    ms: str = "[Ms]", me: str = "[Me]",
) -> Column:
    """Context window ± budget chars around a mention with boundary markers
    (P8/P9: `/root/reference/utils_DualEncoder.py:111-151`,
    `/root/reference/utils_E2E_exhaustive.py:59-80`)."""
    prefix = F.expr(f"substr({text}, greatest({start} - {budget} + 1, 1), least({start}, {budget}))")
    mention = F.expr(f"substr({text}, {start} + 1, {end} - {start})")
    suffix = F.expr(f"substr({text}, {end} + 1, {budget})")
    return F.concat(prefix, F.lit(f"{ms} "), mention, F.lit(f" {me}"), suffix)


def normalize_entity_id_expr(id_col: str) -> Column:
    """Id normalization (P5): keep the first id of a composite gold id
    split on + or |, then strip a UMLS:/MESH:/OMIM: prefix
    (reference `candidate_selection_ncbi.py:31-34,62-67`,
    `utils_FullTransformer.py:334-338`)."""
    first = F.split(F.col(id_col), r"[+|]").getItem(0)
    return F.regexp_replace(first, r"^(UMLS:|MESH:|OMIM:)", "")
