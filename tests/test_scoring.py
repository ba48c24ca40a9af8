"""Scoring UDFs: Jaro-Winkler vs known values, hashed embeddings, combined
score, and the no-per-row-Python policy (SURVEY.md §7.4)."""

import hypothesis.strategies as st
import numpy as np
import pytest
from hypothesis import given, settings
from pyspark.sql import functions as F

from e2e_el_spark.operators.scoring import (
    hash_embed_numpy,
    jaro_winkler,
    score_pairs,
)


def _jaro_winkler_loop(s1: str, s2: str, prefix_scale: float = 0.1) -> float:
    """Oracle: the textbook Jaro-Winkler, its match scan a Python loop over
    each character's window of s2."""
    if s1 == s2:
        return 1.0
    len1, len2 = len(s1), len(s2)
    if len1 == 0 or len2 == 0:
        return 0.0
    window = max(len1, len2) // 2 - 1
    if window < 0:
        window = 0
    match1 = [False] * len1
    match2 = [False] * len2
    matches = 0
    for i, c in enumerate(s1):
        lo = max(0, i - window)
        hi = min(len2, i + window + 1)
        for j in range(lo, hi):
            if not match2[j] and s2[j] == c:
                match1[i] = True
                match2[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    t = 0.0
    k = 0
    for i in range(len1):
        if match1[i]:
            while not match2[k]:
                k += 1
            if s1[i] != s2[k]:
                t += 0.5
            k += 1
    jaro = (matches / len1 + matches / len2 + (matches - t) / matches) / 3.0
    prefix = 0
    for a, b in zip(s1, s2):
        if a == b and prefix < 4:
            prefix += 1
        else:
            break
    return jaro + prefix * prefix_scale * (1.0 - jaro)


# small alphabets force repeated characters (the match-scan's skip-already-
# matched path); the others mix scripts: Cyrillic, Greek, CJK, emoji
_JW_TEXT = st.one_of(
    st.text(alphabet="ab", max_size=12),
    st.text(alphabet="abc de", max_size=24),
    st.text(alphabet="aбвгαβγ中文字😀👍 ", max_size=24),
    st.text(max_size=16),
)


@pytest.mark.parametrize(
    "a,b,expected",
    [
        ("MARTHA", "MARHTA", 0.9611),
        ("DIXON", "DICKSONX", 0.8133),
        ("JELLYFISH", "SMELLYFISH", 0.8963),
        ("abc", "abc", 1.0),
        ("", "abc", 0.0),
        ("abc", "", 0.0),
        ("a", "b", 0.0),
    ],
)
def test_jaro_winkler_known_values(a, b, expected):
    assert jaro_winkler(a, b) == pytest.approx(expected, abs=1e-4)


def test_jaro_winkler_symmetric():
    for a, b in [("amber anchor", "amber anchr"), ("x", "xyz"), ("spark", "spork")]:
        assert jaro_winkler(a, b) == pytest.approx(jaro_winkler(b, a))


@settings(max_examples=400, deadline=None)
@given(_JW_TEXT, _JW_TEXT)
def test_jaro_winkler_equals_textbook_loop(a, b):
    """Bit-identical, not approximately equal: the str.find match scan must
    pick the same matches and run the same float expressions."""
    assert jaro_winkler(a, b) == _jaro_winkler_loop(a, b)
    assert jaro_winkler(b, a) == _jaro_winkler_loop(b, a)
    assert jaro_winkler(a, a + b) == _jaro_winkler_loop(a, a + b)


def test_pair_signals_equal_per_row_signals(spark):
    """The fused UDF's (jw, emb_dot) equal per-row jaro_winkler and the dot
    of float32 hash_embed_numpy rows, None texts scoring as ''. Texts repeat
    across rows, so the batch's distinct-string embedding is exercised."""
    texts_a = ["amber anchor labs", "amber anchor labs", None, "nimbus", "Амбер",
               "αβγ labs", "", "中文字", "amber anchor labs"]
    texts_b = ["amber anchor lab", "zzz corp", "beta", None, "амбер",
               "αβγ lab", "", "中文", "amber anchor labs"]
    rows = [(str(i), x, y) for i, (x, y) in enumerate(zip(texts_a, texts_b))]
    pairs = spark.createDataFrame(rows, "pid string, text_a string, text_b string")
    got = {
        r.pid: (r.jw, r.emb_dot)
        for r in score_pairs(pairs.repartition(3), tfidf_col=None).collect()
    }
    a = [x or "" for x in texts_a]
    b = [y or "" for y in texts_b]
    ea = hash_embed_numpy(a).astype(np.float32)
    eb = hash_embed_numpy(b).astype(np.float32)
    dots = np.einsum("ij,ij->i", ea, eb)
    want = {
        str(i): (jaro_winkler(x, y), float(d))
        for i, (x, y, d) in enumerate(zip(a, b, dots))
    }
    assert got == want


def test_hash_embed_properties():
    m = hash_embed_numpy(["amber anchor labs", "amber anchor labs", "Amber  Anchor labs", "zzz qqq"])
    # unit norm
    np.testing.assert_allclose(np.linalg.norm(m, axis=1), 1.0, rtol=1e-9)
    # deterministic + whitespace/case-normalized
    np.testing.assert_allclose(m[0], m[1])
    np.testing.assert_allclose(m[0], m[2])
    # unrelated text far away
    assert m[0] @ m[3] < 0.5
    # near-duplicate surface close
    m2 = hash_embed_numpy(["amber anchor labs", "amber anchor lab"])
    assert m2[0] @ m2[1] > 0.8


def test_score_pairs_ordering(spark):
    pairs = spark.createDataFrame(
        [
            ("m1", "e1", "amber anchor labs", "amber anchor labs", 1.0),
            ("m1", "e2", "amber anchor labs", "zzz unrelated corp", 0.0),
        ],
        "mention_id string, entity_id string, text_a string, text_b string, tfidf_cos double",
    )
    got = {r.entity_id: r for r in score_pairs(pairs).collect()}
    assert got["e1"].jw == pytest.approx(1.0)
    assert got["e1"].emb_dot == pytest.approx(1.0, abs=1e-6)
    assert got["e1"].score > got["e2"].score + 0.4
    assert 0.0 <= got["e2"].score <= 1.0


def test_no_per_row_python_udfs():
    """Engine policy: only pandas_udf / applyInPandas / mapInPandas — never
    row-at-a-time F.udf (SURVEY.md §7.4)."""
    import pathlib
    import re

    pkg = pathlib.Path(__file__).resolve().parent.parent / "e2e_el_spark"
    offenders = []
    for py in pkg.rglob("*.py"):
        src = py.read_text()
        if re.search(r"(?<!pandas_)\budf\s*\(", src.replace("pandas_udf", "PUDF")):
            # any remaining bare `udf(` after masking pandas_udf is a violation
            offenders.append(py.name)
    assert offenders == [], offenders


def test_rerank_cross_exact_match_wins(spark):
    """L3 rerank: the candidate identical to the query context must rank 1;
    k bounds the output; schema gains cross_score + cross_rank."""
    from e2e_el_spark.operators.scoring import rerank_cross

    pairs = spark.createDataFrame(
        [
            ("m1", "E1", "amber anchor labs", "amber anchor labs"),
            ("m1", "E2", "amber anchor labs", "nimbus nickel networks"),
            ("m1", "E3", "amber anchor labs", "amber anchor laboratories"),
            ("m2", "E2", "nimbus nickel", "nimbus nickel networks"),
            ("m2", "E1", "nimbus nickel", "amber anchor labs"),
        ],
        "mention_id string, entity_id string, context string, cand_text string",
    )
    out = rerank_cross(pairs, k=2).collect()
    by_mention = {}
    for r in out:
        by_mention.setdefault(r.mention_id, []).append(r)
    m1 = sorted(by_mention["m1"], key=lambda r: r.cross_rank)
    assert [r.entity_id for r in m1] == ["E1", "E3"]  # exact, then near
    assert m1[0].cross_score > m1[1].cross_score
    assert len(by_mention["m1"]) == 2  # k enforced
    assert by_mention["m2"][0].entity_id == "E2"


def test_rerank_cross_deterministic_and_custom_scorer(spark):
    from e2e_el_spark.operators.scoring import rerank_cross

    pairs = spark.createDataFrame(
        [("m1", f"E{i}", "alpha", "cand " + "x" * i) for i in range(6)],
        "mention_id string, entity_id string, context string, cand_text string",
    )
    a = sorted(map(tuple, rerank_cross(pairs, k=3).collect()))
    b = sorted(map(tuple, rerank_cross(pairs.repartition(5), k=3).collect()))
    assert a == b  # partitioning-independent

    def length_scorer_factory():
        return lambda ta, tb: np.array([float(len(y)) for y in tb])

    out = rerank_cross(pairs, k=1, scorer_factory=length_scorer_factory).collect()
    assert len(out) == 1 and out[0].entity_id == "E5"  # longest candidate wins


def test_score_pairs_keeps_null_text_rows(spark):
    """Rows whose text is NULL must not be dropped (pair_signals_udf scores
    None as '')."""
    from e2e_el_spark.operators.scoring import score_pairs

    pairs = spark.createDataFrame(
        [("a", "alpha", "alpha"), ("b", None, "beta"), ("c", "gamma", None)],
        "pid string, text_a string, text_b string",
    )
    out = score_pairs(pairs, "text_a", "text_b", tfidf_col=None)
    rows = {r.pid: r for r in out.collect()}
    assert set(rows) == {"a", "b", "c"}
    assert all(r.score is not None for r in rows.values())
