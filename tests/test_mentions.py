"""Gazetteer mention detection: offsets, longest-match, span invariant."""

import logging

from pyspark.sql import functions as F

from e2e_el_spark.operators import mentions
from e2e_el_spark.operators.mentions import (
    candidate_spans,
    detect_mentions,
    tokenize_with_offsets,
)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _exhaustive_reference(docs, gaz, max_tokens=4):
    """The match both detector forms are checked against, with no anchor
    gating anywhere: every :func:`candidate_spans` window joined on
    JVM-lowered text to the min entity per lowered alias, then the
    longest-match prune (a match goes iff another match of its doc starts
    at-or-before and ends at-or-after it) and content mention ids."""
    spans = candidate_spans(tokenize_with_offsets(docs), max_tokens)
    gaz = gaz.groupBy(F.lower("alias").alias("_k")).agg(
        F.min("entity_id").alias("gazetteer_entity_id")
    )
    found = spans.join(gaz, F.lower(spans["text"]) == gaz["_k"]).collect()
    return sorted(
        (f"{m.document_id}#{m.start_index}-{m.end_index}", m.document_id,
         m.start_index, m.end_index, m.text, m.gazetteer_entity_id)
        for m in found
        if not any(
            o.document_id == m.document_id and o is not m
            and o.start_index <= m.start_index and o.end_index >= m.end_index
            for o in found
        )
    )


def _fused_and_fallback(monkeypatch, docs, gaz, max_tokens=4):
    """detect_mentions' rows from the fused matcher and from the window
    fallback (reached with FUSED_MAX_ALIASES at 0); each plan is checked to
    be the form it claims."""
    fused = detect_mentions(docs, gaz, max_tokens)
    with monkeypatch.context() as m:
        m.setattr(mentions, "FUSED_MAX_ALIASES", 0)
        fallback = detect_mentions(docs, gaz, max_tokens)
    assert "MapInPandas" in _plan(fused)
    assert "MapInPandas" not in _plan(fallback)
    return _rows(fused), _rows(fallback)


def test_tokenize_offsets_exact(spark):
    docs = spark.createDataFrame(
        [("d1", "alpha beta\ngamma")], "document_id string, text string"
    )
    got = sorted(
        (r.pos, r.token, r.start, r.end) for r in tokenize_with_offsets(docs).collect()
    )
    assert got == [(0, "alpha", 0, 5), (1, "beta", 6, 10), (2, "gamma", 11, 16)]


def test_candidate_spans_cover_ngrams(spark):
    docs = spark.createDataFrame([("d1", "a b c")], "document_id string, text string")
    toks = tokenize_with_offsets(docs)
    got = {(r.start_index, r.end_index, r.text) for r in candidate_spans(toks, 2).collect()}
    assert got == {
        (0, 1, "a"), (2, 3, "b"), (4, 5, "c"),
        (0, 3, "a b"), (2, 5, "b c"),
    }


def test_spans_never_cross_line_boundaries(spark):
    """A span joining tokens across '\\n' would break the substring
    invariant (separator was not ' ') and enable spurious cross-sentence
    gazetteer matches."""
    text = "alpha beta\ngamma delta"
    docs = spark.createDataFrame([("d1", text)], "document_id string, text string")
    spans = candidate_spans(tokenize_with_offsets(docs), 3).collect()
    for r in spans:
        assert text[r.start_index : r.end_index] == r.text, r
    assert all("beta gamma" not in r.text for r in spans)
    # multi-word alias split by the newline must not match
    gaz = spark.createDataFrame(
        [("e1", "beta gamma")], "entity_id string, alias string"
    )
    assert detect_mentions(docs, gaz).count() == 0


def test_detect_mentions_span_invariant_and_longest_match(spark):
    docs = spark.createDataFrame(
        [("d1", "visit amber anchor labs today")], "document_id string, text string"
    )
    gaz = spark.createDataFrame(
        [("e1", "amber anchor labs"), ("e2", "amber anchor"), ("e3", "today")],
        "entity_id string, alias string",
    )
    got = detect_mentions(docs, gaz).collect()
    by_ent = {r.gazetteer_entity_id: r for r in got}
    # longest match wins: e2's nested "amber anchor" pruned
    assert set(by_ent) == {"e1", "e3"}
    # span invariant (reference assertion utils_E2E_exhaustive.py:92-94)
    text = "visit amber anchor labs today"
    for r in got:
        assert text[r.start_index : r.end_index] == r.text


def test_detect_mentions_case_insensitive(spark):
    docs = spark.createDataFrame(
        [("d1", "Amber Anchor Labs rocks")], "document_id string, text string"
    )
    gaz = spark.createDataFrame([("e1", "amber anchor labs")], "entity_id string, alias string")
    got = detect_mentions(docs, gaz).collect()
    assert len(got) == 1 and got[0].text == "Amber Anchor Labs"


def test_mention_ids_content_derived(spark):
    docs = spark.createDataFrame([("d1", "alpha beta")], "document_id string, text string")
    gaz = spark.createDataFrame([("e1", "alpha")], "entity_id string, alias string")
    a = detect_mentions(docs, gaz).collect()[0].mention_id
    b = detect_mentions(docs, gaz).collect()[0].mention_id
    assert a == b == "d1#0-5"


def _span_fixture(spark):
    return spark.createDataFrame(
        [
            ("d1", "alpha beta gamma delta epsilon"),
            ("d2", "one\ntwo three\nfour five six seven eight"),
            ("d3", "double  space  here"),
            ("d4", "single"),
            ("d5", ""),
            ("d6", "\nleading newline\n\ntrailing\n"),
            ("d7", "ünïcode chars naïve café piñata"),
        ],
        "document_id string, text string",
    )


def test_candidate_spans_alt_forms_substring_invariant(spark):
    # span invariant: span text == substr(doc text, start+1, end-start),
    # through multi-space, multi-line and unicode documents
    docs = _span_fixture(spark)
    spans = candidate_spans(tokenize_with_offsets(docs), 4).withColumnRenamed(
        "text", "span_text"
    )
    joined = spans.join(docs, "document_id")
    assert joined.count() > 0
    n_bad = joined.filter(
        F.expr("substr(text, start_index + 1, end_index - start_index)")
        != F.col("span_text")
    ).count()
    assert n_bad == 0


def test_detect_mentions_same_result_across_span_modes(spark, monkeypatch):
    docs = spark.createDataFrame(
        [("d1", "visit amber anchor labs today\nsee amber anchor now")],
        "document_id string, text string",
    )
    gaz = spark.createDataFrame(
        [("e1", "amber anchor labs"), ("e2", "amber anchor"), ("e3", "today")],
        "entity_id string, alias string",
    )
    fused, fallback = _fused_and_fallback(monkeypatch, docs, gaz)
    assert fused == fallback == _exhaustive_reference(docs, gaz)


def test_detect_mentions_anchor_prune_equivalence(spark, monkeypatch):
    """The fused matcher and the anchor-pruned window fallback are
    output-identical to the exhaustive reference — first-token +
    token-count equality are necessary conditions of full-surface equality,
    so pruning on them drops nothing. The gazetteer stresses the prune's
    edges: a single-token alias, an alias longer than max_tokens (never
    matchable), consecutive spaces (empty first token from split), case
    variants, and a numeric tail."""
    docs = spark.createDataFrame(
        [
            ("d1", "the amber anchor labs 3 report\nAMBER Anchor alone"),
            ("d2", "zz top 9 and a  b and amber"),
            ("d3", ""),
        ],
        "document_id string, text string",
    )
    gaz = spark.createDataFrame(
        [
            ("E1", "amber"),
            ("E2", "one two three four five"),
            ("E3", "a  b"),
            ("E4", "AMBER Anchor"),
            ("E5", "zz top 9"),
            ("E6", "amber anchor labs 3"),
        ],
        "entity_id string, alias string",
    )
    want = _exhaustive_reference(docs, gaz)
    assert want  # fixture sanity: the prune must have matches to preserve
    fused, fallback = _fused_and_fallback(monkeypatch, docs, gaz)
    assert fallback == want
    assert fused == want


def test_detect_mentions_fused_non_ascii_fallback(spark, monkeypatch):
    """Non-ASCII documents route through the fused matcher's per-doc Python
    path; results must match the exhaustive reference exactly (offsets are
    CHAR offsets, not byte offsets)."""
    docs = spark.createDataFrame(
        [
            ("d1", "héllo wörld amber anchor\nzz top 9 amber"),
            ("d2", "amber anchor labs 3 ünd more"),
        ],
        "document_id string, text string",
    )
    gaz = spark.createDataFrame(
        [
            ("E1", "amber anchor"),
            ("E2", "zz top 9"),
            ("E3", "wörld"),
            ("E4", "amber anchor labs 3"),
        ],
        "entity_id string, alias string",
    )
    want = _exhaustive_reference(docs, gaz)
    fused, fallback = _fused_and_fallback(monkeypatch, docs, gaz)
    assert fused == want
    assert fallback == want
    # the span invariant holds through the fallback: char-offset substr
    m = detect_mentions(docs, gaz).withColumnRenamed("text", "mtext")
    bad = (
        m.join(docs, "document_id")
        .filter(
            F.expr("substr(text, start_index + 1, end_index - start_index)")
            != F.col("mtext")
        )
        .count()
    )
    assert bad == 0


def test_detect_mentions_fused_empty_gazetteer(spark):
    docs = spark.createDataFrame(
        [("d1", "some text here")], "document_id string, text string"
    )
    gaz = spark.createDataFrame([], "entity_id string, alias string")
    assert detect_mentions(docs, gaz).count() == 0


def test_detect_mentions_mode_equivalence_property(spark, monkeypatch):
    """Property: both detection forms (fused, anchor-pruned window
    fallback) agree with the exhaustive reference on random corpora and
    gazetteers — words drawn from a small alphabet so aliases collide with
    document n-grams often, plus unicode words to force the fused matcher's
    non-ASCII path, empty tokens (double spaces), newlines, and width-1..5
    aliases (5 > max_tokens exercises the never-matchable prune)."""
    import hypothesis.strategies as st
    from hypothesis import HealthCheck, given, settings

    words = st.sampled_from(["ab", "cd", "ef", "AB", "", "über", "x"])
    doc_text = st.lists(
        st.lists(words, min_size=0, max_size=6).map(" ".join),
        min_size=1, max_size=3,
    ).map("\n".join)

    @settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
    @given(
        texts=st.lists(doc_text, min_size=1, max_size=3),
        aliases=st.lists(
            st.lists(words, min_size=1, max_size=5).map(" ".join),
            min_size=1, max_size=6,
        ),
    )
    def run(texts, aliases):
        docs = spark.createDataFrame(
            [(f"d{i}", t) for i, t in enumerate(texts)],
            "document_id string, text string",
        )
        gaz = spark.createDataFrame(
            [(f"E{i}", a) for i, a in enumerate(aliases) if a.strip()],
            "entity_id string, alias string",
        )
        if gaz.isEmpty():
            return
        want = _exhaustive_reference(docs, gaz)
        fused, fallback = _fused_and_fallback(monkeypatch, docs, gaz)
        assert fused == want, ("fused", texts, aliases)
        assert fallback == want, ("fallback", texts, aliases)

    run()


def test_detect_mentions_mode_equivalence_non_latin(spark, monkeypatch):
    """Round-4 verdict #3: the fused matcher used THREE case foldings (JVM
    lower for the alias map, utf8proc for ASCII docs, Python str.lower for
    non-ASCII docs) — divergent on locale-exotic codepoints. Now aliases
    are collected raw and folded with the match-time function, so fused ==
    fallback == the JVM-folded exhaustive reference must hold on non-Latin
    scripts where foldings historically diverge: Cyrillic case pairs, Greek
    final sigma (context-sensitive lowering), Turkish dotted/dotless I
    (U+0130 lowers to i + combining dot), Kelvin sign K (U+212A lowers to
    ASCII k)."""
    import hypothesis.strategies as st
    from hypothesis import HealthCheck, given, settings

    words = st.sampled_from(
        ["МОСКВА", "москва", "ΟΔΥΣΣΕΥΣ", "οδυσσευς", "İzmir", "izmir",
         "ISPARTA", "ısparta", "K", "k", "ab", "AB", ""]
    )
    doc_text = st.lists(
        st.lists(words, min_size=0, max_size=5).map(" ".join),
        min_size=1, max_size=2,
    ).map("\n".join)

    @settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
    @given(
        texts=st.lists(doc_text, min_size=1, max_size=3),
        aliases=st.lists(
            st.lists(words, min_size=1, max_size=3).map(" ".join),
            min_size=1, max_size=6,
        ),
    )
    def run(texts, aliases):
        docs = spark.createDataFrame(
            [(f"d{i}", t) for i, t in enumerate(texts)],
            "document_id string, text string",
        )
        gaz = spark.createDataFrame(
            [(f"E{i}", a) for i, a in enumerate(aliases) if a.strip()],
            "entity_id string, alias string",
        )
        if gaz.isEmpty():
            return
        want = _exhaustive_reference(docs, gaz)
        fused, fallback = _fused_and_fallback(monkeypatch, docs, gaz)
        assert fused == want, ("fused", texts, aliases)
        assert fallback == want, ("fallback", texts, aliases)

    run()


def test_detect_mentions_fused_cross_case_non_ascii(spark, monkeypatch):
    """Uppercase Cyrillic alias vs lowercase Cyrillic document text (and
    vice versa) must match through the fused matcher's Python path — the
    exact path-pair whose foldings diverged in round 4 — and through the
    window fallback."""
    docs = spark.createDataFrame(
        [("d0", "в москва сегодня"), ("d1", "В МОСКВА СЕГОДНЯ")],
        "document_id string, text string",
    )
    gaz = spark.createDataFrame(
        [("E1", "МОСКВА"), ("E2", "сегодня")], "entity_id string, alias string"
    )
    for form, rows in zip(("fused", "fallback"), _fused_and_fallback(monkeypatch, docs, gaz)):
        got = {(r[1], r[4], r[5]) for r in rows}
        assert got == {
            ("d0", "москва", "E1"), ("d0", "сегодня", "E2"),
            ("d1", "МОСКВА", "E1"), ("d1", "СЕГОДНЯ", "E2"),
        }, form


def test_detect_mentions_fused_alias_limit(spark, caplog, monkeypatch):
    """The fused matcher's driver-side gazetteer collect is guarded: past
    FUSED_MAX_ALIASES distinct aliases detection falls back to the window
    form — same output — and logs the fallback instead of silently betting
    driver memory (round-4 verdict #6)."""
    docs = spark.createDataFrame(
        [("d0", "a alias1 c alias7\nALIAS3 b")], "document_id string, text string"
    )
    gaz = spark.createDataFrame(
        [(f"E{i}", f"alias{i}") for i in range(10)] + [("E0", "alias0")],
        "entity_id string, alias string",
    )
    want = _exhaustive_reference(docs, gaz)
    assert len(want) == 3  # fixture sanity
    logger = "e2e_el_spark.operators.mentions"
    monkeypatch.setattr(mentions, "FUSED_MAX_ALIASES", 9)
    with caplog.at_level(logging.WARNING, logger=logger):
        got = detect_mentions(docs, gaz)
    assert _rows(got) == want
    assert any("falling back" in r.getMessage() for r in caplog.records)
    assert "MapInPandas" not in _plan(got)
    # at the limit (10 distinct aliases; the duplicate row does not count)
    # the fused form runs and nothing is logged
    caplog.clear()
    monkeypatch.setattr(mentions, "FUSED_MAX_ALIASES", 10)
    with caplog.at_level(logging.WARNING, logger=logger):
        got = detect_mentions(docs, gaz)
    assert _rows(got) == want
    assert not caplog.records
    assert "MapInPandas" in _plan(got)


def test_detect_mentions_colliding_folded_aliases_min_entity(spark, monkeypatch):
    """R5-h: the fused matcher's vectorized driver fold (groupby-min per
    folded key) must keep the window fallback's semantics — when
    case-variant aliases of DIFFERENT entities fold to one key, the minimum
    entity_id wins, identically in both forms."""
    docs = spark.createDataFrame(
        [("d1", "we met acme yesterday")], "document_id string, text string"
    )
    gaz = spark.createDataFrame(
        [("e9", "Acme"), ("e1", "ACME"), ("e5", "acme")],
        "entity_id string, alias string",
    )
    for form, got in zip(("fused", "fallback"), _fused_and_fallback(monkeypatch, docs, gaz)):
        assert len(got) == 1, (form, got)
        assert got[0][5] == "e1", (form, got)
        assert got[0][4] == "acme"
