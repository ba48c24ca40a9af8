"""WordPiece tokenization (F3) + the tokenized marked-mention variant.

Expected values hand-derived from the reference algorithm
(tokenization_bert.py:298-533, utils_EL4QA.py:101-153)."""

import pytest

from e2e_el_spark.operators.wordpiece import (
    UNK,
    basic_tokenize,
    bert_tokenize,
    make_vocab,
    marked_mentions_tokenized,
    wordpiece_word,
)

VOCAB = make_vocab(
    [
        "[PAD]", UNK, "[CLS]", "[SEP]",
        "un", "##aff", "##able", "##ably",
        "amber", "anchor", "labs", "the", "a", ",", ".", "!", "-",
        "run", "##ning", "##ner", "3", "##3",
    ]
)


def test_basic_tokenize_punct_and_case():
    assert basic_tokenize("The amber-anchor labs, Inc.") == [
        "the", "amber", "-", "anchor", "labs", ",", "inc", ".",
    ]


def test_basic_tokenize_accents_and_controls():
    # NFD accent stripping; control chars vanish; \t\n are whitespace
    assert basic_tokenize("café\tnaïve\nx") == [
        "cafe", "naive", "x",
    ]
    assert basic_tokenize("CafÉ", lower=False) == ["CafÉ"]


def test_basic_tokenize_cjk_isolated():
    assert basic_tokenize("ab中国cd") == ["ab", "中", "国", "cd"]


def test_wordpiece_greedy_longest_match():
    memo = {}
    # the canonical example shape: longest-match-first with ## continuations
    assert wordpiece_word("unaffable", VOCAB, memo) == ["un", "##aff", "##able"]
    assert wordpiece_word("running", VOCAB, memo) == ["run", "##ning"]
    # whole word fails to segment => ONE UNK for the word, not partial pieces
    assert wordpiece_word("unaffxble", VOCAB, memo) == [UNK]
    # memo returns the identical object on repeat
    assert wordpiece_word("running", VOCAB, memo) is memo["running"]


def test_wordpiece_overlong_word_is_unk():
    assert wordpiece_word("x" * 101, VOCAB, {}) == [UNK]


def test_bert_tokenize_full():
    assert bert_tokenize("The unaffable amber-anchor!", VOCAB) == [
        "the", "un", "##aff", "##able", "amber", "-", "anchor", "!",
    ]


def test_wordpiece_tokens_spark(spark):
    """WordPiece tokens and ids of a whole document computed on Spark (a
    document with no mentions); empty and NULL text give only [CLS] [SEP]."""
    df = spark.createDataFrame(
        [("d1", "The unaffable runner"), ("d2", ""), ("d3", None)],
        "document_id string, text string",
    )
    no_mentions = spark.createDataFrame(
        [], "document_id string, start_index int, end_index int"
    )
    out = {
        r.document_id: (r.tokens, r.token_ids)
        for r in marked_mentions_tokenized(df, no_mentions, VOCAB).collect()
    }
    assert out["d1"][0] == [
        "[CLS]", "the", "un", "##aff", "##able", "run", "##ner", "[SEP]",
    ]
    assert out["d1"][1] == [VOCAB[t] for t in out["d1"][0]]
    assert out["d2"] == (["[CLS]", "[SEP]"], [VOCAB["[CLS]"], VOCAB["[SEP]"]])
    assert out["d3"] == out["d2"]


def test_marked_mentions_tokenized(spark):
    #       0123456789012345678901234567
    text = "the amber anchor is unaffable"
    docs = spark.createDataFrame(
        [("d1", text), ("d2", "no mentions here")],
        "document_id string, text string",
    )
    mentions = spark.createDataFrame(
        [("d1", 4, 16)], "document_id string, start_index int, end_index int"
    )
    rows = {
        r.document_id: r
        for r in marked_mentions_tokenized(docs, mentions, VOCAB).collect()
    }
    r = rows["d1"]
    assert r.tokens == [
        "[CLS]", "the", "amber", "anchor", UNK, "un", "##aff", "##able",
        "[SEP]",
    ]  # "is" is OOV -> one UNK
    # marker indices point at the mention's first/last wordpiece
    assert r.mention_starts == [2] and r.mention_ends == [3]
    assert r.tokens[r.mention_starts[0] : r.mention_ends[0] + 1] == [
        "amber", "anchor",
    ]
    # B on the first mention piece, I on later non-## pieces, DNT on ##
    assert r.tags == ["O", "O", "B", "I", "O", "O", "DNT", "DNT", "O"]
    assert len(r.tags) == len(r.tokens) == len(r.token_ids)
    # document with no mentions still emits [CLS] text [SEP]
    r2 = rows["d2"]
    assert r2.tokens[0] == "[CLS]" and r2.tokens[-1] == "[SEP]"
    assert r2.mention_starts == [] and r2.mention_ends == []


def test_marked_mentions_multiple_sorted(spark):
    #       0123456789012345
    text = "amber the anchor"
    docs = spark.createDataFrame([("d1", text)], "document_id string, text string")
    # given out of order; operator must process by start_index
    mentions = spark.createDataFrame(
        [("d1", 10, 16), ("d1", 0, 5)],
        "document_id string, start_index int, end_index int",
    )
    r = marked_mentions_tokenized(docs, mentions, VOCAB).collect()[0]
    assert r.tokens == ["[CLS]", "amber", "the", "anchor", "[SEP]"]
    assert r.mention_starts == [1, 3] and r.mention_ends == [1, 3]
    assert r.tags == ["O", "B", "O", "B", "O"]


def test_marked_mentions_overlapping_spans_dropped(spark):
    """Overlapping mention spans used to slice negatively (t[prev:a] with
    a < prev) and silently mis-tag the rest of the document. Policy now:
    longest-first per start, any span overlapping the previously kept one
    is dropped, with the count observable on the accumulator."""
    #       0123456789012345678901
    text = "the amber anchor here"
    docs = spark.createDataFrame(
        [("d1", text)], "document_id string, text string"
    )
    # (4,16) amber anchor; (10,16) anchor contained; (14,20) overlaps tail
    mentions = spark.createDataFrame(
        [("d1", 4, 16), ("d1", 10, 16), ("d1", 14, 20)],
        "document_id string, start_index int, end_index int",
    )
    out = marked_mentions_tokenized(docs, mentions, VOCAB)
    r = out.collect()[0]
    assert out.overlap_dropped_acc.value == 2
    # only the longest span survives; tagging is well-formed
    assert r.mention_starts == [2] and r.mention_ends == [3]
    assert len(r.tags) == len(r.tokens) == len(r.token_ids)
    assert r.tokens[r.mention_starts[0] : r.mention_ends[0] + 1] == [
        "amber", "anchor",
    ]
    # identical output to passing only the kept span
    disjoint = spark.createDataFrame(
        [("d1", 4, 16)], "document_id string, start_index int, end_index int"
    )
    want = marked_mentions_tokenized(docs, disjoint, VOCAB).collect()[0]
    assert (r.tokens, r.tags, r.mention_starts, r.mention_ends) == (
        want.tokens, want.tags, want.mention_starts, want.mention_ends,
    )


def test_marked_mentions_overlap_property(spark):
    """Random (possibly wildly overlapping) spans never produce negative
    slices: len(tags)==len(tokens), marker indices in range, B count ==
    kept span count."""
    import hypothesis.strategies as st
    from hypothesis import HealthCheck, given, settings

    text = "aa bb cc dd ee ff gg"

    @settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
    @given(
        spans=st.lists(
            st.tuples(
                st.integers(0, len(text) - 1), st.integers(1, len(text))
            ).map(lambda ab: (min(ab), max(ab)) if ab[0] != ab[1] else (ab[0], ab[1] + 1)),
            min_size=1, max_size=6,
        )
    )
    def run(spans):
        docs = spark.createDataFrame(
            [("d1", text)], "document_id string, text string"
        )
        ms = spark.createDataFrame(
            [("d1", a, b) for a, b in spans],
            "document_id string, start_index int, end_index int",
        )
        r = marked_mentions_tokenized(docs, ms, VOCAB).collect()[0]
        assert len(r.tags) == len(r.tokens) == len(r.token_ids)
        assert all(0 < s < len(r.tokens) for s in r.mention_starts)
        assert all(s <= e < len(r.tokens) for s, e in zip(r.mention_starts, r.mention_ends))
        assert r.tags.count("B") == len(r.mention_starts)
        assert r.tokens[0] == "[CLS]" and r.tokens[-1] == "[SEP]"

    run()


def test_wordpiece_memo_cap(monkeypatch):
    """Past _MEMO_MAX distinct words the memo stops growing but results
    stay correct (computed, not cached)."""
    from e2e_el_spark.operators import wordpiece as wp

    monkeypatch.setattr(wp, "_MEMO_MAX", 2)
    vocab = {"aa": 0, "bb": 1, "cc": 2, "dd": 3, UNK: 4}
    memo: dict = {}
    for w in ["aa", "bb", "cc", "dd", "zz", "aa"]:
        got = wp.wordpiece_word(w, vocab, memo)
        assert got == ([w] if w in vocab else [UNK])
    assert len(memo) == 2  # capped, later words computed uncached
