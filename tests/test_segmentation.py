"""W1 generic segmentation: packing invariants, offset rebase, straddle
observability, reference id shapes."""

import pytest
from pyspark.sql import Observation

from e2e_el_spark.operators.mentions import detect_mentions
from e2e_el_spark.operators.segmentation import (
    _pack_segments,
    rebase_mentions,
    segment_documents,
)

TEXT = (
    "alpha beta gamma. delta epsilon zeta. eta theta iota. "
    "kappa lambda mu. nu xi omicron. pi rho sigma"
)


def test_pack_pure_function_invariants():
    for budget in (10, 25, 40, 1000):
        segs = _pack_segments(TEXT, budget)
        assert "".join(segs) == TEXT  # byte-identical reassembly
        for s in segs:
            # within budget unless a single sentence alone exceeds it
            # (an oversize segment has no internal '. ' break)
            assert len(s) <= budget or ". " not in s[:-2], (budget, s)
    assert _pack_segments("", 10) == [""]
    assert _pack_segments("no separator here", 5) == ["no separator here"]


def test_segment_documents_offsets_and_ids(spark):
    docs = spark.createDataFrame([("d1", TEXT)], "document_id string, text string")
    segs = sorted(segment_documents(docs, budget=40).collect(), key=lambda r: r.seg_index)
    assert [r.segment_id for r in segs] == [f"d1_{i+1}" for i in range(len(segs))]
    assert segs[0].seg_start == 0
    joined = ""
    for r in segs:
        assert TEXT[r.seg_start : r.seg_end] == r.text  # offsets exact
        joined += r.text
    assert joined == TEXT
    # multiple segments actually produced at this budget
    assert len(segs) >= 3


def test_rebase_slice_invariant(spark):
    """The reference's assertion: segment_text[start:end] == mention_text
    (utils_E2E_exhaustive.py:92-94) must hold after rebase."""
    docs = spark.createDataFrame([("d1", TEXT)], "document_id string, text string")
    gaz = spark.createDataFrame(
        [("e1", "delta epsilon"), ("e2", "pi rho sigma"), ("e3", "alpha")],
        "entity_id string, alias string",
    )
    mentions = detect_mentions(docs, gaz)
    segments = segment_documents(docs, budget=40)
    rebased = rebase_mentions(mentions, segments)
    seg_text = {r.segment_id: r.text for r in segments.collect()}
    rows = rebased.collect()
    assert len(rows) == mentions.count()  # nothing straddles ('. ' never in an alias)
    for r in rows:
        assert seg_text[r.document_id][r.start_index : r.end_index] == r.text, r
        # id shapes: segment_id_{i}, 1-based (CollectiveEL_data_formatter.py:148)
        assert r.mention_id.startswith(r.document_id + "_")
        # lineage back to the original coordinates
        assert TEXT[r.orig_start_index : r.orig_start_index + (r.end_index - r.start_index)] == r.text


def test_rebase_straddle_is_observed_not_silent(spark):
    docs = spark.createDataFrame([("d1", "aa bb. cc dd. ee ff")], "document_id string, text string")
    # mention text contains '. ' → guaranteed to straddle a segment boundary
    mentions = spark.createDataFrame(
        [("m1", "d1", 3, 9, "bb. cc"), ("m2", "d1", 0, 2, "aa")],
        "mention_id string, document_id string, start_index int, end_index int, text string",
    )
    segments = segment_documents(docs, budget=8)
    obs = Observation()
    rebased = rebase_mentions(mentions, segments, observation=obs)
    kept = rebased.collect()
    assert obs.get["straddled_mentions"] == 1
    assert [r.orig_mention_id for r in kept] == ["m2"]


def test_segmentation_deterministic_across_partitioning(spark):
    docs = spark.createDataFrame(
        [(f"d{i}", TEXT + f" tail{i}") for i in range(20)],
        "document_id string, text string",
    )
    a = sorted(map(tuple, segment_documents(docs.repartition(1), budget=40).collect()))
    b = sorted(map(tuple, segment_documents(docs.repartition(7), budget=40).collect()))
    assert a == b


def test_single_segment_doc_keeps_suffix_id(spark):
    """Short docs still get docid_1 ids — the reference renames even
    single-segment documents (CollectiveEL_data_formatter.py:153-176)."""
    docs = spark.createDataFrame([("d9", "short text")], "document_id string, text string")
    segs = segment_documents(docs, budget=100).collect()
    assert len(segs) == 1 and segs[0].segment_id == "d9_1"
    assert segs[0].text == "short text"


def test_pack_property_random_texts():
    """Property: for ANY text and budget, packing reassembles byte-identically
    and no segment with an internal sentence break exceeds the budget."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    alphabet = st.sampled_from(list("ab .\nxy"))
    texts = st.text(alphabet=alphabet, min_size=0, max_size=200)

    from e2e_el_spark.operators.segmentation import _split_sentences

    @settings(max_examples=200, deadline=None)
    @given(texts, st.integers(min_value=1, max_value=50))
    def check(text, budget):
        for seps in ((". ",), (". ", "\n")):
            segs = _pack_segments(text, budget, seps)
            assert "".join(segs) == text  # byte-identical reassembly, always
            # greedy maximality: the split happened because the NEXT
            # segment's first sentence would not have fit
            for a, b in zip(segs, segs[1:]):
                first_next = _split_sentences(b, seps)[0]
                assert len(a) + len(first_next) > budget, (a, b, budget)

    check()
