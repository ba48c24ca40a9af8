"""BM25 (C2), random negatives (C3/J6), span metrics (A7-A9) and the
gold-rank histogram (A8)."""

import math

import pytest
from pyspark.sql import functions as F

from e2e_el_spark.metrics import gold_ranks, span_overlap_prf
from e2e_el_spark.operators.candidates import bm25_scores, random_negatives


def test_bm25_matches_formula(spark):
    docs = spark.createDataFrame(
        [("d1", "apple banana apple"), ("d2", "banana cherry"), ("d3", "date")],
        "doc_id string, text string",
    )
    q = spark.createDataFrame([("q1", "apple banana")], "query_id string, text string")
    got = {r.doc_id: r.bm25 for r in bm25_scores(q, "query_id", "text", docs, "doc_id", "text", k=3).collect()}
    # hand-computed Robertson/Lucene BM25, k1=1.2 b=0.75, N=3, avgdl=2
    def idf(df):
        return math.log((3 - df + 0.5) / (df + 0.5) + 1)
    def w(tf, dl, df):
        return idf(df) * tf * 2.2 / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / 2.0))
    want_d1 = w(2, 3, 1) + w(1, 3, 2)   # apple(df=1,tf=2) + banana(df=2,tf=1)
    want_d2 = w(1, 2, 2)                # banana only
    assert got["d1"] == pytest.approx(want_d1, rel=1e-9)
    assert got["d2"] == pytest.approx(want_d2, rel=1e-9)
    assert "d3" not in got


def test_random_negatives_seeded(spark):
    pos = spark.createDataFrame([("m1", "E1"), ("m2", "E2")], "mention_id string, label_candidate_id string")
    ents = spark.createDataFrame([(f"E{i}",) for i in range(1, 8)], "entity_id string")
    a = sorted(map(tuple, random_negatives(pos, ents, k=3, seed=5).collect()))
    b = sorted(map(tuple, random_negatives(pos, ents, k=3, seed=5).collect()))
    c = sorted(map(tuple, random_negatives(pos, ents, k=3, seed=6).collect()))
    assert a == b
    assert a != c
    per = {}
    for mid, eid in a:
        per.setdefault(mid, []).append(eid)
    assert len(per["m1"]) == 3 and "E1" not in per["m1"]
    assert len(per["m2"]) == 3 and "E2" not in per["m2"]


def test_span_overlap_prf(spark):
    gold = spark.createDataFrame(
        [("d1", 0, 5), ("d1", 10, 15), ("d2", 0, 3)],
        "document_id string, start_index int, end_index int",
    )
    pred = spark.createDataFrame(
        [("d1", 3, 7), ("d1", 20, 25)],
        "document_id string, start_index int, end_index int",
    )
    m = span_overlap_prf(pred, gold).collect()
    assert len(m) == 1
    # (3,7) overlaps (0,5); (20,25) is a FP; only gold (0,5) is found
    assert m[0].asDict() == {"n_pred": 2, "n_gold": 3, "tp_pred": 1, "tp_gold": 1}


def test_gold_rank_histogram(spark):
    scored = spark.createDataFrame(
        [("m1", "E1", 0.9, True), ("m1", "E2", 0.5, False),
         ("m2", "E1", 0.9, False), ("m2", "E2", 0.5, True),
         ("m3", "E1", 0.5, True), ("m3", "E2", 0.5, True),     # tie: id breaks it
         ("m4", "E1", 0.9, False)],                              # gold absent
        "mention_id string, entity_id string, score double, is_gold boolean",
    )
    ranks = gold_ranks(scored)
    assert {r.mention_id: r.gold_rank for r in ranks.collect()} == {"m1": 1, "m2": 2, "m3": 1}
    hist = ranks.groupBy("gold_rank").agg(F.count("*").alias("n"))  # q38's histogram
    assert {r.gold_rank: r.n for r in hist.collect()} == {1: 2, 2: 1}


def test_gold_ranks_search_only_the_top_of_each_ranking(spark):
    """A gold candidate ranked below GOLD_RANK_DEPTH counts as not found."""
    from e2e_el_spark.metrics import GOLD_RANK_DEPTH

    n = GOLD_RANK_DEPTH + 1
    scored = spark.createDataFrame(
        [("m1", f"E{i:04d}", float(n - i), i == n - 1) for i in range(n)]
        + [("m2", f"E{i:04d}", float(n - i), i == n - 2) for i in range(n)],
        "mention_id string, entity_id string, score double, is_gold boolean",
    )
    assert [(r.mention_id, r.gold_rank) for r in gold_ranks(scored).collect()] == [("m2", n - 1)]
