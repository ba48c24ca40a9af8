"""Text analysis: language-ID heuristic, quality features, token counts,
fingerprints, metrics module."""

import pytest
from pyspark.sql import functions as F

from e2e_el_spark.metrics import labeled_same_block_pairs, pairwise_f1, ranking_metrics
from e2e_el_spark.operators.textstats import (
    detect_language,
    fingerprint,
    quality_features,
    token_counts,
)


def test_detect_language(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog of the house"),
            (2, "der hund und die katze ist nicht da"),
            (3, "le chat est une merveille que tout"),
            (4, "xyzzy plugh qwerty"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.lang_pred for r in detect_language(df).collect()}
    assert got == {1: "en", 2: "de", 3: "fr", 4: "und"}


def test_quality_features_ranges(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog again and again ok"),
         (2, "!!! ??? ... 12345 67890 @@@@")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in quality_features(df).collect()}
    assert got[1].quality_score > got[2].quality_score
    assert 0.0 <= got[2].quality_score <= 1.0
    assert got[1].stopword_ratio > 0


def test_token_counts(spark):
    df = spark.createDataFrame([(1, "hello world, 42 times")], "doc_id long, text string")
    r = token_counts(df).collect()[0]
    assert r.ws_tokens == 4
    assert r.bpe_ish_tokens == 5  # hello / world / , / 42 / times
    assert not r.over_512


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "other")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in fingerprint(df, "doc_id").collect()}
    assert got[1].fp_exact != got[2].fp_exact
    assert got[1].fp_normalized == got[2].fp_normalized
    assert got[3].fp_normalized != got[1].fp_normalized


def test_pairwise_f1_counts(spark):
    blocked = spark.createDataFrame(
        [("m1", "E1", "b"), ("m2", "E1", "b"), ("m3", "E2", "b")],
        "mention_id string, label_candidate_id string, block_key string",
    )
    labeled = labeled_same_block_pairs(blocked)
    assert labeled.count() == 3
    clusters = spark.createDataFrame(
        [("m1", "c1"), ("m2", "c1"), ("m3", "c1")],  # over-merged: m3 wrong
        "mention_id string, cluster_id string",
    )
    m = pairwise_f1(labeled, clusters)
    assert (m["tp"], m["fp"], m["fn"]) == (1, 2, 0)
    assert m["precision"] == pytest.approx(1 / 3)
    assert m["recall"] == 1.0


def test_ranking_metrics(spark):
    scored = spark.createDataFrame(
        [
            ("m1", "E1", 0.9, True), ("m1", "E2", 0.5, False),    # gold rank 1
            ("m2", "E1", 0.9, False), ("m2", "E2", 0.5, True),    # gold rank 2
            ("m3", "E1", 0.9, False), ("m3", "E2", 0.5, False),   # gold absent
        ],
        "mention_id string, entity_id string, score double, is_gold boolean",
    )
    r = ranking_metrics(scored, k=10).collect()[0]
    assert r.p_at_1 == pytest.approx(1 / 3)
    assert r["map"] == pytest.approx((1.0 + 0.5 + 0.0) / 3)
    assert r.recall_at_10 == pytest.approx(2 / 3)
    assert r.n_mentions == 3


def test_pairwise_f1_counts_equals_pair_table(spark):
    """counts-based pairwise F1 must equal the materialized-pair version."""
    import random

    from e2e_el_spark.metrics import pairwise_f1_from_counts

    rng = random.Random(3)
    rows = []
    for i in range(120):
        rows.append((
            f"m{i}",
            f"b{rng.randrange(5)}",
            f"L{rng.randrange(6)}",
            f"c{rng.randrange(7)}",
        ))
    df = spark.createDataFrame(
        rows, "mention_id string, block_key string, label_candidate_id string, cluster_id string"
    )
    labeled = labeled_same_block_pairs(df)
    clusters = df.select("mention_id", "cluster_id")
    a = pairwise_f1(labeled, clusters)
    b = pairwise_f1_from_counts(df)
    assert (a["tp"], a["fp"], a["fn"]) == (b["tp"], b["fp"], b["fn"]), (a, b)
    assert a["f1"] == pytest.approx(b["f1"])


def test_pairwise_f1_counts_multi_key_dedupe(spark):
    """Multi-key inputs (LSH band keys): counts version double-counts pairs
    sharing two keys unless dedupe_keys=True reduces mentions to their
    primary block first; with dedupe the counts equal the pair table built
    on the same one-key-per-mention reduction."""
    import random

    from e2e_el_spark.metrics import pairwise_f1_from_counts

    rng = random.Random(5)
    rows = []
    for i in range(60):
        label, cluster = f"L{rng.randrange(4)}", f"c{rng.randrange(5)}"
        for bk in rng.sample(["b0", "b1", "b2", "b3"], k=rng.randrange(1, 3)):
            rows.append((f"m{i}", bk, label, cluster))
    df = spark.createDataFrame(
        rows, "mention_id string, block_key string, label_candidate_id string, cluster_id string"
    )
    # one-key reduction (min block key per mention)
    from pyspark.sql import Window

    w = Window.partitionBy("mention_id").orderBy("block_key")
    primary = (
        df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
    )
    a = pairwise_f1(labeled_same_block_pairs(primary), primary.select("mention_id", "cluster_id"))
    b = pairwise_f1_from_counts(df, dedupe_keys=True)
    assert (a["tp"], a["fp"], a["fn"]) == (b["tp"], b["fp"], b["fn"]), (a, b)
    # and the documented divergence without dedupe: counts >= pair table
    raw = pairwise_f1_from_counts(df)
    pair_table = pairwise_f1(
        labeled_same_block_pairs(df),
        df.select("mention_id", "cluster_id").distinct(),
    )
    assert raw["tp"] + raw["fp"] >= pair_table["tp"] + pair_table["fp"]


def test_metric_helpers_single_action(spark):
    """span_overlap_prf and pairwise_f1_from_counts must be SINGLE-action
    helpers (VERDICT r3 #4): the old forms fired 4 count() jobs / 3 groupBy
    jobs, each re-evaluating their subtrees — pure serial floor. Job
    counting needs AQE off (adaptive execution splits one action into one
    job per stage materialization, which is fan-out, not re-evaluation):
    grouping-sets F1 = exactly 1 job; span PRF = 2 (the crossJoin-of-aggs'
    tiny 1-row broadcast side is its own job), down from 4 full-input scans.
    """
    from e2e_el_spark.metrics import pairwise_f1_from_counts, span_overlap_prf

    sc = spark.sparkContext
    gold = spark.createDataFrame(
        [("d1", 0, 5), ("d1", 10, 15), ("d2", 0, 3)],
        "document_id string, start_index int, end_index int",
    )
    pred = spark.createDataFrame(
        [("d1", 3, 7), ("d1", 20, 25)],
        "document_id string, start_index int, end_index int",
    )
    blocked = spark.createDataFrame(
        [("m1", "b0", "L1", "c1"), ("m2", "b0", "L1", "c1"), ("m3", "b0", "L2", "c2")],
        "mention_id string, block_key string, label_candidate_id string, cluster_id string",
    )
    aqe_was = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        sc.setJobGroup("prf_jobs", "prf_jobs")
        m = span_overlap_prf(pred, gold).collect()[0]
        n_prf = len(list(sc.statusTracker().getJobIdsForGroup("prf_jobs")))
        sc.setJobGroup("pfc_jobs", "pfc_jobs")
        f = pairwise_f1_from_counts(blocked)
        n_pfc = len(list(sc.statusTracker().getJobIdsForGroup("pfc_jobs")))
    finally:
        sc.setJobGroup(None, None)
        spark.conf.set("spark.sql.adaptive.enabled", aqe_was)
    assert (m.n_pred - m.tp_pred, m.n_gold - m.tp_gold) == (1, 2)  # fp, fn
    assert n_prf <= 2, n_prf
    assert (f["tp"], f["fp"], f["fn"]) == (1, 0, 0)
    assert n_pfc == 1, n_pfc
