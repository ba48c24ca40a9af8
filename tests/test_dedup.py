"""Dedup family: exact, MinHash+LSH verify, SimHash, n-gram Jaccard,
embedding-cosine near-dup."""

import pytest
from pyspark.sql import functions as F

from e2e_el_spark.operators.dedup import (
    embedding_near_duplicates,
    exact_dedup,
    minhash_near_duplicates,
    ngram_jaccard_pairs,
    simhash,
    simhash_near_duplicates,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),      # exact dup of 1
        (3, "the quick brown fox jumped over the lazy dog"),     # near dup
        (4, "spark plans are optimized by catalyst rules"),
        (5, "completely different text about window functions"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_keeps_min_id(spark, docs):
    kept = sorted(r.doc_id for r in exact_dedup(docs, "doc_id", "text").collect())
    assert kept == [1, 3, 4, 5]


def test_exact_duplicates(spark):
    """A three-way duplicate group keeps only its min id whatever the input
    order, and the kept row's other columns pass through unchanged."""
    df = spark.createDataFrame(
        [(9, "a b", "x"), (4, "a b", "y"), (7, "a b", "z"), (2, "c", "w")],
        "doc_id long, text string, src string",
    )
    got = {r.doc_id: r for r in exact_dedup(df, "doc_id", "text").collect()}
    assert sorted(got) == [2, 4]
    assert got[4].text == "a b" and got[4].src == "y"
    assert got[2].text == "c" and got[2].src == "w"


def test_minhash_near_duplicates(spark, docs):
    pairs = {(r.id_a, r.id_b): r.jaccard for r in minhash_near_duplicates(
        docs, "doc_id", "text", num_hashes=64, bands=16, jaccard_threshold=0.5
    ).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] == pytest.approx(1.0)
    assert (1, 3) in pairs and 0.5 <= pairs[(1, 3)] < 1.0
    assert all(4 not in p and 5 not in p for p in pairs)


def test_simhash_deterministic_and_near(spark, docs):
    s1 = {r.doc_id: r.simhash for r in simhash(docs, "doc_id", "text").collect()}
    s2 = {r.doc_id: r.simhash for r in simhash(docs, "doc_id", "text").collect()}
    assert s1 == s2
    assert s1[1] == s1[2]  # identical text → identical simhash
    # hamming(1,3) is 13 for these texts; 4-bit bands (16 bands) GUARANTEE
    # pair discovery up to hamming 15 (pigeonhole) — the standard 16-bit
    # banding only guarantees hamming < 4
    pairs = {(r.id_a, r.id_b): r.hamming for r in simhash_near_duplicates(
        docs, "doc_id", "text", max_hamming=15, band_bits=4
    ).collect()}
    assert pairs[(1, 2)] == 0
    assert (1, 3) in pairs and pairs[(1, 3)] <= 15
    assert (4, 5) not in pairs  # unrelated text ~ hamming 32


def test_ngram_jaccard(spark, docs):
    pairs = {(r.id_a, r.id_b): r.jaccard for r in ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.3
    ).collect()}
    assert pairs[(1, 2)] == pytest.approx(1.0)
    assert (1, 3) in pairs
    assert (4, 5) not in pairs


def test_exact_dedup_group_key_is_collision_hardened(spark, docs):
    """The text-equality group key must be (length, hash1, hash2) — a single
    64-bit hash equated with equality silently merges distinct docs at web
    scale. Structural check: two independent xxhash64 calls + length in the
    plan, and same-length distinct texts stay separate."""
    out = exact_dedup(docs, "doc_id", "text")
    plan = out._jdf.queryExecution().analyzed().toString()
    assert plan.count("xxhash64") >= 2, plan
    assert "length(" in plan, plan
    # behavioral: same length, different content → both kept
    same_len = spark.createDataFrame(
        [(1, "aaaa"), (2, "bbbb")], "doc_id long, text string"
    )
    assert exact_dedup(same_len, "doc_id", "text").count() == 2


def test_ngram_jaccard_df_cap_exact_rescore(spark):
    """Hot-gram fixture: with max_gram_df set, the ubiquitous gram never
    enumerates pairs (observed drop > 0) but every surfaced pair's jaccard is
    EXACT (matches the uncapped run), and pairs linked only by rare grams
    survive."""
    from pyspark.sql import Observation

    # 'common common common' is a hot gram in every doc; docs 1/2 also share
    # rare content, docs 3/4 share ONLY the hot gram
    rows = [
        (1, "common common common alpha beta gamma delta"),
        (2, "common common common alpha beta gamma epsilon"),
        (3, "common common common zeta eta theta"),
        (4, "common common common iota kappa lambda"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    exact = {(r.id_a, r.id_b): r.jaccard for r in ngram_jaccard_pairs(
        df, "doc_id", "text", n=3, threshold=0.05
    ).collect()}
    obs = Observation()
    capped_df = ngram_jaccard_pairs(
        df, "doc_id", "text", n=3, threshold=0.05, max_gram_df=2, observation=obs
    )
    capped = {(r.id_a, r.id_b): r.jaccard for r in capped_df.collect()}
    assert obs.get["dropped_gram_rows"] > 0  # the hot gram was capped out
    # (1,2) share rare grams → surfaced, with the EXACT uncapped jaccard
    assert (1, 2) in capped
    assert capped[(1, 2)] == pytest.approx(exact[(1, 2)])
    # every surfaced pair is exact; only hot-gram-only pairs may be missing
    for pair, j in capped.items():
        assert j == pytest.approx(exact[pair])
    missing = set(exact) - set(capped)
    assert all(p in {(1, 3), (1, 4), (2, 3), (2, 4), (3, 4)} for p in missing)


def test_same_block_pairs_cap_is_observable(spark):
    from pyspark.sql import Observation

    from e2e_el_spark.operators.blocking import same_block_pairs

    keyed = spark.createDataFrame(
        [(i, "hot") for i in range(10)] + [(100, "cold"), (101, "cold")],
        "doc_id long, block_key string",
    )
    obs = Observation()
    pairs = same_block_pairs(keyed, "doc_id", max_block_size=3, observation=obs)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert obs.get["truncated_rows"] == 7  # 10 in the hot block, 3 kept
    assert (100, 101) in got
    assert got == {(0, 1), (0, 2), (1, 2), (100, 101)}


def test_embedding_near_duplicates(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0, 0.0]),   # near dup of 1
        (3, [0.0, 1.0, 0.0, 0.0]),      # orthogonal
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = {(r.id_a, r.id_b): r.cosine for r in embedding_near_duplicates(
        df, "vec_id", "embedding", cosine_threshold=0.95, n_planes=4
    ).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] > 0.99
    assert all(3 not in p for p in pairs)


def test_exact_dedup_composite_key_survives_forced_collision(spark):
    """Inject a constant in place of hash1: two distinct texts now collide on
    (part of) the key, and ONLY the independent second hash + length keep
    them apart — adversarial proof of the multi-key design, not just the
    birthday-bound argument."""
    from pyspark.sql import functions as F

    def collide_h1(text_col):
        return [
            F.length(F.col(text_col)).alias("_len"),
            F.lit(0).cast("long").alias("_h1"),  # forced collision everywhere
            F.xxhash64(F.lit("dedup-seed-2"), F.col(text_col)).alias("_h2"),
        ]

    # same LENGTH too, so only _h2 separates them
    df = spark.createDataFrame(
        [(1, "alpha one"), (2, "bravo two"), (3, "alpha one")],
        "doc_id long, text string",
    )
    kept = sorted(r.doc_id for r in exact_dedup(df, "doc_id", "text", key_fn=collide_h1).collect())
    assert kept == [1, 2]  # distinct texts both kept; true dup dropped
