"""Blocking: n-gram quirk parity, TF-IDF semantics vs a numpy oracle,
MinHash/LSH behavior (SURVEY.md §2.10, §2.4 A2-A5, §2.5 T1)."""

import math

from pyspark.sql import functions as F

from e2e_el_spark.functions import STOPWORDS, char_ngrams_expr
from e2e_el_spark.operators.blocking import (
    build_tfidf_vocab,
    lsh_band_keys,
    minhash_signatures,
    same_block_pairs,
    tfidf_vectors,
    with_block_key,
)


def _ref_ngrams(sentence: str, n_max: int) -> list[str]:
    """The reference's quirky loop (semantics of
    /root/reference/candidate_selection.py:119-124): positions 1..len-n-1."""
    out = []
    for n in range(1, n_max + 1):
        for pos in range(1, len(sentence) - n):
            out.append(sentence[pos : pos + n])
    return out


def test_char_ngrams_compat_quirk(spark):
    for s in ["hello", "ab", "a", "", "abcdef"]:
        df = spark.createDataFrame([(s,)], "t string")
        for n in range(1, 4):
            got = df.select(F.expr(char_ngrams_expr("t", n)).alias("g")).collect()[0].g
            want = [s[p : p + n] for p in range(1, len(s) - n)]
            assert got == want, (s, n, got, want)


def test_char_ngrams_standard(spark):
    df = spark.createDataFrame([("abcd",)], "t string")
    got = df.select(F.expr(char_ngrams_expr("t", 2, compat=False)).alias("g")).collect()[0].g
    assert got == ["ab", "bc", "cd"]


def test_tfidf_matches_numpy_oracle(spark):
    """vocab/idf/vector/cosine pipeline vs a direct numpy re-derivation."""
    ents = [("e1", "alpha corp"), ("e2", "alpha labs"), ("e3", "beta systems")]
    ments = [("m1", "alpha corp"), ("m2", "beta system")]
    edf = spark.createDataFrame(ents, "entity_id string, name string")
    mdf = spark.createDataFrame(ments, "mention_id string, text string")

    corpus = [t for _, t in ents] + [t for _, t in ments]  # all lowercase already
    # oracle: reference formulas (quirky grams, idf=log(N/df), tf*idf, L2, cos)
    def grams(t):
        toks = [w for w in t.split(" ") if w not in STOPWORDS]
        return _ref_ngrams(" ".join(toks), 5)

    from collections import Counter

    doc_grams = [Counter(grams(t)) for t in corpus]
    total = Counter()
    for dg in doc_grams:
        total.update(dg)
    vocab = {g for g, _ in sorted(total.items(), key=lambda kv: (-kv[1], kv[0]))[:100]}
    df_count = Counter()
    for dg in doc_grams:
        for g in set(dg):
            if g in vocab:
                df_count[g] += 1
    N = len(corpus)
    idf = {g: math.log(N / df_count[g]) for g in vocab}

    def vec(t):
        c = Counter(grams(t))
        v = {g: tf * idf[g] for g, tf in c.items() if g in vocab}
        norm = math.sqrt(sum(x * x for x in v.values())) or 1.0
        return {g: x / norm for g, x in v.items()}

    def cos(a, b):
        return sum(va * b.get(g, 0.0) for g, va in a.items())

    want = {}
    for mid, mt in ments:
        mv = vec(mt)
        for eid, et in ents:
            want[(mid, eid)] = cos(mv, vec(et))

    sv = build_tfidf_vocab(
        spark.createDataFrame(
            [(f"c{i}", t) for i, t in enumerate(corpus)], "cid string, ctext string"
        ),
        "cid", "ctext", 5, 100,
    )
    ev = tfidf_vectors(edf, "entity_id", "name", sv)
    mv = tfidf_vectors(mdf, "mention_id", "text", sv)
    # the sparse cosine: gram-key join + sum of weight products
    dots = (
        mv.select("mention_id", "gram", F.col("weight").alias("_mw"))
        .join(ev.select("entity_id", "gram", F.col("weight").alias("_ew")), "gram")
        .groupBy("mention_id", "entity_id")
        .agg(F.sum(F.col("_mw") * F.col("_ew")).alias("tfidf_cos"))
    )
    got = {(r.mention_id, r.entity_id): r.tfidf_cos for r in dots.collect()}
    for key, val in got.items():
        assert abs(val - want[key]) < 1e-9, (key, val, want[key])
    # absent pairs must have (near-)zero oracle cosine
    for key, val in want.items():
        if key not in got:
            assert abs(val) < 1e-9


def test_minhash_similar_texts_share_band(spark):
    df = spark.createDataFrame(
        [
            ("a", "the quick brown fox jumps over the lazy dog"),
            ("b", "the quick brown fox jumps over the lazy dogs"),
            ("c", "completely unrelated text about spark plans"),
        ],
        "id string, text string",
    )
    sigs = minhash_signatures(df, "id", "text", num_hashes=32)
    keys = lsh_band_keys(sigs, "id", bands=8, rows_per_band=4)
    pairs = same_block_pairs(keys, "id")
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert ("a", "b") in got
    assert ("a", "c") not in got and ("b", "c") not in got


def test_minhash_deterministic(spark):
    df = spark.createDataFrame([("a", "hello world")], "id string, text string")
    s1 = minhash_signatures(df, "id", "text").collect()[0].sig
    s2 = minhash_signatures(df, "id", "text").collect()[0].sig
    assert s1 == s2


def test_same_block_pairs_cap_is_not_silent(spark):
    rows = [(f"m{i:03d}", "k") for i in range(30)]
    df = spark.createDataFrame(rows, "mention_id string, block_key string")
    pairs = same_block_pairs(df.select("block_key", F.col("mention_id")), "mention_id", max_block_size=10)
    # capped to 10 ids → C(10,2)=45 pairs
    assert pairs.count() == 45


def test_with_block_key_prefix(spark):
    df = spark.createDataFrame([("m1", "Amber Anchor Labs")], "mention_id string, text string")
    assert with_block_key(df).collect()[0].block_key == "ambe"
