"""Candidate-generation extras (SURVEY.md §2.10): BM25 scoring (C2),
seeded random negatives (C3/J6).

The reference consumes BM25 candidates from a precomputed file
(`/root/reference/data/MM_full_CUI/candidate_entities_BM25.txt`; generator
not in the repo) — here BM25 is computed relationally with the standard
Robertson formula so the engine can *produce* that table at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def bm25_scores(
    queries: DataFrame, query_id: str, query_text: str,
    docs: DataFrame, doc_id: str, doc_text: str,
    k1: float = 1.2, b: float = 0.75, k: int = 10,
) -> DataFrame:
    """Token-level BM25 top-k: (query_id, doc_id, bm25, rank).

    idf = ln((N - df + 0.5) / (df + 0.5) + 1)  (Lucene-style non-negative),
    tf-normalized by document length. Inverted-index join on the token —
    same shuffle shape as the TF-IDF path, fully built-in.

    r6: the corpus statistics N and avgdl ride along as a broadcast 1-row
    scalar cross join instead of two EAGER driver actions
    (``docs.count()`` + a ``collect()`` of avg(dlen)) at plan-build time —
    same double values (count exact in double, identical IEEE division),
    two fewer Spark jobs per call, and the plan stays fully lazy.
    """
    d_toks = docs.select(
        F.col(doc_id).alias("_did"),
        F.explode(F.split(F.lower(F.col(doc_text)), r"\s+")).alias("tok"),
    )
    tf = d_toks.groupBy("_did", "tok").agg(F.count("*").alias("tf"))
    dlen = d_toks.groupBy("_did").agg(F.count("*").alias("dlen"))
    # N counts ALL doc rows (matching the old docs.count()), not just docs
    # that produced tokens; avgdl comes from the token-length frame
    stats = dlen.agg(F.coalesce(F.avg("dlen"), F.lit(1.0)).alias("_avgdl")).crossJoin(
        docs.agg(F.count(F.lit(1)).cast("double").alias("_n_docs"))
    )
    df_ = tf.groupBy("tok").agg(F.count("*").alias("df"))
    idf = df_.crossJoin(F.broadcast(stats)).select(
        "tok", "_avgdl",
        F.log((F.col("_n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0).alias("idf"),
    )
    q_toks = queries.select(
        F.col(query_id).alias("_qid"),
        F.explode(F.array_distinct(F.split(F.lower(F.col(query_text)), r"\s+"))).alias("tok"),
    )
    scored = (
        q_toks.join(tf, "tok")
        .join(F.broadcast(idf), "tok")
        .join(F.broadcast(dlen), "_did")
        .withColumn(
            "w",
            F.col("idf")
            * (F.col("tf") * (k1 + 1))
            / (F.col("tf") + k1 * (1 - b + b * F.col("dlen") / F.col("_avgdl"))),
        )
        .groupBy("_qid", "_did")
        .agg(F.sum("w").alias("bm25"))
    )
    w = Window.partitionBy("_qid").orderBy(F.desc("bm25"), F.asc("_did"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_qid").alias(query_id), F.col("_did").alias(doc_id), "bm25", "rank"
        )
    )


def random_negatives(
    positives: DataFrame, entities: DataFrame, k: int = 9, seed: int = 42,
    id_col: str = "mention_id", gold_col: str = "label_candidate_id",
    entity_col: str = "entity_id",
) -> DataFrame:
    """C3/J6: per mention, k uniform negatives from KB \\ {gold}, seeded.

    The reference samples fresh negatives per epoch with np.random
    (`/root/reference/utils_E2E_exhaustive.py:334-341`); here the sample is a
    *pure function of (seed, mention_id, entity_id)* — rank entities per
    mention by ``md5('{seed}:{mention}:{entity}')`` and take k — so reruns
    and resume produce identical negatives (SURVEY.md §4 custom work #3),
    and any ANSI-SQL engine (the DuckDB oracle included) reproduces the
    exact sample. Cross join with broadcast KB: the KB is the small
    dimension.
    """
    pos = positives.select(F.col(id_col).alias("_mid"), F.col(gold_col).alias("_gold"))
    ents = entities.select(F.col(entity_col).alias("_eid"))
    paired = pos.crossJoin(F.broadcast(ents)).filter(F.col("_eid") != F.col("_gold"))
    w = Window.partitionBy("_mid").orderBy(
        F.md5(F.concat_ws(":", F.lit(str(seed)), F.col("_mid"), F.col("_eid"))),
        F.col("_eid"),
    )
    return (
        paired.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select(F.col("_mid").alias(id_col), F.col("_eid").alias(entity_col))
    )
