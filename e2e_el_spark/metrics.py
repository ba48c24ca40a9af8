"""Evaluation metrics (SURVEY.md §2.4 A6-A9) as pure DataFrame aggregates.

* pairwise precision/recall/F1 over labeled same-blocking-key pairs — the
  BASELINE.json acceptance metric (≥ 0.99). The engine analogue of the
  reference's span TP/FP/FN counters (`/root/reference/run_E2E_exhaustive.py:449-518`).
* ranking metrics P@1 / MAP / Recall@k and the gold-rank histogram over
  scored candidate lists (reference `run_DualEncoder.py:332-418`); queries
  q24 and q38 of ``__spark_entry__``.
* span-overlap P/R counts (reference `run_E2E_exhaustive.py:449-518`);
  query q36.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def labeled_same_block_pairs(gold_mentions_blocked: DataFrame) -> DataFrame:
    """(mention_id, block_key, label_candidate_id) → labeled pairs.

    All unordered mention pairs sharing a blocking key, labeled
    is_match = (same gold entity) — the FIXTURES.md §5 table.
    """
    a = gold_mentions_blocked.select(
        F.col("block_key"),
        F.col("mention_id").alias("mention_id_a"),
        F.col("label_candidate_id").alias("label_a"),
    )
    b = gold_mentions_blocked.select(
        F.col("block_key"),
        F.col("mention_id").alias("mention_id_b"),
        F.col("label_candidate_id").alias("label_b"),
    )
    return (
        a.join(b, "block_key")
        .filter(F.col("mention_id_a") < F.col("mention_id_b"))
        .select(
            "mention_id_a",
            "mention_id_b",
            "block_key",
            (F.col("label_a") == F.col("label_b")).alias("is_match"),
        )
        .dropDuplicates(["mention_id_a", "mention_id_b"])
    )


def pairwise_f1(labeled_pairs: DataFrame, clusters: DataFrame) -> dict:
    """clusters(mention_id, cluster_id) scored against labeled pairs.

    Returns {tp, fp, fn, tn, precision, recall, f1} computed distributed
    (one join per side + one agg; no driver loops).
    """
    ca = clusters.select(
        F.col("mention_id").alias("mention_id_a"), F.col("cluster_id").alias("cluster_a")
    )
    cb = clusters.select(
        F.col("mention_id").alias("mention_id_b"), F.col("cluster_id").alias("cluster_b")
    )
    j = (
        labeled_pairs.join(ca, "mention_id_a", "left")
        .join(cb, "mention_id_b", "left")
        .withColumn(
            "pred_match",
            F.coalesce(F.col("cluster_a") == F.col("cluster_b"), F.lit(False)),
        )
    )
    row = j.agg(
        F.sum(F.when(F.col("is_match") & F.col("pred_match"), 1).otherwise(0)).alias("tp"),
        F.sum(F.when(~F.col("is_match") & F.col("pred_match"), 1).otherwise(0)).alias("fp"),
        F.sum(F.when(F.col("is_match") & ~F.col("pred_match"), 1).otherwise(0)).alias("fn"),
        F.sum(F.when(~F.col("is_match") & ~F.col("pred_match"), 1).otherwise(0)).alias("tn"),
    ).collect()[0]
    tp, fp, fn, tn = row["tp"] or 0, row["fp"] or 0, row["fn"] or 0, row["tn"] or 0
    precision = tp / (tp + fp) if tp + fp else 1.0
    recall = tp / (tp + fn) if tp + fn else 1.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    return {
        "tp": tp, "fp": fp, "fn": fn, "tn": tn,
        "precision": precision, "recall": recall, "f1": f1,
    }


# how deep each candidate ranking is searched for its gold candidate
GOLD_RANK_DEPTH = 100


def gold_ranks(scored: DataFrame) -> DataFrame:
    """(mention_id, gold_rank): where each mention's gold candidate ranks —
    the input of the A6 ranking metrics and the A8 position-of-positive
    histogram (reference `run_DualEncoder.py:332-418`,
    `utils_E2E_exhaustive.py:432-439,605-606`).

    scored: (mention_id, entity_id, score, is_gold). Candidates rank per
    mention by score desc, entity_id asc (``row_number``: ties never share a
    rank); the gold rank is the minimum rank of an ``is_gold`` row among the
    top ``GOLD_RANK_DEPTH``. A mention with no gold row there has no output
    row.
    """
    w = Window.partitionBy("mention_id").orderBy(F.desc("score"), F.asc("entity_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= GOLD_RANK_DEPTH)
        .filter(F.col("is_gold"))
        .groupBy("mention_id")
        .agg(F.min("rank").alias("gold_rank"))
    )


def ranking_metrics(scored: DataFrame, k: int = 10) -> DataFrame:
    """P@1, MAP (mean 1/rank-of-gold), Recall@k over scored candidates — one
    row. scored: as for :func:`gold_ranks`. Mentions whose gold is not
    ranked count rank = +inf and contribute 0 (normalized denominators)."""
    base = scored.select("mention_id").distinct().join(gold_ranks(scored), "mention_id", "left")
    return base.agg(
        F.avg(F.when(F.col("gold_rank") == 1, 1.0).otherwise(0.0)).alias("p_at_1"),
        F.avg(F.coalesce(1.0 / F.col("gold_rank"), F.lit(0.0))).alias("map"),
        F.avg(
            F.when(F.col("gold_rank") <= k, 1.0).otherwise(0.0)
        ).alias(f"recall_at_{k}"),
        F.count("*").alias("n_mentions"),
    )


def span_overlap_prf(pred: DataFrame, gold: DataFrame) -> DataFrame:
    """Span-overlap counts (A7/A9 + J8,
    reference `run_E2E_exhaustive.py:449-518`) as a one-row frame
    (n_pred, n_gold, tp_pred, tp_gold): a predicted span is a TP if it
    overlaps some gold span of the same document (g_s <= p_e and
    p_s <= g_e — the reference's clipped-overlap rule), and a gold span is
    found if some predicted span overlaps it. Precision = tp_pred / n_pred,
    recall = tp_gold / n_gold. Both inputs: (document_id, start_index,
    end_index); duplicate spans count once.

    One action (crossJoin-of-aggs shape): each side left-joins the other
    on the overlap predicate, a per-span any-match flag is aggregated, and
    the two 1-row count frames crossJoin — not four count() jobs, each
    re-evaluating the join subtrees.
    """
    p = pred.select(
        F.col("document_id"), F.col("start_index").alias("ps"), F.col("end_index").alias("pe")
    ).dropDuplicates()
    g = gold.select(
        F.col("document_id").alias("_gdoc"), F.col("start_index").alias("gs"),
        F.col("end_index").alias("ge"),
    ).dropDuplicates()
    overlap = (F.col("gs") <= F.col("pe")) & (F.col("ps") <= F.col("ge"))

    def counts(side, other, key, probe, n_name, tp_name):
        return (
            side.join(other, (F.col("document_id") == F.col("_gdoc")) & overlap, "left")
            .groupBy(*key)
            .agg(F.max(F.col(probe).isNotNull()).alias("_m"))
            .agg(
                F.count(F.lit(1)).alias(n_name),
                F.coalesce(F.sum(F.col("_m").cast("long")), F.lit(0)).alias(tp_name),
            )
        )

    return counts(p, g, ["document_id", "ps", "pe"], "gs", "n_pred", "tp_pred").crossJoin(
        counts(g, p, ["_gdoc", "gs", "ge"], "ps", "n_gold", "tp_gold")
    )


def pairwise_f1_from_counts(
    blocked_clusters: DataFrame, dedupe_keys: bool = False
) -> dict:
    """Exact pairwise F1 over same-blocking-key pairs WITHOUT materializing
    the O(Σ block²) pair table — the form that survives web scale.

    Input: (mention_id, block_key, label_candidate_id, cluster_id), one row
    per mention per block key. Using n-choose-2 over group sizes:

      predicted_pos = Σ_{block,cluster}       C(n, 2)
      actual_pos    = Σ_{block,label}         C(n, 2)
      tp            = Σ_{block,cluster,label} C(n, 2)

    **PRECONDITION: one block key per mention.** The counting identity
    matches the deduped pair table (:func:`labeled_same_block_pairs` +
    :func:`pairwise_f1`) only when no unordered mention pair can share TWO
    keys — guaranteed when each mention carries exactly one key. Multi-key
    inputs (e.g. LSH band keys) double-count shared-in-two-bands pairs here
    while the pair table dedupes them. For such inputs pass
    ``dedupe_keys=True``: each mention is reduced to its min block key first
    (pairs are then counted within primary blocks only — a deterministic,
    documented coarsening, NOT the multi-key pair-table semantics).

    One Spark job: the three Σ C(n, 2) groupings — (block, cluster),
    (block, label), (block, cluster, label) — run as a single GROUPING SETS
    pass over the input (one scan, one shuffle) instead of three separate
    groupBy jobs; ``grouping_id()`` keeps the sets apart even when a data
    value is NULL.
    """
    if dedupe_keys:
        w = Window.partitionBy("mention_id").orderBy("block_key")
        blocked_clusters = (
            blocked_clusters.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    d = blocked_clusters
    counts = (
        d.groupingSets(
            [
                ["block_key", "cluster_id"],
                ["block_key", "label_candidate_id"],
                ["block_key", "cluster_id", "label_candidate_id"],
            ],
            "block_key", "cluster_id", "label_candidate_id",
        )
        .agg(
            F.grouping_id().alias("_gid"),
            F.count(F.lit(1)).alias("n"),
        )
        .groupBy("_gid")
        .agg(F.sum(F.expr("n * (n - 1) / 2")).alias("p"))
    )
    by_gid = {r["_gid"]: int(r["p"] or 0) for r in counts.collect()}
    # grouping_id bit = 1 when the column is AGGREGATED AWAY (order:
    # block_key, cluster_id, label_candidate_id) — (block, cluster) drops
    # label (0b001=1), (block, label) drops cluster (0b010=2), the full
    # triple drops nothing (0)
    pp = by_gid.get(1, 0)
    ap = by_gid.get(2, 0)
    tp = by_gid.get(0, 0)
    fp, fn = pp - tp, ap - tp
    precision = tp / pp if pp else 1.0
    recall = tp / ap if ap else 1.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    return {
        "tp": tp, "fp": fp, "fn": fn,
        "precision": precision, "recall": recall, "f1": f1,
    }
