"""Structured Streaming surface (SURVEY.md §2.13): incremental entity
linking over a stream of pages.

The reference is pure batch — nothing here ports reference behavior. This is
the streaming entry point a production deployment of the same engine needs:
each micro-batch runs the UNCHANGED batch operators (extract → mentions →
pairs → score → link) via ``foreachBatch``, because ``detect_mentions``
prunes contained spans with a window function, which streaming DataFrames
don't support. Same code path as batch, the detector included ⇒ no
semantic drift between the backfill job and the incremental job.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame

logger = logging.getLogger(__name__)

PAGES_SCHEMA = "url string, html binary, text string, lang string"


def make_links_processor(
    entities: DataFrame,
    gazetteer: DataFrame,
    out_path: str,
    cfg=None,
    kb=None,
    epoch_idempotent: bool = False,
):
    """The foreachBatch processor behind ``stream_links_to`` — factored out
    so a retried epoch can be exercised directly in tests.

    ``epoch_idempotent=True`` writes each micro-batch to
    ``{out_path}/_epoch={id}`` with overwrite: a RETRIED foreachBatch epoch
    (Spark's contract is at-least-once per epoch) rewrites its own partition
    instead of double-appending. Readers see an extra ``_epoch`` partition
    column via parquet partition discovery. The default (False) keeps the
    plain append sink and therefore AT-LEAST-ONCE semantics: a crash between
    the parquet append and the checkpoint commit replays the epoch and
    duplicates its links — dedupe downstream on (mention_id) or use the
    idempotent mode.

    The gazetteer's alias table is collected once, when the processor is
    built, like the KB artifacts ``kb``: the stream links against the KB
    as it was at start.

    Micro-batches never rerank: ``cfg.rerank_topk`` is ignored, with one
    WARNING when it is set: the rerank context of a surface is its
    min-``mention_id`` mention over the whole corpus
    (``pipeline.surface_context_windows``), which one micro-batch cannot
    see.
    """
    from e2e_el_spark.extract import extract_documents
    from e2e_el_spark.operators.mentions import _detect, _fused_aliases
    from e2e_el_spark.pipeline import (
        MAX_MENTION_TOKENS,
        PipelineConfig,
        candidate_pairs,
        kb_frames,
        link_top1,
        mention_links,
        score_candidates,
    )

    cfg = cfg or PipelineConfig()
    if cfg.rerank_topk is not None:
        logger.warning(
            "stream_links_to ignores rerank_topk=%s: micro-batch links are "
            "the un-reranked 05_links", cfg.rerank_topk)
    kb_art = kb if kb is not None else kb_frames(entities)
    # the KB is fixed for the stream's life (as ``kb`` is): collect
    # detect_mentions' alias table once here, not once per micro-batch
    aliases = _fused_aliases(gazetteer)

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        docs = extract_documents(batch_df)
        # run_pipeline's detector (detect_mentions) on whole documents
        mentions = _detect(docs, gazetteer, MAX_MENTION_TOKENS, aliases)
        cands = candidate_pairs(mentions, kb_art)
        scored = score_candidates(cands, gazetteer)
        links = mention_links(link_top1(scored, cfg.link_threshold), mentions)
        if epoch_idempotent:
            links.write.mode("overwrite").parquet(f"{out_path}/_epoch={epoch_id}")
        else:
            links.write.mode("append").parquet(out_path)

    return _process


def stream_links_to(
    pages_stream: DataFrame,
    entities: DataFrame,
    gazetteer: DataFrame,
    out_path: str,
    checkpoint_dir: str,
    cfg=None,
    kb=None,
    epoch_idempotent: bool = False,
):
    """pages stream → full EXTRACT → MENTIONS → PAIRS → SCORE → LINK per
    micro-batch (the incremental form of the whole linking pipeline, not just
    mention detection).

    With ``cfg.rerank_topk`` None, per-micro-batch links are IDENTICAL to
    ``run_pipeline``'s ``05_links`` over the union of the batches: both
    run the same ``detect_mentions`` on the same whole documents, and every
    per-mention signal is a pure function of (surface, KB) — the KB-only
    vocabulary (``pipeline._kb_vocab``) removed the last corpus-level dependency
    (corpus IDF), so scoring cannot see batch composition. foreachBatch
    reuses the unchanged batch operators; pass precomputed ``kb`` artifacts
    (``pipeline.build_kb_artifacts``) so each micro-batch plan starts from
    the parquet artifacts instead of re-deriving the KB side per epoch.
    A set ``rerank_topk`` is ignored (see ``make_links_processor``), so the
    stream then matches a batch run without rerank, not the reranked one.

    Delivery: the default append sink is AT-LEAST-ONCE — a retried epoch
    double-appends its links.
    ``epoch_idempotent=True`` overwrites a per-epoch partition directory
    instead, making epoch retries exactly-once at the cost of an ``_epoch``
    partition column in the sink schema (see ``make_links_processor``).
    """
    return (
        pages_stream.writeStream.foreachBatch(
            make_links_processor(
                entities, gazetteer, out_path, cfg, kb,
                epoch_idempotent=epoch_idempotent,
            )
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
