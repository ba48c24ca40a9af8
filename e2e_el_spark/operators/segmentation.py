"""Document segmentation with mention offset rebase (W1, SURVEY.md §2).

The reference splits long documents into budget-bounded segments by greedy
sentence packing and re-bases every mention's offsets and ids into its
segment (`/root/reference/CollectiveEL_data_formatter.py:83-186`): sentences
come from ``text.split('. ')`` with the separator re-appended to every
sentence but the last (so segment concatenation reproduces the text), a
sentence is appended to the current segment while the packed length stays
within the budget, segment ids are ``{document_id}_{n}`` (1-based), and
mention ids within a segment are ``{segment_id}_{i}`` (1-based).

Spark-first shape:

- ``segment_documents`` is a ``mapInPandas`` over the documents table — the
  greedy pack is inherently sequential PER DOCUMENT but embarrassingly
  parallel ACROSS documents, so there is **zero shuffle**: each input
  partition yields its segments in place (Arrow-batched, never per-row
  Python).
- ``rebase_mentions`` is pure DataFrame algebra: a containment join on
  (document_id, seg_start ≤ start_index, end_index ≤ seg_end) plus a
  row_number window for the per-segment mention ids. Mentions that straddle
  a segment boundary (possible only when a mention contains '. ') are NOT
  silently dropped: the count rides along as the observed metric
  ``segment_rebase_straddle``.

The budget is measured in characters — the deterministic stand-in for the
reference's BERT token budget (F3 WordPiece is out of scope per SURVEY §2.7;
a tokenizer-true budget plugs into ``_pack_segments`` at the same seam).

Invariants (tested):
- concat(segments ordered by seg_index) == original text, byte-identical;
- every segment ≤ budget chars unless a single sentence alone exceeds it;
- for every rebased mention: segment_text[start:end] == mention text
  (the reference's slice assertion, utils_E2E_exhaustive.py:92-94).
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

SEGMENT_SCHEMA = (
    "document_id string, segment_id string, seg_index int, "
    "seg_start long, seg_end long, text string"
)


DEFAULT_SEPARATORS = (". ", "\n")


def _split_sentences(text: str, separators: tuple[str, ...] = (". ",)) -> list[str]:
    """Sentence pieces with each separator re-appended to the piece it ends,
    so ``''.join(result) == text`` exactly
    (CollectiveEL_data_formatter.py:85-101 semantics; the reference splits on
    '. ' only — '\\n' is the web-text paragraph boundary added here)."""
    sents = [text]
    for sep in separators:
        nxt: list[str] = []
        for s in sents:
            parts = s.split(sep)
            nxt.extend([p + sep for p in parts[:-1]] + [parts[-1]])
        sents = nxt
    return sents


def _pack_segments(
    text: str, budget: int, separators: tuple[str, ...] = (". ",)
) -> list[str]:
    """Greedy sentence packing: append while the packed segment stays within
    ``budget`` chars; a sentence that alone exceeds the budget becomes its
    own segment (CollectiveEL_data_formatter.py:97-121)."""
    segments: list[str] = []
    cur = ""
    for s in _split_sentences(text, separators):
        if cur and len(cur) + len(s) > budget:
            segments.append(cur)
            cur = s
        else:
            cur += s
    segments.append(cur)
    return segments


def segment_documents(
    documents: DataFrame,
    budget: int = 2000,
    id_col: str = "document_id",
    text_col: str = "text",
    separators: tuple[str, ...] = DEFAULT_SEPARATORS,
) -> DataFrame:
    """documents(id, text) → segments(document_id, segment_id, seg_index,
    seg_start, seg_end, text); zero-shuffle mapInPandas."""
    import pandas as pd

    src = documents.select(
        F.col(id_col).cast("string").alias("document_id"), F.col(text_col).alias("text")
    )

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            out: dict[str, list] = {
                "document_id": [], "segment_id": [], "seg_index": [],
                "seg_start": [], "seg_end": [], "text": [],
            }
            for did, txt in zip(pdf["document_id"], pdf["text"]):
                off = 0
                for i, seg in enumerate(
                    _pack_segments(txt or "", budget, separators), start=1
                ):
                    out["document_id"].append(did)
                    out["segment_id"].append(f"{did}_{i}")
                    out["seg_index"].append(i)
                    out["seg_start"].append(off)
                    out["seg_end"].append(off + len(seg))
                    out["text"].append(seg)
                    off += len(seg)
            yield pd.DataFrame(out)

    return src.mapInPandas(gen, SEGMENT_SCHEMA)


def rebase_mentions(
    mentions: DataFrame,
    segments: DataFrame,
    observation=None,
) -> DataFrame:
    """mentions(mention_id, document_id, start_index, end_index, text, ...) ⋈
    segments → mentions re-based into their containing segment.

    Output columns: mention_id = ``{segment_id}_{i}`` (i = 1-based rank by
    start offset within the segment — CollectiveEL_data_formatter.py:145-148),
    document_id = segment_id, start_index/end_index relative to the segment,
    plus orig_mention_id / orig_document_id / orig_start_index for lineage
    back to the unsegmented corpus. Extra mention columns pass through.

    A mention straddling a segment boundary matches no segment; the straddle
    count is observable (``segment_rebase_straddle`` or the passed
    Observation) — never a silent drop.
    """
    seg = segments.select(
        F.col("document_id").alias("_doc"),
        "segment_id", "seg_start", "seg_end",
    )
    joined = mentions.join(
        seg,
        (mentions["document_id"] == seg["_doc"])
        & (mentions["start_index"] >= seg["seg_start"])
        & (mentions["end_index"] <= seg["seg_end"]),
        "left",
    )
    metrics = [
        F.sum(F.col("segment_id").isNull().cast("long")).alias("straddled_mentions"),
        F.count(F.lit(1)).alias("input_mentions"),
    ]
    if observation is not None:
        joined = joined.observe(observation, *metrics)
    else:
        from e2e_el_spark.functions import unique_metric_name

        joined = joined.observe(unique_metric_name("segment_rebase_straddle"), *metrics)
    contained = joined.filter(F.col("segment_id").isNotNull())
    w = Window.partitionBy("segment_id").orderBy("start_index", "end_index")
    passthrough = [
        c for c in mentions.columns
        if c not in ("mention_id", "document_id", "start_index", "end_index")
    ]
    return contained.withColumn("_i", F.row_number().over(w)).select(
        F.concat_ws("_", F.col("segment_id"), F.col("_i").cast("string")).alias("mention_id"),
        F.col("segment_id").alias("document_id"),
        (F.col("start_index") - F.col("seg_start")).cast("int").alias("start_index"),
        (F.col("end_index") - F.col("seg_start")).cast("int").alias("end_index"),
        *passthrough,
        F.col("mention_id").alias("orig_mention_id"),
        F.col("_doc").alias("orig_document_id"),
        F.col("start_index").alias("orig_start_index"),
    )

