"""§2.13 streaming surface: incremental entity linking over a page stream
equals the batch backfill, and epoch retries are idempotent."""

import logging

import pytest
from pyspark.sql import functions as F

from e2e_el_spark.streaming import PAGES_SCHEMA


def _st_louis_page_and_kb(spark, pages, ents, gaz):
    """One more page whose paragraph is longer than 2,000 chars, and a KB
    entity "St. Louis" that the page mentions where greedy '. '-packing at
    2,000 chars would cut the alias in two (``St. `` | ``Louis today``)."""
    from e2e_el_spark.extract import extract_text
    from e2e_el_spark.operators.segmentation import _pack_segments

    para = (
        "Traders met again to review the weekly figures. " * 40
        + "The report on the market in St. "
        + "Louis today drew a crowd of buyers and sellers from across the region. " * 2
    )
    html = f"<html><head><title>Market report</title></head><body><p>{para}</p></body></html>"
    text = extract_text(html)
    assert len(para) > 2000 and "St. Louis" in text
    assert not any("St. Louis" in s for s in _pack_segments(text, 2000, (". ", "\n")))
    page = spark.createDataFrame(
        [("https://example.org/page/99999", None, html.encode(), text, "en")],
        pages.schema,
    )
    eid = "E999999"
    return (
        pages.unionByName(page),
        ents.unionByName(spark.createDataFrame([(eid, "PLACE", "St. Louis")], ents.schema)),
        gaz.unionByName(spark.createDataFrame([(eid, "St. Louis", 2)], gaz.schema)),
        eid,
    )


def test_stream_links_parity_with_batch_backfill(spark, tmp_path):
    """Full incremental score+link via foreachBatch over a 2-micro-batch
    stream == run_pipeline's own 05_links table over the same pages,
    byte-for-byte: both detect on whole documents, and every signal is a
    pure function of (surface, KB) since the KB-only vocabulary removed
    corpus-level IDF (pipeline._kb_vocab docstring). One page holds an
    alias containing '. ' in a paragraph past 2,000 chars, which a
    sentence-packing segmenter would split."""
    import os

    from e2e_el_spark.pipeline import PipelineConfig, run_pipeline
    from e2e_el_spark.streaming import stream_links_to
    from e2e_el_spark.synth import aliases_df, entities_df, pages_df

    src = str(tmp_path / "pl_in")
    out = str(tmp_path / "pl_out")
    ckpt = str(tmp_path / "pl_ckpt")
    os.makedirs(src)
    cfg = PipelineConfig()
    pages, ents, gaz, st_louis = _st_louis_page_and_kb(
        spark,
        pages_df(spark, 30, n_entities=30, seed=3, partitions=2),
        entities_df(spark, 30, seed=3),
        aliases_df(spark, 30, seed=3),
    )

    # two waves → two checkpointed availableNow passes (two micro-batch epochs)
    wave1 = pages.filter(F.col("url") < "https://example.org/page/00015")
    wave2 = pages.subtract(wave1)
    for wave in (wave1, wave2):
        wave.coalesce(1).write.mode("append").parquet(src)
        q = stream_links_to(
            spark.readStream.schema(PAGES_SCHEMA).parquet(src),
            ents, gaz, out, ckpt, cfg,
        )
        q.awaitTermination(180)

    got = sorted(
        (r.mention_id, r.entity_id, round(r.score, 9))
        for r in spark.read.parquet(out).collect()
    )
    work = str(tmp_path / "batch")
    run_pipeline(spark, pages, ents, gaz, work, cfg)
    want = sorted(
        (r.mention_id, r.entity_id, round(r.score, 9))
        for r in spark.read.parquet(os.path.join(work, "05_links", "data")).collect()
    )
    assert any(e == st_louis for _, e, _ in got), got
    assert got == want


def test_stream_links_epoch_idempotent_retry(spark, tmp_path):
    """foreachBatch epochs are at-least-once: a RETRIED epoch must not
    double-append links. epoch_idempotent=True overwrites the epoch's own
    partition — invoking the processor twice with the same epoch_id (the
    retry) leaves the sink unchanged (ADVICE r3 #1).

    "Unchanged" = identical (mention, entity) rows; the float score is
    compared with a tolerance because the TF-IDF dot is a distributed
    partial aggregation whose summation ORDER varies run to run — a
    last-ULP difference between the first write and the retry is Spark
    float-sum semantics, not a broken overwrite (observed once in CI:
    ...775 vs ...774)."""
    from e2e_el_spark.streaming import make_links_processor
    from e2e_el_spark.synth import aliases_df, entities_df, pages_df

    def read_links():
        rows = sorted(
            map(tuple, spark.read.parquet(out).drop("_epoch").collect())
        )
        keys = [r[:-1] for r in rows]
        scores = [r[-1] for r in rows]
        return rows, keys, scores

    out = str(tmp_path / "idem_links")
    pages = pages_df(spark, 20, n_entities=15, seed=9, partitions=2)
    ents, gaz = entities_df(spark, 15, seed=9), aliases_df(spark, 15, seed=9)
    proc = make_links_processor(ents, gaz, out, epoch_idempotent=True)
    proc(pages, 0)
    once, keys1, scores1 = read_links()
    assert once, "no links produced"
    proc(pages, 0)  # the retry
    _, keys2, scores2 = read_links()
    assert keys2 == keys1
    assert scores2 == pytest.approx(scores1, rel=1e-9)
    # a genuinely new epoch appends its own partition
    proc(pages, 1)
    assert spark.read.parquet(out).count() == 2 * len(once)


def test_stream_links_warns_that_rerank_is_ignored(spark, tmp_path, caplog):
    """A micro-batch never reranks: a set ``rerank_topk`` logs one WARNING
    when the processor is built, and an unset one logs nothing."""
    from e2e_el_spark.pipeline import PipelineConfig
    from e2e_el_spark.streaming import make_links_processor
    from e2e_el_spark.synth import aliases_df, entities_df

    ents, gaz = entities_df(spark, 5, seed=1), aliases_df(spark, 5, seed=1)
    out = str(tmp_path / "links")

    def warnings(cfg):
        caplog.clear()
        with caplog.at_level(logging.WARNING, logger="e2e_el_spark.streaming"):
            make_links_processor(ents, gaz, out, cfg)
        return [r for r in caplog.records if r.name == "e2e_el_spark.streaming"]

    warned = warnings(PipelineConfig(rerank_topk=5))
    assert len(warned) == 1 and warned[0].levelno == logging.WARNING
    assert "rerank_topk=5" in warned[0].getMessage()
    assert warnings(PipelineConfig()) == []


def test_stream_micro_batch_runs_the_fused_detector(spark, tmp_path, monkeypatch):
    """A micro-batch detects mentions with run_pipeline's detector: its
    mentions frame has exactly one MapInPandas (the fused matcher over the
    extracted documents) and no token Window below it. The alias table is
    collected once per processor, not once per micro-batch. The pages are
    read from parquet, as a stream source delivers them (the synthetic
    generator is itself a MapInPandas)."""
    from e2e_el_spark import pipeline
    from e2e_el_spark.operators import mentions as mentions_mod
    from e2e_el_spark.streaming import make_links_processor
    from e2e_el_spark.synth import aliases_df, entities_df, pages_df, via_parquet
    from tests.plan_inspect import physical_nodes, subtree

    class Captured(Exception):
        pass

    frames = []

    def capture(mentions, kb):
        frames.append(mentions)
        raise Captured

    collects = []
    fused_aliases = mentions_mod._fused_aliases

    def counted(gazetteer):
        collects.append(gazetteer)
        return fused_aliases(gazetteer)

    monkeypatch.setattr(pipeline, "candidate_pairs", capture)
    monkeypatch.setattr(mentions_mod, "_fused_aliases", counted)
    ents, gaz = entities_df(spark, 15, seed=9), aliases_df(spark, 15, seed=9)
    proc = make_links_processor(ents, gaz, str(tmp_path / "links"))
    pages = via_parquet(pages_df(spark, 10, n_entities=15, seed=9, partitions=2),
                        str(tmp_path / "pages"))
    for epoch in (0, 1):
        with pytest.raises(Captured):
            proc(pages, epoch)
    assert len(collects) == 1
    mentions = frames[0]
    assert mentions.collect()
    scans = [n for n in physical_nodes(mentions) if n.nodeName() == "MapInPandas"]
    assert len(scans) == 1, [n.nodeName() for n in physical_nodes(mentions)]
    assert not any(n.nodeName() == "Window" for n in subtree(scans[0]))
