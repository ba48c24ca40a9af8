"""End-to-end: golden pairwise F1 ≥ 0.99, resume, determinism (BASELINE.md)."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from e2e_el_spark.pipeline import evaluate_pipeline, run_pipeline
from e2e_el_spark.synth import aliases_df, entities_df, gold_mentions_df, pages_df

N_PAGES, N_ENT, SEED = 150, 80, 11


@pytest.fixture(scope="module")
def corpus(spark):
    return {
        "pages": pages_df(spark, N_PAGES, n_entities=N_ENT, seed=SEED, partitions=8),
        "entities": entities_df(spark, N_ENT, seed=SEED),
        "gazetteer": aliases_df(spark, N_ENT, seed=SEED),
        "gold": gold_mentions_df(spark, N_PAGES, n_entities=N_ENT, seed=SEED, partitions=8),
    }


def _run(spark, corpus, workdir):
    return run_pipeline(
        spark, corpus["pages"], corpus["entities"], corpus["gazetteer"], workdir
    )


def test_pairwise_f1_gate(spark, corpus, tmp_workdir):
    clusters = _run(spark, corpus, tmp_workdir)
    m = evaluate_pipeline(clusters, corpus["gold"])
    assert m["f1"] >= 0.99, m


def test_resume_identical_after_kill(spark, corpus, tmp_workdir):
    c1 = _run(spark, corpus, tmp_workdir)
    r1 = sorted((r.mention_id, r.cluster_id) for r in c1.collect())
    # simulate a crash after stage 03: wipe later stages, rerun
    for stage in ["04_scored", "05_links", "06_clusters"]:
        os.remove(os.path.join(tmp_workdir, stage, "_STAGE_COMPLETE"))
        shutil.rmtree(os.path.join(tmp_workdir, stage, "data"), ignore_errors=True)
    c2 = _run(spark, corpus, tmp_workdir)
    r2 = sorted((r.mention_id, r.cluster_id) for r in c2.collect())
    assert r1 == r2


def test_config_change_invalidates_checkpoints(spark, corpus, tmp_path, caplog):
    """Resume must NOT serve stale stages when the config changed: rerunning
    the same workdir with a different link_threshold must re-link, so the
    knob visibly takes effect (was: marker-only resume ignored config), and
    each recompute is logged as a WARNING, not printed."""
    import logging

    from e2e_el_spark.pipeline import PipelineConfig

    w = str(tmp_path / "fp")
    loose = run_pipeline(
        spark, corpus["pages"], corpus["entities"], corpus["gazetteer"], w,
        PipelineConfig(link_threshold=0.55),
    )
    n_loose = loose.select("cluster_id").distinct().count()
    # threshold 1.01 is unreachable → zero links → every mention a singleton
    with caplog.at_level(logging.WARNING, logger="e2e_el_spark.lineage"):
        strict = run_pipeline(
            spark, corpus["pages"], corpus["entities"], corpus["gazetteer"], w,
            PipelineConfig(link_threshold=1.01),
        )
    assert any(
        r.name == "e2e_el_spark.lineage" and r.levelno == logging.WARNING
        and "recomputing" in r.getMessage()
        for r in caplog.records
    ), caplog.records
    n_strict = strict.select("cluster_id").distinct().count()
    assert n_strict == strict.count()  # all singletons
    assert n_strict > n_loose


def test_rerank_stage_preserves_f1(spark, corpus, tmp_path):
    """L3 on: cross-encoder rerank of the top-5 per surface must keep the F1
    gate (VERDICT round-1 task 6: unchanged-or-better with rerank on)."""
    from e2e_el_spark.pipeline import PipelineConfig

    clusters = run_pipeline(
        spark, corpus["pages"], corpus["entities"], corpus["gazetteer"],
        str(tmp_path / "rr"), PipelineConfig(rerank_topk=5),
    )
    m = evaluate_pipeline(clusters, corpus["gold"])
    assert m["f1"] >= 0.99, m


def test_lineage_recorded_per_partition(spark, corpus, tmp_workdir):
    _run(spark, corpus, tmp_workdir)
    lin = spark.read.parquet(os.path.join(tmp_workdir, "_lineage"))
    stages = {r.stage for r in lin.select("stage").distinct().collect()}
    assert stages == {
        "01_extract", "02_mentions", "03_pairs", "04_scored", "05_links", "06_clusters"
    }
    assert set(lin.columns) == {"stage", "partition_id", "rows_out", "wall_ms", "ts"}
    # per-partition counters sum to stage row counts
    total = lin.filter(F.col("stage") == "06_clusters").agg(F.sum("rows_out")).collect()[0][0]
    assert total == spark.read.parquet(os.path.join(tmp_workdir, "06_clusters", "data")).count()
    # clusters_from_links' closed form needs at most one link per mention
    links = spark.read.parquet(os.path.join(tmp_workdir, "05_links", "data"))
    assert links.count() > 0
    assert links.select("mention_id").distinct().count() == links.count()


def test_rerun_from_scratch_deterministic(spark, corpus, tmp_path):
    w1, w2 = str(tmp_path / "a"), str(tmp_path / "b")
    r1 = sorted((r.mention_id, r.cluster_id) for r in _run(spark, corpus, w1).collect())
    r2 = sorted((r.mention_id, r.cluster_id) for r in _run(spark, corpus, w2).collect())
    assert r1 == r2


def test_rerank_context_windows_marked_and_f1(spark, corpus, tmp_path):
    """Task: document-level P8/P9 context windows as the cross-encoder's
    text_a (the reference's actual pair input). The window frame must carry
    [Ms]/[Me]-marked, document-derived context per surface, and the F1 gate
    must hold with windows on (it is the default when rerank is enabled)."""
    from e2e_el_spark.operators.mentions import detect_mentions
    from e2e_el_spark.extract import extract_documents
    from e2e_el_spark.pipeline import PipelineConfig, surface_context_windows

    docs = extract_documents(corpus["pages"])
    mentions = detect_mentions(docs, corpus["gazetteer"])
    ctx = surface_context_windows(mentions, docs, budget=50)
    rows = ctx.limit(50).collect()
    assert rows, "no context windows built"
    for r in rows:
        assert "[Ms] " in r.context and " [Me]" in r.context, r
        marked = r.context.split("[Ms] ", 1)[1].split(" [Me]", 1)[0]
        assert marked == r.surface, (marked, r.surface)
    # determinism: representative picked by min mention_id — two builds agree
    again = {r.surface: r.context for r in ctx.collect()}
    assert {r.surface: r.context for r in surface_context_windows(
        mentions, docs, budget=50).collect()} == again
    # e2e gate with windows on (the default when rerank_topk is set)
    clusters = run_pipeline(
        spark, corpus["pages"], corpus["entities"], corpus["gazetteer"],
        str(tmp_path / "rrctx"), PipelineConfig(rerank_topk=5),
    )
    m = evaluate_pipeline(clusters, corpus["gold"])
    assert m["f1"] >= 0.99, m


def test_kb_fingerprint_param_resumes_with_zero_jobs(spark, corpus, tmp_path):
    """A fully-resumed KB-artifact build with a caller-supplied
    kb_fingerprint must launch ZERO Spark jobs (the per-run KB hash agg was
    the last serial-floor job on full resume)."""
    from e2e_el_spark.pipeline import (
        PipelineConfig, build_kb_artifacts, kb_content_fingerprint,
    )

    cfg = PipelineConfig()
    kb_dir = str(tmp_path / "kbfp")
    fp = kb_content_fingerprint(corpus["entities"])
    build_kb_artifacts(spark, corpus["entities"], cfg, kb_dir, kb_fingerprint=fp)
    sc = spark.sparkContext
    sc.setJobGroup("kb_resume", "kb_resume")
    try:
        vocab, ev, eb = build_kb_artifacts(
            spark, corpus["entities"], cfg, kb_dir, kb_fingerprint=fp
        )
        n_jobs = len(list(sc.statusTracker().getJobIdsForGroup("kb_resume")))
    finally:
        sc.setJobGroup(None, None)
    assert n_jobs == 0, n_jobs
    assert vocab.count() > 0 and ev.count() > 0  # artifacts readable


def test_config_holds_only_caller_set_values():
    """PipelineConfig carries the values a caller sets; every other tuning
    value is an engine constant in pipeline.py."""
    import dataclasses

    from e2e_el_spark.pipeline import PipelineConfig

    assert [f.name for f in dataclasses.fields(PipelineConfig)] == [
        "link_threshold", "langs", "rerank_topk",
    ]
