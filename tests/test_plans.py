"""Physical-plan assertions: the optimizations SURVEY.md §4 promises must be
visible in explain() output — pushdown, pruning, broadcast, codegen."""

import pytest
from pyspark.sql import functions as F

from e2e_el_spark.extract import extract_documents
from e2e_el_spark.operators import mentions
from e2e_el_spark.operators.mentions import detect_mentions
from e2e_el_spark.synth import aliases_df
from tests.plan_inspect import (
    broadcast_hinted_columns,
    broadcast_threshold,
    evh_pruned,
    physical_nodes,
    subtree,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_to_parquet(spark, tmp_path):
    p = str(tmp_path / "li")
    spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v"), F.lit("x").alias("s")
    ).write.parquet(p)
    df = spark.read.parquet(p).filter(F.col("k") > 50).select("k")
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(k), GreaterThan(k,50)]" in plan, plan
    # column pruning: v and s never read
    assert "ReadSchema: struct<k:bigint>" in plan, plan


def test_extract_prunes_stored_text_column(spark, tmp_path):
    """EXTRACT must read only (url, html) — the stored text column is the
    oracle, not an input (extract.py docstring contract)."""
    p = str(tmp_path / "pages")
    spark.createDataFrame(
        [("u1", b"<p>x</p>", "x", "en")], "url string, html binary, text string, lang string"
    ).write.parquet(p)
    docs = extract_documents(spark.read.parquet(p))
    plan = _plan(docs)
    assert "text" not in plan.split("ReadSchema:")[1].split("\n")[0], plan
    assert "url" in plan and "html" in plan


def test_gazetteer_join_is_broadcast(spark, monkeypatch):
    """The window fallback's gazetteer join on a small KB is broadcast by
    Spark's own size rule."""
    docs = spark.createDataFrame([("d1", "alpha beta")], "document_id string, text string")
    gaz = aliases_df(spark, 20, seed=42)
    monkeypatch.setattr(mentions, "FUSED_MAX_ALIASES", 0)
    plan = _plan(detect_mentions(docs, gaz))
    assert "BroadcastHashJoin" in plan, plan


def test_fused_detector_plan_has_no_pre_scan_exchange(spark):
    """The fused matcher's contract is structural: detection runs INSIDE the
    document scan (MapInPandas directly over the source, no token shuffle,
    no span explode, no join), and the only exchanges in the whole stage
    sit ABOVE it, carrying matched-mention rows (longest-match window +
    mention_id dedup)."""
    docs = spark.createDataFrame(
        [("d1", "alpha beta gamma")], "document_id string, text string"
    )
    gaz = aliases_df(spark, 20, seed=42)
    plan = _plan(detect_mentions(docs, gaz))
    assert "MapInPandas" in plan, plan
    # nothing below the python scan: no join, no explode/generate anywhere
    assert "Join" not in plan, plan
    assert "Generate" not in plan, plan
    below_scan = plan.split("MapInPandas")[-1]
    assert "Exchange" not in below_scan, plan


def test_pipeline_mentions_stage_is_one_python_scan(spark, tmp_path, monkeypatch):
    """run_pipeline's 02_mentions frame is the fused detector over the
    01_extract documents: one MapInPandas and no join (no segmenter pass,
    no join back to corpus coordinates)."""
    from e2e_el_spark.lineage import StageRunner
    from e2e_el_spark.pipeline import run_pipeline
    from e2e_el_spark.synth import entities_df, pages_df

    class Captured(Exception):
        pass

    frames = {}
    run = StageRunner.run

    def capture(self, stage, fn, force=False):
        if stage != "02_mentions":
            return run(self, stage, fn, force)
        run(self, stage, lambda: frames.setdefault(stage, fn()), force)
        raise Captured

    monkeypatch.setattr(StageRunner, "run", capture)
    with pytest.raises(Captured):
        run_pipeline(
            spark, pages_df(spark, 20, n_entities=15, seed=5, partitions=2),
            entities_df(spark, 15, seed=5), aliases_df(spark, 15, seed=5),
            str(tmp_path / "work"),
        )
    mentions = frames["02_mentions"]
    assert mentions.collect()
    plan = _plan(mentions).split("== Initial Plan ==")[0]
    assert plan.count("MapInPandas") == 1, plan
    assert "Join" not in plan, plan


_JOINS = ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")


def _anchor_join(df):
    """The ``_anchor_first`` join below the window fallback's width-gated
    span explode, whatever the join strategy."""
    explode = next(
        n for n in physical_nodes(df)
        if n.nodeName() == "Generate"
        and "array_contains(_anchor_widths" in n.generator().toString()
    )
    return next(
        n for n in subtree(explode)
        if n.nodeName() in _JOINS and "_anchor_first" in n.toString().split("\n")[0]
    )


def test_anchor_pruned_window_form_gates_explode_on_anchor_join(spark, monkeypatch):
    """The window fallback: the anchor join on the lowered token must sit
    BETWEEN the token window pass and the span explode, so the 1..k row
    expansion happens only for anchor tokens."""
    docs = spark.createDataFrame(
        [("d1", "alpha beta gamma")], "document_id string, text string"
    )
    gaz = aliases_df(spark, 20, seed=42)
    monkeypatch.setattr(mentions, "FUSED_MAX_ALIASES", 0)
    join = _anchor_join(detect_mentions(docs, gaz))
    assert "lower(token" in join.toString().split("\n")[0], join.toString()
    assert any(n.nodeName() == "Window" for n in subtree(join)), join.toString()


def test_window_fallback_follows_the_size_rule(spark, monkeypatch, caplog):
    """The window fallback runs only for a gazetteer too big to collect,
    so its anchor dim carries no broadcast hint: with broadcasting off the
    anchor join is shuffled, and the output still equals the fused
    matcher's."""
    import logging

    docs = spark.createDataFrame(
        [("d1", "visit amber anchor labs today\nsee Amber Anchor now"),
         ("d2", "zz top 9 and amber")],
        "document_id string, text string",
    )
    gaz = spark.createDataFrame(
        [("e1", "amber anchor labs"), ("e2", "amber anchor"), ("e3", "today"),
         ("e4", "zz top 9"), ("e5", "amber")],
        "entity_id string, alias string",
    )
    fused = sorted(map(tuple, detect_mentions(docs, gaz).collect()))
    assert fused  # fixture sanity
    monkeypatch.setattr(mentions, "FUSED_MAX_ALIASES", 0)
    with broadcast_threshold(spark, "-1"), caplog.at_level(
        logging.WARNING, logger="e2e_el_spark.operators.mentions"
    ):
        fallback = detect_mentions(docs, gaz)
        hinted = broadcast_hinted_columns(fallback)
        join = _anchor_join(fallback)
        got = sorted(map(tuple, fallback.collect()))
    assert any("falling back" in r.getMessage() for r in caplog.records)
    assert not any("_anchor_first" in cols for cols in hinted), hinted
    assert join.nodeName() != "BroadcastHashJoin", join.toString()
    assert got == fused


def test_vocab_topk_is_distributed(spark):
    """build_tfidf_vocab's top-k must compile to TakeOrderedAndProject
    (per-partition heaps), NOT a single-partition row_number window — an
    unpartitioned window funnels the whole gram table through one task."""
    from e2e_el_spark.operators.blocking import build_tfidf_vocab

    corpus = spark.createDataFrame(
        [(str(i), f"alpha beta gamma {i}") for i in range(50)], "cid string, ctext string"
    )
    vocab = build_tfidf_vocab(corpus, "cid", "ctext", n_max=2, vocab_size=10, n_docs=50)
    plan = _plan(vocab)
    assert "TakeOrderedAndProject" in plan, plan
    assert "Window" not in plan, plan
    # no single-partition shuffle of the totals table
    assert "SinglePartition" not in plan, plan


def test_candidate_rescore_broadcasts_kb_vectors(spark, monkeypatch):
    """The exact-rescore join's entity-vector side (the KB dimension) must
    be a BroadcastHashJoin — a sort-merge join there would shuffle the wide
    cands × grams intermediate on (entity_id, gram)."""
    from e2e_el_spark import pipeline
    from e2e_el_spark.pipeline import candidate_pairs, kb_frames
    from e2e_el_spark.synth import aliases_df, entities_df

    ents = entities_df(spark, 30, seed=5)
    mentions = aliases_df(spark, 30, seed=5).select(
        F.concat_ws("#", "entity_id", "alias").alias("mention_id"),
        F.col("alias").alias("text"),
    )
    monkeypatch.setattr(pipeline, "VOCAB_SIZE", 500)
    out = candidate_pairs(mentions, kb_frames(ents))
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan, plan


def test_aggregation_uses_whole_stage_codegen_and_partial_agg(spark, tmp_path):
    p = str(tmp_path / "agg")
    spark.range(1000).select((F.col("id") % 7).alias("k"), F.col("id").alias("v")).write.parquet(p)
    df = spark.read.parquet(p).groupBy("k").agg(F.sum("v").alias("s"))
    df.collect()  # AQE finalizes the physical plan only on execution
    plan = _plan(df)
    # partial (map-side) aggregation before the exchange
    assert plan.count("HashAggregate") >= 2, plan
    assert "partial_sum" in plan, plan
    # whole-stage codegen visible on the finalized formatted plan
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    # '*' prefix / 'codegen id' mark whole-stage-codegen'd operators
    assert "codegen id" in buf.getvalue() or "WholeStageCodegen" in buf.getvalue(), buf.getvalue()


def test_kb_proportional_joins_carry_no_broadcast_hint(spark):
    """Spark's size rule alone picks broadcast or shuffle for the
    KB-proportional sides (entity blocks, entity vectors, alias and name
    tables): a hint there would force a 10^6-entity KB into one
    in-memory copy per executor. In candidate_pairs, score_candidates and
    rerank_candidates the only hinted frames are vocabulary-bounded: the
    rare grams, the vocabulary and distinct gram hashes. The threshold is
    forced to -1 so the plan also holds the evh prunes and their hints."""
    from e2e_el_spark.pipeline import (
        candidate_pairs, kb_frames, rerank_candidates, score_candidates,
    )
    from e2e_el_spark.synth import aliases_df, entities_df

    ents = entities_df(spark, 30, seed=5)
    gaz = aliases_df(spark, 30, seed=5)
    mentions = gaz.select(
        F.col("alias").alias("mention_id"), F.col("alias").alias("text")
    )
    ctx = _marked_contexts(mentions.select(F.col("text").alias("surface")))
    vocab_bounded = {
        frozenset({"gram", "df"}), frozenset({"gram", "idf"}), frozenset({"_gh"}),
    }
    with broadcast_threshold(spark, "-1"):
        cands = candidate_pairs(mentions, kb_frames(ents))
        scored = score_candidates(cands.limit(5), gaz)
        reranked = rerank_candidates(scored, ents, ctx, 3)
    assert evh_pruned(cands)
    assert frozenset({"_gh"}) in broadcast_hinted_columns(cands)
    for df in (cands, scored, reranked):
        hinted = broadcast_hinted_columns(df)
        assert hinted <= vocab_bounded, hinted - vocab_bounded


def test_kb_scale_plan_decisions_output_invariant(spark, tmp_path, caplog, monkeypatch):
    """Forcing the large-KB plan paths (no broadcast joins, so the evh
    prune fires, plus the window-mode detection fallback) on a small input
    must give bit-identical clusters to the default paths — plan decisions
    are performance only."""
    import logging

    from e2e_el_spark import pipeline
    from e2e_el_spark.pipeline import run_pipeline
    from e2e_el_spark.synth import aliases_df, entities_df, pages_df

    pages = pages_df(spark, 60, n_entities=30, seed=11, partitions=4)
    ents = entities_df(spark, 30, seed=11)
    gaz = aliases_df(spark, 30, seed=11)
    base = run_pipeline(spark, pages, ents, gaz, str(tmp_path / "a"))

    real_candidate_pairs = pipeline.candidate_pairs
    pairs_plans = []

    def recording_candidate_pairs(*args, **kwargs):
        pairs_plans.append(real_candidate_pairs(*args, **kwargs))
        return pairs_plans[-1]

    monkeypatch.setattr(pipeline, "candidate_pairs", recording_candidate_pairs)
    monkeypatch.setattr(mentions, "FUSED_MAX_ALIASES", 0)
    with broadcast_threshold(spark, "-1"), caplog.at_level(
        logging.WARNING, logger="e2e_el_spark.operators.mentions"
    ):
        alt = run_pipeline(spark, pages, ents, gaz, str(tmp_path / "b"))
    # the window fallback really fired (else this compares fused to fused)
    assert any("FUSED_MAX_ALIASES=0" in r.getMessage() for r in caplog.records)
    # ... and 03_pairs took the pruned branch
    assert len(pairs_plans) == 1 and evh_pruned(pairs_plans[0])

    def key(df):
        return sorted((r.mention_id, r.cluster_id) for r in df.collect())

    assert key(base) == key(alt)


def test_shuffles_start_data_proportional_then_coalesce(spark):
    """Shuffle exchanges start from max(4 x shuffle.partitions, 64) and AQE
    coalesces small ones down — the R5-m fix: a big exchange is never pinned
    to the emulated core count (at partitions = cores the n2 level pushed
    ~27M link rows through TWO partitions and 06_clusters degraded 21% from
    spill; BENCH/SCALING_EVIDENCE.md R5-l/R5-m), while tiny KB-bounded
    stages still coalesce instead of paying per-task overhead."""
    sp = int(spark.conf.get("spark.sql.shuffle.partitions"))
    init = int(
        spark.conf.get("spark.sql.adaptive.coalescePartitions.initialPartitionNum")
    )
    assert init == max(4 * sp, 64), (sp, init)
    # AQE still coalesces a tiny aggregation far below the initial count
    df = spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count()
    df.collect()
    assert df.rdd.getNumPartitions() < init
    # ... and so does a CACHED one: with Spark's default
    # canChangeCachedPlanOutputPartitioning=false the cache keeps all
    # ``init`` partitions and every consumer scans it with ``init`` tasks
    cached = spark.range(1000).groupBy((F.col("id") % 11).alias("k")).count().cache()
    try:
        cached.count()
        assert cached.rdd.getNumPartitions() < init
    finally:
        cached.unpersist()


def test_clusters_from_links_plan_is_one_join_chain(spark, tmp_path):
    """06_clusters is closed form over star-shaped links: one entity_id
    partial aggregate plus mention_id/entity_id joins. No union, anti-join
    or semi-join of mention rows, and at most 3 shuffle exchanges (the
    aggregate, plus both sides of the mention_id join when Spark does not
    broadcast)."""
    import re

    from e2e_el_spark.pipeline import clusters_from_links

    spark.createDataFrame(
        [("m1", "d1", 0, 2, "ab", "e1"), ("m2", "d1", 3, 5, "cd", None)],
        "mention_id string, document_id string, start_index int, "
        "end_index int, text string, gazetteer_entity_id string",
    ).write.parquet(str(tmp_path / "mentions"))
    spark.createDataFrame(
        [("m1", "e1", 0.9)], "mention_id string, entity_id string, score double"
    ).write.parquet(str(tmp_path / "links"))
    plan = _plan(clusters_from_links(
        spark.read.parquet(str(tmp_path / "links")),
        spark.read.parquet(str(tmp_path / "mentions")),
    ))
    for node in ("Union", "LeftAnti", "LeftSemi"):
        assert node not in plan, plan
    assert len(re.findall(r"\bExchange ", plan)) <= 3, plan


def _marked_contexts(surfaces):
    """(surface, context): one [Ms]/[Me]-marked window per distinct surface,
    the shape of ``surface_context_windows``."""
    return surfaces.distinct().select(
        "surface",
        F.concat(F.lit("see [Ms] "), "surface", F.lit(" [Me] here")).alias("context"),
    )


def _python_stage_inputs(spark, tmp_path):
    """Parquet-backed (one file each, like the stage checkpoints) candidate
    pairs, scored pairs, context windows, entities and gazetteer."""
    from e2e_el_spark.synth import entities_df

    ents = entities_df(spark, 12, seed=4)
    gaz = aliases_df(spark, 12, seed=4)
    cands = gaz.select(
        F.col("alias").alias("surface"), "entity_id", F.lit(0.5).alias("tfidf_cos")
    )
    scored = cands.withColumn("score", F.lit(0.5))
    ctx = _marked_contexts(cands.select("surface"))
    frames = {
        "ents": ents, "gaz": gaz, "cands": cands, "scored": scored, "ctx": ctx,
    }
    for name, df in frames.items():
        df.coalesce(1).write.parquet(str(tmp_path / name))
    return {name: spark.read.parquet(str(tmp_path / name)) for name in frames}


def test_scoring_python_runs_over_shuffle_partitions(spark, tmp_path):
    """04_scored reads its pair table once, into ONE ArrowEvalPython (both
    Python signals fused, no embedding side-joins on <=>), fed by an
    explicit-count hash exchange on surface that AQE does not coalesce (the
    executed plan keeps shuffle.partitions partitions). Over
    a one-file checkpoint a plain exchange coalesced to one partition and
    the Python UDF ran as one task."""
    import re

    from e2e_el_spark.pipeline import score_candidates

    t = _python_stage_inputs(spark, tmp_path)
    out = score_candidates(t["cands"], t["gaz"])
    out.collect()
    plan = _plan(out).split("== Initial Plan ==")[0]
    sp = spark.conf.get("spark.sql.shuffle.partitions")
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "<=>" not in plan, plan
    assert re.search(
        r"hashpartitioning\(surface#\d+, %s\), REPARTITION_BY_NUM" % sp, plan
    ), plan


def test_rerank_python_runs_over_shuffle_partitions(spark, tmp_path):
    """04b_rerank's cross-scorer MapInPandas sits directly above the same
    explicit-count hash exchange on surface."""
    import re

    from e2e_el_spark.pipeline import rerank_candidates

    t = _python_stage_inputs(spark, tmp_path)
    out = rerank_candidates(t["scored"], t["ents"], t["ctx"], 3)
    out.collect()
    plan = _plan(out).split("== Initial Plan ==")[0]
    sp = spark.conf.get("spark.sql.shuffle.partitions")
    below = plan.split("MapInPandas", 1)[1]
    first_exchange = next(line for line in below.splitlines() if "Exchange" in line)
    assert re.search(
        r"hashpartitioning\(surface#\d+, %s\), REPARTITION_BY_NUM" % sp,
        first_exchange,
    ), plan


def test_rerank_ranks_once_with_no_shuffle_above_the_scorer(spark, tmp_path):
    """04b_rerank's top-k window already leaves at most k rows per surface,
    so the cross scores are blended as they come out of the MapInPandas:
    the executed plan has the one top-k Window and no Exchange above the
    scorer (a second per-surface rank there re-shuffled every row and
    dropped none)."""
    import re

    from e2e_el_spark.pipeline import rerank_candidates

    t = _python_stage_inputs(spark, tmp_path)
    out = rerank_candidates(t["scored"], t["ents"], t["ctx"], 3)
    out.collect()
    plan = _plan(out).split("== Initial Plan ==")[0]
    assert len(re.findall(r"\bWindow\b", plan)) == 1, plan
    above = plan.split("MapInPandas", 1)[0]
    assert "Exchange" not in above, plan
