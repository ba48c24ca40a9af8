"""§2.13 streaming surface: incremental mention detection equals the batch
backfill; watermarked session windows match the batch sessionizer on
in-order data."""

import time

import pytest
from pyspark.sql import functions as F

from e2e_el_spark.streaming import sessionize_stream, stream_mentions_to, stream_pages


def test_stream_mentions_matches_batch_backfill(spark, tmp_path):
    from e2e_el_spark.extract import extract_documents
    from e2e_el_spark.operators.mentions import detect_mentions
    from e2e_el_spark.synth import aliases_df, pages_df

    src = str(tmp_path / "pages_in")
    out = str(tmp_path / "mentions_out")
    ckpt = str(tmp_path / "ckpt")
    pages = pages_df(spark, 40, n_entities=30, seed=3, partitions=4)
    pages.write.parquet(src)
    gaz = aliases_df(spark, 30, seed=3)

    q = stream_mentions_to(
        stream_pages(spark, src).select("url", "html", "text", "lang"),
        gaz, out, ckpt,
    )
    q.awaitTermination(120)

    got = sorted(
        (r.mention_id, r.gazetteer_entity_id)
        for r in spark.read.parquet(out).collect()
    )
    want = sorted(
        (r.mention_id, r.gazetteer_entity_id)
        for r in detect_mentions(extract_documents(pages), gaz).collect()
    )
    assert got == want and len(got) > 0

    # incremental restart: nothing new to process → no duplicate appends
    q2 = stream_mentions_to(
        stream_pages(spark, src).select("url", "html", "text", "lang"),
        gaz, out, ckpt,
    )
    q2.awaitTermination(60)
    time.sleep(1)
    assert spark.read.parquet(out).count() == len(want)


def test_sessionize_stream_matches_batch_on_in_order_events(spark, tmp_path):
    """Append-mode sessions emit only once the WATERMARK passes their end —
    so run two checkpointed availableNow passes: pass 1 ingests the real
    events (advancing the watermark at its end), pass 2 ingests one
    far-future event whose arrival flushes every closed session."""
    import datetime as dt
    import os

    src = str(tmp_path / "events_in")
    ckpt = str(tmp_path / "sess_ckpt")
    out = str(tmp_path / "sess_out")
    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        ("u1", base),
        ("u1", base + dt.timedelta(minutes=10)),   # same session
        ("u1", base + dt.timedelta(minutes=55)),   # gap > 30m → new session
        ("u2", base),
    ]
    os.makedirs(src)
    spark.createDataFrame(rows, "user_id string, ts timestamp").coalesce(1).write.mode(
        "append"
    ).parquet(src)

    def run_once():
        stream = spark.readStream.schema("user_id string, ts timestamp").parquet(src)
        sess = sessionize_stream(stream, gap="30 minutes", watermark="1 hour")
        q = (
            sess.writeStream.format("parquet")
            .option("path", out).option("checkpointLocation", ckpt)
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination(120)

    run_once()
    # watermark-flush event, hours later; its own session stays pending
    spark.createDataFrame(
        [("u3", base + dt.timedelta(hours=10))], "user_id string, ts timestamp"
    ).coalesce(1).write.mode("append").parquet(src)
    run_once()

    got = spark.read.parquet(out).filter(F.col("user_id") != "u3")
    by_user = {
        r.user_id: (r.n_sessions, r.n_events)
        for r in got.groupBy("user_id").agg(
            F.count("*").alias("n_sessions"), F.sum("n_events").alias("n_events")
        ).collect()
    }
    assert by_user == {"u1": (2, 3), "u2": (1, 1)}


def test_stream_dedup_exact_across_batches(spark, tmp_path):
    """applyInPandasWithState lifetime dedup: duplicates arriving in LATER
    micro-batches (even across restarts) are dropped; first occurrences
    survive with their payload intact."""
    import os

    from e2e_el_spark.streaming import stream_dedup_exact

    src = str(tmp_path / "docs_in")
    out = str(tmp_path / "docs_out")
    ckpt = str(tmp_path / "dd_ckpt")
    os.makedirs(src)

    def run_once():
        stream = spark.readStream.schema("doc_id long, text string").parquet(src)
        q = (
            stream_dedup_exact(stream).writeStream.format("parquet")
            .option("path", out).option("checkpointLocation", ckpt)
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination(120)

    spark.createDataFrame(
        [(1, "alpha text"), (2, "beta text"), (3, "alpha text")],
        "doc_id long, text string",
    ).coalesce(1).write.mode("append").parquet(src)
    run_once()
    first = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert first in ({1, 2}, {2, 3})  # one alpha survives + beta
    # second wave: a repeat from batch 1 and one brand-new doc
    spark.createDataFrame(
        [(4, "alpha text"), (5, "gamma text")], "doc_id long, text string"
    ).coalesce(1).write.mode("append").parquet(src)
    run_once()
    rows = spark.read.parquet(out).collect()
    assert {r.doc_id for r in rows} == first | {5}  # 4 deduped vs batch-1 state
    assert sorted({r.text for r in rows}) == ["alpha text", "beta text", "gamma text"]


def test_stream_dedup_composite_key_survives_forced_collision(spark, tmp_path):
    """Two DISTINCT texts engineered to share hash1 (injected constant) must
    BOTH survive — the (length, h1, h2) composite key, not any single 64-bit
    hash, is the equality proxy (mirrors batch dedup._text_group_key; the
    round-2 batch hardening now holds for the streaming twin too)."""
    import os

    from e2e_el_spark.streaming import stream_dedup_exact

    src = str(tmp_path / "fc_in")
    out = str(tmp_path / "fc_out")
    ckpt = str(tmp_path / "fc_ckpt")
    os.makedirs(src)

    def h2(t):
        return hash(t) % (1 << 62)  # process-stable within one test run

    def run_once():
        stream = spark.readStream.schema("doc_id long, text string").parquet(src)
        q = (
            stream_dedup_exact(stream, shards=1, hash_fns=(lambda t: 0, h2))
            .writeStream.format("parquet")
            .option("path", out).option("checkpointLocation", ckpt)
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination(120)

    # 'collide!' vs 'clash!!!': same length not required — key also carries
    # length; h1 is the SAME constant 0 for all rows (worst case)
    spark.createDataFrame(
        [(1, "collide!"), (2, "clash!!!"), (3, "collide!")],
        "doc_id long, text string",
    ).coalesce(1).write.mode("append").parquet(src)
    run_once()
    rows = spark.read.parquet(out).collect()
    texts = sorted(r.text for r in rows)
    assert texts == ["clash!!!", "collide!"], texts  # both distinct survive
    assert len(rows) == 2  # the true duplicate (doc 3 or 1) was dropped


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
    from e2e_el_spark.streaming import stream_links_to, stream_pages
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
            stream_pages(spark, src).select("url", "html", "text", "lang"),
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
    from e2e_el_spark.extract import extract_documents
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


def test_stream_dedup_ttl_readmits_expired_text(spark, tmp_path):
    """ttl_ms: a shard that sees no documents for the TTL drops its seen-set
    (ProcessingTimeTimeout), so an expired text is re-admitted — and the
    state-size metrics are emitted via the query progress (VERDICT r3 #7)."""
    import os
    import time as _time

    from pyspark.sql import functions as F
    from e2e_el_spark.streaming import stream_dedup_exact, streaming_state_metrics

    # pick two texts that land in DIFFERENT shards (shards=2)
    cands = [f"text number {i}" for i in range(12)]
    shard_of = {
        r.t: r.s
        for r in spark.createDataFrame([(t,) for t in cands], "t string")
        .select("t", F.pmod(F.xxhash64("t"), F.lit(2)).alias("s")).collect()
    }
    text_a = next(t for t in cands if shard_of[t] == 0)
    text_b = next(t for t in cands if shard_of[t] == 1)

    src = str(tmp_path / "ttl_in")
    out = str(tmp_path / "ttl_out")
    ckpt = str(tmp_path / "ttl_ckpt")
    os.makedirs(src)
    metrics = []

    def run_once():
        stream = spark.readStream.schema("doc_id long, text string").parquet(src)
        q = (
            stream_dedup_exact(stream, shards=2, ttl_ms=1500)
            .writeStream.format("parquet")
            .option("path", out).option("checkpointLocation", ckpt)
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        metrics.append(streaming_state_metrics(q))

    spark.createDataFrame([(1, text_a)], "doc_id long, text string").coalesce(
        1
    ).write.mode("append").parquet(src)
    run_once()
    _time.sleep(3)  # > ttl: shard A's state expires at the next trigger
    # batch 2 carries only shard B's text → shard A gets the timed-out call
    spark.createDataFrame([(2, text_b)], "doc_id long, text string").coalesce(
        1
    ).write.mode("append").parquet(src)
    run_once()
    # batch 3: text_a again — its state was dropped, so it re-emits
    spark.createDataFrame([(3, text_a)], "doc_id long, text string").coalesce(
        1
    ).write.mode("append").parquet(src)
    run_once()
    got = sorted((r.doc_id, r.text) for r in spark.read.parquet(out).collect())
    assert got == [(1, text_a), (2, text_b), (3, text_a)], got
    # state metrics observable on every batch that ran the stateful operator
    assert any(m and m["state_rows"] is not None for m in metrics), metrics
