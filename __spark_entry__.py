"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship entity-resolution pipeline on a
deterministic synthetic pages corpus (sf0.001 scale). ``queries()`` exposes
one entry per implemented operator family from SURVEY.md §2 over the driver
testdata tables; ``oracle_sql()`` carries the DuckDB-equivalent SQL with
IDENTICAL column names/aliases (floats rounded the same on both sides).
Entries without an oracle are genuinely non-SQL-expressible (iterative
connected components, hash-seeded LSH/MinHash, pandas-UDF pipelines) and get
the driver's weaker rows-only check.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from e2e_el_spark.functions import (
    STOPWORDS,
    char_ngrams_expr,
    mention_window_expr,
    normalize_entity_id_expr,
)
from e2e_el_spark.operators import blocking as B
from e2e_el_spark.operators import dedup as D
from e2e_el_spark.operators import similarity as S
from e2e_el_spark.operators import textstats as TS
from e2e_el_spark.operators.clustering import connected_components
from e2e_el_spark.partitioning import fan_out

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_SW_SQL = "[" + ",".join(f"'{w}'" for w in STOPWORDS) + "]"


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: synthetic pages → extraction → mentions → blocking →
    scoring → links → connected-component entity clusters (SURVEY.md §7.1).

    Checkpoints live under a stable session-temp dir and the LAZY cluster
    frame is returned (backed by the 06_clusters parquet) — no
    collect/createDataFrame round-trip through the driver; repeat calls
    resume from the checkpoints (config fingerprint guards staleness)."""
    import os
    import tempfile

    from e2e_el_spark.pipeline import run_pipeline
    from e2e_el_spark.synth import aliases_df, entities_df, pages_df

    workdir = os.path.join(tempfile.gettempdir(), "el_entry_work")
    pages = pages_df(spark, 200, n_entities=80, seed=42, partitions=8)
    return run_pipeline(
        spark,
        pages,
        entities_df(spark, 80, seed=42),
        aliases_df(spark, 80, seed=42),
        workdir,
    )


# ---------------------------------------------------------------------------
# queries — relational core (SURVEY.md §2.2-2.6 over TPC-H-ish tables)
# ---------------------------------------------------------------------------


def q01_pricing_summary(spark, sf_dir):
    """A1/A10-style multi-agg groupBy (TPC-H Q1 shape)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


def q02_orders_by_segment(spark, sf_dir):
    """J1 equi-join + agg: orders ⋈ customer (shuffle join on custkey)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("order_count"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


def q03_brand_revenue_broadcast(spark, sf_dir):
    """J2 broadcast dimension join: lineitem ⋈ broadcast(part)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    rev = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )
    return rev.orderBy(F.desc("revenue"), F.asc("p_brand")).limit(10)


def q04_customers_without_orders(spark, sf_dir):
    """J5 anti-join (unseen-entities semantics, utils_DualEncoder.py:46-108)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


def q05_parts_with_shipments(spark, sf_dir):
    """J7 semi-join: parts that appear in lineitem."""
    p = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    return p.join(li, p.p_partkey == li.l_partkey, "left_semi").select("p_partkey", "p_name")


def q06_span_overlap_join(spark, sf_dir):
    """J8 interval-overlap join (pred ⋈ gold span semantics,
    run_E2E_exhaustive.py:449-518) on spans derived from lineitem."""
    li = _t(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_linenumber") == 1).select(
        "l_orderkey",
        F.col("l_quantity").alias("s1"),
        (F.col("l_quantity") + 10).alias("e1"),
    )
    b = li.filter(F.col("l_linenumber") == 2).select(
        F.col("l_orderkey").alias("o2"),
        F.col("l_quantity").alias("s2"),
        (F.col("l_quantity") + 10).alias("e2"),
    )
    return (
        a.join(b, (a.l_orderkey == b.o2) & (a.s1 <= b.e2) & (b.s2 <= a.e1))
        .select(
            "l_orderkey", "s1", "e1", "s2", "e2",
            F.round(F.least("e1", "e2") - F.greatest("s1", "s2"), 2).alias("overlap_len"),
        )
    )


def q07_topk_per_group(spark, sf_dir):
    """T1/T5 window top-k: top-3 lineitems by price per supplier.

    r6: fan_out keyed on the window partition key. Without it the physical
    planner puts a Sort + partial WindowGroupLimit BELOW the window's
    exchange — on the single-row-group scan that whole 600k-row sort runs
    in ONE task (guide §2.5). Fanning out first moves the sort/WGL above
    an exchange the window needed anyway (HashPartitioning(l_suppkey)
    satisfies the window's distribution, so no second exchange appears);
    the exchange then carries the compact pre-limit rows instead of the
    partial-WGL output, a fine trade at any scale where the scan is one
    task — and at cluster scale fan_out no-ops and the partial-WGL-first
    plan returns. Measured 1.283 -> 0.776 s median (5 interleaved reps,
    identical 3000-row output)."""
    li = fan_out(_t(spark, sf_dir, "lineitem"), "l_suppkey")
    w = Window.partitionBy("l_suppkey").orderBy(
        F.desc("l_extendedprice"), F.asc("l_orderkey"), F.asc("l_linenumber")
    )
    return (
        li.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("l_suppkey", "l_orderkey", "l_linenumber", "l_extendedprice", "rn")
    )


def q08_union_name_initials(spark, sf_dir):
    """U1 unionByName of two corpora + agg."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_name").alias("name"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_name").alias("name"))
    return (
        c.unionByName(s)
        .select(F.substring("name", 1, 1).alias("initial"))
        .groupBy("initial")
        .agg(F.count("*").alias("n"))
    )


def q09_nations_without_customers(spark, sf_dir):
    """U2 set-difference via anti-join."""
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    return n.join(c, n.n_nationkey == c.c_nationkey, "left_anti").select("n_nationkey", "n_name")


def q10_first_wins_dedupe(spark, sf_dir):
    """U3/S1 first-occurrence-wins dedupe (candidate_selection.py:33-37):
    min key per duplicate name."""
    return D.exact_dedup(_t(spark, sf_dir, "part"), "p_partkey", "p_name").select("p_name", "p_partkey")


def q11_event_type_idf(spark, sf_dir):
    """A4 document-frequency + IDF shape over events:
    idf = ln(N_users / users_with_type), no smoothing."""
    e = _t(spark, sf_dir, "events")
    n_users = e.select("user_id").distinct().count()
    return (
        e.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("df"))
        .select(
            "event_type",
            "df",
            F.round(F.log(F.lit(float(n_users)) / F.col("df")), 6).alias("idf"),
        )
    )


def q12_running_revenue(spark, sf_dir):
    """W window running sum per supplier (running-length W1 machinery)."""
    li = _t(spark, sf_dir, "lineitem")
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.round(F.sum("l_extendedprice").over(w), 2).alias("cum_price"),
    )


def q13_pivot_qty(spark, sf_dir):
    """pivot/conditional agg (padded-matrix semantics relationally)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.sum(F.when(F.col("l_linestatus") == "O", F.col("l_quantity")).otherwise(0.0)), 2).alias("qty_o"),
        F.round(F.sum(F.when(F.col("l_linestatus") == "F", F.col("l_quantity")).otherwise(0.0)), 2).alias("qty_f"),
    )


def q14_sessionize_events(spark, sf_dir):
    """Sessionization: lag-gap cumsum (stateful-op analogue, batch form)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # interval arithmetic on TIMESTAMP_NTZ — independent of session timezone
    prev = F.lag("ts").over(w)
    gap = (
        F.when(prev.isNull(), 1)
        .when(F.col("ts") - prev > F.expr("INTERVAL 30 MINUTES"), 1)
        .otherwise(0)
    )
    sess = e.withColumn("new_sess", gap)
    # BIGINT cast both sides: DuckDB promotes integer sum() to HUGEINT, whose
    # driver-hash canonicalization differs from Spark's LongType.
    return sess.groupBy("user_id").agg(
        F.sum("new_sess").cast("long").alias("n_sessions"),
        F.count("*").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# queries — entity-resolution operators over documents/nation
# ---------------------------------------------------------------------------


def q15_block_key_counts(spark, sf_dir):
    """token-prefix blocking key histogram (north-star blocking key)."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.select(B.token_prefix_key("text", 4).alias("block_key"))
        .groupBy("block_key")
        .agg(F.count("*").alias("n_docs"))
    )


def q16_char_ngram_counts(spark, sf_dir):
    """A2 char-n-gram TF with the reference's loop quirk (compat mode,
    candidate_selection.py:119-124): top-50 3-grams of lowercased text.

    r6: position explode + codegen substr instead of exploding an
    interpreted ``transform(sequence, i -> substr)`` string array (same
    positions 2..len-3 as ``char_ngrams_expr(..., compat=True)`` — gram
    multiset identical), over a ``fan_out`` scan (the single-row-group
    parquet input is otherwise one task for the whole explode+partial-agg
    stage)."""
    d = fan_out(_t(spark, sf_dir, "documents"), "doc_id")
    lt = d.select(F.lower(F.col("text")).alias("_lt"))
    pos = lt.select(
        "_lt",
        F.explode(
            F.expr(
                "CASE WHEN length(_lt) - 3 >= 2 THEN sequence(2, length(_lt) - 3) "
                "ELSE array() END"
            )
        ).alias("_i"),
    )
    grams = pos.select(F.expr("substr(_lt, _i, 3)").alias("gram"))
    return (
        grams.groupBy("gram")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("gram"))
        .limit(50)
    )


def q17_tfidf_vocab(spark, sf_dir):
    """A3+A4: top-100 vocabulary by total tf (ties → gram) with df and
    idf = ln(N/df) unsmoothed (candidate_selection.py:130-161); n ≤ 2,
    stopword-filtered lowercased docs."""
    # r6: fan_out so the gram explode/agg parallelizes off the single-row-
    # group scan; the fan-out hash key IS the per-doc agg key, so the
    # (_id, gram) aggregate reuses the exchange. cid stays the raw BIGINT:
    # it only feeds the df count, and 8-byte keys shuffle smaller than
    # their string casts.
    d = fan_out(_t(spark, sf_dir, "documents"), "doc_id").select(
        F.col("doc_id").alias("cid"), F.col("text").alias("ctext")
    )
    return B.build_tfidf_vocab(d, "cid", "ctext", n_max=2, vocab_size=100).select(
        "gram", "df", F.round("idf", 6).alias("idf")
    )


def q18_langid(spark, sf_dir):
    """language-ID heuristic: function-word argmax per doc, counted."""
    # r6: fan_out — the 4-language marker filters are interpreted
    # higher-order functions; parallelize them off the one-task scan
    d = fan_out(_t(spark, sf_dir, "documents"), "doc_id")
    return TS.detect_language(d, "text").groupBy("lang_pred").agg(F.count("*").alias("n"))


def q19_quality_by_lang(spark, sf_dir):
    """quality scoring: mean quality features per stored lang."""
    d = _t(spark, sf_dir, "documents")
    q = TS.quality_features(d, "text")
    return q.groupBy("lang").agg(
        F.round(F.avg("quality_score"), 4).alias("avg_quality"),
        F.round(F.avg("stopword_ratio"), 4).alias("avg_stopword_ratio"),
        F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
    )


def q20_token_budget_audit(spark, sf_dir):
    """token counting + the reference's >512-token audit
    (utils_E2E_exhaustive.py:307-312) per source."""
    d = fan_out(_t(spark, sf_dir, "documents"), "doc_id")
    t = TS.token_counts(d, "text")
    return t.groupBy("source").agg(
        F.sum(F.when(F.col("over_512"), 1).otherwise(0)).cast("long").alias("n_over_512"),
        F.round(F.avg("ws_tokens"), 4).alias("avg_ws_tokens"),
        F.round(F.avg("bpe_ish_tokens"), 4).alias("avg_bpe_tokens"),
    )


def q21_exact_dup_stats(spark, sf_dir):
    """exact dedup: distinct-text vs total counts."""
    d = _t(spark, sf_dir, "documents")
    return d.agg(
        F.countDistinct("text").alias("n_distinct_texts"),
        F.count("*").alias("n_docs"),
    )


def q22_ngram_jaccard_pairs(spark, sf_dir):
    """n-gram Jaccard near-dup pairs (token 3-grams, ≥ 0.1)."""
    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text"
    )
    pairs = D.ngram_jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.1)
    return pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def q23_brute_force_ann(spark, sf_dir):
    """T3 exact k-NN: brute-force cosine top-5, queries = vec_id < 10."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    # r6: fan_out the corpus side — the broadcast-cross-join scoring and
    # first window pass otherwise run inside the single scan task
    c = fan_out(e.filter(F.col("vec_id") >= 10), "vec_id")
    out = S.brute_force_topk(c, q, k=5)
    return out.select("query_id", "vec_id", F.round("score", 6).alias("score"), "rank")


def _label_knn_scored(spark, sf_dir):
    """Label-kNN candidate lists for q24/q38: each of the first 50 vectors
    queries the rest by cosine; a candidate is gold when its label equals
    the query's. (mention_id, entity_id, score, is_gold) — the
    ``metrics.gold_ranks`` input."""
    from e2e_el_spark.functions import dot_expr
    from e2e_el_spark.operators.similarity import _NORM_EXPR

    e = _t(spark, sf_dir, "embeddings")
    # r6: norms hoisted out of the 50×1950 pair loop (bit-identical to
    # cosine_expr — same fold, same operand order) + corpus fan_out
    q = e.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("mention_id"), F.col("embedding").alias("_qv"), F.col("label").alias("qlabel"),
        F.expr(_NORM_EXPR.format(v="embedding")).alias("_qn"),
    )
    c = fan_out(e.filter(F.col("vec_id") >= 50), "vec_id").select(
        F.col("vec_id").alias("entity_id"), F.col("embedding").alias("_cv"), F.col("label").alias("clabel"),
        F.expr(_NORM_EXPR.format(v="embedding")).alias("_cn"),
    )
    return c.crossJoin(F.broadcast(q)).select(
        "mention_id", "entity_id",
        (dot_expr("_qv", "_cv") / (F.col("_qn") * F.col("_cn"))).alias("score"),
        (F.col("clabel") == F.col("qlabel")).alias("is_gold"),
    )


def q24_knn_label_ranking(spark, sf_dir):
    """A6 ranking metrics (P@1 / MAP / R@10, run_DualEncoder.py:332-418):
    rank of the first same-label neighbor among top-scored corpus vectors."""
    from e2e_el_spark.metrics import ranking_metrics

    m = ranking_metrics(_label_knn_scored(spark, sf_dir), k=10)
    return m.select(
        F.round("p_at_1", 6).alias("p_at_1"),
        F.round("map", 6).alias("map_score"),
        F.round("recall_at_10", 6).alias("recall_at_10"),
        F.col("n_mentions").alias("n_queries"),
    )


def q25_mention_windows(spark, sf_dir):
    """P8/P9 context-window extraction with [Ms]/[Me] markers
    (utils_DualEncoder.py:111-151) at fixed offsets."""
    d = _t(spark, sf_dir, "documents").filter(F.length("text") >= 40)
    spans = d.select(
        "doc_id", "text", F.lit(10).alias("start_index"), F.lit(20).alias("end_index")
    )
    return spans.select(
        "doc_id",
        mention_window_expr("text", "start_index", "end_index", budget=15).alias("window"),
    )


def q26_doc_segmentation(spark, sf_dir):
    """W1 sentence-budget segmentation (CollectiveEL_data_formatter.py:83-186):
    greedy 100-char packing via running-length window → per-segment stats."""
    # r6: fan_out keyed on doc_id — the window below partitions by doc_id
    # and the final groupBy keys start with doc_id, so BOTH reuse this one
    # exchange (EnsureRequirements subset rule): the whole query runs on a
    # single tiny shuffle of the compact pre-explode doc rows.
    d = fan_out(_t(spark, sf_dir, "documents"), "doc_id")
    toks = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "token")
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    seg = toks.withColumn("cum", F.sum(F.length("token") + 1).over(w)).withColumn(
        "seg_id", F.floor((F.col("cum") - 1) / 100).cast("bigint")
    )
    return seg.groupBy("doc_id", "seg_id").agg(
        F.count("*").alias("n_tokens"),
        F.sum(F.length("token")).cast("long").alias("n_chars"),
    )


def q27_entity_id_normalize(spark, sf_dir):
    """P5 id-normalization: strip UMLS:/MESH: prefixes, composite ids split
    on +/| first-wins (candidate_selection_ncbi.py:31-34,62-67)."""
    n = _t(spark, sf_dir, "nation")
    raw = n.select(
        "n_nationkey",
        F.concat(F.lit("UMLS:C"), F.col("n_nationkey").cast("string"), F.lit("+ALT"), F.col("n_name")).alias("entity_id"),
    )
    return raw.withColumn("entity_id", normalize_entity_id_expr("entity_id"))


def q28_stopword_filter(spark, sf_dir):
    """P2 stopword projection: tokens kept after the inline stopword filter
    (candidate_selection.py:7-16,116-118)."""
    d = _t(spark, sf_dir, "documents")
    kept = F.expr(
        f"size(filter(split(lower(text), ' '), t -> NOT array_contains(array({','.join(repr(w) for w in STOPWORDS)}), t)))"
    )
    total = F.size(F.split(F.lower(F.col("text")), " "))
    return d.select("doc_id", kept.alias("kept_tokens"), total.alias("total_tokens"))


# ---------------------------------------------------------------------------
# queries — non-SQL-expressible (rows-only checks)
# ---------------------------------------------------------------------------


def q29_connected_components(spark, sf_dir):
    """2.12 transitive closure: large-star/small-star CC over a bipartite
    order↔part graph; cluster label = min node key of the component (so the
    labels are content-derived even though internals use xxhash64 ids)."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 200)
    edges_str = li.select(
        F.concat(F.lit("O"), F.lpad(F.col("l_orderkey").cast("string"), 10, "0")).alias("src_key"),
        F.concat(F.lit("P"), F.lpad(F.col("l_partkey").cast("string"), 10, "0")).alias("dst_key"),
    ).dropDuplicates()
    ids = edges_str.select(
        F.xxhash64("src_key").alias("src"), F.xxhash64("dst_key").alias("dst")
    )
    assign = connected_components(ids)
    nodes = (
        edges_str.select(F.col("src_key").alias("node_key"))
        .unionByName(edges_str.select(F.col("dst_key").alias("node_key")))
        .distinct()
        .withColumn("node", F.xxhash64("node_key"))
        .join(assign, "node", "left")
        .select("node_key", F.coalesce("component", "node").alias("component"))
    )
    labels = nodes.groupBy("component").agg(F.min("node_key").alias("cluster_id"))
    return nodes.join(labels, "component").select("node_key", "cluster_id")


def q30_minhash_near_dups(spark, sf_dir):
    """MinHash+LSH near-dup candidates verified by exact Jaccard (hash-seeded
    banding is not SQL-expressible; Jaccard verification makes output exact)."""
    # r6: fan_out by doc_id — the shingle projection and the signature
    # min-aggregate (keyed by doc_id) then run 32-way off the one-task
    # scan, and the sig groupBy reuses the fan-out exchange
    d = fan_out(_t(spark, sf_dir, "documents"), "doc_id").select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text"
    )
    return D.minhash_near_duplicates(
        d, "doc_id", "text", num_hashes=32, bands=8, jaccard_threshold=0.5
    ).select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def q31_simhash_near_dups(spark, sf_dir):
    """SimHash near-dup pairs (hamming ≤ 6 over 64-bit fingerprints)."""
    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text"
    )
    return D.simhash_near_duplicates(d, "doc_id", "text", max_hamming=6)


def q32_lsh_ann(spark, sf_dir):
    """approximate ANN via multi-table random-hyperplane LSH (scale path of
    q23; xxhash64-derived planes → rows-only check)."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    c = e.filter(F.col("vec_id") >= 10)
    out = S.lsh_topk(c, q, k=5, n_planes=4, n_tables=4, dim=64)
    return out.select("query_id", "vec_id", F.round("score", 6).alias("score"), "rank")


def q33_media_features(spark, sf_dir):
    """multimodal: binary payload column → mapInPandas feature extraction
    through the REAL raster decode (valid binary-PPM payloads are built
    JVM-side from doc bytes: header + 4x4 RGB pixel block; decode_image
    parses them in pure numpy — no fake path). Deterministic doc selection
    (doc_id < 200, not LIMIT) + sha256 digests make this ORACLE-checkable:
    DuckDB rebuilds the identical payload bytes and hashes them."""
    from e2e_el_spark.operators.multimodal import extract_features

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    media = d.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.lit("image").alias("kind"),
        F.concat(
            F.encode(F.lit("P6\n4 4\n255\n"), "utf-8"),
            F.encode(F.rpad(F.substring("text", 1, 48), 48, "x"), "utf-8"),
        ).alias("payload"),
        F.lit("image/x-portable-pixmap").alias("mime"),
        F.lit(4).alias("width"), F.lit(4).alias("height"),
        F.lit(0).alias("duration_ms"),
    )
    feats = extract_features(media, dim=16, fake=False)
    return feats.select("media_id", "n_bytes", "sha256")


def q34_el_clusters(spark, sf_dir):
    """flagship ER pipeline on deterministic synthetic pages (the engine's
    own corpus — pandas-UDF scoring + closed-form clusters → rows-only).
    The KB tables go through parquet under the workdir, so Spark plans their
    joins from real sizes (``synth.via_parquet``). Lazy frame over a stable
    checkpoint dir; no collect round-trip."""
    import os
    import tempfile

    from e2e_el_spark.pipeline import run_pipeline
    from e2e_el_spark.synth import aliases_df, entities_df, pages_df, via_parquet

    workdir = os.path.join(tempfile.gettempdir(), "el_q34_work")
    pages = pages_df(spark, 200, n_entities=80, seed=42, partitions=8)
    return run_pipeline(
        spark, pages,
        via_parquet(entities_df(spark, 80, seed=42), f"{workdir}/_inputs/entities"),
        via_parquet(aliases_df(spark, 80, seed=42), f"{workdir}/_inputs/aliases"),
        workdir,
    )


def q35_bm25_topk(spark, sf_dir):
    """C2 BM25 retrieval: documents queried by their own 40-char prefixes
    (Robertson k1=1.2 b=0.75, Lucene non-negative idf)."""
    from e2e_el_spark.operators.candidates import bm25_scores

    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text"
    )
    q = d.filter(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("query_id"), F.substring("text", 1, 40).alias("qtext")
    )
    out = bm25_scores(q, "query_id", "qtext", d, "doc_id", "text", k=5)
    return out.select("query_id", "doc_id", F.round("bm25", 6).alias("bm25"), "rank")


def q36_span_prf(spark, sf_dir):
    """A7/A9 span-overlap precision/recall counters over derived spans
    (pred = linenumber-1 windows, gold = linenumber-2 windows)."""
    from e2e_el_spark.metrics import span_overlap_prf

    li = _t(spark, sf_dir, "lineitem")

    def spans(line):
        return li.filter(F.col("l_linenumber") == line).select(
            F.col("l_orderkey").alias("document_id"),
            F.col("l_quantity").alias("start_index"), (F.col("l_quantity") + 10).alias("end_index"),
        )

    return span_overlap_prf(spans(1), spans(2)).select(
        "n_pred", "n_gold", "tp_pred", "tp_gold",
        F.round(F.col("tp_pred") / F.col("n_pred"), 6).alias("precision"),
        F.round(F.col("tp_gold") / F.col("n_gold"), 6).alias("recall"),
    )


def q37_random_negatives(spark, sf_dir):
    """C3/J6 seeded negative sampling: 3 negatives per order from the
    25-nation 'KB' minus the order's own nation-of-customer. The sample
    ranks by md5('{seed}:{mention}:{entity}') — a pure seeded function both
    Spark and DuckDB compute identically, so this is ORACLE-checked."""
    from e2e_el_spark.operators.candidates import random_negatives

    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 100)
    c = _t(spark, sf_dir, "customer")
    pos = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("o_orderkey").cast("string").alias("mention_id"),
        F.col("c_nationkey").cast("string").alias("label_candidate_id"),
    )
    n = _t(spark, sf_dir, "nation").select(F.col("n_nationkey").cast("string").alias("entity_id"))
    return random_negatives(pos, n, k=3, seed=42)


def q38_gold_rank_histogram(spark, sf_dir):
    """A8 position-of-positive histogram over the label-kNN ranking of q24."""
    from e2e_el_spark.metrics import gold_ranks

    return gold_ranks(_label_knn_scored(spark, sf_dir)).groupBy("gold_rank").agg(
        F.count("*").alias("n")
    )


def q39_greedy_segmentation(spark, sf_dir):
    """W1 generic segmentation (CollectiveEL_data_formatter.py:83-186):
    greedy '. '-sentence packing into 150-char-budget segments via the
    zero-shuffle mapInPandas operator; sentence breaks synthesized
    deterministically (replace ' table' → '. table') since the synthetic
    docs have none. Oracle = DuckDB recursive CTE replaying the same greedy
    scan."""
    from e2e_el_spark.operators.segmentation import segment_documents

    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("document_id"),
        F.expr("replace(text, ' table', '. table')").alias("text"),
    )
    segs = segment_documents(d, budget=150, separators=(". ",))
    return segs.select(
        F.col("document_id").alias("doc_id"), "seg_index", "seg_start", "seg_end"
    )


def q40_rerank_cross(spark, sf_dir):
    """L3 cross-encoder rerank (modeling_FullTransformer.py:62-101): BM25
    retrieval top-10 per query, then pairwise rerank of (query window,
    candidate text) with the deterministic stand-in scorer in mapInPandas
    iterator form (model-per-partition slot) — blake2b-hashed embeddings →
    rows-only check."""
    from e2e_el_spark.operators.candidates import bm25_scores
    from e2e_el_spark.operators.scoring import rerank_cross

    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text"
    )
    q = d.filter(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("query_id"), F.substring("text", 1, 40).alias("qtext")
    )
    retrieved = bm25_scores(q, "query_id", "qtext", d, "doc_id", "text", k=10)
    pairs = (
        retrieved.select("query_id", "doc_id")
        .join(q, "query_id")
        .join(d.withColumnRenamed("text", "cand_text"), "doc_id")
        .select("query_id", "doc_id", "qtext", "cand_text")
    )
    rr = rerank_cross(
        pairs, id_col="query_id", cand_col="doc_id",
        text_a="qtext", text_b="cand_text", k=5,
    )
    return rr.select(
        "query_id", "doc_id", F.round("cross_score", 6).alias("cross_score"), "cross_rank"
    )


def q41_embedding_near_dups(spark, sf_dir):
    """embedding-cosine near-dup: hyperplane-LSH bucket join + exact cosine
    verify (dedup.embedding_near_duplicates). The synthetic embeddings have
    no natural near-dups (max pairwise cosine ≈ 0.51), so vec_id < 50 are
    duplicated under shifted ids — exactly those 50 identical pairs must
    surface at cosine 1.0. Hash-seeded planes → rows-only check."""
    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dup = e.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    out = D.embedding_near_duplicates(
        e.unionByName(dup), "vec_id", "embedding", cosine_threshold=0.95, n_planes=6,
        dim=64,
    )
    return out.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))


def q42_ivf_ann(spark, sf_dir):
    """IVF ANN scale path (distributed FAISS-IVF shape,
    utils_FullTransformer.py:252-312 is the flat baseline): deterministic
    seeded centroids + 1 Lloyd round + probe-2-of-8 inverted lists, exact
    cosine within probed lists. Hash-seeded init → rows-only check."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    c = e.filter(F.col("vec_id") >= 10)
    out = S.ivf_topk(c, q, k=5, n_centroids=8, n_probe=2, kmeans_iters=1)
    return out.select("query_id", "vec_id", F.round("score", 6).alias("score"), "rank")


def q43_mention_rebase(spark, sf_dir):
    """W1 mention offset rebase (CollectiveEL_data_formatter.py:145-148):
    segment the docs (as q39), then re-base two fixed-offset mentions per doc
    ([10,20) and [25,30) in corpus coordinates) into their containing
    segments — mention_id = '{segment_id}_{i}' (1-based rank by start within
    the segment), offsets relative to the segment; boundary-straddling
    mentions drop (observable). The containment join + row_number is plain
    SQL, so DuckDB replays it over the recursive-CTE segments → hard oracle."""
    from e2e_el_spark.operators.segmentation import rebase_mentions, segment_documents

    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("document_id"),
        F.expr("replace(text, ' table', '. table')").alias("text"),
    )
    segs = segment_documents(d, budget=150, separators=(". ",))
    m = d.filter(F.length("text") >= 30).select(
        F.concat(F.col("document_id"), F.lit("#m1")).alias("mention_id"),
        "document_id",
        F.lit(10).alias("start_index"), F.lit(20).alias("end_index"),
        F.expr("substr(text, 11, 10)").alias("text"),
    ).unionByName(
        d.filter(F.length("text") >= 30).select(
            F.concat(F.col("document_id"), F.lit("#m2")).alias("mention_id"),
            "document_id",
            F.lit(25).alias("start_index"), F.lit(30).alias("end_index"),
            F.expr("substr(text, 26, 5)").alias("text"),
        )
    )
    rb = rebase_mentions(m, segs)
    return rb.select(
        "mention_id",
        F.col("document_id").alias("segment_id"),
        "start_index", "end_index",
        F.col("orig_document_id").alias("doc_id"),
        F.col("orig_start_index").alias("orig_start"),
    )


def q44_frame_sample(spark, sf_dir):
    """multimodal video frame-sampling plan (multimodal.frame_sample_plan):
    one row per sampled frame timestamp from duration metadata — pure
    DataFrame math over the media schema (the frame GRAB stays behind the
    codec seam; the partitioning/explode plan is the engine's part) →
    SQL-expressible, hard oracle."""
    from e2e_el_spark.operators.multimodal import frame_sample_plan

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    media = d.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.lit("video").alias("kind"),
        F.lit(None).cast("binary").alias("payload"),
        F.lit("video/mp4").alias("mime"),
        F.lit(0).alias("width"), F.lit(0).alias("height"),
        ((F.col("doc_id") % 7 + 1) * 1500).cast("int").alias("duration_ms"),
    )
    return frame_sample_plan(media, every_ms=1000).select("media_id", "frame_ts_ms")


def q45_span_enumeration(spark, sf_dir):
    """Exhaustive token n-gram span enumeration (N4,
    modeling_E2E_exhaustive.py:87-104) via the lead()-window form
    (mentions.candidate_spans over tokenize_with_offsets — the enumeration
    the detector's window fallback runs, without its anchor gating): every
    1..3-token window with exact character offsets and span text ==
    substr(text, start+1, end-start). Hard oracle: DuckDB reproduces offsets
    with ordinality + running-sum windows + lead()."""
    from e2e_el_spark.operators.mentions import candidate_spans, tokenize_with_offsets

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 20).select(
        F.col("doc_id").cast("string").alias("document_id"), "text"
    )
    return candidate_spans(tokenize_with_offsets(d), 3).select(
        "document_id", "start_index", "end_index", F.col("text").alias("span_text")
    )


def q46_gazetteer_mentions(spark, sf_dir):
    """Fused gazetteer mention detection (N1/C6 + the round-4 fused matcher,
    mentions._match_mentions_arrow): aliases derived deterministically from
    the corpus itself (first 2 or 3 tokens of docs 0..99, by doc_id parity —
    mixed widths so longest-match containment pruning actually fires),
    matched over docs 0..39 with exact char offsets. Hard oracle: DuckDB
    reproduces enumeration (q45 machinery), case-insensitive alias join with
    min-entity dedupe, and the containment-pruning predicate."""
    from e2e_el_spark.operators.mentions import detect_mentions

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 40).select(
        F.col("doc_id").cast("string").alias("document_id"), "text"
    )
    gaz = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 100)
        .select(
            F.concat(F.lit("E"), F.col("doc_id").cast("string")).alias("entity_id"),
            F.expr(
                "concat_ws(' ', slice(split(text, ' '), 1,"
                " CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 3 END))"
            ).alias("alias"),
        )
        .filter(F.length("alias") >= 3)
    )
    return detect_mentions(docs, gaz, max_tokens=3)


def q47_wordpiece_greedy(spark, sf_dir):
    """Greedy longest-match-first WordPiece segmentation (F3,
    tokenization_bert.py:436-493) over the distinct words of docs 0..49,
    with a corpus-derived vocab: full words of length <= 5, plus 4-char
    prefixes and '##'-rest continuations for longer words NOT starting
    with 'w' (those become per-word [UNK] — the reference's whole-word
    fallback). Hard oracle: DuckDB precomputes the longest vocab match per
    (word, position) and replays the greedy walk as a recursive CTE."""
    from e2e_el_spark.operators.wordpiece import make_vocab, wordpiece_word

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    words = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.length("word") > 0)
        .distinct()
    )
    vocab_df = (
        words.filter(F.length("word") <= 5).select(F.col("word").alias("v"))
        .union(
            words.filter(
                (F.length("word") > 5) & ~F.col("word").startswith("w")
            ).select(F.expr("substr(word, 1, 4)").alias("v"))
        )
        .union(
            words.filter(
                (F.length("word") > 5) & ~F.col("word").startswith("w")
            ).select(F.concat(F.lit("##"), F.expr("substr(word, 5)")).alias("v"))
        )
        .distinct()
    )
    vocab = make_vocab(r["v"] for r in vocab_df.collect())

    import pandas as pd

    bc = spark.sparkContext.broadcast(vocab)

    def gen(batches):
        v = bc.value
        memo: dict = {}
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "word": pdf["word"],
                    "pieces": [
                        " ".join(wordpiece_word(w, v, memo))
                        for w in pdf["word"]
                    ],
                }
            )

    return words.mapInPandas(gen, "word string, pieces string")


def q48_marked_mention_tokens(spark, sf_dir):
    """Tokenized marked-mention documents (the EL4QA variant,
    utils_EL4QA.py:101-153) through operators.wordpiece
    .marked_mentions_tokenized: docs 0..39 with one deterministic mention
    per doc (words 2-3), q47's corpus-derived vocab. Hard oracle: DuckDB
    composes the q47 greedy-walk pieces per word with the marker/tag
    arithmetic ([CLS] offset, B on the first mention piece, I/O elsewhere,
    DNT on ## continuations)."""
    from e2e_el_spark.operators.wordpiece import make_vocab, marked_mentions_tokenized

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 40).select(
        F.col("doc_id").cast("string").alias("document_id"), "text"
    )
    docs = d.filter(F.size(F.split("text", " ")) >= 3)
    w = F.split("text", " ")
    mentions = docs.select(
        "document_id",
        (F.length(F.element_at(w, 1)) + 1).cast("int").alias("start_index"),
        (
            F.length(F.element_at(w, 1)) + 1
            + F.length(F.element_at(w, 2)) + 1
            + F.length(F.element_at(w, 3))
        ).cast("int").alias("end_index"),
    )
    # q47's vocab rules, over the words of docs 0..49 (superset corpus —
    # must match the oracle's vocab CTE exactly)
    allw = (
        _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
        .select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.length("word") > 0)
        .distinct()
    )
    vocab_df = (
        allw.filter(F.length("word") <= 5).select(F.col("word").alias("v"))
        .union(
            allw.filter(
                (F.length("word") > 5) & ~F.col("word").startswith("w")
            ).select(F.expr("substr(word, 1, 4)").alias("v"))
        )
        .union(
            allw.filter(
                (F.length("word") > 5) & ~F.col("word").startswith("w")
            ).select(F.concat(F.lit("##"), F.expr("substr(word, 5)")).alias("v"))
        )
        .distinct()
    )
    vocab = make_vocab(r["v"] for r in vocab_df.collect())
    out = marked_mentions_tokenized(docs, mentions, vocab)
    return out.select(
        "document_id",
        F.concat_ws(" ", "tokens").alias("tokens"),
        F.concat_ws(" ", "tags").alias("tags"),
        F.element_at("mention_starts", 1).alias("mention_start"),
        F.element_at("mention_ends", 1).alias("mention_end"),
    )


def q49_er_blocked_clusters(spark, sf_dir):
    """The flagship ER dataflow — token-prefix blocking → same-block pairs
    → pairwise similarity scoring → threshold links → connected
    components — as ONE composed query with a FULL DuckDB oracle (round-4
    verdict #5: q34 is rows-only solely because its scoring uses hash
    embeddings; this variant's score is exactly replayable, so the whole
    pairs→links→recursive-CTE-CC chain is value-checked end-to-end).

    Score = word-set Jaccard of the 40-char surface prefix: integer set
    sizes + one IEEE division are bit-identical across Spark and DuckDB.
    (Jaro-Winkler was tried first — the engine's textbook implementation
    and DuckDB's ``jaro_winkler_similarity`` agree on equal-length strings
    but diverge on unequal lengths, e.g. jw('babc','caaccbac') 0.5417 vs
    0.5972, so JW stays in the pandas-UDF scoring paths (q34, pipeline)
    where the check is rows-only/pytest.)

    Uses the engine's own operators: ``with_block_key`` (north-star
    token-prefix key), ``same_block_pairs`` (cap raised out of range —
    the oracle replays the UNCAPPED pair set), codegen array-set
    arithmetic for the score (no Python at all in this variant), and the
    delta-iteration ``connected_components``. Cluster label = min doc_id
    of the component; singletons label themselves."""
    from e2e_el_spark.operators.blocking import same_block_pairs, with_block_key
    from e2e_el_spark.operators.clustering import connected_components

    recs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.array_distinct(
            F.split(F.lower(F.substring("text", 1, 40)), " ")
        ).alias("words"),
        "text",
    )
    keyed = with_block_key(recs, "text", k=4).select("doc_id", "block_key", "words")
    pairs = same_block_pairs(keyed, "doc_id", max_block_size=1_000_000)
    sa = keyed.select(F.col("doc_id").alias("id_a"), F.col("words").alias("wa"))
    sb = keyed.select(F.col("doc_id").alias("id_b"), F.col("words").alias("wb"))
    links = (
        pairs.join(sa, "id_a").join(sb, "id_b")
        .withColumn(
            "jac",
            F.size(F.array_intersect("wa", "wb"))
            / F.size(F.array_union("wa", "wb")),
        )
        .filter(F.col("jac") >= 0.5)
        .select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    assign = connected_components(links)
    return (
        recs.select("doc_id")
        .join(assign, recs["doc_id"] == assign["node"], "left")
        .select(
            "doc_id",
            F.coalesce("component", "doc_id").cast("bigint").alias("cluster_id"),
        )
    )


def q50_gen_candidates(spark, sf_dir):
    """The round-5 candidate-generation bound as a value-checked query:
    rare-gram inverted index + prefix filtering + per-surface partial-dot
    top-k (``pipeline.generated_candidates`` — the structural fix that
    keeps candidates/surface KB-invariant; campaign R5-a measured the
    unbounded form blowing up 65× for a 20× KB). KB = 40-char prefixes of
    even-doc_id documents, surfaces = the odd-doc_id prefixes (the ER
    dirty-vs-clean split; part/supplier names are template-generated with
    zero rare grams, so they cannot exercise the rare-gram index).
    Weights are integer term frequencies, so every partial dot is an
    exact integer sum the oracle replays bit-for-bit (the pipeline's own
    tf-idf weights stay float and are exact-rescored downstream; this
    query value-checks the STRUCTURE: rare-gram eligibility, prefix
    selection order, the inverted-index join, partial-dot ranking, and
    the cap)."""
    from e2e_el_spark.pipeline import generated_candidates

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.lower(F.substring("text", 1, 40)).alias("prefix"),
    )
    ents = docs.filter(F.col("doc_id") % 2 == 0).select(
        F.col("doc_id").alias("entity_id"), F.col("prefix").alias("name")
    )
    surf = (
        docs.filter(F.col("doc_id") % 2 == 1)
        .select(F.col("prefix").alias("surface"))
        .distinct()
    )

    def vecs(df, idc, tc):
        return (
            df.select(
                idc,
                F.explode(F.expr(char_ngrams_expr(tc, 3, compat=True))).alias("gram"),
            )
            .groupBy(idc, "gram")
            .agg(F.count("*").cast("double").alias("weight"))
        )

    ev = vecs(ents, "entity_id", "name")
    sv = vecs(surf, "surface", "surface")
    rare = (
        ev.groupBy("gram")
        .agg(F.countDistinct("entity_id").alias("df"))
        .filter(F.col("df") <= 3)
    )
    out = generated_candidates(
        sv, ev, rare, gen_prefix_len=8, gen_topk=5, keep_score=True
    )
    return out.select(
        "surface",
        "entity_id",
        F.col("pscore").cast("bigint").alias("pscore"),
        F.col("gen_rank").cast("int").alias("gen_rank"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q01_pricing_summary": q01_pricing_summary,
        "q02_orders_by_segment": q02_orders_by_segment,
        "q03_brand_revenue_broadcast": q03_brand_revenue_broadcast,
        "q04_customers_without_orders": q04_customers_without_orders,
        "q05_parts_with_shipments": q05_parts_with_shipments,
        "q06_span_overlap_join": q06_span_overlap_join,
        "q07_topk_per_group": q07_topk_per_group,
        "q08_union_name_initials": q08_union_name_initials,
        "q09_nations_without_customers": q09_nations_without_customers,
        "q10_first_wins_dedupe": q10_first_wins_dedupe,
        "q11_event_type_idf": q11_event_type_idf,
        "q12_running_revenue": q12_running_revenue,
        "q13_pivot_qty": q13_pivot_qty,
        "q14_sessionize_events": q14_sessionize_events,
        "q15_block_key_counts": q15_block_key_counts,
        "q16_char_ngram_counts": q16_char_ngram_counts,
        "q17_tfidf_vocab": q17_tfidf_vocab,
        "q18_langid": q18_langid,
        "q19_quality_by_lang": q19_quality_by_lang,
        "q20_token_budget_audit": q20_token_budget_audit,
        "q21_exact_dup_stats": q21_exact_dup_stats,
        "q22_ngram_jaccard_pairs": q22_ngram_jaccard_pairs,
        "q23_brute_force_ann": q23_brute_force_ann,
        "q24_knn_label_ranking": q24_knn_label_ranking,
        "q25_mention_windows": q25_mention_windows,
        "q26_doc_segmentation": q26_doc_segmentation,
        "q27_entity_id_normalize": q27_entity_id_normalize,
        "q28_stopword_filter": q28_stopword_filter,
        "q29_connected_components": q29_connected_components,
        "q30_minhash_near_dups": q30_minhash_near_dups,
        "q31_simhash_near_dups": q31_simhash_near_dups,
        "q32_lsh_ann": q32_lsh_ann,
        "q33_media_features": q33_media_features,
        "q34_el_clusters": q34_el_clusters,
        "q35_bm25_topk": q35_bm25_topk,
        "q36_span_prf": q36_span_prf,
        "q37_random_negatives": q37_random_negatives,
        "q38_gold_rank_histogram": q38_gold_rank_histogram,
        "q39_greedy_segmentation": q39_greedy_segmentation,
        "q40_rerank_cross": q40_rerank_cross,
        "q41_embedding_near_dups": q41_embedding_near_dups,
        "q42_ivf_ann": q42_ivf_ann,
        "q43_mention_rebase": q43_mention_rebase,
        "q44_frame_sample": q44_frame_sample,
        "q45_span_enumeration": q45_span_enumeration,
        "q46_gazetteer_mentions": q46_gazetteer_mentions,
        "q47_wordpiece_greedy": q47_wordpiece_greedy,
        "q48_marked_mention_tokens": q48_marked_mention_tokens,
        "q49_er_blocked_clusters": q49_er_blocked_clusters,
        "q50_gen_candidates": q50_gen_candidates,
    }


def oracle_sql() -> dict[str, str]:
    sw = _SW_SQL
    return {
        "q01_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_quantity), 4) AS avg_qty,
                   count(*) AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "q02_orders_by_segment": """
            SELECT c_mktsegment, count(*) AS order_count,
                   round(sum(o_totalprice), 2) AS total_price
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment
        """,
        "q03_brand_revenue_broadcast": """
            SELECT p_brand,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem JOIN part ON l_partkey = p_partkey
            GROUP BY p_brand ORDER BY revenue DESC, p_brand LIMIT 10
        """,
        "q04_customers_without_orders": """
            SELECT c_custkey, c_name FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        """,
        "q05_parts_with_shipments": """
            SELECT p_partkey, p_name FROM part
            WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
        """,
        "q06_span_overlap_join": """
            WITH a AS (SELECT l_orderkey, l_quantity AS s1, l_quantity + 10 AS e1
                       FROM lineitem WHERE l_linenumber = 1),
                 b AS (SELECT l_orderkey AS o2, l_quantity AS s2, l_quantity + 10 AS e2
                       FROM lineitem WHERE l_linenumber = 2)
            SELECT l_orderkey, s1, e1, s2, e2,
                   round(least(e1, e2) - greatest(s1, s2), 2) AS overlap_len
            FROM a JOIN b ON l_orderkey = o2 AND s1 <= e2 AND s2 <= e1
        """,
        "q07_topk_per_group": """
            SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice, rn
            FROM (SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
                         row_number() OVER (PARTITION BY l_suppkey
                             ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
                  FROM lineitem) WHERE rn <= 3
        """,
        "q08_union_name_initials": """
            SELECT substr(name, 1, 1) AS initial, count(*) AS n
            FROM (SELECT c_name AS name FROM customer
                  UNION ALL SELECT s_name AS name FROM supplier)
            GROUP BY initial
        """,
        "q09_nations_without_customers": """
            SELECT n_nationkey, n_name FROM nation
            WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_nationkey = n_nationkey)
        """,
        "q10_first_wins_dedupe": """
            SELECT p_name, min(p_partkey) AS p_partkey FROM part GROUP BY p_name
        """,
        "q11_event_type_idf": """
            SELECT event_type, count(DISTINCT user_id) AS df,
                   round(ln((SELECT count(DISTINCT user_id) FROM events)::DOUBLE
                            / count(DISTINCT user_id)), 6) AS idf
            FROM events GROUP BY event_type
        """,
        "q12_running_revenue": """
            SELECT l_suppkey, l_orderkey, l_linenumber,
                   round(sum(l_extendedprice) OVER (
                       PARTITION BY l_suppkey
                       ORDER BY l_shipdate, l_orderkey, l_linenumber
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS cum_price
            FROM lineitem
        """,
        "q13_pivot_qty": """
            SELECT l_returnflag,
                   round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity ELSE 0.0 END), 2) AS qty_o,
                   round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity ELSE 0.0 END), 2) AS qty_f
            FROM lineitem GROUP BY l_returnflag
        """,
        "q14_sessionize_events": """
            WITH g AS (SELECT user_id,
                              CASE WHEN ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1
                                   WHEN lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_sess
                       FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
            SELECT user_id, CAST(sum(new_sess) AS BIGINT) AS n_sessions,
                   count(*) AS n_events
            FROM g GROUP BY user_id
        """,
        "q15_block_key_counts": """
            SELECT lower(substr(split_part(text, ' ', 1), 1, 4)) AS block_key,
                   count(*) AS n_docs
            FROM documents GROUP BY block_key
        """,
        "q16_char_ngram_counts": """
            SELECT substr(lower(d.text), t.i, 3) AS gram, count(*) AS cnt
            FROM documents d,
                 UNNEST(range(2, greatest(length(lower(d.text)) - 3 + 1, 2))) AS t(i)
            GROUP BY gram ORDER BY cnt DESC, gram LIMIT 50
        """,
        "q17_tfidf_vocab": f"""
            WITH filtered AS (
              SELECT doc_id,
                     array_to_string(list_filter(string_split(lower(text), ' '),
                                                 x -> NOT list_contains({sw}, x)), ' ') AS t
              FROM documents),
            grams AS (
              SELECT doc_id, substr(t, i.i, 1) AS gram FROM filtered,
                     UNNEST(range(2, greatest(length(t) - 1 + 1, 2))) AS i(i)
              UNION ALL
              SELECT doc_id, substr(t, i.i, 2) AS gram FROM filtered,
                     UNNEST(range(2, greatest(length(t) - 2 + 1, 2))) AS i(i)),
            totals AS (
              SELECT gram, count(*) AS total_tf, count(DISTINCT doc_id) AS df
              FROM grams GROUP BY gram),
            vocab AS (
              SELECT gram, df,
                     row_number() OVER (ORDER BY total_tf DESC, gram) AS rk
              FROM totals)
            SELECT gram, df,
                   round(ln((SELECT count(*) FROM documents)::DOUBLE / df), 6) AS idf
            FROM vocab WHERE rk <= 100
        """,
        "q18_langid": """
            WITH hits AS (
              SELECT len(list_filter(string_split(lower(text), ' '),
                         x -> list_contains(['the','and','of','to','is','with','that'], x))) AS h_en,
                     len(list_filter(string_split(lower(text), ' '),
                         x -> list_contains(['der','die','das','und','ist','nicht','ein'], x))) AS h_de,
                     len(list_filter(string_split(lower(text), ' '),
                         x -> list_contains(['le','la','les','et','est','une','que'], x))) AS h_fr,
                     len(list_filter(string_split(lower(text), ' '),
                         x -> list_contains(['el','los','las','es','una','que','para'], x))) AS h_es
              FROM documents),
            pred AS (
              SELECT CASE
                       WHEN greatest(h_en, h_de, h_fr, h_es) = 0 THEN 'und'
                       WHEN h_en = greatest(h_en, h_de, h_fr, h_es) THEN 'en'
                       WHEN h_de = greatest(h_en, h_de, h_fr, h_es) THEN 'de'
                       WHEN h_fr = greatest(h_en, h_de, h_fr, h_es) THEN 'fr'
                       ELSE 'es' END AS lang_pred
              FROM hits)
            SELECT lang_pred, count(*) AS n FROM pred GROUP BY lang_pred
        """,
        "q19_quality_by_lang": f"""
            WITH q AS (
              SELECT lang,
                     len(string_split(text, ' ')) AS n_tokens,
                     len(list_filter(string_split(text, ' '),
                         t -> list_contains({sw}, lower(t))))::DOUBLE
                       / len(string_split(text, ' ')) AS stopword_ratio,
                     (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))::DOUBLE
                       / greatest(length(text), 1) AS punct_ratio,
                     (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE
                       / greatest(length(text), 1) AS digit_ratio
              FROM documents),
            scored AS (
              SELECT lang, n_tokens, stopword_ratio,
                     round((CASE WHEN n_tokens >= 10 THEN 0.4 ELSE n_tokens / 25.0 END)
                     + least(stopword_ratio * 2.0, 0.3)
                     + (CASE WHEN punct_ratio < 0.2 THEN 0.15 ELSE 0.0 END)
                     + (CASE WHEN digit_ratio < 0.3 THEN 0.15 ELSE 0.0 END), 6) AS quality_score
              FROM q)
            SELECT lang, round(avg(quality_score), 4) AS avg_quality,
                   round(avg(stopword_ratio), 4) AS avg_stopword_ratio,
                   round(avg(n_tokens), 4) AS avg_tokens
            FROM scored GROUP BY lang
        """,
        "q20_token_budget_audit": r"""
            WITH t AS (
              SELECT source,
                     len(regexp_split_to_array(text, '\s+')) AS ws_tokens,
                     len(regexp_extract_all(text, '[a-zA-Z]{1,8}|[0-9]{1,3}|[^a-zA-Z0-9\s]')) AS bpe_ish
              FROM documents)
            SELECT source,
                   CAST(sum(CASE WHEN bpe_ish > 512 THEN 1 ELSE 0 END) AS BIGINT) AS n_over_512,
                   round(avg(ws_tokens), 4) AS avg_ws_tokens,
                   round(avg(bpe_ish), 4) AS avg_bpe_tokens
            FROM t GROUP BY source
        """,
        "q21_exact_dup_stats": """
            SELECT count(DISTINCT text) AS n_distinct_texts, count(*) AS n_docs
            FROM documents
        """,
        "q22_ngram_jaccard_pairs": """
            WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
            grams AS (
              SELECT DISTINCT doc_id,
                     CASE WHEN len(ws) >= 3
                          THEN array_to_string(ws[i.i : i.i + 2], ' ')
                          ELSE lower(array_to_string(ws, ' ')) END AS gram
              FROM toks, UNNEST(range(1, greatest(len(ws) - 3 + 1, 1) + 1)) AS i(i)),
            counts AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
            inter AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
              FROM grams a JOIN grams b USING (gram)
              WHERE a.doc_id < b.doc_id GROUP BY a.doc_id, b.doc_id)
            SELECT id_a, id_b,
                   round(n_inter::DOUBLE / (ca.n + cb.n - n_inter), 6) AS jaccard
            FROM inter JOIN counts ca ON ca.doc_id = id_a
                       JOIN counts cb ON cb.doc_id = id_b
            WHERE n_inter::DOUBLE / (ca.n + cb.n - n_inter) >= 0.1
        """,
        "q23_brute_force_ann": """
            WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                       FROM embeddings WHERE vec_id < 10),
                 c AS (SELECT vec_id, embedding::DOUBLE[] AS cv
                       FROM embeddings WHERE vec_id >= 10),
            scored AS (
              SELECT query_id, vec_id, list_cosine_similarity(qv, cv) AS s
              FROM c CROSS JOIN q),
            ranked AS (
              SELECT query_id, vec_id, s,
                     row_number() OVER (PARTITION BY query_id ORDER BY s DESC, vec_id) AS rank
              FROM scored)
            SELECT query_id, vec_id, round(s, 6) AS score, rank
            FROM ranked WHERE rank <= 5
        """,
        "q24_knn_label_ranking": """
            WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv, label AS qlabel
                       FROM embeddings WHERE vec_id < 50),
                 c AS (SELECT vec_id AS cand_id, embedding::DOUBLE[] AS cv, label AS clabel
                       FROM embeddings WHERE vec_id >= 50),
            ranked AS (
              SELECT query_id, cand_id, qlabel, clabel,
                     row_number() OVER (PARTITION BY query_id
                         ORDER BY list_cosine_similarity(qv, cv) DESC, cand_id) AS rank
              FROM c CROSS JOIN q),
            gold AS (
              SELECT query_id, min(rank) AS gold_rank FROM ranked
              WHERE clabel = qlabel AND rank <= 100 GROUP BY query_id),
            base AS (SELECT q.query_id, gold_rank FROM q LEFT JOIN gold USING (query_id))
            SELECT round(avg(CASE WHEN gold_rank = 1 THEN 1.0 ELSE 0.0 END), 6) AS p_at_1,
                   round(avg(coalesce(1.0 / gold_rank, 0.0)), 6) AS map_score,
                   round(avg(CASE WHEN gold_rank <= 10 THEN 1.0 ELSE 0.0 END), 6) AS recall_at_10,
                   count(*) AS n_queries
            FROM base
        """,
        "q25_mention_windows": """
            SELECT doc_id,
                   substr(text, greatest(10 - 15 + 1, 1), least(10, 15))
                   || '[Ms] ' || substr(text, 10 + 1, 20 - 10) || ' [Me]'
                   || substr(text, 20 + 1, 15) AS window
            FROM documents WHERE length(text) >= 40
        """,
        "q26_doc_segmentation": """
            WITH toks AS (
              SELECT doc_id, i.i - 1 AS pos, list_extract(ws, i.i) AS token
              FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
                   UNNEST(range(1, len(ws) + 1)) AS i(i)),
            seg AS (
              SELECT doc_id, token,
                     sum(length(token) + 1) OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
              FROM toks)
            SELECT doc_id, CAST(floor((cum - 1) / 100) AS BIGINT) AS seg_id,
                   count(*) AS n_tokens, CAST(sum(length(token)) AS BIGINT) AS n_chars
            FROM seg GROUP BY doc_id, seg_id
        """,
        "q27_entity_id_normalize": """
            SELECT n_nationkey,
                   regexp_replace(split_part('UMLS:C' || n_nationkey || '+ALT' || n_name, '+', 1),
                                  '^(UMLS:|MESH:|OMIM:)', '') AS entity_id
            FROM nation
        """,
        "q28_stopword_filter": f"""
            SELECT doc_id,
                   len(list_filter(string_split(lower(text), ' '),
                       t -> NOT list_contains({sw}, t))) AS kept_tokens,
                   len(string_split(lower(text), ' ')) AS total_tokens
            FROM documents
        """,
        "q35_bm25_topk": """
            WITH d AS (SELECT doc_id, text FROM documents),
            dt AS (SELECT doc_id AS _did, unnest(string_split(lower(text), ' ')) AS tok FROM d),
            tf AS (SELECT _did, tok, count(*) AS tf FROM dt GROUP BY _did, tok),
            dlen AS (SELECT _did, count(*) AS dlen FROM dt GROUP BY _did),
            stats AS (SELECT count(*) AS n_docs FROM d),
            avg_dl AS (SELECT avg(dlen) AS avgdl FROM dlen),
            dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
            idf AS (SELECT tok, ln(((SELECT n_docs FROM stats) - df + 0.5) / (df + 0.5) + 1.0) AS idf FROM dfreq),
            q AS (SELECT doc_id AS _qid, substr(text, 1, 40) AS qtext FROM d WHERE doc_id < 5),
            qt AS (SELECT DISTINCT _qid, unnest(string_split(lower(qtext), ' ')) AS tok FROM q),
            scored AS (
              SELECT _qid, _did,
                     sum(idf * (tf * (1.2 + 1)) /
                         (tf + 1.2 * (1 - 0.75 + 0.75 * dlen / (SELECT avgdl FROM avg_dl)))) AS bm25
              FROM qt JOIN tf USING (tok) JOIN idf USING (tok) JOIN dlen USING (_did)
              GROUP BY _qid, _did),
            ranked AS (
              SELECT _qid AS query_id, _did AS doc_id, bm25,
                     row_number() OVER (PARTITION BY _qid ORDER BY bm25 DESC, _did) AS rank
              FROM scored)
            SELECT query_id, doc_id, round(bm25, 6) AS bm25, rank
            FROM ranked WHERE rank <= 5
        """,
        "q36_span_prf": """
            WITH pred AS (SELECT DISTINCT l_orderkey AS document_id, l_quantity AS ps,
                                 l_quantity + 10 AS pe FROM lineitem WHERE l_linenumber = 1),
                 gold AS (SELECT DISTINCT l_orderkey AS document_id, l_quantity AS gs,
                                 l_quantity + 10 AS ge FROM lineitem WHERE l_linenumber = 2),
            tpp AS (SELECT DISTINCT p.document_id, ps, pe FROM pred p JOIN gold g
                    ON p.document_id = g.document_id AND gs <= pe AND ps <= ge),
            tpg AS (SELECT DISTINCT g.document_id, gs, ge FROM gold g JOIN pred p
                    ON p.document_id = g.document_id AND gs <= pe AND ps <= ge)
            SELECT (SELECT count(*) FROM pred) AS n_pred,
                   (SELECT count(*) FROM gold) AS n_gold,
                   (SELECT count(*) FROM tpp) AS tp_pred,
                   (SELECT count(*) FROM tpg) AS tp_gold,
                   round((SELECT count(*) FROM tpp)::DOUBLE / (SELECT count(*) FROM pred), 6) AS precision,
                   round((SELECT count(*) FROM tpg)::DOUBLE / (SELECT count(*) FROM gold), 6) AS recall
        """,
        "q38_gold_rank_histogram": """
            WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv, label AS qlabel
                       FROM embeddings WHERE vec_id < 50),
                 c AS (SELECT vec_id AS cand_id, embedding::DOUBLE[] AS cv, label AS clabel
                       FROM embeddings WHERE vec_id >= 50),
            ranked AS (
              SELECT query_id, qlabel, clabel,
                     row_number() OVER (PARTITION BY query_id
                         ORDER BY list_cosine_similarity(qv, cv) DESC, cand_id) AS rank
              FROM c CROSS JOIN q),
            gold AS (SELECT query_id, min(rank) AS gold_rank FROM ranked
                     WHERE clabel = qlabel AND rank <= 100 GROUP BY query_id)
            SELECT gold_rank, count(*) AS n FROM gold GROUP BY gold_rank
        """,
        # connected components IS SQL-expressible at small scale: transitive
        # closure by recursive label propagation, min reachable key = the
        # cluster label (matches clustering.connected_components semantics,
        # run_E2E_exhaustive.py:584-611 cluster-by-shared-entity).
        "q29_connected_components": """
            WITH RECURSIVE edges AS (
              SELECT DISTINCT
                     'O' || lpad(CAST(l_orderkey AS VARCHAR), 10, '0') AS a,
                     'P' || lpad(CAST(l_partkey AS VARCHAR), 10, '0') AS b
              FROM lineitem WHERE l_orderkey < 200),
            sym AS (SELECT a, b FROM edges UNION SELECT b AS a, a AS b FROM edges),
            walk(node_key, label) AS (
              SELECT a, a FROM sym
              UNION
              SELECT s.a, w.label FROM sym s JOIN walk w ON w.node_key = s.b)
            SELECT node_key, min(label) AS cluster_id
            FROM walk GROUP BY node_key
        """,
        # greedy packing is a linear recurrence per document — a recursive
        # CTE replays the exact scan: new segment iff cur + slen > budget
        "q39_greedy_segmentation": """
            WITH RECURSIVE t AS (
              SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                     string_split(replace(text, ' table', '. table'), '. ') AS ps
              FROM documents),
            parts AS (
              SELECT doc_id, i.i AS idx,
                     length(list_extract(ps, i.i))
                       + CASE WHEN i.i < len(ps) THEN 2 ELSE 0 END AS slen
              FROM t, UNNEST(range(1, len(ps) + 1)) AS i(i)),
            walk AS (
              SELECT doc_id, idx, slen, 1 AS seg, slen AS cur
              FROM parts WHERE idx = 1
              UNION ALL
              SELECT p.doc_id, p.idx, p.slen,
                     CASE WHEN w.cur + p.slen > 150 THEN w.seg + 1 ELSE w.seg END,
                     CASE WHEN w.cur + p.slen > 150 THEN p.slen ELSE w.cur + p.slen END
              FROM walk w JOIN parts p ON p.doc_id = w.doc_id AND p.idx = w.idx + 1),
            seglen AS (
              SELECT doc_id, seg AS seg_index, sum(slen) AS seg_len
              FROM walk GROUP BY doc_id, seg)
            SELECT doc_id, CAST(seg_index AS INT) AS seg_index,
                   CAST(sum(seg_len) OVER (PARTITION BY doc_id ORDER BY seg_index
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        - seg_len AS BIGINT) AS seg_start,
                   CAST(sum(seg_len) OVER (PARTITION BY doc_id ORDER BY seg_index
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS seg_end
            FROM seglen
        """,
        # the multimodal features run through the REAL decode, but the
        # payload build and the digests are deterministic byte functions —
        # DuckDB rebuilds the identical bytes and hashes them
        "q33_media_features": r"""
            SELECT CAST(doc_id AS VARCHAR) AS media_id,
                   CAST(octet_length(encode(e'P6\n4 4\n255\n'
                        || rpad(substr(text, 1, 48), 48, 'x'))) AS BIGINT) AS n_bytes,
                   sha256(e'P6\n4 4\n255\n'
                        || rpad(substr(text, 1, 48), 48, 'x')) AS sha256
            FROM documents WHERE doc_id < 200
        """,
        # the seeded sample is a pure md5 rank — replayable in ANSI SQL
        "q37_random_negatives": """
            WITH pos AS (
              SELECT CAST(o_orderkey AS VARCHAR) AS mention_id,
                     CAST(c_nationkey AS VARCHAR) AS label_candidate_id
              FROM orders JOIN customer ON o_custkey = c_custkey
              WHERE o_orderkey < 100),
            ents AS (SELECT CAST(n_nationkey AS VARCHAR) AS entity_id FROM nation),
            paired AS (
              SELECT mention_id, entity_id FROM pos CROSS JOIN ents
              WHERE entity_id <> label_candidate_id),
            ranked AS (
              SELECT mention_id, entity_id,
                     row_number() OVER (PARTITION BY mention_id
                         ORDER BY md5('42:' || mention_id || ':' || entity_id),
                                  entity_id) AS rn
              FROM paired)
            SELECT mention_id, entity_id FROM ranked WHERE rn <= 3
        """,
        # q43: the q39 recursive-CTE segments + a plain containment join +
        # row_number replay the mention rebase exactly
        "q43_mention_rebase": """
            WITH RECURSIVE t AS (
              SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                     replace(text, ' table', '. table') AS tx
              FROM documents),
            tt AS (SELECT doc_id, string_split(tx, '. ') AS ps FROM t),
            parts AS (
              SELECT doc_id, i.i AS idx,
                     length(list_extract(ps, i.i))
                       + CASE WHEN i.i < len(ps) THEN 2 ELSE 0 END AS slen
              FROM tt, UNNEST(range(1, len(ps) + 1)) AS i(i)),
            walk AS (
              SELECT doc_id, idx, slen, 1 AS seg, slen AS cur
              FROM parts WHERE idx = 1
              UNION ALL
              SELECT p.doc_id, p.idx, p.slen,
                     CASE WHEN w.cur + p.slen > 150 THEN w.seg + 1 ELSE w.seg END,
                     CASE WHEN w.cur + p.slen > 150 THEN p.slen ELSE w.cur + p.slen END
              FROM walk w JOIN parts p ON p.doc_id = w.doc_id AND p.idx = w.idx + 1),
            seglen AS (
              SELECT doc_id, seg AS seg_index, sum(slen) AS seg_len
              FROM walk GROUP BY doc_id, seg),
            segs AS (
              SELECT doc_id, seg_index, cum - seg_len AS seg_start, cum AS seg_end
              FROM (SELECT doc_id, seg_index, seg_len,
                           sum(seg_len) OVER (PARTITION BY doc_id ORDER BY seg_index
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
                    FROM seglen)),
            m AS (
              SELECT doc_id || '#m1' AS omid, doc_id, 10 AS ms, 20 AS me
              FROM t WHERE length(tx) >= 30
              UNION ALL
              SELECT doc_id || '#m2', doc_id, 25, 30 FROM t WHERE length(tx) >= 30),
            contained AS (
              SELECT m.omid, m.doc_id, m.ms, m.me,
                     s.doc_id || '_' || CAST(s.seg_index AS VARCHAR) AS segment_id,
                     s.seg_start
              FROM m JOIN segs s ON s.doc_id = m.doc_id
                   AND m.ms >= s.seg_start AND m.me <= s.seg_end),
            ranked AS (
              SELECT *, row_number() OVER (PARTITION BY segment_id
                            ORDER BY ms, me) AS i
              FROM contained)
            SELECT segment_id || '_' || CAST(i AS VARCHAR) AS mention_id,
                   segment_id,
                   CAST(ms - seg_start AS INT) AS start_index,
                   CAST(me - seg_start AS INT) AS end_index,
                   doc_id,
                   CAST(ms AS INT) AS orig_start
            FROM ranked
        """,
        "q44_frame_sample": """
            SELECT CAST(doc_id AS VARCHAR) AS media_id,
                   CAST(f.f AS INT) AS frame_ts_ms
            FROM documents,
                 UNNEST(range(0, ((doc_id % 7) + 1) * 1500, 1000)) AS f(f)
            WHERE doc_id < 50
        """,
        # q45: per-token char offsets via ordinality + running-sum window,
        # n-gram ends via lead(n-1); span text re-derived with substr — the
        # module's span invariant IS the oracle identity. The driver
        # documents table is single-line (no '\n'), so no line partitioning
        # is needed here; the newline/multi-space/unicode quirks of
        # candidate_spans are tested in tests/test_mentions.py.
        "q45_span_enumeration": """
            WITH base AS (
                SELECT doc_id, text, string_split(text, ' ') AS l
                FROM documents WHERE doc_id < 20
            ),
            toks AS (
                SELECT doc_id, text,
                       l[CAST(g.i AS INT) + 1] AS tok,
                       CAST(g.i AS INT) + 1 AS i
                FROM base, UNNEST(range(len(l))) AS g(i)
            ),
            pos AS (
                SELECT doc_id, text, tok, i, CAST(length(tok) AS INT) AS len,
                       CAST(COALESCE(SUM(length(tok) + 1) OVER (
                           PARTITION BY doc_id ORDER BY i
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                       ), 0) AS INT) AS s
                FROM toks
            ),
            w AS (
                SELECT doc_id, text, s, len,
                       lead(s, 1) OVER win AS s1, lead(len, 1) OVER win AS l1,
                       lead(s, 2) OVER win AS s2, lead(len, 2) OVER win AS l2
                FROM pos
                WINDOW win AS (PARTITION BY doc_id ORDER BY i)
            )
            SELECT CAST(doc_id AS VARCHAR) AS document_id,
                   CAST(start_index AS INT) AS start_index,
                   CAST(end_index AS INT) AS end_index,
                   substr(text, start_index + 1, end_index - start_index) AS span_text
            FROM (
                SELECT doc_id, text, s AS start_index, s + len AS end_index FROM w
                UNION ALL
                SELECT doc_id, text, s, s1 + l1 FROM w WHERE s1 IS NOT NULL
                UNION ALL
                SELECT doc_id, text, s, s2 + l2 FROM w WHERE s2 IS NOT NULL
            )
        """,
        # q46: the q45 enumeration machinery (docs 0..39, widths 1..3) joined
        # case-insensitively against a corpus-derived gazetteer (first 2/3
        # tokens of docs 0..99 by parity, min entity per normalized alias),
        # then the longest-match containment prune: drop a match iff a
        # "preceding" match under (start asc, end desc) ends at-or-after it.
        "q46_gazetteer_mentions": """
            WITH gaz AS (
                SELECT lower(alias) AS alias_norm,
                       min(entity_id) AS gazetteer_entity_id
                FROM (
                    SELECT 'E' || CAST(doc_id AS VARCHAR) AS entity_id,
                           array_to_string(list_slice(
                               string_split(text, ' '), 1,
                               CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 3 END
                           ), ' ') AS alias
                    FROM documents WHERE doc_id < 100
                )
                WHERE length(alias) >= 3
                GROUP BY 1
            ),
            base AS (
                SELECT doc_id, text, string_split(text, ' ') AS l
                FROM documents WHERE doc_id < 40
            ),
            toks AS (
                SELECT doc_id, text,
                       l[CAST(g.i AS INT) + 1] AS tok,
                       CAST(g.i AS INT) + 1 AS i
                FROM base, UNNEST(range(len(l))) AS g(i)
            ),
            pos AS (
                SELECT doc_id, text, tok, i, CAST(length(tok) AS INT) AS len,
                       CAST(COALESCE(SUM(length(tok) + 1) OVER (
                           PARTITION BY doc_id ORDER BY i
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                       ), 0) AS INT) AS s
                FROM toks
            ),
            w AS (
                SELECT doc_id, text, s, len,
                       lead(s, 1) OVER win AS s1, lead(len, 1) OVER win AS l1,
                       lead(s, 2) OVER win AS s2, lead(len, 2) OVER win AS l2
                FROM pos
                WINDOW win AS (PARTITION BY doc_id ORDER BY i)
            ),
            spans AS (
                SELECT CAST(doc_id AS VARCHAR) AS document_id,
                       CAST(start_index AS INT) AS start_index,
                       CAST(end_index AS INT) AS end_index,
                       substr(text, start_index + 1,
                              end_index - start_index) AS span_text
                FROM (
                    SELECT doc_id, text, s AS start_index, s + len AS end_index
                    FROM w
                    UNION ALL
                    SELECT doc_id, text, s, s1 + l1 FROM w WHERE s1 IS NOT NULL
                    UNION ALL
                    SELECT doc_id, text, s, s2 + l2 FROM w WHERE s2 IS NOT NULL
                )
            ),
            matches AS (
                SELECT s.document_id, s.start_index, s.end_index,
                       s.span_text AS text, g.gazetteer_entity_id
                FROM spans s
                JOIN gaz g ON lower(s.span_text) = g.alias_norm
            )
            SELECT m.document_id || '#' || CAST(m.start_index AS VARCHAR)
                       || '-' || CAST(m.end_index AS VARCHAR) AS mention_id,
                   m.document_id, m.start_index, m.end_index, m.text,
                   m.gazetteer_entity_id
            FROM matches m
            WHERE NOT EXISTS (
                SELECT 1 FROM matches o
                WHERE o.document_id = m.document_id
                  AND o.end_index >= m.end_index
                  AND (o.start_index < m.start_index
                       OR (o.start_index = m.start_index
                           AND o.end_index > m.end_index))
            )
        """,
        # q47: greedy longest-match is replayed exactly — `bestp` holds the
        # longest vocab match at every (word, position) (max(l) per group),
        # the recursive CTE walks jumps from position 0; a position with no
        # match poisons the word to the reference's whole-word [UNK].
        "q47_wordpiece_greedy": """
            WITH RECURSIVE words AS (
                SELECT DISTINCT w
                FROM (
                    SELECT unnest(string_split(text, ' ')) AS w
                    FROM documents WHERE doc_id < 50
                )
                WHERE length(w) > 0
            ),
            vocab AS (
                SELECT DISTINCT v FROM (
                    SELECT w AS v FROM words WHERE length(w) <= 5
                    UNION ALL
                    SELECT substr(w, 1, 4) FROM words
                    WHERE length(w) > 5 AND w NOT LIKE 'w%'
                    UNION ALL
                    SELECT '##' || substr(w, 5) FROM words
                    WHERE length(w) > 5 AND w NOT LIKE 'w%'
                )
            ),
            matches AS (
                SELECT words.w, CAST(p.pos AS INT) AS pos, CAST(l.l AS INT) AS l,
                       CASE WHEN p.pos = 0 THEN substr(words.w, 1, CAST(l.l AS INT))
                            ELSE '##' || substr(words.w, CAST(p.pos AS INT) + 1,
                                                CAST(l.l AS INT)) END AS piece
                FROM words,
                     UNNEST(range(length(words.w))) AS p(pos),
                     UNNEST(range(1, length(words.w) + 1)) AS l(l)
                WHERE p.pos + l.l <= length(words.w)
                  AND (CASE WHEN p.pos = 0
                            THEN substr(words.w, 1, CAST(l.l AS INT))
                            ELSE '##' || substr(words.w, CAST(p.pos AS INT) + 1,
                                                CAST(l.l AS INT)) END)
                      IN (SELECT v FROM vocab)
            ),
            bestp AS (
                SELECT m.w, m.pos, m.l, m.piece
                FROM matches m
                JOIN (SELECT w, pos, max(l) AS jl FROM matches GROUP BY w, pos) b
                  ON b.w = m.w AND b.pos = m.pos AND b.jl = m.l
            ),
            walk AS (
                SELECT w, 0 AS pos, CAST([] AS VARCHAR[]) AS pieces,
                       false AS bad, CAST(length(w) AS INT) AS n
                FROM words
                UNION ALL
                SELECT walk.w,
                       CASE WHEN b.pos IS NULL THEN walk.n
                            ELSE walk.pos + b.l END,
                       CASE WHEN b.pos IS NULL THEN walk.pieces
                            ELSE list_append(walk.pieces, b.piece) END,
                       b.pos IS NULL,
                       walk.n
                FROM walk
                LEFT JOIN bestp b ON b.w = walk.w AND b.pos = walk.pos
                WHERE walk.pos < walk.n AND NOT walk.bad
            )
            SELECT w AS word,
                   CASE WHEN bad THEN '[UNK]'
                        ELSE array_to_string(pieces, ' ') END AS pieces
            FROM walk
            WHERE pos >= n
        """,
        # q48: q47's greedy walk kept as per-word piece LISTS, then the
        # marked-mention assembly in pure aggregation — tokens/tags flattened
        # in (word, piece) order with [CLS]/[SEP] affixed, marker indices by
        # piece-count prefix sums (start = 1 + |pieces(w1)|, end =
        # |pieces(w1..3)|, 0-based over the [CLS]-prefixed sequence).
        "q48_marked_mention_tokens": """
            WITH RECURSIVE words AS (
                SELECT DISTINCT w
                FROM (
                    SELECT unnest(string_split(text, ' ')) AS w
                    FROM documents WHERE doc_id < 50
                )
                WHERE length(w) > 0
            ),
            vocab AS (
                SELECT DISTINCT v FROM (
                    SELECT w AS v FROM words WHERE length(w) <= 5
                    UNION ALL
                    SELECT substr(w, 1, 4) FROM words
                    WHERE length(w) > 5 AND w NOT LIKE 'w%'
                    UNION ALL
                    SELECT '##' || substr(w, 5) FROM words
                    WHERE length(w) > 5 AND w NOT LIKE 'w%'
                )
            ),
            matches AS (
                SELECT words.w, CAST(p.pos AS INT) AS pos, CAST(l.l AS INT) AS l,
                       CASE WHEN p.pos = 0 THEN substr(words.w, 1, CAST(l.l AS INT))
                            ELSE '##' || substr(words.w, CAST(p.pos AS INT) + 1,
                                                CAST(l.l AS INT)) END AS piece
                FROM words,
                     UNNEST(range(length(words.w))) AS p(pos),
                     UNNEST(range(1, length(words.w) + 1)) AS l(l)
                WHERE p.pos + l.l <= length(words.w)
                  AND (CASE WHEN p.pos = 0
                            THEN substr(words.w, 1, CAST(l.l AS INT))
                            ELSE '##' || substr(words.w, CAST(p.pos AS INT) + 1,
                                                CAST(l.l AS INT)) END)
                      IN (SELECT v FROM vocab)
            ),
            bestp AS (
                SELECT m.w, m.pos, m.l, m.piece
                FROM matches m
                JOIN (SELECT w, pos, max(l) AS jl FROM matches GROUP BY w, pos) b
                  ON b.w = m.w AND b.pos = m.pos AND b.jl = m.l
            ),
            walk AS (
                SELECT w, 0 AS pos, CAST([] AS VARCHAR[]) AS pieces,
                       false AS bad, CAST(length(w) AS INT) AS n
                FROM words
                UNION ALL
                SELECT walk.w,
                       CASE WHEN b.pos IS NULL THEN walk.n
                            ELSE walk.pos + b.l END,
                       CASE WHEN b.pos IS NULL THEN walk.pieces
                            ELSE list_append(walk.pieces, b.piece) END,
                       b.pos IS NULL,
                       walk.n
                FROM walk
                LEFT JOIN bestp b ON b.w = walk.w AND b.pos = walk.pos
                WHERE walk.pos < walk.n AND NOT walk.bad
            ),
            wp AS (
                SELECT w, CASE WHEN bad THEN ['[UNK]'] ELSE pieces END AS ps
                FROM walk WHERE pos >= n
            ),
            docs AS (
                SELECT CAST(doc_id AS VARCHAR) AS did,
                       string_split(text, ' ') AS l
                FROM documents
                WHERE doc_id < 40 AND len(string_split(text, ' ')) >= 3
            ),
            toks AS (
                SELECT did, CAST(i.i AS INT) + 1 AS wi,
                       l[CAST(i.i AS INT) + 1] AS w
                FROM docs, UNNEST(range(len(l))) AS i(i)
                WHERE l[CAST(i.i AS INT) + 1] <> ''
            ),
            pieces AS (
                SELECT t.did, t.wi, CAST(j.j AS INT) + 1 AS pj,
                       wp.ps[CAST(j.j AS INT) + 1] AS piece
                FROM toks t
                JOIN wp ON wp.w = t.w,
                UNNEST(range(len(wp.ps))) AS j(j)
            ),
            tagged AS (
                SELECT did, wi, pj, piece,
                       CASE WHEN wi IN (2, 3) THEN
                            CASE WHEN wi = 2 AND pj = 1 THEN 'B'
                                 WHEN piece LIKE '##%' THEN 'DNT'
                                 ELSE 'I' END
                       ELSE CASE WHEN piece LIKE '##%' THEN 'DNT'
                                 ELSE 'O' END END AS tag
                FROM pieces
            )
            SELECT did AS document_id,
                   array_to_string(
                       list_prepend('[CLS]',
                           list_append(list(piece ORDER BY wi, pj), '[SEP]')),
                       ' ') AS tokens,
                   array_to_string(
                       list_prepend('O',
                           list_append(list(tag ORDER BY wi, pj), 'O')),
                       ' ') AS tags,
                   CAST(1 + sum(CASE WHEN wi = 1 THEN 1 ELSE 0 END) AS INT)
                       AS mention_start,
                   CAST(sum(CASE WHEN wi <= 3 THEN 1 ELSE 0 END) AS INT)
                       AS mention_end
            FROM tagged
            GROUP BY did
        """,
        # the composed flagship dataflow with an exactly-replayable score:
        # token-prefix blocking -> same-block pairs -> word-set-Jaccard
        # links (integer set sizes + one IEEE division: bit-identical
        # across engines) -> recursive-CTE transitive closure, min-id
        # cluster labels
        "q49_er_blocked_clusters": """
            WITH RECURSIVE recs AS (
              SELECT doc_id,
                     lower(substr(split_part(text, ' ', 1), 1, 4)) AS blk,
                     list_distinct(
                       string_split(lower(substr(text, 1, 40)), ' ')
                     ) AS ws
              FROM documents),
            links AS (
              SELECT a.doc_id AS ia, b.doc_id AS ib
              FROM recs a JOIN recs b
                ON a.blk = b.blk AND a.doc_id < b.doc_id
              WHERE CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE)
                    / len(list_distinct(list_concat(a.ws, b.ws))) >= 0.5),
            sym AS (SELECT ia AS a, ib AS b FROM links
                    UNION SELECT ib, ia FROM links),
            walk(node, label) AS (
              SELECT a, a FROM sym
              UNION
              SELECT s.a, w.label FROM sym s JOIN walk w ON w.node = s.b),
            comp AS (SELECT node, min(label) AS cluster_id
                     FROM walk GROUP BY node)
            SELECT r.doc_id,
                   CAST(coalesce(c.cluster_id, r.doc_id) AS BIGINT) AS cluster_id
            FROM recs r LEFT JOIN comp c ON c.node = r.doc_id
        """,
        # the round-5 generation bound: rare-gram inverted index + rarest-8
        # prefix + per-surface partial-dot top-5. Integer tf weights ->
        # exact integer partial dots, bit-identical ranking in both engines
        "q50_gen_candidates": """
            WITH docs AS (
              SELECT CAST(doc_id AS BIGINT) AS doc_id,
                     lower(substr(text, 1, 40)) AS prefix
              FROM documents),
            ents AS (
              SELECT doc_id AS entity_id, prefix AS name
              FROM docs WHERE doc_id % 2 = 0),
            surf AS (
              SELECT DISTINCT prefix AS surface
              FROM docs WHERE doc_id % 2 = 1),
            ev AS (
              SELECT entity_id, substr(name, i.i, 3) AS gram,
                     count(*) AS w
              FROM ents,
                   UNNEST(range(2, greatest(length(name) - 3 + 1, 2))) AS i(i)
              GROUP BY entity_id, gram),
            sv AS (
              SELECT surface, substr(surface, i.i, 3) AS gram,
                     count(*) AS w
              FROM surf,
                   UNNEST(range(2, greatest(length(surface) - 3 + 1, 2))) AS i(i)
              GROUP BY surface, gram),
            rare AS (
              SELECT gram, count(DISTINCT entity_id) AS df
              FROM ev GROUP BY gram
              HAVING count(DISTINCT entity_id) <= 3),
            sp AS (
              SELECT surface, s.gram, w,
                     row_number() OVER (PARTITION BY surface
                                        ORDER BY r.df ASC, s.gram ASC) AS pr
              FROM sv s JOIN rare r ON s.gram = r.gram),
            ep AS (
              SELECT entity_id, e.gram, w,
                     row_number() OVER (PARTITION BY entity_id
                                        ORDER BY r.df ASC, e.gram ASC) AS pr
              FROM ev e JOIN rare r ON e.gram = r.gram),
            scored AS (
              SELECT s.surface, e.entity_id, sum(s.w * e.w) AS ps
              FROM sp s JOIN ep e ON s.gram = e.gram
              WHERE s.pr <= 8 AND e.pr <= 8
              GROUP BY s.surface, e.entity_id),
            ranked AS (
              SELECT surface, entity_id, ps,
                     row_number() OVER (PARTITION BY surface
                                        ORDER BY ps DESC, entity_id ASC) AS rk
              FROM scored)
            SELECT surface, entity_id, CAST(ps AS BIGINT) AS pscore,
                   CAST(rk AS INTEGER) AS gen_rank
            FROM ranked WHERE rk <= 5
        """,
        # q30-q32, q34, q40-q42: hash-seeded MinHash/SimHash/LSH planes,
        # iterative CC + pandas-UDF pipelines (incl. the cross-encoder rerank
        # stand-in) — genuinely non-SQL-expressible; rows-only checks. The
        # composed pairs->links->CC dataflow itself IS oracle-checked via
        # q49 (pure-SQL JW score); q34 stays rows-only only because its
        # score mixes hash embeddings.
    }
