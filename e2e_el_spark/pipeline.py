"""The flagship end-to-end pipeline (SURVEY.md §7.1):

    pages → EXTRACT → documents → MENTIONS → BLOCK → PAIRS → LINKS → CLUSTER

Each stage is a checkpointed table (``lineage.StageRunner``) so a killed run
resumes mid-pipeline. The KB (entities/gazetteer) is a dimension at every join
site; Spark's own size rule (optimizer estimate against
``spark.sql.autoBroadcastJoinThreshold``, re-decided by AQE at runtime) picks
broadcast or shuffle for every KB-proportional join, so a small KB still ships
once per executor (the reference's loop-invariant "embed the KB once" hoist in
its dual-encoder runner) and a large one shuffles.

Link semantics mirror the reference: per-mention argmax candidate above a
threshold (`/root/reference/run_E2E_exhaustive.py:536-544,570-575` — sigmoid-γ
pruning + top-1), then "two mentions co-cluster iff linked to the same entity"
(SURVEY.md §2.12). Top-1 linking makes the match graph one star per entity, so
its connected components are computed in closed form (``clusters_from_links``).
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from e2e_el_spark.extract import extract_documents
from e2e_el_spark.functions import unique_metric_name
from e2e_el_spark.lineage import StageRunner
from e2e_el_spark.metrics import pairwise_f1_from_counts
from e2e_el_spark.operators.blocking import (
    build_tfidf_vocab,
    lsh_band_keys,
    minhash_signatures,
    tfidf_vectors,
    token_prefix_key,
)
from e2e_el_spark.operators.mentions import detect_mentions
from e2e_el_spark.operators.scoring import DEFAULT_WEIGHTS, cross_scores, score_pairs
# unused here; kept importable because perfbench/spans.py wraps it by name
from e2e_el_spark.operators.segmentation import segment_documents  # noqa: F401


# Engine constants: engine code, not configuration. Resume stays safe
# without them in PipelineConfig, because the stage fingerprint
# (``PipelineConfig.fingerprint``) covers every value a caller can change
# plus ``__version__``; like any other engine edit, changing one of these
# needs a version bump (or a fresh workdir) to invalidate old checkpoints.
TFIDF_TOPK = 10
VOCAB_SIZE = 100_000
NGRAM_MAX = 5
COMPAT_NGRAMS = True
PREFIX_LEN = 4
LSH_HASHES = 32
LSH_BANDS = 16
LSH_ROWS_PER_BAND = 2
MAX_MENTION_TOKENS = 4
# prune near-zero tf·idf entries before the gram join (see
# blocking.tfidf_vectors — the 100 TB hot-gram guard)
TFIDF_MIN_WEIGHT = 0.05
# candidate GENERATION uses only grams whose document frequency is below
# this fraction of the corpus (inverted-index common-term pruning) —
# ubiquitous grams still count in the exact rescore, they just don't
# enumerate pairs
MAX_GEN_DF_RATIO = 0.02
# ...AND an ABSOLUTE df cap on candidate-GENERATING grams. The ratio
# alone scales the "rare" threshold with the KB (0.02·N = df ≤ 2,000 at
# a 100k-entity KB), so posting lists — and the Σ df_s·df_e pair
# enumeration — grow super-linearly with the dictionary: measured 65×
# 03_pairs wall for a 20× KB (round-5 KB-axis campaign, BENCH/
# SCALING_EVIDENCE.md). Capping df absolutely bounds every posting
# list independent of KB size; common grams still feed the exact
# rescore, they just never enumerate. 500 leaves the ≤25k-entity
# behavior exactly unchanged (ratio threshold < cap there).
MAX_GEN_DF_ABS = 500
# prefix filtering: only each vector's GEN_PREFIX_LEN RAREST grams
# enumerate candidates (a true near-match must share one of them)
GEN_PREFIX_LEN = 6
# per-surface budget for inverted-index GENERATED candidates, ranked by
# partial dot over the shared rare prefix grams before the exact
# rescore. Without it the generation join's output — and therefore the
# rescore's input — grows with the KB (measured cands/surface 116→434
# for a 20× KB). 100 ≈ 3× the un-bounded per-surface volume at the 5k
# bench KB, so small-KB behavior is effectively unchanged.
GEN_TOPK = 100
# per-RARE-GRAM entity posting-list cap in candidate generation (weight
# desc, entity_id asc). The generation join's output is
# Σ_gram |surface posting|·|entity posting|; the df cap alone leaves a
# heavy tail of postings near the cap, profiled at 45M join rows → a
# 75s partial-dot agg at 20k pages × 100k entities (R5-c).
MAX_GEN_POSTING = 64
# --- two-phase exact rescore (R5-c). Phase 1 scores EVERY candidate by
# a partial dot over the surface's PRESCORE_GRAMS HEAVIEST tf·idf grams
# (they carry the cosine mass); only the per-surface top PRESCORE_KEEP
# survive to the exact rescore. The exact-rescore join streams
# |cands| × grams-per-surface rows — profiled at 1.96B rows / 346s for
# 118k surfaces × 100k entities, 52% of the whole pairs stage — while
# phase 1 costs |cands| × PRESCORE_GRAMS and phase 2 only
# PRESCORE_KEEP × grams-per-surface: ~4× fewer value rows end-to-end.
# Final output is still the EXACT tf·idf cosine of the survivors;
# ranking error is confined to candidates outside the partial-dot
# top-PRESCORE_KEEP (gated by the campaign pairwise-F1 check).
# PRESCORE_KEEP must be ≥ 2·TFIDF_TOPK (the final per-surface cut).
PRESCORE_GRAMS = 8
PRESCORE_KEEP = 30
# token-prefix blocks join at most this many entities per key (ordered
# by entity_id — deterministic); the cap is the mention-entity analogue
# of same_block_pairs' max_block_size
MAX_ENTITIES_PER_BLOCK = 20
# P8/P9 document context windows (± this many chars, [Ms]/[Me] markers)
# as the cross-encoder's text_a — the reference's actual pair input
# (utils_FullTransformer.py:395-470).
RERANK_CONTEXT_BUDGET = 100


@dataclass
class PipelineConfig:
    """The values a caller sets; everything else is an engine constant."""

    link_threshold: float = 0.55
    # restrict to these page languages (None = all). On a partitioned
    # Iceberg/parquet pages table this predicate prunes partitions at the
    # scan (SURVEY.md §4 "rewrites Catalyst gives us for free")
    langs: tuple[str, ...] | None = None
    # L3: cross-encoder rerank of the top-N candidates per surface after
    # score_candidates (modeling_FullTransformer.py:62-101), fed document
    # context windows. None disables; when set, the blended score is
    # 0.7·retrieval + 0.3·cross.
    rerank_topk: int | None = None

    def fingerprint(self) -> str:
        """Stable hash of every knob AND the engine version — the
        StageRunner resume guard (a rerun with a different config, or
        against checkpoints a previous engine version wrote, must recompute
        rather than serve stale stages)."""
        from e2e_el_spark import __version__

        blob = json.dumps(asdict(self), sort_keys=True, default=str)
        return hashlib.sha256(f"{__version__}|{blob}".encode()).hexdigest()[:16]


def block_keys(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id_col, block_key): token-prefix key ∪ MinHash-LSH band keys."""
    prefix = df.select(id_col, token_prefix_key(text_col, PREFIX_LEN).alias("block_key"))
    sigs = minhash_signatures(df, id_col, text_col, LSH_HASHES)
    return prefix.unionByName(lsh_band_keys(sigs, id_col, LSH_BANDS, LSH_ROWS_PER_BAND))


def _kb_vocab(entities: DataFrame, n_entities: int) -> DataFrame:
    """TF-IDF vocabulary over the KB ALONE: (gram, df, idf, is_rare).

    The vocabulary/IDF corpus is the entity-name side only — NOT entity
    names ∪ mention surfaces like the reference
    (`candidate_selection.py:102-111`).
    Rationale: a KB-only vocabulary is **corpus-invariant**, so the whole
    KB side of the pairs stage (vocab, entity vectors, block keys) is a
    precomputable artifact instead of a per-run job over 10^8 surfaces —
    the reference's own rank-0-once dataset build
    (`/root/reference/run_E2E_exhaustive.py:667-668,712-713`) is the same
    hoist. Surface grams outside the KB vocabulary can never match any
    entity gram, so dots are unchanged; only the surface-side L2 norm
    (and hence absolute cosines) shifts — the pairwise F1 gate holds.

    ``is_rare`` pre-marks grams eligible to ENUMERATE candidates
    (df ≤ max(2, min(MAX_GEN_DF_RATIO · n_entities, MAX_GEN_DF_ABS))) so
    downstream needs no corpus count job.
    """
    vocab = build_tfidf_vocab(
        entities.select(F.col("entity_id").alias("cid"), F.col("name").alias("ctext")),
        "cid", "ctext", NGRAM_MAX, VOCAB_SIZE, COMPAT_NGRAMS,
        n_docs=n_entities,
    )
    thr = max(2.0, min(MAX_GEN_DF_RATIO * n_entities, MAX_GEN_DF_ABS))
    return vocab.withColumn("is_rare", F.col("df") <= F.lit(thr))


def _kb_blocks(entities: DataFrame) -> DataFrame:
    """(block_key, entity_id) with the per-block entity cap applied."""
    bw = Window.partitionBy("block_key").orderBy("entity_id")
    return (
        block_keys(entities, "entity_id", "name")
        .withColumn("_rn", F.row_number().over(bw))
        # surface the cap (not silent): truncated-row count rides along as an
        # observed metric on the job that consumes this frame
        .observe(
            unique_metric_name("entity_block_cap"),
            F.sum((F.col("_rn") > MAX_ENTITIES_PER_BLOCK).cast("long")).alias("truncated_rows"),
            F.count(F.lit(1)).alias("input_rows"),
        )
        .filter(F.col("_rn") <= MAX_ENTITIES_PER_BLOCK)
        .drop("_rn")
    )


def kb_frames(
    entities: DataFrame, n_entities: int | None = None
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Lazy (vocab, entity_vectors, entity_blocks) — the corpus-invariant KB
    side of the pairs stage. ``build_kb_artifacts`` is the checkpointed form."""
    if n_entities is None:
        n_entities = entities.count()
    vocab = _kb_vocab(entities, n_entities).cache()
    ev = tfidf_vectors(
        entities, "entity_id", "name", vocab, NGRAM_MAX, COMPAT_NGRAMS,
        min_weight=TFIDF_MIN_WEIGHT,
    ).cache()
    return vocab, ev, _kb_blocks(entities)


def kb_content_fingerprint(entities: DataFrame) -> str:
    """Content hash of the KB: ``"{count}:{bit_xor(xxhash64(id, name))}"``.

    One small agg job. Deployments that run many corpus jobs against one
    frozen KB compute this ONCE and pass it to ``build_kb_artifacts`` /
    ``run_pipeline`` as ``kb_fingerprint`` — a fully-resumed KB build then
    launches ZERO Spark jobs (the fingerprint agg was the last per-run
    KB-side job even on full resume)."""
    row = entities.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.expr("bit_xor(xxhash64(entity_id, name))"), F.lit(0)).alias("h"),
    ).collect()[0]
    return f"{row['n']}:{row['h']}"


def build_kb_artifacts(
    spark: SparkSession, entities: DataFrame, cfg: PipelineConfig, kb_workdir: str,
    kb_fingerprint: str | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Checkpoint the KB artifacts once per (config, KB-content) fingerprint.

    The KB side of candidate generation (vocabulary + IDF, entity TF-IDF
    vectors, capped entity block keys) depends only on the entities table and
    the config — at 100 TB it is invariant across corpus runs and across
    cluster sizes, so recomputing it per run is pure serial floor. The stage
    fingerprint folds in a content hash of the KB (count + bit_xor of
    xxhash64(entity_id, name)) so a changed KB recomputes rather than serving
    stale vectors. Pass ``kb_fingerprint`` (from ``kb_content_fingerprint``,
    computed once per frozen KB) to skip the per-run hash job — the caller
    asserts the KB is the one the fingerprint was taken from."""
    kb_fp = kb_fingerprint or kb_content_fingerprint(entities)
    n_entities = int(kb_fp.split(":", 1)[0])
    fp = f"{cfg.fingerprint()}|kb:{kb_fp}"
    runner = StageRunner(spark, kb_workdir, fingerprint=fp)
    vocab = runner.run("kb_vocab", lambda: _kb_vocab(entities, n_entities))
    ev = runner.run(
        "kb_vectors",
        lambda: tfidf_vectors(
            entities, "entity_id", "name", vocab, NGRAM_MAX, COMPAT_NGRAMS,
            min_weight=TFIDF_MIN_WEIGHT,
        ),
    )
    eb = runner.run("kb_blocks", lambda: _kb_blocks(entities))
    return vocab, ev, eb


def generated_candidates(
    sv: DataFrame, ev: DataFrame, rare: DataFrame,
    gen_prefix_len: int, gen_topk: int, keep_score: bool = False,
    max_posting: int | None = None,
) -> DataFrame:
    """Inverted-index candidate generation with prefix filtering and a
    per-surface partial-dot top-k cap (the round-5 KB-axis fix).

    ``sv``/``ev`` are (id, gram, weight) vector frames for surfaces and
    entities; ``rare`` is (gram, df) — the generation-eligible vocabulary
    slice. Prefix filtering keeps each id's ``gen_prefix_len`` rarest grams
    (a matching pair shares its rarest gram with high probability, so the
    inverted index only needs the prefix, not the whole vector). The join
    emits every pair sharing a rare prefix gram — that count grows with
    BOTH the surface universe and the KB (measured 36× for a 20× KB,
    round-5 campaign R5-a), and every emitted pair pays the downstream
    exact-rescore join. So pairs are RANKED by their partial dot
    (Σ w_s·w_e over the shared rare prefix grams — the exact dot restricted
    to the generating grams) and only the per-surface top ``gen_topk``
    survive: candidate volume per surface is bounded at any KB size, while
    the ranking agg runs on cheap (surface, entity, partial-weight) rows,
    not the wide vectors.

    ``keep_score=True`` returns (surface, entity_id, pscore, gen_rank) for
    the value-checking driver query (q50); the pipeline path drops both.

    ``max_posting`` caps each rare gram's ENTITY posting list (top by
    weight desc, entity_id asc — deterministic). The df cap bounds
    posting lists by the KB's own document frequency, but the join output
    is Σ_gram |surface posting|·|entity posting| and the heavy tail near
    the df cap is what blows it up (profiled: 45M join rows → a 75s
    partial-dot agg at 20k pages × 100k entities, BENCH/
    SCALING_EVIDENCE.md R5-c). A weight-ordered per-gram cap bounds the
    join output at |surface prefix rows| × max_posting independent of the
    df-cap tail; a near-duplicate pair keeps its shared rare grams (those
    postings are short by rarity), so recall is gated by the campaign
    pairwise-F1 check, not assumed.
    """
    def _gen_prefix(vecs: DataFrame, id_col: str, w_col: str) -> DataFrame:
        pw = Window.partitionBy(id_col).orderBy(F.asc("df"), F.asc("gram"))
        return (
            vecs.join(F.broadcast(rare), "gram")
            .withColumn("_pr", F.row_number().over(pw))
            .filter(F.col("_pr") <= gen_prefix_len)
            .select(id_col, "gram", F.col("weight").alias(w_col))
        )

    ep = _gen_prefix(ev, "entity_id", "_we")
    if max_posting is not None:
        gpw = Window.partitionBy("gram").orderBy(F.desc("_we"), F.asc("entity_id"))
        ep = (
            ep.withColumn("_gp", F.row_number().over(gpw))
            .filter(F.col("_gp") <= max_posting)
            .drop("_gp")
        )
    gw = Window.partitionBy("surface").orderBy(F.desc("_pscore"), F.asc("entity_id"))
    gen = (
        _gen_prefix(sv, "surface", "_ws")
        .join(ep, "gram")
        .groupBy("surface", "entity_id")
        .agg(F.sum(F.col("_ws") * F.col("_we")).alias("_pscore"))
        .withColumn("_gr", F.row_number().over(gw))
        .filter(F.col("_gr") <= gen_topk)
    )
    if keep_score:
        return gen.select(
            "surface", "entity_id", F.col("_pscore").alias("pscore"),
            F.col("_gr").alias("gen_rank"),
        )
    return gen.select("surface", "entity_id")


def _shuffle_partitions(df: DataFrame) -> int:
    """``spark.sql.shuffle.partitions``: a repartition count AQE keeps."""
    return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))


def _broadcastable(df: DataFrame) -> bool:
    """Spark's own broadcast rule: the optimizer's size estimate of ``df``
    is within ``spark.sql.autoBroadcastJoinThreshold`` (-1: never)."""
    qe = df._jdf.queryExecution()
    size = qe.optimizedPlan().stats().sizeInBytes()
    return 0 <= size <= qe.sparkSession().sessionState().conf().autoBroadcastJoinThreshold()


def candidate_pairs(
    mentions: DataFrame, kb: tuple[DataFrame, DataFrame, DataFrame]
) -> DataFrame:
    """BLOCK + PAIRS at SURFACE level: (surface, entity_id, tfidf_cos).

    Scoring signals depend only on the mention's surface string, so all
    blocking/scoring runs per DISTINCT surface and joins back to mentions in
    LINKS — the reference's own candidate dictionaries are keyed by mention
    text, not mention instance (C6, `/root/reference/mention_candidates_AIDA.py:14-31`).
    At web scale this collapses ~10^12 mentions to ~10^8 surfaces before the
    expensive pair work.

    Candidates = (token-prefix blocks ∪ LSH-band blocks ∪ rare-gram inverted
    index with prefix filtering), then a two-phase rescore: a cheap partial
    dot over each surface's heaviest grams ranks every candidate, and only
    the per-surface top ``PRESCORE_KEEP`` get their EXACT TF-IDF cosine
    before the final per-surface top-2k cut (see the ``PRESCORE_*``
    rationale — the single-phase exact rescore was 52% of the stage wall at
    a 100k-entity KB).
    The KB-proportional sides (entity blocks, entity vectors) carry no
    broadcast hint: Spark's size rule broadcasts them while the KB is the
    small dimension (SURVEY.md §1.3) and shuffles them past it. Only the
    vocabulary-bounded frames (rare grams, distinct gram hashes) are hinted.
    ``kb`` is the precomputed (vocab, entity_vectors, entity_blocks) —
    ``build_kb_artifacts`` or ``kb_frames`` — so the per-run plan touches
    only surface-side work.
    """
    # Surfaces are byte-tiny (distinct strings) but every consumer explodes
    # them 10-100× (n-grams, MinHash shingles). AQE may coalesce cached
    # plans (session.py), and it sizes this cache by its compact bytes: one
    # partition at 20k pages, so the explodes and every scan of the derived
    # ``sv`` cache ran as single tasks (03_pairs median 31.5 s against 26.9 s
    # with uncoalesced caches, 7 runs each at 20k pages × 5k entities on 4
    # cores). An explicit-count repartition is never coalesced: the explodes
    # keep the session's shuffle parallelism, and ``sv`` keeps a known
    # hash(surface) partitioning, so its norm join needs no re-shuffle.
    surfaces = (
        mentions.select(F.col("text").alias("surface")).distinct()
        .repartition(_shuffle_partitions(mentions), "surface")
        .cache()
    )
    vocab, ev, eb = kb
    sv = tfidf_vectors(
        surfaces, "surface", "surface", vocab, NGRAM_MAX, COMPAT_NGRAMS,
        min_weight=TFIDF_MIN_WEIGHT,
    ).cache()

    # --- candidate GENERATION: inverted index over RARE grams only.
    # A gram in >MAX_GEN_DF_RATIO of the KB enumerates O(df²) pairs —
    # at 10^8 surfaces one common word would emit 10^12 candidates. Rare
    # grams bound every posting list; common grams still contribute to the
    # exact rescore below, they just never enumerate pairs.
    rare = vocab.filter(F.col("is_rare")).select("gram", "df")
    gen = generated_candidates(
        sv, ev, rare, GEN_PREFIX_LEN, GEN_TOPK, max_posting=MAX_GEN_POSTING,
    )

    sb = block_keys(surfaces, "surface", "surface")
    blocked = sb.join(eb, "block_key").select("surface", "entity_id")

    # ``cands`` has exactly ONE consumer (the phase-1 left-join chain) since
    # the ranking window moved onto the agg output — no persist needed.
    # ``survivors`` below stays persisted: it feeds phase 2 AND its back-join.
    cands = blocked.unionByName(gen).dropDuplicates(["surface", "entity_id"])

    # --- two-phase exact rescore (R5-c; rationale on PRESCORE_*).
    # Vectors join on xxhash64(gram): an 8-byte long through the widest
    # intermediates instead of a 1-5-char string (smaller shuffle rows,
    # cheaper hash/compare). A 64-bit collision between two grams of the
    # ≤100k vocab (P ≈ 3·10⁻¹⁰) would add one spurious cross-term; the dot
    # stays exact for every practical purpose.
    # (A map<gram,weight>-per-row dot was tried and is 2-3× SLOWER: Spark map
    # expressions are array-backed, so element_at is a linear scan — the
    # in-row dot degenerates to O(|grams|²) string compares per pair.)
    # Surface grams that appear in NO entity vector contribute 0 to every
    # dot — a broadcast semi-join drops them map-side BEFORE any wide
    # cands⋈sv intermediate exists; while Spark broadcasts the ev side, the
    # only shuffles left are the partial-agg groupBys.
    evh = ev.select("entity_id", F.xxhash64("gram").alias("_gh"), F.col("weight").alias("_ew"))
    svh = sv.select("surface", F.xxhash64("gram").alias("_gh"), "weight")
    sv_r = svh.join(F.broadcast(evh.select("_gh").distinct()), "_gh", "left_semi")

    # phase 1: partial dot over each surface's heaviest PRESCORE_GRAMS
    # grams ranks ALL candidates cheaply. LEFT joins carry EVERY candidate
    # through the agg (zero-overlap candidates sum to a coalesced 0.0, so
    # none silently drops — same (0, entity_id) tie-break the old exact
    # path gave them) and the ranking window runs directly on the agg
    # output: no cands-back sort-merge join. That join (31.5M ⋈ 16.6M on a
    # string key) was 105s of the 357s stage wall at 20k pages × 100k
    # entities (BENCH/SCALING_EVIDENCE.md R5-c) for zero information — the
    # agg can emit the zero rows itself.
    if PRESCORE_KEEP < TFIDF_TOPK * 2:
        raise ValueError(
            f"PRESCORE_KEEP={PRESCORE_KEEP} must be >= 2*TFIDF_TOPK="
            f"{TFIDF_TOPK * 2}: the phase-1 cut would starve the final "
            "per-surface top-2k"
        )
    tw = Window.partitionBy("surface").orderBy(F.desc("weight"), F.asc("_gh"))
    sv_top = (
        sv_r.withColumn("_tw", F.row_number().over(tw))
        .filter(F.col("_tw") <= PRESCORE_GRAMS)
        .drop("_tw")
    )
    # When Spark would shuffle evh (its size estimate is past the broadcast
    # threshold), the entity-vector frame is KB-proportional (77M rows at
    # 10^6 entities — BENCH/SCALING_EVIDENCE.md R5-f, where 03_pairs was 81%
    # of the job wall) while the set of grams that can EVER participate in
    # a join is vocab-bounded (<= VOCAB_SIZE 8-byte hashes): phase 1
    # only probes grams in some surface's top-PRESCORE_GRAMS set, phase 2
    # only grams present in a surface vector at all. Two broadcast
    # semi-joins drop every other entity row map-side BEFORE evh enters the
    # wide shuffles. The win compounds because common (low-IDF) grams are
    # precisely the ones with the LARGEST posting lists and the ones a
    # top-by-weight cut excludes from sv_top. A broadcast evh ships whole
    # either way: prune nothing (the prunes cost jobs and tasks there).
    if _broadcastable(evh):
        evh_p1 = evh_p2 = evh
    else:
        sv_top = sv_top.persist()  # consumed by the prune AND the join chain
        evh_p1 = evh.join(
            F.broadcast(sv_top.select("_gh").distinct()), "_gh", "left_semi"
        )
        evh_p2 = evh.join(
            F.broadcast(svh.select("_gh").distinct()), "_gh", "left_semi"
        )
    # left-join chain: a candidate whose surface has no sv_top grams (every
    # gram unknown to the KB) keeps a null-_gh row; a candidate whose top
    # grams match no entity row keeps null _ew. Both sum to null → 0.0.
    pre = (
        cands.join(sv_top, "surface", "left")
        .join(evh_p1, ["entity_id", "_gh"], "left")
        .groupBy("surface", "entity_id")
        .agg(F.coalesce(
            F.sum(F.col("weight") * F.col("_ew")), F.lit(0.0)
        ).alias("_pscore"))
    )
    kw = Window.partitionBy("surface").orderBy(F.desc("_pscore"), F.asc("entity_id"))
    survivors = (
        pre.withColumn("_pk", F.row_number().over(kw))
        .filter(F.col("_pk") <= PRESCORE_KEEP)
        .select("surface", "entity_id")
        .persist()
    )

    # phase 2: EXACT tf·idf cosine, but only for the PRESCORE_KEEP
    # survivors — PRESCORE_KEEP × grams-per-surface value rows instead of
    # |cands| × grams-per-surface.
    rescored = (
        survivors.join(sv_r, "surface")
        .join(evh_p2, ["entity_id", "_gh"])
        .groupBy("surface", "entity_id")
        .agg(F.sum(F.col("weight") * F.col("_ew")).alias("tfidf_cos"))
    )
    out = survivors.join(rescored, ["surface", "entity_id"], "left").select(
        "surface", "entity_id", F.coalesce("tfidf_cos", F.lit(0.0)).alias("tfidf_cos")
    )
    # reference keeps top-k candidates per mention (num_candidates=10,
    # run_E2E_exhaustive.py:880-882); keep a few× that pre-scoring
    w = Window.partitionBy("surface").orderBy(F.desc("tfidf_cos"), F.asc("entity_id"))
    return (
        out.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= TFIDF_TOPK * 2)
        .drop("_rk")
    )


def score_candidates(cands: DataFrame, gazetteer: DataFrame) -> DataFrame:
    """Vectorized scoring UDFs per (surface, entity) pair + weighted combine.

    The surface is compared against EVERY known alias of the candidate
    entity (gazetteer join) and the per-entity max is kept — an exact
    alias hit scores jw = emb_dot = 1 even when the canonical name differs
    (the reference's candidate dictionaries are alias-keyed the same way,
    its ``mention_candidates_AIDA.py:14-31``).

    The pairs reach the Python UDF through an explicit-count repartition
    (as ``surfaces`` in ``candidate_pairs``): AQE would coalesce a plain
    exchange of the one-file ``cands`` to one task. Pairs are KB-bounded
    (surfaces <= distinct aliases), so that count fits any corpus size.
    """
    names = gazetteer.select("entity_id", F.col("alias").alias("text_b"))
    pairs = cands.join(names, "entity_id").repartition(
        _shuffle_partitions(cands), "surface"
    )
    scored = score_pairs(pairs, "surface", "text_b", "tfidf_cos")
    w = DEFAULT_WEIGHTS
    return (
        scored.groupBy("surface", "entity_id")
        .agg(
            # constant per group (pair-level signal); max states the
            # invariant and stays correct if a future input breaks it
            F.max("tfidf_cos").alias("tfidf_cos"),
            F.max("jw").alias("jw"),
            F.max("emb_dot").alias("emb_dot"),
        )
        .withColumn(
            "score",
            F.col("jw") * F.lit(w["jw"])
            + F.col("tfidf_cos") * F.lit(w["tfidf_cos"])
            + F.col("emb_dot") * F.lit(w["emb_dot"]),
        )
    )


def surface_context_windows(
    mentions: DataFrame, documents: DataFrame, budget: int = RERANK_CONTEXT_BUDGET
) -> DataFrame:
    """One deterministic representative P8/P9 context window per surface:
    (surface, context) — the reference's actual cross-encoder ``text_a``
    (`/root/reference/utils_FullTransformer.py:395-470` builds
    '[CLS] mention window [SEP] candidate [SEP]' pairs from document
    context, not from the bare surface string).

    Representative = the mention with the MINIMUM mention_id per surface
    (content-hashed ids ⇒ stable across reruns and parallelism). The
    surface-sized frame joins documents once; the window itself is the pure
    column expression ``functions.mention_window_expr`` ([Ms]/[Me] markers,
    ± budget chars)."""
    from e2e_el_spark.functions import mention_window_expr

    rep = mentions.groupBy(F.col("text").alias("surface")).agg(
        F.min_by(
            F.struct("document_id", "start_index", "end_index"), F.col("mention_id")
        ).alias("_m")
    )
    docs = documents.select(
        F.col("document_id").alias("_did"), F.col("text").alias("_doc_text")
    )
    return (
        rep.join(docs, F.col("_m.document_id") == F.col("_did"), "left")
        .select(
            "surface",
            F.coalesce(
                mention_window_expr(
                    "_doc_text", "_m.start_index", "_m.end_index", budget
                ),
                F.col("surface"),
            ).alias("context"),
        )
    )


def rerank_candidates(
    scored: DataFrame, entities: DataFrame, context: DataFrame, topk: int
) -> DataFrame:
    """L3 stage: cross-encode the top-``topk`` candidates per surface against
    the candidate's canonical entity text and blend the scores
    (`/root/reference/modeling_FullTransformer.py:62-101` applied to the
    retrieval top-k, `utils_FullTransformer.py:395-470` pair construction).

    ``context`` (surface, context — see ``surface_context_windows``) is the
    cross-encoder's ``text_a``, the reference's marked document window; a
    surface without a window falls back to its bare string. The top-k window
    already leaves at most ``topk`` rows per surface, so the cross scores
    are blended without a second rank."""
    w = Window.partitionBy("surface").orderBy(F.desc("score"), F.asc("entity_id"))
    top = (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= topk)
        .drop("_rk")
        .join(context, "surface", "left")
        .withColumn("_ctx", F.coalesce(F.col("context"), F.col("surface")))
        .drop("context")
    )
    cand_names = entities.select("entity_id", F.col("name").alias("_cand_text"))
    # one cross-scorer task per shuffle partition, not one per checkpoint
    # file (see score_candidates)
    pairs = top.join(cand_names, "entity_id").repartition(
        _shuffle_partitions(scored), "surface"
    )
    return (
        cross_scores(pairs, "_ctx", "_cand_text")
        .withColumn("score", F.col("score") * 0.7 + F.col("cross_score") * 0.3)
        .drop("_cand_text", "_ctx")
    )


def link_top1(scored: DataFrame, threshold: float) -> DataFrame:
    """Per-surface argmax entity with score ≥ threshold (P7 + T5): the
    surface-level version of the reference's sigmoid-γ prune + top-1."""
    w = Window.partitionBy("surface").orderBy(F.desc("score"), F.asc("entity_id"))
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter((F.col("_rk") == 1) & (F.col("score") >= threshold))
        .select("surface", "entity_id", "score")
    )


def mention_links(links: DataFrame, mentions: DataFrame) -> DataFrame:
    """surface links → mention links (join back on the surface string)."""
    return mentions.select("mention_id", F.col("text").alias("surface")).join(
        links, "surface"
    ).select("mention_id", "entity_id", "score")


def clusters_from_links(links: DataFrame, mentions: DataFrame) -> DataFrame:
    """mention links → clusters(mention_id, document_id, start_index,
    end_index, text, cluster_id); unlinked mentions become singletons.

    Two mentions co-cluster iff they link to the same entity (SURVEY.md
    §2.12). ``link_top1`` keeps one entity per surface, so ``links`` holds
    at most one row per mention and the match graph is a set of stars: one
    ``ENT:``-keyed hub per entity plus its mentions. Each star's connected-
    component label therefore has a closed form, the minimum xxhash64 node
    id over {hub} ∪ {its mentions}: one partial aggregation per entity_id
    (its shuffle carries at most one row per entity per map task) and one
    mention_id-keyed join, with no fixpoint. Broadcast vs shuffle of both joins is left to Spark's size
    statistics.

    PRECONDITION (guaranteed by construction, asserted in the e2e tests): a
    mention with two links would appear twice here rather than merge the
    two entities' clusters."""
    hubs = links.groupBy("entity_id").agg(
        F.least(
            F.min(F.xxhash64("mention_id")),
            F.xxhash64(F.concat(F.lit("ENT:"), F.col("entity_id"))),
        ).alias("_component")
    )
    component = F.coalesce(F.col("_component"), F.xxhash64("mention_id"))
    return (
        mentions.join(links.select("mention_id", "entity_id"), "mention_id", "left")
        .join(hubs, "entity_id", "left")
        .select(
            "mention_id", "document_id", "start_index", "end_index", "text",
            F.concat(F.lit("c"), component.cast("string")).alias("cluster_id"),
        )
    )


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    entities: DataFrame,
    gazetteer: DataFrame,
    workdir: str,
    cfg: PipelineConfig | None = None,
    kb_workdir: str | None = None,
    kb_fingerprint: str | None = None,
) -> DataFrame:
    """pages → clusters(mention_id, document_id, start_index, end_index,
    text, cluster_id), with every stage checkpointed under ``workdir``.

    ``kb_workdir`` (default ``{workdir}/_kb``) holds the corpus-invariant KB
    artifacts; point it somewhere persistent to amortize the KB build across
    corpus runs (content-fingerprinted, so a changed KB still recomputes).
    ``kb_fingerprint`` (see ``kb_content_fingerprint``) skips the per-run KB
    hash job when the caller has it cached for a frozen KB."""
    import os

    cfg = cfg or PipelineConfig()
    runner = StageRunner(spark, workdir, fingerprint=cfg.fingerprint())
    # one KB hash job per run (skipped when the caller passes the cached
    # fingerprint of a frozen KB)
    kb_fp = kb_fingerprint or kb_content_fingerprint(entities)

    if cfg.langs is not None:
        pages = pages.filter(F.col("lang").isin(*cfg.langs))
    documents = runner.run("01_extract", lambda: extract_documents(pages))

    mentions = runner.run(
        "02_mentions",
        lambda: detect_mentions(documents, gazetteer, MAX_MENTION_TOKENS),
    )
    kb = build_kb_artifacts(
        spark, entities, cfg, kb_workdir or os.path.join(workdir, "_kb"),
        kb_fingerprint=kb_fp,
    )
    cands = runner.run(
        "03_pairs",
        lambda: candidate_pairs(mentions, kb),
    )
    scored = runner.run(
        "04_scored",
        lambda: score_candidates(cands, gazetteer),
    )
    if cfg.rerank_topk is not None:
        ctx = surface_context_windows(mentions, documents)
        scored = runner.run(
            "04b_rerank",
            lambda: rerank_candidates(scored, entities, ctx, cfg.rerank_topk),
        )
    links = runner.run(
        "05_links",
        lambda: mention_links(link_top1(scored, cfg.link_threshold), mentions),
    )
    return runner.run("06_clusters", lambda: clusters_from_links(links, mentions))


def evaluate_pipeline(
    clusters: DataFrame, gold_mentions: DataFrame, cfg: PipelineConfig | None = None
) -> dict:
    """Pairwise F1 on labeled same-blocking-key pairs (BASELINE.json metric).

    Blocking key for the labeled-pair oracle = the token-prefix key of the
    gold surface (the pairs a single blocking bucket would compare).
    ``cfg`` is unused: the key length is the engine's ``PREFIX_LEN``. It
    stays so existing ``evaluate_pipeline(clusters, gold, cfg)`` callers
    keep working.
    """
    blocked = gold_mentions.select(
        "mention_id",
        "label_candidate_id",
        "document_id", "start_index", "end_index",
        token_prefix_key("text", PREFIX_LEN).alias("block_key"),
    )
    # gold mention ids differ from detected mention ids; re-key detected
    # clusters by (document_id, start, end) → join to gold mention ids
    keyed = clusters.select(
        F.col("document_id"), F.col("start_index"), F.col("end_index"), F.col("cluster_id")
    )
    remapped = blocked.join(
        keyed, ["document_id", "start_index", "end_index"], "left"
    ).select(
        "mention_id", "block_key", "label_candidate_id",
        F.coalesce(
            "cluster_id", F.concat(F.lit("miss:"), "mention_id")
        ).alias("cluster_id"),
    )
    # counts-based exact pairwise F1 — never materializes the pair table
    # (Σ block² rows would be the bottleneck at web scale)
    return pairwise_f1_from_counts(remapped)
