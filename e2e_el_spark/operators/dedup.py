"""Document deduplication for large-scale training-data pipelines.

Five dedup families over a documents table (doc_id, text), each scalable:
exact (hash groupBy), MinHash+LSH banding, SimHash, n-gram Jaccard, and
embedding-cosine near-dup. The MinHash machinery is shared with blocking
(`e2e_el_spark.operators.blocking`). The reference's only dedup is
first-occurrence-wins on entity ids (`/root/reference/candidate_selection.py:33-37`,
U3) — these operators generalize that to content-level dedup at corpus scale.

All ids kept as the caller's id column; "keeper" selection is deterministic
(min id), so reruns and parallelism levels agree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from e2e_el_spark.operators.blocking import (
    lsh_band_keys,
    same_block_pairs,
    shingles,
)


def _text_group_key(text_col: str):
    """Collision-safe text-equality key: (length, xxhash64, seeded xxhash64).

    A single 64-bit hash equated with text equality silently merges distinct
    documents at web scale (birthday bound ≈ 4·10⁹ docs). Two independent
    64-bit hashes + the length give ~128 bits — collision probability is
    negligible past 10¹⁵ docs — while the shuffle still moves only 20 bytes
    per row, never the full text.
    """
    return [
        F.length(F.col(text_col)).alias("_len"),
        F.xxhash64(F.col(text_col)).alias("_h1"),
        F.xxhash64(F.lit("dedup-seed-2"), F.col(text_col)).alias("_h2"),
    ]


def exact_dedup(df: DataFrame, id_col: str, text_col: str, key_fn=None) -> DataFrame:
    """Keep the min-id row per identical text (deterministic first-wins,
    the distributed analogue of the reference's dict insert U3; query
    q10). One shuffle on (length, hash1, hash2) — never on the full
    text bytes. ``key_fn(text_col) -> [Column aliased _len/_h1/_h2]`` is the
    injectable key seam (a forced-collision test replaces one hash with a
    constant to prove the composite key keeps colliding-but-distinct texts
    apart)."""
    w = Window.partitionBy(*(key_fn or _text_group_key)(text_col)).orderBy(id_col)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def minhash_near_duplicates(
    df: DataFrame, id_col: str, text_col: str,
    num_hashes: int = 64, bands: int = 16, shingle_width: int = 5,
    jaccard_threshold: float = 0.8, max_block_size: int = 500,
) -> DataFrame:
    """MinHash → LSH bands → same-band pairs → verify with exact Jaccard.

    The classic shingle→minhash→band→bucket-join near-dup pipeline. Band
    collisions are *candidates*; the verify step computes true shingle
    Jaccard per pair so the threshold is exact, not probabilistic.
    Returns (id_a, id_b, jaccard) for pairs ≥ threshold.
    """
    from e2e_el_spark.operators.blocking import shingle_array_expr

    rows = num_hashes // bands
    # per-doc distinct shingle-hash ARRAY, computed narrowly (no explode, no
    # distinct shuffle); feeds the signatures AND the Jaccard verify
    hs = df.select(
        F.col(id_col).alias("_id"),
        F.expr(shingle_array_expr(text_col, shingle_width)).alias("_hs"),
    ).cache()
    # signature via explode + ONE codegen'd min(xxhash64(h, i)) hash
    # aggregate — bit-identical to the interpreted array_min(transform(...))
    # per-index form (min over a set is order-independent), measured 1.6×
    # faster like-for-like, and evaluated ONCE: the round-5 self-join
    # duplicated the whole interpreted projection per pair side; map-side
    # partial agg keeps the exchange at signature size
    # (see blocking.minhash_signatures)
    ex = hs.select("_id", F.explode("_hs").alias("_h"))
    mins = ex.groupBy("_id").agg(
        *[
            F.min(F.xxhash64(F.col("_h"), F.lit(i))).alias(f"_m{i}")
            for i in range(num_hashes)
        ]
    )
    sigs = mins.select(
        F.col("_id").alias(id_col),
        F.array(*[F.col(f"_m{i}") for i in range(num_hashes)]).alias("sig"),
    )
    keys = lsh_band_keys(sigs, id_col, bands, rows)
    cand = same_block_pairs(keys, id_col, max_block_size=max_block_size).select(
        "id_a", "id_b"
    )
    # verify on the pair table via array_intersect — moves one bounded array
    # per pair side instead of re-shuffling every (doc, shingle) row through
    # an exploded equi-join (the round-1 shape; was ~half the headline bench).
    # The BROADCAST side is the candidate-pair table, not the shingle-array
    # frame: banding + the block cap make the pair set the small side by
    # construction (16 bytes/row vs one shingle array/row), while Catalyst's
    # estimate for the multi-stage pair plan is pessimistic and the cached
    # array frame's is accurate — left alone it broadcast-built the ARRAY
    # side twice (2 × ~12 MB driver collects at bench scale, measured 2×
    # slower; at corpus scale that side outgrows broadcast entirely and the
    # planner would fall back to shuffling both).
    a = hs.select(F.col("_id").alias("id_a"), F.col("_hs").alias("_ha"))
    b = hs.select(F.col("_id").alias("id_b"), F.col("_hs").alias("_hb"))
    paired = F.broadcast(cand).join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("_ha", "_hb"))
    return (
        paired.select(
            "id_a", "id_b",
            (inter / (F.size("_ha") + F.size("_hb") - inter).cast("double")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
    )


def simhash(df: DataFrame, id_col: str, text_col: str, shingle_width: int = 3) -> DataFrame:
    """64-bit SimHash per document, built-ins only: per-shingle xxhash64,
    per-bit sign votes via groupBy sum, reassembled with bit arithmetic.

    (id, simhash BIGINT). Near-dups differ in few bits (compare with
    bit_count(simhash_a ^ simhash_b) ≤ k).
    """
    sh = shingles(df, id_col, text_col, shingle_width)
    h = sh.select("_id", F.xxhash64("shingle").alias("_h"))
    # vote per bit: +1 if bit set else -1; sum over shingles; bit = sum > 0
    bits = h.select(
        "_id",
        *[
            F.when(F.expr(f"(_h >> {b}) & 1") == 1, 1).otherwise(-1).alias(f"b{b}")
            for b in range(64)
        ],
    )
    votes = bits.groupBy("_id").agg(*[F.sum(f"b{b}").alias(f"b{b}") for b in range(64)])
    # assemble: shiftleft on bigint; bit 63 via signed arithmetic is fine
    acc = F.lit(0).cast("long")
    for b in range(64):
        acc = acc + F.when(F.col(f"b{b}") > 0, F.expr(f"CAST(1 AS BIGINT) << {b}")).otherwise(F.lit(0).cast("long"))
    return votes.select(F.col("_id").alias(id_col), acc.alias("simhash"))


def simhash_near_duplicates(
    df: DataFrame, id_col: str, text_col: str,
    max_hamming: int = 3, shingle_width: int = 3, band_bits: int = 16,
) -> DataFrame:
    """SimHash near-dup join: block on 16-bit bands (a pair within hamming
    distance h < #bands must agree on ≥1 band — pigeonhole), verify with
    bit_count(xor). Returns (id_a, id_b, hamming)."""
    sims = simhash(df, id_col, text_col, shingle_width)
    n_bands = 64 // band_bits
    banded = sims.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        ":", F.lit(str(i)),
                        F.expr(f"CAST((simhash >> {i * band_bits}) & {(1 << band_bits) - 1} AS STRING)"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("block_key"),
    )
    a = banded.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"), "block_key")
    b = banded.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"), "block_key")
    return (
        a.join(b, "block_key")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            F.expr("bit_count(sh_a ^ sh_b)").alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .filter(F.col("hamming") <= max_hamming)
    )


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str,
    n: int = 3, threshold: float = 0.5, token_level: bool = True,
    max_gram_df: int | None = None, observation=None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs sharing ≥1 n-gram.

    Token-level n-grams (word shingles) by default. The inverted-index join
    (gram → doc list) makes this a sparse self-join, not a cartesian.

    ``max_gram_df`` is the web-scale guard: a gram appearing in df docs emits
    O(df²) candidate pairs in the self-join — one stopword 3-gram shared by
    10⁶ docs is 5·10¹¹ pairs before any filter. With ``max_gram_df`` set,
    only grams with document frequency ≤ the cap ENUMERATE candidate pairs
    (an inverted-index rare-gram filter, same design as
    pipeline.candidate_pairs); every enumerated pair is then rescored against
    the FULL gram sets, so reported jaccard values stay exact — the cap can
    only lose pairs whose every shared gram is hot. The drop is observable,
    not silent: the named metric ``ngram_jaccard_df_cap`` reports
    (dropped_gram_rows, input_gram_rows) on the consuming job. None (default)
    enumerates from all grams (exact, small-corpus mode).

    Returns (id_a, id_b, jaccard ≥ threshold).
    """
    if token_level:
        gram_expr = (
            f"CASE WHEN size(split({text_col}, ' ')) >= {n} THEN "
            f"transform(sequence(1, size(split({text_col}, ' ')) - {n} + 1), "
            f"i -> array_join(slice(split({text_col}, ' '), i, {n}), ' ')) "
            f"ELSE array(lower({text_col})) END"
        )
    else:
        gram_expr = (
            f"CASE WHEN length({text_col}) >= {n} THEN "
            f"transform(sequence(1, length({text_col}) - {n} + 1), i -> substr({text_col}, i, {n})) "
            f"ELSE array({text_col}) END"
        )
    grams = df.select(F.col(id_col).alias("_id"), F.explode_outer(F.expr(gram_expr)).alias("gram")).distinct()
    counts = grams.groupBy("_id").agg(F.count("*").alias("n_grams"))
    a = grams.select(F.col("_id").alias("id_a"), "gram")
    b = grams.select(F.col("_id").alias("id_b"), "gram")
    if max_gram_df is not None:
        dfreq = grams.groupBy("gram").agg(F.count("*").alias("_df"))
        flagged = grams.join(dfreq, "gram")
        metrics = [
            F.sum((F.col("_df") > max_gram_df).cast("long")).alias("dropped_gram_rows"),
            F.count(F.lit(1)).alias("input_gram_rows"),
        ]
        if observation is not None:
            flagged = flagged.observe(observation, *metrics)
        else:
            from e2e_el_spark.functions import unique_metric_name

            flagged = flagged.observe(unique_metric_name("ngram_jaccard_df_cap"), *metrics)
        rare = flagged.filter(F.col("_df") <= max_gram_df)
        cand = (
            rare.select(F.col("_id").alias("id_a"), "gram")
            .join(rare.select(F.col("_id").alias("id_b"), "gram"), "gram")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .dropDuplicates(["id_a", "id_b"])
        )
        # exact rescore: candidate pairs ⋈ FULL gram sets — jaccard is exact
        # for every pair the rare-gram index surfaced. Broadcast the
        # rare-gram-capped pair table (two ids/row), not the full gram-row
        # frames — the same estimate-asymmetry fix as the minhash verify
        # join (the multi-stage pair subtree estimates big, the gram frames
        # estimate accurately, so the planner otherwise builds the WRONG
        # side; at corpus scale the gram frames outgrow broadcast entirely)
        inter = (
            F.broadcast(cand).join(a, "id_a")
            .join(b, ["id_b", "gram"])
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("n_inter"))
        )
    else:
        inter = (
            a.join(b, "gram")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("n_inter"))
        )
    return (
        inter.join(counts.withColumnRenamed("_id", "id_a").withColumnRenamed("n_grams", "na"), "id_a")
        .join(counts.withColumnRenamed("_id", "id_b").withColumnRenamed("n_grams", "nb"), "id_b")
        .select(
            "id_a", "id_b",
            (F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter"))).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def embedding_near_duplicates(
    embeddings: DataFrame, id_col: str, vec_col: str,
    cosine_threshold: float = 0.95, n_planes: int = 8, seed: int = 7,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup: random-hyperplane LSH bucket join + exact
    cosine verify, entirely JVM-side (aggregate/zip_with arithmetic).

    Deterministic hyperplanes derive from xxhash64(seed, plane, dim) — a
    pure function, no RNG state. Pairs in the same sign-pattern bucket get
    exact cosine; ≥ threshold survives. Recall is per-bucket (near-dups with
    opposite signs on some plane are missed) — raise recall by unioning
    several plane-sets (seed+i), the standard multi-table LSH trade.

    Pass ``dim`` to keep plan construction fully lazy (None falls back to a
    driver-side ``first()`` probe — a Spark job at plan-build time).
    """
    from e2e_el_spark.functions import hyperplane_bucket_expr

    if dim is None:
        dim = len(embeddings.select(vec_col).first()[0])
    # dim-independent expression size (O(n_planes) nodes, bit-identical
    # buckets) — the inlined O(dim × n_planes) form blew up analysis/codegen
    # at realistic embedding dims; see functions.hyperplane_bucket_expr
    bucket = hyperplane_bucket_expr(vec_col, n_planes, seed, dim)
    # per-vector L2 norm computed ONCE per side here rather than once per
    # bucket pair in the cosine below (2 of the 3 interpreted aggregate()
    # folds per pair were redundant); (dot)/((na)*(nb)) over the same double
    # values — cosines bit-identical to the round-5 inline form
    norm = f"sqrt(aggregate({vec_col}, 0D, (s, v) -> s + CAST(v AS DOUBLE) * v))"
    keyed = embeddings.select(
        F.col(id_col), F.col(vec_col), bucket.alias("bucket"), F.expr(norm).alias("_n")
    )
    a = keyed.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"), "bucket",
        F.col("_n").alias("_na"),
    )
    b = keyed.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"), "bucket",
        F.col("_n").alias("_nb"),
    )
    dot = "aggregate(zip_with(va, vb, (x, y) -> CAST(x AS DOUBLE) * y), 0D, (s, v) -> s + v)"
    return (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            (F.expr(dot) / (F.col("_na") * F.col("_nb"))).alias("cosine"),
        )
        .filter(F.col("cosine") >= cosine_threshold)
        .dropDuplicates(["id_a", "id_b"])
    )
