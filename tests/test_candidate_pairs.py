"""Two-phase rescore semantics of ``candidate_pairs`` (R5-c).

The phase-1 partial-dot prescore may CUT candidates, but every surviving
pair's score must still be the EXACT tf-idf cosine (reference semantics:
`/root/reference/candidate_selection.py` ranks by the true sparse dot) —
the approximation is confined to which candidates survive, never to the
scores the downstream link threshold sees.
"""

import re

import pytest
from pyspark.sql import functions as F

from e2e_el_spark import pipeline
from e2e_el_spark.pipeline import candidate_pairs, generated_candidates, kb_frames
from e2e_el_spark.operators.blocking import tfidf_vectors
from e2e_el_spark.synth import entities_df
from tests.plan_inspect import broadcast_threshold, evh_pruned

N_ENT = 60


@pytest.fixture(scope="module")
def kb(spark):
    ents = entities_df(spark, N_ENT, seed=3).cache()
    frames = kb_frames(ents, n_entities=N_ENT)
    return ents, frames


@pytest.fixture(scope="module")
def surfaces_as_mentions(spark, kb):
    # surfaces == entity names: every surface has an exact-match candidate
    ents, _ = kb
    return ents.select(F.col("name").alias("text")).cache()


def _surface_vectors(vocab, surfaces):
    """Surface tf-idf vectors as the stage builds them."""
    return tfidf_vectors(
        surfaces.select(F.col("text").alias("surface")).distinct(),
        "surface", "surface", vocab, pipeline.NGRAM_MAX, pipeline.COMPAT_NGRAMS,
        min_weight=pipeline.TFIDF_MIN_WEIGHT,
    )


def _exact_cosines(frames, surfaces):
    """Brute-force dict dot of the same normalized vectors the stage uses."""
    vocab, ev, _ = frames
    sv = _surface_vectors(vocab, surfaces)
    s_vecs: dict[str, dict[str, float]] = {}
    for r in sv.collect():
        s_vecs.setdefault(r.surface, {})[r.gram] = r.weight
    e_vecs: dict[str, dict[str, float]] = {}
    for r in ev.collect():
        e_vecs.setdefault(r.entity_id, {})[r.gram] = r.weight
    return s_vecs, e_vecs


def test_scores_are_exact_tfidf_cosine(spark, kb, surfaces_as_mentions):
    _, frames = kb
    out = candidate_pairs(surfaces_as_mentions, frames).collect()
    assert out, "no candidate pairs produced"
    s_vecs, e_vecs = _exact_cosines(frames, surfaces_as_mentions)
    for row in out:
        sv, evv = s_vecs.get(row.surface, {}), e_vecs.get(row.entity_id, {})
        want = sum(w * evv[g] for g, w in sv.items() if g in evv)
        assert row.tfidf_cos == pytest.approx(want, abs=1e-9), (
            row.surface, row.entity_id)


def test_prescore_cut_bounds_and_keeps_exact_match(
    spark, kb, surfaces_as_mentions, monkeypatch
):
    ents, frames = kb
    monkeypatch.setattr(pipeline, "PRESCORE_KEEP", 4)
    monkeypatch.setattr(pipeline, "TFIDF_TOPK", 2)
    rows = candidate_pairs(surfaces_as_mentions, frames).collect()
    per_surface: dict[str, list] = {}
    for r in rows:
        per_surface.setdefault(r.surface, []).append(r)
    cap = min(pipeline.PRESCORE_KEEP, pipeline.TFIDF_TOPK * 2)
    names = {r.name: r.entity_id for r in ents.collect()}
    for surface, cands in per_surface.items():
        assert len(cands) <= cap
        # the identical-string candidate survives the prescore cut and wins
        # the exact rerank (its cosine is Σw² over the min_weight-surviving
        # grams — slightly <1.0 by design, but maximal for the surface)
        best = max(cands, key=lambda r: (r.tfidf_cos, r.entity_id))
        assert best.entity_id == names[surface], (surface, best)
        assert best.tfidf_cos > 0.9, (surface, best)
    assert set(per_surface) == set(names), "a surface lost ALL candidates"


def test_huge_prescore_keep_equals_exhaustive_rescore(
    spark, kb, surfaces_as_mentions, monkeypatch
):
    """PRESCORE_KEEP ≥ |candidates| ⇒ survivors == all candidates, so the
    two-phase path degenerates to the r4 single-phase exact rescore; the
    output must then be the exact top-(2·TFIDF_TOPK) regardless of
    PRESCORE_GRAMS."""
    _, frames = kb
    monkeypatch.setattr(pipeline, "PRESCORE_KEEP", 10**6)
    monkeypatch.setattr(pipeline, "PRESCORE_GRAMS", 3)
    out = {
        (r.surface, r.entity_id): r.tfidf_cos
        for r in candidate_pairs(surfaces_as_mentions, frames).collect()
    }
    s_vecs, e_vecs = _exact_cosines(frames, surfaces_as_mentions)
    for surface, svec in s_vecs.items():
        scored = sorted(
            (
                (-sum(w * evv[g] for g, w in svec.items() if g in evv), eid)
                for eid, evv in e_vecs.items()
            ),
        )
        # every pair the engine kept matches brute force; the engine's set is
        # the exact top-2k OF ITS CANDIDATE SET (blocks ∪ gen), so check
        # score equality on the intersection plus that the global argmax
        # (the exact-match entity, cosine 1.0) is present.
        top_score, top_eid = scored[0]
        assert (surface, top_eid) in out
        assert out[(surface, top_eid)] == pytest.approx(-top_score, abs=1e-9)


def test_gen_posting_cap_is_subset_of_uncapped(spark, kb, surfaces_as_mentions):
    _, frames = kb
    vocab, ev, _ = frames
    sv = _surface_vectors(vocab, surfaces_as_mentions)
    rare = vocab.filter(F.col("is_rare")).select("gram", "df")
    # gen_topk huge ⇒ output is exactly the pairs sharing ≥1 rare prefix
    # gram, so a per-gram posting cap can only SHRINK the set (at this tiny
    # KB every posting is already short — the cap must be a clean no-op)
    full = {
        (r.surface, r.entity_id)
        for r in generated_candidates(
            sv, ev, rare, pipeline.GEN_PREFIX_LEN, 10**6, max_posting=None
        ).collect()
    }
    capped = {
        (r.surface, r.entity_id)
        for r in generated_candidates(
            sv, ev, rare, pipeline.GEN_PREFIX_LEN, 10**6, max_posting=2
        ).collect()
    }
    assert capped, "posting cap removed every generated candidate"
    assert capped <= full


def test_gen_posting_cap_drops_lowest_weight_posting(spark):
    """Handcrafted frames: one rare gram with a 3-entity posting list and
    max_posting=2 must drop exactly the lowest-weight (E3) posting — the
    deterministic weight-desc, entity_id-asc order from the constant's
    rationale (pipeline.py MAX_GEN_POSTING)."""
    sv = spark.createDataFrame(
        [("S", "g1", 1.0), ("S", "g2", 0.5)], ["surface", "gram", "weight"])
    ev = spark.createDataFrame(
        [("E1", "g1", 0.9), ("E2", "g1", 0.8), ("E3", "g1", 0.7),
         ("E4", "g2", 0.6)],
        ["entity_id", "gram", "weight"])
    rare = spark.createDataFrame([("g1", 3), ("g2", 1)], ["gram", "df"])
    got = {
        (r.surface, r.entity_id)
        for r in generated_candidates(sv, ev, rare, 8, 10**6, max_posting=2).collect()
    }
    assert got == {("S", "E1"), ("S", "E2"), ("S", "E4")}
    full = {
        (r.surface, r.entity_id)
        for r in generated_candidates(sv, ev, rare, 8, 10**6, max_posting=None).collect()
    }
    assert full == {("S", "E1"), ("S", "E2"), ("S", "E3"), ("S", "E4")}


def test_shuffled_kb_path_equals_broadcast_path(spark, kb, surfaces_as_mentions, tmp_path):
    """R5-g: the shuffled-KB plan (evh past the broadcast threshold ⇒ evh
    prune semi-joins) must yield exactly the broadcast-path pairs AND
    scores — the prunes only drop entity-vector rows whose gram can never
    appear on the probe side. The KB frames are read back from parquet, as
    ``build_kb_artifacts`` serves them: an unmaterialized cache carries its
    plan's (far larger) size estimate, which would prune on both sides."""
    _, frames = kb
    stored = []
    for name, df in zip(("vocab", "ev", "eb"), frames):
        df.write.parquet(str(tmp_path / name))
        stored.append(spark.read.parquet(str(tmp_path / name)))

    def run():
        out = candidate_pairs(surfaces_as_mentions, tuple(stored))
        return out, {(r.surface, r.entity_id): r.tfidf_cos for r in out.collect()}

    plan_small, small = run()
    with broadcast_threshold(spark, "-1"):
        plan_big, big = run()
    assert not evh_pruned(plan_small)
    assert evh_pruned(plan_big)
    assert set(small) == set(big)
    for k, v in small.items():
        assert big[k] == pytest.approx(v, abs=1e-12), k


def test_surfaces_keep_shuffle_parallelism(spark, kb, surfaces_as_mentions):
    """The distinct-surface frame is byte-tiny but every consumer explodes it
    (n-grams, MinHash shingles). It is pinned to spark.sql.shuffle.partitions
    by an explicit-count repartition, which AQE never coalesces; sized by its
    compact bytes the coalesced cache was one partition and every explode
    downstream of it ran as a single task."""
    _, frames = kb
    out = candidate_pairs(surfaces_as_mentions, frames)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    sp = spark.conf.get("spark.sql.shuffle.partitions")
    assert re.search(
        r"hashpartitioning\(surface#\d+, %s\), REPARTITION_BY_NUM" % sp, plan
    ), plan
