"""Connected components (SURVEY.md §2.12): the large-star/small-star
fixpoint and the flagship closed-form star clustering."""

import hypothesis.strategies as st
from hypothesis import HealthCheck, given, settings

from e2e_el_spark.operators.clustering import connected_components
from e2e_el_spark.pipeline import clusters_from_links


def _reference_cc(edges):
    """Driver-side union-find oracle."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        if a != b:  # engine drops self-loops (no cluster information)
            union(a, b)
    return {x: find(x) for x in parent}


def test_cc_basic(spark):
    edges = spark.createDataFrame(
        [(2, 1), (3, 2), (4, 3), (10, 11), (7, 7)], "src long, dst long"
    )
    got = {r.node: r.component for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_cc_chain_and_star(spark):
    # pathological chain: worst case for naive propagation; large/small-star
    # must converge in O(log n) driver iterations
    chain = [(i, i + 1) for i in range(50)]
    edges = spark.createDataFrame(chain, "src long, dst long")
    got = {r.node: r.component for r in connected_components(edges).collect()}
    assert set(got.values()) == {0}
    assert len(got) == 51


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(st.integers(0, 40), st.integers(0, 40)), min_size=1, max_size=60
    )
)
def test_cc_matches_union_find(spark, edge_list):
    oracle = _reference_cc(edge_list)
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    got = {r.node: r.component for r in connected_components(edges).collect()}
    # both label by component-minimum node id, so exact equality is expected
    assert got == oracle


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(st.integers(0, 40), st.integers(0, 40)), min_size=1, max_size=60
    )
)
def test_cc_delta_retirement_matches_union_find(spark, edge_list):
    """The delta-iteration path (checkpoint=True → closed stars retire per
    round) must produce the identical assignment to the union-find oracle —
    retirement is an optimization, never a semantics change."""
    oracle = _reference_cc(edge_list)
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    got = {
        r.node: r.component
        for r in connected_components(edges, checkpoint=True).collect()
    }
    assert got == oracle


def test_cc_reliable_checkpoint_dir(spark, tmp_path):
    """checkpoint_dir: per-iteration parquet write+read (executor-loss
    tolerant on real clusters) — identical assignments, and the round files
    actually land under the directory."""
    import os

    chain = [(i, i + 1) for i in range(20)] + [(100, 101), (101, 102)]
    edges = spark.createDataFrame(chain, "src long, dst long")
    cdir = str(tmp_path / "cc_reliable")
    got = {
        r.node: r.component
        for r in connected_components(edges, checkpoint_dir=cdir).collect()
    }
    assert set(got.values()) == {0, 100}
    assert len(got) == 24
    iters = [d for d in os.listdir(cdir) if d.startswith("cc_iter_")]
    assert len(iters) >= 2  # initial canonical set + at least one round


def test_cc_delta_retires_early_closed_stars(spark):
    """A graph of many already-converged stars plus one long chain: the
    closed stars must retire after round 1 (the active set shrinks), not be
    rescanned every round — observed via the per-round signature counts."""
    stars = [(r, r + j) for r in (1000, 2000, 3000) for j in (1, 2, 3)]
    chain = [(i, i + 1) for i in range(30)]
    edges = spark.createDataFrame(stars + chain, "src long, dst long")
    got = {r.node: r.component for r in connected_components(edges).collect()}
    oracle = _reference_cc(stars + chain)
    assert got == oracle


def _links_and_mentions(spark, edges, mention_ids):
    links = spark.createDataFrame(
        [(m, e, 0.9) for m, e in edges],
        "mention_id string, entity_id string, score double",
    )
    mentions = spark.createDataFrame(
        [(m, "d1", i, i + 1, f"t{i}") for i, m in enumerate(mention_ids)],
        "mention_id string, document_id string, start_index int, "
        "end_index int, text string",
    )
    return links, mentions


def _fixpoint_clusters(links, mentions):
    """The same labels by the iterative large-star/small-star fixpoint over
    the mention–entity graph (mention keys and 'ENT:'-prefixed entity keys,
    hashed as the engine hashes them); a mention absent from every edge is
    a singleton labelled by its own id."""
    from pyspark.sql import functions as F

    edges = links.select(
        F.xxhash64("mention_id").alias("src"),
        F.xxhash64(F.concat(F.lit("ENT:"), "entity_id")).alias("dst"),
    )
    comp = {r.node: r.component for r in connected_components(edges).collect()}
    own = {
        r.mention_id: r.h
        for r in mentions.select("mention_id", F.xxhash64("mention_id").alias("h")).collect()
    }
    return {m: f"c{comp.get(h, h)}" for m, h in own.items()}


def test_cluster_nodes_isolated_singletons(spark):
    """An unlinked mention is its own cluster, labelled by its own id; two
    mentions of one entity share a cluster; one row per mention, no hub rows."""
    from pyspark.sql import functions as F

    links, mentions = _links_and_mentions(
        spark, [("m1", "e1"), ("m2", "e1")], ["m1", "m2", "m3"]
    )
    got = {r.mention_id: r.cluster_id for r in clusters_from_links(links, mentions).collect()}
    assert set(got) == {"m1", "m2", "m3"}
    assert got["m1"] == got["m2"]
    assert got["m3"] != got["m1"]
    (own,) = spark.range(1).select(F.xxhash64(F.lit("m3")).alias("h")).collect()
    assert got["m3"] == f"c{own.h}"


def test_cluster_star_links_equals_fixpoint(spark):
    """Star-shaped bipartite inputs (flagship link shape): the closed form
    must equal the iterative fixpoint exactly — mention set, component
    labels (hub minimum included) and singleton handling."""
    import random

    for trial in range(3):
        rng = random.Random(7 + trial)
        edges = [(f"m{i:03d}", f"e{rng.randrange(17)}") for i in range(120)]
        mention_ids = [f"m{i:03d}" for i in range(129)]  # 9 isolated singletons
        links, mentions = _links_and_mentions(spark, edges, mention_ids)
        fast = {r.mention_id: r.cluster_id
                for r in clusters_from_links(links, mentions).collect()}
        assert fast == _fixpoint_clusters(links, mentions), trial
        assert len(fast) == 129  # every mention assigned, once
        assert len(set(fast.values())) == len({e for _, e in edges}) + 9


def test_clusters_from_links_star_path_matches_fixpoint(spark):
    """The flagship clusters stage gives bit-equal labels to the fixpoint
    over the same links."""
    links, mentions = _links_and_mentions(
        spark,
        [("m1", "e1"), ("m2", "e1"), ("m3", "e2"), ("m4", "e2"), ("m5", "e3")],
        [f"m{i}" for i in range(1, 9)],
    )
    star = {r.mention_id: r.cluster_id
            for r in clusters_from_links(links, mentions).collect()}
    assert star == _fixpoint_clusters(links, mentions)
    assert len(star) == 8  # m6-m8 singletons included
    assert star["m1"] == star["m2"] != star["m3"] == star["m4"] != star["m5"]
    assert len(set(star.values())) == 6


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(st.one_of(st.none(), st.integers(0, 7)), min_size=1, max_size=40))
def test_clusters_from_links_equals_transitive_closure(spark, linked_to):
    """Star-shaped mention links (the flagship shape: at most one entity per
    mention, entities with one or many mentions, unlinked mentions): every
    mention's cluster_id is 'c' + the minimum xxhash64 node id of its
    connected component in the mention–entity graph — the hub included —
    and an unlinked mention is a singleton labelled by its own id."""
    from pyspark.sql import functions as F

    mention_ids = [f"m{i:02d}" for i in range(len(linked_to))]
    edges = [(m, f"e{e}") for m, e in zip(mention_ids, linked_to) if e is not None]
    links = spark.createDataFrame(
        [(m, e, 0.9) for m, e in edges],
        "mention_id string, entity_id string, score double",
    )
    mentions = spark.createDataFrame(
        [(m, "d1", i, i + 1, f"t{i}") for i, m in enumerate(mention_ids)],
        "mention_id string, document_id string, start_index int, "
        "end_index int, text string",
    )
    # node ids exactly as the engine hashes them: mention keys and
    # 'ENT:'-prefixed entity keys
    keys = mention_ids + sorted({f"ENT:{e}" for _, e in edges})
    node_id = {
        r.k: r.h for r in spark.createDataFrame([(k,) for k in keys], "k string")
        .select("k", F.xxhash64("k").alias("h")).collect()
    }
    cc = _reference_cc([(node_id[m], node_id[f"ENT:{e}"]) for m, e in edges])
    want = {m: f"c{cc.get(node_id[m], node_id[m])}" for m in mention_ids}

    rows = clusters_from_links(links, mentions).collect()
    assert len(rows) == len(mention_ids)  # one row per mention, none added
    assert {r.mention_id: r.cluster_id for r in rows} == want
    assert all(r.text == f"t{r.start_index}" for r in rows)  # columns carried
