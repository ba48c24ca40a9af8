"""Plan probes shared by the plan tests: broadcast hints, the
entity-vector prune, physical node names, and a scoped broadcast
threshold."""

from contextlib import contextmanager


def _nodes(df):
    """Every node of ``df``'s analyzed plan (hints are still explicit nodes
    there, and persisted frames are not yet swapped for cache scans)."""
    stack = [df._jdf.queryExecution().analyzed()]
    while stack:
        node = stack.pop()
        yield node
        stack.extend(_children(node))


def _children(node) -> list:
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def physical_nodes(df):
    """Every node of ``df``'s physical plan, pre-order (a node before its
    subtree)."""
    return subtree(df._jdf.queryExecution().executedPlan())


def subtree(node):
    """``node`` and every physical node below it, pre-order. Under AQE the
    not-yet-executed plan is the adaptive root's initial plan."""
    stack = [node]
    while stack:
        node = stack.pop()
        if node.nodeName() == "AdaptiveSparkPlan":
            stack.append(node.initialPlan())
            continue
        yield node
        stack.extend(reversed(_children(node)))


def _names(attrs) -> frozenset:
    return frozenset(attrs.apply(i).name() for i in range(attrs.size()))


def broadcast_hinted_columns(df) -> set:
    """Output columns of every frame carrying a broadcast hint in ``df``."""
    return {
        _names(n.output()) for n in _nodes(df)
        if n.nodeName() == "ResolvedHint" and "broadcast" in n.hints().toString()
    }


def evh_pruned(df) -> bool:
    """True when ``df`` semi-joins an entity-vector frame: the evh prune of
    ``candidate_pairs`` (its other semi-join filters surface vectors)."""
    return any(
        n.nodeName() == "Join" and n.joinType().toString() == "LeftSemi"
        and "entity_id" in _names(n.left().output())
        for n in _nodes(df)
    )


@contextmanager
def broadcast_threshold(spark, value: str):
    """Set ``spark.sql.autoBroadcastJoinThreshold`` for the block, then put
    the session's own value back (unset would fall to Spark's default)."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, old)
