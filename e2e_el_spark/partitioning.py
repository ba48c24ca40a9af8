"""Scale-adaptive scan fan-out.

Optimization-guide motivation (§2.5 "Input skew: one huge unsplittable
file... repartition immediately after the read", §6 input split size): a
parquet file with a single row group is one scan task no matter how many
cores the session has — and every narrow operation ABOVE that scan
(explode, n-gramming, higher-order-function evaluation, partial
aggregation, broadcast-join probes) then runs on one core. At bench scale
every input table is exactly that shape (one file, one row group), so the
expensive part of a query can serialize before its first exchange.

``fan_out`` hash-repartitions such an input up to the session's shuffle
parallelism — but ONLY when the input's planned parallelism is far below
it. At cluster scale a 100 TB table scans as thousands of splits, the
guard sees ``cur >= target`` and returns the input unchanged: the helper
is a structural no-op exactly where an unconditional repartition would be
a full-corpus shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def fan_out(
    df: DataFrame, *key_cols: str, target: int | None = None, factor: int = 2
) -> DataFrame:
    """Repartition ``df`` to ``target`` (default: spark.sql.shuffle.partitions)
    iff its current plan parallelism is more than ``factor``× below it.

    Keyed (hash) repartition, never round-robin: round-robin pays the
    sort-before-repartition pass (SPARK-23207) and establishes no useful
    partitioning; hashing on ``key_cols`` lets a downstream groupBy/window
    whose keys CONTAIN the fan-out key reuse the exchange outright
    (EnsureRequirements: HashPartitioning(k) satisfies
    ClusteredDistribution(k, ...)), so the fan-out replaces — not adds to —
    the first aggregation's shuffle. Callers pass a high-cardinality key
    (the row id) so the hash spreads evenly: at most as many partitions as
    the key has distinct values can be non-empty, so a low-cardinality key
    leaves cores idle however large ``target`` is (q07 keys on its window
    key ``l_suppkey``, which fans out fully only while the suppliers
    outnumber ``target``).

    ``df.rdd.getNumPartitions()`` compiles the physical plan but runs no
    job; callers apply this to raw scans where that is milliseconds.
    """
    if not key_cols:
        raise ValueError("fan_out needs a hash key (round-robin would add a sort pass)")
    spark = df.sparkSession
    if target is None:
        target = int(spark.conf.get("spark.sql.shuffle.partitions"))
    try:
        # cheap first-line check: a scan over >= target files cannot be
        # narrower than target splits, so skip the probe (and its physical
        # planning) entirely — this is the branch a 100 TB table takes, at
        # ~ms cost against its cached file index
        if len(df.inputFiles()) >= target:
            return df
        cur = df.rdd.getNumPartitions()
    except Exception:  # pragma: no cover - exotic plans; fan-out is best-effort
        return df
    if cur * factor > target:
        return df
    return df.repartition(target, *[F.col(c) for c in key_cols])
