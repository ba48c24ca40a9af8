"""SparkSession factory tuned for this engine.

Local mode for tests/bench; the same configs are what we would submit with
``spark-submit --py-files`` on a real multi-executor cluster (AQE, Arrow,
adaptive skew-join handling). Shuffle partitioning is sized to cores locally;
on a cluster AQE coalesces/splits at runtime.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "e2e_el_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard configs.

    AQE is on (runtime coalescing + skew-join splitting — the reference has no
    optimizer at all, SURVEY.md §4); Arrow is on because every Python-boundary
    operator in this engine is a pandas UDF / applyInPandas / mapInPandas.
    """
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER", "local[%s]" % os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
        )
    # Shuffles start from a partition count sized for the BIG stages and let
    # AQE coalesce the small ones down, instead of one static number serving
    # both. Measured motivation (BENCH/SCALING_EVIDENCE.md R5-l/R5-m): with
    # partitions = cores, the 2-core level pushes ~27M link rows through two
    # shuffle partitions and 06_clusters degrades 21% from spill, while a
    # static high count taxes the tiny KB-bounded stages with empty tasks.
    # initialPartitionNum gives data-proportional sizing: big exchanges keep
    # many partitions, AQE coalescing shrinks small ones toward
    # advisoryPartitionSizeInBytes. On a real 100 TB cluster this is the
    # same setting that keeps terabyte shuffles out of the spill regime
    # without hand-tuning spark.sql.shuffle.partitions per stage.
    initial_partitions = int(
        os.environ.get("SPARK_GRAFT_INITIAL_PARTITIONS", "0")
    ) or max(4 * shuffle_partitions, 64)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(initial_partitions),
        )
        # keep parallelism-first coalescing (Spark's default): byte-based
        # advisory sizing cannot see COMPUTE density, and this engine's
        # scoring/rerank exchanges are byte-light but pandas-UDF-heavy —
        # with parallelismFirst=false the 8m advisory target coalesced
        # 04_scored to ~1 task and its wall stopped responding to cores
        # (same-window 60k n8 pair, BENCH/SCALING_EVIDENCE.md R5-o:
        # 04_scored 51.6s -> 12.1s, 04b_rerank 21.0s -> 11.0s, whole job
        # 123.7s -> 72.2s when flipped back to true). KB-bounded stages pay
        # no measurable tax under true at the raised initialPartitionNum
        # (03_pairs 17.3s vs 21.0s in the same pair).
        .config(
            "spark.sql.adaptive.coalescePartitions.parallelismFirst",
            os.environ.get("SPARK_GRAFT_PARALLELISM_FIRST", "true"),
        )
        # let AQE coalesce a CACHED plan's output too. Spark's default
        # (false) freezes every .cache()/.persist() whose plan ends in an
        # exchange at initialPartitionNum partitions, so each consumer of a
        # few-KB cache (candidate_pairs' sv/survivors, kb_frames, dedup's
        # candidate pairs) ran one task per frozen partition. Measured on a
        # 4-core box, perfbench flagship_batch seed 0: 03_pairs 851 -> 66
        # tasks, 12.7 -> 7.2 s task CPU, 14.9 -> 9.2 s wall; the streaming
        # micro-batch 1,516 -> 107 tasks; outputs hash-identical. A cache
        # that feeds explodes must pin its own partition count (see
        # candidate_pairs' surfaces), or it coalesces to one task.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # size post-shuffle partitions for the EXPLODED row counts the
        # blocking/span operators produce, not the compact pre-explode bytes
        # AQE sees — 64m coalesces token shuffles to 1-2 tasks and serializes
        # the whole mention stage
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        # same reasoning at the SCAN: a few hundred MB of compact document
        # text explodes 10-100× into tokens/spans/grams downstream; the
        # 128m default packs the whole stage-checkpoint scan into 1-2 input
        # splits and the mention stage then runs on 1-2 tasks regardless of
        # cores (measured: 02_mentions sped up only 1.06× from 2→8 cores).
        # 16m keeps scans parallel at bench scale; a real cluster reading
        # 100 TB would leave this at the default.
        .config("spark.sql.files.maxPartitionBytes", os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "16m"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.maxResultSize", "4g")
        # local-mode shuffle goes through spark.local.dir — on tmpfs the
        # shuffle stages scale with cores instead of serializing on disk I/O
        .config("spark.local.dir", os.environ.get("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark-local"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    """Stop the active session (needed to switch master between bench runs)."""
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    # Clear the cached instance so a new master takes effect.
    try:  # pragma: no cover - private API guard
        SparkSession._instantiatedSession = None
        from pyspark import SparkContext

        SparkContext._active_spark_context = None
    except Exception:
        pass
