"""Stage checkpointing with per-partition lineage (north_rule resumability).

The reference's resumability is file-existence probing around torch caches
(`/root/reference/run_E2E_exhaustive.py:672-710`) plus skip-trained-steps on
restart (:156-168). This engine formalizes that as a stage protocol:

  * each stage writes its output table to ``{workdir}/{stage}/data`` as
    parquet,
  * then appends per-partition counters to ``{workdir}/_lineage`` —
    (stage, partition_id, rows_out, wall_ms, ts),
  * then atomically writes a ``_STAGE_COMPLETE`` marker.

Resume = marker probe: a killed run recomputes only the stage it died in;
completed stages are read back, so reruns are identical (outputs are pure
functions of inputs — all ids are content hashes, no
monotonically_increasing_id anywhere).
"""

from __future__ import annotations

import json
import logging
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

logger = logging.getLogger(__name__)

MARKER = "_STAGE_COMPLETE"


class StageRunner:
    """Runs named stages with checkpoint / resume / lineage.

    ``fingerprint`` guards resume against stale checkpoints: it is stored in
    each stage's ``_STAGE_COMPLETE`` marker, and a rerun whose fingerprint
    differs (e.g. a changed PipelineConfig knob) RECOMPUTES instead of
    silently returning the old stage output. None skips the check
    (fingerprint-less markers from older runs still resume under None).
    """

    def __init__(self, spark: SparkSession, workdir: str, fingerprint: str | None = None):
        self.spark = spark
        self.workdir = workdir
        self.fingerprint = fingerprint
        os.makedirs(workdir, exist_ok=True)

    def _paths(self, stage: str) -> tuple[str, str]:
        d = os.path.join(self.workdir, stage)
        return os.path.join(d, "data"), os.path.join(d, MARKER)

    def is_complete(self, stage: str) -> bool:
        return os.path.exists(self._paths(stage)[1])

    def run(self, stage: str, fn, force: bool = False) -> DataFrame:
        """Execute ``fn() -> DataFrame`` under the checkpoint protocol.

        On resume (marker present AND fingerprint match) the stored table is
        read back instead of recomputing — the downstream DAG then starts
        from a scan, which also truncates lineage like the reference's cache
        probe (`/root/reference/run_E2E_exhaustive.py:678-685`). A
        fingerprint mismatch means the checkpoint was produced under a
        different config: recompute rather than silently serve stale output.
        """
        data_path, marker = self._paths(stage)
        if self.is_complete(stage) and not force:
            try:
                with open(marker) as f:
                    meta = json.load(f)
            except (OSError, json.JSONDecodeError):
                meta = {}
            if self.fingerprint is None or meta.get("fingerprint") == self.fingerprint:
                return self._read(data_path, meta.get("schema"))
            logger.warning(
                "stage %s: checkpoint fingerprint %r != current %r — recomputing",
                stage, meta.get("fingerprint"), self.fingerprint,
            )
            # drop the stale marker BEFORE recomputing: a kill mid-recompute
            # must not leave an old marker that a rerun under the original
            # config would mistake for a complete stage (resuming from
            # partially overwritten parquet)
            try:
                os.remove(marker)
            except OSError:
                pass
        t0 = time.monotonic()
        df = fn()
        df.write.mode("overwrite").parquet(data_path)
        # stage-internal caches (vocab/vectors in candidate_pairs, …) served
        # their purpose once the stage table is on disk — drop them so a
        # long-lived session (the driver runs dozens of queries in one) does
        # not accumulate executor-memory blocks
        self.spark.catalog.clearCache()
        wall_ms = int((time.monotonic() - t0) * 1000)
        out = self.spark.read.parquet(data_path)
        self._record_lineage(stage, out, wall_ms)
        # write-then-rename: a kill mid-write leaves a stray temp file, never
        # a truncated marker that a rerun would take for a complete stage
        tmp = f"{marker}.tmp"
        try:
            with open(tmp, "w") as f:
                json.dump(
                    {"stage": stage, "wall_ms": wall_ms, "ts": time.time(),
                     "fingerprint": self.fingerprint,
                     # stored so RESUME reads skip parquet schema inference
                     # — one Spark job per resumed stage, pure serial floor
                     # on a fully-checkpointed rerun
                     "schema": out.schema.json()},
                    f,
                )
            os.replace(tmp, marker)
        finally:
            if os.path.exists(tmp):
                os.remove(tmp)
        return out

    def _read(self, data_path: str, schema_json: str | None) -> DataFrame:
        """Resume read: explicit schema from the marker when available (zero
        inference jobs); markers from older engine versions fall back to
        schema inference."""
        if schema_json:
            try:
                from pyspark.sql.types import StructType

                schema = StructType.fromJson(json.loads(schema_json))
                return self.spark.read.schema(schema).parquet(data_path)
            except Exception:
                pass
        return self.spark.read.parquet(data_path)

    def _record_lineage(self, stage: str, df: DataFrame, wall_ms: int) -> None:
        """Per-partition row counters from the just-written parquet FOOTERS —
        pyarrow metadata reads AND the lineage append both happen driver-side
        (zero Spark jobs: the previous createDataFrame().write per stage was
        one small scheduled job of pure serial floor per stage). For a
        non-local workdir (hdfs://, s3a://) the local glob sees nothing, and
        a footer can be unreadable — either way we fall back to a Spark-side
        per-partition count + append rather than silently recording too few
        rows."""
        import datetime
        import glob as _glob
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        data_path = os.path.join(self.workdir, stage, "data")
        lineage_dir = os.path.join(self.workdir, "_lineage")
        rows = []
        for pid, part in enumerate(sorted(_glob.glob(os.path.join(data_path, "part-*")))):
            try:
                n = pq.ParquetFile(part).metadata.num_rows
            except (OSError, pa.ArrowException):
                rows = []
                break
            rows.append((stage, pid, n, wall_ms))
        if rows:
            os.makedirs(lineage_dir, exist_ok=True)
            ts = datetime.datetime.now(datetime.timezone.utc)
            schema = pa.schema([
                pa.field("stage", pa.string()),
                pa.field("partition_id", pa.int32()),
                pa.field("rows_out", pa.int64()),
                pa.field("wall_ms", pa.int64()),
                # tz-aware so the type matches Spark's TimestampType and the
                # directory stays one-schema even if an older engine version
                # appended via current_timestamp()
                pa.field("ts", pa.timestamp("us", tz="UTC")),
            ])
            table = pa.table(
                {
                    "stage": [r[0] for r in rows],
                    "partition_id": pa.array([r[1] for r in rows], pa.int32()),
                    "rows_out": pa.array([r[2] for r in rows], pa.int64()),
                    "wall_ms": pa.array([r[3] for r in rows], pa.int64()),
                    "ts": pa.array([ts] * len(rows), pa.timestamp("us", tz="UTC")),
                },
                schema=schema,
            )
            pq.write_table(
                table, os.path.join(lineage_dir, f"part-{stage}-{uuid.uuid4().hex}.parquet")
            )
            return
        lin = (
            df.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(F.count(F.lit(1)).alias("rows_out"))
            .select(
                F.lit(stage).alias("stage"),
                F.col("partition_id"),
                F.col("rows_out"),
                F.lit(wall_ms).cast("long").alias("wall_ms"),
                F.current_timestamp().alias("ts"),
            )
        )
        lin.write.mode("append").parquet(lineage_dir)

    def lineage(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.workdir, "_lineage"))
