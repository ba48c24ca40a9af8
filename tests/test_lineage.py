"""StageRunner checkpoint protocol: atomic marker, loud lineage."""

import os

from e2e_el_spark.lineage import MARKER, StageRunner


def test_stage_marker_is_atomic(spark, tmp_workdir, monkeypatch):
    """A crash while writing _STAGE_COMPLETE must not leave a truncated
    marker behind: a rerun would take the stage for complete."""
    from e2e_el_spark import lineage

    real_dump = lineage.json.dump

    def torn_dump(obj, f, *args, **kwargs):
        f.write('{"stage": "s1", "wall')
        raise OSError("disk full")

    runner = StageRunner(spark, tmp_workdir, fingerprint="fp")
    monkeypatch.setattr(lineage.json, "dump", torn_dump)
    try:
        runner.run("s1", lambda: spark.range(10))
    except OSError:
        pass
    else:
        raise AssertionError("the torn marker write did not raise")
    stage_dir = os.path.join(tmp_workdir, "s1")
    assert not os.path.exists(os.path.join(stage_dir, MARKER))
    assert not runner.is_complete("s1")
    assert sorted(os.listdir(stage_dir)) == ["data"]
    # the rerun recomputes and completes normally
    monkeypatch.setattr(lineage.json, "dump", real_dump)
    assert runner.run("s1", lambda: spark.range(10)).count() == 10
    assert runner.is_complete("s1")


def test_lineage_counts_all_rows_when_a_footer_is_unreadable(
    spark, tmp_workdir, monkeypatch
):
    """An unreadable part footer switches lineage to the Spark-side count
    instead of skipping the part and recording too few rows."""
    import pyarrow.parquet as pq

    real = pq.ParquetFile
    seen = []

    def flaky(path, *args, **kwargs):
        seen.append(path)
        if len(seen) == 2:
            raise OSError("unreadable footer")
        return real(path, *args, **kwargs)

    monkeypatch.setattr(pq, "ParquetFile", flaky)
    runner = StageRunner(spark, tmp_workdir)
    runner.run("s1", lambda: spark.range(0, 1000, numPartitions=4))
    assert len(seen) >= 2  # the failure really hit a part file
    lin = runner.lineage().filter("stage = 's1'")
    assert lin.agg({"rows_out": "sum"}).collect()[0][0] == 1000
