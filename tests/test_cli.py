"""run_el_job.py: the spark-submit entry point over REAL parquet inputs
(the production path — synthetic mode is covered by bench/e2e tests)."""

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_cli_real_parquet_inputs(spark, tmp_path):
    from e2e_el_spark.synth import aliases_df, entities_df, pages_df

    pages_p = str(tmp_path / "pages")
    ents_p = str(tmp_path / "ents")
    gaz_p = str(tmp_path / "gaz")
    pages_df(spark, 60, n_entities=40, seed=13, partitions=4).write.parquet(pages_p)
    entities_df(spark, 40, seed=13).write.parquet(ents_p)
    aliases_df(spark, 40, seed=13).write.parquet(gaz_p)

    env = dict(os.environ, PYTHONPATH=REPO, SPARK_GRAFT_CPUS="4",
               SPARK_GRAFT_SHUFFLE_PARTITIONS="4")
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "run_el_job.py"),
         "--pages", pages_p, "--entities", ents_p, "--gazetteer", gaz_p,
         "--workdir", str(tmp_path / "wd"), "--rerank-topk", "3"],
        capture_output=True, text=True, env=env, cwd=REPO, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    line = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")][-1]
    out = json.loads(line)
    assert out["mentions_clustered"] > 0
    assert 0 < out["clusters"] <= out["mentions_clustered"]
    # stage checkpoints exist under the workdir (resumable layout)
    assert os.path.exists(str(tmp_path / "wd" / "06_clusters" / "_STAGE_COMPLETE"))


def test_synthetic_kb_inputs_are_parquet_scans(spark, tmp_path, monkeypatch):
    """``--synthetic`` feeds run_pipeline KB tables read back from parquet
    under ``{workdir}/_inputs``: a generator frame is estimated at 8 bytes
    per input-range row, so Spark's size rule would plan the KB joins from
    a figure far below the real table."""
    from e2e_el_spark import pipeline, session

    import run_el_job

    captured = {}

    def fake_run_pipeline(spark_, pages, entities, gazetteer, workdir, cfg, **kw):
        captured.update(entities=entities, gazetteer=gazetteer)
        raise RuntimeError("captured")

    monkeypatch.setattr(pipeline, "run_pipeline", fake_run_pipeline)
    monkeypatch.setattr(session, "get_spark", lambda **kw: spark)
    workdir = str(tmp_path / "wd")
    monkeypatch.setattr(sys, "argv", [
        "run_el_job.py", "--synthetic", "10", "--n-entities", "20",
        "--workdir", workdir,
    ])
    with pytest.raises(RuntimeError, match="captured"):
        run_el_job.main()
    for name in ("entities", "gazetteer"):
        plan = captured[name]._jdf.queryExecution().optimizedPlan().toString()
        assert plan.startswith("Relation ") and " parquet" in plan, (name, plan)
        assert all(
            f.startswith(f"file://{workdir}/_inputs/") or f.startswith(f"file:{workdir}/_inputs/")
            for f in captured[name].inputFiles()
        ), captured[name].inputFiles()
