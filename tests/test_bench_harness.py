"""bench.py scaling campaign bookkeeping (no Spark: workers are stubbed)."""

import bench


def test_run_scaling_records_failed_trials(monkeypatch):
    """A worker that printed no RESULT is recorded with its stderr tail,
    not dropped; the successful trials still summarize as before."""
    calls = []

    def fake_run(cpus, pages, mult, ents):
        calls.append(cpus)
        if len(calls) == 2:  # trial 0, second level
            return {"error": "Traceback ...\nOutOfMemoryError"}
        return {"best_wall_s": 10.0 / cpus, "walls_s": [10.0 / cpus],
                "stage_walls_s": {"02_mentions": 1.0 / cpus}, "clusters": 7}

    monkeypatch.setattr(bench, "_one_scaling_run", fake_run)
    monkeypatch.setattr(bench, "_ceiling_probe_once", lambda: (1.0, 1.0, 1.0))
    res = bench.run_scaling([2, 8], pages=100, mult=1, ents=10, trials=2)

    assert res["failed_trials"] == [
        {"level": 8, "trial": 0, "stderr_tail": "Traceback ...\nOutOfMemoryError"}
    ]
    assert res["n2"]["walls_s"] == [5.0, 5.0]
    assert res["n8"]["walls_s"] == [1.25]
    assert res["n8"]["clusters"] == 7
    assert res["scaling_efficiency"] == 1.0
    assert bench.compact_throughput(res)["failed_trials"] == 1
