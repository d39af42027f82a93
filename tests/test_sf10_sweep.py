"""scripts/sf10_sweep.py must always write its artifact: a full sweep
reaches the summary after the adjudication pass, and an adjudicator
subprocess that hangs is killed and recorded, not waited on forever.
Spark, the registry and the subprocess runner are stubbed."""

import importlib.util
import json
import os
import subprocess
import sys

import pytest

from tests.conftest import REPO_ROOT


@pytest.fixture
def sweep(monkeypatch):
    spec = importlib.util.spec_from_file_location(
        "sf10_sweep", os.path.join(REPO_ROOT, "scripts", "sf10_sweep.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    class _Catalog:
        def clearCache(self):
            pass

    class _Session:
        catalog = _Catalog()

        def stop(self):
            pass

    from spark_binlog_spark import registry

    monkeypatch.setattr(registry, "queries", lambda: {"q_slow": None, "q_fast": None})
    monkeypatch.setattr(mod, "_make_session", lambda: _Session())
    monkeypatch.setattr(mod, "_wait_quiet", lambda *a, **k: None)
    timings = {"q_slow": 30.0, "q_fast": 1.0}
    monkeypatch.setattr(
        mod, "_run_one",
        lambda spark, name, fn, watchdog: {"status": "ok", "sec": timings[name], "err": None},
    )
    monkeypatch.delenv("SPARK_GRAFT_SWEEP_ADJ_FLOOR", raising=False)
    return mod


def _run_main(mod, monkeypatch, out_path):
    monkeypatch.setattr(sys, "argv", ["sf10_sweep.py", str(out_path), "5"])
    mod.main()
    with open(out_path) as f:
        return json.load(f)


class TestSweepArtifact:
    def test_full_sweep_writes_artifact_after_adjudication(self, sweep, monkeypatch, tmp_path):
        calls = []

        def runner(cmd, **kwargs):
            calls.append((cmd, kwargs))
            line = json.dumps({"name": cmd[-2], "status": "ok", "sec": 12.5, "sec_cold": 20.0})
            return subprocess.CompletedProcess(cmd, 0, stdout=line + "\n", stderr="")

        monkeypatch.setattr(subprocess, "run", runner)
        summary = _run_main(sweep, monkeypatch, tmp_path / "sweep.json")
        assert [c[0][-2] for c in calls] == ["q_slow"]  # only entries above the floor
        assert calls[0][1].get("timeout")  # the adjudicator is bounded
        assert summary["adjudicate_floor_sec"] == 10.0
        assert summary["counts"]["ok"] == 2
        assert summary["adjudicated"] == {
            "q_slow": {"in_sweep": 30.0, "fresh": 12.5, "fresh_cold": 20.0}
        }

    def test_hung_adjudicator_becomes_watchdog_record(self, sweep, monkeypatch, tmp_path):
        def runner(cmd, **kwargs):
            raise subprocess.TimeoutExpired(cmd, kwargs.get("timeout"))

        monkeypatch.setattr(subprocess, "run", runner)
        summary = _run_main(sweep, monkeypatch, tmp_path / "sweep.json")
        slow = summary["results"]["q_slow"]
        assert slow["fresh_status"] == "WATCHDOG" and slow["sec_fresh"] is None
        assert summary["adjudicated"]["q_slow"]["fresh"] is None
