"""A run in which an operation raises still prints its result line: the
failure is counted in ``failed`` and the metric that operation feeds is
reported as null. No Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE)]

import run  # noqa: E402

OPS = ("ingest", "ingest", "compact", "delete", "scan", "lookup", "range",
       "export")


def _fake_setup(self):
    self.spark = None
    self.setup_net_s = 1.5
    self.in_bytes = 1_000_000


def _pipeline_failing(failing: str):
    """Every operation of the real sequence through ``Bench.op``; the one
    named ``failing`` raises."""
    def pipeline(self):
        def ok():
            return {}

        def boom():
            raise RuntimeError(f"forced failure of {failing}")
        self.ingest_bytes = 0
        for name in OPS:
            out = self.op(name, boom if name == failing else ok)
            if name == "ingest" and out is not None:
                self.ingest_bytes += 500_000
        self.facts.update(stored_bytes=250_000, export_bytes=150_000)
    return pipeline


def _run(monkeypatch, capsys, tmp_path, failing: str) -> dict:
    (tmp_path / "cpp_parquet_spark").mkdir()
    monkeypatch.setattr(run, "ROOT", str(tmp_path))
    monkeypatch.setattr(run, "_configure_env", lambda run_dir, traced: None)
    monkeypatch.setattr(run, "_shutdown", lambda spark: None)
    monkeypatch.setattr(run.Bench, "setup", _fake_setup)
    monkeypatch.setattr(run.Bench, "pipeline", _pipeline_failing(failing))
    monkeypatch.setattr(sys, "path", list(sys.path))
    assert run.main(["--workload", "event_log", "--seed", "1",
                     "--seconds", "20", "--trace", "0"]) == 0
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def test_single_call_operation_failure_is_reported(monkeypatch, capsys,
                                                   tmp_path):
    res = _run(monkeypatch, capsys, tmp_path, "compact")
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert (res["attempted"], res["failed"]) == (len(OPS), 1)
    assert res["correct"] is True
    m = res["metrics"]
    assert m["compact_s"]["value"] is None
    for k in ("setup_s", "ingest_mbps", "stored_ratio", "delete_p50_s",
              "scan_mbps", "lookup_p50_s", "range_p50_s", "export_mbps",
              "parquet_ratio"):
        assert m[k]["value"] is not None and m[k]["value"] > 0, k


def test_export_failure_nulls_its_metrics(monkeypatch, capsys, tmp_path):
    res = _run(monkeypatch, capsys, tmp_path, "export")
    assert res["failed"] == 1
    assert res["metrics"]["export_mbps"]["value"] is None
    assert res["metrics"]["parquet_ratio"]["value"] is None


def test_failed_appends_null_the_ingest_rate(monkeypatch, capsys, tmp_path):
    # OPS holds two appends and the forced failure hits both
    res = _run(monkeypatch, capsys, tmp_path, "ingest")
    assert res["failed"] == 2
    assert res["metrics"]["ingest_mbps"]["value"] is None
