"""BENCHMARK.json lists exactly what the benchmark prints."""

from __future__ import annotations

import json
import os

import harness
import layers

SPEC = os.path.join(harness.ROOT, "BENCHMARK.json")


def _spec():
    with open(SPEC) as fh:
        return json.load(fh)


def test_keys_and_command():
    spec = _spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert spec["command"] == ["python3", "perfbench/run.py"]
    assert spec["paths"] == ["perfbench"]
    assert [w["name"] for w in spec["workloads"]] == ["tms_ingest", "lake_dml", "analytics"]


def test_per_layer_matches_the_tracer_report():
    spec = _spec()
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == layers.metric_names()


def test_end_to_end_matches_the_run_report():
    run = harness.Run(0, 1.0, "")
    run.setup = {"session": 1.0}
    run.passes = [(2.0, 3.0, False)]
    run.ops = [harness.Op("write", "w", 1.0, 2.0, 10, True), harness.Op("read", "r", 0.5, 1.0, 0, True)]
    got = run.end_to_end(table_bytes=2**20)
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == {k: u for k, (_, u) in got.items()}
    assert got["rows_per_cpu_s"][0] == 5.0
    assert got["run_cpu_s"][0] == 3.0
    assert got["write_cpu_s"][0] == 2.0
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"][0]
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
