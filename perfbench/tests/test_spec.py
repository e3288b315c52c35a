"""BENCHMARK.json agrees with what the benchmark reports."""

import json
import os

import report
import workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def test_keys():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert SPEC["paths"] == ["perfbench"]
    assert {w["name"] for w in SPEC["workloads"]} == set(workloads_names())
    names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
    assert len(names) == len(set(names))
    setup = [m for m in SPEC["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["bound"] == max(m["bound"] for m in SPEC["end_to_end"])


def workloads_names():
    import run

    return run.WORKLOADS


def test_per_layer_matches_report():
    assert [(m["name"], m["unit"], m["better"]) for m in SPEC["per_layer"]] == [
        (k, u, b) for k, (u, b) in report.PER_LAYER.items()
    ]


def test_end_to_end_matches_workloads():
    run = workloads.Run(workload="queries", seed=1, turns=10, text_bytes=100, build_s=1.0,
                        save_s=1.0, setup_s=5.0, window_s=2.0, store_bytes=50,
                        ops=[workloads.Op("index.query.match", 0.5, query={"kind": "match", "text": "a"})])
    e2e = workloads.end_to_end(run)
    assert [(m["name"], m["unit"]) for m in SPEC["end_to_end"]] == [(k, u) for k, (_, u) in e2e.items()]
    assert all(v > 0 for v, _ in e2e.values())
