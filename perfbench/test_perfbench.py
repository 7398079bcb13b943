"""Self-test of the benchmark at tiny size.

    python3 -m pytest perfbench/test_perfbench.py -q

Each test runs ``perfbench/run.py`` in a subprocess from the checkout
root, as the benchmark is run, with a small ``--scale``.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work", "selftest")
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def bench(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--seed", "7", "--seconds", "1",
         "--scale", "0.02", "--work-dir", WORK, *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def result(proc: subprocess.CompletedProcess) -> tuple[dict, dict]:
    """(detail line, result line) of a run's standard output."""
    lines = proc.stdout.strip().splitlines()
    assert len(lines) >= 2, proc.stderr[-3000:]
    return json.loads(lines[-2]), json.loads(lines[-1])


def assert_metrics(res: dict, specs: list[dict]) -> None:
    assert set(res["metrics"]) == {m["name"] for m in specs}
    for m in specs:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]


def test_end_to_end_metrics_printed_with_units():
    proc = bench("--workload", "turns_mixed", "--trace", "0")
    detail, res = result(proc)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 2
    assert_metrics(res, SPEC["end_to_end"])
    assert all(res["metrics"][m["name"]]["value"] > 0 for m in SPEC["end_to_end"])
    assert detail["failed_share"] == {"value": 0.0, "unit": "ratio"}
    for key in ("nproc", "local_n", "steal_pct_mean", "loadavg", "seed",
                "spark", "pyarrow", "python", "jvm_max_heap_mb"):
        assert key in detail["host"], key


def test_traced_run_prints_layers_and_writes_linked_spans():
    proc = bench("--workload", "pipeline_kg", "--trace", "1")
    detail, res = result(proc)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert_metrics(res, SPEC["per_layer"])
    m = {k: v["value"] for k, v in res["metrics"].items()}
    for name in ("link.links", "canon.components", "canon.spark_jobs",
                 "materialize.edges", "extract.rows_out", "kernels.busy_s",
                 "run_pipeline.wall_sec"):
        assert m[name] > 0, name
    assert res["correct"] and res["failed"] == 0
    # the traced replay is checked and counted as one more run
    assert res["attempted"] == len(detail["walls_s"]) + 1
    assert 0.9 <= m["trace.coverage"] <= 1.0
    # the replay does the timed call's work plus the layer counts; one
    # that left part of the call out would read well below 0
    assert m["trace.overhead_share"] > -0.1
    with open(os.path.join(ROOT, detail["trace_file"])) as f:
        spans = json.load(f)["spans"]
    ids = {s["id"] for s in spans}
    root = next(s for s in spans if s["name"] == "run")
    children = [s for s in spans if s["parent"] == root["id"]]
    assert {"sources", "extract", "link", "canon", "materialize",
            "summary"} <= {s["name"] for s in children}
    assert all(s["parent"] is None or s["parent"] in ids for s in spans)
    assert all(s["self_s"] >= -1e-6 for s in spans)


def test_planted_wrong_expectation_is_a_failed_run():
    proc = bench("--workload", "turns_mixed", "--trace", "0",
                 "--plant-wrong-expectation")
    detail, res = result(proc)
    assert proc.returncode != 0
    assert res["correct"] is False
    assert res["failed"] == res["attempted"] >= 2
    assert detail["failed_share"]["value"] == 1.0
    assert all(f["error"].startswith("OutputMismatch: triples")
               for f in detail["failures"])


def test_refuses_to_run_without_the_program():
    bare = os.path.join(ROOT, ".perfbench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(os.path.join(ROOT, "perfbench"),
                    os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    proc = bench("--workload", "turns_mixed", cwd=bare)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


if __name__ == "__main__":
    sys.exit(pytest.main([__file__, "-q"]))
