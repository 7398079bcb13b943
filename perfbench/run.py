"""The repository's benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload turns_mixed --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. It

1. generates the seeded inputs and computes the closed-form expectation
   (``gen``; DuckDB, outside the Spark path);
2. sets up ``SETUP_REPS`` times — session start, input generation and
   write, one untimed run of the workload's call as warm-up — and
   reports the median as ``setup_s``;
3. repeats the workload's end-to-end call for ``--seconds``, at least
   the workload's ``min_runs`` times, with tracing off, checking every
   run's output;
4. with ``--trace 1``, replays the call once with a span around each
   layer (``workloads``/``layers``) and reports the per-layer metrics;
   the replay's output is checked too, and it counts as one more run.
   The spans are written to ``<work-dir>/<workload>/trace-<seed>.json``.

Standard output ends with one JSON line ``{"correct", "attempted",
"failed", "metrics"}``; the line before it holds the host context, the
wall quartiles, ``failed_share`` and every failure's exception class and
message. Everything the run writes stays under ``--work-dir``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOAD_NAMES = ("turns_mixed", "pipeline_kg")
END_TO_END_UNITS = {
    "wall_s": "s",
    "triples_per_s": "triples/s",
    "cpu_s_per_mtriple": "s",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}
DRIVER_MEM = "2g"
# set-ups per process; ``setup_s`` is their median
SETUP_REPS = 3


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="corpus size factor (the self-test uses a small one)")
    ap.add_argument("--work-dir", default=os.path.join(ROOT, ".perfbench_work"))
    ap.add_argument("--plant-wrong-expectation", action="store_true",
                    help="add one to the expected triple count, so every "
                         "run must be reported as failed")
    return ap.parse_args(argv)


def program_missing() -> str | None:
    for rel in ("semargl_spark/__init__.py", "jobs/run_pipeline.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            return rel
    return None


def isolate(work: str) -> None:
    """Keep every file Spark, the JVM and the Python workers write
    under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # the short-lived JVM spark-submit starts to build the driver command
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def start_session(cores: int, work: str):
    from semargl_spark.spark_util import tuned_session

    spark = tuned_session(
        parallelism=cores, app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM (and with it the Python workers),
    and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def quartiles(xs: list[float]) -> list[float]:
    if len(xs) < 2:
        return [xs[0]] * 3
    q = statistics.quantiles(xs, n=4)
    return [q[0], statistics.median(xs), q[2]]


def measure(spark, wl, seconds: float, jvm_pid: int) -> dict:
    """Timed runs for ``seconds``, at least ``wl.min_runs``; every run's
    output is checked, and a run that raises or fails its check counts
    as failed."""
    from perfbench import probes

    runs, failures = [], []
    attempted, deadline, last = 0, time.perf_counter() + seconds, 0.0
    # a run starts only if it is expected to end inside the window
    while attempted < wl.min_runs or time.perf_counter() + last <= deadline:
        attempted += 1
        start = time.perf_counter()
        wl.prepare(spark)
        s0, c0 = probes.cpu_ticks(), probes.tree_cpu_s(jvm_pid)
        t0 = time.perf_counter()
        try:
            out, triples = wl.iterate(spark, wl.input_dir)
            wall = time.perf_counter() - t0
            cpu = probes.tree_cpu_s(jvm_pid) - c0
            steal = probes.steal_pct(s0, probes.cpu_ticks())
            bad = wl.check(spark, out)
        except Exception as exc:  # a failed run is counted, not fatal
            error = f"{type(exc).__name__}: {exc}"[:2000]
        else:
            error = "OutputMismatch: " + "; ".join(bad) if bad else None
            if not bad:
                runs.append({"wall": wall, "cpu": cpu, "triples": triples,
                             "steal_pct": steal, "out": out})
        if error:
            failures.append({"run": attempted, "error": error})
        last = time.perf_counter() - start
    return {"runs": runs, "failures": failures, "attempted": attempted,
            "rss_mb": probes.tree_hwm_mb(jvm_pid)}


def traced_run(spark, wl, res: dict, wall: float) -> dict:
    """The traced replay, counted and checked as one more run: every
    per-layer metric (0 for a layer the workload does not call), plus
    the ``tracer`` holding the spans. ``wall`` is the untraced median."""
    from perfbench import probes
    from perfbench.workloads import PER_LAYER_UNITS

    tracer = probes.Tracer()
    layer = dict.fromkeys(PER_LAYER_UNITS, 0)
    res["attempted"] += 1
    try:
        metrics, bad = wl.trace(spark, tracer, wall)
    except Exception as exc:  # a failed run is counted, not fatal
        bad = [f"{type(exc).__name__}: {exc}"[:2000]]
    else:
        layer.update(metrics)
        bad = ["OutputMismatch: " + "; ".join(bad)] if bad else []
    for error in bad:
        res["failures"].append({"run": "trace", "error": error})
    top = next((s for s in tracer.spans if s["name"] == "run"), None)
    if top is not None:
        layer["trace.coverage"] = tracer.coverage("run")
        layer["trace.overhead_share"] = (
            (top["end"] - top["start"]) - wall) / wall
    layer["sources.input_mb"] = wl.input_mb()
    layer["tracer"] = tracer
    return layer


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = program_missing()
    if missing:
        print(f"perfbench: {missing} not found under {ROOT}; run from the "
              "root of a checkout of the program", file=sys.stderr)
        return 2
    work = os.path.join(os.path.abspath(args.work_dir), args.workload)
    isolate(work)
    sys.path.insert(0, ROOT)
    from pyspark import SparkContext

    from perfbench import probes
    from perfbench.workloads import PER_LAYER_UNITS, WORKLOADS

    cores = os.cpu_count() or 1
    wl = WORKLOADS[args.workload](args.seed, args.scale, cores,
                                  plant=int(args.plant_wrong_expectation))

    spark, setup, phases = None, [], []
    try:
        for _ in range(SETUP_REPS):
            if spark is not None:
                spark.stop()
            t = [time.perf_counter()]
            spark = start_session(cores, work)
            t.append(time.perf_counter())
            wl.generate(work)
            t.append(time.perf_counter())
            wl.warm_up(spark)
            t.append(time.perf_counter())
            setup.append(t[3] - t[0])
            phases.append({"session_s": t[1] - t[0], "generate_s": t[2] - t[1],
                           "warm_up_s": t[3] - t[2]})
        jvm_pid = SparkContext._gateway.proc.pid
        host = probes.host_context(spark, cores, args.seed, DRIVER_MEM)
        res = measure(spark, wl, args.seconds, jvm_pid)
        runs = res["runs"]
        walls = [r["wall"] for r in runs]
        layer = None
        if args.trace and runs:
            layer = traced_run(spark, wl, res, statistics.median(walls))
            if "wall_sec" in runs[0]["out"]:  # run_pipeline's own summary
                layer["run_pipeline.wall_sec"] = statistics.median(
                    r["out"]["wall_sec"] for r in runs)
            trace_file = os.path.join(work, f"trace-{args.seed}.json")
            layer.pop("tracer").dump(trace_file)
    finally:
        if spark is not None:
            stop_jvm(spark)

    steals = [r["steal_pct"] for r in runs if r["steal_pct"] is not None]
    host.update({
        "steal_pct_by_run": steals,
        "steal_pct_mean": statistics.fmean(steals) if steals else None,
        "steal_pct_max": max(steals) if steals else None,
    })
    detail = {
        "workload": args.workload, "seed": args.seed, "host": host,
        "corpus": {"docs": wl.corpus.docs, "turns_per_doc": wl.corpus.turns,
                   "doc_offset": wl.corpus.off, "format_rotation": wl.corpus.rot},
        "setup_reps_s": setup,
        "setup_phases": phases,
        "wall_s_q1_med_q3": quartiles(walls) if walls else None,
        "walls_s": walls,
        "failed_share": {"value": len(res["failures"]) / res["attempted"],
                         "unit": "ratio"},
        "failures": res["failures"],
        "peak_rss_mb_by_process": res["rss_mb"],
        # relative to the checkout root
        "trace_file": (os.path.relpath(trace_file, ROOT)
                       if layer is not None else None),
    }
    print(json.dumps(detail))
    if runs:
        e2e = {
            "wall_s": statistics.median(walls),
            "triples_per_s": statistics.median(
                r["triples"] / r["wall"] for r in runs),
            "cpu_s_per_mtriple": statistics.median(
                r["cpu"] / r["triples"] * 1e6 for r in runs),
            "peak_rss_mb": sum(res["rss_mb"].values()),
            "setup_s": statistics.median(setup),
        }
        values, units = (layer, PER_LAYER_UNITS) if args.trace else (
            e2e, END_TO_END_UNITS)
        metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}
    else:
        metrics = {}
    correct = not res["failures"]
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": len(res["failures"]), "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
