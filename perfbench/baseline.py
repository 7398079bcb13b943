"""Run the benchmark on several seeds per workload and summarise it.

    python3 perfbench/baseline.py --seeds 1-10 --out perfbench/baseline_4c.json

Runs ``perfbench/run.py`` once per (workload, seed) with tracing off,
one after another from the checkout root, then once per workload with
``--trace 1`` on the first seed. It writes every run's two output lines
plus, per workload and end-to-end metric, the median, the quartiles and
the spread (quartile distance ÷ median) next to the metric's bound, and
the traced run's per-layer metrics. It prints the summary as a table.
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


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_one(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    rec = {"workload": workload, "seed": seed, "trace": trace,
           "returncode": proc.returncode,
           "elapsed_s": time.perf_counter() - t0}
    lines = proc.stdout.strip().splitlines()
    if len(lines) >= 2:
        rec["detail"], rec["result"] = (json.loads(x) for x in lines[-2:])
    else:
        rec["stderr_tail"] = proc.stderr[-3000:]
    return rec


def summarise(records: list[dict], spec: dict) -> dict:
    out = {}
    for w in {r["workload"] for r in records}:
        recs = [r for r in records if r["workload"] == w and "result" in r]
        row = {"runs": len(recs),
               "correct": all(r["result"]["correct"] for r in recs),
               "elapsed_s_max": max(r["elapsed_s"] for r in recs)}
        for m in spec["end_to_end"]:
            xs = [r["result"]["metrics"][m["name"]]["value"] for r in recs]
            if len(xs) < 2:
                continue
            q1, med, q3 = statistics.quantiles(xs, n=4)
            row[m["name"]] = {
                "unit": m["unit"], "median": med, "q1": q1, "q3": q3,
                "spread": (q3 - q1) / med, "bound": m["bound"],
            }
        out[w] = row
    return out


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", nargs="*",
                    default=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    todo = [(w, s, 0) for s in seeds(args.seeds) for w in args.workloads]
    todo += [(w, seeds(args.seeds)[0], 1) for w in args.workloads]
    records = []
    for w, seed, trace in todo:
        rec = run_one(w, seed, spec["run_seconds"], trace)
        records.append(rec)
        print(json.dumps({k: rec[k] for k in ("workload", "seed", "trace",
                                              "returncode", "elapsed_s")}),
              flush=True)
    untraced = [r for r in records if r["trace"] == 0]
    summary = summarise(untraced, spec)
    for r in records:
        if r["trace"] == 1 and "result" in r:
            summary[r["workload"]]["per_layer"] = {
                k: v["value"] for k, v in r["result"]["metrics"].items()}
    with open(args.out, "w") as f:
        json.dump({"summary": summary, "records": records}, f, indent=1)
    for w, row in summary.items():
        print(f"{w}: runs={row['runs']} correct={row['correct']}")
        for name, m in row.items():
            if isinstance(m, dict) and "median" in m:
                print(f"  {name:20s} median {m['median']:.4g} {m['unit']}"
                      f"  q1 {m['q1']:.4g}  q3 {m['q3']:.4g}"
                      f"  spread {m['spread']:.3f} (bound {m['bound']})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
