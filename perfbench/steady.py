"""Steadiness check: how much each metric moves between runs of one commit.

    python3 perfbench/steady.py

Run from the repository root. For every workload in BENCHMARK.json:

- SEEDS untraced runs (seeds 1..10). For each end-to-end metric it
  records the ten values, their median, and the spread: the distance
  between the first and third quartile (``statistics.quantiles(n=4)``)
  as a share of the median -- the statistic the bounds apply to.
- two sets of TRACED traced runs (seeds 1..3 each). For each call site
  it records the coefficient of variation (stdev / mean over all traced
  runs) of wall_s, cpu_s and jobs, and each set's median, so the
  steadier signal is chosen by measurement.
- the tracing overhead: median traced pass time over median untraced
  run_s, on the same seeds.

The summary goes to perfbench/STEADINESS.json. The raw records of this
invocation are written to ``.perfbench/steady-raw.jsonl`` as they arrive
(the file is started afresh each time), for inspection.
"""

from __future__ import annotations

import json
import os
import platform
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
RAW = os.path.join(".perfbench", "steady-raw.jsonl")
OUT = os.path.join(HERE, "STEADINESS.json")
SEEDS = 10  # untraced runs per workload
TRACED = 3  # traced runs per set; two sets


def one_run(workload: str, seed: int, trace: int, seconds: int) -> dict:
    t = time.time()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, timeout=900,
    )
    rec = {"workload": workload, "seed": seed, "trace": trace, "exit": p.returncode,
           "wall": time.time() - t}
    if p.returncode == 0:
        rec["result"] = json.loads(p.stdout.strip().splitlines()[-1])
    else:
        rec["stderr"] = p.stderr[-2000:]
    return rec


def spread(values: list[float]) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0,
            "values": values}


def cv(values: list[float]) -> float:
    mean = statistics.fmean(values)
    return statistics.stdev(values) / mean if len(values) > 1 and mean else 0.0


def summarize(records: list[dict], spec: dict) -> dict:
    out = {"machine": {"cores": len(os.sched_getaffinity(0)), "cpu": platform.processor() or platform.machine()},
           "workloads": {}}
    for w in (x["name"] for x in spec["workloads"]):
        untraced = [r for r in records if r["workload"] == w and r["trace"] == 0 and r["exit"] == 0]
        traced = [r for r in records if r["workload"] == w and r["trace"] == 1 and r["exit"] == 0]
        entry = {
            "runs": len(untraced),
            "failed_ops": sum(r["result"]["failed"] for r in untraced + traced),
            "run_wall_s": spread([r["wall"] for r in untraced]) if len(untraced) > 1 else None,
            "end_to_end": {},
            "per_layer_cv": {},
        }
        if len(untraced) > 1:
            for m in spec["end_to_end"]:
                entry["end_to_end"][m["name"]] = spread(
                    [r["result"]["metrics"][m["name"]]["value"] for r in untraced])
        if len(traced) > 1:
            half = len(traced) // 2
            sets = (traced[:half], traced[half:])
            val = lambda r, k: r["result"]["metrics"][k]["value"]
            sites = sorted({k.rsplit(".", 1)[0] for k in traced[0]["result"]["metrics"] if k.endswith(".jobs")})
            for site in sites:
                if not any(val(r, f"{site}.jobs") for r in traced):
                    continue
                entry["per_layer_cv"][site] = {
                    c: {"cv": cv([val(r, f"{site}.{c}") for r in traced]),
                        "set_medians": [statistics.median(val(r, f"{site}.{c}") for r in s) for s in sets]}
                    for c in ("wall_s", "cpu_s", "jobs")
                }
            # share of the traced pass spent in each layer's call sites,
            # and each site's busy fraction (medians over traced runs)
            layers = sorted({site.split(".")[0] for site in sites})
            entry["layer_share"] = {
                layer: statistics.median(
                    sum(val(r, f"{site}.wall_s") for site in sites if site.split(".")[0] == layer)
                    / val(r, "bench.traced_run_s") for r in traced)
                for layer in layers
            }
            entry["busy_frac"] = {
                site: statistics.median(val(r, f"{site}.busy_frac") for r in traced)
                for site in entry["per_layer_cv"]
            }
            seeds = {r["seed"] for r in traced}
            base = [val(r, "run_s") for r in untraced if r["seed"] in seeds]
            if base:
                entry["trace_overhead_frac"] = (
                    statistics.median(val(r, "bench.traced_run_s") for r in traced) / statistics.median(base) - 1.0)
        out["workloads"][w] = entry
    return out


def main() -> int:
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    plan = [(w, s, 0) for w in names for s in range(1, SEEDS + 1)]
    plan += [(w, s, 1) for _ in range(2) for w in names for s in range(1, TRACED + 1)]
    os.makedirs(".perfbench", exist_ok=True)
    records = []
    with open(RAW, "w") as raw:
        for w, s, trace in plan:
            rec = one_run(w, s, trace, spec["run_seconds"])
            records.append(rec)
            raw.write(json.dumps(rec) + "\n")
            raw.flush()
            print(f"{w} seed {s} trace {trace}: exit {rec['exit']} wall {rec['wall']:.1f}s", flush=True)
    summary = summarize(records, spec)
    with open(OUT, "w") as f:
        json.dump(summary, f, indent=1)
    for w, e in summary["workloads"].items():
        for m, s in e["end_to_end"].items():
            print(f"{w:18s} {m:13s} median {s['median']:12.4f} spread {s['spread']:.4f}")
        if "trace_overhead_frac" in e:
            print(f"{w:18s} tracing overhead {e['trace_overhead_frac']:+.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
