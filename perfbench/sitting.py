"""Run the benchmark over several seeds and summarize each end-to-end
metric by its median and quartiles — a sitting, the unit later comparisons
use.

    python3 perfbench/sitting.py --workloads fresh_update,stream_dedup \\
        --seeds 1-10 --out .perfbench_work/sitting.json

Runs are sequential, each in its own process, from the checkout root, with
``--seconds`` set to ``run_seconds`` from ``BENCHMARK.json``; ``--trace 1``
makes a sitting of traced runs, summarizing the per-layer metrics. The
summary gives, per workload and metric, the median, the quartiles
(``statistics.quantiles(values, n=4)``) and the spread (interquartile
range ÷ median), plus every run's raw result.
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


def seed_list(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def summarize(values: list[float]) -> dict:
    med = statistics.median(values)
    out = {"n": len(values), "median": med}
    if len(values) >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
        out.update(q1=q1, q3=q3, spread=(q3 - q1) / med if med else None)
    return out


def run_one(workload: str, seed: int, seconds: str, trace: int) -> dict:
    t = time.perf_counter()
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", seconds, "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = p.stdout.strip().splitlines()
    rec = {"workload": workload, "seed": seed, "rc": p.returncode,
           "wall_s": time.perf_counter() - t}
    try:
        rec["result"] = json.loads(lines[-1])
        rec["context"] = json.loads(lines[-2]) if len(lines) > 1 else None
    except (IndexError, ValueError):
        rec["result"] = None
        rec["stderr_tail"] = p.stderr[-2000:]
    return rec


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        seconds = str(json.load(f)["run_seconds"])

    runs, summary = [], {}
    for w in args.workloads.split(","):
        values: dict[str, list[float]] = {}
        for seed in seed_list(args.seeds):
            rec = run_one(w, seed, seconds, args.trace)
            runs.append(rec)
            res = rec["result"] or {}
            print(json.dumps({"workload": w, "seed": seed, "rc": rec["rc"],
                              "wall_s": round(rec["wall_s"], 1),
                              "correct": res.get("correct")}), flush=True)
            for name, m in (res.get("metrics") or {}).items():
                values.setdefault(name, []).append(m["value"])
        summary[w] = {name: summarize(v) for name, v in values.items()}
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump({"summary": summary, "runs": runs}, f, indent=1)
    print(json.dumps(summary, indent=1))
    return 0 if all(r["rc"] == 0 and r["result"] for r in runs) else 1


if __name__ == "__main__":
    sys.exit(main())
