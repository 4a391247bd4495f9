"""Run the benchmark over several seeds and summarise run-to-run spread.

    python3 perfbench/sweep.py --workload replay_tail --seeds 1-10
    python3 perfbench/sweep.py --workload store_trickle --seeds 1-5 --overhead

For every end-to-end metric: the ten values' median and quartiles
(``statistics.quantiles(n=4)``), and the spread, the interquartile
distance as a share of the median, next to the metric's bound in
``BENCHMARK.json``. ``--overhead`` also makes a traced run per seed and
reports the traced minus untraced median of each end-to-end metric, as a
share of the untraced median (the tracing overhead).

Runs are sequential: each is a fresh process and a fresh Spark JVM.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def one(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or len(lines) < 2:
        raise SystemExit(f"seed {seed} trace {trace}: exit {out.returncode}\n{out.stderr[-3000:]}")
    return json.loads(lines[-2]), json.loads(lines[-1])


def summary(values: list[float], bound: float) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    spread = (q3 - q1) / q2
    return {"median": q2, "q1": q1, "q3": q3, "spread": spread, "bound": bound,
            "below_third_of_bound": spread < bound / 3}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--overhead", action="store_true")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = bench["run_seconds"]
    e2e = {m["name"]: m for m in bench["end_to_end"]}

    plain, traced = [], []
    for s in seeds(args.seeds):
        report, result = one(args.workload, s, seconds, 0)
        plain.append(report)
        print(json.dumps({"seed": s, "wall_s": round(report["wall_s"], 1),
                          "correct": result["correct"],
                          "steal_pct": round(report["window_cpu_steal_pct"], 1),
                          **{k: round(v["value"], 4) for k, v in result["metrics"].items()}}),
              flush=True)
        if args.overhead:
            traced.append(one(args.workload, s, seconds, 1)[0])

    out = {}
    for name, m in e2e.items():
        vals = [r["metrics"][name] for r in plain]
        out[name] = summary(vals, m["bound"])
        if traced:
            base = statistics.median(vals)
            out[name]["trace_overhead"] = (
                statistics.median(r["metrics"][name] for r in traced) - base
            ) / base
    walls = [r["wall_s"] for r in plain]
    print(json.dumps({"workload": args.workload, "runs": len(plain),
                      "wall_s_median": statistics.median(walls), "wall_s_max": max(walls),
                      "metrics": out}, indent=1))


if __name__ == "__main__":
    main()
