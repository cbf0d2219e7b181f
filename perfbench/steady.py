"""Steadiness check: run each workload once per seed, one run at a time, and
print the median, quartiles and spread (quartile distance over median) of
every metric.

    python3 perfbench/steady.py --seeds 1-10 [--workloads batch_sql,...]
        [--seconds 10] [--trace 0] [--save perfbench/results/set1.json]

Run from the checkout root. Seeds are a range ``a-b`` or a comma list.
Quartiles are ``statistics.quantiles(values, n=4)``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec: str) -> list[int]:
    if "-" in spec:
        a, b = spec.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(s) for s in spec.split(",")]


def summarize(values: list[float]) -> dict[str, float]:
    med = statistics.median(values)
    if len(values) >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
    else:
        q1 = q3 = med
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0}


def main() -> int:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--save", default=None)
    args = ap.parse_args()
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}

    report: dict[str, dict] = {}
    for wl in args.workloads.split(","):
        runs = []
        for seed in seeds(args.seeds):
            t = time.perf_counter()
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                 "--seed", str(seed), "--seconds", str(args.seconds),
                 "--trace", str(args.trace)],
                capture_output=True, text=True,
            )
            wall = time.perf_counter() - t
            lines = proc.stdout.strip().splitlines()
            if proc.returncode or not lines:
                print(f"{wl} seed {seed}: exit {proc.returncode}\n{proc.stderr[-3000:]}",
                      file=sys.stderr)
                return 1
            res = json.loads(lines[-1])
            res["seed"], res["wall_s"] = seed, wall
            timings = next((json.loads(ln).get("timings", {}) for ln in lines
                            if ln.startswith('{"record": "run"')), {})
            res["timings"] = timings
            runs.append(res)
            print(f"{wl} seed {seed}: {wall:.1f} s "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                  file=sys.stderr, flush=True)
        metrics = {
            name: summarize([r["metrics"][name]["value"] for r in runs])
            for name in runs[0]["metrics"]
        }
        for name in runs[0]["timings"]:
            if name not in metrics:
                metrics[name] = summarize([r["timings"][name] for r in runs])
        metrics["run_wall_s"] = summarize([r["wall_s"] for r in runs])
        report[wl] = {"runs": runs, "metrics": metrics,
                      "failed_share": [r["failed"] / r["attempted"] for r in runs]}
        print(f"\n{wl} ({len(runs)} runs)")
        for name, s in metrics.items():
            b = bounds.get(name)
            flag = "" if b is None else f"  bound {b}" + (" OK" if s["spread"] < b / 3 else " WIDE")
            print(f"  {name:28s} median {s['median']:12.4f}  q1 {s['q1']:12.4f}  "
                  f"q3 {s['q3']:12.4f}  spread {s['spread']:.3f}{flag}")
    if args.save:
        os.makedirs(os.path.dirname(os.path.abspath(args.save)), exist_ok=True)
        with open(args.save, "w") as f:
            json.dump(report, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
