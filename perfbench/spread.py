"""Repeat the benchmark over seeds and report each metric's median and spread.

Usage (from the root of a checkout):

    python3 perfbench/spread.py --workload cow_merge --seeds 1-10 [--trace 0]

Runs ``perfbench/run.py`` once per seed, one run at a time, with
``run_seconds`` from BENCHMARK.json, and prints per metric the median, the
spread ((Q3 - Q1) / median, as ``statistics.quantiles(n=4)`` gives the
quartiles), the bound, and whether the spread is under a third of it. Raw
results are appended to ``.bench_build/perfbench/spread.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[0] = ROOT

from perfbench.stats import median, spread  # noqa: E402


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"] + bench["per_layer"]}
    out_path = os.path.join(ROOT, ".bench_build", "perfbench", "spread.jsonl")
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    values: dict[str, list[float]] = {}
    walls = []
    for seed in _seeds(args.seeds):
        cmd = bench["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace),
        ]
        t0 = time.time()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
        walls.append(time.time() - t0)
        if proc.returncode != 0:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
            return 1
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        with open(out_path, "a") as f:
            f.write(json.dumps({"workload": args.workload, "seed": seed, "wall_s": walls[-1], **res}) + "\n")
        print(
            f"seed {seed}: wall {walls[-1]:.1f}s correct={res['correct']} "
            f"attempted={res['attempted']} failed={res['failed']}",
            flush=True,
        )
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    print(f"wall median {median(walls):.1f}s max {max(walls):.1f}s")
    for k, vs in values.items():
        b = bounds.get(k)
        sp = spread(vs)
        flag = "" if b is None else ("ok" if sp < b / 3 else "WIDE")
        print(f"{k:32s} median {median(vs):14.4f}  spread {sp:.4f}  bound {b}  {flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
