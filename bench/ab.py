"""A/B of two commits on the benchmark: paired runs, quartiles, verdicts.

Usage (from the root of a checkout; for an uncommitted tree pass
``--change $(git stash create)``):

    python3 bench/ab.py --parent REF --change REF --workloads cow_merge,stream_drain \\
        --seeds 41-50 [--claim WORKLOAD/METRIC] --out BENCH/NAME.json

Each ref is extracted with ``git archive`` into ``.bench_build/ab/<side>``.
Every run is BENCHMARK.json's ``command`` with its ``run_seconds`` and
``--trace 0``, one at a time; per seed both sides run every workload, and
the side that runs first alternates by seed so host drift favours neither.
``--out`` is rewritten after every run, so a cut A/B keeps its runs.

Per workload and end-to-end metric the summary gives each side's median,
Q1 and Q3 (``perfbench.stats``), pair wins (a seed is a pair; ties count
for neither) and a verdict, the first of these that holds:

- ``regression``: the change's median is worse by more than the ``bound``;
- ``unresolved``: the parent's ``spread`` exceeds the bound and not every
  change run beats every parent run;
- ``gain`` (``--claim`` only): the change wins >= 9/10 of the pairs, its
  median is better by more than the parent's Q3 - Q1, and it fails no
  more operations than the parent;
- ``ok``.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import shutil
import subprocess
import sys
import tarfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.stats import median, quantile, spread  # noqa: E402

SIDES = ("parent", "change")


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def _better(a: float, b: float, better: str) -> bool:
    return a < b if better == "lower" else a > b


def _stats(values: list[float]) -> dict:
    return {"n": len(values), "median": median(values), "q1": quantile(values, 0.25), "q3": quantile(values, 0.75)}


def compare(parent: dict[int, float], change: dict[int, float], better: str, bound: float,
            claimed: bool = False, failed: tuple[int, int] = (0, 0)) -> dict:
    """Compare one metric's values by seed; ``failed`` = (parent, change) failed operations and runs."""
    p, c = _stats(list(parent.values())), _stats(list(change.values()))
    parent_spread = spread(list(parent.values()))
    pairs = sorted(parent.keys() & change.keys())
    wins = {"parent": sum(_better(parent[s], change[s], better) for s in pairs),
            "change": sum(_better(change[s], parent[s], better) for s in pairs), "pairs": len(pairs)}
    gain = p["median"] - c["median"] if better == "lower" else c["median"] - p["median"]
    worse = -gain / abs(p["median"]) if p["median"] else 0.0
    every = all(_better(cv, pv, better) for cv in change.values() for pv in parent.values())
    if worse > bound:
        verdict = "regression"
    elif parent_spread > bound and not every:
        verdict = "unresolved"
    elif (claimed and pairs and 10 * wins["change"] >= 9 * len(pairs)
          and gain > p["q3"] - p["q1"] and failed[1] <= failed[0]):
        verdict = "gain"
    else:
        verdict = "ok"
    ratio = c["median"] / p["median"] if p["median"] else None
    return {"parent": p, "change": c, "wins": wins, "change_over_parent": ratio,
            "parent_spread": parent_spread, "bound": bound, "verdict": verdict}


def summarize(runs: list[dict], end_to_end: list[dict], claim: str | None = None) -> dict:
    """Per workload: run counts per side and a ``compare`` per end-to-end metric."""
    out: dict[str, dict] = {}
    for w in dict.fromkeys(r["workload"] for r in runs):
        mine = [r for r in runs if r["workload"] == w]
        counts = {}
        for side in SIDES:
            rs = [r for r in mine if r["side"] == side]
            counts[side] = {"runs": len(rs), "correct": sum(r["correct"] for r in rs),
                            "attempted": sum(r["attempted"] for r in rs), "failed": sum(r["failed"] for r in rs),
                            "exit_nonzero": sum(r["exit"] != 0 for r in rs)}
        metrics = {}
        for m in end_to_end:
            vals = {side: {r["seed"]: r["metrics"][m["name"]] for r in mine
                           if r["side"] == side and m["name"] in r["metrics"]} for side in SIDES}
            if vals["parent"] and vals["change"]:
                metrics[m["name"]] = compare(
                    vals["parent"], vals["change"], m["better"], m["bound"],
                    claimed=claim == f"{w}/{m['name']}",
                    failed=tuple(counts[side]["failed"] + counts[side]["exit_nonzero"] for side in SIDES),
                )
        out[w] = {"counts": counts, "metrics": metrics}
    return out


def _extract(sha: str, dest: str) -> None:
    shutil.rmtree(dest, ignore_errors=True)
    tar = subprocess.run(["git", "archive", sha], cwd=ROOT, capture_output=True, check=True).stdout
    with tarfile.open(fileobj=io.BytesIO(tar)) as t:
        t.extractall(dest)


def _run(bench: dict, cwd: str, workload: str, seed: int) -> dict:
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]), "--trace", "0"]
    t0 = time.time()
    try:
        proc = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)
    except subprocess.TimeoutExpired as e:
        proc = subprocess.CompletedProcess(cmd, -9, "", f"timed out after {e.timeout} s")
    run = {"wall_s": round(time.time() - t0, 1), "exit": proc.returncode,
           "correct": False, "attempted": 0, "failed": 0, "metrics": {}}
    lines = [json.loads(ln) for ln in proc.stdout.splitlines() if ln.startswith("{")]
    if proc.returncode != 0 or not lines:
        run["stderr_tail"] = proc.stderr[-2000:]
        return run
    res = lines[-1]
    run.update(correct=res["correct"], attempted=res["attempted"], failed=res["failed"],
               metrics={k: v["value"] for k, v in res["metrics"].items()})
    run["detail"] = next((ln["detail"] for ln in lines if "detail" in ln), None)
    return run


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--claim", default=None)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = args.workloads.split(",")
    unknown = set(workloads) - {w["name"] for w in bench["workloads"]}
    if unknown:
        ap.error(f"workloads not in BENCHMARK.json: {sorted(unknown)}")
    claim_w, _, claim_m = (args.claim or "").partition("/")
    if args.claim and (claim_w not in workloads or claim_m not in {m["name"] for m in bench["end_to_end"]}):
        ap.error(f"--claim is not WORKLOAD/METRIC of a run workload and an end-to-end metric: {args.claim}")
    git = ["git", "rev-parse", "--verify"]
    shas = {side: subprocess.run(git + [getattr(args, side) + "^{commit}"], cwd=ROOT, capture_output=True,
                                 text=True, check=True).stdout.strip() for side in SIDES}
    dirs = {side: os.path.join(ROOT, ".bench_build", "ab", side) for side in SIDES}
    for side in SIDES:
        _extract(shas[side], dirs[side])

    record = {
        "protocol": f"git archive per ref; {' '.join(bench['command'])} --seconds {bench['run_seconds']} "
        "--trace 0; one run at a time; first side alternates by seed",
        "parent": {"ref": args.parent, "sha": shas["parent"]},
        "change": {"ref": args.change, "sha": shas["change"]},
        "workloads": workloads, "seeds": _seeds(args.seeds), "claim": args.claim,
        "host": {"cpus": os.cpu_count(), "started": time.strftime("%Y-%m-%dT%H:%M:%S")},
        "runs": [],
    }
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    try:
        for i, seed in enumerate(record["seeds"]):
            order = SIDES if i % 2 == 0 else SIDES[::-1]
            for w in workloads:
                for side in order:
                    run = {"workload": w, "seed": seed, "side": side, "first": order[0],
                           **_run(bench, dirs[side], w, seed)}
                    record["runs"].append(run)
                    print(f"{w} seed {seed} {side}: exit {run['exit']} wall {run['wall_s']}s "
                          f"correct={run['correct']} failed={run['failed']}", file=sys.stderr, flush=True)
                    record["summary"] = summarize(record["runs"], bench["end_to_end"], args.claim)
                    with open(args.out, "w") as f:
                        json.dump(record, f, indent=1)
    finally:
        for d in dirs.values():
            shutil.rmtree(d, ignore_errors=True)
    for w, s in record["summary"].items():
        print(f"{w}: {json.dumps(s['counts'])}")
        for name, m in s["metrics"].items():
            print(f"  {name:20s} {m['parent']['median']:12.4f} -> {m['change']['median']:12.4f}  {m['verdict']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
