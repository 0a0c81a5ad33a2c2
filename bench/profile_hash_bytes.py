"""Deterministic BYTE receipt for the hash-prefilter-vs-SMJ survivor
regime at the standard scaling shape (16M events, 8M x 2 epochs, ~5.9M
keys/epoch — the shape every round-5 scaling window ran with
merge_anti=hash).

Wall-clock A/Bs at this shape are weather-dominated
(bench/ab_result_hash_zstd.json: pairwise replay walls 0.85 / 1.00 — the
lz4-era 1.57x hash win, ab_result_hash_prefilter.json, does NOT survive
the zstd codec flip), so the regime-default decision rests on the
event-log byte/CPU/spill counters, which are identical run to run.

Usage: python bench/profile_hash_bytes.py [--events 16000000] [--cores 8]
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "bench"))

from profile_epoch import parse_eventlog, run_replay  # noqa: E402
from scaling import pregenerate_feed  # noqa: E402

VARIANTS = {
    "hash": {},  # shipped default: 5.9M keys fire the hash prefilter
    "smj": {"merge_hash_prefilter_max_keys": 0},
}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--events", type=int, default=16_000_000)
    ap.add_argument("--cores", type=int, default=8)
    args = ap.parse_args()

    print("pre-generating feed ...", file=sys.stderr)
    feed = pregenerate_feed(args.events)

    out = {"events": args.events, "cores": args.cores, "variants": {}}
    for name, ing in VARIANTS.items():
        log_dir = f"/dev/shm/hash_bytes_log_{name}"
        shutil.rmtree(log_dir, ignore_errors=True)
        print(f"replay: {name} ...", file=sys.stderr)
        r = run_replay(args.cores, feed, "cow", log_dir, ingest_conf=ing)
        logs = sorted(
            glob.glob(os.path.join(log_dir, "*")), key=os.path.getmtime
        )
        agg = parse_eventlog(logs[-1])
        out["variants"][name] = {
            "wall_s": round(r["wall"], 1),
            "task_cpu_s": round(agg["task_cpu"] / 1000, 1),
            "shuffle_bytes_written_mb": round(
                agg["shuffle_bytes_written"] / 1e6, 1
            ),
            "shuffle_bytes_read_mb": round(agg["shuffle_bytes_read"] / 1e6, 1),
            "input_bytes_mb": round(agg["input_bytes"] / 1e6, 1),
            "output_bytes_mb": round(agg["output_bytes"] / 1e6, 1),
            "spill_mb": round(
                (agg["mem_spilled"] + agg["disk_spilled"]) / 1e6, 1
            ),
            "n_tasks": agg["n_tasks"],
        }
        print(json.dumps({name: out["variants"][name]}), file=sys.stderr)

    h, s = out["variants"]["hash"], out["variants"]["smj"]
    out["summary"] = {
        "shuffle_bytes_hash_over_smj": round(
            (h["shuffle_bytes_written_mb"] or 1)
            / (s["shuffle_bytes_written_mb"] or 1), 3
        ),
        "input_bytes_hash_over_smj": round(
            (h["input_bytes_mb"] or 1) / (s["input_bytes_mb"] or 1), 3
        ),
        "cpu_hash_over_smj": round(h["task_cpu_s"] / s["task_cpu_s"], 3),
        "spill_mb": {"hash": h["spill_mb"], "smj": s["spill_mb"]},
    }
    print(json.dumps(out))
    with open(
        os.path.join(REPO, "bench", "profile_hash_bytes.json"), "w"
    ) as f:
        json.dump(out, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()
