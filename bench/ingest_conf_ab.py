"""Generic interleaved same-host A/B of two IngestConfig variants on one
shared seeded feed (the IngestConfig twin of bench/conf_ab.py's spark-conf
A/B; bench/bloom_ab.py is the shape-specific ancestor).

Each leg runs `BENCH_REPLAY_ONLY=1 python bench.py` in a fresh pinned
subprocess with the variant shipped via BENCH_CDC_INGEST_CONF; legs are
mirrored (A B B A ...) so host drift cancels in the pairwise ratios.
Per-epoch manifest `merge_anti`/`dedup`/`control` ride the output as the
which-plan-actually-ran receipt.

Built to answer (round-5): did the zstd codec flips reverse the HASH
prefilter regime's 1.57-1.59x win over full-SMJ (measured on lz4,
bench/ab_result_hash_prefilter.json) the way they reversed the bloom
regime's? Shape: the standard scaling feed (16M events, 8M x 2 epochs,
~5.9M distinct keys per epoch — over broadcast_max_rows, under the 16M
hash cap).

Usage:
  python bench/ingest_conf_ab.py \
      --name-a hash --conf-a '{}' \
      --name-b smj  --conf-b '{"merge_hash_prefilter_max_keys": 0}' \
      [--events 16000000] [--pairs 2] [--cores 8] [--epochs 2] \
      [--out bench/ab_result_hash_zstd.json]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "bench"))


def run_leg(
    cores: int, feed_dir: str, name: str, ing: dict, epochs: int
) -> dict:
    env = dict(os.environ)
    env.update(
        {
            "SPARK_GRAFT_CPUS": str(cores),
            "BENCH_CDC_EPOCHS": str(epochs),
            "BENCH_CDC_MODES": "cow",
            "BENCH_REPLAY_ONLY": "1",
            "BENCH_SKIP_EQUALITY": "1",
            "BENCH_FEED_DIR": feed_dir,
            "BENCH_CDC_INGEST_CONF": json.dumps(ing),
            "SPARK_DRIVER_MEMORY": os.environ.get("SPARK_DRIVER_MEMORY", "48g"),
        }
    )
    cpuset = set(range(cores))

    def _pin():
        os.sched_setaffinity(0, cpuset)

    t0 = time.time()
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        cwd=REPO, env=env, capture_output=True, text=True, check=True,
        preexec_fn=_pin,
    )
    # the FULL record is the LONGEST stdout JSON line (bench.py also
    # prints a compact trailing summary)
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
    res = json.loads(max(lines, key=len))["cdc"]
    return {
        "variant": name,
        "wall_s": round(time.time() - t0, 1),
        "events": res["events"],
        "epoch_seconds": res["epoch_seconds"],
        "sustained_events_per_sec": res["sustained_events_per_sec"],
        "epoch_plan": res["epoch_plan"],
        "final_rows": res["final_rows"],
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--name-a", default="a")
    ap.add_argument("--conf-a", default="{}")
    ap.add_argument("--name-b", default="b")
    ap.add_argument("--conf-b", default="{}")
    ap.add_argument("--events", type=int, default=16_000_000)
    ap.add_argument("--pairs", type=int, default=2)
    ap.add_argument("--cores", type=int, default=8)
    ap.add_argument("--epochs", type=int, default=2)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    from scaling import pregenerate_feed

    print("pre-generating feed ...", file=sys.stderr)
    feed = pregenerate_feed(args.events)

    variants = {
        args.name_a: json.loads(args.conf_a),
        args.name_b: json.loads(args.conf_b),
    }
    order: list[str] = []
    for i in range(args.pairs):
        pair = [args.name_a, args.name_b]
        order += pair if i % 2 == 0 else pair[::-1]
    legs = []
    for name in order:
        print(f"leg: {name} ...", file=sys.stderr)
        legs.append(run_leg(args.cores, feed, name, variants[name], args.epochs))
        print(json.dumps(legs[-1]), file=sys.stderr)

    by: dict[str, list] = {args.name_a: [], args.name_b: []}
    rows: dict[str, set] = {args.name_a: set(), args.name_b: set()}
    for leg in legs:
        by[leg["variant"]].append(leg["sustained_events_per_sec"])
        rows[leg["variant"]].add(leg["final_rows"])
    med = {k: statistics.median(v) for k, v in by.items()}
    result = {
        "protocol": "interleaved mirrored IngestConfig A/B, fresh pinned "
                    "JVM per leg, shared seeded feed, warmup equalized",
        "events": args.events,
        "cores": args.cores,
        "pairs": args.pairs,
        "epochs": args.epochs,
        "variants": {k: variants[k] for k in variants},
        "legs": legs,
        "summary": {
            "sustained_events_per_sec": by,
            "median": med,
            f"{args.name_a}_over_{args.name_b}": round(
                med[args.name_a] / med[args.name_b], 3
            ),
            "final_rows_agree": rows[args.name_a] == rows[args.name_b],
        },
        "timestamp": time.strftime("%Y-%m-%dT%H:%M:%S"),
    }
    print(json.dumps(result))
    if args.out:
        with open(args.out, "w") as f:
            json.dump(result, f, indent=1)
            f.write("\n")


if __name__ == "__main__":
    main()
