"""Interleaved same-host A/B of a Spark conf override vs defaults on the
CDC replay (round-5 verdict item #3: "attack bytes, not shuffles" — e.g.
`spark.io.compression.codec=zstd` vs the lz4 default on the COW merge's
range-clustering exchange, the survivors' full-payload shuffle).

Protocol = bench/ab.py's (mirrored leg order, fresh pinned JVM per leg,
one shared seeded feed, warmup equalized); the legs differ ONLY in
SPARK_GRAFT_EXTRA_CONF (transcript_cdc/session.py applies it last).
Absolute numbers on this burst-throttled host are weather; the
interleaved ratio is the signal.

Usage:
  python bench/conf_ab.py --conf "spark.io.compression.codec=zstd" \
      [--events 8000000] [--pairs 2] [--cores 8] [--modes cow] [--epochs 2]
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

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from scaling import pregenerate_feed  # noqa: E402  (same seeded feed)


def run_leg(cores: int, feed_dir: str, modes: str, epochs: int,
            extra_conf: str) -> dict:
    env = dict(os.environ)
    env.update(
        {
            "SPARK_GRAFT_CPUS": str(cores),
            "BENCH_CDC_EPOCHS": str(epochs),
            "BENCH_CDC_MODES": modes,
            "BENCH_REPLAY_ONLY": "1",
            "BENCH_SKIP_EQUALITY": "1",
            "BENCH_FEED_DIR": feed_dir,
            "SPARK_GRAFT_EXTRA_CONF": extra_conf,
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
    line = [ln for ln in out.stdout.splitlines() if ln.startswith("{")][0]
    parsed = json.loads(line)
    # bench.py keys: "cdc" = cow leg, "cdc_mor" = mor leg
    leg = {"conf": extra_conf or "(defaults)",
           "wall_s": round(time.time() - t0, 1)}
    for m, key in (("cow", "cdc"), ("mor", "cdc_mor")):
        if m in modes.split(",") and parsed.get(key):
            r = parsed[key]
            leg["events"] = r["events"]
            leg[m] = {
                "sustained_events_per_sec": r["sustained_events_per_sec"],
                "events_per_sec": r["events_per_sec"],
                "seconds": r["seconds"],
            }
    return leg


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--conf", required=True,
                    help="';'-separated k=v Spark conf overrides for the B legs")
    ap.add_argument("--events", type=int, default=8_000_000)
    ap.add_argument("--pairs", type=int, default=2)
    ap.add_argument("--cores", type=int, default=8)
    ap.add_argument("--modes", default="cow")
    ap.add_argument("--epochs", type=int, default=2)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    print("pre-generating feed ...", file=sys.stderr)
    feed = pregenerate_feed(args.events)

    legs = []
    order: list[str] = []
    for i in range(args.pairs):
        order += ["base", "conf"] if i % 2 == 0 else ["conf", "base"]
    for variant in order:
        print(f"leg: {variant} ...", file=sys.stderr)
        legs.append(
            run_leg(args.cores, feed, args.modes, args.epochs,
                    args.conf if variant == "conf" else "")
        )
        legs[-1]["variant"] = variant
        print(json.dumps(legs[-1]), file=sys.stderr)

    summary = {}
    for m in args.modes.split(","):
        by = {"base": [], "conf": []}
        for leg in legs:
            by[leg["variant"]].append(leg[m]["sustained_events_per_sec"])
        med = {k: statistics.median(v) for k, v in by.items()}
        summary[m] = {
            "base_sustained_eps": by["base"],
            "conf_sustained_eps": by["conf"],
            "conf_over_base_median": round(med["conf"] / med["base"], 3),
        }
    result = {
        "protocol": "interleaved mirrored conf A/B, fresh pinned JVM per "
                    "leg, shared seeded feed, warmup equalized",
        "conf": args.conf,
        "events": args.events,
        "cores": args.cores,
        "epochs": args.epochs,
        "pairs": args.pairs,
        "legs": legs,
        "summary": summary,
        "timestamp": time.strftime("%Y-%m-%dT%H:%M:%S"),
    }
    print(json.dumps(result))
    out = args.out or os.path.join(REPO, "bench", "ab_result_conf.json")
    with open(out, "w") as f:
        json.dump(result, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()
