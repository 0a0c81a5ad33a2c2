"""Interleaved same-host A/B of the bloom survivor regime vs the SMJ
fallback at a >16M-key COW epoch shape (round-4 verdict item #2's "done"
bar: show the middle regime SURVIVING past the sorted-array prefilter's
16M-key driver-collect cap, where round 4's code fell back to the
full-snapshot sort-merge anti join).

Shape: a LOW-CHURN feed (update_ratio 0.10 — mostly inserts, so distinct
keys per epoch ≈ events/1.19) replayed as TWO COW epochs. Epoch 0 seeds
the snapshot; epoch 1 is the measured merge: its batch carries >16M
distinct keys — over broadcast_max_rows (2M) and over
merge_hash_prefilter_max_keys (16M), so round 4's regime ladder ends at
SMJ. The two legs differ ONLY in IngestConfig.merge_bloom_max_keys
(default 128M vs 0), shipped via BENCH_CDC_INGEST_CONF; bench.py's
epoch_plan output carries the per-epoch manifest `merge_anti` as the
"which regime actually fired" receipt.

Protocol = bench/ab.py's (mirrored leg order B S S B, fresh pinned JVM
per leg, one shared seeded feed, warmup equalized); absolute numbers on
this burst-throttled host are weather, the interleaved ratio is the
signal.

Usage:
  python bench/bloom_ab.py [--events 44000000] [--pairs 2] [--cores 8]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def pregenerate_low_churn_feed(events: int) -> str:
    """Seeded low-churn feed cached on /dev/shm (~1.19 events/key →
    a 2-epoch split puts >events/2/1.19 distinct keys in epoch 1)."""
    base = "/dev/shm" if os.access("/dev/shm", os.W_OK) else "/tmp"
    d = os.path.join(base, f"bloom_ab_feed_{events}")
    done = os.path.join(d, "_COMPLETE")
    if os.path.exists(done):
        return d
    shutil.rmtree(d, ignore_errors=True)
    from transcript_cdc.datagen import StreamSpec, write_change_feed

    churn = 1.0 + 0.10 + 0.08 + 0.01
    spec = StreamSpec(
        n_conversations=max(100, int(events / (10 * churn))),
        avg_turns=10,
        update_ratio=0.10,
        delete_ratio=0.08,
        absent_delete_ratio=0.01,
        zipf_s=1.2,
        out_of_order_fraction=0.2,
        evolution_at=0.6,
        seed=43,
        events_per_file=max(50_000, events // 16),
    )
    info = write_change_feed(spec, d)
    with open(done, "w") as f:
        f.write(json.dumps(info))
    return d


def run_leg(cores: int, feed_dir: str, variant: str) -> dict:
    # Explicit caps both ways: the regime went opt-in (default 0) after
    # this harness's own post-zstd re-run flipped the verdict.
    ing = {"merge_bloom_max_keys": 128_000_000 if variant == "bloom" else 0}
    env = dict(os.environ)
    env.update(
        {
            "SPARK_GRAFT_CPUS": str(cores),
            "BENCH_CDC_EPOCHS": "2",
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
    # the FULL result line (first JSON line) carries epoch_plan/epoch_seconds
    line = [ln for ln in out.stdout.splitlines() if ln.startswith("{")][0]
    res = json.loads(line)["cdc"]
    epoch_secs = res["epoch_seconds"]
    n = res["events"]
    return {
        "variant": variant,
        "wall_s": round(time.time() - t0, 1),
        "events": n,
        "epoch_seconds": epoch_secs,
        # the measured quantity: the >16M-key MERGE epoch (epoch 1)
        "merge_epoch_seconds": epoch_secs[1],
        "merge_epoch_events_per_sec": round((n / 2) / epoch_secs[1], 1),
        "epoch_plan": res["epoch_plan"],
        "final_rows": res["final_rows"],
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--events", type=int, default=44_000_000)
    ap.add_argument("--pairs", type=int, default=2)
    ap.add_argument("--cores", type=int, default=8)
    args = ap.parse_args()

    print("pre-generating low-churn feed ...", file=sys.stderr)
    feed = pregenerate_low_churn_feed(args.events)

    legs = []
    order: list[str] = []
    for i in range(args.pairs):
        order += ["bloom", "smj"] if i % 2 == 0 else ["smj", "bloom"]
    for variant in order:
        print(f"leg: {variant} ...", file=sys.stderr)
        legs.append(run_leg(args.cores, feed, variant))
        print(json.dumps(legs[-1]), file=sys.stderr)

    by = {"bloom": [], "smj": []}
    rows = {"bloom": set(), "smj": set()}
    for leg in legs:
        by[leg["variant"]].append(leg["merge_epoch_seconds"])
        rows[leg["variant"]].add(leg["final_rows"])
    med = {k: statistics.median(v) for k, v in by.items()}
    result = {
        "protocol": "interleaved mirrored bloom-vs-smj A/B, fresh pinned "
                    "JVM per leg, shared low-churn feed, warmup equalized",
        "events": args.events,
        "cores": args.cores,
        "pairs": args.pairs,
        "merge_epoch_keys": next(
            (p.get("keys") for leg in legs for p in leg["epoch_plan"][1:2]),
            None,
        ),
        "legs": legs,
        "summary": {
            "merge_epoch_seconds": by,
            "median": med,
            "smj_over_bloom": round(med["smj"] / med["bloom"], 3),
            # both variants must resolve to the identical final table size
            "final_rows_agree": rows["bloom"] == rows["smj"],
        },
        "timestamp": time.strftime("%Y-%m-%dT%H:%M:%S"),
    }
    print(json.dumps(result))
    with open(os.path.join(REPO, "bench", "ab_result_bloom.json"), "w") as f:
        json.dump(result, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()
