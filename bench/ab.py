"""Interleaved same-host A/B of two code versions on one shared feed.

Absolute bench numbers on this host are NOT decision-grade: the VM is
burst-credit throttled and identical runs vary 1.5-4x minutes apart
(BENCH/BASELINE.md). The round-2 judge adjudicated an apparent 3-5x
cross-round "regression" by hand with an interleaved A/B — r2 code was
actually ~35% faster — and asked for the protocol to be scripted
(round-2 verdict, next-round item 5). This is that script.

Protocol (everything the hand-run did):
  - ONE pre-generated seeded feed (datagen is hash-pinned across rounds,
    so either version generating it is byte-equivalent);
  - legs interleaved in mirrored order (A B B A ...) so slow host drift
    cancels instead of biasing one side;
  - each leg is a FRESH subprocess `python bench.py` (fresh JVM) with
    BENCH_REPLAY_ONLY=1 BENCH_SKIP_EQUALITY=1, pinned via
    sched_setaffinity to --cores CPUs (a local[N] JVM otherwise spills
    onto extra host cores);
  - warmup equalized: both versions' bench.py runs its own warmup pass
    before the timed epochs;
  - a Spark-free pinned ALU probe brackets the legs for host context
    (it reads healthy even when Spark walls are inflated — see
    BENCH/BASELINE.md — so it contextualizes, never corrects).

Output: one JSON line on stdout AND bench/ab_result.json; bench.py embeds
that file under an "ab" key so the driver-recorded BENCH_r{N}.json carries
the decision-grade comparison next to the (host-weather) absolute numbers.

Usage:
  python bench/ab.py [--ref <git-ref>] [--events 2000000] [--pairs 2]
                     [--cores 8] [--modes cow,mor]
--ref defaults to the newest commit whose message starts with "round"
(the driver's round-boundary commit convention).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "bench"))

from scaling import hw_probe, pregenerate_feed  # noqa: E402


def _git(*args: str, cwd: str = REPO) -> str:
    return subprocess.run(
        ["git", *args], cwd=cwd, capture_output=True, text=True, check=True
    ).stdout.strip()


def default_ref() -> str:
    """Newest commit whose SUBJECT line starts with 'round ' — the driver
    commits one per round boundary, so this is the previous round's code.
    (git --grep matches body lines too, which misfires on commits that
    merely mention a round — filter subjects explicitly.)"""
    for line in _git("log", "--format=%H %s").splitlines():
        sha, _, subject = line.partition(" ")
        if subject.startswith("round "):
            return sha
    return _git("rev-parse", "HEAD~1")


def run_leg(repo_dir: str, cores: int, events: int, feed_dir: str,
            modes: str, epochs: int) -> dict:
    env = dict(os.environ)
    env.update(
        {
            "SPARK_GRAFT_CPUS": str(cores),
            "BENCH_CDC_EVENTS": str(events),
            "BENCH_CDC_EPOCHS": str(epochs),
            "BENCH_CDC_MODES": modes,
            "BENCH_REPLAY_ONLY": "1",
            "BENCH_SKIP_EQUALITY": "1",
            "BENCH_FEED_DIR": feed_dir,
            "SPARK_DRIVER_MEMORY": os.environ.get("SPARK_DRIVER_MEMORY", "48g"),
        }
    )
    cpuset = set(range(cores))

    def _pin():
        os.sched_setaffinity(0, cpuset)

    t0 = time.time()
    out = subprocess.run(
        [sys.executable, os.path.join(repo_dir, "bench.py")],
        cwd=repo_dir, env=env, capture_output=True, text=True, check=True,
        preexec_fn=_pin,
    )
    # longest JSON line = the full record (head's bench.py also prints a
    # compact trailing summary; ref legs may print only the full record)
    line = max(
        (ln for ln in out.stdout.splitlines() if ln.startswith("{")), key=len
    )
    res = json.loads(line)
    leg = {"wall_s": round(time.time() - t0, 1)}
    for mode_key, out_key in (("cdc", "cow"), ("cdc_mor", "mor")):
        m = res.get(mode_key)
        if m:
            leg[out_key] = {
                "sustained_events_per_sec": m.get("sustained_events_per_sec"),
                "events_per_sec": m.get("events_per_sec"),
                "seconds": m.get("seconds"),
            }
    return leg


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--ref", default=None, help="baseline git ref (default: last 'round' commit)")
    ap.add_argument("--events", type=int, default=2_000_000)
    ap.add_argument("--pairs", type=int, default=2, help="number of mirrored A/B pairs")
    ap.add_argument("--cores", type=int, default=8)
    ap.add_argument("--modes", default="cow,mor")
    ap.add_argument("--epochs", type=int, default=4)
    ap.add_argument(
        "--out",
        default=os.path.join(REPO, "bench", "ab_result.json"),
        help="result path (default bench/ab_result.json — the file bench.py "
        "embeds; point experiment A/Bs elsewhere so the headline record "
        "is not clobbered)",
    )
    args = ap.parse_args()

    ref = args.ref or default_ref()
    ref_sha = _git("rev-parse", ref)
    head_sha = _git("rev-parse", "HEAD")
    if ref_sha == head_sha:
        print(json.dumps({"error": "ref == HEAD; nothing to compare"}))
        return

    feed_dir = pregenerate_feed(args.events)
    wt = tempfile.mkdtemp(prefix="ab_ref_")
    shutil.rmtree(wt)  # git worktree add wants a nonexistent path
    _git("worktree", "add", "--detach", wt, ref_sha)
    try:
        probe_before = hw_probe([args.cores], dur=10.0)[args.cores]
        # mirrored interleave: ref, head, head, ref, ref, head, ...
        order: list[tuple[str, str]] = []
        for i in range(args.pairs):
            pair = [("ref", wt), ("head", REPO)]
            order += pair if i % 2 == 0 else pair[::-1]
        legs = []
        for name, repo_dir in order:
            leg = run_leg(repo_dir, args.cores, args.events, feed_dir,
                          args.modes, args.epochs)
            leg["code"] = name
            legs.append(leg)
            print(json.dumps({"leg": leg}), file=sys.stderr)
        probe_after = hw_probe([args.cores], dur=10.0)[args.cores]

        summary: dict = {}
        for mode in args.modes.split(","):
            by = {"ref": [], "head": []}
            for leg in legs:
                v = (leg.get(mode) or {}).get("sustained_events_per_sec")
                if v:
                    by[leg["code"]].append(v)
            if by["ref"] and by["head"]:
                summary[mode] = {
                    "ref_sustained_eps": by["ref"],
                    "head_sustained_eps": by["head"],
                    "head_over_ref_median": round(
                        statistics.median(by["head"]) / statistics.median(by["ref"]), 3
                    ),
                }
        result = {
            "protocol": "interleaved mirrored A/B, fresh pinned JVM per leg, shared seeded feed, warmup equalized",
            "ref": ref_sha, "head": head_sha,
            "events": args.events, "cores": args.cores,
            "epochs": args.epochs, "pairs": args.pairs,
            "alu_probe_mops": {"before": probe_before, "after": probe_after},
            "legs": legs,
            "summary": summary,
            "timestamp": time.strftime("%Y-%m-%dT%H:%M:%S"),
        }
        with open(args.out, "w") as f:
            json.dump(result, f, indent=1)
        print(json.dumps(result))
    finally:
        subprocess.run(["git", "worktree", "remove", "--force", wt],
                       cwd=REPO, capture_output=True)


if __name__ == "__main__":
    main()
