"""transcript-cdc benchmark: one workload, one seed, one JSON result line.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload cow_merge --seed 1 --seconds 16 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
workload with Spark's event log and in-memory spans on and prints the
per-layer metrics instead (plus the traced run's own end-to-end figures
under ``traced.*``, so tracing overhead = traced minus untraced).
``--size tiny`` shrinks every size for the self-test.

Before the result, one ``detail`` line records the run: the manifest labels
of every timed epoch (control path, survivor anti-join regime, dedup
strategy, salt), harness times (feed generation, oracle), sample counts,
sizes, master, codecs and scratch location. The last line of stdout is
``{"correct", "attempted", "failed", "metrics"}``.

Everything the run writes — feed, table, checkpoints, Spark scratch, JVM
temp files, event log — lives under ``.bench_build/perfbench/`` in the
checkout and is removed at exit (spans of traced runs are kept there).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

END_TO_END_UNITS = {
    "setup_s": "s",
    "events_per_s": "events/s",
    "scan_rows_per_s": "rows/s",
    "point_read_ms_p50": "ms",
    "table_bytes_per_row": "B",
    "write_amp": "ratio",
}

PER_LAYER_UNITS = {
    "session.start_s": "s",
    "session.jvm_peak_rss_mb": "MB",
    "changes.read_range_ms": "ms",
    "changes.scan_bytes": "B/epoch",
    "changes.scan_rows": "rows/epoch",
    "dedup.shuffle_bytes": "B/epoch",
    "dedup.spill_bytes": "B/epoch",
    "normalize.python_rows": "rows/epoch",
    "normalize.python_s": "s/epoch",
    "normalize.arrow_bytes": "B/epoch",
    "ingest.epoch_s_p50": "s",
    "ingest.control_s": "s/epoch",
    "ingest.driver_gap_s": "s/epoch",
    "ingest.jobs_per_epoch": "jobs/epoch",
    "ingest.task_cpu_s": "s/epoch",
    "ingest.gc_s": "s/epoch",
    "merge.prefilter_build_s": "s/epoch",
    "merge.snapshot_scans": "scans/epoch",
    "merge.snapshot_scan_bytes": "B/epoch",
    "merge.probe_python_s": "s/epoch",
    "merge.smj_shuffle_bytes": "B/epoch",
    "rangewrite.shuffle_bytes": "B/epoch",
    "rangewrite.partition_skew": "ratio",
    "lake.write_s": "s/epoch",
    "lake.commit_s": "s/epoch",
    "lake.output_bytes": "B/epoch",
    "lake.files_written": "files/epoch",
    "lake.bucket_of_ms": "ms",
    "lake.files_for_key_ms": "ms",
    "lake.point_read_files": "files",
    "stream.batch_s_p50": "s",
    "stream.jobs_per_batch": "jobs/batch",
    "stream.sample_jobs": "jobs/batch",
    "stream.normalize_rows": "rows/batch",
    "traced.events_per_s": "events/s",
    "traced.scan_rows_per_s": "rows/s",
    "traced.point_read_ms_p50": "ms",
    # p90 of 100 reads rests on the 10 slowest, which host contention bursts
    # decide: it moved 25-31% between ten-seed sets, so it is reported here
    # (and in every run's detail line) rather than gated end to end
    "traced.point_read_ms_p90": "ms",
}


def end_to_end(rec: dict) -> dict[str, float]:
    from perfbench.stats import median, quantile

    rows = rec["engine_row_count"]
    reads = rec["read_ms"] or [float("nan")]
    return {
        "setup_s": rec["setup_s"],
        "events_per_s": rec["events"] / rec["ingest_s"],
        # median scan wall: robust to the odd scan that meets a GC pause
        "scan_rows_per_s": rows / median(rec["scan_s"]) if rec["scan_s"] else 0.0,
        "point_read_ms_p50": quantile(reads, 0.5),
        "point_read_ms_p90": quantile(reads, 0.9),
        "table_bytes_per_row": rec["snapshot_bytes"] / max(1, rows),
        "write_amp": rec["bytes_written"] / max(1, rec["feed_bytes"]),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)

    # The engine is built from this checkout's source, never an installed copy.
    if not os.path.isfile(os.path.join(ROOT, "transcript_cdc", "__init__.py")):
        print(f"perfbench: no transcript_cdc package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[0] = ROOT  # import perfbench as a package, not its modules by bare name
    from perfbench import workloads

    w = workloads.WORKLOADS.get(args.workload)
    if w is None:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    if args.size == "tiny":
        w = workloads.tiny(w)

    base = os.path.join(ROOT, ".bench_build", "perfbench")
    work = os.path.join(base, f"{w.name}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # Python, Spark and the JVM write scratch only inside the checkout.
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "local")
    os.environ.pop("SPARK_GRAFT_EXTRA_CONF", None)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    try:
        rec = workloads.run(w, args.seed, args.seconds, bool(args.trace), work)
        if args.trace:
            shutil.copy(os.path.join(work, "spans.json"), os.path.join(base, f"spans-{w.name}-{args.seed}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e = end_to_end(rec)
    failed = rec["failed"] + (0 if rec["correct"] else rec["n_epochs"])
    detail = {
        "workload": w.name,
        "seed": args.seed,
        "trace": args.trace,
        "size": args.size,
        "correct": rec["correct"],
        "receipts": rec["receipts"],
        "timed_epochs": rec["n_epochs"],
        "epoch_events": w.epoch_events,
        "backfill_events": w.backfill_epochs * w.epoch_events,
        "events_timed": rec["events"],
        "events_generated": rec["events_generated"],
        "ingest_s": rec["ingest_s"],
        "epoch_s": rec["epoch_s"],
        "scans": len(rec["scan_s"]),
        "reads": len(rec["read_ms"]),
        "live_rows": rec["engine_row_count"],
        "ingest_conf": w.ingest_conf,
        "master": workloads.MASTER,
        "codecs": {"shuffle": "zstd", "parquet": "zstd"},
        "scratch": ".bench_build/perfbench (in the checkout)",
        "harness_s": {"feed_gen": rec["gen_s"], "oracle_check": rec["oracle_s"]},
        "setup_s": {"total": rec["setup_s"], "session": rec["session_s"]},
        "end_to_end": e2e,
    }
    print(json.dumps({"detail": detail}))
    if args.trace:
        layers = dict(rec["layers"])
        layers["traced.events_per_s"] = e2e["events_per_s"]
        layers["traced.scan_rows_per_s"] = e2e["scan_rows_per_s"]
        layers["traced.point_read_ms_p50"] = e2e["point_read_ms_p50"]
        layers["traced.point_read_ms_p90"] = e2e["point_read_ms_p90"]
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END_UNITS.items()}
    print(
        json.dumps(
            {
                "correct": bool(rec["correct"]),
                "attempted": int(rec["attempted"]),
                "failed": int(failed),
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
