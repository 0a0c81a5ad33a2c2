"""Benchmark: CDC replay throughput (headline) + query suite timings.

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {...per-query sec...}, "sf": <sf>,
   "cdc": {events, seconds, events_per_sec, equality_pass, ...},   # COW MERGE
   "cdc_mor": {...same for merge-on-read delta-append storage...}}

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32),
     BENCH_CDC_EVENTS (default scaled from sf),
     BENCH_REPLAY_ONLY=1 → skip the query suite (used by bench/scaling.py).

The headline metric mirrors BASELINE.json: change-events/sec sustained
upsert throughput with a final-state equality pass against the dict oracle.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Sandbox measurement: root disk writes at ~8 MB/s, so shuffle scratch goes
# to tmpfs here. Library default is plain disk (tmpfs is opt-in, session.py).
os.environ.setdefault("SPARK_GRAFT_TMPFS", "1")


def run_cdc_replay(spark, n_events_target: int, epochs: int = 4, modes=("cow", "mor")) -> dict:
    """Replay the same seeded feed in each storage mode; equality-check each.

    cow = per-epoch MERGE + touched-bucket rewrite (read-optimized);
    mor = per-epoch delta append + LWW fold at read (write-optimized,
    Iceberg-v2 upsert shape). The feed and the dict oracle are built once.

    Env: BENCH_FEED_DIR reuses a pre-generated feed across trials (the
    stream is seed-deterministic, so any run with the same event count gets
    identical input); BENCH_SKIP_EQUALITY=1 skips the oracle replay +
    equality pass (used by bench/scaling.py trials, where equality is
    already evidenced by the headline bench and the test suite).
    """
    from transcript_cdc.datagen import (
        StreamSpec,
        generate_events,
        replay_oracle_fast,
        write_change_feed,
    )
    from transcript_cdc.plans.ingest import CdcIngestJob, IngestConfig

    # Feed + table live on fast scratch: the sandbox root disk writes at
    # ~8 MB/s (throttled), which would turn a compute benchmark into a disk
    # benchmark; a real cluster's per-node NVMe scales with executor count.
    base = os.environ.get("BENCH_WORK_DIR")
    if base is None and os.access("/dev/shm", os.W_OK):
        base = "/dev/shm"
    work = tempfile.mkdtemp(prefix="cdc_bench_", dir=base)
    skip_eq = os.environ.get("BENCH_SKIP_EQUALITY") == "1"
    feed_cache = os.environ.get("BENCH_FEED_DIR")
    feed_dir = feed_cache or os.path.join(work, "feed")
    try:
        # ~1.44 events/insert at these ratios → back out conversations
        n_conv = max(100, int(n_events_target / (10 * 1.44)))
        spec = StreamSpec(
            n_conversations=n_conv, avg_turns=10, update_ratio=0.35,
            delete_ratio=0.08, absent_delete_ratio=0.01, zipf_s=1.2,
            out_of_order_fraction=0.2, evolution_at=0.6, seed=42,
            events_per_file=max(50_000, n_events_target // 16),
        )
        t_gen = time.time()
        if feed_cache and os.path.isdir(feed_dir) and os.listdir(feed_dir):
            import glob as _g

            import pyarrow.parquet as _pq

            n = sum(
                _pq.read_metadata(f).num_rows
                for f in _g.glob(os.path.join(feed_dir, "*.parquet"))
            )
        else:
            info = write_change_feed(spec, feed_dir)
            n = info["n_events"]
        gen_s = time.time() - t_gen

        shuffle_p = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
        out: dict = {}
        # One-time JVM/codegen/Arrow-python-worker warmup: a miniature
        # replay through the same code paths (window dedup, merge/append,
        # Arrow normalizer, parquet write) per storage mode, so the timed
        # epochs measure the engine and not first-call compilation. A
        # 10^10-event deployment pays this constant once; without it epoch
        # 0 carries ~3x the steady-state wall (see sustained_events_per_sec,
        # which excludes epoch 0 for the same reason).
        if os.environ.get("BENCH_SKIP_WARMUP") != "1":
            warm_feed = os.path.join(work, "warm_feed")
            write_change_feed(
                StreamSpec(n_conversations=60, seed=7, events_per_file=500),
                warm_feed,
            )
            for mode in modes:
                CdcIngestJob(
                    spark, warm_feed, os.path.join(work, f"warm_{mode}"),
                    IngestConfig(n_buckets=4, epoch_events=10**9, storage=mode),
                ).run()
        # Timed replays run back-to-back FIRST; the oracle build and the
        # equality passes are deferred until after both modes. The oracle
        # and the Arrow compares are harness work, not engine work — on a
        # burstable host, running them between the timed sections drains
        # the CPU budget that the second mode's timing then pays for.
        timed: dict[str, tuple] = {}
        for mode in modes:
            cfg = IngestConfig(
                n_buckets=32,
                epoch_events=max(1, n // epochs + 1),
                write_partitions=shuffle_p,
                storage=mode,
            )
            table_root = os.path.join(work, f"table_{mode}")
            t0 = time.time()
            job = CdcIngestJob(spark, feed_dir, table_root, cfg)
            results = job.run()
            timed[mode] = (job, results, time.time() - t0)

        t_orc = time.time()
        # replay_oracle_fast ≡ the naive dict replay (frame-equality pinned
        # in tests/test_datagen_fast.py); the dict replay at this scale cost
        # ~42s of bench wall for zero extra evidence.
        orc = None if skip_eq else replay_oracle_fast(generate_events(spec), normalize=True)
        orc_s = time.time() - t_orc

        for mode in modes:
            job, results, replay_s = timed[mode]

            # final-state equality pass (north_rule): engine vs dict oracle.
            # Arrow end-to-end (DataFrame.toArrow + C++ sort/compare) — the
            # pandas round trip + Python list compares cost several seconds
            # of bench wall at 1.4M rows for identical evidence.
            t_eq = time.time()
            if skip_eq:
                eq, n_rows = None, int(job.final_state().count())
            else:
                import pyarrow as pa
                import pyarrow.compute as pc

                # columns= threads the projection into the MOR fold's
                # parquet reads (mapInArrow is opaque to Catalyst)
                eng = job.final_state(columns=["conv_id", "turn_idx", "text"]).toArrow()
                eng = eng.take(
                    pc.sort_indices(
                        eng,
                        sort_keys=[("conv_id", "ascending"), ("turn_idx", "ascending")],
                    )
                )
                n_rows = eng.num_rows

                def _col_eq(name, pa_type, sentinel):
                    want = pa.array(orc[name], type=pa_type)
                    got = eng[name].combine_chunks().cast(pa_type)
                    if len(got) != len(want):
                        return False
                    if len(got) == 0:
                        return True
                    # null masks must match exactly (pc.all skips nulls, so
                    # values are compared null-filled with a sentinel)
                    if not pc.all(
                        pc.equal(pc.is_null(got), pc.is_null(want))
                    ).as_py():
                        return False
                    return bool(
                        pc.all(
                            pc.equal(
                                pc.fill_null(got, sentinel),
                                pc.fill_null(want, sentinel),
                            )
                        ).as_py()
                    )

                eq = n_rows == len(orc) and all(
                    _col_eq(*spec)
                    for spec in [
                        ("conv_id", pa.string(), "\x00<null>"),
                        ("turn_idx", pa.int32(), -(2**31)),
                        ("text", pa.string(), "\x00<null>"),
                    ]
                )
            eq_s = time.time() - t_eq
            secs = [r.get("seconds") for r in results]
            # Sustained throughput: excludes epoch 0, which historically
            # carried one-time JVM/codegen/Arrow-worker warmup (now mostly
            # absorbed by the explicit warmup pass above, but epoch 0 still
            # pays first-touch costs like feed footer reads); a 10^10-event
            # deployment amortizes it to nothing. Epoch event counts are
            # equal by construction (fixed LSN windows).
            sustained = None
            if len(secs) > 1 and all(isinstance(s, (int, float)) for s in secs):
                ev_per_epoch = n / len(secs)
                sustained = round(ev_per_epoch * (len(secs) - 1) / sum(secs[1:]), 1)
            out[mode] = {
                "events": n,
                "epochs": len(results),
                "seconds": round(replay_s, 3),
                "events_per_sec": round(n / replay_s, 1),
                "sustained_events_per_sec": sustained,
                "equality_pass": None if eq is None else bool(eq),
                "final_rows": n_rows,
                "equality_check_seconds": round(eq_s, 3),
                # per-epoch wall: flat ⇒ epoch cost tracks batch size, not
                # table size (the file-granular COW / delta-append claim)
                "epoch_seconds": [r.get("seconds") for r in results],
                # per-epoch plan evidence straight from the manifests (which
                # survivor regime / control path / dedup strategy actually
                # fired — the config A/Bs' "regime survived" receipt)
                "epoch_plan": [
                    {
                        k: m.get(k)
                        for k in ("merge_anti", "control", "dedup", "keys")
                        if m.get(k) is not None
                    }
                    for r in results
                    if r.get("epoch") is not None
                    for m in [
                        job.table.read_manifest(r["epoch"]).get("metrics", {})
                    ]
                ],
            }
        out["gen_seconds"] = round(gen_s, 3)
        out["oracle_seconds"] = round(orc_s, 3)
        return out
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    replay_only = os.environ.get("BENCH_REPLAY_ONLY") == "1"
    n_events = int(os.environ.get("BENCH_CDC_EVENTS", int(2_000_000 * sf / 0.1)))
    n_epochs = int(os.environ.get("BENCH_CDC_EPOCHS", "4"))

    from transcript_cdc.session import get_spark

    # SPARK_GRAFT_MASTER overrides the thread-local master — used by the
    # scaling harness to run true multi-executor topologies
    # (local-cluster[N,cores,mem]) where each executor is its own JVM.
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    spark = get_spark("bench", master=master, shuffle_partitions=int(cpus))
    spark.sparkContext.setLogLevel("ERROR")

    modes = tuple(
        m for m in os.environ.get("BENCH_CDC_MODES", "cow,mor").split(",") if m
    )
    total0 = time.time()
    res = run_cdc_replay(spark, n_events, epochs=n_epochs, modes=modes)
    # "cdc" is STRICTLY the cow replay and "cdc_mor" strictly mor — when a
    # mode wasn't run its slot is None. (A BENCH_CDC_MODES=mor run used to
    # fall back to cdc=mor, and bench/scaling.py then recorded MOR numbers
    # under COW labels — silently corrupting the scaling evidence file.)
    cdc = res.get("cow")
    if cdc is not None:
        cdc = dict(cdc, gen_seconds=res["gen_seconds"], oracle_seconds=res["oracle_seconds"])
    cdc_mor = res.get("mor")

    queries: dict[str, float] = {}
    if not replay_only:
        import __spark_entry__ as entrymod

        headline = [
            "lww_dedup_events",
            "merge_upsert_events",
            "commit_metrics_lineitem",
            "join_orders_nation",
            "daily_counts_events",
            "embed_topk",
            "normalize_documents",
            "lexical_topk_documents",
            "hybrid_search_documents",
            "minhash_near_dup_documents",
            "asof_join_events",
        ]
        qmap = entrymod.queries()
        for name in headline:
            t0 = time.time()
            df = qmap[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            queries[name] = round(time.time() - t0, 3)

    total = round(time.time() - total0, 3)
    out = {
        "metric": "cdc-replay+queries wall time (headline: cdc.events_per_sec)",
        "value": total,
        "unit": "sec",
        "queries": queries,
        "sf": sf,
        "cdc": cdc,
        "cdc_mor": cdc_mor,
        "modes": list(modes),
        "cpus": int(cpus),
    }
    if cdc is None:
        out["gen_seconds"] = res["gen_seconds"]
        out["oracle_seconds"] = res["oracle_seconds"]
    # Cross-round A/B receipt (bench/ab_result.json, written by
    # `bench/ab.py --out bench/ab_result.json`; other A/Bs land in
    # BENCH/*.json). Embedded so the driver-recorded BENCH_r{N}.json
    # carries it next to the absolute numbers.
    ab_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "bench", "ab_result.json")
    if os.path.exists(ab_path):
        try:
            with open(ab_path) as f:
                out["ab"] = json.load(f)
        except (OSError, json.JSONDecodeError):
            pass
    # Durability (round-3 verdict #4): the driver's BENCH_r{N}.json keeps a
    # stdout tail that has been truncated mid-JSON before, losing the
    # per-query table. Persist the full result to a file as well — but only
    # for the headline configuration: scaling/ab harness legs run with
    # BENCH_REPLAY_ONLY=1 and would otherwise clobber the headline artifact
    # with a partial replay-only record.
    if not replay_only:
        dur = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH", "last_run.json"
        )
        try:
            os.makedirs(os.path.dirname(dur), exist_ok=True)
            with open(dur, "w") as f:
                json.dump(out, f, indent=1)
                f.write("\n")
        except OSError:
            pass  # a read-only checkout must not fail the bench
    # The driver records only a fixed-size stdout TAIL: a full result line
    # (~4 KB with the embedded per-leg A/B) gets its HEAD truncated and
    # BENCH_r{N}.json lands with "parsed": null (rounds 3 and 4). Print the
    # full record first (humans / grep), then a COMPACT summary as the
    # FINAL line — small enough to always survive the tail window — with
    # "full" pointing at the durable BENCH/last_run.json artifact.
    print(json.dumps(out))

    def _mode_summary(d):
        if d is None:
            return None
        return {
            k: d[k]
            for k in (
                # "events"/"epochs"/"epoch_seconds" stay in the compact
                # record because the scaling harness reads
                # whichever JSON line survives — dropping them here cost a
                # full scaling run a KeyError at its final report once.
                "events",
                "epochs",
                "epoch_seconds",
                "events_per_sec",
                "sustained_events_per_sec",
                "equality_pass",
                "seconds",
            )
            if k in d
        }

    compact = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": out["unit"],
        "queries": {k: round(v, 2) for k, v in queries.items()},
        "sf": sf,
        "cpus": out["cpus"],
        "modes": out["modes"],
        "cdc": _mode_summary(cdc),
        "cdc_mor": _mode_summary(cdc_mor),
        "full": "BENCH/last_run.json",
    }
    ab = out.get("ab")
    if ab:
        compact["ab"] = {
            k: ab[k]
            for k in ("ref", "head", "events", "pairs", "summary")
            if k in ab
        }
    print(json.dumps(compact))
    spark.stop()


if __name__ == "__main__":
    main()
