"""The benchmark's workloads: what each one loads, warms, times and checks.

Every workload follows the same closed-loop shape in one driver process:

1. harness (reported, not gated): generate the seeded change feed;
2. set-up (``setup_s``): start the session, preload a backfill as one
   epoch, then run untimed epochs (or micro-batches), scans and point reads
   of exactly the timed kind, size and table, so timed epochs merge into a
   table several times their size on a warm JVM and warm Python workers;
3. timed windows, with no harness thread running: the ingest call, then
   full scans and point reads by one client, interleaved in rounds;
4. harness: build the replay oracle and compare the final table with it.

Sizes are fixed per workload; ``--seconds`` sets how many timed epochs and
scans run, so one seed always does the same work and every byte, row, file
and job count repeats exactly.
"""

from __future__ import annotations

import glob
import math
import os
import time
from dataclasses import dataclass, field, replace

from perfbench.stats import median
from perfbench.spans import Tracer, covered

MASTER = "local[4]"
SHUFFLE_PARTITIONS = 4
N_BUCKETS = 8
# the read window alternates scans and point reads in this many rounds
READ_ROUNDS = 4
# datagen.StreamSpec defaults: avg_turns=10 and ~1.44 events per inserted
# key, so ~14 events per conversation; the feed is generated with margin
# and only the needed prefix is consumed.
EVENTS_PER_CONVERSATION = 14.0


@dataclass(frozen=True)
class Workload:
    name: str
    kind: str  # "cow" | "mor" (CdcIngestJob storage) or "stream" (StreamingIngest)
    epoch_events: int  # LSN window per epoch = events per feed file (= one micro-batch)
    backfill_epochs: int  # preload = this many epochs' events, ingested as ONE epoch
    warm_epochs: int
    epochs_per_10s: float  # timed epochs per 10 s of --seconds (at least 2)
    scans_per_10s: float
    warm_scans: int
    reads: int  # timed point reads (>= 100 puts 10 beyond p90)
    warm_reads: int
    ingest_conf: dict = field(default_factory=dict)  # IngestConfig overrides (scaled caps)

    def timed_epochs(self, seconds: float) -> int:
        return max(2, round(self.epochs_per_10s * seconds / 10.0))

    def scans(self, seconds: float) -> int:
        return max(3, round(self.scans_per_10s * seconds / 10.0))


WORKLOADS = {
    w.name: w
    for w in [
        # Batch COW replay. Caps scaled down 400x from the defaults (2M / 200k)
        # so each ~18k-key epoch takes the path a multi-million-key epoch
        # takes: observe-count control, hash-prefilter anti-join,
        # whole-bucket rewrite.
        Workload(
            name="cow_merge",
            kind="cow",
            epoch_events=25_000,
            backfill_epochs=2,
            warm_epochs=2,
            epochs_per_10s=2.0,
            scans_per_10s=12.0,
            warm_scans=4,
            reads=100,
            warm_reads=10,
            ingest_conf={"broadcast_max_rows": 5_000, "file_prune_max_keys": 500},
        ),
        # Batch MOR replay at default config (pipelined loop, clustered
        # dedup). Each point read pays the LWW fold (~0.85 s at local[4]),
        # too slow for 100 reads per run, so BENCHMARK.json does not list
        # it; run it by name.
        Workload(
            name="mor_merge",
            kind="mor",
            epoch_events=50_000,
            backfill_epochs=4,
            warm_epochs=3,
            epochs_per_10s=4.0,
            scans_per_10s=3.0,
            warm_scans=2,
            reads=20,
            warm_reads=5,
        ),
        # StreamingIngest availableNow drain, one feed file per trigger.
        Workload(
            name="stream_drain",
            kind="stream",
            epoch_events=25_000,
            backfill_epochs=2,
            warm_epochs=2,
            epochs_per_10s=2.0,
            scans_per_10s=12.0,
            warm_scans=4,
            reads=100,
            warm_reads=10,
        ),
    ]
}


def tiny(w: Workload) -> Workload:
    """The same workload at self-test size (seconds, not minutes)."""
    return replace(
        w,
        epoch_events=3_000,
        backfill_epochs=2,
        warm_epochs=1,
        warm_scans=1,
        reads=5,
        warm_reads=2,
        ingest_conf={k: max(1, v // 40) for k, v in w.ingest_conf.items()},
    )


@dataclass
class Paths:
    work: str

    def __post_init__(self):
        for d in (self.stage, self.feed, self.eventlog, self.tmp):
            os.makedirs(d, exist_ok=True)

    stage = property(lambda s: os.path.join(s.work, "stage"))
    feed = property(lambda s: os.path.join(s.work, "feed"))
    table = property(lambda s: os.path.join(s.work, "table"))
    checkpoint = property(lambda s: os.path.join(s.work, "checkpoint"))
    eventlog = property(lambda s: os.path.join(s.work, "eventlog"))
    tmp = property(lambda s: os.path.join(s.work, "tmp"))


def session_conf(paths: Paths, trace: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "2g",
        "spark.sql.warehouse.dir": os.path.join(paths.work, "warehouse"),
        # JVM temp files (and no hsperfdata) inside the checkout
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={paths.tmp} -XX:-UsePerfData",
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": paths.eventlog,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def run(w: Workload, seed: int, seconds: float, trace: bool, work: str) -> dict:
    """Run one workload; returns the raw record run.py turns into metrics."""
    from transcript_cdc.datagen import StreamSpec, generate_events, write_change_feed

    paths = Paths(work)
    n_timed = w.timed_epochs(seconds)
    n_epochs = w.backfill_epochs + w.warm_epochs + n_timed
    E = w.epoch_events
    needed = n_epochs * E
    # ---- harness: the seeded feed ----
    t0 = time.time()
    spec = StreamSpec(
        n_conversations=math.ceil(needed * 1.1 / EVENTS_PER_CONVERSATION),
        seed=seed,
        events_per_file=E,
    )
    events = generate_events(spec)
    if len(events) < needed:
        raise RuntimeError(f"seed {seed}: feed has {len(events)} events, needs {needed}")
    # additive schema evolution lands mid-way through the last warm-up
    # epoch (~half of the consumed feed), so every timed epoch sees one schema
    evo_lsn = (w.backfill_epochs + w.warm_epochs - 0.5) * E
    spec.evolution_at = evo_lsn / len(events)
    # batch workloads read the whole backlog from the feed directory; the
    # streaming workload lands staged files into it one step at a time
    write_change_feed(spec, paths.stage if w.kind == "stream" else paths.feed)
    gen_s = time.time() - t0

    tracer = Tracer(trace)
    tracer.install()
    try:
        rec = (_run_stream if w.kind == "stream" else _run_batch)(
            w, spec, paths, tracer, n_timed, seconds
        )
    finally:
        tracer.restore()
    rec["gen_s"] = gen_s
    # ---- harness: oracle + equality, after every timed window ----
    t0 = time.time()
    engine_rows = rec.pop("engine_rows")
    rec["engine_row_count"] = engine_rows.num_rows
    rec["correct"] = _check(events, engine_rows, rec["last_lsn"])
    rec["oracle_s"] = time.time() - t0
    rec["events_generated"] = len(events)
    if trace:
        tracer.dump(os.path.join(paths.work, "spans.json"))
        rec["layers"] = _layers(rec, paths, tracer)
    return rec


def _start_session(paths: Paths, tracer: Tracer):
    """(session, seconds to start it) — the traced run logs Spark events."""
    from transcript_cdc.session import get_spark

    t0 = time.time()
    with tracer.span("session.get_spark"):
        spark = get_spark(
            "perfbench",
            master=MASTER,
            shuffle_partitions=SHUFFLE_PARTITIONS,
            extra_conf=session_conf(paths, tracer.enabled),
        )
    spark.sparkContext.setLogLevel("ERROR")
    tracer.bind(spark.sparkContext)
    return spark, time.time() - t0


def _read_window(spark, table, scan_df_fn, conv_ids, n_scans, rounds, tracer) -> tuple[list, list, int]:
    """Full scans into a noop sink and point reads, interleaved in ``rounds``
    so both sample the whole window. Returns (scan walls, read ms, failed)."""
    scan_s, read_ms, failed = [], [], 0
    for r in range(rounds):
        for _ in range(n_scans * (r + 1) // rounds - n_scans * r // rounds):
            t0 = time.time()
            try:
                with tracer.span("bench.scan"):
                    scan_df_fn().write.format("noop").mode("overwrite").save()
                scan_s.append(time.time() - t0)
            except Exception:  # noqa: BLE001 — a failed operation is counted, not fatal
                failed += 1
        for cid in conv_ids[len(conv_ids) * r // rounds : len(conv_ids) * (r + 1) // rounds]:
            t0 = time.time()
            try:
                with tracer.span("bench.point_read"):
                    table.read_conversation(spark, cid).collect()
                read_ms.append((time.time() - t0) * 1000.0)
            except Exception:  # noqa: BLE001
                failed += 1
    return scan_s, read_ms, failed


def _warm_reads(w, spec, spark, table, scan_df_fn, tracer) -> None:
    _read_window(
        spark, table, scan_df_fn, _conv_draws(spec, w.warm_reads, 1), w.warm_scans, 1, tracer
    )


def _timed_reads(w, spec, seconds, rec, spark, table, scan_df_fn, tracer) -> None:
    n_scans, reads = w.scans(seconds), _conv_draws(spec, w.reads, 2)
    t0 = time.time()
    rec["scan_s"], rec["read_ms"], failed = _read_window(
        spark, table, scan_df_fn, reads, n_scans, READ_ROUNDS, tracer
    )
    rec["windows"]["read"] = (t0, time.time())
    rec["failed"] += failed
    rec["attempted"] += n_scans + len(reads)


def _conv_draws(spec, n: int, stream: int) -> list[str]:
    """``n`` conversation ids drawn with the run's seed (``stream`` keeps
    warm-up and timed draws apart)."""
    import numpy as np

    rng = np.random.default_rng([spec.seed, stream])
    return [f"conv-{i:08d}" for i in rng.integers(0, spec.n_conversations, size=n)]


def _timed_ingest(rec, tracer, n_timed, ingest):
    """Run the timed ingest call and return its result; an exception fails
    every timed epoch."""
    out = None
    t0 = time.time()
    try:
        with tracer.span("bench.ingest"):
            out = ingest()
    except Exception:  # noqa: BLE001
        rec["failed"] += n_timed
    t1 = time.time()
    rec["windows"]["ingest"] = (t0, t1)
    rec["ingest_s"] = t1 - t0
    rec["attempted"] = rec["n_epochs"] = n_timed
    return out


def _written(rec, table_root, timed) -> None:
    """Data files the timed epochs wrote (each manifest's file_stats lists
    exactly the files its epoch wrote)."""
    rec["bytes_written"] = sum(_size(table_root, f) for m in timed for f in m.get("file_stats", {}))
    rec["files_written"] = sum(len(m.get("file_stats", {})) for m in timed)


def _run_batch(w, spec, paths, tracer, n_timed, seconds) -> dict:
    from transcript_cdc.plans.ingest import CdcIngestJob, IngestConfig

    E = w.epoch_events
    rec: dict = {"failed": 0, "windows": {}}
    t_setup = time.time()
    spark, rec["session_s"] = _start_session(paths, tracer)
    try:
        cfg = dict(n_buckets=N_BUCKETS, storage=w.kind, **w.ingest_conf)
        # backfill: one epoch of backfill_epochs * E events
        CdcIngestJob(
            spark, paths.feed, paths.table,
            IngestConfig(epoch_events=w.backfill_epochs * E, **cfg),
        ).run(max_epochs=1)
        job = CdcIngestJob(spark, paths.feed, paths.table, IngestConfig(epoch_events=E, **cfg))
        job.run(max_epochs=w.warm_epochs)
        _warm_reads(w, spec, spark, job.table, job.final_state, tracer)
        rec["setup_s"] = time.time() - t_setup

        first = job.resume_point()[0]
        results = _timed_ingest(rec, tracer, n_timed, lambda: job.run(max_epochs=n_timed)) or []
        rec["epoch_s"] = [r["seconds"] for r in results if r.get("seconds") is not None]
        timed = [job.table.read_manifest(e) for e in range(first, first + len(results))]
        rec["events"] = sum(int(m["lsn_hi"]) - int(m["lsn_lo"]) for m in timed)
        rec["receipts"] = [
            {"epoch": m["epoch"], **{k: m["metrics"].get(k) for k in ("control", "merge_anti", "dedup", "salt")}}
            for m in timed
        ]
        _written(rec, paths.table, timed)
        lo, hi = (int(timed[0]["lsn_lo"]), int(timed[-1]["lsn_hi"])) if timed else (0, 0)
        rec["feed_bytes"] = _feed_bytes(paths.feed, lo, hi)
        rec["last_lsn"] = int(job.table.last_committed()["lsn_hi"])

        _timed_reads(w, spec, seconds, rec, spark, job.table, job.final_state, tracer)
        rec["engine_rows"] = job.final_state(columns=["conv_id", "turn_idx", "text"]).toArrow()
        rec["snapshot_bytes"] = _input_bytes(job.table.read_snapshot(spark))
        rec["jvm_peak_rss_mb"] = _jvm_peak_rss_mb(spark) if tracer.enabled else None
    finally:
        _stop(spark)
    return rec


def _run_stream(w, spec, paths, tracer, n_timed, seconds) -> dict:
    from transcript_cdc.streaming import StreamConfig, StreamingIngest

    staged = sorted(glob.glob(os.path.join(paths.stage, "*.parquet")))
    staged = staged[: w.backfill_epochs + w.warm_epochs + n_timed]  # the tail stays unlanded
    warm_end = w.backfill_epochs + w.warm_epochs

    def land(files):
        for f in files:  # atomic rename into the watched directory
            os.rename(f, os.path.join(paths.feed, os.path.basename(f)))

    rec: dict = {"failed": 0, "windows": {}}
    t_setup = time.time()
    spark, rec["session_s"] = _start_session(paths, tracer)
    try:
        si = StreamingIngest(
            spark, paths.feed, paths.table, paths.checkpoint,
            StreamConfig(n_buckets=N_BUCKETS, max_files_per_trigger=w.backfill_epochs),
        )
        land(staged[: w.backfill_epochs])
        si.run_available()  # backfill: one micro-batch
        si.cfg.max_files_per_trigger = 1
        land(staged[w.backfill_epochs : warm_end])
        si.run_available()
        _warm_reads(w, spec, spark, si.table, si.final_state, tracer)
        rec["setup_s"] = time.time() - t_setup
        land(staged[warm_end:])  # after warm-up, before the clock starts

        n_before = len(si.table.committed_epochs())
        _timed_ingest(rec, tracer, n_timed, lambda: si.start(available_now=True).awaitTermination())
        timed = [si.table.read_manifest(e) for e in si.table.committed_epochs()[n_before:]]
        rec["epoch_s"] = []  # micro-batch walls come from the traced run's spans
        rec["events"] = sum(_file_events(f) for f in staged[warm_end:])
        rec["receipts"] = [
            {"epoch": m["epoch"], "files_rewritten": m["metrics"].get("files_rewritten")} for m in timed
        ]
        _written(rec, paths.table, timed)
        rec["feed_bytes"] = sum(
            os.path.getsize(os.path.join(paths.feed, os.path.basename(f))) for f in staged[warm_end:]
        )
        rec["last_lsn"] = _file_range(staged[-1])[1] - 1

        _timed_reads(w, spec, seconds, rec, spark, si.table, si.final_state, tracer)
        rec["engine_rows"] = si.final_state().select("conv_id", "turn_idx", "text").toArrow()
        rec["snapshot_bytes"] = _input_bytes(si.table.read_snapshot(spark))
        rec["jvm_peak_rss_mb"] = _jvm_peak_rss_mb(spark) if tracer.enabled else None
    finally:
        _stop(spark)
    return rec


# ---------- files ----------


def _file_range(path: str) -> tuple[int, int]:
    """``part-<lo>-<hi>.parquet`` → (lo, hi): LSNs lo..hi-1."""
    _, lo, hi = os.path.basename(path)[: -len(".parquet")].split("-")
    return int(lo), int(hi)


def _file_events(path: str) -> int:
    lo, hi = _file_range(path)
    return hi - lo


def _feed_bytes(feed_dir: str, lsn_lo_excl: int, lsn_hi_incl: int) -> int:
    """Bytes of the feed files whose LSNs lie in (lo, hi] — the epochs are
    aligned to files, so this is exactly what the timed epochs consumed."""
    total = 0
    for f in glob.glob(os.path.join(feed_dir, "*.parquet")):
        lo, hi = _file_range(f)
        if lo > lsn_lo_excl and hi - 1 <= lsn_hi_incl:
            total += os.path.getsize(f)
    return total


def _size(root: str, rel: str) -> int:
    return os.path.getsize(os.path.join(root, rel))


def _input_bytes(df) -> int:
    from urllib.parse import unquote, urlparse

    return sum(os.path.getsize(unquote(urlparse(f).path)) for f in df.inputFiles())


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _stop(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — never leave the JVM behind
            proc.kill()
            proc.wait()


# ---------- correctness ----------


def _check(events, engine, last_lsn: int) -> bool:
    """Final table == datagen.replay_oracle_fast over the consumed prefix,
    on (conv_id, turn_idx, text)."""
    import pyarrow as pa

    from transcript_cdc.datagen import replay_oracle_fast

    orc = replay_oracle_fast(events[events["lsn"] <= last_lsn], normalize=True)
    schema = pa.schema([("conv_id", pa.string()), ("turn_idx", pa.int32()), ("text", pa.string())])
    want = pa.Table.from_pandas(orc[["conv_id", "turn_idx", "text"]], schema=schema, preserve_index=False)
    got = engine.select(["conv_id", "turn_idx", "text"]).cast(schema)
    keys = [("conv_id", "ascending"), ("turn_idx", "ascending")]
    got = got.sort_by(keys).combine_chunks()
    want = want.sort_by(keys).combine_chunks()
    return got.num_rows == want.num_rows and got.equals(want)


# ---------- per-layer metrics (traced run) ----------


def _layers(rec: dict, paths: Paths, tracer: Tracer) -> dict[str, float]:
    from perfbench import eventlog

    logs = glob.glob(os.path.join(paths.eventlog, "*"))
    log = eventlog.load(logs[0])
    t_lo, t_hi = rec["windows"]["ingest"]
    epochs = tracer.named("stream.apply_batch", t_lo, t_hi)
    is_stream = bool(epochs)
    if not is_stream:
        epochs = tracer.named("ingest.epoch", t_lo, t_hi)
    n = rec["n_epochs"]
    c = eventlog.counters(log, t_lo, t_hi, paths.feed, paths.table)
    jobs = c.jobs
    m = c.metric

    def per(v):
        return v / n

    def span_sum(name):
        return sum(s["end"] - s["start"] for s in tracer.named(name, t_lo, t_hi))

    def innermost_is(job, names):
        s = tracer.innermost(job["submit"])
        return s is not None and s["name"] in names

    in_epochs = [
        j for j in jobs if any(e["start"] <= j["submit"] <= e["end"] for e in epochs)
    ]
    gaps = []
    for e in epochs:
        ivs = [
            (max(j["submit"], e["start"]), min(j["end"] or e["end"], e["end"]))
            for j in jobs
            if e["start"] <= j["submit"] <= e["end"]
        ]
        gaps.append((e["end"] - e["start"]) - covered(ivs))
    control = [
        j for j in in_epochs if innermost_is(j, {"ingest.epoch", "stream.apply_batch"})
    ]
    writes = tracer.named("lake.write_epoch_data", t_lo, t_hi)
    write_jobs = [
        j["id"] for j in jobs if any(w["start"] <= j["submit"] <= w["end"] for w in writes)
    ]
    commits = tracer.named("lake.commit_epoch", t_lo, t_hi)
    commit_self = sum(tracer.self_time(cm) for cm in commits)  # commit minus its write
    skew = 0.0
    if c.write_task_rows:
        skew = max(c.write_task_rows) / max(1.0, median(c.write_task_rows))
    r_lo, r_hi = rec["windows"]["read"]
    reads = tracer.named("bench.point_read", r_lo, r_hi)
    nr = max(1, len(reads))
    ffk = tracer.named("lake.files_for_key", r_lo, r_hi)
    epoch_walls = [e["end"] - e["start"] for e in epochs]

    out = {
        "session.start_s": rec["session_s"],
        "session.jvm_peak_rss_mb": rec["jvm_peak_rss_mb"] or 0.0,
        "changes.read_range_ms": 1000.0 * span_sum("changes.read_range") / n,
        "changes.scan_bytes": per(m.get(("changes", "size of files read"), 0.0)),
        "changes.scan_rows": per(m.get(("changes", "number of output rows"), 0.0)),
        "dedup.shuffle_bytes": per(m.get(("dedup", "shuffle bytes written"), 0.0)),
        "dedup.spill_bytes": per(m.get(("dedup", "spill size"), 0.0)),
        "normalize.python_rows": per(m.get(("normalize", "number of output rows"), 0.0)),
        "normalize.python_s": per(m.get(("normalize", "time to run Python workers"), 0.0)),
        "normalize.arrow_bytes": per(
            m.get(("normalize", "data sent to Python workers"), 0.0)
            + m.get(("normalize", "data returned from Python workers"), 0.0)
        ),
        "ingest.epoch_s_p50": median(epoch_walls) if epoch_walls else 0.0,
        "ingest.control_s": per(sum((j["end"] or j["submit"]) - j["submit"] for j in control)),
        "ingest.driver_gap_s": per(sum(gaps)),
        "ingest.jobs_per_epoch": per(len(in_epochs)),
        "ingest.task_cpu_s": per(c.cpu_s),
        "ingest.gc_s": per(c.gc_s),
        "merge.prefilter_build_s": per(span_sum("merge.survivors_anti_join")),
        "merge.snapshot_scans": per(c.scan_nodes),
        "merge.snapshot_scan_bytes": per(m.get(("merge.snapshot", "size of files read"), 0.0)),
        "merge.probe_python_s": per(m.get(("merge.probe", "time to run Python workers"), 0.0)),
        "merge.smj_shuffle_bytes": per(m.get(("merge.smj", "shuffle bytes written"), 0.0)),
        "rangewrite.shuffle_bytes": per(m.get(("rangewrite", "shuffle bytes written"), 0.0)),
        "rangewrite.partition_skew": skew,
        "lake.write_s": per(span_sum("lake.write_epoch_data")),
        "lake.commit_s": per(commit_self),
        "lake.output_bytes": per(c.out_bytes),
        "lake.files_written": per(rec["files_written"]),
        "lake.bucket_of_ms": 1000.0 * sum(s["end"] - s["start"] for s in tracer.named("lake.bucket_of", r_lo, r_hi)) / nr,
        "lake.files_for_key_ms": 1000.0 * sum(s["end"] - s["start"] for s in ffk) / nr,
        "lake.point_read_files": sum(s["attrs"].get("n_files", 0) for s in ffk) / nr,
        "stream.batch_s_p50": median(epoch_walls) if (is_stream and epoch_walls) else 0.0,
        "stream.jobs_per_batch": per(len(in_epochs)) if is_stream else 0.0,
        "stream.sample_jobs": per(eventlog.result_jobs_without_output(log, write_jobs)) if is_stream else 0.0,
        "stream.normalize_rows": per(m.get(("normalize", "number of output rows"), 0.0)) if is_stream else 0.0,
    }
    return out
