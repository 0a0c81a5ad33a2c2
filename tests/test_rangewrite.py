"""Sampling-free range clustering for the COW write (operators/rangewrite.py).

``repartitionByRange`` would evaluate the merge twice (RangePartitioner
sampling pass + real exchange). The replacement routes each row to an
explicit (bucket, key) range via Spark's own hash partitioner, pre-inverted
driver-side so partition id == range id. These tests pin:

- exact Murmur3(seed 42) parity with Spark's ``F.hash`` for IntegerType
  (the whole trick rests on it);
- token inversion: pmod(murmur3(token[p]), n) == p for every p;
- bound planning: sorted, deduplicated, ≤ n_parts-1, weight-balanced;
- placement: every row's physical partition id equals its range id, so
  ranges are contiguous across reducers (AQE coalescing merges ADJACENT
  key ranges);
- e2e: the COW epoch's output files sit on tight, non-overlapping key
  intervals per bucket, and two identical replays place rows in
  byte-identical files (deterministic placement — the property a sampled
  partitioner can't promise across Spark versions).
"""

from __future__ import annotations

import bisect

import pytest
from pyspark.sql import functions as F

from transcript_cdc.operators.rangewrite import (
    assign_range_partition,
    murmur3_int32,
    partition_tokens,
    plan_range_bounds,
)


def test_murmur3_matches_spark_hash(spark):
    vals = [0, 1, 2, 42, -1, -123456, 2**31 - 1, -(2**31), 999999937, 7, 8]
    df = spark.createDataFrame([(v,) for v in vals], "x int")
    got = {r["x"]: r["h"] for r in df.select("x", F.hash("x").alias("h")).collect()}
    for v in vals:
        assert murmur3_int32(v) == got[v], v


def test_partition_tokens_invert_pmod():
    for n in (1, 2, 3, 5, 8, 16, 32, 200):
        toks = partition_tokens(n)
        assert len(toks) == n
        for p, t in enumerate(toks):
            assert ((murmur3_int32(t) % n) + n) % n == p


def test_plan_range_bounds_shape():
    atoms = [(b, f"k{k:03d}", 1.0) for b in range(4) for k in range(100)]
    bounds = plan_range_bounds(atoms, 8)
    assert 0 < len(bounds) <= 7
    assert bounds == sorted(set(bounds))
    # weight balance: no range holds more than ~2x the ideal share
    ext = [None] + bounds + [None]
    counts = []
    for i in range(len(bounds) + 1):
        lo, hi = ext[i], ext[i + 1]
        counts.append(
            sum(
                1
                for b, k, _ in atoms
                if (lo is None or (b, k) >= lo) and (hi is None or (b, k) < hi)
            )
        )
    assert sum(counts) == len(atoms)
    assert max(counts) <= 2 * (len(atoms) / (len(bounds) + 1))


def test_plan_range_bounds_edges():
    assert plan_range_bounds([], 8) == []
    assert plan_range_bounds([(0, "a", 1.0)], 1) == []
    assert plan_range_bounds([(0, "a", 0.0)], 8) == []
    # one dominant atom: never emits duplicate bounds
    atoms = [(0, "a", 1000.0), (0, "b", 1.0), (0, "c", 1.0)]
    bounds = plan_range_bounds(atoms, 8)
    assert bounds == sorted(set(bounds))


def test_partition_id_equals_range_id(spark):
    data = [(b, f"k{k:03d}") for b in range(4) for k in range(50)]
    sdf = spark.createDataFrame(data, "bucket int, key string")
    atoms = [(b, k, 1.0) for b, k in data]
    bounds = plan_range_bounds(atoms, 8)
    out = assign_range_partition(sdf, bounds, 8, "bucket", "key")
    assert out.columns == ["bucket", "key", "__range_tok"]
    rows = out.withColumn("pid", F.spark_partition_id()).collect()
    assert len(rows) == len(data)
    for r in rows:
        assert r["pid"] == bisect.bisect_right(bounds, (r["bucket"], r["key"]))
    # the routing is plain codegen: no UDF / python eval in the plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "rangepartitioning" not in plan.lower()


def test_no_bounds_degenerates_to_bucket_hash(spark):
    sdf = spark.createDataFrame([(0, "a"), (1, "b")], "bucket int, key string")
    out = assign_range_partition(sdf, [], 4, "bucket", "key")
    assert out.count() == 2


@pytest.fixture(scope="module")
def cow_roots(spark, tmp_path_factory):
    """Same seeded feed replayed twice through the range-clustered COW."""
    import os

    import pandas as pd

    from transcript_cdc.plans.ingest import CdcIngestJob, IngestConfig

    feed = str(tmp_path_factory.mktemp("rw") / "feed")
    rows, lsn = [], 0
    ts = pd.Timestamp("2024-01-01")
    for c in range(120):
        for t in range(3):
            rows.append((lsn, "I", f"conv-{c:04d}", t, "user", f"t {c} {t}", None, ts))
            lsn += 1
    p1 = pd.DataFrame(
        rows, columns=["lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts"]
    ).astype({"turn_idx": "int32", "tool": "string"})
    rows2 = []
    for c in (7, 55, 99):
        for t in range(3):
            rows2.append((lsn, "U", f"conv-{c:04d}", t, "user", f"u {c} {t}", None, ts))
            lsn += 1
    p2 = pd.DataFrame(rows2, columns=p1.columns).astype(
        {"turn_idx": "int32", "tool": "string"}
    )
    os.makedirs(feed)
    p1.to_parquet(
        os.path.join(feed, f"part-0-{len(p1) - 1}.parquet"),
        index=False,
        coerce_timestamps="us",
    )
    p2.to_parquet(
        os.path.join(feed, f"part-{len(p1)}-{lsn - 1}.parquet"),
        index=False,
        coerce_timestamps="us",
    )
    cfg = IngestConfig(n_buckets=4, epoch_events=len(p1), write_partitions=8)
    jobs = []
    for name in ("a", "b"):
        root = str(tmp_path_factory.mktemp(f"rw_{name}"))
        j = CdcIngestJob(spark, feed, root, cfg)
        j.run()
        jobs.append(j)
    return jobs


def test_cow_files_cover_tight_disjoint_key_ranges(cow_roots):
    job = cow_roots[0]
    last = job.table.committed_epochs()[-1]
    stats = job.table._fold_stats(last)
    m = job.table.read_manifest(last)
    for b, files in m["buckets"].items():
        spans = sorted(
            (stats[f]["min_key"], stats[f]["max_key"])
            for f in files
            if stats.get(f, {}).get("min_key") is not None
        )
        for (lo1, hi1), (lo2, _hi2) in zip(spans, spans[1:]):
            assert hi1 <= lo2, f"bucket {b}: overlapping file ranges {spans}"


def test_cow_placement_is_deterministic(cow_roots):
    ja, jb = cow_roots
    ea, eb = ja.table.committed_epochs(), jb.table.committed_epochs()
    assert ea == eb
    for e in ea:
        sa, sb = ja.table._fold_stats(e), jb.table._fold_stats(e)
        # file names carry a write UUID; determinism means the same part
        # INDEX holds the same key range and row count on both replays
        norm = lambda s: sorted(
            (
                p.split("/")[-1].split("-")[1],  # part index, e.g. "00003"
                st["min_key"],
                st["max_key"],
                st["rows"],
            )
            for p, st in s.items()
        )
        assert norm(sa) == norm(sb)


def test_stream_placement_is_deterministic(spark, tmp_path):
    """The streaming twin of test_cow_placement_is_deterministic: one feed
    drained twice, micro-batch by micro-batch, with unrelated Spark jobs
    run before one of the drains. Steady-state micro-batches route their
    write by the files' and the batch's key stats, so the layout is a
    function of the input alone; a sampled range write would draw its
    split points from a sample seeded by the RDD id, which counts every
    RDD the application built before it. Micro-batch 0 writes into an
    empty table, with no stats, and takes the sampled fallback; it holds
    fewer rows than the sample, so its sample is the whole batch."""
    import os

    import pandas as pd

    from transcript_cdc.streaming import StreamConfig, StreamingIngest

    feed = str(tmp_path / "feed")
    os.makedirs(feed)
    ts = pd.Timestamp("2024-01-01")
    cols = ["lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts"]
    lsn = 0

    def write(name, keys, op):
        nonlocal lsn
        rows = []
        for c, t in keys:
            rows.append((lsn, op, f"conv-{c:04d}", t, "user", f"{op} {c} {t} {lsn}", None, ts))
            lsn += 1
        pd.DataFrame(rows, columns=cols).astype(
            {"turn_idx": "int32", "tool": "string"}
        ).to_parquet(os.path.join(feed, name), index=False, coerce_timestamps="us")

    write("part-0.parquet", [(c, t) for c in range(0, 1000, 10) for t in range(3)], "I")
    write("part-1.parquet", [(c, t) for c in range(1000) if c % 10 for t in range(3)], "I")
    write("part-2.parquet", [(c, t) for c in range(0, 1000, 3) for t in range(3)], "U")

    layouts = []
    for name in ("a", "b"):
        if name == "b":
            for n in range(1, 40):
                spark.range(n * 10).repartition(n % 7 + 1).count()
        si = StreamingIngest(
            spark, feed, str(tmp_path / f"t_{name}"), str(tmp_path / f"ck_{name}"),
            StreamConfig(n_buckets=4, max_files_per_trigger=1),
        )
        assert si.run_available()
        epochs = si.table.committed_epochs()
        assert len(epochs) == 3
        layouts.append({
            e: sorted(
                (p.split("/")[-1].split("-")[1], st["min_key"], st["max_key"], st["rows"])
                for p, st in si.table._fold_stats(e).items()
            )
            for e in epochs
        })
    assert layouts[0] == layouts[1]


@pytest.fixture(scope="module", params=["batch", "stream"])
def bound_keyed(request, spark, tmp_path_factory):
    """A two-epoch replay whose second epoch touches every conversation —
    one turn updated, one deleted (a tombstone in the streaming table),
    one inserted — so every split point of its routed merge is a key the
    batch carries. Yields (table, bounds of the second epoch, oracle)."""
    import os

    import pandas as pd

    from transcript_cdc.plans import ingest
    from transcript_cdc.plans.ingest import CdcIngestJob, IngestConfig
    from transcript_cdc.sources.changes import ChangeFeed
    from transcript_cdc.streaming import StreamConfig, StreamingIngest

    base = tmp_path_factory.mktemp(f"bounds_{request.param}")
    feed = str(base / "feed")
    os.makedirs(feed)
    ts = pd.Timestamp("2024-01-01")
    cols = ["lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts"]
    events = [("I", c, t) for c in range(200) for t in range(3)]
    n0 = len(events)
    events += [e for c in range(200) for e in (("U", c, 0), ("D", c, 1), ("I", c, 3))]
    rows = [
        (lsn, op, f"conv-{c:04d}", t, "user", None if op == "D" else f"{op} {c} {t}", None, ts)
        for lsn, (op, c, t) in enumerate(events)
    ]
    pdf = pd.DataFrame(rows, columns=cols).astype({"turn_idx": "int32", "tool": "string"})
    pdf.iloc[:n0].to_parquet(os.path.join(feed, f"part-0-{n0 - 1}.parquet"),
                             index=False, coerce_timestamps="us")
    pdf.iloc[n0:].to_parquet(os.path.join(feed, f"part-{n0}-{len(events) - 1}.parquet"),
                             index=False, coerce_timestamps="us")
    oracle = {}
    for op, c, t in events:
        if op == "D":
            oracle.pop((f"conv-{c:04d}", t), None)
        else:
            oracle[(f"conv-{c:04d}", t)] = f"{op} {c} {t}"

    planned = []
    real = ingest.plan_range_bounds
    mp = pytest.MonkeyPatch()
    mp.setattr(ingest, "plan_range_bounds",
               lambda atoms, n: planned.append(real(atoms, n)) or planned[-1])
    try:
        if request.param == "batch":
            job = CdcIngestJob(spark, feed, str(base / "t"),
                               IngestConfig(n_buckets=4, epoch_events=n0,
                                            write_partitions=8))
            job.run()
            table = job.table
        else:
            si = StreamingIngest(spark, feed, str(base / "t"), str(base / "ck"),
                                 StreamConfig(n_buckets=4))
            changes = ChangeFeed(spark, feed)
            si.apply_batch(changes.read_range(-1, n0 - 1), 0)
            si.apply_batch(changes.read_range(n0 - 1, len(events) - 1), 1)
            table = si.table
    finally:
        mp.undo()
    assert len(planned) == 1  # epoch 0 wrote into an empty table: no stats
    yield table, planned[0], oracle


def test_merge_exact_with_keys_on_split_bounds(spark, bound_keyed):
    """Every split point is a conversation the batch updates, deletes and
    inserts into, so both merge sides route rows ON the bounds; the
    token is the same function of the key on both, and the result equals
    the dict-replay oracle with no key stored twice (tombstones
    included)."""
    from pyspark.sql import functions as F

    table, bounds, oracle = bound_keyed
    assert len(bounds) >= 3
    stored = table.read_snapshot(spark)
    assert stored.groupBy("conv_id", "turn_idx").count().filter("count > 1").count() == 0
    if "op" in stored.columns:
        assert stored.filter(F.col("op") == "D").count() == 200  # tombstones
        stored = stored.filter(F.col("op") != "D")
    got = {(r.conv_id, r.turn_idx): r.text for r in stored.collect()}
    assert got == oracle


def test_routed_merge_files_stay_inside_one_range(spark, bound_keyed):
    """The merge's exchange is the write's: each file the routed epoch
    wrote spans a [min_key, max_key] inside ONE range of its split
    points, and a range's survivors and upserts share one file."""
    table, bounds, _ = bound_keyed
    last = table.committed_epochs()[-1]
    stats = table._fold_stats(last)
    written = [p for p in stats if f"epoch={last:010d}-" in p]
    assert written
    cells = []
    for p in written:
        b = int(p.split("__bucket=")[1].split("/")[0])
        lo, hi = (b, stats[p]["min_key"]), (b, stats[p]["max_key"])
        rng = bisect.bisect_right(bounds, lo)
        assert rng == bisect.bisect_right(bounds, hi), (p, lo, hi, bounds)
        cells.append((b, rng))
    # one file per (bucket, range): a union that concatenated its inputs
    # instead of zipping their partitions would write two
    assert len(cells) == len(set(cells)), sorted(cells)
