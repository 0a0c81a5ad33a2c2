"""End-to-end verification: all three write paths vs the dict oracle,
checked INDEPENDENTLY with DuckDB over manifest-listed files (never
job.final_state() checking itself).

Covers: batch COW replay, blind re-run no-op, streaming availableNow drain,
merge-on-read with auto-compaction, driver-local point reads
(read_conversation) on all three tables, and the driver-contract entry().
Run from anywhere: python scripts/verify_e2e.py  (~2 min, local[8])
"""

import glob
import json
import os
import random
import shutil
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

os.environ.setdefault("SPARK_GRAFT_TMPFS", "1")  # sandbox: disk is ~8 MB/s

import duckdb
import pandas as pd

from transcript_cdc.datagen import StreamSpec, generate_events, replay_oracle, write_change_feed
from transcript_cdc.plans.ingest import CdcIngestJob, IngestConfig
from transcript_cdc.session import get_spark

WORK = "/dev/shm/verify_x"
shutil.rmtree(WORK, ignore_errors=True)
os.makedirs(WORK)

spec = StreamSpec(n_conversations=400, seed=99, events_per_file=1000)
write_change_feed(spec, f"{WORK}/feed")
spark = get_spark("v", master="local[8]", shuffle_partitions=16)
spark.sparkContext.setLogLevel("ERROR")

job = CdcIngestJob(spark, f"{WORK}/feed", f"{WORK}/table", IngestConfig(n_buckets=8, epoch_events=1000))
job.run()


def manifest_files(root):
    """Independent manifest fold (no engine code): copy-on-write manifests
    REPLACE a bucket's file list; append (merge-on-read delta) manifests
    list only the files they added and EXTEND the bucket."""
    state = {}
    for mf in sorted(glob.glob(f"{root}/_commits/epoch=*.json")):
        m = json.load(open(mf))
        for k, v in m["buckets"].items():
            state[k] = state.get(k, []) + v if m.get("append") else v
    out = []
    for v in state.values():
        out.extend(os.path.join(root, f) for f in v)
    return out


files = manifest_files(f"{WORK}/table")
con = duckdb.connect()
eng = con.execute(
    "SELECT conv_id, turn_idx, role, text, tool, model, tokens FROM read_parquet(?, union_by_name=true) ORDER BY conv_id, turn_idx",
    [files],
).fetchdf()
orc = replay_oracle(generate_events(spec), normalize=True)[
    ["conv_id", "turn_idx", "role", "text", "tool", "model", "tokens"]
].reset_index(drop=True)

assert len(eng) == len(orc), (len(eng), len(orc))
for col in ["conv_id", "turn_idx", "role", "text", "tool", "model"]:
    e = eng[col].where(eng[col].notna(), None).tolist()
    o = orc[col].where(orc[col].notna(), None).tolist()
    assert e == o, f"batch mismatch col {col}"
et = [None if pd.isna(x) else int(x) for x in eng["tokens"]]
ot = [None if pd.isna(x) else int(x) for x in orc["tokens"]]
assert et == ot
print(f"BATCH OK: {len(eng)} rows match dict oracle via independent DuckDB read")

# blind re-run: every epoch must be a committed no-op
rerun = CdcIngestJob(spark, f"{WORK}/feed", f"{WORK}/table", IngestConfig(n_buckets=8, epoch_events=1000)).run()
assert rerun == [], f"re-run should resume past end, got {rerun}"
print("RERUN OK: blind re-run is a no-op")

# ---- streaming path (new this session) ----
from transcript_cdc.streaming import StreamConfig, StreamingIngest

st_table, st_ckpt = f"{WORK}/st_table", f"{WORK}/st_ckpt"
ing = StreamingIngest(spark, f"{WORK}/feed", st_table, st_ckpt, StreamConfig(n_buckets=8, max_files_per_trigger=2))
ing.run_available()

sfiles = manifest_files(st_table)
seng = con.execute(
    "SELECT conv_id, turn_idx, role, text, tool, model, tokens FROM read_parquet(?, union_by_name=true) WHERE op <> 'D' ORDER BY conv_id, turn_idx",
    [sfiles],
).fetchdf()
assert len(seng) == len(orc), (len(seng), len(orc))
for col in ["conv_id", "turn_idx", "role", "text", "tool", "model"]:
    e = seng[col].where(seng[col].notna(), None).tolist()
    o = orc[col].where(orc[col].notna(), None).tolist()
    assert e == o, f"stream mismatch col {col}"
print(f"STREAM OK: {len(seng)} live rows match oracle (tombstones excluded), {len(ing.table.committed_epochs())} micro-batch epochs")

# ---- merge-on-read path ----
from transcript_cdc.plans.ingest import IngestConfig as IC2

mor_job = CdcIngestJob(
    spark, f"{WORK}/feed", f"{WORK}/mor_table",
    IC2(n_buckets=8, epoch_events=1000, storage="mor", compact_every=3),
)
mor_job.run()
mfiles = manifest_files(f"{WORK}/mor_table")
meng = con.execute(
    """
    SELECT conv_id, turn_idx, role, text, tool, model, tokens FROM (
        SELECT *, row_number() OVER (
            PARTITION BY conv_id, turn_idx ORDER BY lsn DESC) AS rn
        FROM read_parquet(?, union_by_name=true))
    WHERE rn = 1 AND op <> 'D'
    ORDER BY conv_id, turn_idx
    """,
    [mfiles],
).fetchdf()
assert len(meng) == len(orc), (len(meng), len(orc))
for col in ["conv_id", "turn_idx", "role", "text", "tool", "model"]:
    e = meng[col].where(meng[col].notna(), None).tolist()
    o = orc[col].where(orc[col].notna(), None).tolist()
    assert e == o, f"mor mismatch col {col}"
print(f"MOR OK: {len(meng)} rows match oracle via independent DuckDB LWW fold (auto-compaction on)")

# ---- point reads: read_conversation vs DuckDB over the same manifests ----
POINT_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "model", "tokens"]
point_keys = random.Random(spec.seed).sample(sorted(orc["conv_id"].unique()), 20)
sc = spark.sparkContext


def check_point_reads(name, table, files, sql, cols=POINT_COLS):
    """read_conversation rows of each seeded key == DuckDB's rows for it;
    also counts the Spark jobs the reads launched (driver reads: 0)."""
    sc.setJobGroup(f"verify-point-{name}", "point-read job count")
    n_rows = 0
    try:
        for c in point_keys:
            got = [tuple(r) for r in table.read_conversation(spark, c).select(*cols).collect()]
            want = con.execute(sql.format(cols=", ".join(cols)), [files, c]).fetchall()
            assert sorted(got, key=repr) == sorted(want, key=repr), f"{name} point read {c}"
            n_rows += len(got)
        n_jobs = len(sc.statusTracker().getJobIdsForGroup(f"verify-point-{name}"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    print(f"POINT {name} OK: {len(point_keys)} keys, {n_rows} rows match DuckDB, {n_jobs} Spark jobs")


by_key = "SELECT {cols} FROM read_parquet(?, union_by_name=true) WHERE conv_id = ?"
check_point_reads("batch", job.table, files, by_key)
# the streaming table keeps tombstones; its point read returns them too
check_point_reads("stream", ing.table, sfiles, by_key, cols=["op", *POINT_COLS])
check_point_reads(
    "mor", mor_job.table, mfiles,
    """
    SELECT {cols} FROM (
        SELECT *, row_number() OVER (
            PARTITION BY conv_id, turn_idx ORDER BY lsn DESC) AS rn
        FROM read_parquet(?, union_by_name=true))
    WHERE rn = 1 AND op <> 'D' AND conv_id = ?
    """,
)

# driver contract spot-check
import importlib.util

spec_mod = importlib.util.spec_from_file_location("entrymod", os.path.join(REPO, "__spark_entry__.py"))
em = importlib.util.module_from_spec(spec_mod)
spec_mod.loader.exec_module(em)
df = em.entry(spark)
n = df.count()
assert n > 0
print(f"ENTRY OK: {n} rows")
spark.stop()
print("VERIFY PASS")
