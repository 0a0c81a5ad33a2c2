"""SparkSession factory tuned for the CDC workload.

Defaults mirror what we'd set on a 1000-executor cluster: AQE on (runtime
re-planning, skew-join splitting, partition coalescing), Arrow transfer on
(every Python-side transform is vectorized), and shuffle partitions scaled
with available parallelism rather than the static 200 default.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession


def _package_zip() -> str:
    """Zip the transcript_cdc package for --py-files-style shipping.

    Vectorized UDFs are pickled by reference; Python workers must be able to
    import transcript_cdc regardless of driver cwd. This is the programmatic
    equivalent of ``spark-submit --py-files transcript_cdc.zip`` (the
    north_rule's cluster ship path — see scripts/submit.sh)."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    out = os.path.join(tempfile.gettempdir(), "transcript_cdc_pyfiles.zip")
    with zipfile.ZipFile(out, "w") as zf:
        for dirpath, _dirnames, filenames in os.walk(pkg_dir):
            for fn in filenames:
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    zf.write(full, os.path.relpath(full, root))
    return out


def _scratch_dir() -> str:
    """Shuffle/spill scratch: $SPARK_GRAFT_LOCAL_DIR > opt-in tmpfs > tmp.

    tmpfs (/dev/shm) is OPT-IN via SPARK_GRAFT_TMPFS=1 (round-1 advice):
    RAM-backed scratch fills precisely under memory pressure, so it must
    never be a silent default on a real deployment — spill should go to
    disk. The sandbox entry points (bench.py, tests/conftest.py,
    scripts/verify_e2e.py) set the flag because this host's root disk
    writes at ~8 MB/s and would otherwise dominate every measurement."""
    override = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if override:
        return override
    if os.environ.get("SPARK_GRAFT_TMPFS") == "1":
        shm = "/dev/shm"
        if os.path.isdir(shm) and os.access(shm, os.W_OK):
            d = os.path.join(shm, "spark-local")
            os.makedirs(d, exist_ok=True)
            return d
    return tempfile.gettempdir()


def get_spark(
    app_name: str = "transcript-cdc",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    ship_package: bool = True,
) -> SparkSession:
    """Build (or get) a SparkSession with CDC-appropriate defaults.

    master defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real cluster
    the caller passes master/deploy via spark-submit and this factory only
    contributes the SQL confs.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        cpus_env = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus_env) if cpus_env and cpus_env.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime partition coalescing + skew-join splitting is the
        # built-in backstop for hot-conversation skew (we also salt explicitly).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # The COW merge routes both sides by the write's range token and
        # joins (or windows) on (token, key): let a hash partitioning on a
        # prefix of the join keys count as co-partitioned, so the join
        # reuses the write's exchange instead of shuffling the snapshot
        # payload a second time on the full key (plans/ingest.CowEpoch).
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
        # Python-side transforms of the function library (mapInPandas,
        # pandas UDFs) cross as Arrow batches; the ingest path has none.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Target ~128MB input splits — the sizing default we'd use at 100TB.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.session.timeZone", "UTC")
        # Feed parquet carries NTZ timestamps; read them as TimestampType in
        # the UTC session so one timestamp type flows end-to-end.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # Shuffle/broadcast/spill codec: zstd over the lz4 default. The
        # replay's shuffles carry wide text payloads that zstd compresses
        # ~2x better — measured on the engine's own event logs (4M-event
        # epochs, identical task DAG, byte counts are deterministic):
        # COW 386→211 MB (-45%), MOR 241→128 MB (-47%) shuffle bytes for
        # +3% / -10% task CPU, wall at parity locally (tmpfs shuffle) and
        # a +14-26% interleaved wall median at local[8]
        # (bench/ab_result_conf_zstd*.json). On a real N-executor cluster
        # shuffle bytes cross the NETWORK, so the byte cut is the term
        # that scales; lz4 remains one SPARK_GRAFT_EXTRA_CONF away.
        .config("spark.io.compression.codec", "zstd")
        # Lake/WAL parquet codec: zstd over the snappy default — the same
        # bytes-for-CPU trade as the shuffle codec, decided on the same
        # deterministic event-log receipt (4M-event epochs, identical task
        # DAG, bench/profile_pq_zstd_r5.json): data-file output bytes
        # COW 88.9→60.5 MB (-32%), MOR 70.8→40.7 MB (-43%) for +7% / +5%
        # task CPU, wall +4-7% locally. At 100 TB, lake files are written
        # over the network, replicated, stored, and RE-READ by every
        # subsequent COW epoch / MOR fold / query scan — stored bytes are
        # the term that scales, and zstd is the lakehouse-format default
        # for exactly this reason. snappy is one SPARK_GRAFT_EXTRA_CONF
        # away.
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Shuffle/spill scratch: node-local fast storage. On a cluster each
        # executor gets its own NVMe (bandwidth scales with nodes); this
        # sandbox's root disk writes at ~8 MB/s (throttled virtio), so tmpfs
        # is the faithful local proxy — without it every job is disk-bound
        # and core scaling is unmeasurable.
        .config("spark.local.dir", _scratch_dir())
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    # SPARK_GRAFT_EXTRA_CONF: ';'-separated k=v pairs applied LAST — lets
    # a pinned bench.py subprocess take extra Spark confs without a code
    # fork (bench/scaling.py turns the event log on this way; a codec is
    # one pair away). ';' because conf values may contain commas.
    env_conf = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    for pair in env_conf.split(";"):
        if pair.strip():
            k, _, v = pair.partition("=")
            builder = builder.config(k.strip(), v.strip())
    spark = builder.getOrCreate()
    if ship_package:
        spark.sparkContext.addPyFile(_package_zip())
    return spark
