"""SparkSession factory with scale-appropriate defaults.

Local mode is for correctness testing; the config here is chosen so the
same code runs unchanged on a 1000-executor cluster: AQE on (runtime
re-planning, skew-join splitting, partition coalescing), UTC session time
zone (oracle comparability), Arrow enabled for the pandas-UDF slow path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "kafka_firehose_nozzle_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``shuffle_partitions`` defaults to $SPARK_GRAFT_CPUS or CPU count —
    right for local mode; on a real cluster leave AQE's coalescing to pick
    the effective number at runtime.
    """
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8)
        )
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.master(os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
        .appName(app_name)
        # local mode = driver does everything; the 1g default heap OOMs
        # under 32 threads. 32g ~= 600 MB execution memory per task at
        # 32 threads — still conservative next to a real executor's
        # 1-2 GB/core (the r7 sf10 audit OOM'd two dense-graph
        # aggregations at 16g = ~300 MB/task, a ceiling no production
        # cluster has). Applied at JVM launch (no-op on reuse).
        .config(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g")
        )
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Bound each Arrow batch by BYTES, not just the 10k-row default:
        # the multimodal operators ship binary payload columns through
        # mapInPandas, and at production media sizes (MBs per cell) a
        # 10k-row batch is tens of GB of off-heap Arrow per worker —
        # the guide-§4.2 OOM signature (exit 137). 64 MB keeps worker
        # RSS bounded at any payload size; the oracle corpora's batches
        # are far below both limits, so local plans and timings are
        # unchanged (no-op at bench scale, verified r11).
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(64 << 20))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        # the driver's testdata parquet uses TIMESTAMP(NANOS); read as
        # int64 nanos (the engine's native time representation, §1.3) and
        # derive TimestampType where queries need it
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# ---------------------------------------------------------------------------
# Scale-aware sizing (OPERATING.md's 100-200 MB/task rule as engine
# behavior, VERDICT r9 item 4). These derive tuning from the INPUT
# VOLUME the job is about to scan, so the same code self-sizes from
# sf0.01 laptop runs to a 100 TB lake without an operator remembering a
# knob. All estimates are deliberately coarse — AQE coalesces an
# over-partitioned shuffle down for free, while an UNDER-partitioned
# one OOMs (the r9 sf100 sweep lost supplier_pagerank to 32 partitions
# on a 32 GB heap), so every rounding here errs toward more partitions.
# ---------------------------------------------------------------------------

# the sweet spot Spark's own AQE targets (advisoryPartitionSizeInBytes
# defaults to 64 MB post-shuffle; 150 MB of COMPRESSED source per task
# lands the expanded working set in the same regime)
TARGET_BYTES_PER_TASK = 150 * 1024 * 1024
# parquet -> expanded-row shuffle inflation; snappy parquet on this
# corpus measures ~3x smaller than its shuffled row form
DEFAULT_EXPANSION = 3.0
SHUFFLE_PARTITION_CAP = 4096  # runaway-input backstop, not a tuning target


def input_bytes(spark: SparkSession, *paths: str) -> int:
    """Total on-storage bytes under ``paths`` via the Hadoop FileSystem
    API — works for local paths here and HDFS/S3/GCS on a cluster.
    Missing paths count 0 (callers size against what exists)."""
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    total = 0
    for p in paths:
        hp = jvm.org.apache.hadoop.fs.Path(p)
        fs = hp.getFileSystem(hconf)
        if fs.exists(hp):
            total += fs.getContentSummary(hp).getLength()
    return total


def parquet_expansion(
    *paths: str, sample_files_per_path: int = 8
) -> float | None:
    """Self-calibrated parquet→row expansion from file FOOTERS
    (VERDICT r10 item 5): sum of ``total_uncompressed_size`` over
    ``total_compressed_size`` across each path's column chunks. The
    fixed DEFAULT_EXPANSION=3.0 was measured on this corpus's
    string-heavy tables at sf100 (footers there agree: lineitem 3.09,
    orders 2.98, events 2.61) but over-partitions inputs that don't
    expand — double-array embeddings measure 1.05 — and would
    under-partition a future higher-ratio corpus. Uncompressed
    columnar size is the right proxy for the shuffled row form: fixed
    width types are byte-identical and string/binary pages carry the
    same payload bytes as their row form.

    Driver cost stays bounded at lake scale: at most
    ``sample_files_per_path`` footers per path, evenly spaced through
    the sorted listing so one giant skewed file can't dominate the
    sample. Returns None (callers fall back to the constant) for
    non-local/non-parquet paths or unreadable footers — the estimate
    degrades, never errors. Clamped to [1, 8]: a ratio below 1 means a
    pathological footer, above 8 a corrupt one."""
    import os as _os

    try:
        import pyarrow.parquet as pq
    except ImportError:
        return None
    comp = unc = 0
    for p in paths:
        if _os.path.isfile(p):
            files = [p]
        elif _os.path.isdir(p):
            files = sorted(
                _os.path.join(r, f)
                for r, _, fs in _os.walk(p)
                for f in fs
                if f.endswith(".parquet")
            )
        else:
            continue
        if len(files) > sample_files_per_path:
            step = len(files) // sample_files_per_path
            files = files[::step][:sample_files_per_path]
        for f in files:
            try:
                md = pq.ParquetFile(f).metadata
            except Exception:
                continue
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                for c in range(g.num_columns):
                    col = g.column(c)
                    comp += col.total_compressed_size
                    unc += col.total_uncompressed_size
    if comp <= 0:
        return None
    return min(8.0, max(1.0, unc / comp))


def derive_shuffle_partitions(
    source_bytes: int,
    *,
    bytes_per_task: int = TARGET_BYTES_PER_TASK,
    expansion: float = DEFAULT_EXPANSION,
    floor: int | None = None,
    cap: int = SHUFFLE_PARTITION_CAP,
) -> int:
    """Initial shuffle partition count for a job scanning
    ``source_bytes`` of (compressed) input: expanded volume divided by
    the per-task target, floored at the local parallelism (so small-SF
    runs keep today's 32 and stay plan-comparable) and capped. AQE
    still coalesces downward at runtime; this only sets the UPPER
    bound a single task must fit in memory under."""
    if floor is None:
        floor = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    # ceil, never truncate: the module invariant is that rounding errs
    # toward MORE partitions (AQE coalesces excess for free; a missing
    # partition near the memory cliff OOMs)
    need = -(-int(source_bytes * expansion) // bytes_per_task)
    if need > cap:
        # no silent caps (ADVICE r10): a clamp means per-task bytes
        # grow past the 150 MB target again — the exact failure this
        # module exists to prevent. Past ~200 GB of expanded input on
        # the default cap, raise it (it's a backstop against runaway
        # estimates, not a tuning target).
        import logging

        logging.getLogger("kafka_firehose_nozzle_spark").warning(
            "derive_shuffle_partitions: derived %d partitions clamped to "
            "cap %d; per-task input will exceed the %d MB target "
            "(~%d MB/task) — raise cap= for this input volume",
            need,
            cap,
            bytes_per_task >> 20,
            int(source_bytes * expansion / max(cap, 1)) >> 20,
        )
    return max(floor, min(cap, need))


def configure_shuffle_for_input(spark: SparkSession, *paths: str) -> int:
    """Set ``spark.sql.shuffle.partitions`` (a session-mutable conf)
    from the volume actually under ``paths``; returns the chosen count.
    The engine-behavior form of OPERATING.md's sizing rule: callers
    point it at the input dir(s) and stop passing --shuffle-partitions
    by hand. The expansion factor is read from the input's own parquet
    footers when available (self-calibrating; see parquet_expansion),
    with the measured corpus constant as fallback."""
    expansion = parquet_expansion(*paths) or DEFAULT_EXPANSION
    n = derive_shuffle_partitions(
        input_bytes(spark, *paths), expansion=expansion
    )
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    return n


def _heap_bytes(spark: SparkSession) -> int:
    """Per-JVM heap budget: executor memory on a cluster, DRIVER memory
    under a local master (where the driver IS the executor and
    spark.executor.memory — even if a spark-defaults.conf sets it — is
    ignored by Spark). Unit-less values are MiB, matching Spark's own
    byteStringAsMb parsing of the memory confs (a bare '4096' means
    4 GiB, not 4 KB)."""
    master = spark.conf.get("spark.master", "local")
    # "local" / "local[...]" only — "local-cluster[n,cores,mem]" DOES
    # launch separate executor JVMs whose (smaller) memory is the one
    # that matters
    if master == "local" or master.startswith("local["):
        raw = spark.conf.get("spark.driver.memory", "1g")
    else:
        raw = spark.conf.get(
            "spark.executor.memory",
            spark.conf.get("spark.driver.memory", "1g"),
        )
    units = {"k": 10, "m": 20, "g": 30, "t": 40}
    raw = raw.strip().lower().removesuffix("b")
    if raw and raw[-1] in units:
        return int(float(raw[:-1]) * (1 << units[raw[-1]]))
    return int(raw) << 20  # bare number = MiB (Spark semantics)


def checkpoint_storage_level(
    spark: SparkSession,
    source_bytes: int,
    *,
    expansion: float = 1.0,
    heap_fraction: float = 0.25,
):
    """Storage level for a localCheckpoint/persist of a materialization
    estimated at ``source_bytes * expansion``: the MEMORY_AND_DISK
    default while it comfortably fits (fastest — blocks stay
    deserialized on-heap), DISK_ONLY once it would contend with
    execution memory. Building deserialized on-heap blocks for a
    corpus near heap size across all task threads starves execution
    ("Unable to acquire ... got 0" — both r9 sf100 incidents:
    pagerank's ~19 GB edge list and roundtrip's ~30 GB JSON corpus on a
    32 GB heap), while DISK_ONLY costs one serialize/decode pass that
    is pure overhead at small SF (~4% on the sf0.1 bench). Gating on
    the estimate buys both: fast below the cliff, bounded above it.

    CONTRACT: the gate sizes ONE materialization at a time — it does
    not track other live persists in the session, so two concurrent
    ~20%-of-heap checkpoints would each individually pass the 25% gate
    while jointly starving execution (the r9 OOM signature). Callers
    holding a persist across a second persist must pass the SUM of
    live estimates as ``source_bytes``, or unpersist first. Every
    in-repo caller materializes, consumes, and releases sequentially
    (OPERATING.md §shuffle-sizing documents the rule)."""
    from pyspark.storagelevel import StorageLevel

    if source_bytes * expansion > heap_fraction * _heap_bytes(spark):
        return StorageLevel.DISK_ONLY
    return StorageLevel.MEMORY_AND_DISK
