"""SparkSession factory tuned for this engine.

Defaults chosen for the 100 TB design point (AQE on, skew-join handling,
Arrow for the vectorized UDF path) while remaining correct on local[N].
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _default_driver_mem() -> str:
    """Half the host's RAM, clamped to [8g, 64g].

    local[N] puts every executor thread inside the driver JVM, so a pinned
    8g heap makes 32 threads GC-thrash on inputs that a real cluster would
    spread over executors (observed: GCLocker allocation stalls and a dead
    session at sf10). Sizing to the host is what a cluster deployment does
    via spark.executor.memory; the env var still overrides."""
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
        return f"{max(8, min(kb // (1 << 20) // 2, 64))}g"
    except Exception:
        return "8g"


def _driver_jvm_opts(driver_mem: str) -> str:
    """JIT/GC churn guards for the (local-mode) driver JVM.

    r14 thread dumps taken DURING bench stalls show where the JVM burns
    kernel time on a 32-core host: C2 compiler threads with "No compile
    task" at ~56 s CPU per session spinning in futex wake/wait churn, and
    ~23 G1 worker threads at ~6.5 s CPU each because the heap grows from
    the 2 g default toward -Xmx on demand, keeping the young gen (a
    fraction of CURRENT heap) small and the GC cadence — each a
    23-thread futex herd wakeup — high. Four compiler threads are plenty
    for one session's codegen; a pre-touched -Xms floor (half -Xmx,
    capped at 8 g, never above -Xmx so an env-shrunk heap still boots)
    sizes the young gen up front and moves first-touch page-fault zeroing
    out of the timed queries into JVM startup. Measured (quiet host,
    interleaved): full-bench pairs 165.4→162.1 and 166.5→156.6 s; the
    bench-head block improves ~10 % at the median with the worst runs
    trimmed most — a variance/robustness guard, not an algorithm change
    (guide §1.2: configs fix the last few % or a stability problem).
    SPARK_GRAFT_DRIVER_JVM_OPTS overrides (empty string disables).
    Cluster deployments would mirror this on spark.executor.extraJavaOptions."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_JVM_OPTS")
    if env is not None:
        return env
    opts = "-XX:CICompilerCount=4"
    try:
        gb = int(driver_mem.rstrip("gG"))
        opts += f" -Xms{max(1, min(8, gb // 2))}g -XX:+AlwaysPreTouch"
    except ValueError:
        pass  # non-"<n>g" override: leave heap sizing alone
    return opts


def get_spark(
    app_name: str = "elastik-nearest-neighbors-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cpus, 32)
    driver_mem = os.environ.get("SPARK_DRIVER_MEM", _default_driver_mem())
    builder = SparkSession.builder.master(f"local[{cpus}]")
    jvm_opts = _driver_jvm_opts(driver_mem)
    if jvm_opts:
        builder = builder.config("spark.driver.extraJavaOptions", jvm_opts)
    spark = configure(
        builder
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", driver_mem)
        # pyspark's worker calls importlib.invalidate_caches() at the start
        # of every task, and each zipimporter then re-reads pyspark.zip's
        # whole directory: about 200 ms per task, even in a reused worker.
        # Measured at local[4] on back-to-back empty 4-task mapInArrow jobs,
        # Spark's "time to initialize Python workers" read a median of
        # 365 ms per task, and 75-110 ms with the engine's daemon, which
        # re-reads an archive only when it changed. Every worker forks
        # from the daemon.
        .config("spark.python.daemon.module", "elastik_nearest_neighbors_spark.worker_daemon")
        # r14: pip-installed Spark has no libhadoop, so the default
        # checksummed LocalFileSystem pays TWO chmod subprocess forks per
        # created file (data + .crc twin — RawLocalFileSystem.setPermission
        # falls back to Shell.execCommand). A partitioned store build
        # creates hundreds of files; thread dumps of stalled bench runs
        # caught tasks blocked in that fork for tens of seconds under I/O
        # pressure. RawLocalFileSystem keeps identical write/rename/read
        # semantics minus the .crc twins: half the creates, half the forks,
        # half the metadata churn. (Must be set at session build: the
        # FileSystem cache binds the file:// scheme on first use.)
        .config("spark.hadoop.fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
        # committer v2: task commit renames output straight into the final
        # directory, so the hundreds of per-partition-directory renames +
        # mkdirs (each mkdir = one more chmod fork) of a partitioned store
        # build run in parallel across tasks instead of serially on the
        # driver at job commit. The v1 safety argument (job-commit
        # atomicity) protects multi-writer tables; these stores are
        # single-writer and rebuilt from parquet inputs on any failure.
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        .getOrCreate()
    )
    # The daemon and every worker import the package, whatever the driver's
    # working directory: put the directory that holds it on the workers'
    # PYTHONPATH. SparkContext.environment holds spark.executorEnv.* and is
    # shipped with every Python function, so a caller's value is kept.
    env = spark.sparkContext.environment
    if _PACKAGE_ROOT not in env.get("PYTHONPATH", "").split(os.pathsep):
        env["PYTHONPATH"] = os.pathsep.join(filter(None, [_PACKAGE_ROOT, env.get("PYTHONPATH")]))
    return spark


# sessions already configured by this process, keyed by applicationId —
# configure() is called from every io.table() load (hundreds of times per
# bench session) and each conf.set is a synchronous py4j round-trip; the
# confs are process-constant, so repeat calls only REVALIDATE the two
# correctness-critical entries (3 round-trips instead of ~17; guide §5:
# keep the driver out of per-query work) and fall back to the full
# fail-loud path if anything drifted mid-session.
_CONFIGURED: set[str] = set()
_CRITICAL = (
    ("spark.sql.session.timeZone", "UTC"),
    ("spark.sql.legacy.parquet.nanosAsLong", "true"),
)


def configure(spark: SparkSession) -> SparkSession:
    """Apply runtime confs safe to set on an existing session (e.g. the
    driver's). Timestamp semantics must be UTC for oracle parity."""
    app = getattr(getattr(spark, "sparkContext", None), "applicationId", None)
    if app is not None and app in _CONFIGURED:
        if all(spark.conf.get(k, None) == v for k, v in _CRITICAL):
            return spark
        _CONFIGURED.discard(app)
    conf = {
        "spark.sql.session.timeZone": "UTC",
        # testdata parquet stores TIMESTAMP(NANOS) which Spark rejects;
        # read as long and convert (io.table) — floor(ns/1000) matches
        # DuckDB's nanos->micros truncation exactly
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # structured streaming stages don't get AQE coalescing; keep the
        # default shuffle width sane for local/small runs (AQE re-plans
        # batch stages anyway, so this is safe at any scale)
        "spark.sql.shuffle.partitions": "32",
        # streaming state lives in RocksDB, not the JVM heap: at 100 TB the
        # session/dedup state (one entry per open session / distinct key) far
        # exceeds executor heap; RocksDB spills to local disk with bounded
        # memory, and changelog checkpointing ships per-batch deltas instead
        # of full SST snapshots. Verified active by the rocksdb* custom
        # metrics in query progress (tests/test_operators.py).
        "spark.sql.streaming.stateStore.providerClass": (
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
        ),
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # vector columns are wide; keep Arrow batches modest so Python
        # workers never hold more than a few MB per batch
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        # r14 (guide §6): zstd beats snappy's size at similar read speed —
        # engine-written stores dirty fewer pages, and at 100 TB the same
        # conf is simply smaller output
        "spark.sql.parquet.compression.codec": "zstd",
        # r14 (guide §5): the pruned store reads pass up to Q·T explicit
        # partition directories; above this threshold Spark LISTS them via
        # a distributed job — a driver-blocking round trip that costs more
        # than the listing itself for KB-sized local directories. Keep
        # listing on the driver's thread pool for these bounded dir lists.
        "spark.sql.sources.parallelPartitionDiscovery.threshold": "512",
    }
    for k, v in conf.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # immutable on some builds; defaults are acceptable
    # Correctness-critical confs must NOT be silently swallowed: a session
    # where the timezone or nanos handling failed to apply would shift every
    # event-time window/watermark (or refuse the testdata parquet) and
    # produce silently-wrong results rather than an error. Fail loudly.
    for k in ("spark.sql.session.timeZone", "spark.sql.legacy.parquet.nanosAsLong"):
        got = spark.conf.get(k, None)
        if got != conf[k]:
            raise RuntimeError(
                f"session conf {k!r} did not apply (got {got!r}, need "
                f"{conf[k]!r}); event-time results would be wrong — refusing"
            )
    # Parquet cannot split a row group, and parquet-mr's 128 MiB default
    # makes most files Spark writes one row group, read by one task however
    # many splits the planner cuts (a 50k x 64-d index at local[4]: 1 busy
    # task of 4). 4 MiB is Spark's default spark.sql.files.openCostInBytes,
    # the smallest split the file scan makes. The session conf is copied
    # into the Hadoop conf of every write; a caller's value, in either, is
    # kept.
    if spark.conf.get("parquet.block.size", None) is None and (
        spark.sparkContext._jsc.hadoopConfiguration().get("parquet.block.size") is None
    ):
        spark.conf.set("parquet.block.size", str(4 << 20))
    if app is not None:
        _CONFIGURED.add(app)
    return spark
