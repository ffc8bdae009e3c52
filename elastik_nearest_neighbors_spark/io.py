"""Table loading. Parquet-first: columnar scans give Catalyst predicate
pushdown and column pruning for free — .explain() on any operator here should
show PushedFilters/ReadSchema limited to what the query needs."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType

from .session import configure

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
ORACLE_SF_DIR = "/root/testdata/sf0.01"


# below this input size the table is at most a few row groups, so the scan
# cannot split and every downstream narrow op runs on one core
_WIDEN_BYTES = 128 << 20


def is_uri(path: str) -> bool:
    """True for scheme-addressed paths (s3a://, hdfs://, file:) that have
    no local filesystem entry — the switch between driver-local pyarrow
    reads (oracle builders, gated SFs) and Spark-job reads (cluster
    stores). Bare local paths stay False so the DuckDB oracle side never
    needs a SparkSession."""
    return "://" in path or path.startswith("file:")


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for any Hadoop-supported scheme."""
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), hpath


def fs_join(base: str, *parts: str) -> str:
    """Path join that stays correct for scheme-addressed paths: URIs always
    separate with '/', never the platform separator."""
    if is_uri(base):
        return "/".join([base.rstrip("/"), *parts])
    return os.path.join(base, *parts)


def fs_exists(spark: SparkSession, path: str) -> bool:
    """Existence check for any scheme. Bare local paths skip the JVM
    round-trip (this runs on every store-search marker probe)."""
    if is_uri(path):
        fs, hpath = _hadoop_fs(spark, path)
        return bool(fs.exists(hpath))
    return os.path.exists(path)


def fs_isdir(spark: SparkSession, path: str) -> bool:
    if is_uri(path):
        fs, hpath = _hadoop_fs(spark, path)
        return bool(fs.exists(hpath)) and bool(fs.getFileStatus(hpath).isDirectory())
    return os.path.isdir(path)


def fs_list(spark: SparkSession, path: str) -> list[str]:
    """Names of a directory's entries ([] if it is absent), any scheme."""
    if is_uri(path):
        fs, hpath = _hadoop_fs(spark, path)
        if not fs.exists(hpath):
            return []
        return [st.getPath().getName() for st in fs.listStatus(hpath)]
    return os.listdir(path) if os.path.isdir(path) else []


def fs_delete(spark: SparkSession, path: str) -> None:
    """Recursive delete, silent if absent — the upsert ops' emptied-partition
    removal, portable to object stores (shutil.rmtree would no-op against
    s3a:// and leave stale index files serving deleted vectors)."""
    if is_uri(path):
        fs, hpath = _hadoop_fs(spark, path)
        fs.delete(hpath, True)
        return
    if os.path.isdir(path):
        import shutil

        shutil.rmtree(path, ignore_errors=True)
        return
    try:
        os.remove(path)  # a FILE (e.g. a dirty/torn-write marker)
    except FileNotFoundError:
        pass


def fs_touch(spark: SparkSession, path: str) -> None:
    """Create an empty marker file (parents created), any scheme."""
    if is_uri(path):
        fs, hpath = _hadoop_fs(spark, path)
        fs.create(hpath, True).close()
        return
    d = os.path.dirname(path)
    if d:
        os.makedirs(d, exist_ok=True)
    open(path, "w").close()


def fs_rename(spark: SparkSession, src: str, dst: str) -> None:
    """Directory/file rename, any scheme — the compaction swap step
    (rewrite to a sibling dir, drop the old, rename into place). Hadoop
    FS rename for URI stores; os.rename locally."""
    if is_uri(src) or is_uri(dst):
        fs, hsrc = _hadoop_fs(spark, src)
        _fs2, hdst = _hadoop_fs(spark, dst)
        if not fs.rename(hsrc, hdst):
            raise OSError(f"rename failed: {src} -> {dst}")
        return
    os.rename(src, dst)


def fs_write_text(spark: SparkSession, path: str, text: str) -> None:
    if is_uri(path):
        fs, hpath = _hadoop_fs(spark, path)
        out = fs.create(hpath, True)
        out.write(bytearray(text.encode("utf-8")))
        out.close()
        return
    d = os.path.dirname(path)
    if d:
        os.makedirs(d, exist_ok=True)
    with open(path, "w") as fh:
        fh.write(text)


def local_df(spark: SparkSession, rows: list, ddl: str) -> DataFrame:
    """`rows` (tuples in `ddl`'s column order) as a DataFrame backed by a
    driver-local Arrow table. Spark plans it as a LocalRelation, so a join
    broadcasts it from a JVM job over rows already held in the JVM;
    createDataFrame over a Python list is instead a Python-RDD scan, whose
    every broadcast starts a job of Python-worker tasks just to unpickle
    the rows. Each column is built
    with its exact Arrow type, so a value the type cannot hold (a JSON
    true or a string as a bigint, an int beyond int64) raises here."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType

    schema = DataType.fromDDL(ddl)
    arrow = to_arrow_schema(schema)
    cols = [pa.array([r[i] for r in rows], type=f.type) for i, f in enumerate(arrow)]
    return spark.createDataFrame(pa.Table.from_arrays(cols, schema=arrow), schema)


def _input_bytes(path: str, spark: SparkSession | None = None) -> int:
    """Total bytes under `path`, for ANY Hadoop-supported scheme.

    The reference's demo pipeline pulls payloads from S3; the Spark-native
    equivalent is scheme-agnostic paths (s3a://, hdfs://, file:, bare local)
    resolved through the Hadoop FileSystem API, so every loader here works
    unchanged against a blob store. Bare local paths keep the cheap os.walk
    (no JVM round-trip)."""
    if is_uri(path):
        assert spark is not None, "URI paths need the session's Hadoop conf"
        jvm = spark.sparkContext._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
        return fs.getContentSummary(hpath).getLength()
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs
    )


def normalize_ts(df: DataFrame, field: str) -> DataFrame:
    """Normalize a timestamp-ish column to micro-precision TIMESTAMP — the
    single copy shared by batch (table) and streaming (ingest._event_time).

    TIMESTAMP(NANOS) parquet arrives as long under nanosAsLong: integer
    `div`, not `/` — float division loses precision at 1e18 ns; floor(ns/1000)
    matches DuckDB's nanos→micros truncation exactly. Micros-encoded parquet
    reads as TIMESTAMP_NTZ and is cast, which is value-preserving ONLY under
    a UTC session timezone — configure() sets that but swallows conf-set
    failures, so fail loudly here instead of silently shifting event times
    (and every window/watermark boundary downstream)."""
    dt = df.schema[field].dataType
    if isinstance(dt, LongType):
        return df.withColumn(field, F.timestamp_micros(F.expr(f"{field} div 1000")))
    if isinstance(dt, TimestampNTZType):
        tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
        if tz != "UTC":
            raise RuntimeError(
                f"spark.sql.session.timeZone={tz!r} but the NTZ→TIMESTAMP cast "
                "is value-preserving only under UTC; refusing to shift event times"
            )
        return df.withColumn(field, F.col(field).cast("timestamp"))
    return df


# path -> inferred parquet schema. A schema-less spark.read.parquet pays a
# driver-blocking Spark job on EVERY call (ParquetUtils.inferSchema launches
# a one-task mergeSchemasInParallel job that spins up a fresh thread pool
# and reads a footer); the bench session makes ~1000 such reads. The inputs
# are immutable testdata tables and engine-written stores whose schema is
# fixed by the writer, so the first read's inferred schema is authoritative
# for the process lifetime (guide §5: the driver should do almost no data
# work). The cache holds the RAW read schema — inference-identical because
# the first entry IS an inference result under the same session confs.
_SCHEMA_CACHE: dict[str, object] = {}


def read_parquet(spark: SparkSession, path: str, base: str | None = None, dirs: list[str] | None = None) -> DataFrame:
    """spark.read.parquet with the inferred schema memoized per store root.

    `base`/`dirs` mirror the partition-pruned store read (basePath + an
    explicit directory list, so tbl/bucket stay partition columns); the
    schema — including the discovered partition columns — is keyed on the
    store root and is identical for any directory subset. ONLY for paths
    whose schema is process-constant (engine store layouts, testdata);
    arbitrary user-mapped server indexes must not use it."""
    key = base or path
    schema = _SCHEMA_CACHE.get(key)
    reader = spark.read
    if base is not None:
        reader = reader.option("basePath", base)
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.parquet(*(dirs if dirs is not None else [path]))
    if schema is None:
        _SCHEMA_CACHE[key] = df.schema
    return df


def table(spark: SparkSession, sf_dir: str, name: str, widen: bool = False) -> DataFrame:
    """Load a table. `widen=True` round-robin-repartitions SMALL inputs to
    the session's core count: parquet splits at row-group granularity, so a
    single-row-group file pins the whole scan→project pipeline to one task.
    Only full-scan compute-heavy operators ask for it — a repartition is an
    Exchange, which would block predicate pushdown for filtered queries —
    and above _WIDEN_BYTES the scan splits naturally, so at real scale this
    is a no-op."""
    configure(spark)
    sep = "" if sf_dir.endswith("/") else "/"
    path = f"{sf_dir}{sep}{name}.parquet"
    df = read_parquet(spark, path)
    for field in ("ts", "o_orderdate", "l_shipdate"):
        if field in df.columns:
            df = normalize_ts(df, field)
    if widen and _input_bytes(path, spark) < _WIDEN_BYTES:
        df = df.repartition(spark.sparkContext.defaultParallelism)
    return df


# Per-(kind, sf_dir) scratch dirs for persisted index/stream outputs.
# Registry queries are re-invoked by the bench (3 repeats) and the gate; a
# fresh mkdtemp per call would leak one full index copy to /tmp per call and
# re-pay the write each time. One dir per (kind, sf_dir) for the process
# lifetime; callers that find the marker file treat the store as built.
_TMP_DIRS: dict[tuple[str, str], str] = {}


def scratch_dir(kind: str, sf_dir: str) -> str:
    """ENN_SCRATCH_URI reroutes every persisted store under a scheme-
    addressed base (file:///..., s3a://bucket/...) — the cluster-deployment
    seam, and the test hook proving the maintenance ops (upsert marker /
    emptied-dir deletion) run through the Hadoop FS layer, not os/shutil."""
    import tempfile
    import uuid

    key = (kind, sf_dir)
    d = _TMP_DIRS.get(key)
    if d is None:
        base = os.environ.get("ENN_SCRATCH_URI", "")
        if base:
            d = fs_join(base, f"enn_{kind}_{uuid.uuid4().hex[:8]}")
        else:
            d = tempfile.mkdtemp(prefix=f"enn_{kind}_")
        _TMP_DIRS[key] = d
    return d

