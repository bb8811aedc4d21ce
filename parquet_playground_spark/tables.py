"""Testdata table loader.

Tables are one parquet file per name under an sf dir
(/root/testdata/sf{0.001,0.01,0.1}). At 100 TB each "file" becomes a
partitioned directory; ``spark.read.parquet`` handles both shapes, so
nothing here changes at scale.

Each table is resolved once per session and reused. Resolving a table
infers its footer schema, with one Spark job per ``spark.read.parquet``
call even for a single file (``SchemaMergeUtils.mergeSchemasInParallel``),
lists its files into an ``InMemoryFileIndex`` and builds the relation:
~0.1 s of driver time per load with inference, and still 6-10 ms with
the schema given. ``load_table`` keeps the resolved frame per session
and hands out a re-aliased copy of it, whose columns get fresh
expression ids, so two loads of one table in one query still
self-join. The cache key holds everything the resolved relation
depends on: the session (weakly held), the table's real path, its file
signature ((size, mtime_ns) of the file, or of every file under a
directory table) and the SQL confs that schema inference and relation
resolution read. What is reused is the resolved relation only, i.e.
the schema and the file listing: every query still scans the table's
data, and no result is cached.
"""

from __future__ import annotations

import atexit
import glob as _glob
import os
import shutil
import string
import tempfile
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parquet_playground_spark.session import ensure_session_defaults


def scratch_path(name: str) -> str:
    """This process's scratch path for `name`: ``ppspark_<name>_<pid>``
    under the temp dir. Every staging dir, sink, checkpoint and the
    session warehouse goes through here.

    The pid suffix keeps concurrent sessions (e.g. pytest next to a
    verify sweep) from overwriting each other's files mid-read; the
    path is stable within a process, so per-session caching still
    works, and ``_cleanup_process_staging`` removes it at exit."""
    return os.path.join(tempfile.gettempdir(), f"ppspark_{name}_{os.getpid()}")


# Linux's sun_path holds 107 bytes and a NUL; PySpark binds each Unix
# socket at <dir>/.<uuid4>.sock, 43 bytes after the dir
_SUN_PATH_MAX = 107
_SOCK_NAME_LEN = len("/.") + 36 + len(".sock")
# Spark 4.1 rejects a spark.python.unix.domain.socket.dir longer than
# 61 characters, and only when a Python task starts, not at session start
_SPARK_SOCK_DIR_MAX = 61


def socket_dir() -> str:
    """This process's directory for Python-worker Unix sockets:
    ``scratch_path("uds")`` when both limits above allow it, else the
    same ``ppspark_uds_<pid>`` name directly under ``/tmp`` (a temp dir
    inside a deep checkout is too long). ``_cleanup_process_staging``
    removes it at exit either way."""
    path = scratch_path("uds")
    if (
        len(path) > _SPARK_SOCK_DIR_MAX
        or len(os.fsencode(path)) + _SOCK_NAME_LEN > _SUN_PATH_MAX
    ):
        path = os.path.join("/tmp", os.path.basename(path))
    return path


@atexit.register
def _cleanup_process_staging() -> None:
    """Remove this process's scratch paths on exit. Scoped strictly to
    this pid's paths: other live sessions are untouched."""
    for d in {*_glob.glob(scratch_path("*")), socket_dir()}:
        shutil.rmtree(d, ignore_errors=True)

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# The SQL confs that DataSource.resolveRelation and InMemoryFileIndex
# read when a table is resolved and that can change the relation they
# build; their values are part of the cache key. First, those of
# Parquet schema inference and conversion (ParquetUtils.inferSchema,
# ParquetToSparkSchemaConverter; a corrupt footer is skipped or raises).
_SCHEMA_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.ignoreVariantAnnotation",
    "spark.sql.caseSensitive",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.files.ignoreCorruptFiles",
)
# Then the relation's own: a V1 LogicalRelation or a V2 scan, and the
# time zone that partition values parse in and events.ts is cast in
_RELATION_CONFS = _SCHEMA_CONFS + (
    "spark.sql.sources.useV1SourceList",
    "spark.sql.session.timeZone",
)
# Partition discovery and the streaming-sink metadata log only apply
# to a directory table: a single file's base path is its parent, with
# no partition directory below it.
_DIRECTORY_CONFS = (
    "spark.sql.sources.partitionColumnTypeInference.enabled",
    "spark.sql.sources.validatePartitionColumns",
    "spark.sql.files.ignoreInvalidPartitionPaths",
    "spark.sql.streaming.fileStreamSink.ignoreMetadata",
)
# Read but left out of the key, since the relation does not keep them:
# the listing's parallelism (parallelPartitionDiscovery.*), locality
# and missing-file handling (ignoreDataLocality, ignoreMissingFiles:
# a vanished file changes the signature) and the file-status cache
# size; split sizes (files.maxPartitionBytes, openCostInBytes,
# min/maxPartitionNum) and the size estimate's compression factor are
# read when a query is planned, not when its table is resolved.

# session -> {(real path, file signature, conf values): (the resolved
# JVM Dataset, a JVM Seq of its column names)}. Weak on the session, so
# the cache never keeps a session alive, and a new or foreign session
# never gets another session's frame. JVM handles are kept, not
# DataFrames: a DataFrame holds its session and would keep the key
# alive. Concurrent misses on one key both resolve and store an equal
# frame, so no lock is needed.
_RESOLVED: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _file_signature(path: str) -> tuple:
    """(size, mtime_ns) of a table file; for a directory table, the
    sorted (relative name, size, mtime_ns) of every file under it, so
    adding, removing or rewriting any file changes the signature."""
    if not os.path.isdir(path):
        st = os.stat(path)
        return (st.st_size, st.st_mtime_ns)
    sig = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            full = os.path.join(root, f)
            st = os.stat(full)
            sig.append((os.path.relpath(full, path), st.st_size, st.st_mtime_ns))
    return tuple(sorted(sig))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Footer-schema-driven Parquet scan (reference: LoadParquet.java:49-53,
    ParquetConverter.java:98 — schema always from the footer, never
    user-declared). Vectorized, splittable, filter-pushdown-capable.

    A table is resolved on its first load in a session (cache key: see
    the module docstring); later loads return the same resolved frame
    re-aliased (``toDF``, one py4j round trip), so each load's columns
    get fresh expression ids. What is reused is the schema and the file
    listing, the same the footer gives, so plans and results are
    unchanged: every query still scans the data, and no result is
    cached."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    resolved = _RESOLVED.get(spark)
    if resolved is None:
        ensure_session_defaults(spark)
        resolved = _RESOLVED[spark] = {}
    path = table_path(sf_dir, name)
    confs = _RELATION_CONFS + (_DIRECTORY_CONFS if os.path.isdir(path) else ())
    key = (
        os.path.realpath(path),
        _file_signature(path),
        tuple(spark.conf.get(k) for k in confs),
    )
    hit = resolved.get(key)
    if hit is None:
        df = spark.read.parquet(path)
        if name == "events":
            df = _normalize_events_ts(df)
        jvm = spark.sparkContext._jvm
        hit = resolved[key] = (df._jdf, jvm.PythonUtils.toSeq(df.columns))
    jdf, columns = hit
    return DataFrame(jdf.toDF(columns), spark)


def _normalize_events_ts(df: DataFrame) -> DataFrame:
    """events.ts as a session-TZ TIMESTAMP, whichever way the testdata
    generation stored it."""
    ts_type = {f.name: f.dataType.simpleString() for f in df.schema}.get("ts")
    if ts_type == "bigint":
        # events.ts stored as parquet timestamp[ns]; with
        # spark.sql.legacy.parquet.nanosAsLong it arrives as long
        # nanos. Convert to a microsecond timestamp (truncation
        # matches the date_trunc('second'|…) discipline every oracle
        # already applies; reference nano-decode lineage:
        # ParquetConverter.java:40-61). integer DIV (not double /):
        # nanos ~1.7e18 exceed double's 2^53 exact range, and a
        # ±128 ns rounding error can flip a second boundary under
        # the oracles' date_trunc('second').
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    if ts_type == "timestamp_ntz":
        # events.ts stored as parquet timestamp[us] without UTC
        # adjustment — Spark 4 infers TIMESTAMP_NTZ. The session is
        # pinned to UTC, so casting to the session-TZ TIMESTAMP
        # keeps the stored wall clock as the same instant while
        # restoring the type every downstream query (unix_micros,
        # window(), watermarks) was written against.
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def sql_on_tables(
    spark: SparkSession, sf_dir: str, template: str, **frames: DataFrame
) -> DataFrame:
    """``spark.sql(template)`` with each table placeholder (``{lineitem}``,
    ``{orders}``) bound to that table's ``load_table`` frame and any
    other placeholder to the frame of that name in ``frames``.

    Each table gets one frame, so a template that names a table twice
    reads one relation. ``spark.sql`` registers every frame under a
    generated name and drops it before returning, so no query leaves a
    view in the caller's session. A template's oracle is the same text
    with each table placeholder filled in with the table's own name."""
    fields = {f for _, f, _, _ in string.Formatter().parse(template) if f}
    tables = {t: load_table(spark, sf_dir, t) for t in TABLES if t in fields}
    return spark.sql(template, **tables, **frames)
