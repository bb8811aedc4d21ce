"""SparkSession factory and the one home of the engine's session config.

Every dynamic SQL conf the engine relies on lives in ``SESSION_CONFS``.
``ensure_session_defaults`` applies that table once per session, so a
session from ``get_spark`` and a session someone else built (the
external driver's bare ``local[8]``, ``tools/verify_local.py
--vanilla``) run with the same confs. ``get_spark`` puts only the
static confs (master, driver memory, warehouse dir, UI, classpath,
local filesystem, Python worker daemon and its Unix sockets) in the
builder and then goes through the same call.

  * ``spark.sql.shuffle.partitions`` is the context's
    ``defaultParallelism``: one post-shuffle partition per core, e.g. 8
    at ``local[8]``. AQE coalesces shuffles at runtime, so this is a
    ceiling, not a schedule; on a real cluster it is the executor core
    count.
  * Streaming runs enter ``stream_confs`` instead. A stateful stream
    pays per-partition state-store snapshot and maintenance work on
    every micro-batch, which dominates at local test scale (the
    tumbling query went 10.3 s -> 2.8 s from 32 to 8 partitions, and
    3.0 s -> 2.0 s from 8 to 2, in two separate measurements), so
    local mode uses 2. On a cluster state keys dwarf the core
    count, so it is ``max(8, defaultParallelism)``.
  * Scoped changes go through ``scoped_confs``, which restores the
    earlier values (or unsets the key) on exit, exceptions included.

The table holds AQE (runtime coalescing, skew splitting,
broadcast demotion); Parquet filter pushdown, nested schema pruning and
aggregate pushdown, which is how Catalyst does the reference's manual
footer pruning (MutableParquetMetadata.java:35-115); the INT96 and
nanosecond timestamp decode the reference does by hand
(ParquetConverter.java:40-61); Arrow for every pandas exchange; ANSI
overflow checks, which keep ``exact_sum``'s int64 limb sums exact or
loud; and a UTC session time zone for determinism against the DuckDB
oracle.

``get_spark`` also forks its Python workers from the engine's daemon,
``pyworker.py`` (``spark.python.daemon.module``, found through
``spark.executorEnv.PYTHONPATH``). Before each task a stock worker
re-reads the central directory of every zip on its path, pyspark.zip,
py4j and the spark-core jar, through ``importlib.invalidate_caches()``:
on a 4-core host each Python task of a ``get_spark`` session spent
130-250 ms in worker init (PythonRunner ``Times: ... init=``), where a
JVM-only job takes ~50 ms end to end. The daemon re-reads an archive
only when it has changed. A foreign session keeps the stock daemon:
its results are the same, only its Python tasks are slower.

``get_spark`` also moves the daemon, its workers and the accumulator
server from loopback TCP to Unix sockets
(``spark.python.unix.domain.socket.enabled``): over TCP each Python
task waited ~40 ms with no CPU in use. On 4 cores at sf0.1,
``udf_arrow_map``'s one Python task read a stage run time minus task
CPU of 37-38 ms over TCP and 5-6 ms over Unix sockets (medians of 14
runs). The sockets live in ``tables.socket_dir()``
(``spark.python.unix.domain.socket.dir``), which meets three rules:

  * It is short. PySpark binds ``<dir>/.<uuid4>.sock``, 43 bytes after
    the dir, and Linux caps a socket path at 107 bytes, so the dir is
    at most 64 bytes; Spark itself rejects a dir over 61 characters.
    ``scratch_path("uds")`` is used when it fits, else the same name
    directly under ``/tmp``. A socket path that does not fit fails
    ``get_spark`` itself (``OSError: AF_UNIX path too long``), since
    the accumulator server binds when the SparkContext starts; a dir
    over 61 characters fails every Python task.
  * It belongs to this process and is removed at its exit; a killed
    daemon leaves its socket behind.
  * It is mode 0700: in Unix-socket mode a worker skips PySpark's
    secret handshake, so the dir's mode is the only guard on a socket
    that runs code.

A foreign session keeps loopback TCP, the stock daemon's default: both
confs are static, so only ``get_spark``'s builder sets them.

Local file writes and stream checkpoints start no process. Without
``libhadoop.so``, which PySpark does not ship, Hadoop's local
filesystem forks ``chmod`` for every file and directory it creates.
Spark's default checkpoint file manager goes through ``FileContext``,
which does the same through a raw local filesystem of its own (not
``fs.file.impl``), and whose link resolution forks ``readlink`` about
twice per renamed file. Each exec costs milliseconds of driver or
task time (100 ``Shell.execCommand("true")`` calls over py4j: 2.2-4.6
ms each in two measurements on a 4-core host, against 0.8-1.1 ms for
a bare py4j call). Two confs remove both, with every file mode and
commit protocol as before:

  * ``spark.hadoop.fs.file.impl = pp.NioLocalFileSystem``
    (``java/NioLocalFileSystem.java`` in ``pp-engine.jar``) sets plain
    rwx modes with ``Files.setPosixFilePermissions``; a mode with the
    setuid, setgid or sticky bit goes to Hadoop's own method. Files
    stay 0644 and dirs 0755 (``tests/test_session.py``). The conf is
    static and needs the jar at JVM launch, so only ``get_spark`` sets
    it, and only when the jar exists; a foreign session keeps stock
    Hadoop.
  * ``stream_confs`` selects Spark's
    ``FileSystemBasedCheckpointFileManager``: offset, commit and source
    logs and RocksDB snapshot uploads go temp file, then one local
    ``rename(2)``, through ``fs.file.impl``. Every stream enters
    ``stream_confs``, so a foreign session gets this half too (its
    checkpoint files still fork ``chmod``).

Census of the binaries exec'd in one run of each key at sf0.01 (PATH
of logging wrappers), over the 16 ``stream_*`` and 15 ``write_*`` keys,
``sink_python_datasource``, ``compact_small_files`` and
``join_bucketed_colocated``: 1739 ``chmod`` and 2808 ``readlink``
before, none after. ``stream_tumbling_count`` went from 54 ``chmod`` +
136 ``readlink`` + 10 ``rm`` to 10 ``rm``, ``stream_stream_join`` from
221 + 512 + 56 to 57 ``rm``, ``write_partitioned_parquet`` from 16
``chmod`` to none. What is left is Spark's own ``rm -rf``
(``JavaUtils.deleteRecursively``), which no conf turns off.

On a 4-core host, ``perfbench`` ``curation_ingest`` (10 interleaved
pairs against the previous code, seeds 1001-1010) read ``pass_norm_s``
1.690 -> 1.226 s (median, -27.5%, lower in 10/10), ``pass_cpu_norm_s``
3.343 -> 2.416 s (-27.7%, 10/10) and ``query_geomean_norm_s`` 0.267 ->
0.228 s (-14.8%, 10/10). Per batch of ``stream_tumbling_count`` (a
``StreamingQueryListener``'s median over 3 warm runs, two such probes
a side), the state store's commit took 70-82 ms against 186-192 ms,
and the offset-log and commit-log writes 2-5 ms against 30-37 ms.
"""

from __future__ import annotations

import contextlib
import os
import stat
from collections.abc import Iterator, Mapping

from pyspark.sql import SparkSession

SESSION_CONFS = {
    # determinism against the oracle
    "spark.sql.session.timeZone": "UTC",
    # integer overflow raises instead of wrapping; exact_sum's int64
    # limb sums are exact only under this check (Spark 4's default,
    # pinned against a session that turned it off)
    "spark.sql.ansi.enabled": "true",
    # adaptive execution: coalesce shuffles, split skew, demote
    # sort-merge to broadcast at runtime
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # scan-side pruning
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.optimizer.nestedSchemaPruning.enabled": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # INT96 legacy timestamps
    "spark.sql.parquet.int96RebaseModeInRead": "CORRECTED",
    "spark.sql.parquet.datetimeRebaseModeInRead": "CORRECTED",
    # timestamp[ns] columns (events.ts): Spark 4 rejects INT64
    # TIMESTAMP(NANOS) outright; read as long nanos and convert in
    # tables.load_table
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Arrow for all pandas-UDF exchange
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
}

_APPLIED_MARKER = "spark.pp.session.defaults.applied"

_PACKAGE_DIR = os.path.dirname(os.path.abspath(__file__))

# the engine's Java classes (tools/build_jar.sh builds it from java/*.java)
ENGINE_JAR = os.path.join(_PACKAGE_DIR, "java", "pp-engine.jar")

_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
_FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def get_spark(app_name: str = "parquet-playground-spark") -> SparkSession:
    """Create (or fetch) the engine's SparkSession."""
    from parquet_playground_spark.tables import scratch_path, socket_dir

    sock_dir = _private_dir(socket_dir())
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # managed (bucketed) tables go to this process's own scratch
        # dir, outside the repo tree and apart from concurrent sessions
        .config("spark.sql.warehouse.dir", scratch_path("warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Python workers fork from the engine's daemon (pyworker.py),
        # which the worker's Python finds on this package's parent dir
        .config("spark.python.daemon.module", "parquet_playground_spark.pyworker")
        .config("spark.executorEnv.PYTHONPATH", os.path.dirname(_PACKAGE_DIR))
        # the daemon, its workers and the accumulator server talk over
        # Unix sockets in this process's private dir, not loopback TCP
        .config("spark.python.unix.domain.socket.enabled", "true")
        .config("spark.python.unix.domain.socket.dir", sock_dir)
    )
    # pp-engine.jar holds the Parquet modular-encryption factories
    # (sources/encrypted.py) and the local filesystem that sets file
    # modes without forking chmod (module docstring). Classpath entries
    # and fs.file.impl only apply at JVM launch, so an already-running
    # session keeps stock Hadoop and leaves the encrypted reads gated.
    if os.path.exists(ENGINE_JAR):
        builder = builder.config("spark.driver.extraClassPath", ENGINE_JAR)
        builder = builder.config("spark.hadoop.fs.file.impl", "pp.NioLocalFileSystem")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ensure_session_defaults(spark)
    return spark


def _private_dir(path: str) -> str:
    """Create ``path`` as a mode-0700 directory of this user and return
    it. A Unix-socket worker skips PySpark's secret handshake, so the
    directory's mode is the only guard on the sockets inside; a
    directory or link someone else made at the name is refused."""
    os.makedirs(path, mode=0o700, exist_ok=True)
    st = os.lstat(path)
    if not stat.S_ISDIR(st.st_mode) or st.st_uid != os.getuid():
        raise PermissionError(f"{path} is not a directory owned by this user")
    os.chmod(path, 0o700)
    return path


def ensure_session_defaults(spark: SparkSession) -> None:
    """Apply ``SESSION_CONFS`` and the shuffle partition count to
    ``spark``, once per session."""
    if spark.conf.get(_APPLIED_MARKER, "") == "1":
        return
    for key, value in SESSION_CONFS.items():
        spark.conf.set(key, value)
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(spark.sparkContext.defaultParallelism),
    )
    spark.conf.set(_APPLIED_MARKER, "1")


@contextlib.contextmanager
def scoped_confs(spark: SparkSession, confs: Mapping[str, str]) -> Iterator[None]:
    """Set ``confs`` for the body of a ``with`` block. On exit, even by
    an exception, each key gets its earlier value back, or is unset if
    the session had no value for it."""
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _stream_shuffle_partitions(master: str, default_parallelism: int) -> str:
    """State-store partition count: 2 in local mode, else
    ``max(8, defaultParallelism)`` (see the module docstring). The
    count is fixed per checkpoint at its first batch."""
    if master.startswith("local"):
        return "2"
    return str(max(default_parallelism, 8))


def stream_confs(spark: SparkSession) -> contextlib.AbstractContextManager:
    """Scope for one streaming run: the streaming partition count, the
    RocksDB state store and the ``FileSystem``-based checkpoint file
    manager. All three are read at query start.

    RocksDB keeps state in native memory and local disk, not the JVM
    heap; the default HDFS-backed store keeps every partition's state
    map on-heap and ran out of a 1 GiB heap on session windows over 6M
    events.

    Spark's default checkpoint file manager writes each offset,
    commit and source-log file and each RocksDB snapshot upload through
    ``FileContext``, which on a host without ``libhadoop.so`` forks
    ``chmod`` for the file and ``readlink`` about twice for its rename;
    the ``FileSystem``-based one writes through ``fs.file.impl`` and
    renames with one local ``rename(2)``. With ``get_spark``'s
    filesystem, one run of ``stream_tumbling_count`` went from 54
    ``chmod`` + 136 ``readlink`` processes to none, and the summed
    trigger time of its two batches from 898 ms to 450 ms (median pass
    of one traced ``perfbench`` pair; the module docstring has the
    full census and A/B).

    Both managers write to a temp file and rename it into place, so a
    batch is still committed only once its log file is whole. The
    ``FileSystem`` one refuses an existing log file by an existence
    check before the rename, not by an atomic no-overwrite rename;
    that is safe with one writer per checkpoint, which every checkpoint
    here has (a per-process ``scratch_path`` or Spark's own per-query
    temp dir)."""
    sc = spark.sparkContext
    return scoped_confs(
        spark,
        {
            "spark.sql.shuffle.partitions": _stream_shuffle_partitions(
                sc.master, sc.defaultParallelism
            ),
            "spark.sql.streaming.stateStore.providerClass": _ROCKSDB_PROVIDER,
            "spark.sql.streaming.checkpointFileManagerClass": _FS_CHECKPOINT_MANAGER,
        },
    )
