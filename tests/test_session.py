"""Session config: one conf table for every session, scoped conf changes,
and the engine jar's local filesystem.

A session from ``get_spark`` and a session someone else built must run
with the same confs, and no query may leave a conf changed behind it.
``get_spark``'s local filesystem and the streaming checkpoint manager
write files with no ``chmod`` or ``readlink`` process and leave the
modes stock Hadoop leaves.
"""

from __future__ import annotations

import glob
import json
import os
import re
import stat
import subprocess
import sys
import tempfile
import zipfile
from types import SimpleNamespace

import pytest

from parquet_playground_spark import registry
from parquet_playground_spark.session import (
    ENGINE_JAR,
    SESSION_CONFS,
    ensure_session_defaults,
    scoped_confs,
)
from parquet_playground_spark.tables import load_table, scratch_path
from tests.conftest import SF_DIR

PARTS = "spark.sql.shuffle.partitions"
PROVIDER = "spark.sql.streaming.stateStore.providerClass"
CKPT_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_built_session_keeps_one_partition_per_core(spark):
    load_table(spark, SF_DIR, "region")
    assert spark.conf.get(PARTS) == str(spark.sparkContext.defaultParallelism)


def test_foreign_session_gets_the_whole_table(spark):
    foreign = spark.newSession()
    foreign.conf.set(PARTS, "200")
    foreign.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    foreign.conf.set("spark.sql.ansi.enabled", "false")
    ensure_session_defaults(foreign)
    # exact_sum raises on limb overflow only under ANSI
    assert foreign.conf.get("spark.sql.ansi.enabled") == "true"
    for key, value in SESSION_CONFS.items():
        assert foreign.conf.get(key) == value, key
    assert foreign.conf.get(PARTS) == str(spark.sparkContext.defaultParallelism)


class _RecordingConf:
    def __init__(self) -> None:
        self.set_keys: list[str] = []

    def get(self, key, default=None):
        return default

    def set(self, key, value) -> None:
        self.set_keys.append(key)


def test_foreign_session_keeps_its_python_worker_confs():
    """The Unix-socket and daemon confs are static, set only in
    get_spark's builder: a foreign session keeps the stock daemon over
    TCP, so ensure_session_defaults must set no spark.python.* conf."""
    conf = _RecordingConf()
    foreign = SimpleNamespace(conf=conf, sparkContext=SimpleNamespace(defaultParallelism=8))
    ensure_session_defaults(foreign)
    assert PARTS in conf.set_keys
    assert not [k for k in conf.set_keys if k.startswith("spark.python.")]


def test_scoped_confs_restores_set_and_unset_keys(spark):
    unset_key = "spark.pp.test.scoped"
    before = spark.conf.get(PARTS)
    with scoped_confs(spark, {PARTS: "7", unset_key: "x"}):
        assert spark.conf.get(PARTS) == "7"
        assert spark.conf.get(unset_key) == "x"
    assert spark.conf.get(PARTS) == before
    assert spark.conf.get(unset_key, None) is None

    with pytest.raises(RuntimeError, match="body"):
        with scoped_confs(spark, {PARTS: "7", unset_key: "x"}):
            raise RuntimeError("body")
    assert spark.conf.get(PARTS) == before
    assert spark.conf.get(unset_key, None) is None


@pytest.mark.parametrize(
    "name, keys",
    [
        ("stream_tumbling_count", (PARTS, PROVIDER, CKPT_MANAGER)),
        ("sql_scripting_control_flow", ("spark.sql.scripting.enabled",)),
        ("write_partition_overwrite", ("spark.sql.sources.partitionOverwriteMode",)),
        (
            "join_bloom_runtime_filter",
            (
                "spark.sql.optimizer.runtime.bloomFilter.enabled",
                "spark.sql.autoBroadcastJoinThreshold",
            ),
        ),
    ],
)
def test_query_leaves_session_confs_as_it_found_them(spark, name, keys):
    # a fresh session, so no earlier query has set any of the keys
    fresh = spark.newSession()
    ensure_session_defaults(fresh)
    before = {k: fresh.conf.get(k, None) for k in keys}
    assert registry.QUERIES[name](fresh, SF_DIR).collect()
    assert {k: fresh.conf.get(k, None) for k in keys} == before


def test_warehouse_is_this_process_scratch_dir(spark):
    """Managed tables land in a pid-scoped dir under the temp dir, so two
    processes running join_bucketed_colocated never share table dirs."""
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    assert warehouse == scratch_path("warehouse")
    assert os.path.dirname(warehouse) == tempfile.gettempdir()
    assert warehouse.endswith(f"_{os.getpid()}")


def test_compaction_file_count_does_not_follow_the_core_count(spark):
    """compact_small_files must write 4 files however many cores Spark
    packs the 32 small files' read splits for."""
    with scoped_confs(spark, {"spark.sql.leafNodeDefaultParallelism": "2"}):
        rows = registry.QUERIES["compact_small_files"](spark, SF_DIR).collect()
    assert {r["phase"]: r["n_files"] for r in rows} == {"small": 32, "compacted": 4}


def test_engine_jar_holds_every_java_source():
    """Each top-level class of java/*.java has its .class in
    pp-engine.jar, so a source added or renamed without a rebuild
    (tools/build_jar.sh) fails here, not on a user's first write."""
    entries = set(zipfile.ZipFile(ENGINE_JAR).namelist())
    declared = []
    for src in glob.glob(os.path.join(os.path.dirname(ENGINE_JAR), "*.java")):
        text = open(src).read()
        package = re.search(r"^package ([\w.]+);", text, re.M).group(1)
        for name in re.findall(
            r"^(?:public |final |abstract )*(?:class|interface|enum|record) (\w+)",
            text,
            re.M,
        ):
            declared.append(f"{package.replace('.', '/')}/{name}.class")
    assert len(declared) >= 3
    assert [c for c in declared if c not in entries] == []


def _fs_class(spark, conf) -> str:
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.FileSystem.newInstance(jvm.java.net.URI("file:///"), conf)
    try:
        return fs.getClass().getName()
    finally:
        fs.close()


def _modes(root: str) -> list[tuple[str, str]]:
    """(path under root with part-file ids blanked, octal mode) of every
    dir and file under root, root included."""
    out = []
    for dirpath, _, files in os.walk(root):
        for p in [dirpath] + [os.path.join(dirpath, f) for f in files]:
            rel = re.sub(r"part-\d+-[0-9a-f-]+", "part", os.path.relpath(p, root))
            out.append((rel, oct(stat.S_IMODE(os.stat(p).st_mode))))
    return sorted(out)


def test_local_fs_leaves_the_modes_stock_hadoop_leaves(spark, tmp_path):
    """get_spark's file:// filesystem is pp.NioLocalFileSystem, and a
    partitioned write through it leaves every file and dir with the
    mode a write through stock LocalFileSystem leaves (0644 / 0755)."""
    hconf = spark._jsc.hadoopConfiguration()
    assert _fs_class(spark, hconf) == "pp.NioLocalFileSystem"
    stock = {
        "fs.file.impl": "org.apache.hadoop.fs.LocalFileSystem",
        "fs.file.impl.disable.cache": "true",
    }
    conf = spark._jvm.org.apache.hadoop.conf.Configuration(hconf)
    for k, v in stock.items():
        conf.set(k, v)
    assert _fs_class(spark, conf) == "org.apache.hadoop.fs.LocalFileSystem"

    orders = load_table(spark, SF_DIR, "orders").select("o_orderkey", "o_orderstatus")
    nio, via_stock = str(tmp_path / "nio"), str(tmp_path / "stock")
    orders.write.partitionBy("o_orderstatus").parquet(nio)
    orders.write.options(**stock).partitionBy("o_orderstatus").parquet(via_stock)
    got, want = _modes(nio), _modes(via_stock)
    assert got == want
    assert {m for _, m in got} == {"0o644", "0o755"}
    assert len(got) > 6  # root, _SUCCESS, 3 partition dirs, part files, .crc


def test_local_fs_sets_special_modes_through_the_stock_method(spark, tmp_path):
    """Plain modes are set in-process; a mode with the sticky bit takes
    Hadoop's own path (a chmod process) and is still set exactly."""
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(
        jvm.java.net.URI("file:///"), spark._jsc.hadoopConfiguration()
    )
    for name, mode in [("plain", 0o750), ("sticky", 0o1777)]:
        path = str(tmp_path / name)
        assert fs.mkdirs(jvm.org.apache.hadoop.fs.Path(path))
        fs.setPermission(
            jvm.org.apache.hadoop.fs.Path(path),
            jvm.org.apache.hadoop.fs.permission.FsPermission(format(mode, "o")),
        )
        assert stat.S_IMODE(os.stat(path).st_mode) == mode, name


_NO_SHELL_RUN = """
import json, sys
sys.path.insert(0, sys.argv[1])
from parquet_playground_spark import registry
from parquet_playground_spark.session import get_spark
registry.load_all()
spark = get_spark("no-shell")
spark.sparkContext.setLogLevel("ERROR")
print(json.dumps({k: len(registry.QUERIES[k](spark, sys.argv[2]).collect())
                  for k in sys.argv[3:]}))
"""


def test_writes_and_streams_fork_no_chmod_or_readlink(oracle_con, tmp_path):
    """A get_spark session whose PATH holds every binary, with chmod and
    readlink replaced by scripts that log their call and fail, writes a
    partitioned table and runs a stateful stream to its oracle's row
    count, and neither script runs. Stock Hadoop, with no libhadoop.so,
    forks chmod for each file it creates, through fs.file.impl and
    through the FileContext checkpoint manager's own raw filesystem
    alike, and fails at the first with its Shell ExitCodeException.
    FileContext also forks readlink on each rename; Hadoop swallows that
    failure, so only the log shows it."""
    bin_dir, calls = tmp_path / "bin", tmp_path / "calls.log"
    bin_dir.mkdir()
    for name in ("chmod", "readlink"):
        trap = bin_dir / name
        trap.write_text(f'#!/bin/sh\necho {name} >> "{calls}"\nexit 1\n')
        trap.chmod(0o755)
    for d in ("/usr/bin", "/bin"):
        for name in os.listdir(d):
            target, link = os.path.join(d, name), bin_dir / name
            if not (os.path.lexists(link) or os.path.isdir(target)):
                link.symlink_to(target)
    env = dict(
        os.environ,
        PATH=str(bin_dir),
        PYSPARK_PYTHON=sys.executable,
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_DRIVER_MEM="1g",
    )
    keys = ["write_partitioned_parquet", "stream_tumbling_count"]
    run = subprocess.run(
        [sys.executable, "-c", _NO_SHELL_RUN, REPO, SF_DIR, *keys],
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert run.returncode == 0, run.stderr[-3000:]
    assert not calls.exists(), calls.read_text().split()
    got = json.loads(run.stdout.strip().splitlines()[-1])
    registry.load_all()
    want = {k: len(oracle_con.sql(registry.ORACLES[k]).fetchall()) for k in keys}
    assert got == want
