"""Session config: one conf table for every session, scoped conf changes.

A session from ``get_spark`` and a session someone else built must run
with the same confs, and no query may leave a conf changed behind it.
"""

from __future__ import annotations

import os
import tempfile
from types import SimpleNamespace

import pytest

from parquet_playground_spark import registry
from parquet_playground_spark.session import (
    SESSION_CONFS,
    ensure_session_defaults,
    scoped_confs,
)
from parquet_playground_spark.tables import load_table, scratch_path
from tests.conftest import SF_DIR

PARTS = "spark.sql.shuffle.partitions"
PROVIDER = "spark.sql.streaming.stateStore.providerClass"


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
        ("stream_tumbling_count", (PARTS, PROVIDER)),
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
