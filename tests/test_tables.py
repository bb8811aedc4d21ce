"""Table reuse in `tables.load_table`.

A table is resolved (footer schema, file listing) once per session,
and later loads hand back that frame re-aliased. These tests pin the
cache key: each case fails if the part of the key it exercises is
dropped. Others pin what is shared (one file index per session and
table) and what is not (expression ids, so self-joins still resolve;
another session's frame), and the parity test pins that a cached build
gives the same optimized plan and the same rows as a cold one.
"""

from __future__ import annotations

import itertools
import re

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from parquet_playground_spark import registry, tables
from parquet_playground_spark.session import scoped_confs
from tests.conftest import SF_DIR


_PROBE_IDS = itertools.count()


def _jobs_run_by(spark, fn):
    """Call fn() and return how many Spark jobs it started."""
    sc = spark.sparkContext
    group = f"test_tables_{next(_PROBE_IDS)}"
    sc.setJobGroup(group, "load_table schema probe")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_second_load_reuses_the_footer_schema(spark, tmp_path):
    pq.write_table(
        pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"]}),
        tmp_path / "region.parquet",
    )
    assert _jobs_run_by(
        spark, lambda: tables.load_table(spark, str(tmp_path), "region")
    ) == 1
    assert _jobs_run_by(
        spark, lambda: tables.load_table(spark, str(tmp_path), "region")
    ) == 0


def test_rewritten_table_is_reinferred(spark, tmp_path):
    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"r_regionkey": [0, 1]}), path)
    assert tables.load_table(spark, str(tmp_path), "region").dtypes == [
        ("r_regionkey", "bigint")
    ]
    pq.write_table(
        pa.table({
            "r_regionkey": pa.array([0, 1], pa.int32()),
            "r_name": ["AFRICA", "AMERICA"],
        }),
        path,
    )
    df = tables.load_table(spark, str(tmp_path), "region")
    assert df.dtypes == [("r_regionkey", "int"), ("r_name", "string")]
    assert sorted(df.collect()) == [(0, "AFRICA"), (1, "AMERICA")]


def test_nanos_as_long_toggle_reinfers_events_ts(spark, tmp_path):
    """events.ts stored as timestamp[ns] infers as bigint only under
    spark.sql.legacy.parquet.nanosAsLong; without it Spark rejects the
    column at inference. A cache keyed without the conf would hand back
    the bigint schema instead of re-inferring."""
    nanos = [1_700_000_000_123_456_789, 1_700_000_001_999_999_999]
    pq.write_table(
        pa.table({
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array(nanos, pa.timestamp("ns")),
        }),
        tmp_path / "events.parquet",
    )
    with scoped_confs(spark, {"spark.sql.legacy.parquet.nanosAsLong": "true"}):
        df = tables.load_table(spark, str(tmp_path), "events")
        assert dict(df.dtypes)["ts"] == "timestamp"
        got = df.orderBy("event_id").select(F.unix_micros("ts")).collect()
        assert [r[0] for r in got] == [n // 1000 for n in nanos]
        with scoped_confs(spark, {"spark.sql.legacy.parquet.nanosAsLong": "false"}):
            with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
                tables.load_table(spark, str(tmp_path), "events")


def test_added_file_reinfers_directory_table(spark, tmp_path):
    """A directory table (the tools/make_mrg.py shape): under schema
    merging, a new part file with an extra column widens the schema,
    which only a re-inference can see."""
    table_dir = tmp_path / "lineitem.parquet"
    table_dir.mkdir()
    pq.write_table(
        pa.table({"l_orderkey": [1, 2]}), table_dir / "part-00000.parquet"
    )
    with scoped_confs(spark, {"spark.sql.parquet.mergeSchema": "true"}):
        before = tables.load_table(spark, str(tmp_path), "lineitem")
        assert before.columns == ["l_orderkey"]
        pq.write_table(
            pa.table({"l_orderkey": [3], "l_quantity": [7.0]}),
            table_dir / "part-00001.parquet",
        )
        after = tables.load_table(spark, str(tmp_path), "lineitem")
        assert after.columns == ["l_orderkey", "l_quantity"]
        assert after.count() == 3


def _file_index_id(df):
    """JVM identity of the file index under `df`'s one table scan."""
    (relation,) = [
        leaf
        for leaf in _jvm_list(df._jdf.queryExecution().analyzed().collectLeaves())
        if leaf.nodeName() == "LogicalRelation"
    ]
    return df._sc._jvm.System.identityHashCode(relation.relation().location())


def _jvm_list(seq):
    return [seq.apply(i) for i in range(seq.size())]


def test_loads_in_one_session_share_the_file_index(spark):
    first = tables.load_table(spark, SF_DIR, "orders")
    second = tables.load_table(spark, SF_DIR, "orders")
    assert _file_index_id(first) == _file_index_id(second)


def test_two_loads_self_join_as_two_reads(spark):
    """Each load's columns get fresh expression ids, as two independent
    reads' do, and a self-join of two loads counts what two reads
    count."""
    a = tables.load_table(spark, SF_DIR, "lineitem")
    b = tables.load_table(spark, SF_DIR, "lineitem")
    a_ids, b_ids = (
        df._jdf.queryExecution().analyzed().output().toString() for df in (a, b)
    )
    assert a_ids != b_ids
    got = a.join(b, (a.l_orderkey == b.l_orderkey) & (a.l_suppkey != b.l_suppkey))
    path = tables.table_path(SF_DIR, "lineitem")
    x, y = spark.read.parquet(path), spark.read.parquet(path)
    want = x.join(y, (x.l_orderkey == y.l_orderkey) & (x.l_suppkey != y.l_suppkey))
    assert got.count() == want.count() > 0


def test_new_session_gets_its_own_frame(spark):
    """A frame is reused only within the session that resolved it."""
    mine = tables.load_table(spark, SF_DIR, "nation")
    other = spark.newSession()
    theirs = tables.load_table(other, SF_DIR, "nation")
    assert theirs._jdf.sparkSession().equals(other._jsparkSession)
    assert _file_index_id(theirs) != _file_index_id(mine)
    assert theirs.count() == mine.count() == 25


def _optimized_plan(df):
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return re.sub(r"#\d+L?", "#", plan)


@pytest.mark.parametrize(
    "name",
    [
        "q1_pricing_summary",
        "q5_local_supplier",
        "q18_large_orders",
        "topk_per_group",
    ],
)
def test_cached_build_matches_cold_build(spark, name):
    """Same optimized plan (expression ids normalized) and same rows
    whether the query's tables were read with an inferred or a reused
    footer schema."""
    registry.load_all()
    query = registry.QUERIES[name]
    tables._RESOLVED.clear()
    cold = query(spark, SF_DIR)
    cold_plan, cold_rows = _optimized_plan(cold), cold.collect()
    cached = query(spark, SF_DIR)
    assert _optimized_plan(cached) == cold_plan
    assert sorted(cached.collect(), key=repr) == sorted(cold_rows, key=repr)
