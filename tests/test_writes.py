"""Partitioned write paths (sources/writes.py).

The two keys that write a partitioned orders layout must not share a
directory, and their read-back must give the frame Spark's schema
inference gives, without running its footer-inference job.
"""

from __future__ import annotations

import pytest

from parquet_playground_spark import registry
from parquet_playground_spark.plans.inspect import formatted_plan
from parquet_playground_spark.sources.writes import _write_read_partitioned
from parquet_playground_spark.tables import load_table, scratch_path
from tests.conftest import SF_DIR


def test_a_partitioned_frame_survives_the_dpp_key(spark):
    """Both keys once wrote one scratch dir, so running the DPP key made
    the first key's frame raise FAILED_READ_FILE.FILE_NOT_EXIST."""
    first = registry.QUERIES["write_partitioned_parquet"](spark, SF_DIR)
    dpp = registry.QUERIES["join_dpp_partitioned"](spark, SF_DIR)
    assert dpp.count() == 1
    assert "dynamicpruning" in formatted_plan(dpp).lower()
    assert sorted(r["o_orderstatus"] for r in first.collect()) == ["F", "O", "P"]


def _jobs_in(spark, group: str, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("part_col", ["o_orderstatus", "o_orderpriority"])
def test_partitioned_read_back_matches_schema_inference(spark, part_col):
    orders = load_table(spark, SF_DIR, "orders")
    out = scratch_path(f"test_read_back_{part_col}")
    back = None

    def write_and_read():
        nonlocal back
        back = _write_read_partitioned(spark, orders, part_col, out)

    write_jobs = _jobs_in(
        spark,
        f"pp-write-{part_col}",
        lambda: orders.write.mode("overwrite").partitionBy(part_col).parquet(out),
    )
    assert _jobs_in(spark, f"pp-write-read-{part_col}", write_and_read) == write_jobs

    inferred = spark.read.parquet(out)
    assert back.dtypes == inferred.dtypes
    assert back.dtypes[-1] == (part_col, "string")
    assert sorted(back.collect()) == sorted(inferred.collect())
    assert back.count() == orders.count()
