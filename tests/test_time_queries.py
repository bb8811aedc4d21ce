"""tools/time_queries.py, the per-query timing tool, on the sf0.001 tables.

It must report every requested query with construction + stream +
planning + execution spans that add up to the run's wall time and the
py4j round trips of construction, keep sweeping
past a query that raises, and reject an unknown name before any query
runs.
"""

from __future__ import annotations

import os
import sys

from parquet_playground_spark import registry, session
from tests.conftest import SF_DIR

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)
import time_queries as tq  # noqa: E402

TINY = os.path.join(os.path.dirname(SF_DIR), "sf0.001")


def _rows(out: str) -> dict[str, str]:
    return {line.split()[0]: line for line in out.splitlines() if line.strip()}


def test_every_name_is_reported_with_spans_that_add_up(spark, capsys, tmp_path):
    names = ["q1_pricing_summary", "write_partitioned_parquet", "stream_tumbling_count"]
    argv = ["--sf", TINY, "--runs", "2", "--plans", str(tmp_path), *names]
    assert tq.main(argv) == 0
    rows = _rows(capsys.readouterr().out)
    for name in names:
        wall, construct, stream, plan, exec_ = map(float, rows[name].split()[1:6])
        assert wall > 0, name
        assert abs(construct + stream + plan + exec_ - wall) <= 0.05 * wall, rows[name]
        # a stream's run is its own span, not construction
        assert (stream > 0) == name.startswith("stream_"), rows[name]
        assert (tmp_path / f"{name}.txt").read_text().startswith("== Physical Plan ==")
    assert "queries=3 errors=0" in rows["TOTAL"]
    assert rows["query"].split()[6] == "py4j"
    assert int(rows["q1_pricing_summary"].split()[6]) > 0
    assert "isFinalPlan=true" in (tmp_path / "q1_pricing_summary.txt").read_text()


def test_a_query_that_raises_is_reported_and_the_sweep_goes_on(
    spark, capsys, monkeypatch
):
    def broken(spark, sf_dir):
        raise RuntimeError("broken at build")

    monkeypatch.setitem(registry.QUERIES, "zz_broken", broken)
    rc = tq.main(["--sf", TINY, "--runs", "1", "zz_broken", "q6_forecast_revenue"])
    rows = _rows(capsys.readouterr().out)
    assert rc == 1
    assert "ERROR broken at build" in rows["zz_broken"]
    assert float(rows["q6_forecast_revenue"].split()[1]) > 0
    assert "queries=1 errors=1" in rows["TOTAL"]


def test_an_unknown_name_is_rejected_before_any_query_runs(monkeypatch):
    ran = []
    monkeypatch.setitem(
        registry.QUERIES, "q1_pricing_summary", lambda spark, sf_dir: ran.append(1)
    )

    def no_session(*args, **kwargs):
        raise AssertionError("a session was started")

    monkeypatch.setattr(session, "get_spark", no_session)
    assert tq.main(["q1_pricing_summary", "no_such_query"]) == 2
    assert ran == []
