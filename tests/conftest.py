"""Shared fixtures: one SparkSession, one DuckDB connection and one
record per registered query per run."""

from __future__ import annotations

import os
import sys
import traceback
from dataclasses import dataclass, field

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from parquet_playground_spark import registry
    from parquet_playground_spark.session import get_spark

    registry.load_all()
    s = get_spark("pytest")
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def oracle_con():
    from tools.verify_local import oracle_connection

    con = oracle_connection(SF_DIR)
    yield con
    con.close()


def session_objects(spark) -> tuple[list[str], list[str]]:
    """The session's temp views and user functions. SQL SHOW, not
    spark.catalog.listFunctions(): that converts every builtin over
    py4j and costs minutes across the sweep."""
    views = sorted(
        r.viewName for r in spark.sql("SHOW VIEWS").collect() if r.isTemporary
    )
    functions = sorted(r.function for r in spark.sql("SHOW USER FUNCTIONS").collect())
    return views, functions


@dataclass
class QueryRecord:
    """What the per-key tests check of one registered query, taken
    from one build: small results only, no frame and no rows.

    `errors` maps each step that raised ("build", "plan", "types",
    "rows") to its exception and traceback; a step after a failed one
    it depends on does not run. `need` re-raises, so a test fails on
    exactly the steps it reads and never skips."""

    before: tuple[list[str], list[str]]  # session_objects before the build
    after: tuple[list[str], list[str]] | None = None  # ... after release
    nodes: list[str] = field(default_factory=list)  # initial plan, pre-order
    spark_schema: list[tuple[str, str]] = field(default_factory=list)  # (column, type token)
    duck_schema: list[tuple[str, str]] = field(default_factory=list)
    n_spark: int = 0
    n_duck: int = 0
    values_equal: bool = False  # canon_rows of both sides
    first_diffs: list[tuple[str, str]] = field(default_factory=list)
    errors: dict[str, tuple[BaseException, object]] = field(default_factory=dict)

    def need(self, *steps: str) -> QueryRecord:
        for step in ("build", *steps):
            if step in self.errors:
                exc, tb = self.errors[step]
                # the step's own traceback: a bare re-raise would stack
                # every earlier reader's frames onto it
                raise exc.with_traceback(tb)
        return self


class QueryRecords:
    """One lazily filled QueryRecord per key. A key's first read
    snapshots the session objects, builds the frame once, walks its
    initial plan before anything executes, binds the DuckDB oracle once
    for both schemas, collects the frame and fetches the same relation,
    then releases the query's tracked caches and snapshots again."""

    def __init__(self, spark, con):
        self._spark, self._con = spark, con
        self._records: dict[str, QueryRecord] = {}

    def __call__(self, name: str) -> QueryRecord:
        if name not in self._records:
            self._records[name] = self._fill(name)
        return self._records[name]

    def _fill(self, name: str) -> QueryRecord:
        from parquet_playground_spark import registry

        rec = QueryRecord(before=session_objects(self._spark))
        try:
            self._run(name, rec)
        finally:
            registry.release_tracked_caches()
            rec.after = session_objects(self._spark)
        # drop the failed steps' locals (the frame, the relation)
        for _, tb in rec.errors.values():
            traceback.clear_frames(tb)
        return rec

    def _run(self, name: str, rec: QueryRecord) -> None:
        from parquet_playground_spark import registry
        from parquet_playground_spark.plans.inspect import plan_nodes
        from tools.verify_local import canon_rows, duck_token, spark_token

        def failed(step: str, exc: Exception) -> None:
            rec.errors[step] = (exc, exc.__traceback__)

        try:
            df = registry.QUERIES[name](self._spark, SF_DIR)
        except Exception as exc:
            return failed("build", exc)
        try:
            rec.nodes = [n.name for n in plan_nodes(df)]
        except Exception as exc:
            failed("plan", exc)
        try:
            rel = self._con.sql(registry.ORACLES[name])
            rec.spark_schema = [(f.name, spark_token(f.dataType)) for f in df.schema.fields]
            rec.duck_schema = list(zip(rel.columns, map(duck_token, rel.types)))
        except Exception as exc:
            return failed("types", exc)
        try:
            srows = [tuple(r) for r in df.collect()]
            orows = rel.fetchall()
        except Exception as exc:
            return failed("rows", exc)
        rec.n_spark, rec.n_duck = len(srows), len(orows)
        sc, oc = canon_rows(df.columns, srows), canon_rows(rel.columns, orows)
        rec.values_equal = sc == oc
        rec.first_diffs = [(a, b) for a, b in zip(sc, oc) if a != b][:3]


@pytest.fixture(scope="session")
def query_record(spark, oracle_con):
    """`query_record(name)`: the session's QueryRecord of a key, filled
    on its first read by whichever per-key test comes first."""
    return QueryRecords(spark, oracle_con)
