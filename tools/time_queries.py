"""Per-query timing: min of N noop-write runs, split into construction,
planning and execution, with the py4j round trips of construction.

Each query is materialized with a noop-format write (as bench.py does),
so the whole plan executes without collecting to the driver. Runs go in
passes over the query list, and each query keeps its fastest run:
shared hosts drift and stall, so the per-query MIN is the signal. The fastest
run is also split into spans, as perfbench/worker.py traces them:
construction (the Python query function building its DataFrame),
planning (Catalyst producing the executed plan) and execution (the
noop write). Streaming keys run their stream inside the query
function; the wall time of the streaming queries started there, from a
StreamingQueryListener's started/terminated events, is reported as
`stream` and left out of construction. `py4j` counts the fastest
run's round trips to the JVM during construction: calls of py4j's
`send_command` on the session's gateway client, the same method
perfbench/worker.py's tracer wraps. The Column API pays one or more
per expression node, a SQL template a few per statement.

Usage:
  python tools/time_queries.py [--sf DIR] [--runs N] [--plans DIR]
                               [--all | name ...]

  names    queries to time (default: bench.HEADLINE, the 21 headliners)
  --all    every registered query, printed slowest first (the sf0.01
           sweep of what costs the driver's correctness budget)
  --sf     fixture dir (default: bench.SF_DIR, i.e. $SPARK_GRAFT_SF_DIR
           or the sf0.1 fixtures; .localdata/sf0.1mrg from make_mrg.py
           for multi-file scans)
  --runs   runs per query (default 2, as bench.py; at least 1)
  --plans  write each query's formatted final (AQE) plan to DIR/<name>.txt

Unknown names are rejected before the session starts. A query that
raises is reported and the sweep goes on; the exit code is then 1.

A/B of two commits: this tool imports the checkout it lives in, so run
it from a `git archive` copy of the parent and from the change, in
alternating order, and compare the per-query minima.
"""

from __future__ import annotations

import argparse
import math
import os
import sys
import time
import traceback
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import bench  # noqa: E402  (HEADLINE and SF_DIR live there only)


@dataclass
class Timing:
    name: str
    wall_s: float = math.inf
    construct_s: float = 0.0
    stream_s: float = 0.0
    plan_s: float = 0.0
    exec_s: float = 0.0
    py4j_calls: int = 0
    error: str = ""


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf", default=bench.SF_DIR)
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--plans", default=None)
    ap.add_argument("--all", action="store_true")
    ap.add_argument("names", nargs="*")
    ns = ap.parse_args(argv)
    if ns.all and ns.names:
        ap.error("--all takes no query names")
    ns.runs = max(1, ns.runs)
    return ns


class StreamSpans:
    """Start and end times of streaming queries, from a
    StreamingQueryListener. `onQueryStarted` runs inside `start()`;
    `onQueryTerminated` arrives on the listener bus a little later."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        self.spark = spark
        self.started: dict[str, float] = {}
        self.ended: dict[str, float] = {}
        spans = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                spans.started[str(event.id)] = time.perf_counter()

            def onQueryProgress(self, event):
                pass

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                spans.ended[str(event.id)] = time.perf_counter()

        self.listener = Listener()
        spark.streams.addListener(self.listener)

    def seconds(self, t0: float, t1: float) -> float:
        """Wall time within [t0, t1] covered by streams started there."""
        if any(t0 <= s <= t1 for s in self.started.values()):
            self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        covered, edge = 0.0, t0
        for start, qid in sorted((s, q) for q, s in self.started.items() if t0 <= s <= t1):
            end = min(self.ended.get(qid, t1), t1)
            covered += max(0.0, end - max(start, edge))
            edge = max(edge, end)
        return covered

    def close(self) -> None:
        self.spark.streams.removeListener(self.listener)


class Py4jCalls:
    """Counts py4j round trips: `send_command` calls on the session's
    gateway client while `counting` is set."""

    def __init__(self, spark) -> None:
        self.client = spark.sparkContext._gateway._gateway_client
        self.original = self.client.send_command
        self.counting = False
        self.n = 0
        calls = self

        def send_command(*args, **kwargs):
            if calls.counting:
                calls.n += 1
            return calls.original(*args, **kwargs)

        self.client.send_command = send_command

    def close(self) -> None:
        self.client.send_command = self.original


def run_once(
    spark, fn, sf_dir: str, t: Timing, streams: StreamSpans, py4j: Py4jCalls
):
    """One noop-write run of `fn`, kept in `t` if it is the fastest;
    returns the run's DataFrame."""
    py4j.n, py4j.counting = 0, True
    t0 = time.perf_counter()
    try:
        df = fn(spark, sf_dir)
    finally:
        t1 = time.perf_counter()
        py4j.counting = False
    df._jdf.queryExecution().executedPlan()
    t2 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    t3 = time.perf_counter()
    if t3 - t0 < t.wall_s:
        stream_s = streams.seconds(t0, t1)
        t.wall_s, t.construct_s, t.stream_s = t3 - t0, t1 - t0 - stream_s, stream_s
        t.plan_s, t.exec_s, t.py4j_calls = t2 - t1, t3 - t2, py4j.n
    return df


def final_plan(df) -> str:
    """The formatted plan with AQE's final stages: executing the plan
    runs every stage but the last and marks the plan final."""
    qe = df._jdf.queryExecution()
    qe.executedPlan().execute()
    return df._sc._jvm.PythonSQLUtils.explainString(qe, "formatted")


def sweep(
    spark, names: list[str], sf_dir: str, runs: int, plans: str | None
) -> list[Timing]:
    """Time `names` over `runs` passes; a query that raises is recorded
    with its error and skipped in later passes. With `plans`, each
    query's last run writes its plan there before the next query runs
    (queries rewrite their scratch dirs, so an older run's DataFrame
    may no longer be readable)."""
    from parquet_playground_spark import registry

    timings = [Timing(name) for name in names]
    streams = StreamSpans(spark)
    py4j = Py4jCalls(spark)
    try:
        for i in range(runs):
            for t in timings:
                if t.error:
                    continue
                spark.sparkContext.setJobDescription(f"time_queries: {t.name}")
                try:
                    df = run_once(
                        spark, registry.QUERIES[t.name], sf_dir, t, streams, py4j
                    )
                    if plans and i == runs - 1:
                        with open(os.path.join(plans, f"{t.name}.txt"), "w") as fh:
                            fh.write(final_plan(df))
                except Exception as exc:  # noqa: BLE001 — report and keep sweeping
                    traceback.print_exc(limit=4)
                    t.error = (str(exc).strip().splitlines() or [type(exc).__name__])[0][:120]
    finally:
        spark.sparkContext.setJobDescription(None)
        streams.close()
        py4j.close()
    return timings


def report(timings: list[Timing], sf_dir: str, runs: int) -> None:
    print(f"{'query':36s} {'wall':>8s} {'construct':>9s} {'stream':>7s} "
          f"{'plan':>7s} {'exec':>8s} {'py4j':>6s}")
    for t in timings:
        if t.error:
            print(f"{t.name:36s} ERROR {t.error}")
        else:
            print(f"{t.name:36s} {t.wall_s:8.3f} {t.construct_s:9.3f} "
                  f"{t.stream_s:7.3f} {t.plan_s:7.3f} {t.exec_s:8.3f} {t.py4j_calls:6d}")
    ok = [t for t in timings if not t.error]
    print(f"{'TOTAL':36s} {sum(t.wall_s for t in ok):8.3f} "
          f"{sum(t.construct_s for t in ok):9.3f} {sum(t.stream_s for t in ok):7.3f} "
          f"{sum(t.plan_s for t in ok):7.3f} {sum(t.exec_s for t in ok):8.3f} "
          f"{sum(t.py4j_calls for t in ok):6d}  "
          f"queries={len(ok)} errors={len(timings) - len(ok)} "
          f"runs={runs} sf_dir={sf_dir}")


def main(argv: list[str] | None = None) -> int:
    ns = parse_args(argv)

    from parquet_playground_spark import registry
    from parquet_playground_spark.session import get_spark

    registry.load_all()
    names = list(registry.QUERIES) if ns.all else (ns.names or bench.HEADLINE)
    unknown = [n for n in names if n not in registry.QUERIES]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2

    spark = get_spark("time-queries")
    spark.sparkContext.setLogLevel("ERROR")
    # warmup: JVM + codegen, so the first timed query isn't charged for it
    registry.QUERIES["agg_global"](spark, ns.sf).write.format("noop").mode(
        "overwrite"
    ).save()

    if ns.plans:
        os.makedirs(ns.plans, exist_ok=True)
    timings = sweep(spark, names, ns.sf, ns.runs, ns.plans)
    if ns.all:
        timings.sort(key=lambda t: (bool(t.error), -t.wall_s))
    report(timings, ns.sf, ns.runs)
    return 1 if any(t.error for t in timings) else 0


if __name__ == "__main__":
    raise SystemExit(main())
