"""One run of one workload, in a fresh process started by run.py.

Phases, in order:

1. set-up: import and `registry.load_all`, `session.get_spark`, read
   every input file once (page cache);
2. check: every query once, its collected result fingerprinted against
   its DuckDB oracle; this is the cold pass, and it is not part of
   `setup_s`;
3. one untimed warm pass, the last of set-up;
4. timed passes, each in an order fixed by the seed, until `--seconds`
   are used and at least four have run; with `--trace 1` every other
   pass is traced;
5. traced runs only: the JVM heap still in use after full GCs.

After every pass, `hostref` times its fixed reference work, so run.py
can scale the engine's times to a nominal host speed.

All timing is taken around calls into the engine; no engine file is
changed. The result is written as JSON to `--result`.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import sys
import time
import traceback
from collections.abc import Callable
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]  # the benchmark, then the engine

import measure  # noqa: E402
from hostref import HostRef  # noqa: E402
from workloads import WORKLOADS, pass_order  # noqa: E402

MB = float(1 << 20)
MIN_TIMED_PASSES = 4
WARM_PASSES = 1
HEAP_MIN_GC_ROUNDS = 4
HEAP_MAX_GC_ROUNDS = 10
HEAP_SETTLED_MB = 1.0


T_IMPORT = time.time()


def log(msg: str) -> None:
    print(f"[perfbench +{time.time() - T_IMPORT:.1f}s] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------- tracing

@dataclass
class Counters:
    """Per-pass sums of what the traced spans and counters saw."""
    construct_s: float = 0.0
    plan_s: float = 0.0
    exec_s: float = 0.0
    py4j_calls: int = 0
    load_table_calls: int = 0
    load_table_s: float = 0.0
    write_bytes: int = 0
    write_files: int = 0
    stage: dict[str, float] = field(default_factory=dict)


class Tracer:
    """Spans around the engine's layer entry points, recorded from outside.

    `load_table` is wrapped in every engine module that imported it, and
    py4j's `send_command` is wrapped on the session's gateway client, so
    both are counted without touching engine code. Counting happens only
    while `active` is set; the wrappers themselves stay installed.
    """

    def __init__(self, spark, tmp_dir: str) -> None:
        self.spark = spark
        self.tmp_dir = tmp_dir
        self.active = False
        self.c = Counters()
        self.stream = {"batches": 0, "trigger_ms": 0.0, "add_batch_ms": 0.0,
                       "query_planning_ms": 0.0}
        self._listener = None
        self._wrap_load_table()
        self._wrap_py4j()
        self._last_job = self._max_job_id()

    def _wrap_load_table(self) -> None:
        from parquet_playground_spark import tables

        original = tables.load_table

        def load_table(*args, **kwargs):
            if not self.active:
                return original(*args, **kwargs)
            t0 = time.perf_counter()
            try:
                return original(*args, **kwargs)
            finally:
                self.c.load_table_calls += 1
                self.c.load_table_s += time.perf_counter() - t0

        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("parquet_playground_spark") \
                    and getattr(mod, "load_table", None) is original:
                mod.load_table = load_table

    def _wrap_py4j(self) -> None:
        client = self.spark.sparkContext._gateway._gateway_client
        original = client.send_command

        def send_command(*args, **kwargs):
            if self.active:
                self.c.py4j_calls += 1
            return original(*args, **kwargs)

        client.send_command = send_command

    # -- stage metrics from the status store, by job-id range ------------

    def _store(self):
        return self.spark.sparkContext._jsc.sc().statusStore()

    def _max_job_id(self) -> int:
        jobs = self._store().jobsList(None)
        return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)

    def _drain_listener_bus(self) -> None:
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)

    def stage_totals(self) -> dict[str, float]:
        """Sum the stage metrics of every job started since the last call."""
        self._drain_listener_bus()
        store = self._store()
        jobs = store.jobsList(None)
        new_jobs, stage_ids = 0, set()
        top = self._last_job
        for i in range(jobs.size()):
            job = jobs.apply(i)
            jid = job.jobId()
            if jid <= self._last_job:
                continue
            new_jobs += 1
            top = max(top, jid)
            sids = job.stageIds()
            stage_ids.update(sids.apply(k) for k in range(sids.size()))
        self._last_job = top
        t = dict.fromkeys(("stages", "tasks", "task_cpu_s", "gc_s", "input_rows",
                           "shuffle_write_mb", "shuffle_read_mb", "fetch_wait_s",
                           "spill_mb"), 0.0)
        t["jobs"] = float(new_jobs)
        for sid in stage_ids:
            try:
                s = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — py4j error: stage skipped, never ran
                continue
            if s.numCompleteTasks() + s.numFailedTasks() == 0:
                continue
            t["stages"] += 1
            t["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            t["task_cpu_s"] += s.executorCpuTime() / 1e9
            t["gc_s"] += s.jvmGcTime() / 1e3
            t["input_rows"] += s.inputRecords()
            t["shuffle_write_mb"] += s.shuffleWriteBytes() / MB
            t["shuffle_read_mb"] += s.shuffleReadBytes() / MB
            t["fetch_wait_s"] += s.shuffleFetchWaitTime() / 1e3
            t["spill_mb"] += s.diskBytesSpilled() / MB
        return t

    # -- bytes the engine wrote to its staging dirs ----------------------

    def written_since(self, t_wall: float) -> tuple[int, int]:
        """(bytes, files) modified since `t_wall` under the engine's
        `pp*` staging dirs in the run's temp dir."""
        nbytes = nfiles = 0
        for entry in os.scandir(self.tmp_dir):
            if not entry.name.startswith("pp"):
                continue
            for root, _dirs, files in os.walk(entry.path):
                for f in files:
                    try:
                        st = os.stat(os.path.join(root, f))
                    except OSError:
                        continue
                    if st.st_mtime >= t_wall:
                        nbytes += st.st_size
                        nfiles += 1
        return nbytes, nfiles

    # -- streaming progress ---------------------------------------------

    def start_streaming_listener(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        stream = self.stream

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                d = event.progress.durationMs or {}
                stream["batches"] += 1
                stream["trigger_ms"] += d.get("triggerExecution", 0)
                stream["add_batch_ms"] += d.get("addBatch", 0)
                stream["query_planning_ms"] += d.get("queryPlanning", 0)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = Listener()
        self.spark.streams.addListener(self._listener)

    def stop_streaming_listener(self) -> None:
        self._drain_listener_bus()
        self.spark.streams.removeListener(self._listener)
        self._listener = None

    def take(self) -> Counters:
        c, self.c = self.c, Counters()
        return c


# ------------------------------------------------------------ the run

@dataclass
class PassResult:
    wall_s: float
    cpu_s: float
    pyworker_cpu_s: float
    ref_ms: float  # a host reference probe right after the pass
    samples: dict[str, float]  # query name -> seconds
    failed: int
    traced: Counters | None = None
    stream: dict[str, float] | None = None


class Run:
    def __init__(self, ns: argparse.Namespace) -> None:
        self.ns = ns
        self.queries = WORKLOADS[ns.workload]
        self.pid = os.getpid()
        self.tracer: Tracer | None = None

    def timed(self, fn: Callable[[], object]) -> tuple[object, float]:
        t0 = time.perf_counter()
        out = fn()
        return out, time.perf_counter() - t0

    def setup(self) -> None:
        from parquet_playground_spark import registry
        from parquet_playground_spark.session import get_spark

        self.registry = registry
        _, self.load_all_s = self.timed(registry.load_all)
        self.spark, self.session_start_s = self.timed(lambda: get_spark("perfbench"))
        self.spark.sparkContext.setLogLevel("ERROR")
        for name in os.listdir(self.ns.data):
            with open(os.path.join(self.ns.data, name), "rb") as fh:
                while fh.read(1 << 22):
                    pass
        if self.ns.trace:
            self.tracer = Tracer(self.spark, os.environ.get("TMPDIR", "/tmp"))

    def run_pass(self, index: int, traced: bool) -> PassResult:
        """One pass over the workload in the seed's order for `index`."""
        tr = self.tracer if traced else None
        if tr:
            tr.active = True
            tr.start_streaming_listener()
        samples: dict[str, float] = {}
        failed = 0
        walk_s = 0.0  # traced: time spent listing written files, not the engine's
        cpu0 = measure.tree_cpu_s(self.pid)
        py0 = measure.tree_cpu_s(self.pid, only="python")
        t_pass = time.perf_counter()
        for name in pass_order(self.ns.workload, self.ns.seed, index):
            t0 = time.perf_counter()
            t_wall = time.time()
            try:
                df = self.registry.QUERIES[name](self.spark, self.ns.data)
                t1 = time.perf_counter()
                if tr:
                    df._jdf.queryExecution().executedPlan()
                t2 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                t3 = time.perf_counter()
            except Exception:  # noqa: BLE001 — count it, keep measuring the rest
                log(f"pass {index}: {name} raised\n{traceback.format_exc(limit=4)}")
                samples[name] = measure.FAILED_SAMPLE
                failed += 1
                continue
            samples[name] = t3 - t0
            if tr:
                tr.c.construct_s += t1 - t0
                tr.c.plan_s += t2 - t1
                tr.c.exec_s += t3 - t2
                nbytes, nfiles = tr.written_since(t_wall)
                tr.c.write_bytes += nbytes
                tr.c.write_files += nfiles
                walk_s += time.perf_counter() - t3
        wall = time.perf_counter() - t_pass - walk_s
        res = PassResult(
            wall_s=wall,
            cpu_s=measure.tree_cpu_s(self.pid) - cpu0,
            pyworker_cpu_s=measure.tree_cpu_s(self.pid, only="python") - py0,
            samples=samples,
            failed=failed,
            ref_ms=self.hostref.probe(),
        )
        if tr:
            tr.active = False
            tr.stop_streaming_listener()
            res.traced = tr.take()
            res.traced.stage = tr.stage_totals()
            res.stream = dict(tr.stream)
            tr.stream.update(dict.fromkeys(tr.stream, 0))
        elif self.tracer:
            self.tracer.stage_totals()  # consume the untraced pass's jobs
        return res

    def check(self) -> tuple[int, list[str]]:
        """Compare every query's result with its DuckDB oracle once."""
        import duckdb

        con = duckdb.connect()
        con.execute("SET threads = 2")
        for name in os.listdir(self.ns.data):
            table = name.removesuffix(".parquet")
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM "
                        f"'{os.path.join(self.ns.data, name)}'")
        mismatched = []
        for name in pass_order(self.ns.workload, self.ns.seed, -1):
            try:
                df = self.registry.QUERIES[name](self.spark, self.ns.data)
                got = measure.fingerprint(df.columns, df.collect())
                rel = con.sql(self.registry.ORACLES[name])
                want = measure.fingerprint(rel.columns, rel.fetchall())
            except Exception:  # noqa: BLE001 — count it as a wrong result
                log(f"check: {name} raised\n{traceback.format_exc(limit=4)}")
                mismatched.append(name)
                continue
            if got != want:
                log(f"check: {name} differs from its oracle: rows {got[0]} vs {want[0]}")
                mismatched.append(name)
        con.close()
        return len(self.queries), mismatched

    def heap_retained_mb(self) -> float:
        """JVM heap in use after full GCs, repeated until it settles.

        A GC can leave referents that only a cleaner thread (Spark's
        ContextCleaner, py4j releases) frees afterwards; on this engine the
        old generation can hold ~64 MB more for up to four rounds, and two
        of those rounds can agree. So there are at least four rounds, and
        they go on until three readings in a row agree; the least reading
        is the result. The registry
        also holds the last query's persisted frames and memory sinks until
        the next query starts; they are released first."""
        self.registry.release_tracked_caches()
        jvm = self.spark.sparkContext._jvm
        mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        used: list[float] = []
        while len(used) < HEAP_MAX_GC_ROUNDS and (
            len(used) < HEAP_MIN_GC_ROUNDS or max(used[-3:]) - min(used[-3:]) > HEAP_SETTLED_MB
        ):
            gc.collect()
            jvm.java.lang.System.gc()
            time.sleep(0.3)
            used.append(mem.getHeapMemoryUsage().getUsed() / MB)
        log(f"heap after each GC round (MB): {[round(u, 1) for u in used]}")
        return min(used)

    def main(self) -> dict:
        ns = self.ns
        # The reference processes start before the engine, and their start
        # is left out of setup_s like the check.
        t_ref = time.perf_counter()
        self.hostref = HostRef()
        ref_start_s = time.perf_counter() - t_ref
        self.setup()
        # The check is the cold pass (JIT, codegen, Python workers). A warm
        # pass follows. The JIT keeps compiling for several passes more, so
        # the first timed passes are still slower than later ones; the
        # statistics in run.py take each query's fastest sample, which a
        # later pass provides. Only the check is left out of setup_s.
        t_check = time.perf_counter()
        n_checked, mismatched = self.check()
        check_s = time.perf_counter() - t_check
        warm = [self.run_pass(-i, traced=False) for i in range(1, WARM_PASSES + 1)]
        setup_s = time.time() - ns.t0 - check_s - ref_start_s
        log(f"set-up {setup_s:.2f} s, check {check_s:.2f} s, "
            f"{len(mismatched)}/{n_checked} mismatched {mismatched}")

        # Untraced runs time passes back to back. Traced runs alternate
        # untraced and traced passes, so the untraced ones give the
        # tracing overhead.
        host1 = measure.read_host_ticks()
        passes: list[PassResult] = []
        t_timed = time.perf_counter()
        while len(passes) < MIN_TIMED_PASSES or (
            time.perf_counter() - t_timed + measure.median([p.wall_s for p in passes]) <= ns.seconds
        ):
            i = len(passes) + 1
            passes.append(self.run_pass(i, traced=bool(ns.trace) and i % 2 == 0))
        host2 = measure.read_host_ticks()
        # Only a traced run reports the heap, so only it pays for the GC rounds.
        heap_mb = self.heap_retained_mb() if ns.trace else None
        log(f"timed passes {[round(p.wall_s, 2) for p in passes]}"
            + (f", heap {heap_mb:.1f} MB" if heap_mb is not None else ""))
        self.spark.stop()
        self.hostref.close()
        log("session and host reference stopped")

        cpu_util, steal = measure.host_usage(host1, host2)
        attempted = n_checked + sum(len(p.samples) for p in warm + passes)
        failed = len(mismatched) + sum(p.failed for p in warm + passes)
        return {
            "attempted": attempted,
            "failed": failed,
            "setup_s": setup_s,
            "check_s": check_s,
            "heap_retained_mb": heap_mb,
            "load_all_s": self.load_all_s,
            "session_start_s": self.session_start_s,
            "host_cpu_util": cpu_util,
            "host_steal_frac": steal,
            "passes": [p.__dict__ | {"traced": p.traced.__dict__ if p.traced else None}
                       for p in passes],
        }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="one benchmark run (started by run.py)")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--t0", type=float, required=True,
                    help="wall-clock time the parent started this process")
    ns = ap.parse_args(argv)
    result = Run(ns).main()
    with open(ns.result, "w") as fh:
        json.dump(result, fh, default=lambda o: None)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
