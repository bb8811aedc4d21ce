"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. It writes the synthetic tables once
(`datagen.py`, cached under `.perfbench/`), starts `worker.py` in a fresh
process with its own Spark local dir and temp dir, waits for it and every
process it started, wipes the run's dirs, and prints as its last stdout
line one JSON object: correct, attempted, failed and the metrics
(end-to-end ones with `--trace 0`, per-layer ones with `--trace 1`).
See README.md for what each metric means.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import hostref  # noqa: E402
import measure  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

STATE_DIR = os.path.join(ROOT, ".perfbench")
# The tables are fixed; the benchmark seed orders the queries.
DATA_SEED = 42
DATA_DIR = os.path.join(STATE_DIR, f"data-sf0.1-seed{DATA_SEED}")
RUN_TIMEOUT_S = 150
REAP_TIMEOUT_S = 10
# A failed query sample is the slowest; JSON has no infinity, so print this.
FAILED_SAMPLE_PRINTED_S = 1e9


def ensure_dataset() -> str:
    if not os.path.isdir(DATA_DIR):
        tmp = DATA_DIR + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        datagen.write_dataset(tmp, DATA_SEED)
        os.replace(tmp, DATA_DIR)
    return DATA_DIR


def worker_env(run_dir: str) -> dict[str, str]:
    """Process hygiene, set here and never by the engine: cores capped
    at what this process may use, and every scratch path of Spark, the
    JVM and Python inside this run's directory."""
    env = dict(os.environ)
    cpus = len(os.sched_getaffinity(0))
    env.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(run_dir, 'jtmp')} -XX:-UsePerfData",
        "TZ": "UTC",
        "PYTHONDONTWRITEBYTECODE": "1",
    })
    return env


def session_members(sid: int) -> list[int]:
    pids = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                if os.getsid(int(name)) == sid:
                    pids.append(int(name))
            except OSError:
                continue
    return pids


def stop_session(proc: subprocess.Popen) -> None:
    """Stop the worker and everything it started (the JVM, Python
    workers in their own process group) and wait until all have ended.

    The worker leads its own session, so its session id finds them all."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        deadline = time.monotonic() + REAP_TIMEOUT_S
        while True:
            proc.poll()  # reap the worker itself once it exits
            pids = session_members(proc.pid)
            if not pids:
                return
            if time.monotonic() > deadline:
                break
            for pid in pids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            time.sleep(0.2)


def run_worker(ns: argparse.Namespace, data_dir: str) -> dict | None:
    run_dir = os.path.join(STATE_DIR, f"run-{ns.workload}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("local", "tmp", "jtmp"):
        os.makedirs(os.path.join(run_dir, sub))
    result_path = os.path.join(run_dir, "result.json")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", ns.workload, "--seed", str(ns.seed),
           "--seconds", str(ns.seconds), "--trace", str(ns.trace),
           "--data", data_dir, "--result", result_path,
           "--t0", repr(time.time())]
    proc = subprocess.Popen(cmd, cwd=run_dir, env=worker_env(run_dir),
                            stdout=sys.stderr, start_new_session=True)
    code = None
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
        if code != 0:
            return None
        with open(result_path) as fh:
            return json.load(fh)
    except subprocess.TimeoutExpired:
        print(f"worker exceeded {RUN_TIMEOUT_S} s; stopping it", file=sys.stderr)
        return None
    finally:
        t_stop = time.monotonic()
        stop_session(proc)
        proc.wait()
        print(f"[perfbench] worker exit {code}, reaped in {time.monotonic() - t_stop:.1f} s",
              file=sys.stderr)
        shutil.rmtree(run_dir, ignore_errors=True)


def finite(x: float) -> float:
    return x if math.isfinite(x) else FAILED_SAMPLE_PRINTED_S


def end_to_end(r: dict) -> dict[str, tuple[float, str]]:
    timed = [p for p in r["passes"] if p["traced"] is None]
    samples = [p["samples"] for p in timed]
    refs = [p["ref_ms"] for p in timed]

    def normalized(seconds: float) -> float:
        return measure.host_normalized(finite(seconds), refs, hostref.NOMINAL_MS)

    return {
        "setup_s": (r["setup_s"], "s"),
        "pass_norm_s": (normalized(measure.best_pass_s(samples)), "s"),
        "pass_cpu_norm_s": (normalized(min(p["cpu_s"] for p in timed)), "s"),
        "query_geomean_norm_s": (normalized(measure.geomean_query_s(samples)), "s"),
    }


def tail_note(r: dict) -> str:
    """The tail of the untraced per-query samples, or why there is none."""
    samples = [s for p in r["passes"] if p["traced"] is None for s in p["samples"].values()]
    t = measure.tail(samples)
    if t is None:
        return (f"query_tail_s=absent ({len(samples)} samples; the rule needs more than "
                f"{measure.TAIL_MIN_BEYOND})")
    return f"query_tail_s={finite(t[0]):.4f} at p{t[1]:.1f} of {len(samples)} samples"


def per_layer(r: dict) -> dict[str, tuple[float, str]]:
    untraced = [p for p in r["passes"] if p["traced"] is None]
    traced = [p for p in r["passes"] if p["traced"] is not None]
    med = measure.median

    def layer(key: str) -> float:
        return med([p["traced"][key] for p in traced])

    def stage(key: str) -> float:
        return med([p["traced"]["stage"][key] for p in traced])

    def stream(key: str) -> float:
        return med([p["stream"][key] for p in traced])

    traced_wall = med([p["wall_s"] for p in traced])
    accounted = med([(p["traced"]["construct_s"] + p["traced"]["plan_s"] + p["traced"]["exec_s"])
                     / p["wall_s"] for p in traced])
    input_rows = stage("input_rows")
    write_mb = layer("write_bytes") / (1 << 20)
    return {
        "registry.construct_s": (layer("construct_s"), "s"),
        "registry.py4j_calls": (layer("py4j_calls"), "count"),
        "tables.load_table_calls": (layer("load_table_calls"), "count"),
        "tables.load_table_s": (layer("load_table_s"), "s"),
        "catalyst.plan_s": (layer("plan_s"), "s"),
        "exec.s": (layer("exec_s"), "s"),
        "exec.jobs": (stage("jobs"), "count"),
        "exec.stages": (stage("stages"), "count"),
        "exec.tasks": (stage("tasks"), "count"),
        "exec.task_cpu_s": (stage("task_cpu_s"), "s"),
        "exec.gc_s": (stage("gc_s"), "s"),
        "exec.spill_mb": (stage("spill_mb"), "MB"),
        "scan.input_rows": (input_rows, "count"),
        "exchange.shuffle_write_mb": (stage("shuffle_write_mb"), "MB"),
        "exchange.shuffle_read_mb": (stage("shuffle_read_mb"), "MB"),
        "exchange.fetch_wait_s": (stage("fetch_wait_s"), "s"),
        "pyworker.cpu_s": (med([p["pyworker_cpu_s"] for p in traced]), "s"),
        "writes.bytes_out_mb": (write_mb, "MB"),
        "writes.files_out": (layer("write_files"), "count"),
        "writes.bytes_per_input_row": (layer("write_bytes") / input_rows if input_rows else 0.0, "B"),
        "streaming.batches": (stream("batches"), "count"),
        "streaming.trigger_ms": (stream("trigger_ms"), "ms"),
        "streaming.add_batch_ms": (stream("add_batch_ms"), "ms"),
        "streaming.query_planning_ms": (stream("query_planning_ms"), "ms"),
        "heap_retained_mb": (r["heap_retained_mb"], "MB"),
        "session.start_s": (r["session_start_s"], "s"),
        "registry.load_all_s": (r["load_all_s"], "s"),
        "check.s": (r["check_s"], "s"),
        "error_rate": (measure.error_rate(r["failed"], r["attempted"]), "ratio"),
        "host.cpu_util": (r["host_cpu_util"], "ratio"),
        "host.steal_frac": (r["host_steal_frac"], "ratio"),
        "host.ref_ms": (med([p["ref_ms"] for p in r["passes"]]), "ms"),
        "trace.overhead_frac": (traced_wall / med([p["wall_s"] for p in untraced]) - 1, "ratio"),
        "trace.accounted_frac": (accounted, "ratio"),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="spark-parquet-engine benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ns = ap.parse_args(argv)
    # On SIGTERM, unwind through run_worker's cleanup, which stops the worker.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))

    data_dir = ensure_dataset()
    r = run_worker(ns, data_dir)
    if r is None:
        print("benchmark run failed; no result", file=sys.stderr)
        return 1

    metrics = per_layer(r) if ns.trace else end_to_end(r)
    # Every run names the host's state, so a noisy run can be traced to it.
    untraced = [p for p in r["passes"] if p["traced"] is None]
    ref = measure.median([p["ref_ms"] for p in untraced])
    raw = finite(measure.best_pass_s([p["samples"] for p in untraced]))
    print(f"host.cpu_util={r['host_cpu_util']:.3f} host.steal_frac={r['host_steal_frac']:.4f} "
          f"host.ref_ms={ref:.1f} pass_s={raw:.3f} (not normalized) "
          f"{tail_note(r)} passes={[round(p['wall_s'], 3) for p in r['passes']]}")
    print(json.dumps({
        "correct": r["failed"] == 0,
        "attempted": r["attempted"],
        "failed": r["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
