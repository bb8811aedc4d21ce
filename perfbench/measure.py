"""Metric math and /proc readers for the benchmark.

Everything here is plain Python with no Spark dependency, so the unit
tests in `test_measure.py` can pin it without starting a JVM.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
import os
import statistics
from collections.abc import Iterable, Mapping, Sequence
from dataclasses import dataclass

# A failed query sample sorts after every real one in the tail rule.
FAILED_SAMPLE = math.inf
TAIL_MIN_BEYOND = 10


# ---------------------------------------------------------------- timings

def median(values: Sequence[float]) -> float:
    return statistics.median(values)


def tail(samples: Sequence[float], min_beyond: int = TAIL_MIN_BEYOND) -> tuple[float, float] | None:
    """The highest percentile of `samples` that has at least `min_beyond`
    samples above it, as (value, percentile).

    With n sorted samples the value is the (n - min_beyond)-th smallest,
    so exactly `min_beyond` samples lie beyond it and it sits at
    percentile 100 * (n - min_beyond) / n. With no more than `min_beyond`
    samples no percentile qualifies, and the result is None. Failed
    samples are `FAILED_SAMPLE` (infinity) and so count as the slowest.
    """
    if not samples:
        raise ValueError("tail() of no samples")
    ordered = sorted(samples)
    n = len(ordered)
    if n <= min_beyond:
        return None
    return ordered[n - min_beyond - 1], 100.0 * (n - min_beyond) / n


def by_query(passes: Iterable[Mapping[str, float]]) -> dict[str, list[float]]:
    """Each query's samples, from passes that map query name to seconds."""
    out: dict[str, list[float]] = {}
    for p in passes:
        for name, s in p.items():
            out.setdefault(name, []).append(s)
    return out


def best_pass_s(passes: Sequence[Mapping[str, float]]) -> float:
    """Sum over the queries of each one's fastest sample.

    This is the pass the run would have timed had no sample met a stall:
    a stall hits one sample of one query, and a later pass of that query
    replaces it. The engine's own bench.py sums per-query minima the same
    way. A query that failed in every pass is infinite.
    """
    return sum(min(v) for v in by_query(passes).values())


def geomean_query_s(passes: Sequence[Mapping[str, float]]) -> float:
    """Geometric mean over the queries of each one's fastest sample.

    Each query weighs the same, whatever its length: a 10% change in any
    one query of n moves it by about 10%/n.
    """
    best = [min(v) for v in by_query(passes).values()]
    return math.exp(sum(math.log(b) for b in best) / len(best))


def host_normalized(seconds: float, ref_ms: Sequence[float], nominal_ms: float) -> float:
    """`seconds` scaled to a host on which one reference probe takes
    `nominal_ms`: seconds * nominal_ms / the median of the run's probes.

    A host running everything 30% slower makes both the engine's time and
    the probes 30% longer, and the scaled time stays put. A change to the
    engine moves only the engine's time. See hostref.py.
    """
    return seconds * nominal_ms / median(ref_ms)


def error_rate(failed: int, attempted: int) -> float:
    """Share of attempted queries that raised or returned wrong output."""
    if attempted <= 0:
        raise ValueError("error_rate needs at least one attempted query")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, attempted={attempted}]")
    return failed / attempted


# ------------------------------------------------------------ fingerprint

def canon_value(v: object) -> str:
    """Engine-neutral text for one result cell.

    Integral floats print as integers and decimals as floats, so an
    engine's choice between int64, double and DECIMAL for the same number
    does not change the fingerprint. Other floats keep 12 significant
    digits, which absorbs last-bit differences from summation order.
    """
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if math.isinf(v):
            return "inf" if v > 0 else "-inf"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.12g}"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, dt.date):
        return v.strftime("%Y-%m-%d 00:00:00.000000")
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, dict):
        return "{" + ",".join(f"{canon_value(k)}:{canon_value(x)}"
                              for k, x in sorted(v.items(), key=lambda kv: canon_value(kv[0]))) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    # numpy scalars and arrays from DuckDB or Arrow results
    if hasattr(v, "tolist"):
        return canon_value(v.tolist())
    return str(v)


def fingerprint(columns: Sequence[str], rows: Iterable[Sequence[object]]) -> tuple[int, str]:
    """Order-insensitive fingerprint of a result: (row count, sha256).

    Columns are matched by lower-cased name, so their order does not
    matter either; the names themselves are part of the hash.
    """
    names = [c.lower() for c in columns]
    order = sorted(range(len(names)), key=names.__getitem__)
    lines = sorted("|".join(canon_value(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    h.update(",".join(names[i] for i in order).encode())
    for line in lines:
        h.update(b"\n")
        h.update(line.encode())
    return len(lines), h.hexdigest()


# ------------------------------------------------------------- /proc CPU

@dataclass(frozen=True)
class ProcStat:
    pid: int
    ppid: int
    comm: str
    cpu_ticks: int  # utime + stime + cutime + cstime


def parse_proc_stat(text: str) -> ProcStat:
    """Parse one /proc/<pid>/stat line.

    cutime/cstime hold the CPU of children this process has already
    reaped, so summing all four fields over the live processes of a tree
    counts every process the tree ever ran exactly once.
    """
    # comm is parenthesised and may itself contain spaces or ')'
    lpar, rpar = text.index("("), text.rindex(")")
    pid = int(text[:lpar])
    comm = text[lpar + 1:rpar]
    f = text[rpar + 2:].split()
    # f[0] is field 3 (state); utime..cstime are fields 14..17
    return ProcStat(pid, int(f[1]), comm, int(f[11]) + int(f[12]) + int(f[13]) + int(f[14]))


def subtree_ticks(stats: Iterable[ProcStat], root: int, only: str | None = None) -> int:
    """CPU ticks of `root` and all its descendants.

    With `only`, count just the processes whose comm starts with it and
    that are strict descendants of `root` (e.g. the Python workers under
    the JVM).
    """
    by_parent: dict[int, list[ProcStat]] = {}
    by_pid: dict[int, ProcStat] = {}
    for s in stats:
        by_pid[s.pid] = s
        by_parent.setdefault(s.ppid, []).append(s)
    total = 0
    stack = [by_pid[root]] if root in by_pid else []
    while stack:
        s = stack.pop()
        if only is None or (s.pid != root and s.comm.startswith(only)):
            total += s.cpu_ticks
        stack.extend(by_parent.get(s.pid, ()))
    return total


def read_proc_stats() -> list[ProcStat]:
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                out.append(parse_proc_stat(fh.read()))
        except (OSError, ValueError, IndexError):
            continue  # exited while we listed it
    return out


CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int, only: str | None = None) -> float:
    """CPU seconds the process tree under `root` has used so far."""
    return subtree_ticks(read_proc_stats(), root, only) / CLK_TCK


# ----------------------------------------------------------- host /proc

def read_host_ticks() -> list[int]:
    """The aggregate `cpu` line of /proc/stat: user nice system idle
    iowait irq softirq steal (guest time is already inside user)."""
    with open("/proc/stat") as fh:
        for line in fh:
            if line.startswith("cpu "):
                return [int(x) for x in line.split()[1:9]]
    raise OSError("/proc/stat has no aggregate cpu line")


def host_usage(before: Sequence[int], after: Sequence[int]) -> tuple[float, float]:
    """(cpu_util, steal_frac) between two `read_host_ticks` readings.

    cpu_util is busy time (everything but idle and iowait) over all time;
    steal_frac is the time the hypervisor ran someone else over all time.
    """
    d = [b - a for a, b in zip(before, after)]
    total = sum(d)
    if total <= 0:
        return 0.0, 0.0
    idle = d[3] + d[4]
    return (total - idle) / total, d[7] / total

