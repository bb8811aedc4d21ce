"""Host-speed reference: fixed work, timed in two processes of its own.

The host this benchmark runs on is shared with other machines' work. Its
speed drifts over minutes, by up to a factor of two, and a whole run can
fall in a slow stretch, so no statistic taken within one run removes it.
The benchmark therefore also times fixed work, the reference, after every
pass, and reports the engine's wall and CPU times scaled by
`NOMINAL_MS / reference ms` (`measure.host_normalized`).

The reference mirrors the two kinds of work in a pass: interpreted Python
(the driver builds every query through py4j, and the UDFs run in Python
workers) and JIT-compiled JVM code on every core (Spark's tasks). One
probe is the mean of `REPS` timings of a fixed pure-Python loop plus the
mean of `REPS` timings of `Arrays.parallelSort` over a fixed array
(`HostRef.java`), in milliseconds. Means, not minima: a pass cannot dodge
the hypervisor's steal, so the probe must not either. Both run in
processes of their own, idle between probes, so nothing the engine sets
or loads changes them.

    python3 hostref.py    # the Python half: one timing per line on stdin
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPS = 3
PY_LOOP = 600_000
SORT_N = 2_000_000
JVM_HEAP = "-Xmx128m"
# Probes at start, before any is used: the JVM half must be JIT-compiled.
WARM_PROBES = 2
# About one probe on a quiet 4-core host: a normalized time is the time
# the engine would take on a host that runs a probe in this long.
NOMINAL_MS = 120.0


def python_ms() -> float:
    """The mean of REPS timings of a fixed pure-Python loop, in ms."""
    total = 0.0
    for _ in range(REPS):
        t0 = time.perf_counter()
        x = 0
        for i in range(PY_LOOP):
            x += i * i
        total += time.perf_counter() - t0
    return total / REPS * 1e3


class HostRef:
    """The two reference processes; `probe()` times one round of each."""

    def __init__(self) -> None:
        cmds = ([sys.executable, os.path.abspath(__file__)],
                ["java", JVM_HEAP, os.path.join(HERE, "HostRef.java"), str(SORT_N), str(REPS)])
        self.procs = [subprocess.Popen(c, stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
                      for c in cmds]
        for _ in range(WARM_PROBES):
            self.probe()

    def probe(self) -> float:
        """One probe, in ms. The halves run one after the other."""
        total = 0.0
        for p in self.procs:
            p.stdin.write("\n")
            p.stdin.flush()
            line = p.stdout.readline()
            if not line:
                raise RuntimeError(f"host reference {p.args[0]} exited with {p.wait()}")
            total += float(line)
        return total

    def close(self) -> None:
        for p in self.procs:
            p.stdin.close()
        for p in self.procs:
            p.wait(timeout=30)


def main() -> int:
    for _ in sys.stdin:
        print(python_ms(), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
