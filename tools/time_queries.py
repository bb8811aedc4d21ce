"""Per-query wall-time sweep at sf0.01 — the driver-budget profiler.

The external driver's correctness run iterates queries() in
registration order under a time budget (round 1 stopped at 50 of 85),
so every second a query spends at sf0.01 is a second another query
doesn't get an official correctness row. This sweep materializes each
registered query with a noop write (same as bench.py) and prints the
slowest tail so it can be optimized or ordered late.

Usage: python tools/time_queries.py [top_n]
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = os.environ.get(
    "SPARK_GRAFT_TIME_SF_DIR", "/root/testdata/sf0.01"
)


def main() -> int:
    top_n = int(sys.argv[1]) if len(sys.argv) > 1 else 40

    from parquet_playground_spark import registry
    from parquet_playground_spark.session import get_spark

    registry.load_all()
    spark = get_spark("time-queries")

    # warmup: absorb JVM/codegen startup so the first timed query
    # isn't charged for it
    spark.range(1000).selectExpr("sum(id)").write.format("noop").mode(
        "overwrite"
    ).save()

    times: list[tuple[float, str]] = []
    for name, fn in registry.QUERIES.items():
        t0 = time.monotonic()
        try:
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            status = ""
        except Exception as exc:  # noqa: BLE001 — report and keep sweeping
            status = f"  ERROR {str(exc)[:80]}"
        dt = time.monotonic() - t0
        times.append((dt, name + status))

    times.sort(reverse=True)
    total = sum(t for t, _ in times)
    print(f"\ntotal {total:.1f} s over {len(times)} queries "
          f"(mean {total / len(times):.2f} s)")
    print(f"slowest {top_n}:")
    for dt, name in times[:top_n]:
        print(f"  {dt:7.2f}  {name}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
