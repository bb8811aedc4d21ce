"""Min-of-N wall-time screen for named queries at any scale point.

The per-round scale story needs measured decade steps, not reasoning:
run the same queries at two SF dirs, take min-of-N wall per query
(same stall-robust protocol as bench.py), and compare slopes. This
generalizes the ad-hoc screens recorded in BENCH_local.md (sf0.1 ->
sf1 -> sf3 -> sf10) into one reusable tool.

Each query is materialized with a noop-format write so the full plan
executes without collecting to the driver. A warmup query absorbs
JVM/codegen startup.

Usage:
  SPARK_GRAFT_SCREEN_SF_DIR=.localdata/sf10 \
      python tools/scale_screen.py [--passes N] name [name ...]

Prints one `name seconds` line per query (min over passes) and a
total.
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = os.environ.get(
    "SPARK_GRAFT_SCREEN_SF_DIR", os.path.join(ROOT, ".localdata", "sf1")
)


def main() -> int:
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("--passes", type=int, default=2)
    ap.add_argument("names", nargs="+")
    ns = ap.parse_args()
    passes, args = max(1, ns.passes), ns.names

    from parquet_playground_spark import registry
    from parquet_playground_spark.session import get_spark

    registry.load_all()
    unknown = [n for n in args if n not in registry.QUERIES]
    if unknown:
        print(f"unknown queries: {unknown}")
        return 2
    spark = get_spark("scale-screen")

    def materialize(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    materialize(registry.QUERIES["agg_global"](spark, SF_DIR))

    best: dict[str, float] = {}
    for _ in range(passes):
        for name in args:
            t0 = time.monotonic()
            materialize(registry.QUERIES[name](spark, SF_DIR))
            dt = time.monotonic() - t0
            if name not in best or dt < best[name]:
                best[name] = dt
    for name in args:
        print(f"{name} {best[name]:.2f}")
    print(f"TOTAL {sum(best.values()):.2f}  sf_dir={SF_DIR} passes={passes}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
