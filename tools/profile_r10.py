"""r10 optimization-round profiler.

Times each named query in isolation (N noop-sink runs in one session,
reporting min/median) and writes `.explain("formatted")` to
plans/r10/<name>_<tag>.txt so plan-shape claims in OPTIMIZATION_r10.md
are auditable. Bench hosts drift 1.5-2x within a session and show
random multi-second stalls (bench.py docstring, r5/r9 evidence), so
the per-query MIN over several runs is the signal and every A/B must
interleave old/new in adjacent processes.

Usage: python tools/profile_r10.py <tag> [runs] [names ...]
  tag    — suffix for plan files ("before" / "after"); "none" skips
           plan capture.
  runs   — timed materializations per query (default 3, min 1; plan
           capture needs the DataFrame from at least one run).
  names  — subset of registered query names (default: the bench
           headline set).

Env: SPARK_GRAFT_SF_DIR picks the fixture (default /root/testdata/sf0.1;
point it at .localdata/sf0.1mrg for the multi-file scaling copy).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
PLANS_DIR = os.path.join(ROOT, "plans", "r10")

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q18_large_orders",
    "q6_forecast_revenue",
    "q21_waiting_supplier",
    "agg_groupby",
    "join_multiway",
    "join_left_outer",
    "join_asof",
    "window_running_sum",
    "topk_per_group",
    "set_union_distinct",
    "text_tokenize_counts",
    "dedup_exact",
    "dedup_minhash_signatures",
    "dedup_incremental_lsh",
    "text_bm25_search",
    "sim_search_cosine_topk",
    "flatten_multimap",
    "stream_tumbling_count",
]


def main() -> int:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    # r9 ADVICE: runs=0 raised NameError at plan capture (df unbound)
    # and min([]) on the empty sample list — clamp to >= 1.
    runs = max(1, int(sys.argv[2])) if len(sys.argv) > 2 else 3
    names = sys.argv[3:] or HEADLINE

    from parquet_playground_spark import registry
    from parquet_playground_spark.session import get_spark

    registry.load_all()
    spark = get_spark("profile-r10")
    spark.sparkContext.setLogLevel("ERROR")

    os.makedirs(PLANS_DIR, exist_ok=True)

    # warmup: JVM + codegen + parquet footers (same as bench.py)
    registry.QUERIES["agg_global"](spark, SF_DIR).write.format("noop").mode(
        "overwrite"
    ).save()

    out: dict[str, dict[str, float]] = {}
    for name in names:
        fn = registry.QUERIES[name]
        spark.sparkContext.setJobDescription(f"r10-profile: {name}")
        samples = []
        for _ in range(runs):
            t0 = time.monotonic()
            df = fn(spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            samples.append(round(time.monotonic() - t0, 3))
        if tag != "none":
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(
                os.path.join(PLANS_DIR, f"{name}_{tag}.txt"), "w"
            ) as fh:
                fh.write(plan)
        out[name] = {
            "min": min(samples),
            "med": round(statistics.median(samples), 3),
            "all": samples,
        }
        print(f"{name:32s} min={min(samples):7.3f} all={samples}", flush=True)
    spark.sparkContext.setJobDescription(None)
    total_min = round(sum(v["min"] for v in out.values()), 3)
    print(json.dumps({"total_min": total_min, "tag": tag}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
