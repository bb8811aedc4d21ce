"""r09 optimization-round profiler.

Times each headline query in isolation (N noop-sink runs in one
session, reporting min/median) and writes `.explain("formatted")` to
plans/r09/<name>_<tag>.txt so plan-shape claims in OPTIMIZATION_r09.md
are auditable. This host shows multi-second random scheduler stalls
(bench.py docstring, r5 evidence), so the per-query MIN over several
runs is the signal; single samples are hypervisor luck.

Usage: python tools/profile_r09.py <tag> [runs] [names ...]
  tag    — suffix for plan files ("before" / "after"); "none" skips
           plan capture.
  runs   — timed materializations per query (default 3).
  names  — subset of headline names (default: the full bench set).
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
PLANS_DIR = os.path.join(ROOT, "plans", "r09")

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
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    names = sys.argv[3:] or HEADLINE

    from parquet_playground_spark import registry
    from parquet_playground_spark.session import get_spark

    registry.load_all()
    spark = get_spark("profile-r09")
    spark.sparkContext.setLogLevel("ERROR")

    os.makedirs(PLANS_DIR, exist_ok=True)

    # warmup: JVM + codegen + parquet footers (same as bench.py)
    registry.QUERIES["agg_global"](spark, SF_DIR).write.format("noop").mode(
        "overwrite"
    ).save()

    out: dict[str, dict[str, float]] = {}
    for name in names:
        fn = registry.QUERIES[name]
        spark.sparkContext.setJobDescription(f"r09-profile: {name}")
        samples = []
        for i in range(runs):
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
