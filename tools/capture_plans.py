"""Dump .explain("formatted") for declared queries into plans/<round>/.

Usage:
    python tools/capture_plans.py before [key ...]
    python tools/capture_plans.py after  [key ...]

With no keys, captures every declared query. Writes
plans/<round>/<key>_<suffix>.txt ($PLANS_ROUND, default r11). Query
construction runs whatever driver-side work the key does (e.g. training
collects), so this is NOT a timing tool — it exists so plan-shape claims
in OPTIMIZATION_r<N>.md are auditable without running Spark.
"""

from __future__ import annotations

import os
import sys
import traceback

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)


def main() -> None:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    only = set(sys.argv[2:])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        HERE, "plans", os.environ.get("PLANS_ROUND", "r11")
    )
    os.makedirs(out_dir, exist_ok=True)

    from bench import bench_session

    spark = bench_session("capture-plans", sf_dir)

    import __spark_entry__ as entry

    qs = entry.queries()
    if only:
        qs = {k: v for k, v in qs.items() if k in only}
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    for name in sorted(qs):
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        try:
            spark.catalog.clearCache()
            df = qs[name](spark, sf_dir)
            txt = df._jdf.queryExecution().explainString(mode)
        except Exception:
            txt = "CAPTURE FAILED:\n" + traceback.format_exc()
        with open(path, "w") as f:
            f.write(txt)
        print(f"# wrote {path}", file=sys.stderr, flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
