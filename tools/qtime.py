#!/usr/bin/env python3
"""Time registered queries in isolation (bench.py methodology: same
session shape, same sf, end-to-end .collect() per rep).

    python tools/qtime.py [--reps 3] [--sf-dir DIR] NAME [NAME...]

Prints per-rep and min times.  Rep 1 of the first family member pays
any session-staged pass, exactly as in the full bench (alphabetical
first-payer); later reps show the steady state — both numbers matter
when deciding where the cost lives.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument(
        "--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    ap.add_argument("--no-warmup", action="store_true")
    args = ap.parse_args()

    from stock_data_warehouse_analytics_spark.plans import get_queries
    from stock_data_warehouse_analytics_spark.session import get_spark

    spark = get_spark("qtime", inputs=[args.sf_dir])
    spark.sparkContext.setLogLevel("ERROR")
    qs = get_queries()
    if not args.no_warmup:
        qs["q1_pricing_summary"](spark, args.sf_dir).collect()
        spark.range(64).repartition(32).mapInPandas(
            lambda it: (b for b in it), "id long"
        ).collect()
    for name in args.names:
        if name not in qs:
            print(f"!! unknown query {name}", file=sys.stderr)
            continue
        times = []
        for rep in range(args.reps):
            spark.sparkContext.setJobDescription(f"qtime: {name} rep{rep}")
            t0 = time.perf_counter()
            qs[name](spark, args.sf_dir).collect()
            times.append(time.perf_counter() - t0)
        reps = " ".join(f"{t:.2f}" for t in times)
        print(f"{name}: min={min(times):.2f}  reps=[{reps}]", flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
