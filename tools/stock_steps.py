#!/usr/bin/env python3
"""Per-step cost of the stock refresh and of the dashboard facade.

    python tools/stock_steps.py --input RAW_DIR [--output OUT_DIR]

Runs ``run_etl`` → ``run_olap`` → ``run_mining`` → ``run_charts`` over the
raw per-ticker CSVs in RAW_DIR (outputs under OUT_DIR, a temp dir by
default), then every ``StockWarehouse`` method once with its result
collected, all in one session.  Prints one line per step: wall seconds,
CPU seconds of this process tree (driver Python, JVM, Python workers),
CPU seconds of the JVM alone, seconds its JIT compiler threads spent
compiling (the JVM's ``CompilationMXBean``, which still counts compiler
threads that have exited; it books a compile's elapsed time when the
compile ends, so a short step can show more than its JVM CPU), Spark
jobs, and whole-stage codegen compiles; then a ``refresh.total`` and a
``facade.total`` line with the sums of each part.  A warm-up query runs first, so step 1 does not carry
the session's first-use cost.
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

FACADE = [
    "quarterly_price", "yearly_growth", "monthly_volume", "stats_panel",
    "regression_same_day", "regression_next_day", "kmeans", "anomalies",
    "summary_statistics", "rolling_volatility", "cumulative_returns",
    "per_ticker_quarterly_stats",
]


def cpu_s(root: int, tree: bool = True) -> float:
    """User + system CPU seconds, reaped children included, of ``root``
    and (with ``tree``) every live descendant, from /proc."""
    stats, children = {}, {}
    for entry in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{entry}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(b")") + 2 :].split()  # after the command name
        stats[int(entry)] = fields
        children.setdefault(int(fields[1]), []).append(int(entry))
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        if tree:
            todo.extend(children.get(pid, ()))
        if pid in stats:
            ticks += sum(int(x) for x in stats[pid][11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--input", required=True, help="raw per-ticker CSV dir")
    ap.add_argument("--output", help="refresh output dir (default: a temp dir)")
    args = ap.parse_args()
    out = args.output or tempfile.mkdtemp(prefix="stock_steps_")

    from stock_data_warehouse_analytics_spark import pipeline
    from stock_data_warehouse_analytics_spark.api import StockWarehouse
    from stock_data_warehouse_analytics_spark.session import get_spark

    # progress bars share the terminal with the table: keep them off
    os.environ.setdefault(
        "PYSPARK_SUBMIT_ARGS", "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    spark = get_spark("stock-steps", inputs=[args.input])
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    jvm_pid = sc._jvm.java.lang.ProcessHandle.current().pid()
    compiles = sc._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    jit = sc._jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    spark.range(1 << 16).selectExpr("sum(id % 7)").collect()

    print(f"{'step':<34}{'wall_s':>8}{'cpu_s':>8}{'jvm_s':>8}{'jit_s':>8}{'jobs':>6}"
          f"{'compiles':>9}")
    totals: dict[str, list[float]] = {}

    def row(name: str, wall: float, cpu: float, jvm_s: float, jit_s: float, jobs: int,
            n: int) -> None:
        print(f"{name:<34}{wall:>8.2f}{cpu:>8.2f}{jvm_s:>8.2f}{jit_s:>8.2f}{jobs:>6}{n:>9}",
              flush=True)

    def step(name: str, fn):
        sc.setJobGroup(name, name)
        c0, j0, n0 = cpu_s(os.getpid()), cpu_s(jvm_pid, tree=False), compiles.getCount()
        jit0 = jit.getTotalCompilationTime()
        t0 = time.perf_counter()
        result = fn()
        wall = time.perf_counter() - t0
        cpu = cpu_s(os.getpid()) - c0
        jvm_s = cpu_s(jvm_pid, tree=False) - j0
        jit_s = (jit.getTotalCompilationTime() - jit0) / 1000
        jobs = len(sc.statusTracker().getJobIdsForGroup(name))
        parts = (wall, cpu, jvm_s, jit_s, jobs, compiles.getCount() - n0)
        row(name, *parts)
        total = totals.setdefault(name.split(".")[0] + ".total", [0] * len(parts))
        total[:] = map(sum, zip(total, parts))
        return result

    fact = step("refresh.etl", lambda: pipeline.run_etl(
        spark, args.input, os.path.join(out, "cleaned")))
    for stage, sub in (("olap", "olap_results"), ("mining", "datamining_results"),
                       ("charts", "olap_charts")):
        run = getattr(pipeline, f"run_{stage}")
        step(f"refresh.{stage}", lambda: run(spark, fact, os.path.join(out, sub)))
    fact.unpersist()

    wh = StockWarehouse(spark, args.input)
    for method in FACADE:
        step(f"facade.{method}", lambda: getattr(wh, method)().collect())
    wh.close()
    for name, parts in totals.items():
        row(name, *parts)
    spark.stop()
    print(f"outputs under {out}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
