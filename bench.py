#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}.

Timing is end-to-end per query (plan + execute + collect), after one
untimed warmup of the flagship to absorb JVM/codegen startup.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "q1_pricing_summary",
    "olap_pivot_quarterly_price",
    "olap_pivot_monthly_volume",
    "olap_yearly_growth",
    "olap_stats_panel",
    "top_parts_by_revenue",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from stock_data_warehouse_analytics_spark.plans import get_queries
    from stock_data_warehouse_analytics_spark.session import get_spark

    spark = get_spark("bench", inputs=[sf_dir])
    spark.sparkContext.setLogLevel("ERROR")
    qs = get_queries()
    names = [n for n in HEADLINE if n in qs]
    # extend with any remaining registered queries (stable order)
    names += [n for n in sorted(qs) if n not in names]
    # --limit N / SPARK_GRAFT_BENCH_LIMIT: time only the first N names
    # (headline first); --match SUBSTR: only names containing any given
    # substring (repeatable, comma-separable) — the output-contract test
    # uses --limit; the driver always runs the full registry
    def _argval(flag: str) -> str:
        idx = sys.argv.index(flag)
        if idx + 1 >= len(sys.argv):
            sys.exit(f"usage: bench.py [{flag} VALUE]  ({flag} needs a value)")
        return sys.argv[idx + 1]

    if "--match" in sys.argv:
        pats = [p for p in _argval("--match").split(",") if p]
        names = [n for n in names if any(p in n for p in pats)]
    limit = os.environ.get("SPARK_GRAFT_BENCH_LIMIT", "")
    if "--limit" in sys.argv:
        limit = _argval("--limit")
    if limit:
        try:
            names = names[: int(limit)]
        except ValueError:
            sys.exit(f"usage: bench.py [--limit N]  (got --limit {limit!r})")

    qs["q1_pricing_summary"](spark, sf_dir).collect()  # warmup (JVM/codegen)
    # Also pre-fork the Python/Arrow worker pool: the JVM warmup above
    # never touches Python, so without this the FIRST Arrow-heavy query
    # in name order pays the local[N] worker forks inside its timed run
    # (min-of-3 A/B on chunk_ann_lsh_topk: 9.98 s with vs 13.09 s
    # without, on an ambient-noisy box — the warmup phase is the stated
    # place for one-time startup cost either way).
    spark.range(64).repartition(32).mapInPandas(
        lambda it: (b for b in it), "id long"
    ).collect()

    timings: dict[str, float] = {}
    for name in names:
        t0 = time.perf_counter()
        qs[name](spark, sf_dir).collect()
        timings[name] = round(time.perf_counter() - t0, 4)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    payload = {
        "metric": "headline_queries_total_sec",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        # registry size for cross-round normalization: the total grows
        # with coverage (67 queries in r01, 98 in r02), so compare
        # sec/query or per-query times, not raw totals
        "n_queries": len(timings),
        "sec_per_query": round(sum(timings.values()) / max(len(timings), 1), 3),
        "queries": {k: round(v, 2) for k, v in timings.items()},
        "sf": float(sf) if sf.replace(".", "", 1).isdigit() else sf,
    }
    # The driver may capture only the head or only the tail of stdout, so
    # emit the full compact line FIRST and a short always-parseable summary
    # line LAST (r01's single long line was truncated -> "parsed": null).
    print(json.dumps(payload, separators=(",", ":")), flush=True)
    summary = {
        k: payload[k]
        for k in ("metric", "value", "unit", "n_queries", "sec_per_query", "sf")
    }
    # r10 (verdict item 2): the driver's capture keeps only the last
    # ~2000 bytes of stdout, so the full per-query map on the first
    # line never reached it (PERF per_query was empty two rounds
    # running).  ADD to the final summary line as many of the SLOWEST
    # per-query timings as fit within the capture window — additions
    # only (the first line keeps the complete map, the summary keeps
    # every existing key), bounded so the final line stays parseable
    # inside the tail.  "queries_partial" marks the truncation.
    _BUDGET = 1900  # bytes for the whole final line
    slowest = sorted(timings.items(), key=lambda kv: -kv[1])
    top: dict[str, float] = {}
    for name, sec in slowest:
        trial = dict(summary)
        trial["queries"] = {**top, name: round(sec, 2)}
        trial["queries_partial"] = True
        if len(json.dumps(trial, separators=(",", ":"))) > _BUDGET:
            break
        top[name] = round(sec, 2)
    if top:
        summary["queries"] = top
        summary["queries_partial"] = len(top) < len(timings)
    print(json.dumps(summary, separators=(",", ":")), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
