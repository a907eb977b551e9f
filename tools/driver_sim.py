#!/usr/bin/env python3
"""Reproduce the driver's correctness gate from a cold checkout.

The per-round driver loads ``__spark_entry__``, runs every
``queries()[name]`` on Spark at sf=0.01, runs the matching
``oracle_sql()[name]`` on DuckDB over the same parquet tables, and
records row-count + schema + order-insensitive value-hash matches.
This tool is that check, committed so "N/N zero mismatches" is
reproducible by anyone:

    python tools/driver_sim.py                    # full registry, sf0.01
    python tools/driver_sim.py --sf-dir /root/testdata/sf0.001
    python tools/driver_sim.py --only q1_pricing_summary --only olap_cube_volume

Compare semantics (mirrors the driver): columns are sorted BY NAME on
both sides, every cell is normalized (dates → ISO strings, NaN → a
sentinel, floats → repr), rows are sorted, and the two value matrices
are sha256-hashed; a query passes when row count, sorted schema names,
and the hash all agree.  Rows-only queries (no oracle entry) pass when
the DataFrame evaluates without error (the driver's weaker check; each
such query carries a named substitute test, see QUERIES.md); their line
prints the same value hash, so two trees can be diffed on them.

Exit status: 0 iff every query passes.  Takes ~5 min for the full
registry on local[8].
"""

from __future__ import annotations

import argparse
import datetime as _dt
import hashlib
import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _norm_cell(v):
    if isinstance(v, bool):
        return "b:%s" % v
    if isinstance(v, _dt.datetime):
        return v.isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(str(_norm_cell(x)) for x in v) + "]"
    return v


def _matrix_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    mat = sorted(
        tuple(str(_norm_cell(r[i])) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for row in mat:
        h.update("\x1f".join(row).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--cpus", default="8")
    ap.add_argument(
        "--only",
        action="append",
        default=[],
        help="restrict to these query names (repeatable)",
    )
    args = ap.parse_args()

    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as contract

    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .config("spark.sql.shuffle.partitions", str(args.cpus))
        .config("spark.driver.memory", "12g")
        .config("spark.ui.enabled", "false")
        .appName("driver_sim")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{args.sf_dir}/{t}.parquet')"
        )

    qs = contract.queries()
    oracles = contract.oracle_sql()
    names = [n for n in sorted(qs) if not args.only or n in args.only]

    n_exact = n_rows_only = n_fail = 0
    t0 = time.time()
    for i, name in enumerate(names, 1):
        t1 = time.time()
        try:
            sdf = qs[name](spark, args.sf_dir)
            s_cols = list(sdf.columns)
            s_rows = [tuple(r) for r in sdf.collect()]
            if name not in oracles:
                n_rows_only += 1
                print(
                    f"[{i}/{len(names)}] {name}: ROWS-ONLY rows={len(s_rows)}"
                    f" hash={_matrix_hash(s_cols, s_rows)}"
                    f" ({time.time() - t1:.1f}s)"
                )
                continue
            cur = con.execute(oracles[name])
            o_cols = [d[0] for d in cur.description]
            o_rows = cur.fetchall()
            problems = []
            if sorted(s_cols) != sorted(o_cols):
                problems.append(
                    f"schema spark={sorted(s_cols)} oracle={sorted(o_cols)}"
                )
            if len(s_rows) != len(o_rows):
                problems.append(f"rows spark={len(s_rows)} oracle={len(o_rows)}")
            if not problems and _matrix_hash(s_cols, s_rows) != _matrix_hash(
                o_cols, o_rows
            ):
                problems.append("value-hash mismatch")
            if problems:
                n_fail += 1
                print(f"[{i}/{len(names)}] {name}: FAIL {problems}")
            else:
                n_exact += 1
                print(
                    f"[{i}/{len(names)}] {name}: exact rows={len(s_rows)}"
                    f" ({time.time() - t1:.1f}s)"
                )
        except Exception as e:  # noqa: BLE001 — report and keep going
            n_fail += 1
            print(f"[{i}/{len(names)}] {name}: ERROR {e!r:.300}")

    print(
        f"== driver_sim: {n_exact} exact + {n_rows_only} rows-only"
        f" / {len(names)} total, {n_fail} mismatches"
        f" ({time.time() - t0:.0f}s at {args.sf_dir}) =="
    )
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
