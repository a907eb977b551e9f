"""Round-9 optimization equivalence pins.

Each optimization in this round changed HOW something is computed,
never WHAT — these tests pin the equivalences directly:

- grouped_exact_quantiles: the zero-cut route (whole-group window)
  ≡ the bucketed route, bit for bit;
- _bucket_of: the compact higher-order bucket expression ≡ the
  chained when-sum it replaced;
- literal_df: an Arrow local relation that round-trips every field
  type the package uses and whose collect starts no job;
- literal_map ≡ create_map literals;
- hyperplane_signature: the folded 2-D-constant form ≡ the chained
  per-plane literal fold it replaced;
- dedup_store staged frames ≡ the direct operator outputs.
"""

from __future__ import annotations

import ast
import math
import os

import pytest
from pyspark.sql import functions as F

from stock_data_warehouse_analytics_spark.operators import localrel
from stock_data_warehouse_analytics_spark.operators import ranking as R

from .conftest import jobs_of

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from stock_data_warehouse_analytics_spark.session import get_spark

    s = get_spark("test-r09-opt")
    yield s


def _mixed_frame(spark, n=5000):
    return spark.range(n).select(
        (F.col("id") % 7).cast("string").alias("grp"),
        # heavy ties + a null + spread: the interpolation edge cases
        F.when(F.col("id") % 97 == 0, None)
        .otherwise((F.col("id") * 37 % 1001).cast("double"))
        .alias("v"),
    )


def test_small_path_matches_bucketed_path(spark, monkeypatch):
    df = _mixed_frame(spark)
    qs = [("q05", 0.05), ("q50", 0.5), ("q95", 0.95)]
    small = R.grouped_exact_quantiles(df, "grp", "v", qs).collect()
    # force the bucketed path by zeroing the largest-group row cap
    monkeypatch.setattr(localrel, "QUANTILE_GROUP_MAX_ROWS", 0)
    big = R.grouped_exact_quantiles(df, "grp", "v", qs).collect()
    key = lambda r: r["grp"]  # noqa: E731
    assert sorted(map(tuple, small), key=lambda t: t[0]) == sorted(
        map(tuple, big), key=lambda t: t[0]
    )


def test_bucket_of_matches_chained_when(spark):
    df = _mixed_frame(spark, 3000)
    cuts = [10.0, 250.0, 500.0, 750.5, 990.0]
    lead = F.col("v").cast("double")
    chained = F.lit(0)
    for c in cuts:
        chained = chained + F.when(lead > F.lit(c), 1).otherwise(0)
    got = df.select(
        R._bucket_of(lead, cuts).alias("a"), chained.alias("b")
    ).collect()
    assert all(r.a == r.b for r in got)


def _cells(v):
    """``v`` with NaN made comparable (NaN != NaN), through rows and
    lists."""
    if isinstance(v, (tuple, list)):
        return [_cells(x) for x in v]
    return "NaN" if isinstance(v, float) and math.isnan(v) else v


def test_literal_df_round_trips_as_local_relation(spark, monkeypatch):
    """Every field type the package passes to ``literal_df`` round-trips
    exactly, numpy scalars and a generator of rows included; a naive
    timestamp means process-local time, so it rejoins its source under
    any process TZ; the plan is a ``LocalRelation`` and collecting it
    starts no job."""
    import datetime as dt
    import decimal
    import time

    import numpy as np
    from pyspark.sql.types import _parse_datatype_string

    schema = (
        "k int, n bigint, x double, s string, b boolean, arr array<double>, "
        "d date, t timestamp, m decimal(10,2)"
    )
    ts = [dt.datetime(2024, 7, 9, 14, 30, 0, 123456), dt.datetime(1999, 12, 31, 23, 59, 59)]
    rows = [
        (1, 2**62, 0.1 + 0.2, 'naïve ✓ "quoted"', True, [1.5, -2.25e-300, math.inf],
         dt.date(2024, 1, 2), ts[0], decimal.Decimal("12.34")),
        (np.int32(2), np.int64(-7), np.float64(math.nan), np.str_("Ngày"), np.bool_(False),
         [-math.inf, 0.0], dt.date(1999, 12, 31), ts[1], decimal.Decimal("-0.05")),
        (3, None, -math.inf, None, None, None, None, None, None),
    ]
    want = [_cells(r) for r in rows]
    try:
        for tz in ("America/New_York", "Asia/Ho_Chi_Minh", "UTC"):
            monkeypatch.setenv("TZ", tz)
            time.tzset()
            df = localrel.literal_df(spark, (r for r in rows), schema)
            assert df._jdf.queryExecution().optimizedPlan().toString().startswith(
                "LocalRelation"
            )
            got = []
            assert jobs_of(spark, f"literal-{tz}", lambda: got.extend(df.collect())) == 0
            assert [_cells(r) for r in got] == want, tz
            assert got[0].x == 0.1 + 0.2 and got[0].arr[1] == -2.25e-300
            # the JVM holds the instant pyspark's own literal encodes
            for t in ts:
                assert df.filter(F.col("t") == F.lit(t)).count() == 1, (tz, t)
    finally:
        monkeypatch.undo()
        time.tzset()
    empty = localrel.literal_df(spark, [], schema)
    assert empty.schema == _parse_datatype_string(f"struct<{schema}>")
    assert jobs_of(spark, "literal-empty", lambda: empty.collect()) == 0
    assert empty.collect() == []


def _literal_frame_builders(tree):
    """``(line, what)`` for each call in ``tree`` that builds a literal
    frame by hand: a ``createDataFrame``, a ``range(1)`` whose select
    explodes literals, or a SQL ``VALUES`` bound through ``args=``."""
    found = []
    for node in ast.walk(tree):
        if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
            continue
        name, recv = node.func.attr, node.func.value
        if name == "createDataFrame":
            found.append((node.lineno, name))
        elif (
            name == "select"
            and isinstance(recv, ast.Call)
            and isinstance(recv.func, ast.Attribute)
            and recv.func.attr == "range"
            and [ast.unparse(a) for a in recv.args] == ["1"]
            and "explode(" in ast.unparse(node)
        ):
            found.append((node.lineno, "range(1) explode"))
        elif (
            name == "sql"
            and any(k.arg == "args" for k in node.keywords)
            and "VALUES" in ast.unparse(node).upper()
        ):
            found.append((node.lineno, "VALUES with args="))
    return found


def test_literal_frames_go_through_literal_df():
    """``localrel.literal_df`` is the package's one way to build a
    literal frame: no other module hand-builds one."""
    pkg = os.path.dirname(os.path.dirname(localrel.__file__))
    offenders = []
    for root, _, files in os.walk(pkg):
        for f in sorted(files):
            path = os.path.join(root, f)
            if not f.endswith(".py") or path == localrel.__file__:
                continue
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read())
            offenders += [
                f"{os.path.relpath(path, pkg)}:{n} {what}"
                for n, what in _literal_frame_builders(tree)
            ]
    assert offenders == []


def test_literal_map_equals_create_map(spark):
    from stock_data_warehouse_analytics_spark.operators.localrel import literal_map

    m = {"a b": 3, "naïve|x": -17, "": 0}
    lm = literal_map(m)
    cm = F.create_map(*[F.lit(x) for kv in m.items() for x in kv])
    row = spark.range(1).select(
        F.element_at(lm, "a b").alias("l1"),
        F.element_at(cm, "a b").alias("c1"),
        F.element_at(lm, "naïve|x").alias("l2"),
        F.element_at(cm, "naïve|x").alias("c2"),
        F.element_at(lm, "missing").alias("l3"),
        F.element_at(cm, "missing").alias("c3"),
    ).first()
    assert row.l1 == row.c1 == 3
    assert row.l2 == row.c2 == -17
    assert row.l3 is None and row.c3 is None
    # constant-folded: no from_json left in the optimized plan
    plan = (
        spark.range(1)
        .select(lm.alias("m"))
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "from_json" not in plan


def test_hyperplane_signature_matches_chained_reference(spark):
    from stock_data_warehouse_analytics_spark.operators import similarity as S

    dim, n_planes = 16, 8
    df = spark.range(64).select(
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda j: (F.col("id") * (j.cast("double") + 1.0) % 7.0) - 3.0,
        ).alias("v")
    )
    new = df.select(
        S.hyperplane_signature(F.col("v"), dim=dim, n_planes=n_planes).alias("s")
    ).collect()
    ref = F.lit(0).cast("long")
    for p in range(n_planes):
        plane = F.array(*[F.lit(x) for x in S._plane(dim, p)])
        ref = ref + F.when(S.dot(plane, F.col("v")) > 0, F.lit(1 << p).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    old = df.select(ref.alias("s")).collect()
    assert [r.s for r in new] == [r.s for r in old]


def test_dedup_store_matches_direct_operators(spark):
    from stock_data_warehouse_analytics_spark.operators.dedup import (
        minhash_candidate_pairs,
        minhash_signatures,
        shingle_table,
        simhash_near_pairs,
    )
    from stock_data_warehouse_analytics_spark.plans.dedup_store import (
        staged_candidates,
        staged_shingles,
        staged_signatures,
        staged_simhash_pairs,
    )
    from stock_data_warehouse_analytics_spark.sources.tables import load_table

    d = load_table(spark, SF_DIR, "documents")
    pairs_direct = sorted(
        map(tuple, minhash_candidate_pairs(d, n_hashes=16, bands=4).collect())
    )
    pairs_staged = sorted(map(tuple, staged_candidates(spark, SF_DIR).collect()))
    assert pairs_direct == pairs_staged
    sig_direct = sorted(map(tuple, minhash_signatures(d, n_hashes=16).collect()))
    sig_staged = sorted(map(tuple, staged_signatures(spark, SF_DIR).collect()))
    assert sig_direct == sig_staged
    sh_direct = sorted(map(tuple, shingle_table(d, "text", 3).collect()))
    sh_staged = sorted(map(tuple, staged_shingles(spark, SF_DIR).collect()))
    assert sh_direct == sh_staged
    sim_direct = sorted(
        map(tuple, simhash_near_pairs(d, max_hamming=8, bands=4).collect())
    )
    sim_staged = sorted(
        map(tuple, staged_simhash_pairs(spark, SF_DIR).collect())
    )
    assert sim_direct == sim_staged
