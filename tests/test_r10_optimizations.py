"""Equivalence pins for the round-10 optimizations.

Each test pins an optimization that changed an operator's internals to
the exact behavior of the path it replaced:

- BPE driver-side small-vocabulary training == the relational loop
  (same merges, same final vocab, row for row);
- connected components' driver union-find == the propagation loop, and
  the driver route is chosen by row count alone
  (``localrel.DRIVER_MAX_ROWS``), whatever Catalyst estimates;
- topk_lsh's cand_sigs/query_sigs overrides == the two-Arrow-pass fast
  path (the chunk_ann_lsh_topk rewiring);
- literal_df raises on an out-of-range int and on a non-str in a
  string field;
- literal_map rejects non-string keys loudly;
- with_predicted_lang's bound scores == predicted_lang, whatever the
  input's column names.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

SF_SMALL = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def _rows(df):
    return sorted(tuple(str(x) for x in r) for r in df.collect())


def _spy(monkeypatch, module, name):
    """Record the calls to ``module.name`` while still running it."""
    calls = []
    real = getattr(module, name)

    def spy(*args, **kwargs):
        calls.append(args)
        return real(*args, **kwargs)

    monkeypatch.setattr(module, name, spy)
    return calls


def test_bpe_driver_path_matches_relational(spark, monkeypatch):
    from stock_data_warehouse_analytics_spark.operators import localrel, text_ml

    docs = spark.createDataFrame(
        [
            (1, "low lower lowest low low"),
            (2, "new newer newest new lower"),
            (3, "wide wider widest low newer"),
        ],
        "doc_id long, text string",
    )
    calls = _spy(monkeypatch, text_ml, "_bpe_train_merges_driver")
    m_drv, v_drv = text_ml.bpe_train_merges(docs, rounds=6)  # default: driver
    assert len(calls) == 1
    with monkeypatch.context() as m:
        m.setattr(localrel, "DRIVER_MAX_ROWS", 0)  # force relational
        m_rel, v_rel = text_ml.bpe_train_merges(docs, rounds=6)
    assert len(calls) == 1
    assert _rows(m_rel) == _rows(m_drv)
    assert _rows(v_rel) == _rows(v_drv)


def test_topk_lsh_sig_overrides_match_two_pass(spark):
    from stock_data_warehouse_analytics_spark.operators.similarity import (
        _hyperplane_sigs_norms,
        topk_lsh,
    )

    dim = 8
    vecs = spark.createDataFrame(
        [
            (i, [float(((i * 7 + j * 3) % 11) - 5) for j in range(dim)])
            for i in range(40)
        ],
        "vec_id long, embedding array<double>",
    ).localCheckpoint(eager=True)
    queries = vecs.filter(F.col("vec_id") < 5)
    base = topk_lsh(
        vecs, queries, k=3, dim=dim, n_planes=8, max_hamming=3, fast=True
    )
    sigs = _hyperplane_sigs_norms(
        vecs.select(F.col("vec_id").alias("neighbor_id"), "embedding"),
        vec_col="embedding",
        vn_col="_cn",
        sig_col="_csig",
        dim=dim,
        n_planes=8,
    ).localCheckpoint(eager=True)
    qsigs = sigs.filter(F.col("neighbor_id") < 5).select(
        F.col("neighbor_id").alias("query_id"),
        F.col("_cn").alias("_qn"),
        F.col("_csig").alias("_qsig"),
    )
    override = topk_lsh(
        None,
        None,
        k=3,
        dim=dim,
        n_planes=8,
        max_hamming=3,
        fast=True,
        cand_sigs=sigs,
        query_sigs=qsigs,
    )
    assert _rows(base) == _rows(override)


def test_literal_df_rejects_values_its_fields_cannot_hold(spark):
    import pyarrow as pa

    from stock_data_warehouse_analytics_spark.operators.localrel import (
        literal_df,
    )

    # an int out of its int32 field's range raises, where the earlier
    # encodings wrapped it like F.lit().cast("int")
    with pytest.raises(pa.ArrowInvalid):
        literal_df(spark, [(2**31 + 5, "a"), (7, "b")], "x int, s string")
    # a non-str in a string field raises, where they cast True to 'true'
    with pytest.raises(pa.ArrowTypeError):
        literal_df(spark, [(True,)], "s string")


@pytest.mark.parametrize("as_string", [False, True])
def test_connected_components_driver_path_matches_loop(
    spark, monkeypatch, as_string
):
    from stock_data_warehouse_analytics_spark.operators import graph, localrel

    plain = [(1, 2), (2, 3), (5, 4), (7, 7), (10, 11), (11, 10), (4, 12)]
    # a null endpoint on either side, a node seen only beside a null,
    # and an all-null edge
    with_nulls = plain + [(3, None), (None, 13), (None, None)]
    calls = _spy(monkeypatch, graph, "_connected_components_driver")
    for edges in (plain, with_nulls):
        if as_string:
            edges = [
                tuple(None if x is None else f"n{x:02d}" for x in e)
                for e in edges
            ]
            schema = "src string, dst string"
        else:
            schema = "src long, dst long"
        df = spark.createDataFrame(edges, schema)
        with monkeypatch.context() as m:
            m.setattr(localrel, "DRIVER_MAX_ROWS", 0)  # force the loop
            loop = _rows(graph.connected_components(df))
        n_calls = len(calls)
        drv = _rows(graph.connected_components(df))  # default: driver
        assert len(calls) == n_calls + 1
        assert loop == drv


def test_connected_components_routes_by_rows_not_estimate(spark, monkeypatch):
    """A ``createDataFrame`` edge list reports Long.MaxValue bytes to
    Catalyst; the route must follow its row count instead."""
    from stock_data_warehouse_analytics_spark.operators import graph, localrel

    df = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 4), (7, 8)], "src long, dst long"
    )
    est = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    assert int(str(est)) == (1 << 63) - 1
    calls = _spy(monkeypatch, graph, "_connected_components_driver")
    drv = _rows(graph.connected_components(df))
    assert len(calls) == 1
    monkeypatch.setattr(localrel, "DRIVER_MAX_ROWS", 3)
    loop = _rows(graph.connected_components(df))
    assert len(calls) == 1  # 4 rows > 3: the distributed loop
    assert loop == drv


def test_with_predicted_lang_keeps_colliding_input_columns(spark):
    """An input column named like a bound score column (``_plang_en``)
    keeps its values, and the prediction equals ``predicted_lang``."""
    from stock_data_warehouse_analytics_spark.functions.text import (
        predicted_lang,
        with_predicted_lang,
    )

    df = spark.createDataFrame(
        [
            (1, "the cat and the dog are in the house", "keep-1"),
            (2, "le chat et le chien sont dans la maison", "keep-2"),
            (3, "der Hund und die Katze sind im Haus", None),
        ],
        "id int, text string, _plang_en string",
    )
    out = with_predicted_lang(df, "text", "lang")
    assert out.columns == ["id", "text", "_plang_en", "lang"]
    want = df.select("id", "_plang_en", predicted_lang(F.col("text")).alias("lang"))
    assert _rows(out.drop("text")) == _rows(want)


def test_literal_map_rejects_non_string_keys():
    from stock_data_warehouse_analytics_spark.operators.localrel import (
        literal_map,
    )

    with pytest.raises(TypeError):
        literal_map({1: 2, "a": 3})
