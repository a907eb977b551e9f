"""Similarity search over embedding columns (``array<float>``) —
brute-force cosine top-k baseline plus an LSH-bucketed ANN scale path
(BASELINE.json north star).

Vector math is pure ``zip_with``/``aggregate`` expressions (JVM-side,
per-row, left-fold deterministic) — no UDFs.  The dot product of two
float vectors accumulates in double (float×float is exact in double),
matching DuckDB's ``list_dot_product`` on cast-to-double lists.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import hash_int60

__all__ = [
    "dot",
    "l2_norm",
    "cosine",
    "normalize",
    "topk_bruteforce",
    "hyperplane_signature",
    "hyperplane_signatures_fast",
    "topk_lsh",
    "fit_ivf_quantizer",
    "topk_ivf_probe",
    "topk_ivf",
    "fit_ivf2_quantizer",
    "topk_ivf2",
    "topk_ivfpq",
    "kcenter_select",
    "neardup_cosine_pairs",
    "neardup_exact_blocked",
    "semantic_dedup",
    "semantic_dedup_incremental",
    "semantic_dedup_ivf2",
]


def dot(a: Column, b: Column) -> Column:
    """Left-fold dot product in double — deterministic accumulation."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def normalize(a: Column) -> Column:
    """Pre-normalized vectors turn cosine into a plain dot product —
    at scale, normalize once at ingest, not per-comparison."""
    n = l2_norm(a)
    return F.transform(a, lambda x: x.cast("double") / n)


def topk_bruteforce(
    emb: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors: broadcast the (small) query set
    against the full corpus, per-row dot product, rank per query.

    Norms are computed ONCE per vector (normalize-at-ingest), so each
    of the O(|Q|·N) comparisons is a single dot product — the corpus is
    read once and never shuffled; only the tiny per-query top-k heaps
    move.  Similarity is rounded to 6 before ranking with an id
    tiebreak, making the result well-defined under FP noise."""
    from pyspark.sql import Window

    q = queries.select(
        F.col(id_col).alias("query_id"), normalize(F.col(vec_col)).alias("_qn")
    )
    c = emb.select(
        F.col(id_col).alias("neighbor_id"), normalize(F.col(vec_col)).alias("_cn")
    )
    scored = c.join(
        F.broadcast(q), F.col("query_id") != F.col("neighbor_id")
    ).select(
        "query_id",
        "neighbor_id",
        F.round(dot(F.col("_qn"), F.col("_cn")), 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .orderBy("query_id", "rnk")
    )


def _plane(dim: int, plane_idx: int) -> list[float]:
    """Deterministic pseudo-random hyperplane: component j derived from
    the 60-bit md5 integer of ``"p{plane}:{j}"`` mapped to [−1, 1].
    No RNG state — any engine can regenerate it exactly."""
    import hashlib

    out = []
    for j in range(dim):
        h = int(hashlib.md5(f"p{plane_idx}:{j}".encode()).hexdigest()[:15], 16)
        out.append((h / float((1 << 60) - 1)) * 2.0 - 1.0)
    return out


def hyperplane_signature(
    vec: Column, *, dim: int, n_planes: int = 16
) -> Column:
    """Random-hyperplane LSH signature (sign bits of plane·v) packed
    into a long.  Planes are deterministic (md5-derived), so buckets are
    reproducible across runs and engines."""
    import json

    # One 2-D JSON literal instead of n_planes × dim F.lit calls: each
    # F.lit is a py4j round trip and a Catalyst literal node (16×64
    # planes ≈ 1k calls, seconds of driver time per plan build);
    # from_json(lit) is constant-folded by the optimizer into the same
    # nested-array literal, so the executed expression is unchanged.
    # Bit-identical: json round-trips doubles exactly, dot() is the
    # same left-fold, and the bit-sum accumulates in the same order.
    planes = F.from_json(
        F.lit(json.dumps([_plane(dim, p) for p in range(n_planes)])),
        "array<array<double>>",
    )
    bits = F.array(*[F.lit(1 << p).cast("long") for p in range(n_planes)])
    terms = F.transform(
        planes,
        lambda pl, i: F.when(
            dot(pl, vec) > 0, F.element_at(bits, i + F.lit(1))
        ).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(terms, F.lit(0).cast("long"), lambda acc, v: acc + v)


def topk_lsh(
    emb: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    dim: int = 64,
    n_planes: int = 16,
    max_hamming: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fast: bool = False,
    cand_sigs: DataFrame | None = None,
    query_sigs: DataFrame | None = None,
) -> DataFrame:
    """ANN via hyperplane LSH: candidates are corpus vectors whose
    signature is within ``max_hamming`` sign-bits of the query's, then
    exact cosine re-ranking on the (much smaller) candidate set.

    At scale: signatures are computed once at ingest (a narrow column),
    candidate filtering happens before any vector math, and the corpus
    never shuffles — same shape as the brute-force path with an extra
    cheap integer filter.  Recall is tunable via n_planes/max_hamming.

    ``fast=True`` computes signatures with the numpy Arrow-batch
    kernel (:func:`hyperplane_signatures_fast`) instead of the
    interpreted fold — use on ROWS-ONLY paths only (a matmul
    knife-edge sign flip would change the candidate set an oracle
    hash-compares; survivors are exact-cosine re-ranked either way).

    ``cand_sigs`` / ``query_sigs`` (fast path only) — pre-computed
    signature tables, columns (neighbor_id, _cn, _csig) /
    (query_id, _qn, _qsig): the "signatures computed once at ingest"
    shape made explicit, so a caller whose queries are a subset of the
    corpus can run ONE kernel pass and derive the query side by a
    filter+rename instead of a second Arrow pass (the dedup-store
    ``sh=``/``sig=`` override stance)."""
    from pyspark.sql import Window

    if fast:
        # numpy kernel emits the NORMALIZED vector alongside the packed
        # signature, and the candidate re-rank uses an Arrow-batched
        # einsum instead of the interpreted per-row fold (the fold was
        # measured at 4.9 s on 67k candidates; einsum ~1 s).  Rows-only
        # paths only — last-ulp sum-order differences vs the fold.
        def _sig_norm(df2, out_id, vn_name, sig_name):
            return _hyperplane_sigs_norms(
                df2.select(F.col(id_col).alias(out_id), vec_col),
                vec_col=vec_col, vn_col=vn_name, sig_col=sig_name,
                dim=dim, n_planes=n_planes,
            )

        q = query_sigs if query_sigs is not None else _sig_norm(
            queries, "query_id", "_qn", "_qsig"
        )
        c = cand_sigs if cand_sigs is not None else _sig_norm(
            emb, "neighbor_id", "_cn", "_csig"
        )
        score_expr = F.round(_dot_einsum(F.col("_qn"), F.col("_cn")), 6)
    else:
        sig = lambda c: hyperplane_signature(c, dim=dim, n_planes=n_planes)  # noqa: E731
        q = queries.select(
            F.col(id_col).alias("query_id"),
            normalize(F.col(vec_col)).alias("_qn"),
            sig(F.col(vec_col)).alias("_qsig"),
        )
        c = emb.select(
            F.col(id_col).alias("neighbor_id"),
            normalize(F.col(vec_col)).alias("_cn"),
            sig(F.col(vec_col)).alias("_csig"),
        )
        score_expr = F.round(dot(F.col("_qn"), F.col("_cn")), 6)
    ham = F.bit_count(F.col("_qsig").bitwiseXOR(F.col("_csig")))
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .filter(ham <= max_hamming)
        .select(
            "query_id",
            "neighbor_id",
            score_expr.alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .orderBy("query_id", "rnk")
    )



def hyperplane_signatures_fast(
    df: DataFrame,
    *,
    vec_col: str,
    sig_col: str = "sig",
    dim: int = 64,
    n_planes: int = 32,
) -> DataFrame:
    """Numpy-batch variant of :func:`hyperplane_signature` — ONE
    ``X @ P.T`` matmul per Arrow batch then sign-packing, ~50× the
    interpreted 32-fold expression.  Use ONLY on rows-only paths:
    matmul partial-sum order can flip a knife-edge sign bit vs the
    fold (≤ ~1e-14 on unit vectors), which an oracle hash-compare
    would see but a verified-cosine candidate set cannot (survivors
    are re-scored with the fold ``dot``)."""
    import numpy as _np

    P = _np.array(
        [_plane(dim, p) for p in range(n_planes)], dtype=_np.float64
    )
    weights = (1 << _np.arange(n_planes)).astype(_np.int64)
    fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )
    out_schema = f"{fields}, {sig_col} long"

    def sign_pack(batches):
        import numpy as np2

        for pdf in batches:
            if not len(pdf):
                continue
            X = np2.vstack(pdf[vec_col].to_numpy()).astype(np2.float64)
            bits = (X @ P.T) > 0
            yield pdf.assign(**{sig_col: (bits @ weights).astype("int64")})

    return df.mapInPandas(sign_pack, schema=out_schema)


def _hyperplane_sigs_norms(
    df: DataFrame,
    *,
    vec_col: str,
    vn_col: str,
    sig_col: str,
    dim: int,
    n_planes: int,
) -> DataFrame:
    """One Arrow pass computing BOTH the packed hyperplane signature
    and the L2-normalized vector (numpy, so the normalize is
    materialized once per row, never re-evaluated per joined
    candidate).  Rows-only companion of
    :func:`hyperplane_signatures_fast`."""
    import numpy as _np

    P = _np.array(
        [_plane(dim, p) for p in range(n_planes)], dtype=_np.float64
    )
    weights = (1 << _np.arange(n_planes)).astype(_np.int64)
    id_field = [f for f in df.schema.fields if f.name != vec_col][0]
    id_name = id_field.name
    # carry the id column's REAL type (string/int/long keys all work,
    # matching the fast=False path's behavior)
    out_schema = (
        f"{id_name} {id_field.dataType.simpleString()}, "
        f"{vn_col} array<double>, {sig_col} long"
    )

    def kernel(batches):
        import numpy as np2
        import pandas as pd2

        for pdf in batches:
            if not len(pdf):
                continue
            X = np2.vstack(pdf[vec_col].to_numpy()).astype(np2.float64)
            bits = (X @ P.T) > 0
            nrm = np2.sqrt((X * X).sum(1))
            nrm[nrm == 0] = 1.0
            vn = X / nrm[:, None]
            yield pd2.DataFrame(
                {
                    id_name: pdf[id_name].to_numpy(),
                    vn_col: list(vn),
                    sig_col: (bits @ weights).astype("int64"),
                }
            )

    return df.mapInPandas(kernel, schema=out_schema)


_DOT_EINSUM_UDF = None


def _dot_einsum(a: Column, b: Column) -> Column:
    """Arrow-batched row-wise dot product — the rows-only re-rank
    scorer (einsum over the candidate batch instead of an interpreted
    per-row fold; ~5× on 67k candidates).  The pandas_udf is built
    lazily (its DDL return type needs an active SparkContext, so a
    module-level decorator would break plain imports)."""
    global _DOT_EINSUM_UDF
    if _DOT_EINSUM_UDF is None:
        def _kernel(xa: pd.Series, xb: pd.Series) -> pd.Series:
            import numpy as _np
            import pandas as _pd

            if not len(xa):
                return _pd.Series([], dtype=float)
            X = _np.vstack(xa.to_numpy()).astype(_np.float64)
            Y = _np.vstack(xb.to_numpy()).astype(_np.float64)
            return _pd.Series(_np.einsum("ij,ij->i", X, Y))

        _DOT_EINSUM_UDF = F.pandas_udf(_kernel, "double")
    return _DOT_EINSUM_UDF(a, b)


def fit_ivf_quantizer(
    emb: DataFrame,
    *,
    n_cells: int = 16,
    max_iter: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fit_sample_per_cell: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Fit the IVF coarse quantizer ONCE — the distributed Lloyd trainer
    with one subspace (``operators/kmeans.pq_train`` with ``m=1``: one
    Arrow scan per iteration, driver state = the k×dim centroid array,
    deterministic md5-hash seeding, no RNG; replaced
    ``pyspark.ml.KMeans``, whose per-fit fixed overhead dominated
    codebook-sized fits).  Returns ``(assigned, centers_df)`` — the
    cell-assigned corpus and the k×dim centroid table (the only state
    that ever reaches the driver, bounded by construction).

    At scale the quantizer is fit once (typically on a sample) and
    reused across every query batch; ``topk_ivf_probe`` is the
    per-batch path.  In a real deployment ``assigned`` is written
    bucketed by ``cell`` so assignment is a one-time layout cost.
    (Callers fitting SEVERAL quantizers over one corpus — the N_CELLS
    tuning sweep — use ``plans/llm_similarity._ncells_index`` instead:
    one shared normalize pass + one multi-codebook assignment.)"""
    from .kmeans import assign_codes_multi, pq_train

    c = emb.select(
        F.col(id_col).alias("neighbor_id"), normalize(F.col(vec_col)).alias("_cn")
    ).localCheckpoint(eager=True)  # every Lloyd pass reuses one scan
    fit_input = c
    if fit_sample_per_cell is not None:
        # Fit on a deterministic hash sample of ~n_cells·fit_sample_per_cell
        # vectors: each Lloyd pass costs O(sample·k·dim) instead of
        # O(n·k·dim) — with k ∝ √n this keeps the FIT linear in n while
        # the full corpus is still assigned exactly (one extra map pass).
        n = c.count()
        target = n_cells * fit_sample_per_cell
        if n > target:
            bucket = hash_int60(F.col("neighbor_id").cast("string")) % 1_000_000
            # clamp: the floor can reach 0 when n > target·1e6 (an empty
            # fit sample would crash pq_train); and a hash sample can
            # come up short of n_cells seed rows — fall back to the full
            # input in that case (fit cost is then the caller's choice)
            keep = max(1, int(target * 1_000_000 // n))
            sampled = c.filter(bucket < keep).localCheckpoint(eager=True)
            fit_input = sampled if sampled.count() >= n_cells else c
    (centers,) = pq_train(
        fit_input, vec_col="_cn", m=1, k=n_cells, iters=max_iter
    )
    assigned = assign_codes_multi(c, {"cell": centers}, vec_col="_cn")
    from .localrel import literal_df

    centers_df = literal_df(
        emb.sparkSession,
        [(i, [float(x) for x in cen]) for i, cen in enumerate(centers)],
        "cell int, cvec array<double>",
    )  # a local relation: the probe side broadcasts from its exact size
    return assigned, centers_df


def topk_ivf_probe(
    assigned: DataFrame,
    centers_df: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe a pre-fitted IVF index (from :func:`fit_ivf_quantizer`):

    1. Route each query to its ``nprobe`` nearest cells by
       ``||c||² − 2·q·c`` (equivalent to euclidean argmin; ``||q||²`` is
       constant per query) against the broadcast centroid table.
    2. Exact cosine re-rank inside the probed cells only — a broadcast
       join of |Q|·nprobe probe rows against the cell-partitioned
       corpus, never an all-pairs scan.

    Recall is governed by nprobe/n_cells and measured in tests against
    ``topk_bruteforce``; rows are ranked on round(cosine, 6) with id
    tiebreaks like every similarity operator here."""
    from pyspark.sql import Window

    q = queries.select(
        F.col(id_col).alias("query_id"), normalize(F.col(vec_col)).alias("_qn")
    )
    d2 = dot(F.col("cvec"), F.col("cvec")) - 2.0 * dot(F.col("_qn"), F.col("cvec"))
    wprobe = Window.partitionBy("query_id").orderBy("_d2", "cell")
    probes = (
        q.crossJoin(F.broadcast(centers_df))
        .withColumn("_d2", F.round(d2, 9))  # stable probe choice under FP noise
        .withColumn("_pr", F.row_number().over(wprobe))
        .filter(F.col("_pr") <= nprobe)
        .select("query_id", "_qn", "cell")
    )
    scored = (
        assigned.join(F.broadcast(probes), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(dot(F.col("_qn"), F.col("_cn")), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .orderBy("query_id", "rnk")
    )


def topk_ivf(
    emb: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    max_iter: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN via IVF: :func:`fit_ivf_quantizer` + :func:`topk_ivf_probe`
    in one call (fit-per-call convenience form; batch/repeated callers
    should fit once and probe many times)."""
    assigned, centers_df = fit_ivf_quantizer(
        emb, n_cells=n_cells, max_iter=max_iter,
        id_col=id_col, vec_col=vec_col,
    )
    return topk_ivf_probe(
        assigned, centers_df, queries, k=k, nprobe=nprobe,
        id_col=id_col, vec_col=vec_col,
    )


def _verify_pairs(
    base: DataFrame, cand: DataFrame, threshold: float
) -> DataFrame:
    """Re-score candidate id pairs with the left-fold ``dot`` and filter
    at the real threshold.  Shared tail of both fast near-dup paths —
    it is what makes their margin-filtered numpy candidates *exact*:
    the emitted (pair, cosine) rows are computed by the same expression
    as the naive all-pairs join, bit for bit.

    ``base`` is (id, vn) with pre-normalized vectors; ``cand`` is
    distinct (id_a, id_b).  Candidate sets are a tiny fraction of n², so
    the two vector-fetch joins are cheap (and broadcast-able when the
    corpus side is bounded)."""
    a = base.select(F.col("id").alias("id_a"), F.col("vn").alias("_va"))
    b = base.select(F.col("id").alias("id_b"), F.col("vn").alias("_vb"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(dot(F.col("_va"), F.col("_vb")), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
        .orderBy("id_a", "id_b")
    )


def neardup_exact_blocked(
    emb: DataFrame,
    *,
    threshold: float = 0.9,
    n_blocks: int = 8,
    margin: float = 1e-4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine near-dup pairs via block-matmul candidate generation
    — same output as the all-pairs fold join, ~an order of magnitude
    faster.

    Shape: rows get a block id (pmod over ``n_blocks``); the
    n_blocks·(n_blocks+1)/2 unordered block pairs drive a cogrouped
    ``applyInPandas`` in which each task sees exactly two blocks and
    scores them with one Arrow-batched numpy matmul.  Survivors of
    ``score >= threshold − margin`` are re-scored with the same
    left-fold ``dot`` expression the all-pairs path uses and re-filtered
    at the real threshold — so the emitted rows (and their cosine
    values) are bit-identical to the baseline and to the DuckDB oracle.

    Why the margin makes this exact: numpy (pairwise/SIMD summation) and
    the left fold differ by at most ~64·eps ≈ 1e-14 on unit vectors —
    ten orders of magnitude under the 1e-4 margin — so no pair can pass
    the fold filter yet miss the candidate filter.

    Scale: still O(n²) work (it is the *exact* variant; LSH is the
    sublinear path), but communication is O(n·n_blocks) row replicas
    with no corpus broadcast and no driver collect; per-task memory is
    two blocks of vectors.  Grow ``n_blocks`` ∝ √cluster-cores.
    """
    import numpy as np
    import pandas as pd

    base = emb.select(
        F.col(id_col).alias("id"), normalize(F.col(vec_col)).alias("vn")
    )
    from .localrel import literal_df

    bp = literal_df(
        base.sparkSession,
        [(b1, b2) for b1 in range(n_blocks) for b2 in range(b1, n_blocks)],
        "b1 int, b2 int",
    )
    blocked = base.withColumn("b", F.pmod(F.col("id"), F.lit(n_blocks)).cast("int"))
    left = (
        blocked.alias("l")
        .join(F.broadcast(bp.alias("pl")), F.col("l.b") == F.col("pl.b1"))
        .select("pl.b1", "pl.b2", "l.id", "l.vn")
    )
    # fresh aliases on the right side give new expression ids — both
    # cogroup sides descend from the same `base`, which Spark's
    # ambiguous-self-join check rejects otherwise
    right = (
        blocked.alias("r")
        .join(F.broadcast(bp.alias("pr")), F.col("r.b") == F.col("pr.b2"))
        .select(
            F.col("pr.b1").alias("rb1"),
            F.col("pr.b2").alias("rb2"),
            F.col("r.id").alias("rid"),
            F.col("r.vn").alias("rvn"),
        )
    )
    cut = threshold - margin

    def score_blocks(key, lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if lpdf.empty or rpdf.empty:
            return pd.DataFrame({"id_a": [], "id_b": []}).astype("int64")
        xa = np.stack(lpdf["vn"].to_numpy())
        xb = np.stack(rpdf["rvn"].to_numpy())
        s = xa @ xb.T
        ia, ib = np.nonzero(s >= cut)
        ids_a = lpdf["id"].to_numpy()[ia]
        ids_b = rpdf["rid"].to_numpy()[ib]
        lo = np.minimum(ids_a, ids_b)
        hi = np.maximum(ids_a, ids_b)
        keep = lo < hi  # drop self-pairs; same-block dupes die below
        return pd.DataFrame({"id_a": lo[keep], "id_b": hi[keep]})

    cand = (
        left.groupBy("b1", "b2")
        .cogroup(right.groupBy("rb1", "rb2"))
        .applyInPandas(score_blocks, "id_a long, id_b long")
        # the diagonal block pair (b,b) sees each pair twice (i,j)/(j,i)
        .dropDuplicates(["id_a", "id_b"])
    )
    return _verify_pairs(base, cand, threshold)


def neardup_cosine_pairs(
    emb: DataFrame,
    *,
    threshold: float = 0.9,
    dim: int = 64,
    n_planes: int = 32,
    bands: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exact: bool = False,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs.

    ``exact=True``: O(n²) self-join on pre-normalized vectors — the
    oracle-checkable baseline (norms computed n times, not n²).

    Default (scale path): banded hyperplane-LSH — signatures split into
    ``bands`` chunks, candidates only where a whole band matches, then
    exact cosine on survivors.  By pigeonhole, any pair within
    ``bands−1`` sign-bit flips of each other is guaranteed a shared
    band; cosine≥threshold pairs flip few bits, so recall stays high
    (measured in tests).

    Execution shape for the banded path: rows are grouped by LSH bucket
    ``(band, band_val)`` and each bucket is scored with ONE Arrow-batched
    numpy matmul inside ``applyInPandas`` at ``threshold − 1e-4``;
    candidate pairs never materialize as wide (vector, vector) rows, so
    shuffle volume is n·bands bucket rows plus the (tiny) surviving id
    pairs.  Survivors are re-scored by the same left-fold ``dot`` as the
    exact path (`_verify_pairs`), making the output bit-identical to the
    original bucket-equi-join formulation: the 1e-4 margin dwarfs the
    ≤~1e-14 numpy-vs-fold summation-order delta on unit vectors.  At
    cluster scale, per-task memory is one bucket; hot buckets are the
    usual LSH skew concern — raise ``bands``/``n_planes`` or pre-split
    hot ``band_val``s (operators/skew.py) if occupancy skews."""
    import numpy as np
    import pandas as pd

    base = emb.select(
        F.col(id_col).alias("id"), normalize(F.col(vec_col)).alias("vn")
    )
    if exact:
        a, b = base.alias("a"), base.alias("b")
        pairs = a.join(b, F.col("a.id") < F.col("b.id")).select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.vn").alias("_va"),
            F.col("b.vn").alias("_vb"),
        )
        return (
            pairs.select(
                "id_a",
                "id_b",
                F.round(dot(F.col("_va"), F.col("_vb")), 6).alias("cosine"),
            )
            .filter(F.col("cosine") >= threshold)
            .orderBy("id_a", "id_b")
        )

    width = n_planes // bands
    mask = (1 << width) - 1
    # rows-only path → the numpy signature kernel is safe (see
    # hyperplane_signatures_fast); output pairs are still re-scored
    # with the fold dot, so emitted values are bit-identical
    sigged = hyperplane_signatures_fast(
        base, vec_col="vn", sig_col="sig", dim=dim, n_planes=n_planes
    )
    band_structs = [
        F.struct(
            F.lit(bi).alias("band"),
            F.shiftright(F.col("sig"), bi * width)
            .bitwiseAND(F.lit(mask))
            .alias("band_val"),
        )
        for bi in range(bands)
    ]
    banded = sigged.select(
        "id", "vn", F.explode(F.array(*band_structs)).alias("bb")
    ).select("id", "vn", "bb.band", "bb.band_val")
    cut = threshold - 1e-4

    def score_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"id_a": [], "id_b": []}).astype("int64")
        x = np.stack(pdf["vn"].to_numpy())
        s = x @ x.T
        ia, ib = np.nonzero(s >= cut)
        ids = pdf["id"].to_numpy()
        lo, hi = ids[ia], ids[ib]
        keep = lo < hi  # upper triangle only: no self-pairs, no mirrors
        return pd.DataFrame({"id_a": lo[keep], "id_b": hi[keep]})

    cand = (
        banded.groupBy("band", "band_val")
        .applyInPandas(score_bucket, "id_a long, id_b long")
        # a near-dup pair can share several bands
        .dropDuplicates(["id_a", "id_b"])
    )
    return _verify_pairs(base, cand, threshold)


def semantic_dedup(
    emb: DataFrame,
    *,
    threshold: float = 0.97,
    n_cells: int = 16,
    max_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assigned: DataFrame | None = None,
    fit_sample_per_cell: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space with the IVF coarse
    quantizer, then inside each cell drop every member that is within
    cosine ``threshold`` of its cluster's kept representative — the
    embedding-space twin of ``dedup_keep_representative`` (which
    operates on MinHash clusters of the TEXT).

    Decision rule, made deterministic: within-cell pairs at
    ``cosine ≥ threshold`` form an ε-graph; connected components of
    that graph are the duplicate groups and the MIN id per component
    survives (the same canonical-representative rule every dedup path
    here uses — no order-dependent greedy pass).

    Returns one row per vector: (id, cell, cluster_id, keep).

    Scale: the O(cell²) pairwise stage is the SemDeDup bargain — the
    quantizer bounds each cell to ~n/k members so the join is
    O(n²/k) spread over k independent cells, never a global all-pairs;
    at 100 TB you raise ``n_cells`` so cells stay executor-sized — the
    pairwise stage already runs the per-cell blocked matmul kernel
    (:func:`_within_cell_edges`) — and past ~10⁹ vectors the coarse
    quantizer becomes the two-level :func:`fit_ivf2_quantizer`.  Cross-cell near-dupes are
    missed by construction — SemDeDup's documented recall trade
    (measured in ``tests/test_dedup_recall.py``).

    ``assigned`` — pass a pre-fit ``fit_ivf_quantizer`` assignment to
    reuse the session's quantizer (the registered query does)."""
    from .graph import connected_components

    if assigned is None:
        assigned, _ = fit_ivf_quantizer(
            emb,
            n_cells=n_cells,
            max_iter=max_iter,
            id_col=id_col,
            vec_col=vec_col,
            fit_sample_per_cell=fit_sample_per_cell,
        )
    edges = _within_cell_edges(assigned, threshold)
    comp = connected_components(edges, src="id_a", dst="id_b").select(
        F.col("node").alias(id_col), F.col("comp").alias("_comp")
    )
    return (
        assigned.select(F.col("neighbor_id").alias(id_col), "cell")
        .join(comp, id_col, "left")
        .select(
            id_col,
            "cell",
            F.coalesce(F.col("_comp"), F.col(id_col)).alias("cluster_id"),
            (
                F.col("_comp").isNull() | (F.col(id_col) == F.col("_comp"))
            ).alias("keep"),
        )
    )



def _within_cell_edges(
    assigned: DataFrame,
    threshold: float,
    cell_cols: tuple[str, ...] = ("cell",),
) -> DataFrame:
    """(id_a, id_b) pairs at cosine ≥ ``threshold`` within each cell —
    the SemDeDup pairwise stage as a per-cell BLOCKED MATMUL
    (``applyInPandas`` over cells, row-chunked numpy ``X @ X.T``)
    instead of a fold-dot self-join: same candidate set, ~15× faster
    (the interpreted per-pair fold was 27 s of a 41 s ×10-scale run).
    Chunking caps the in-memory score block at CHUNK×cell_size, so a
    hot cell degrades gracefully instead of OOMing.  Cosine is rounded
    to 6 before thresholding like every similarity operator here; the
    matmul's sum order can differ from the fold's in the last ulp,
    which round-6 absorbs except on exact knife edges — acceptable for
    a rows-only operator whose tests use wide margins."""
    CHUNK = 4096

    def pairs(pdf):
        import numpy as _np
        import pandas as _pd

        X = _np.vstack(pdf["_cn"].to_numpy()).astype(_np.float64)
        ids = pdf["neighbor_id"].to_numpy()
        n = len(ids)
        out_a, out_b = [], []
        for lo in range(0, n, CHUNK):
            hi = min(lo + CHUNK, n)
            S = X[lo:hi] @ X.T
            ii, jj = _np.nonzero(_np.round(S, 6) >= threshold)
            gi = ii + lo
            keep = gi < jj  # upper triangle only, no self-pairs
            gi, jj = gi[keep], jj[keep]
            a, b = ids[gi], ids[jj]
            out_a.append(_np.minimum(a, b))
            out_b.append(_np.maximum(a, b))
        if not out_a:
            return _pd.DataFrame({"id_a": [], "id_b": []})
        return _pd.DataFrame(
            {
                "id_a": _np.concatenate(out_a),
                "id_b": _np.concatenate(out_b),
            }
        )

    return assigned.groupBy(*cell_cols).applyInPandas(
        pairs, "id_a long, id_b long"
    )


def semantic_dedup_incremental(
    old: DataFrame,
    new: DataFrame,
    *,
    threshold: float = 0.97,
    n_cells: int = 16,
    max_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fit_sample_per_cell: int | None = None,
) -> DataFrame:
    """The DAILY-production shape of semantic dedup: a NEW batch of
    embeddings admitted against an EXISTING corpus.  The quantizer is
    fit on the OLD corpus only (in production it already exists — here
    the fit stands in for loading it); new vectors are assigned to the
    existing cells map-side and compared, within their cell only,
    against (a) old members → ``dup_vs_corpus`` and (b) other new
    members → ``dup_within_batch``.

    Returns one row per NEW vector: (id, cell, dup_vs_corpus,
    dup_within_batch).  Work is |new|·(cell sizes), never
    |corpus|² — the same bucket-local probe shape as
    ``topk_ivf_probe`` and ``dedup_incremental_new_batch``."""
    import numpy as np

    from .kmeans import assign_codes_multi

    assigned_old, centers_df = fit_ivf_quantizer(
        old, n_cells=n_cells, max_iter=max_iter, id_col=id_col,
        vec_col=vec_col, fit_sample_per_cell=fit_sample_per_cell,
    )
    centers = np.array(
        [r.cvec for r in centers_df.orderBy("cell").collect()]
    )  # k×dim — codebook-sized driver state, same as the fit itself
    new_norm = new.select(
        F.col(id_col).alias("neighbor_id"), normalize(F.col(vec_col)).alias("_cn")
    )
    assigned_new = assign_codes_multi(
        new_norm, {"cell": centers}, vec_col="_cn"
    ).localCheckpoint(eager=True)  # reused three times below

    n = assigned_new.select(
        "cell", F.col("neighbor_id").alias("new_id"), F.col("_cn").alias("_vn")
    )
    o = assigned_old.select(
        "cell", F.col("neighbor_id").alias("old_id"), F.col("_cn").alias("_vo")
    )
    vs_corpus = (
        n.join(o, on="cell")
        .filter(F.round(dot(F.col("_vn"), F.col("_vo")), 6) >= threshold)
        .select("new_id")
        .distinct()
        .withColumn("_dup_corpus", F.lit(True))
    )
    n2 = assigned_new.select(
        "cell", F.col("neighbor_id").alias("other_id"), F.col("_cn").alias("_vb")
    )
    within = (
        n.join(n2, on="cell")
        .filter(F.col("new_id") != F.col("other_id"))
        .filter(F.round(dot(F.col("_vn"), F.col("_vb")), 6) >= threshold)
        .select("new_id")
        .distinct()
        .withColumn("_dup_batch", F.lit(True))
    )
    return (
        assigned_new.select(
            F.col("neighbor_id").alias(id_col), "cell"
        )
        .join(vs_corpus.withColumnRenamed("new_id", id_col), id_col, "left")
        .join(within.withColumnRenamed("new_id", id_col), id_col, "left")
        .select(
            id_col,
            "cell",
            F.coalesce("_dup_corpus", F.lit(False)).alias("dup_vs_corpus"),
            F.coalesce("_dup_batch", F.lit(False)).alias("dup_within_batch"),
        )
    )


def semantic_dedup_ivf2(
    emb: DataFrame,
    *,
    threshold: float = 0.97,
    n_coarse: int = 8,
    n_sub: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fitted: tuple[DataFrame, DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """SemDeDup over the TWO-LEVEL quantizer — the composition VERDICT
    r4 asked for (action #3): identical decision rule to
    :func:`semantic_dedup` (within-cell ε-graph at ``threshold`` →
    connected components → min-id survivor) but with the pairwise
    stage bucketed by (cell, sub) — each bucket holds ~n/(k1·k2)
    members, so the O(bucket²) matmul stage stays executor-sized past
    the ~10⁹-vector point where a single-level √n-cell table outgrows
    the driver and the routing broadcast (the ceiling PERF.md flags
    for ``emb_semantic_dedup``).

    Recall trade vs single-level: near-dupes split across SUB-cells
    are additionally missed (planted-dupe parity measured in
    tests/test_dedup_recall.py::test_semantic_dedup_ivf2_planted — the
    perturbation groups co-locate, so parity holds there).  Output one
    row per vector: (id, cell, sub, cluster_id, keep)."""
    from .graph import connected_components

    if fitted is None:
        fitted = fit_ivf2_quantizer(
            emb, n_coarse=n_coarse, n_sub=n_sub, id_col=id_col, vec_col=vec_col
        )
    assigned, _, _ = fitted
    edges = _within_cell_edges(assigned, threshold, cell_cols=("cell", "sub"))
    comp = connected_components(edges, src="id_a", dst="id_b").select(
        F.col("node").alias(id_col), F.col("comp").alias("_comp")
    )
    return (
        assigned.select(F.col("neighbor_id").alias(id_col), "cell", "sub")
        .join(comp, id_col, "left")
        .select(
            id_col,
            "cell",
            "sub",
            F.coalesce(F.col("_comp"), F.col(id_col)).alias("cluster_id"),
            (
                F.col("_comp").isNull() | (F.col(id_col) == F.col("_comp"))
            ).alias("keep"),
        )
    )


def fit_ivf2_quantizer(
    emb: DataFrame,
    *,
    n_coarse: int = 8,
    n_sub: int = 8,
    max_iter: int = 5,
    sub_iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """TWO-LEVEL IVF (IVF-in-IVF) — the quantizer shape past ~10⁹
    vectors, where a single-level √n-cell quantizer's fit and routing
    tables outgrow their budgets: a coarse level-1 quantizer (the
    existing sampled distributed Lloyd — driver state k1×dim) and,
    INSIDE each coarse cell, k2 sub-centroids fit by the one-process
    Lloyd of ``operators/kmeans.lloyd_kernels`` run WHERE THE CELL'S
    DATA LIVES (``applyInPandas`` over cells — the level-2 fit never
    touches the driver and all cells fit in parallel).  Sub-centroids are recovered relationally as the
    element-wise mean of each sub-cell's members (posexplode + group —
    the per-label-centroid pattern of ``plans/emb_iter.py``), i.e. one
    extra Lloyd half-step: still a valid quantizer, never a collect.

    Deterministic: level-1 seeding is md5-ordered (``pq_train``);
    level-2 seeds are each cell's ``n_sub`` smallest-md5 members.

    Returns ``(assigned, centers1_df, sub_centers)``:
    assigned(neighbor_id, _cn, cell, sub), centers1_df(cell, cvec),
    sub_centers(cell, sub, svec) — routing tables of k1 and k1·k2 rows
    respectively, both broadcastable at any corpus size."""
    import hashlib

    from .kmeans import lloyd_kernels

    assigned1, centers1_df = fit_ivf_quantizer(
        emb,
        n_cells=n_coarse,
        max_iter=max_iter,
        id_col=id_col,
        vec_col=vec_col,
        fit_sample_per_cell=200,
    )

    k2 = n_sub
    iters = sub_iters
    nearest, lloyd = lloyd_kernels()

    def sub_assign(pdf):
        import numpy as _np

        X = _np.vstack(pdf["_cn"].to_numpy()).astype(_np.float64)
        ids = pdf["neighbor_id"].astype(str).to_numpy()
        order = _np.argsort(
            _np.array(
                [hashlib.md5(i.encode()).hexdigest() for i in ids]
            )
        )
        return pdf.assign(sub=nearest(X, lloyd(X, order, k2, iters)))

    fields = "neighbor_id long, _cn array<double>, cell int, sub int"
    assigned = (
        assigned1.groupBy("cell")
        .applyInPandas(sub_assign, schema=fields)
        .localCheckpoint(eager=True)  # reused by sub-center agg + probes
    )
    sub_centers = (
        assigned.select(
            "cell",
            "sub",
            F.posexplode(F.col("_cn")).alias("dim", "v"),
        )
        .groupBy("cell", "sub", "dim")
        .agg(F.avg("v").alias("mv"))
        .groupBy("cell", "sub")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("dim", "mv"))
            ).alias("_dm")
        )
        .select(
            "cell",
            "sub",
            F.transform(F.col("_dm"), lambda x: x["mv"]).alias("svec"),
        )
    )
    return assigned, centers1_df, sub_centers


def topk_ivf2(
    emb: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    n_coarse: int = 8,
    n_sub: int = 8,
    nprobe1: int = 3,
    nprobe2: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fitted: tuple[DataFrame, DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """ANN via the two-level quantizer: route each query to its
    ``nprobe1`` nearest coarse cells (k1-row broadcast), then to the
    ``nprobe2`` nearest sub-cells among those (k1·k2-row broadcast),
    then exact cosine re-rank over ONLY the probed sub-cells'
    members — candidate volume ≈ |Q|·nprobe2·(n / (k1·k2)).  Recall
    vs brute force is measured in ``tests/test_dedup_recall.py``."""
    from pyspark.sql import Window

    if fitted is None:
        fitted = fit_ivf2_quantizer(
            emb,
            n_coarse=n_coarse,
            n_sub=n_sub,
            id_col=id_col,
            vec_col=vec_col,
        )
    assigned, centers1_df, sub_centers = fitted

    q = queries.select(
        F.col(id_col).alias("query_id"), normalize(F.col(vec_col)).alias("_qn")
    )
    d2c = dot(F.col("cvec"), F.col("cvec")) - 2.0 * dot(
        F.col("_qn"), F.col("cvec")
    )
    w1 = Window.partitionBy("query_id").orderBy("_d2", "cell")
    probes1 = (
        q.crossJoin(F.broadcast(centers1_df))
        .withColumn("_d2", F.round(d2c, 9))
        .withColumn("_pr", F.row_number().over(w1))
        .filter(F.col("_pr") <= nprobe1)
        .select("query_id", "_qn", "cell")
    )
    d2s = dot(F.col("svec"), F.col("svec")) - 2.0 * dot(
        F.col("_qn"), F.col("svec")
    )
    w2 = Window.partitionBy("query_id").orderBy("_d2", "cell", "sub")
    probes2 = (
        probes1.join(F.broadcast(sub_centers), "cell")
        .withColumn("_d2", F.round(d2s, 9))
        .withColumn("_pr", F.row_number().over(w2))
        .filter(F.col("_pr") <= nprobe2)
        .select("query_id", "_qn", "cell", "sub")
    )
    scored = (
        assigned.join(F.broadcast(probes2), ["cell", "sub"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(dot(F.col("_qn"), F.col("_cn")), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .orderBy("query_id", "rnk")
    )


def topk_ivfpq(
    emb: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    n_cells: int = 16,
    pq_m: int = 8,
    pq_k: int = 16,
    nprobe: int = 4,
    rerank: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fitted: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """IVF-PQ — the FAISS-style memory-bounded ANN index completed:
    coarse IVF routing + product-quantized approximate scoring + exact
    re-rank of the top ``rerank`` PQ candidates.

    Pipeline: (1) sampled-fit coarse quantizer; (2) PQ codebooks
    trained in one all-subspace Lloyd pass per iteration
    (``operators/kmeans.pq_train``); (3) map-only encode+reconstruct —
    scoring uses the RECONSTRUCTED vector, numerically identical to
    the per-query LUT formulation FAISS uses (the LUT is the same
    arithmetic laid out for SIMD; this form keeps the plan relational);
    (4) probed-cell PQ scores → top ``rerank`` per query → exact
    cosine on the true vectors → top ``k``.  At scale the index stores
    only (cell, m one-byte codes) per vector — 64×(float32) → m bytes —
    and the true-vector fetch touches ``rerank`` rows per query.

    RESIDUAL encoding (the full FAISS formulation): PQ codebooks are
    trained on ``vector − cell_centroid`` residuals, and scoring
    reconstructs ``centroid + quantized_residual`` — residuals are
    tighter-distributed than raw vectors, so the same code budget
    quantizes finer (measured on sf0.001: recall@rerank-32 0.375 → 0.50
    — residual PQ reaches the IVF routing ceiling at a quarter of the
    re-rank budget the vectors-direct codebooks needed).  The residual
    subtraction and centroid re-addition are map-side ``zip_with``
    against the broadcast centroid table.  Recall vs brute force is
    measured in tests."""
    from pyspark.sql import Window

    from .kmeans import pq_reconstruct, pq_train

    if fitted is not None:
        assigned, centers_df = fitted  # reuse a session-cached coarse fit
    else:
        assigned, centers_df = fit_ivf_quantizer(
            emb,
            n_cells=n_cells,
            max_iter=5,
            id_col=id_col,
            vec_col=vec_col,
            fit_sample_per_cell=200,
        )
    with_res = assigned.join(F.broadcast(centers_df), "cell").withColumn(
        "_res", F.zip_with(F.col("_cn"), F.col("cvec"), lambda a, b: a - b)
    )
    # 3 Lloyd iterations: recall is bounded by the IVF routing, not
    # codebook polish (measured identical recall at 3 vs 5 iters) —
    # each iteration is a full Arrow scan, so fewer is real time
    codebooks = pq_train(
        with_res, vec_col="_res", m=pq_m, k=pq_k, iters=3
    )
    recon = (
        pq_reconstruct(with_res, codebooks, vec_col="_res", rec_col="_qres")
        .withColumn(
            "_rec",
            F.zip_with(F.col("cvec"), F.col("_qres"), lambda a, b: a + b),
        )
        .drop("_qres", "_res", "cvec")
        .localCheckpoint(eager=True)
    )

    q = queries.select(
        F.col(id_col).alias("query_id"), normalize(F.col(vec_col)).alias("_qn")
    )
    d2 = dot(F.col("cvec"), F.col("cvec")) - 2.0 * dot(
        F.col("_qn"), F.col("cvec")
    )
    wprobe = Window.partitionBy("query_id").orderBy("_d2", "cell")
    probes = (
        q.crossJoin(F.broadcast(centers_df))
        .withColumn("_d2", F.round(d2, 9))
        .withColumn("_pr", F.row_number().over(wprobe))
        .filter(F.col("_pr") <= nprobe)
        .select("query_id", "_qn", "cell")
    )
    pq_scored = (
        recon.join(F.broadcast(probes), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            "_qn",
            "_cn",
            F.round(dot(F.col("_qn"), F.col("_rec")), 6).alias("pq_score"),
        )
    )
    w_pq = Window.partitionBy("query_id").orderBy(
        F.desc("pq_score"), "neighbor_id"
    )
    cand = pq_scored.withColumn("_cr", F.row_number().over(w_pq)).filter(
        F.col("_cr") <= rerank
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        cand.select(
            "query_id",
            "neighbor_id",
            F.round(dot(F.col("_qn"), F.col("_cn")), 6).alias("cosine"),
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .orderBy("query_id", "rnk")
    )


def kcenter_select(
    emb: DataFrame,
    *,
    n_select: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Greedy k-CENTER (Gonzalez) diversity selection — the coreset /
    diversity-subset op of a training-data pipeline: pick ``n_select``
    vectors such that the maximum distance from any corpus vector to
    its nearest pick is (2-approximately) minimized.  Each round
    selects the vector FARTHEST from the current picks — the classic
    farthest-first traversal.

    Relational loop (the BPE/CC shape): the corpus carries a running
    ``_mind`` column (min squared distance to the picked set); each
    round is ONE ``limit(1)`` argmax collect (a single row of driver
    state) + a map-only ``least(_mind, dist²(·, new_pick))`` update,
    ``localCheckpoint`` per round.  Deterministic: ties break on id;
    the first pick is the min-id vector.  Output: (sel_rank, id,
    dist_to_set) — ``dist_to_set`` is the max-min distance at
    selection time, a non-increasing sequence whose last value bounds
    the covering radius."""
    base = emb.select(
        F.col(id_col).alias("_id"), normalize(F.col(vec_col)).alias("_v")
    ).localCheckpoint(eager=True)
    cur = base.withColumn("_mind", F.lit(float("inf")))
    picks: list[tuple[int, object, float]] = []
    for rank in range(1, n_select + 1):
        top = cur.orderBy(F.desc("_mind"), "_id").limit(1).collect()
        if not top:
            break
        pid, pvec, pmind = top[0]._id, top[0]._v, float(top[0]._mind)
        picks.append((rank, pid, 0.0 if pmind == float("inf") else pmind))
        from .localrel import literal_double_array

        pv = literal_double_array(pvec)
        d2 = F.aggregate(
            F.zip_with(F.col("_v"), pv, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        cur = cur.withColumn(
            "_mind", F.least(F.col("_mind"), d2)
        ).localCheckpoint(eager=True)
    from .localrel import literal_df

    spark = emb.sparkSession
    return literal_df(
        spark,
        [(r, i, round(d, 6)) for r, i, d in picks],
        f"sel_rank int, {id_col} long, dist_to_set double",
    )
