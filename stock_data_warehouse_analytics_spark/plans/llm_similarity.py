"""Similarity-search queries over ``embeddings`` (array<float>, dim 64).

Probed invariant: Spark's zip_with+aggregate left-fold dot product is
bit-identical to DuckDB ``list_dot_product`` on DOUBLE[] casts, so the
cosine oracles compare exactly.  Ranking is on round(cosine, 6) with id
tiebreaks — well-defined under any residual FP noise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.localrel import literal_df
from ..operators.similarity import (
    _plane,
    kcenter_select,
    fit_ivf2_quantizer,
    fit_ivf_quantizer,
    neardup_cosine_pairs,
    neardup_exact_blocked,
    semantic_dedup,
    semantic_dedup_incremental,
    semantic_dedup_ivf2,
    topk_bruteforce,
    topk_ivf2,
    topk_ivfpq,
    topk_ivf_probe,
    topk_lsh,
)
from ..session import session_memo
from ..sources.tables import load_table
from .registry import register

# Session-scoped IVF quantizer cache: fit once per (session, sf_dir),
# probe many times — the deployment shape (the quantizer is a bounded
# k×dim artifact; refitting per query batch would re-run k-means|| on
# the whole corpus).


def ivf_quantizer(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(assigned, centers) for the standard corpus quantizer
    (n_cells=16, seed 42, maxIter 5) — fit on first use per session,
    reused by every subsequent probe."""
    # maxIter 5: a coarse quantizer needs rough cells, not
    # convergence — k-means|| init does most of the work and each
    # Lloyd iteration is a driver-coordinated job round
    return session_memo(
        spark,
        ("llm_similarity.ivf", sf_dir),
        lambda: fit_ivf_quantizer(
            load_table(spark, sf_dir, "embeddings"), n_cells=16, max_iter=5
        ),
    )

_DIM = 64
# normalize-once mirror of operators.similarity.normalize: per-element
# divide by the fold-computed L2 norm, then cosine is one dot product.
_SQL_NORM = "list_transform(v, x -> x / sqrt(list_dot_product(v, v)))"


@register(
    "sim_topk_bruteforce",
    tags=("llm", "similarity", "topk"),
    oracle=f"""
WITH base AS (SELECT vec_id, {_SQL_NORM} AS vn
              FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)),
q AS (SELECT vec_id AS query_id, vn AS qn FROM base WHERE vec_id < 8),
c AS (SELECT vec_id AS neighbor_id, vn AS cn FROM base),
scored AS (
  SELECT query_id, neighbor_id, ROUND(list_dot_product(qn, cn), 6) AS cosine
  FROM q, c WHERE query_id != neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
  FROM scored
)
SELECT query_id, neighbor_id, cosine, rnk FROM ranked WHERE rnk <= 5
ORDER BY query_id, rnk
""",
)
def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbors for query vectors (vec_id < 8):
    broadcast queries × corpus scan, windowed rank — the ANN correctness
    baseline."""
    e = load_table(spark, sf_dir, "embeddings")
    return topk_bruteforce(e, e.filter(F.col("vec_id") < 8), k=5)


def _sql_signature(vec_expr: str, n_planes: int = 16) -> str:
    terms = []
    for p in range(n_planes):
        consts = ", ".join(repr(x) for x in _plane(_DIM, p))
        terms.append(
            f"(CASE WHEN list_dot_product([{consts}]::DOUBLE[], {vec_expr}) > 0 "
            f"THEN {1 << p}::BIGINT ELSE 0 END)"
        )
    return "(" + " + ".join(terms) + ")"


@register(
    "sim_topk_lsh",
    tags=("llm", "similarity", "ann", "lsh"),
    oracle=f"""
WITH base AS (SELECT vec_id, v, {_SQL_NORM} AS vn
              FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)),
sigs AS (SELECT vec_id, vn, {_sql_signature('v')} AS sig FROM base),
q AS (SELECT vec_id AS query_id, vn AS qn, sig AS qsig FROM sigs WHERE vec_id < 8),
c AS (SELECT vec_id AS neighbor_id, vn AS cn, sig AS csig FROM sigs),
scored AS (
  SELECT query_id, neighbor_id, ROUND(list_dot_product(qn, cn), 6) AS cosine
  FROM q, c
  WHERE query_id != neighbor_id AND bit_count(xor(qsig, csig)) <= 4
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
  FROM scored
)
SELECT query_id, neighbor_id, cosine, rnk FROM ranked WHERE rnk <= 5
ORDER BY query_id, rnk
""",
)
def sim_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-5 via 16-plane hyperplane-LSH prefilter (hamming ≤ 4 on
    sign signatures) + exact re-rank.  Planes are md5-derived constants,
    reproduced verbatim in the oracle — the scale path, oracle-checked."""
    e = load_table(spark, sf_dir, "embeddings")
    return topk_lsh(
        e,
        e.filter(F.col("vec_id") < 8),
        k=5,
        dim=_DIM,
        n_planes=16,
        max_hamming=4,
    )


@register(
    "sim_topk_ivf",
    tags=("llm", "similarity", "ann", "ivf"),
    oracle=None,  # coarse quantizer is iterative pyspark.ml KMeans —
    # not SQL-expressible; recall vs brute force asserted in pytest
)
def sim_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-5 via IVF: coarse k-means quantizer (pyspark.ml, k-means||
    init, seed 42), queries probe their 4 nearest of 16 cells, exact
    cosine re-rank inside probed cells only.  The second scale path the
    north star names alongside LSH — corpus never shuffles, only the
    k×dim centroid matrix reaches the driver.  Rows-only (recall vs
    brute force pinned by tests/test_streaming_multimodal.py::
    test_ann_ivf_recall).  Fits (and caches) the
    session quantizer; ``sim_topk_ivf_probe`` is the reuse path."""
    e = load_table(spark, sf_dir, "embeddings")
    assigned, centers = ivf_quantizer(spark, sf_dir)
    return topk_ivf_probe(
        assigned, centers, e.filter(F.col("vec_id") < 8), k=5, nprobe=4
    )


@register(
    "sim_topk_ivf_probe",
    tags=("llm", "similarity", "ann", "ivf", "probe"),
    oracle=None,  # same non-SQL-expressible quantizer as sim_topk_ivf;
    # probe-equivalence and recall asserted in pytest
)
def sim_topk_ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe-only IVF batch against the session's pre-fitted quantizer
    (a different query set, vec_id in [8, 24) — rows-only, recall
    pinned by tests/test_streaming_multimodal.py::test_ann_ivf_recall
    like the fit-per-call form): the steady-state cost of
    IVF search once the one-time fit is amortized — bench this entry
    against ``sim_topk_ivf`` to read the fit overhead directly."""
    e = load_table(spark, sf_dir, "embeddings")
    assigned, centers = ivf_quantizer(spark, sf_dir)
    return topk_ivf_probe(
        assigned,
        centers,
        e.filter((F.col("vec_id") >= 8) & (F.col("vec_id") < 24)),
        k=5,
        nprobe=4,
    )


_NPROBE_SWEEP = (1, 2, 4, 8, 16)  # 16 = n_cells ⇒ exhaustive = recall 1
_TUNE_NQ = 8  # query set vec_id < 8, fixed like the other ANN entries
_TUNE_K = 5
_NCELLS_SWEEP = (4, 8, 16, 32)  # quantizer sizes; nprobe fixed below
_NCELLS_NPROBE = 2


def _tune_truth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared brute-force truth for the tuning curves: the fixed
    (vec_id < _TUNE_NQ, k=_TUNE_K) ground-truth list is identical for
    every recall eval — ≤ k·|Q| rows, materialized once per
    (session, sf_dir)."""

    def build() -> DataFrame:
        e = load_table(spark, sf_dir, "embeddings")
        queries = e.filter(F.col("vec_id") < _TUNE_NQ)
        return topk_bruteforce(e, queries, k=_TUNE_K).localCheckpoint(eager=True)

    return session_memo(spark, ("llm_similarity.tune_truth", sf_dir), build)


def _ncells_index(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, dict]:
    """The whole N_CELLS sweep's index state, built ONCE per (session,
    sf_dir): one normalize+materialize pass over the corpus, ONE
    bounded sample collect feeding every sweep point's Lloyd fit on
    the driver (``operators/kmeans.lloyd_kernels``' driver trainer,
    seeded in (md5 hash, sample order) order, over nested
    ``fit_sample_per_cell``-style hash samples —
    the collect is ≤ max(sweep)·200 rows BY CONSTRUCTION regardless of
    corpus size, the same bounded-artifact contract as the k×dim
    centroid table), then ONE multi-codebook assignment pass
    (``assign_codes_multi``) emitting every index's cell column,
    materialized — at scale this is the write-bucketed-by-cell layout
    cost, paid once for the whole sweep instead of once per index.
    Returns ``(multi_assigned, {n_cells: centers_df}, centers_all)``."""
    import numpy as np

    from ..operators.dedup import hash_int60
    from ..operators.kmeans import assign_codes_multi, lloyd_kernels
    from ..operators.similarity import normalize

    def build():
        e = load_table(spark, sf_dir, "embeddings")
        cp = e.select(
            F.col("vec_id").alias("neighbor_id"),
            normalize(F.col("embedding")).alias("_cn"),
        ).localCheckpoint(eager=True)
        n = cp.count()
        h60 = hash_int60(F.col("neighbor_id").cast("string"))
        bucket = h60 % 1_000_000
        max_target = max(_NCELLS_SWEEP) * 200
        # ONE sample collect covers every sweep point: the per-nc hash
        # samples are NESTED (keep_nc grows with the target), so
        # filtering the widest sample driver-side reproduces each
        # fit_sample_per_cell input exactly.  Bounded: ≤ max_target
        # rows when n > max_target, ≤ n ≤ max_target otherwise.
        keep_max = (
            max(1, int(max_target * 1_000_000 // n)) if n > max_target else None
        )
        widest = cp if keep_max is None else cp.filter(bucket < keep_max)
        sample = widest.select(
            "neighbor_id", "_cn", h60.alias("_h"), bucket.alias("_b")
        ).collect()  # BOUNDED: ≤ max(sweep)·fit_sample_per_cell rows
        X_all = np.array([r._cn for r in sample], dtype=np.float64)
        H_all = np.array([r._h for r in sample], dtype=np.int64)
        B_all = np.array([r._b for r in sample], dtype=np.int64)
        _, lloyd = lloyd_kernels()
        books: dict[int, "object"] = {}
        for nc in _NCELLS_SWEEP:
            target = nc * 200  # fit_sample_per_cell=200 discipline
            X, H = X_all, H_all
            if n > target:
                keep = max(1, int(target * 1_000_000 // n))
                m = B_all < keep
                if int(m.sum()) >= nc:
                    X, H = X_all[m], H_all[m]
            # iters=3 (vs the production quantizer's 5): the sweep
            # compares index SIZES, and the hash seeding does most of
            # the placement — extra Lloyd rounds shift absolute recall
            # a little but not the size comparison
            books[nc] = lloyd(X, np.lexsort((np.arange(len(H)), H)), nc, 3)
        multi = assign_codes_multi(
            # the checkpointed corpus is one local split — fan the
            # Arrow kernel out (same single-split gotcha as the PNG
            # codec stage)
            cp.repartition(8),
            {f"cell_{nc}": c for nc, c in books.items()},
            vec_col="_cn",
        ).localCheckpoint(eager=True)
        centers = {
            nc: literal_df(
                spark,
                [(i, [float(x) for x in cen]) for i, cen in enumerate(c)],
                "cell int, cvec array<double>",
            )
            for nc, c in books.items()
        }
        # ONE stacked centroid table as a local relation: one Arrow
        # batch carries all Σsweep × dim doubles
        centers_all = literal_df(
            spark,
            [
                (nc, i, [float(x) for x in cen])
                for nc, c in books.items()
                for i, cen in enumerate(c)
            ],
            "n_cells int, cell int, cvec array<double>",
        )
        return (multi, centers, centers_all)

    return session_memo(spark, ("llm_similarity.ncells", sf_dir), build)


def _ncells_quantizer(
    spark: SparkSession, sf_dir: str, n_cells: int
) -> tuple[DataFrame, DataFrame]:
    """One sweep point's ``(assigned, centers)`` view over the shared
    multi-index state — the same shape ``fit_ivf_quantizer`` returns,
    so ``topk_ivf_probe`` runs against it unchanged (the pytest's
    identity check does exactly that)."""
    multi, centers, _ = _ncells_index(spark, sf_dir)
    assigned = multi.select(
        "neighbor_id", "_cn", F.col(f"cell_{n_cells}").alias("cell")
    )
    return assigned, centers[n_cells]


@register(
    "sim_ivf_nprobe_tuning",
    tags=("llm", "similarity", "ann", "ivf", "tuning", "eval"),
    oracle=None,  # the Lloyd quantizer's cells aren't SQL-expressible
    # (same stance as every IVF entry); the recall identity and curve
    # invariants are pinned by tests/test_streaming_multimodal.py::
    # test_ivf_nprobe_tuning_curve
)
def sim_ivf_nprobe_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF RECALL-vs-NPROBE TUNING CURVE — the band-tuning shape
    (``dedup_minhash_band_tuning``) applied to the ANN family (r7
    verdict action #4): for each nprobe in {sweep}, recall@{k} of the
    IVF search against the brute-force truth, next to the mean
    fraction of the corpus the probe would scan — the two axes an
    operator reads to pick nprobe.

    The curve costs ONE brute-force truth pass, not one IVF search per
    sweep point, via a rank identity: with nested candidate sets
    (cells probed at nprobe=p ⊂ cells at p+1) and all rankings sharing
    one total order (round(cosine, 6) desc, id tiebreak), a truth item
    at global rank r ≤ {k} is in the IVF top-{k} at nprobe=p IFF its
    cell is among the query's p nearest — everything ranked above it
    is itself truth, so it can never be displaced out of the top {k}.
    Recall@{k}(p) is therefore (# truth items whose cell has probe
    rank ≤ p) / ({k}·|Q|), computed from the {k}·|Q|-row truth list,
    the corpus cell assignment, and the |Q|×n_cells probe-preference
    table.  The identity itself is asserted against an independently
    executed IVF search in the pytest above.

    Scale shape: the quantizer comes from the SESSION cache
    (``ivf_quantizer`` — never refit per sweep point, the verdict's
    stated cost trap); truth is the bounded-|Q| broadcast brute-force
    pass every recall eval already pays; everything downstream is
    joins over ≤ |Q|·n_cells-row frames.  Probe-cost accounting sums
    the sizes of each query's top-p cells (one groupBy over the
    assignment) — no second corpus pass."""
    from ..operators.similarity import dot, normalize

    e = load_table(spark, sf_dir, "embeddings")
    assigned, centers = ivf_quantizer(spark, sf_dir)
    queries = e.filter(F.col("vec_id") < _TUNE_NQ)
    truth = _tune_truth(spark, sf_dir)  # session-staged, shared with
    # the N_CELLS curve (identical fixed query set and k)

    from pyspark.sql import Window

    # query → cell preference ranking, EXACTLY topk_ivf_probe's probe
    # order (||c||² − 2 q·c rounded to 9, cell tiebreak)
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        normalize(F.col("embedding")).alias("_qn"),
    )
    d2 = dot(F.col("cvec"), F.col("cvec")) - 2.0 * dot(
        F.col("_qn"), F.col("cvec")
    )
    wpr = Window.partitionBy("query_id").orderBy("_d2", "cell")
    prefs = (
        q.crossJoin(F.broadcast(centers))
        .withColumn("_d2", F.round(d2, 9))
        .withColumn("pr", F.row_number().over(wpr))
        .select("query_id", "cell", "pr")
    )
    # probe rank of each truth item's cell (≤ k·|Q| rows)
    tpr = (
        truth.select("query_id", "neighbor_id")
        .join(assigned.select("neighbor_id", "cell"), "neighbor_id")
        .join(prefs, ["query_id", "cell"])
        .select("query_id", "pr")
    )
    pts = literal_df(spark, [(p,) for p in _NPROBE_SWEEP], "nprobe int")
    hits = (
        pts.join(tpr, F.col("pr") <= F.col("nprobe"), "left")
        .groupBy("nprobe")
        .agg(F.count(F.col("pr")).cast("long").alias("n_hits"))
    )
    # scan-cost: rows in each query's top-p cells, summed over queries
    sizes = assigned.groupBy("cell").agg(
        F.count(F.lit(1)).cast("long").alias("c_rows")
    )
    wcum = Window.partitionBy("query_id").orderBy("pr")
    cum = (
        prefs.join(F.broadcast(sizes), "cell")
        .withColumn("cum_rows", F.sum("c_rows").over(wcum))
        .select("pr", "cum_rows")
    )
    scan = (
        pts.join(cum, F.col("pr") == F.col("nprobe"))
        .groupBy("nprobe")
        .agg(F.sum("cum_rows").cast("long").alias("sum_rows"))
    )
    tot = sizes.agg(F.sum("c_rows").cast("long").alias("n_total"))
    return (
        hits.join(scan, "nprobe")
        .crossJoin(F.broadcast(tot))
        .select(
            "nprobe",
            F.round(
                F.col("n_hits").cast("double") / (_TUNE_K * _TUNE_NQ), 6
            ).alias(f"recall_at{_TUNE_K}"),
            F.round(
                F.col("sum_rows").cast("double")
                / (_TUNE_NQ * F.col("n_total").cast("double")),
                6,
            ).alias("mean_frac_scanned"),
        )
        .orderBy("nprobe")
    )


sim_ivf_nprobe_tuning.__doc__ = sim_ivf_nprobe_tuning.__doc__.format(
    sweep=_NPROBE_SWEEP, k=_TUNE_K
)


@register(
    "sim_ivf_ncells_tuning",
    tags=("llm", "similarity", "ann", "ivf", "tuning", "eval"),
    oracle=None,  # Lloyd cells aren't SQL-expressible (IVF family
    # stance); curve invariants + the rank identity vs an executed
    # probe are pinned by tests/test_streaming_multimodal.py::
    # test_ivf_ncells_tuning_curve
)
def sim_ivf_ncells_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF RECALL-vs-N_CELLS TUNING CURVE — the remaining axis of the
    ANN tuning family (round-8 handoff): for each quantizer size in
    {sweep} at fixed nprobe={nprobe}, recall@{k} against the
    brute-force truth next to the mean corpus fraction scanned — the
    capacity-vs-recall trade an operator reads to size the index
    (more cells ⇒ cheaper probes, lower recall at fixed nprobe).

    Costs ONE truth pass for the whole sweep plus, per point, a
    sampled codebook fit (``fit_sample_per_cell`` — Lloyd passes are
    codebook-sized, cached per session by ``_ncells_quantizer``, never
    refit per run) and one corpus assignment pass.  Recall per point
    uses the same rank identity as ``sim_ivf_nprobe_tuning``, applied
    per index: a truth item at global rank ≤ {k} survives the
    nprobe={nprobe} cut IFF its cell is among the query's {nprobe}
    preferred cells — everything ranked above it is itself truth — so
    the curve needs only the truth list, each index's cell assignment,
    and each index's |Q|×{nprobe} probe-preference rows; no per-point
    ANN execution.  The identity is asserted against an independently
    executed ``topk_ivf_probe`` in the pytest above."""
    from ..operators.similarity import dot, normalize

    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < _TUNE_NQ)
    truth = _tune_truth(spark, sf_dir)  # ≤ k·|Q| rows, session-staged
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        normalize(F.col("embedding")).alias("_qn"),
    )
    tot = e.agg(F.count(F.lit(1)).cast("long").alias("n_total"))

    from pyspark.sql import Window

    multi, _centers_by_nc, centers_all = _ncells_index(spark, sf_dir)
    # ONE plan across the sweep (not a 4-branch union): stack every
    # index's centroids into (n_cells, cell, cvec) and the corpus
    # assignment into (n_cells, neighbor_id, cell) — the per-point
    # frames are tiny (centroids) or |corpus|×|sweep| rows of three
    # ints (the stack happens AFTER the narrow projection), and the
    # whole curve is then three grouped joins instead of 4× separate
    # stage trees.
    stack_expr = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(nc).alias("n_cells"),
                    F.col(f"cell_{nc}").alias("cell"),
                )
                for nc in _NCELLS_SWEEP
            ]
        )
    ).alias("s")
    assigned_all = multi.select("neighbor_id", stack_expr).select(
        "neighbor_id", "s.n_cells", "s.cell"
    )

    d2 = dot(F.col("cvec"), F.col("cvec")) - 2.0 * dot(
        F.col("_qn"), F.col("cvec")
    )
    wpr = Window.partitionBy("n_cells", "query_id").orderBy("_d2", "cell")
    prefs = (
        q.crossJoin(F.broadcast(centers_all))
        .withColumn("_d2", F.round(d2, 9))
        .withColumn("pr", F.row_number().over(wpr))
        .filter(F.col("pr") <= _NCELLS_NPROBE)
        .select("n_cells", "query_id", "cell")
    )
    pts = literal_df(spark, [(nc,) for nc in _NCELLS_SWEEP], "n_cells int")
    hits = pts.join(
        truth.select("query_id", "neighbor_id")
        .join(assigned_all, "neighbor_id")
        .join(prefs, ["n_cells", "query_id", "cell"])
        .groupBy("n_cells")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits")),
        "n_cells",
        "left",
    ).select(
        "n_cells", F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits")
    )  # a sweep point with ZERO recall must still emit its row
    sizes = assigned_all.groupBy("n_cells", "cell").agg(
        F.count(F.lit(1)).cast("long").alias("c_rows")
    )
    scan = (
        prefs.join(F.broadcast(sizes), ["n_cells", "cell"])
        .groupBy("n_cells")
        .agg(F.sum("c_rows").cast("long").alias("sum_rows"))
    )
    return (
        hits.join(scan, "n_cells")
        .crossJoin(F.broadcast(tot))
        .select(
            "n_cells",
            F.round(
                F.col("n_hits").cast("double") / (_TUNE_K * _TUNE_NQ), 6
            ).alias(f"recall_at{_TUNE_K}"),
            F.round(
                F.col("sum_rows").cast("double")
                / (_TUNE_NQ * F.col("n_total").cast("double")),
                6,
            ).alias("mean_frac_scanned"),
        )
        .orderBy("n_cells")
    )


sim_ivf_ncells_tuning.__doc__ = sim_ivf_ncells_tuning.__doc__.format(
    sweep=_NCELLS_SWEEP, k=_TUNE_K, nprobe=_NCELLS_NPROBE
)


@register(
    "emb_neardup_exact",
    tags=("llm", "dedup", "embedding"),
    oracle=f"""
WITH base AS (SELECT vec_id, {_SQL_NORM} AS vn
              FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         ROUND(list_dot_product(a.vn, b.vn), 6) AS cosine
  FROM base a JOIN base b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b, cosine FROM pairs WHERE cosine >= 0.35
ORDER BY id_a, id_b
""",
)
def emb_neardup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, exact (threshold 0.35 ≈
    corpus 99.9th percentile): block-matmul candidate generation with a
    1e-4 margin + fold-dot re-verification — bit-identical to the naive
    all-pairs fold join (``neardup_cosine_pairs(exact=True)``, kept and
    tested as the semantic baseline) at ~10× its speed.  The sublinear
    variant for scale is ``emb_neardup_lsh``."""
    e = load_table(spark, sf_dir, "embeddings")
    return neardup_exact_blocked(e, threshold=0.35, n_blocks=8)


@register(
    "emb_neardup_lsh",
    tags=("llm", "dedup", "embedding", "ann"),
    oracle=None,  # recall-bounded candidate set; verified vs exact in pytest
)
def emb_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs via banded hyperplane-LSH (32 planes, 8 bands):
    candidate generation is a bucket equi-join — never an all-pairs
    scan — then exact cosine on survivors.  The 100 TB path; recall
    measured in tests, hence rows-only for the driver."""
    e = load_table(spark, sf_dir, "embeddings")
    return neardup_cosine_pairs(
        e, threshold=0.35, exact=False, n_planes=32, bands=8
    )


@register(
    "emb_semantic_dedup",
    tags=("llm", "dedup", "embedding", "semdedup"),
    oracle=None,  # k-means cells aren't SQL-expressible; planted-dupe
    # recall + determinism pinned by tests/test_dedup_recall.py::
    # test_semantic_dedup_planted_groups
)
def emb_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC dedup end-to-end (SemDeDup, Abbas et al. 2023): IVF
    cells (the session's cached quantizer) → within-cell cosine ε-graph
    (threshold 0.97) → connected components → min-id survivor
    (rows-only; planted-dupe recall + determinism pinned by
    tests/test_dedup_recall.py::test_semantic_dedup_planted_groups).  One row
    per vector: (vec_id, cell, cluster_id, keep) — the embedding-space
    twin of ``dedup_keep_representative``.  Pairwise work is O(n²/k)
    spread over k independent cells, never global all-pairs."""
    e = load_table(spark, sf_dir, "embeddings")
    # Cell count must scale with the corpus — a FIXED cell count makes
    # SemDeDup quadratic again (measured: 4.6×/14× time at 2×/5× data).
    # k = √n/3 balances the two cost terms of a single-level quantizer
    # (fit O(sample·k) with the hash-sampled fit set, within-cell pairs
    # O(n·cell_size) = O(n^1.5)); past ~10⁹ vectors switch to the two-level
    # quantizer (fit_ivf2_quantizer — built, see sim_topk_ivf2).  Floor 16 keeps the
    # sf0.1 corpus on the shared session quantizer.
    n = e.count()  # one-long driver scalar
    n_cells = max(16, __import__("math").isqrt(n) // 3)
    if n_cells == 16:
        assigned, _ = ivf_quantizer(spark, sf_dir)  # reuse session fit
    else:
        assigned = None
    return semantic_dedup(
        e, threshold=0.97, n_cells=n_cells, max_iter=5, assigned=assigned,
        fit_sample_per_cell=200,
    ).orderBy("vec_id")


@register(
    "emb_semantic_dedup_ivf2",
    tags=("llm", "dedup", "embedding", "semdedup", "ivf2"),
    oracle=None,  # two k-means levels — not SQL-expressible; planted-
    # dupe parity with the single-level path + determinism pinned by
    # tests/test_dedup_recall.py::test_semantic_dedup_ivf2_planted
)
def emb_semantic_dedup_ivf2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC dedup over the TWO-LEVEL quantizer
    (``operators/similarity.semantic_dedup_ivf2``) — the composition
    past ~10⁹ vectors where ``emb_semantic_dedup``'s single-level
    √n-cell table outgrows the driver and routing broadcast: the
    SemDeDup ε-graph/CC/min-id decision rule unchanged, the pairwise
    matmul stage bucketed by (cell, sub) so each bucket holds
    ~n/(k1·k2) members and the level-2 fit runs where the data lives
    (applyInPandas, never a driver collect).  Reuses the session's
    cached two-level quantizer (the ``sim_topk_ivf2`` fit).
    Rows-only; planted-dupe parity vs the single-level path pinned by
    tests/test_dedup_recall.py::test_semantic_dedup_ivf2_planted,
    growth curve in PERF.md."""
    e = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup_ivf2(
        e, threshold=0.97, fitted=ivf2_quantizer(spark, sf_dir)
    ).orderBy("vec_id")


@register(
    "emb_semantic_dedup_incremental",
    tags=("llm", "dedup", "embedding", "semdedup", "incremental"),
    oracle=None,  # k-means cells — not SQL-expressible; planted
    # cross-batch/within-batch dupes pinned by tests/test_dedup_recall
    # .py::test_semantic_dedup_incremental_planted
)
def emb_semantic_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL semantic dedup — the daily-batch admission query:
    the top-decile vec_id range plays the 'new batch', the rest the
    existing corpus; quantizer fit on the corpus side only, new
    vectors assigned map-side and compared bucket-locally (old→
    ``dup_vs_corpus``, new→``dup_within_batch``), summarized per flag
    pair (rows-only; planted cross-/within-batch dupes pinned by
    tests/test_dedup_recall.py::test_semantic_dedup_incremental_planted).  The embedding-space twin of
    ``dedup_incremental_new_batch``."""
    e = load_table(spark, sf_dir, "embeddings")
    bounds = e.agg(
        F.max("vec_id").alias("mx"), F.min("vec_id").alias("mn")
    ).first()  # one-row bounds scalar (same stance as the minhash twin)
    cut = bounds.mx - (bounds.mx - bounds.mn) // 10
    # max_iter 3: an admission quantizer needs coarse cells, not
    # convergence (the full-corpus fit uses 5 — see ivf_quantizer)
    old_side = e.filter(F.col("vec_id") <= cut)
    # same √n cell scaling + sampled fit as emb_semantic_dedup
    n_cells = max(16, __import__("math").isqrt(old_side.count()) // 3)
    dec = semantic_dedup_incremental(
        old_side,
        e.filter(F.col("vec_id") > cut),
        threshold=0.97,
        n_cells=n_cells,
        max_iter=3,
        fit_sample_per_cell=200,
    )
    return (
        dec.groupBy("dup_vs_corpus", "dup_within_batch")
        .agg(F.count(F.lit(1)).alias("n_vecs"))
        .orderBy("dup_vs_corpus", "dup_within_batch")
    )


def ivf2_quantizer(spark: SparkSession, sf_dir: str):
    """Session-cached two-level quantizer (4 coarse × 4 sub) — fit on
    first use, reused by every probe (the ivf_quantizer stance)."""
    # 3 Lloyd iterations per level: like the IVF-PQ fit, recall is
    # routing-bound, not codebook-polish-bound (measured identical)
    return session_memo(
        spark,
        ("llm_similarity.ivf2", sf_dir),
        lambda: fit_ivf2_quantizer(
            load_table(spark, sf_dir, "embeddings"),
            n_coarse=4,
            n_sub=4,
            max_iter=3,
            sub_iters=3,
        ),
    )


@register(
    "sim_topk_ivf2",
    tags=("llm", "similarity", "ann", "ivf", "hierarchical"),
    oracle=None,  # two k-means levels — not SQL-expressible; recall +
    # per-query-k contract pinned by tests/test_streaming_multimodal
    # .py::test_ann_ivf2_recall
)
def sim_topk_ivf2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 cosine neighbors via the TWO-LEVEL IVF
    (``fit_ivf2_quantizer``: coarse distributed Lloyd + per-cell
    in-place numpy Lloyd via applyInPandas — level-2 fit never touches
    the driver) — the quantizer shape past ~10⁹ vectors where a
    single-level √n-cell table outgrows the driver and the routing
    broadcast.  Probing routes through two bounded broadcast tables
    (k1, then k1·k2 rows).  Measured recall at these settings beats
    single-level IVF at the same probe fraction (0.65 vs 0.53 at
    sf0.001)."""
    e = load_table(spark, sf_dir, "embeddings")
    fitted = ivf2_quantizer(spark, sf_dir)
    return topk_ivf2(
        e,
        e.filter(F.col("vec_id") < 8),
        k=5,
        nprobe1=2,
        nprobe2=4,
        fitted=fitted,
    )


@register(
    "sim_topk_ivfpq",
    tags=("llm", "similarity", "ann", "ivf", "pq"),
    oracle=None,  # two trained quantizers — not SQL-expressible;
    # recall + exact-rerank contract pinned by tests/
    # test_streaming_multimodal.py::test_ann_ivfpq_recall
)
def sim_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 neighbors via IVF-PQ (``operators/similarity.topk_ivfpq``)
    — the memory-bounded production index: coarse IVF routing, 8×16 PQ
    codebooks (8 one-byte codes per vector ≈ 64× compression),
    PQ-approximate scoring inside probed cells, exact re-rank of the
    top-64 candidates.  Recall is bounded above by the IVF routing
    (measured: PQ@rerank-128 reaches the plain-IVF ceiling).
    Codebooks are trained on cell RESIDUALS (vector − assigned
    centroid), the standard IVF-PQ formulation — see
    ``operators/similarity.topk_ivfpq``."""
    e = load_table(spark, sf_dir, "embeddings")
    return topk_ivfpq(
        e,
        e.filter(F.col("vec_id") < 8),
        k=5,
        rerank=64,
        fitted=ivf_quantizer(spark, sf_dir),  # shared session coarse fit
    )


@register(
    "emb_kcenter_coreset",
    tags=("llm", "embedding", "coreset", "diversity", "iterative"),
    oracle=None,  # farthest-first traversal — iterative argmax; the
    # one-pick-per-planted-cluster guarantee + determinism pinned by
    # tests/test_iterative_ops.py::test_kcenter_covers_planted_clusters
)
def emb_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center DIVERSITY coreset (8 picks) over the embedding
    corpus (``operators/similarity.kcenter_select``) — the
    subset-selection op behind diverse eval sets and
    annotation-budget sampling: farthest-first traversal with the
    classic 2-approximation covering guarantee (rows-only; planted-
    cluster coverage + determinism pinned by tests/test_iterative_ops
    .py::test_kcenter_covers_planted_clusters).  Each round costs one
    map-only distance update + a single-row argmax; driver state is
    the picked vector only.  ``dist_to_set`` is non-increasing; the
    last value bounds the covering radius."""
    e = load_table(spark, sf_dir, "embeddings")
    return kcenter_select(e, n_select=8)


def _sql_banded32(side_filter: str) -> str:
    """4-band (8-bit) split of the 32-plane signature for one side."""
    rows = "\n  UNION ALL\n".join(
        f"  SELECT vec_id, {b} AS band, (sig >> {b * 8}) & 255 AS band_val FROM sigs WHERE {side_filter}"
        for b in range(4)
    )
    return rows


@register(
    "stream_semantic_admission",
    tags=("streaming", "llm", "dedup", "embedding", "admission"),
    oracle=f"""
WITH base AS (SELECT vec_id, v, {_SQL_NORM} AS vn
              FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)),
sigs AS (SELECT vec_id, vn, {_sql_signature('v', 32)} AS sig FROM base),
newb AS (
{_sql_banded32('vec_id % 2 = 1')}
),
oldb AS (
{_sql_banded32('vec_id % 2 = 0')}
),
cand AS (
  SELECT DISTINCT n.vec_id, o.vec_id AS corpus_vec_id
  FROM newb n JOIN oldb o USING (band, band_val)
),
scored AS (
  SELECT c.vec_id,
         ROUND(list_dot_product(bn.vn, bo.vn), 6) AS cosine
  FROM cand c
  JOIN base bn ON bn.vec_id = c.vec_id
  JOIN base bo ON bo.vec_id = c.corpus_vec_id
),
summ AS (
  SELECT vec_id,
         CAST(COUNT(*) FILTER (WHERE cosine >= 0.35) AS BIGINT) AS n_matches,
         MAX(CASE WHEN cosine >= 0.35 THEN cosine END) AS max_cosine
  FROM scored GROUP BY vec_id
)
SELECT d.vec_id,
       COALESCE(s.n_matches, 0) AS n_matches,
       s.max_cosine,
       COALESCE(s.n_matches, 0) > 0 AS is_semantic_dup
FROM (SELECT vec_id FROM embeddings WHERE vec_id % 2 = 1) d
LEFT JOIN summ s USING (vec_id)
ORDER BY d.vec_id
""",
)
def stream_semantic_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the STREAMING SEMANTIC admission
    (``streaming/admission.py``): odd vec_ids play the arriving
    embedding stream, even the corpus; per-row 32-plane hyperplane
    signatures split into 8 bands (pure map expressions — stateless in
    a stream), bucket join, EXACT cosine verify at 0.35, per-vector
    decision.  The embedding twin of ``stream_dedup_admission``;
    stream ≡ batch asserted in tests/test_streaming_multimodal.py::
    test_stream_semantic_admission_equals_batch.  Oracle-exact: the
    hyperplane constants are shared literals and both engines fold the
    dot products in the same order.  The signature stage here uses the
    numpy Arrow-batch kernel (``semantic_banded_fast`` — bit-parity
    with the streaming fold form pinned by
    test_semantic_banded_fast_parity); the exact cosines below still
    use the fold ``dot``, so output values are unchanged."""
    from ..streaming.admission import semantic_banded_fast

    e = load_table(spark, sf_dir, "embeddings")
    # one materialization: both join sides filter the SAME banded
    # table, and the per-row signature is the expensive part —
    # without the checkpoint Catalyst recomputes it per side (~2×)
    banded = semantic_banded_fast(e).localCheckpoint(eager=True)
    newb = banded.filter(F.col("vec_id") % 2 == 1)
    oldb = banded.filter(F.col("vec_id") % 2 == 0).select(
        F.col("vec_id").alias("corpus_vec_id"),
        F.col("vn").alias("_cvn"),
        "band",
        "band_val",
    )
    # distinct over the INT pair only (band collisions), then the
    # vectors are fetched back by id — never shuffle 64-dim arrays
    # through a distinct
    cand_ids = (
        newb.join(
            oldb.select("corpus_vec_id", "band", "band_val"),
            ["band", "band_val"],
        )
        .select("vec_id", "corpus_vec_id")
        .distinct()
    )
    from ..operators.similarity import dot as _dot

    one = banded.filter(F.col("band") == 0)  # exactly one row per vec
    vn_new = one.select("vec_id", "vn")
    vn_old = one.select(
        F.col("vec_id").alias("corpus_vec_id"), F.col("vn").alias("_cvn")
    )
    scored = (
        cand_ids.join(vn_new, "vec_id")
        .join(vn_old, "corpus_vec_id")
        .select(
            "vec_id",
            F.round(_dot(F.col("vn"), F.col("_cvn")), 6).alias("cosine"),
        )
    )
    summ = scored.groupBy("vec_id").agg(
        F.count(F.when(F.col("cosine") >= 0.35, 1))
        .cast("long")
        .alias("n_matches"),
        F.max(F.when(F.col("cosine") >= 0.35, F.col("cosine"))).alias(
            "max_cosine"
        ),
    )
    return (
        e.filter(F.col("vec_id") % 2 == 1)
        .select("vec_id")
        .join(summ, "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce("n_matches", F.lit(0)).alias("n_matches"),
            "max_cosine",
            (F.coalesce("n_matches", F.lit(0)) > 0).alias("is_semantic_dup"),
        )
        .orderBy("vec_id")
    )


_MMR_LAMBDA = 0.7
_MMR_K = 10
_MMR_CANDIDATES = 50


@register(
    "sim_mmr_diversify",
    tags=("llm", "similarity", "retrieval", "mmr"),
    oracle=None,  # greedy argmax recursion is not SQL-expressible;
    # rows-only here, semantics pinned by the independent numpy
    # differential test (tests/test_mmr_differential.py) at sf0.001
    # and the contract test's schema/rowcount pin.
)
def sim_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-rank (Carbonell & Goldstein 1998)
    — the diversity-aware post-processor every production RAG retriever
    runs after ANN: from the exact top-50 cosine candidates for query
    vec_id 0, greedily select 10 maximizing λ·sim(q,d) − (1−λ)·
    max_{s∈S} sim(d,s), λ = 0.7.  Rows-only by design (iterative
    argmax); verified by the numpy differential test
    ``tests/test_mmr_differential.py::test_mmr_matches_numpy`` which
    re-derives the candidate set and the greedy trajectory from the
    raw parquet.

    Determinism: candidates sorted by neighbor_id before the greedy
    loop; scores are float64; numpy argmax takes the FIRST max, i.e.
    the lowest neighbor_id on exact ties.

    Scale shape: candidate generation is the broadcast-query brute
    scan (corpus read once, only the 50-row top-k heap moves); the
    greedy loop runs in ONE Arrow-batched applyInPandas task over a
    candidate frame BOUNDED at 50 rows by the upstream
    TakeOrderedAndProject — never corpus-sized; per-query groups keyed
    by query_id so a batch of queries fans out, one task each."""
    import pandas as pd

    e = load_table(spark, sf_dir, "embeddings")
    cand = topk_bruteforce(
        e, e.filter(F.col("vec_id") == 0), k=_MMR_CANDIDATES
    )
    qvecs = e.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    enriched = (
        cand.join(
            e.select(
                F.col("vec_id").alias("neighbor_id"), "embedding", "label"
            ),
            "neighbor_id",
        )
        .join(F.broadcast(qvecs), "query_id")
        .select("query_id", "neighbor_id", "label", "embedding", "qvec")
    )

    def mmr(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        pdf = pdf.sort_values("neighbor_id").reset_index(drop=True)
        V = np.array([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
        Vn = V / np.sqrt((V * V).sum(axis=1))[:, None]
        q = np.asarray(pdf["qvec"].iloc[0], dtype=np.float64)
        qn = q / np.sqrt((q * q).sum())
        rel = Vn @ qn
        S = Vn @ Vn.T
        n = len(pdf)
        max_sim = np.zeros(n)
        picked = np.zeros(n, dtype=bool)
        out = []
        for step in range(1, min(_MMR_K, n) + 1):
            score = _MMR_LAMBDA * rel - (1.0 - _MMR_LAMBDA) * max_sim
            score[picked] = -np.inf
            i = int(np.argmax(score))
            out.append(
                (
                    step,
                    int(pdf["neighbor_id"].iloc[i]),
                    int(pdf["label"].iloc[i]),
                    round(float(rel[i]), 6),
                    round(float(score[i]), 6),
                )
            )
            picked[i] = True
            max_sim = np.maximum(max_sim, S[:, i])
        return pd.DataFrame(
            out,
            columns=["rank", "vec_id", "label", "relevance", "mmr_score"],
        )

    return (
        enriched.groupBy("query_id")
        .applyInPandas(
            mmr,
            "rank int, vec_id bigint, label int, relevance double,"
            " mmr_score double",
        )
        .orderBy("rank")
    )
