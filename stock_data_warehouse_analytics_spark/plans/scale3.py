"""Round-3 scale batch: theta/KMV sketch set algebra, Zipf law without
transcendentals, and product-quantization codebooks.

Shared stance: sketches are deterministic (md5-derived hashes, no RNG)
so set-operation ESTIMATES are oracle-exact — the DuckDB mirror replays
the identical k-th-minimum logic; the Zipf fit stays in integer/ratio
arithmetic (octave buckets via a literal CASE chain, frequency ratios
as exact integer divisions) because cross-engine ``log()`` bit-parity
is not guaranteed; PQ trains per-subspace k-means (iterative, rows-only
by design, contract-tested in pytest like the other ML paths).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.dedup import hash_int60
from ..sources.tables import load_table
from .registry import register

# ---------------------------------------------------------------- theta

_KMV_K = 256
_H_SPACE = float(1 << 60)  # hash domain size as an exact power of two

_SQL_HU = "(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT)"


def _sql_theta() -> str:
    return f"""
sets AS (
  SELECT DISTINCT event_type, user_id, {_SQL_HU} AS h
  FROM events WHERE event_type IN ('click', 'purchase')
),
ranked AS (
  SELECT event_type, user_id, h,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h, user_id) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n_set
  FROM sets
),
sk AS (SELECT * FROM ranked WHERE rn <= {_KMV_K}),
thetas AS (
  SELECT event_type,
         CASE WHEN MAX(n_set) >= {_KMV_K} THEN MAX(h)
              ELSE {1 << 60} END AS theta
  FROM sk GROUP BY event_type
),
theta AS (
  SELECT MIN(theta) AS th FROM thetas
),
a AS (SELECT h FROM sk CROSS JOIN theta WHERE event_type = 'click' AND h < th),
b AS (SELECT h FROM sk CROSS JOIN theta WHERE event_type = 'purchase' AND h < th),
counts AS (
  SELECT 'a_not_b' AS measure,
         (SELECT COUNT(*) FROM a WHERE h NOT IN (SELECT h FROM b)) AS cnt
  UNION ALL
  SELECT 'b_not_a',
         (SELECT COUNT(*) FROM b WHERE h NOT IN (SELECT h FROM a))
  UNION ALL
  SELECT 'intersection',
         (SELECT COUNT(*) FROM a WHERE h IN (SELECT h FROM b))
),
exact AS (
  SELECT 'a_not_b' AS measure, COUNT(*) AS exact_n FROM (
    SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
    EXCEPT SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
  UNION ALL
  SELECT 'b_not_a', COUNT(*) FROM (
    SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
    EXCEPT SELECT DISTINCT user_id FROM events WHERE event_type = 'click')
  UNION ALL
  SELECT 'intersection', COUNT(*) FROM (
    SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
    INTERSECT SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
)
SELECT c.measure,
       CAST(c.cnt AS BIGINT) AS n_retained,
       (c.cnt::DOUBLE / th::DOUBLE) * {_H_SPACE!r} AS estimate,
       CAST(e.exact_n AS BIGINT) AS exact_n
FROM counts c CROSS JOIN theta JOIN exact e USING (measure)
ORDER BY measure
"""


@register(
    "sketch_theta_set_difference",
    tags=("sketch", "theta", "kmv", "set-algebra"),
    oracle=f"WITH {_sql_theta()}",
)
def sketch_theta_set_difference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta/KMV sketch set algebra: A∖B, B∖A and A∩B cardinality
    ESTIMATES from two k=256 minimum-hash sketches (clickers vs
    purchasers), next to the exact answers — the set-difference
    question HLL cannot answer (HLL unions; theta sketches
    difference/intersect).  θ = min(θ_A, θ_B) where θ_S is the k-th
    smallest 60-bit hash (or the full domain when |S| < k — the
    sketch is exact there); each estimate is (retained-below-θ)/θ.
    Deterministic md5 hashing makes the estimate itself oracle-exact:
    DuckDB replays the identical k-th-min + anti-join logic.  At
    100 TB: each sketch is a k-row table (one grouped top-k), merge
    and compare are k-sized broadcast ops — the mergeable-summary
    algebra of sketches.py, extended to differences."""
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "purchase"))
        .select("event_type", "user_id")
        .distinct()
    )
    h = hash_int60(F.col("user_id").cast("string"))
    w = Window.partitionBy("event_type").orderBy("h", "user_id")
    ranked = (
        e.withColumn("h", h)
        .withColumn("rn", F.row_number().over(w))
        .withColumn(
            "n_set", F.count(F.lit(1)).over(Window.partitionBy("event_type"))
        )
    )
    sk = ranked.filter(F.col("rn") <= _KMV_K).localCheckpoint(eager=True)
    thetas = sk.groupBy("event_type").agg(
        F.when(F.max("n_set") >= _KMV_K, F.max("h"))
        .otherwise(F.lit(1 << 60))
        .alias("theta")
    )
    theta = thetas.agg(F.min("theta").alias("th"))
    below = (
        sk.crossJoin(F.broadcast(theta))
        .filter(F.col("h") < F.col("th"))
        .select("event_type", "h")
        .localCheckpoint(eager=True)
    )
    a = below.filter(F.col("event_type") == "click").select("h")
    b = below.filter(F.col("event_type") == "purchase").select("h")
    cnt = lambda df: df.agg(F.count(F.lit(1)).alias("cnt"))  # noqa: E731
    counts = reduce(
        DataFrame.unionByName,
        [
            cnt(a.join(b, "h", "left_anti")).select(
                F.lit("a_not_b").alias("measure"), "cnt"
            ),
            cnt(b.join(a, "h", "left_anti")).select(
                F.lit("b_not_a").alias("measure"), "cnt"
            ),
            cnt(a.join(b, "h", "left_semi")).select(
                F.lit("intersection").alias("measure"), "cnt"
            ),
        ],
    )
    users = lambda t: (  # noqa: E731
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == t)
        .select("user_id")
        .distinct()
    )
    ca, cb = users("click"), users("purchase")

    def tagged_count(df: DataFrame, tag: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("exact_n")).select(
            F.lit(tag).alias("measure"), "exact_n"
        )

    exact = reduce(
        DataFrame.unionByName,
        [
            tagged_count(ca.subtract(cb), "a_not_b"),
            tagged_count(cb.subtract(ca), "b_not_a"),
            tagged_count(ca.intersect(cb), "intersection"),
        ],
    )
    est = (F.col("cnt").cast("double") / F.col("th").cast("double")) * F.lit(
        _H_SPACE
    )
    return (
        counts.crossJoin(F.broadcast(theta))
        .join(exact, "measure")
        .select(
            "measure",
            F.col("cnt").cast("long").alias("n_retained"),
            est.alias("estimate"),
            F.col("exact_n").cast("long").alias("exact_n"),
        )
        .orderBy("measure")
    )


# ----------------------------------------------------------------- zipf

_MAX_OCTAVE = 40


def _octave_case_sql(col: str) -> str:
    # floor(log2(col)) as a literal CASE chain — exact integer logic,
    # no transcendental whose cross-engine bit-parity is unproven
    whens = "\n    ".join(
        f"WHEN {col} >= {1 << j} THEN {j}"
        for j in range(_MAX_OCTAVE, 0, -1)
    )
    return f"(CASE {whens} ELSE 0 END)"


def _octave_col(col: F.Column) -> F.Column:
    out = F.lit(0)
    for j in range(1, _MAX_OCTAVE + 1):
        out = F.when(col >= F.lit(1 << j), F.lit(j)).otherwise(out)
    return out


@register(
    "text_zipf_octave_fit",
    tags=("llm", "text", "zipf", "rank-frequency"),
    oracle=f"""
WITH toks AS (
  SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
  FROM documents
),
freq AS (SELECT tok, COUNT(*) AS f FROM toks GROUP BY tok),
ranked AS (
  SELECT tok, f, ROW_NUMBER() OVER (ORDER BY f DESC, tok) AS r FROM freq
),
oct AS (
  SELECT {_octave_case_sql('r')} AS octave, COUNT(*) AS n_tokens,
         CAST(SUM(f) AS BIGINT) AS total_freq
  FROM ranked GROUP BY 1
)
SELECT octave, n_tokens, total_freq,
       total_freq::DOUBLE
         / LAG(total_freq) OVER (ORDER BY octave) AS freq_ratio_to_prev
FROM oct
ORDER BY octave
""",
)
def text_zipf_octave_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency structure WITHOUT transcendentals: tokens
    ranked by frequency (exact global rank via the bucketed-rank
    operator — no single-partition sort), bucketed into rank OCTAVES
    (floor(log2 rank) as a literal CASE chain — exact integer logic),
    then per-octave token counts and exact integer frequency mass,
    with the octave-over-octave mass ratio as an exact two-integer
    division.  Reading the exponent: under Zipf(s), octave j's mass
    F_j ≈ Σ_{{r=2^j}}^{{2^{{j+1}}}} r^(−s) ∝ 2^{{j(1−s)}}, so
    ``freq_ratio_to_prev ≈ 2^(1−s)`` — s falls out of the ratio column
    without either engine ever calling log() (whose cross-engine bit
    parity the oracle gate can't assume; see dq_distribution_drift's
    same stance)."""
    from ..operators.ranking import bucketed_global_rank

    toks = load_table(spark, sf_dir, "documents").select(
        F.explode(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+")
        ).alias("tok")
    )
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("f"))
    ranked, _n = bucketed_global_rank(
        freq.withColumn("_neg_f", -F.col("f")),
        ["_neg_f", "tok"],
        rank_col="r",
    )
    oct_tbl = (
        ranked.withColumn("octave", _octave_col(F.col("r")))
        .groupBy("octave")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("f").cast("long").alias("total_freq"),
        )
    )
    w = Window.orderBy("octave")
    return (
        oct_tbl.withColumn(
            "freq_ratio_to_prev",
            F.col("total_freq").cast("double")
            / F.lag("total_freq").over(w).cast("double"),
        )
        .orderBy("octave")
    )


# ------------------------------------------------------------------- pq

_PQ_M = 8  # subspaces
_PQ_DIM = 8  # dims per subspace (8 × 8 = 64)
_PQ_K = 16  # codes per subspace → 8 bytes per vector


@register(
    "emb_product_quantization",
    oracle=None,  # iterative k-means — rows-only; substitute checks:
    # tests/test_iterative_ops.py::test_product_quantization_contract
    tags=("llm", "embedding", "pq", "compression", "rows-only"),
)
def emb_product_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codebooks: the 64-dim embedding split into
    8 8-dim subspaces, each quantized by its own 16-centroid k-means —
    8 one-byte codes per vector (64× compression vs float32) with
    per-subspace additive distortion, the memory layout behind every
    large-scale ANN index (IVF-PQ).  Output: one row per subspace
    (vectors, codes used, summed squared distortion, MSE per
    dimension).  Rows-only by design (Lloyd iteration); the substitute
    contract test checks code ranges, determinism, and that PQ
    reconstruction beats the global-mean baseline in every subspace.

    Scale/implementation: the codebooks come from the package's
    distributed Lloyd trainer (``operators/kmeans.pq_train``), which
    trains ALL 8 codebooks in one Arrow scan per iteration (per-partition
    (subspace, code) partial sums, reduced on the driver; the
    8·16·8-float codebook is the only driver state — the dim-bounded
    side of the state-size rule).  One more map pass assigns every
    vector with the shared nearest-centroid kernel and emits
    per-partition (subspace, code) counts and squared distortion.  The
    seed collect, 5 iterations and the distortion pass are one job
    each; the 8-sequential-``pyspark.ml``-fits formulation measured
    10-14 s at sf0.1 from per-fit fixed overhead alone — this one ~3 s.
    Deterministic init: the 16 corpus vectors with the smallest
    md5-derived vec_id hashes seed every subspace."""
    from ..operators.kmeans import lloyd_kernels, pq_train

    emb = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .localCheckpoint(eager=True)  # every Lloyd pass reuses one scan
    )
    codebooks = pq_train(
        emb, vec_col="embedding", id_col="vec_id", m=_PQ_M, k=_PQ_K, iters=5
    )
    m, dim, k = _PQ_M, _PQ_DIM, len(codebooks[0])
    nearest, _ = lloyd_kernels()

    def distortion(batches):
        import numpy as _np
        import pandas as _pd

        acc_cnt = _np.zeros((m, k), dtype=_np.int64)
        acc_sq = _np.zeros((m, k), dtype=_np.float64)
        seen = False
        for pdf in batches:
            if not len(pdf):
                continue
            seen = True
            X = _np.vstack(pdf["embedding"].to_numpy()).astype(_np.float64)
            for s, C in enumerate(codebooks):
                Xs = X[:, s * dim : (s + 1) * dim]
                code = nearest(Xs, C)
                for ci in range(k):
                    mask = code == ci
                    n = int(mask.sum())
                    if n:
                        acc_cnt[s, ci] += n
                        acc_sq[s, ci] += float(((Xs[mask] - C[ci]) ** 2).sum())
        if seen:
            yield _pd.DataFrame(
                [
                    (s, ci, int(acc_cnt[s, ci]), float(acc_sq[s, ci]))
                    for s in range(m)
                    for ci in range(k)
                    if acc_cnt[s, ci] > 0
                ],
                columns=["subspace", "code", "cnt", "sq"],
            )

    final = emb.select("embedding").mapInPandas(
        distortion, "subspace int, code int, cnt long, sq double"
    )
    return (
        final.groupBy("subspace")
        .agg(
            F.sum("cnt").alias("n_vectors"),
            F.count_distinct("code").alias("n_codes_used"),
            F.round(F.sum("sq"), 6).alias("distortion"),
            F.round(F.sum("sq") / F.sum("cnt") / dim, 9).alias("mse_per_dim"),
        )
        .orderBy("subspace")
    )


# -------------------------------------------------------------- z-order

from ..operators.layout import morton_code_16, sql_morton_16  # noqa: E402

_Z_BUCKET_SHIFT = 24  # 32-bit code >> 24 → 256 coarse z-buckets


@register(
    "olap_zorder_bucket_stats",
    tags=("olap", "layout", "zorder", "data-skipping"),
    oracle=f"""
WITH coded AS (
  SELECT l_orderkey, l_partkey,
         {sql_morton_16("(l_orderkey & 65535)", "(l_partkey & 65535)")} AS z
  FROM lineitem
)
SELECT z >> {_Z_BUCKET_SHIFT} AS z_bucket,
       COUNT(*) AS n_rows,
       MIN(l_orderkey & 65535) AS min_ok, MAX(l_orderkey & 65535) AS max_ok,
       MIN(l_partkey & 65535) AS min_pk, MAX(l_partkey & 65535) AS max_pk
FROM coded
GROUP BY 1
ORDER BY 1
""",
)
def olap_zorder_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering statistics — the `OPTIMIZE ZORDER BY`
    primitive: interleave the low 16 bits of (l_orderkey, l_partkey)
    into a 32-bit space-filling-curve code (pure int64 shift/mask/or —
    exact, oracle-mirrored with identical constants), then show that
    every coarse z-bucket bounds BOTH dimensions (min/max per bucket):
    files written in z-order carry tight footer stats on every
    participating column, so scans prune on either predicate — the
    multi-dimensional data-skipping story single-column sort cannot
    give.  The measured file-level skipping effect is pinned in
    tests/test_storage_layout.py::test_zorder_write_bounds_both_dims.
    One shuffle (the bucket groupBy); the code itself is map-only."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    ok = F.col("l_orderkey").bitwiseAND(F.lit(65535))
    pk = F.col("l_partkey").bitwiseAND(F.lit(65535))
    coded = li.select(
        ok.alias("ok"),
        pk.alias("pk"),
        morton_code_16(ok, pk).alias("z"),
    )
    return (
        coded.groupBy(
            F.shiftright("z", _Z_BUCKET_SHIFT).alias("z_bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("ok").alias("min_ok"),
            F.max("ok").alias("max_ok"),
            F.min("pk").alias("min_pk"),
            F.max("pk").alias("max_pk"),
        )
        .orderBy("z_bucket")
    )
