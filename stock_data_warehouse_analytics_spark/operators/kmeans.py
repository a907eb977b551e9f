"""Lloyd k-means — the one implementation behind every clustering path
in the package: one numpy nearest-centroid kernel, one distributed
trainer and one driver trainer.

- ``pq_train`` is the distributed trainer: ``m`` subspaces trained
  together.  ``m=1`` is the IVF coarse quantizer
  (``similarity.fit_ivf_quantizer``); ``m>1`` gives the PQ codebooks of
  ``similarity.topk_ivfpq`` and ``emb_product_quantization``.
- ``lloyd_kernels()`` builds the kernel (``nearest``) and the driver
  trainer (``lloyd``) for bounded arrays: the two-level IVF's per-cell
  fit, the N_CELLS sweep's sampled fits and the stock k-means past its
  exact bound.
- ``assign_codes_multi`` and ``pq_reconstruct`` are the map-only
  encoders against trained codebooks.

Why not ``pyspark.ml.KMeans``: each ml fit carries several jobs of
fixed overhead (k-means‖ init passes, Arrow→Vector conversion, model
bookkeeping) — measured 6–14 s for codebook-sized fits whose actual
arithmetic is milliseconds.  The distributed trainer is the minimal
honest formulation: per iteration, ONE Arrow ``mapInPandas`` scan of
the vector column emits per-partition (subspace, code, count, sum)
partials (≤ partitions·m·k rows), the driver reduces them and
rebroadcasts the codebooks — the dim-bounded side of the state-size
rule (same as the PC1 Gram matrix and the IVF centroid table).
Seeding is deterministic (k rows with the smallest md5-derived id
hashes), so fits are reproducible with no RNG.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import hash_int60

__all__ = ["lloyd_kernels", "assign_codes_multi", "pq_train", "pq_reconstruct"]


def lloyd_kernels():
    """Build ``(nearest, lloyd)`` as NESTED closures so cloudpickle
    ships them BY VALUE into ``mapInPandas``/``applyInPandas`` workers,
    where this package need not be importable (the
    ``multimodal._png_codec`` pattern).

    ``nearest(X, C)``: each row's nearest centroid index by squared
    euclidean distance ``||x||² − 2·x·c + ||c||²``.

    ``lloyd(X, order, k, iters)``: Lloyd over a bounded array on one
    process.  The seeds are the rows ``order[:k]``; each iteration
    assigns with ``nearest`` and moves every non-empty cluster to its
    members' mean (an empty cluster keeps its centroid).  Returns the
    centroid array."""
    import numpy as _np

    def nearest(X, C):
        d2 = (X * X).sum(1)[:, None] - 2.0 * X @ C.T + (C * C).sum(1)[None, :]
        return d2.argmin(1)

    def lloyd(X, order, k, iters):
        centers = X[order[: min(k, len(X))]].astype(_np.float64)
        for _ in range(iters):
            code = nearest(X, centers)
            for ci in range(len(centers)):
                mask = code == ci
                if mask.any():
                    centers[ci] = X[mask].mean(0)
        return centers

    return nearest, lloyd


def assign_codes_multi(
    df: DataFrame,
    codebooks: "dict[str, np.ndarray]",
    *,
    vec_col: str,
) -> DataFrame:
    """Nearest-centroid assignment against one or more codebooks in ONE
    Arrow pass — the N_CELLS tuning sweep assigns the corpus to every
    candidate index size without paying one corpus scan per index, and
    a single codebook is ``{code_col: C}``.  Emits one int column per
    codebook name; all input columns pass through."""
    books = {name: c.copy() for name, c in codebooks.items()}
    fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )
    out_schema = fields + "".join(f", {name} int" for name in books)
    nearest, _ = lloyd_kernels()

    def assign(batches):
        import numpy as _np

        for pdf in batches:
            if not len(pdf):
                continue
            X = _np.vstack(pdf[vec_col].to_numpy()).astype(_np.float64)
            yield pdf.assign(**{name: nearest(X, C) for name, C in books.items()})

    return df.mapInPandas(assign, schema=out_schema)


def pq_train(
    df: DataFrame,
    *,
    vec_col: str,
    m: int = 8,
    k: int = 16,
    iters: int = 5,
    id_col: str = "neighbor_id",
) -> list[np.ndarray]:
    """Train ``m`` codebooks — one per subspace of ``dim/m`` dims, ``k``
    centroids each — with ONE Arrow scan of ``vec_col`` per Lloyd
    iteration training ALL subspaces; returns the list of (k, dim/m)
    arrays.  Seeding: the ``k`` rows with the smallest md5(id) seed
    every subspace, and ``dim`` is their length.  Jobs: the seed
    collect + ``iters``.  Fewer than ``k`` rows train that many
    centroids; an empty cluster keeps its previous centroid.  Driver
    state: the m·k·(dim/m) codebook only."""
    seed_rows = (
        df.withColumn("_h", hash_int60(F.col(id_col).cast("string")))
        .orderBy("_h", id_col)
        .limit(k)
        .select(vec_col)
        .collect()
    )
    if not seed_rows:
        raise ValueError("pq_train: input DataFrame is empty — cannot seed")
    seeds = np.array([r[0] for r in seed_rows], dtype=np.float64)
    k_eff, dim_total = seeds.shape
    if dim_total % m:
        raise ValueError(f"pq_train: dim {dim_total} is not a multiple of m={m}")
    sub = dim_total // m
    codebooks = [seeds[:, s * sub : (s + 1) * sub].copy() for s in range(m)]
    vecs = df.select(vec_col)
    nearest, _ = lloyd_kernels()
    part_schema = "subspace int, code int, cnt long, sums array<double>"

    def make_pass(cbs):
        cb_arr = [c.copy() for c in cbs]

        def partial(batches):
            import numpy as _np
            import pandas as _pd

            acc_cnt = _np.zeros((m, k_eff), dtype=_np.int64)
            acc_sum = _np.zeros((m, k_eff, sub), dtype=_np.float64)
            seen = False
            for pdf in batches:
                if not len(pdf):
                    continue
                seen = True
                X = _np.vstack(pdf[vec_col].to_numpy()).astype(_np.float64)
                for s in range(m):
                    Xs = X[:, s * sub : (s + 1) * sub]
                    code = nearest(Xs, cb_arr[s])
                    for ci in range(k_eff):
                        mask = code == ci
                        n = int(mask.sum())
                        if n:
                            acc_cnt[s, ci] += n
                            acc_sum[s, ci] += Xs[mask].sum(0)
            if not seen:
                return
            rows = [
                (s, ci, int(acc_cnt[s, ci]), acc_sum[s, ci].tolist())
                for s in range(m)
                for ci in range(k_eff)
                if acc_cnt[s, ci] > 0
            ]
            yield _pd.DataFrame(
                rows, columns=["subspace", "code", "cnt", "sums"]
            )

        return partial

    for _ in range(iters):
        parts = vecs.mapInPandas(make_pass(codebooks), part_schema).collect()
        cnt = np.zeros((m, k_eff), dtype=np.int64)
        tot = np.zeros((m, k_eff, sub), dtype=np.float64)
        for r in parts:
            cnt[r.subspace, r.code] += r.cnt
            tot[r.subspace, r.code] += np.array(r.sums)
        for s in range(m):
            nz = cnt[s] > 0
            codebooks[s][nz] = tot[s][nz] / cnt[s][nz, None]
    return codebooks


def pq_reconstruct(
    df: DataFrame,
    codebooks: list[np.ndarray],
    *,
    vec_col: str,
    rec_col: str = "_rec",
) -> DataFrame:
    """Map-only PQ encode-then-reconstruct: per subspace argmin code,
    output the concatenated codebook entries as ``rec_col`` (the
    vector ADC actually scores against — numerically identical to the
    per-query LUT formulation, which is the production trick: this
    form keeps the demo relational and exact).  All input columns pass
    through."""
    cbs = [c.copy() for c in codebooks]
    m = len(cbs)
    sub = cbs[0].shape[1]
    fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )
    out_schema = f"{fields}, {rec_col} array<double>"
    nearest, _ = lloyd_kernels()

    def rec(batches):
        import numpy as _np

        for pdf in batches:
            if not len(pdf):
                continue
            X = _np.vstack(pdf[vec_col].to_numpy()).astype(_np.float64)
            out = _np.empty_like(X[:, : m * sub])
            for s in range(m):
                Xs = X[:, s * sub : (s + 1) * sub]
                out[:, s * sub : (s + 1) * sub] = cbs[s][nearest(Xs, cbs[s])]
            yield pdf.assign(**{rec_col: list(out)})

    return df.mapInPandas(rec, schema=out_schema)
