"""Session-scoped canonical dedup substrate store.

A dozen registered queries (the dedup_*/text_minhash_*/graph edge
family) all start from the SAME three intermediates over the standard
documents corpus:

1. the df-capped word-3-gram shingle table
   (``operators/dedup.shingle_table(k=3, max_df="auto")`` — one
   explode + one shingle-keyed count window over the corpus),
2. the 16-permutation MinHash signature table built from it,
3. the (n_hashes=16, bands=4) LSH candidate pairs built from that.

Before this store each query re-ran the explode + df-census shuffle
(and usually the signature agg) from scratch — ~1.5–2.5 s apiece at
sf0.1, ~12 queries in the bench tail.  A production dedup warehouse
materializes exactly these three tables once per corpus batch and
serves every downstream consumer; this store is that discipline per
(session, sf_dir): each frame is localCheckpointed eagerly on first
use and reused by every consumer in the session.

Correctness is unchanged: the stored frames are the IDENTICAL
expressions the operators build internally (the operators take them
via the ``sh``/``sig`` override params), just materialized once.

Cached by ``session.session_memo`` (staleness contract there).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.dedup import (
    minhash_candidate_pairs,
    minhash_signatures,
    shingle_table,
    simhash_near_pairs,
)
from ..session import session_memo
from ..sources.tables import load_table


def staged_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical capped shingle table: (doc_id, shingle), word
    3-grams, df ≤ max(50, 1% of corpus)."""
    return session_memo(
        spark,
        ("dedup_store", sf_dir, "shingles"),
        lambda: shingle_table(
            load_table(spark, sf_dir, "documents"), "text", 3, max_df="auto"
        ).localCheckpoint(eager=True),
    )


def staged_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical 16-permutation MinHash signature table
    (doc_id, mh0..mh15), built over :func:`staged_shingles`."""
    return session_memo(
        spark,
        ("dedup_store", sf_dir, "signatures"),
        lambda: minhash_signatures(
            None, n_hashes=16, sh=staged_shingles(spark, sf_dir)
        ).localCheckpoint(eager=True),
    )


def staged_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical (n_hashes=16, bands=4) LSH candidate pairs
    (doc_a < doc_b), built over :func:`staged_signatures`."""
    return session_memo(
        spark,
        ("dedup_store", sf_dir, "candidates"),
        lambda: minhash_candidate_pairs(
            None, n_hashes=16, bands=4, sig=staged_signatures(spark, sf_dir)
        ).localCheckpoint(eager=True),
    )


def staged_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical SimHash near-dup pairs (max_hamming=8, bands=4,
    60 bits) — the OTHER detector leg, shared by ``dedup_simhash`` and
    ``dedup_detector_ensemble``.  Pair-grain (≤ candidate pairs), so
    the checkpoint is tiny; the 60-conditional-sum signature agg runs
    once per session instead of once per consumer."""
    return session_memo(
        spark,
        ("dedup_store", sf_dir, "simhash_pairs"),
        lambda: simhash_near_pairs(
            load_table(spark, sf_dir, "documents"), max_hamming=8, bands=4
        ).localCheckpoint(eager=True),
    )
