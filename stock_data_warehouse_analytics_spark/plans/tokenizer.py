"""Tokenizer-prep queries (round 4): BPE merge-table TRAINING and the
per-domain token-budget corpus mix — the two jobs that sit between a
deduped corpus and a training run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import tokens
from ..operators.text_ml import bpe_train_merges
from ..session import session_memo
from ..sources.tables import load_table
from .registry import register


@register(
    "text_bpe_train_merges",
    tags=("llm", "text", "bpe", "tokenizer", "iterative"),
    oracle=None,  # iterative argmax loop — not SQL-expressible; the
    # merge table is differential-tested against a pure-Python
    # reference in tests/test_iterative_ops.py::
    # test_bpe_train_merges_matches_python_reference
)
def text_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE VOCABULARY TRAINING (10 merge rounds) over ``documents`` —
    the iterative top-pair merge loop (count adjacent symbol pairs
    weighted by word frequency → merge argmax everywhere), run
    relationally: corpus collapses once into the Heaps-bounded
    word-frequency table, each round is one vocab-sized shuffle plus a
    single-row argmax collect, the merge itself a map-only array fold,
    checkpointed per round (``operators/text_ml.py``).  Rows-only;
    differential-tested word-for-word against a pure-Python reference
    (tests/test_iterative_ops.py::
    test_bpe_train_merges_matches_python_reference).  Complements
    ``text_bpe_token_cost``, which only APPLIES a pre-tokenizer.
    Deterministic: tie-break (count desc, left asc, right asc), no
    RNG — the same corpus always yields the same merge table.
    Trains with the subword-nmt end-of-word marker (last character
    fused with ``</w>``), so merges distinguish word-final contexts
    — the production-tokenizer formulation."""
    merges, _ = trained_bpe(spark, sf_dir)
    return merges.orderBy("round")


# ------------------------------------------- token-budget corpus mixing

# integer percent weights and a 1/2 total budget — all boundary
# arithmetic stays integer (floor), bit-identical cross-engine
_BUDGET_W_PCT = {"web": 60, "books": 30, "code": 10}
_BUDGET_DEN = 200  # sum(weights)=100 × budget denominator 2 → half the corpus

_SQL_H60 = "('0x' || substr(md5({x}), 1, 15))::BIGINT"


@register(
    "mix_token_budget_per_domain",
    tags=("llm", "sampling", "mixing", "budget"),
    oracle=f"""
WITH tagged AS (
  SELECT doc_id,
         CASE WHEN {_SQL_H60.format(x="source")} % 3 = 0 THEN 'web'
              WHEN {_SQL_H60.format(x="source")} % 3 = 1 THEN 'books'
              ELSE 'code' END AS corpus,
         len(string_split_regex(lower(trim(text)), '\\s+')) AS n_tokens
  FROM documents
),
tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens FROM tagged),
cum AS (
  SELECT corpus, doc_id, n_tokens,
         CAST(SUM(n_tokens) OVER (PARTITION BY corpus ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           - n_tokens AS cum_before,
         (total_tokens
          * CASE corpus WHEN 'web' THEN {_BUDGET_W_PCT['web']}
                        WHEN 'books' THEN {_BUDGET_W_PCT['books']}
                        ELSE {_BUDGET_W_PCT['code']} END)
          // {_BUDGET_DEN} AS budget_tokens
  FROM tagged CROSS JOIN tot
)
SELECT corpus,
       MAX(budget_tokens) AS budget_tokens,
       COUNT(*) AS n_avail,
       CAST(SUM(n_tokens) AS BIGINT) AS tokens_avail,
       COUNT(*) FILTER (WHERE cum_before < budget_tokens) AS n_selected,
       CAST(COALESCE(SUM(n_tokens) FILTER (WHERE cum_before < budget_tokens), 0)
            AS BIGINT) AS tokens_selected
FROM cum
GROUP BY corpus
ORDER BY corpus
""",
)
def mix_token_budget_per_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain HARD token budgets — the production form of corpus
    mixing (``mix_weighted_corpora`` hits target weights only in
    expectation via acceptance rates; a training run has a fixed token
    budget per source).  Each domain is capped at
    ``total_tokens × weight ÷ 2`` tokens: docs ordered by doc_id are
    taken while the cumulative token count BEFORE the doc is under
    budget — the same cumulative-cutoff semantics as
    ``multimodal_shard_manifest``'s packing (the crossing doc is
    included, so every budget is met or exceeded by < one doc).
    Integer boundary arithmetic on both engines (floor division), so
    the selection is bit-exact.  Scale: one scan → token counts, one
    broadcast one-row total, one per-domain window — no joins over
    data-sized tables; at extreme per-domain volume the window becomes
    the two-pass range-partitioned running sum (noted at the shard
    manifest)."""
    from pyspark.sql import Window

    from ..functions.text import token_count
    from ..operators.dedup import hash_int60

    d = load_table(spark, sf_dir, "documents")
    corpus = (
        F.when(hash_int60(F.col("source")) % 3 == 0, "web")
        .when(hash_int60(F.col("source")) % 3 == 1, "books")
        .otherwise("code")
    )
    tagged = d.select(
        "doc_id",
        corpus.alias("corpus"),
        token_count(F.col("text")).cast("long").alias("n_tokens"),
    )
    tot = tagged.agg(F.sum("n_tokens").cast("long").alias("total_tokens"))
    # weight as a SQL CASE so the budget can use BIGINT `div` below
    w_pct_sql = (
        f"CASE WHEN corpus = 'web' THEN {_BUDGET_W_PCT['web']} "
        f"WHEN corpus = 'books' THEN {_BUDGET_W_PCT['books']} "
        f"ELSE {_BUDGET_W_PCT['code']} END"
    )
    win = (
        Window.partitionBy("corpus")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = (
        tagged.crossJoin(F.broadcast(tot))
        .withColumn(
            "cum_before",
            (F.sum("n_tokens").over(win) - F.col("n_tokens")).cast("long"),
        )
        .withColumn(
            # pure BIGINT arithmetic (SQL `div`, not `/`): Spark's `/`
            # is double division, which diverges from DuckDB's exact
            # integer `//` once total_tokens·w_pct exceeds 2^53
            "budget_tokens",
            F.expr(
                f"(total_tokens * {w_pct_sql}) div {_BUDGET_DEN}"
            ).cast("long"),
        )
    )
    sel = F.col("cum_before") < F.col("budget_tokens")
    return (
        cum.groupBy("corpus")
        .agg(
            F.max("budget_tokens").alias("budget_tokens"),
            F.count(F.lit(1)).alias("n_avail"),
            F.sum("n_tokens").cast("long").alias("tokens_avail"),
            F.count(F.when(sel, 1)).alias("n_selected"),
            F.coalesce(F.sum(F.when(sel, F.col("n_tokens"))), F.lit(0))
            .cast("long")
            .alias("tokens_selected"),
        )
        .orderBy("corpus")
    )


# Per-session memo of the trained (merges, vocab) pair per sf_dir —
# training is 10 sequential Spark jobs; both BPE queries reuse one fit
# (the ivf_quantizer stance).


def trained_bpe(spark: SparkSession, sf_dir: str):
    """(merges_df, final_vocab) for the standard 10-round trainer —
    fit on first use per (session, sf_dir), reused afterwards.  The
    vocab frame is already localCheckpoint-materialized by the trainer
    loop, so reuse costs no recomputation."""
    return session_memo(
        spark,
        ("tokenizer.bpe", sf_dir),
        lambda: bpe_train_merges(load_table(spark, sf_dir, "documents"), rounds=10),
    )


@register(
    "text_bpe_encode_cost",
    tags=("llm", "text", "bpe", "tokenizer"),
    oracle=None,  # depends on the iteratively-trained merge table; the
    # trainer AND the final symbolization are differential-tested
    # word-for-word in tests/test_iterative_ops.py — this query is a
    # join/agg over that verified vocab
)
def text_bpe_encode_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENCODE the corpus with the trained BPE vocabulary — the job that
    runs after ``text_bpe_train_merges``: per-source token-cost report
    (whitespace tokens vs post-merge BPE symbols vs characters).  The
    trained vocab is Heaps-bounded, so the word→symbol-count lookup is
    a BROADCAST join against the exploded token stream — one scan of
    the corpus, no data-sized shuffle.  Rows-only; invariants and
    corpus-total conservation pinned by tests/test_iterative_ops.py::
    test_bpe_encode_cost_invariants.  Unknown words (impossible here
    — vocab is trained on the same corpus — but real in incremental
    encoding) fall back to character count."""
    d = load_table(spark, sf_dir, "documents")
    _, vocab = trained_bpe(spark, sf_dir)
    costs = vocab.select(
        "w", F.size("syms").alias("n_syms")
    )
    toks = d.select(
        "doc_id",
        "source",
        F.explode(tokens(F.col("text"))).alias("w"),
    ).filter(F.length("w") > 0)
    per_doc = (
        toks.join(F.broadcast(costs), "w", "left")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(
                F.coalesce(F.col("n_syms"), F.length("w"))
            ).alias("n_symbols"),
            F.sum(F.length("w")).alias("n_chars"),
        )
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("ws_tokens"),
            F.sum("n_symbols").cast("long").alias("bpe_symbols"),
            F.sum("n_chars").cast("long").alias("chars"),
            F.round(
                F.sum("n_symbols") / F.sum("n_tokens"), 6
            ).alias("symbols_per_token"),
            F.round(
                F.sum("n_chars") / F.sum("n_symbols"), 6
            ).alias("chars_per_symbol"),
        )
        .orderBy("source")
    )


def trained_bpe_half(spark: SparkSession, sf_dir: str):
    """(merges_df, vocab) trained on the EVEN-doc_id half only — the
    'existing tokenizer' of the incremental-encoding query.  Cached
    per (session, sf_dir) under a distinct key."""
    def build():
        d = load_table(spark, sf_dir, "documents").filter(
            F.col("doc_id") % 2 == 0
        )
        return bpe_train_merges(d, rounds=10)

    return session_memo(spark, ("tokenizer.bpe", sf_dir + "#even"), build)


VOCAB_KEEP = 16  # finite-vocab cutoff (the corpus vocabulary is ~31
# words — 16 keeps roughly half, so the OOV path is genuinely hot)


@register(
    "text_bpe_encode_incremental",
    tags=("llm", "text", "bpe", "tokenizer", "oov", "incremental"),
    oracle=None,  # depends on the iteratively-trained merge table; the
    # trainer is differential-tested word-for-word and this query's
    # OOV accounting + conservation invariants are pinned by
    # tests/test_iterative_ops.py::test_bpe_encode_incremental_oov
)
def text_bpe_encode_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL BPE encoding — the production path
    ``text_bpe_encode_cost`` only gestures at: the vocabulary is
    trained on the EVEN-doc_id half (the 'yesterday' corpus,
    session-cached like the IVF quantizer), then the ODD half — text
    the tokenizer never saw — is encoded against it.  Words absent
    from the trained vocab are OOV: they fall back to character-level
    encoding (len(word) symbols — exactly what a BPE tokenizer does
    to a never-seen word before any merges apply).  Per-source
    report: whitespace tokens, BPE symbols, OOV tokens and rate, and
    compression (symbols per token) — the drift signal a production
    pipeline watches to decide when to RETRAIN the tokenizer.
    Rows-only; OOV accounting + conservation pinned by
    tests/test_iterative_ops.py::test_bpe_encode_incremental_oov.
    Scale: vocab is Heaps-bounded → broadcast join against the
    exploded token stream, one corpus scan, no data-sized shuffle."""
    d = load_table(spark, sf_dir, "documents")
    _, vocab = trained_bpe_half(spark, sf_dir)
    # FINITE tokenizer vocabulary: production tokenizers keep a fixed
    # word list; model that with the top-VOCAB_KEEP words by training
    # frequency (deterministic tie-break on the word) — everything
    # rarer is OOV even if it appeared in training
    w_rank = Window.orderBy(F.desc("freq"), "w")
    costs = (
        vocab.withColumn("_r", F.row_number().over(w_rank))
        .filter(F.col("_r") <= VOCAB_KEEP)
        .select("w", F.size("syms").alias("n_syms"))
    )
    toks = (
        d.filter(F.col("doc_id") % 2 == 1)
        .select("doc_id", "source", F.explode(tokens(F.col("text"))).alias("w"))
        .filter(F.length("w") > 0)
    )
    enc = toks.join(F.broadcast(costs), "w", "left")
    return (
        enc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("ws_tokens"),
            F.sum(F.coalesce(F.col("n_syms"), F.length("w")))
            .cast("long")
            .alias("bpe_symbols"),
            F.count(F.when(F.col("n_syms").isNull(), 1))
            .cast("long")
            .alias("oov_tokens"),
            F.round(
                F.count(F.when(F.col("n_syms").isNull(), 1))
                / F.count(F.lit(1)),
                6,
            ).alias("oov_rate"),
            F.round(
                F.sum(F.coalesce(F.col("n_syms"), F.length("w")))
                / F.count(F.lit(1)),
                6,
            ).alias("symbols_per_token"),
        )
        .orderBy("source")
    )


_EPOCH_MULT = 3  # training target = 3× the full corpus (data-constrained)
_EPOCH_CAP = 4  # max useful repeats (data-constrained scaling rule of thumb)


@register(
    "mix_epoch_schedule",
    tags=("llm", "sampling", "mixing", "epochs", "data-constrained"),
    oracle=f"""
WITH tagged AS (
  SELECT CASE WHEN {_SQL_H60.format(x="source")} % 3 = 0 THEN 'web'
              WHEN {_SQL_H60.format(x="source")} % 3 = 1 THEN 'books'
              ELSE 'code' END AS corpus,
         len(string_split_regex(lower(trim(text)), '\\s+')) AS n_tokens
  FROM documents
),
avail AS (
  SELECT corpus,
         COUNT(*) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS tokens_avail
  FROM tagged GROUP BY corpus
),
tot AS (SELECT CAST(SUM(tokens_avail) AS BIGINT) AS total FROM avail),
sched AS (
  SELECT a.corpus, a.n_docs, a.tokens_avail,
         (tot.total * {_EPOCH_MULT}
          * CASE a.corpus WHEN 'web' THEN {_BUDGET_W_PCT['web']}
                          WHEN 'books' THEN {_BUDGET_W_PCT['books']}
                          ELSE {_BUDGET_W_PCT['code']} END) // 100
           AS need_tokens
  FROM avail a CROSS JOIN tot
)
SELECT corpus, n_docs, tokens_avail, need_tokens,
       (need_tokens + tokens_avail - 1) // tokens_avail AS epochs_needed,
       LEAST((need_tokens + tokens_avail - 1) // tokens_avail,
             {_EPOCH_CAP}) AS epochs_capped,
       LEAST(need_tokens, {_EPOCH_CAP} * tokens_avail) AS tokens_served,
       need_tokens - LEAST(need_tokens, {_EPOCH_CAP} * tokens_avail)
         AS shortfall_tokens,
       (need_tokens + tokens_avail - 1) // tokens_avail > {_EPOCH_CAP}
         AS over_cap
FROM sched
ORDER BY corpus
""",
)
def mix_epoch_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EPOCH / repeat schedule for a data-constrained training mix —
    the planning table behind "we want {mult}× the corpus in training
    tokens at 60/30/10 web/books/code": per domain, the tokens the
    target mixture NEEDS, the epochs (full repeats) of the available
    data that implies, the repeat cap of {cap} epochs past which
    additional repeats stop helping (the data-constrained scaling
    rule of thumb), and the shortfall the cap leaves — the number a
    data-acquisition team is paged with.  Complements
    ``mix_token_budget_per_domain`` (which SELECTS docs under a
    budget); this decides how many TIMES the selected data is seen.

    Scale shape: one scan collapses the corpus to a 3-row per-domain
    availability table (map-side token counts, grouped agg); the
    schedule arithmetic is pure BIGINT on that 3-row table with one
    one-row total broadcast — ceil-division via ``(need + avail − 1)
    div avail`` keeps every boundary integer-exact on both engines."""
    from ..functions.text import token_count
    from ..operators.dedup import hash_int60

    d = load_table(spark, sf_dir, "documents")
    corpus = (
        F.when(hash_int60(F.col("source")) % 3 == 0, "web")
        .when(hash_int60(F.col("source")) % 3 == 1, "books")
        .otherwise("code")
    )
    avail = (
        d.select(
            corpus.alias("corpus"),
            token_count(F.col("text")).cast("long").alias("n_tokens"),
        )
        .groupBy("corpus")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("tokens_avail"),
        )
    )
    tot = avail.agg(F.sum("tokens_avail").cast("long").alias("total"))
    w_pct_sql = (
        f"CASE WHEN corpus = 'web' THEN {_BUDGET_W_PCT['web']} "
        f"WHEN corpus = 'books' THEN {_BUDGET_W_PCT['books']} "
        f"ELSE {_BUDGET_W_PCT['code']} END"
    )
    sched = avail.crossJoin(F.broadcast(tot)).withColumn(
        "need_tokens",
        F.expr(f"(total * {_EPOCH_MULT} * {w_pct_sql}) div 100").cast("long"),
    )
    epochs = F.expr("(need_tokens + tokens_avail - 1) div tokens_avail").cast(
        "long"
    )
    served = F.least(
        F.col("need_tokens"), F.lit(_EPOCH_CAP) * F.col("tokens_avail")
    ).cast("long")
    return sched.select(
        "corpus",
        "n_docs",
        "tokens_avail",
        "need_tokens",
        epochs.alias("epochs_needed"),
        F.least(epochs, F.lit(_EPOCH_CAP)).cast("long").alias("epochs_capped"),
        served.alias("tokens_served"),
        (F.col("need_tokens") - served).cast("long").alias("shortfall_tokens"),
        (epochs > _EPOCH_CAP).alias("over_cap"),
    ).orderBy("corpus")


mix_epoch_schedule.__doc__ = mix_epoch_schedule.__doc__.format(
    mult=_EPOCH_MULT, cap=_EPOCH_CAP
)
