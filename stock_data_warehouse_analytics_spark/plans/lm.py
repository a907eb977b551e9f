"""Statistical language-model queries over the documents corpus.

The production shape these mirror is the CCNet / Gopher / FineWeb
quality-filter stage: train a cheap n-gram LM on the corpus (or a clean
slice of it), score every document's perplexity under it, and gate or
bucket documents by that score.  (The reference repo has no LM stage —
this is part of the mandated LLM-pipeline extension surface, like
``plans/tokenizer.py`` and the dedup family.)

Scale shape shared by the queries here: the corpus collapses ONCE to
token/bigram count tables whose size is the *vocabulary*, not the
corpus (Heaps' law: ≪ corpus at any scale); scoring is an equi-join of
the exploded token stream against those tables.  At web scale the
bigram table may outgrow a broadcast — the join is a plain shuffle
equi-join on the bigram key, which AQE converts to broadcast when the
vocab IS small (as here).  No driver collect of anything data-sized.

Cross-engine exactness: counts are integers; each per-row log-prob is
``LN`` of a double ratio of exact integers (identical bits on both
engines — same contract as ``sql_api.py``'s tf·idf LN and the
``LN(1+ret)`` cumulative-return plans, oracle-exact for four rounds);
per-document sums go through the DECIMAL exact-sum machinery
(``plans/exact.dsum``) so aggregation order cannot perturb the hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import tokens
from ..operators.dedup import hash_int60
from ..session import session_memo
from ..sources.tables import load_table
from .exact import dsum, sql_dsum
from .registry import register

# DuckDB mirrors of functions.text.tokens and operators.dedup.hash_int60
_SQL_TOKS = r"string_split_regex(lower(trim(text)), '\s+')"
_SQL_H60 = "('0x' || substr(md5({x}), 1, 15))::BIGINT"

_PPL_FLAG = 30.0  # gate threshold: ppl above this ⇒ "too surprising"

# Per-doc perplexity frame, memoized per (session, sf_dir) so the
# curriculum planner (plans/stat_models2.mix_curriculum_schedule) and
# the gate panel share ONE scored materialization.


def doc_ppl_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, ppl): add-one bigram-LM perplexity per document
    (the ``text_lm_perplexity`` scoring pipeline, factored out and
    memoized per session — localCheckpointed so consumers don't re-run
    the two corpus passes).  Cached by ``session_memo`` (staleness
    contract there)."""

    def build() -> DataFrame:
        d = load_table(spark, sf_dir, "documents")
        toks = d.select("doc_id", "source", tokens(F.col("text")).alias("t"))
        bi = toks.select(
            "doc_id",
            "source",
            F.explode(
                F.expr(
                    "transform(slice(t, 1, size(t) - 1),"
                    " (w, i) -> struct(w AS w1, t[i + 1] AS w2))"
                )
            ).alias("b"),
        ).select("doc_id", "source", "b.w1", "b.w2")
        c2 = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
        c1 = bi.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
        vocab = (
            toks.select(F.explode("t").alias("w"))
            .agg(F.countDistinct("w").alias("v"))
        )
        scored = (
            bi.join(c2, ["w1", "w2"])
            .join(c1, ["w1"])
            .crossJoin(F.broadcast(vocab))
            .select(
                "doc_id",
                "source",
                F.log(
                    (F.col("c12") + 1).cast("double")
                    / (F.col("c1") + F.col("v"))
                ).alias("lp"),
            )
        )
        return (
            scored.groupBy("doc_id", "source")
            .agg(
                F.round(F.exp(-dsum("lp") / F.count(F.lit(1))), 6).alias("ppl")
            )
            .localCheckpoint(eager=False)
        )

    return session_memo(spark, ("lm.ppl", sf_dir), build)


@register(
    "text_lm_perplexity",
    tags=("llm", "text", "language-model", "perplexity", "quality"),
    oracle=f"""
WITH toks AS (
  SELECT doc_id, source, {_SQL_TOKS} AS t FROM documents
),
bi AS (
  SELECT doc_id, source, t[i] AS w1, t[i + 1] AS w2
  FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS g(i)
),
c2 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bi GROUP BY w1, w2),
c1 AS (SELECT w1, COUNT(*) AS c1 FROM bi GROUP BY w1),
vocab AS (
  SELECT COUNT(DISTINCT w) AS v
  FROM (SELECT unnest(t) AS w FROM toks)
),
scored AS (
  SELECT b.doc_id, b.source,
         LN((c2.c12 + 1)::DOUBLE / (c1.c1 + vocab.v)) AS lp
  FROM bi b
  JOIN c2 ON c2.w1 = b.w1 AND c2.w2 = b.w2
  JOIN c1 ON c1.w1 = b.w1
  CROSS JOIN vocab
),
ppl AS (
  SELECT doc_id, source,
         ROUND(EXP(-({sql_dsum("lp")}) / COUNT(*)), 6) AS ppl
  FROM scored GROUP BY doc_id, source
)
SELECT source,
       COUNT(*) AS n_docs,
       ROUND({sql_dsum("ppl")} / COUNT(*), 6) AS avg_ppl,
       MIN(ppl) AS min_ppl,
       MAX(ppl) AS max_ppl,
       COUNT(*) FILTER (WHERE ppl > {_PPL_FLAG}) AS n_flagged
FROM ppl
GROUP BY source
ORDER BY source
""",
)
def text_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM PERPLEXITY quality gate — the CCNet-style filter stage:
    train an add-one-smoothed bigram model on the corpus itself, score
    every document's perplexity ``exp(−mean log p(wᵢ | wᵢ₋₁))`` under
    it, and report the per-source gate panel (mean/min/max perplexity
    and how many documents a ppl > {flag} gate would drop).  Repetitive
    template-y documents score LOW (the LM memorizes them); documents
    whose token transitions diverge from the corpus score HIGH — both
    tails are what production pipelines inspect.

    Scale shape: one pass explodes each document into its bigram stream
    (no window — the (w1, w2) pairing is an array ``transform`` inside
    the row); the LM is two grouped counts whose cardinality is the
    bigram/unigram VOCABULARY (Heaps' law, ≪ corpus — here 31² max);
    scoring re-joins the stream to those tables on the bigram key (AQE
    broadcasts them when small) plus a one-row vocab-size scalar.
    Per-document and per-source sums are exact DECIMAL
    (``plans/exact.dsum``); each per-row LN is deterministic double
    math, so the panel hash-compares bit-for-bit with DuckDB."""
    ppl = doc_ppl_frame(spark, sf_dir)
    return (
        ppl.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(dsum("ppl") / F.count(F.lit(1)), 6).alias("avg_ppl"),
            F.min("ppl").alias("min_ppl"),
            F.max("ppl").alias("max_ppl"),
            F.count(F.when(F.col("ppl") > _PPL_FLAG, 1)).alias("n_flagged"),
        )
        .orderBy("source")
    )


text_lm_perplexity.__doc__ = text_lm_perplexity.__doc__.format(flag=_PPL_FLAG)


_PMI_MIN_COUNT = 5
_PMI_TOP = 20


@register(
    "text_pmi_collocations",
    tags=("llm", "text", "pmi", "collocation", "ngram"),
    oracle=f"""
WITH toks AS (
  SELECT doc_id, {_SQL_TOKS} AS t FROM documents
),
uni AS (
  SELECT w, COUNT(*) AS c FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w
),
tot AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n_uni FROM uni
),
bi AS (
  SELECT t[i] AS w1, t[i + 1] AS w2, COUNT(*) AS c12
  FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS g(i)
  GROUP BY w1, w2
),
nbi AS (
  SELECT CAST(SUM(c12) AS BIGINT) AS n_bi FROM bi
),
pmi AS (
  SELECT b.w1, b.w2, b.c12,
         ROUND(LN(b.c12::DOUBLE) + 2 * LN(tot.n_uni::DOUBLE)
               - LN(nbi.n_bi::DOUBLE) - LN(u1.c::DOUBLE)
               - LN(u2.c::DOUBLE), 6) AS pmi
  FROM bi b
  JOIN uni u1 ON u1.w = b.w1
  JOIN uni u2 ON u2.w = b.w2
  CROSS JOIN tot CROSS JOIN nbi
  WHERE b.c12 >= {_PMI_MIN_COUNT}
)
SELECT w1, w2, c12, pmi
FROM pmi
ORDER BY pmi DESC, w1, w2
LIMIT {_PMI_TOP}
""",
)
def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{top} COLLOCATIONS by pointwise mutual information —
    ``pmi(a,b) = ln(p(a,b) / (p(a)·p(b)))`` over adjacent token pairs
    with a min-count floor of {mc} (the standard Church & Hanks
    phrase-discovery statistic; production pipelines use it to find
    multi-word units worth protecting from tokenizer splits).

    Scale shape: the corpus collapses to the unigram and bigram count
    tables in two grouped passes (vocabulary-sized, Heaps' law); the
    PMI join runs entirely between those small tables plus two one-row
    totals — the corpus is never touched again.  The min-count floor
    bounds the output; final ordering is on the rounded statistic with
    a lexicographic tiebreak, so top-{top} is deterministic.  PMI is
    computed as a fixed-order sum of five LNs of exact-integer-valued
    doubles — identical bits on both engines (avoids the BIGINT
    overflow a literal ``c12·N²/(N_bi·c_a·c_b)`` product would risk at
    scale)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", tokens(F.col("text")).alias("t"))
    uni = (
        toks.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = uni.agg(F.sum("c").cast("long").alias("n_uni"))
    bi = (
        toks.select(
            F.explode(
                F.expr(
                    "transform(slice(t, 1, size(t) - 1),"
                    " (w, i) -> struct(w AS w1, t[i + 1] AS w2))"
                )
            ).alias("b")
        )
        .select("b.w1", "b.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    nbi = bi.agg(F.sum("c12").cast("long").alias("n_bi"))
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("ca"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("cb"))
    ln = lambda c: F.log(F.col(c).cast("double"))  # noqa: E731
    return (
        bi.filter(F.col("c12") >= _PMI_MIN_COUNT)
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(nbi))
        .select(
            "w1",
            "w2",
            "c12",
            F.round(
                ln("c12") + 2 * ln("n_uni") - ln("n_bi") - ln("ca") - ln("cb"),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(_PMI_TOP)
    )


text_pmi_collocations.__doc__ = text_pmi_collocations.__doc__.format(
    top=_PMI_TOP, mc=_PMI_MIN_COUNT
)


_RES_K = 16  # sample size per source
_U_DEN = 1 << 48  # 48-bit uniform denominator


@register(
    "sample_weighted_reservoir",
    tags=("llm", "sampling", "weighted", "reservoir"),
    oracle=f"""
WITH keyed AS (
  SELECT source, doc_id, n_chars,
         CAST(ROUND(
           LN(({_SQL_H60.format(x="doc_id::VARCHAR || ':' || text")}
               % {_U_DEN} + 1)::DOUBLE / {_U_DEN}) / n_chars * 1e9,
           0) AS BIGINT) AS key_nano
  FROM documents
  WHERE n_chars > 0
),
ranked AS (
  SELECT source, doc_id, n_chars, key_nano,
         ROW_NUMBER() OVER (
           PARTITION BY source ORDER BY key_nano DESC, doc_id
         ) AS rk
  FROM keyed
)
SELECT source, rk AS pick, doc_id, n_chars, key_nano
FROM ranked
WHERE rk <= {_RES_K}
ORDER BY source, pick
""",
)
def sample_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic WEIGHTED reservoir sample (Efraimidis–Spirakis
    A-Res): {k} documents per source, inclusion probability ∝ document
    length — the without-replacement weighted sampler behind "pick a
    length-weighted eval slice per domain" jobs.  Each row draws a
    reproducible uniform u from its content hash (48-bit md5 slice, the
    ``sample_stratified_hash`` primitive) and gets key ``u^(1/w)``;
    the top-{k} keys per group ARE the sample.  Ordering uses the
    monotone transform ``ln(u)/w`` (same argmax, no pow), quantized to
    integer nano-units so rank comparisons are integer-exact
    cross-engine, with doc_id tiebreak — fully deterministic at any
    partitioning, reproducible on any engine with md5.

    Scale shape: key assignment is map-only; per-group top-k is one
    hash shuffle on ``source`` + a rank window inside each group —
    Spark's partial top-k pushdown keeps executor state at k rows per
    group.  No global sort, no driver state."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u_int = (
        hash_int60(
            F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("text"))
        )
        % _U_DEN
    )
    key = F.log((u_int + 1).cast("double") / F.lit(float(_U_DEN))) / F.col(
        "n_chars"
    )
    keyed = d.select(
        "source",
        "doc_id",
        "n_chars",
        F.round(key * 1e9, 0).cast("long").alias("key_nano"),
    )
    w = Window.partitionBy("source").orderBy(F.desc("key_nano"), "doc_id")
    return (
        keyed.withColumn("pick", F.row_number().over(w))
        .filter(F.col("pick") <= _RES_K)
        .select("source", "pick", "doc_id", "n_chars", "key_nano")
        .orderBy("source", "pick")
    )


sample_weighted_reservoir.__doc__ = sample_weighted_reservoir.__doc__.format(
    k=_RES_K
)


_LM_CAP = 65536  # pruned-LM size cap (KenLM-style prune; never binds here)


def _train_bigram_lm(
    spark: SparkSession, sf_dir: str
) -> tuple[dict[str, int], dict[str, int], int]:
    """Train the pruned bigram LM on the even-doc_id corpus half.
    Returns (bigram counts keyed "w1 w2", context counts keyed w1,
    vocab size).  All three driver round-trips are VOCABULARY-bounded
    (Heaps' law), with the explicit {cap}-entry prune a production
    KenLM build applies — the same dimension-sized-state stance as the
    k-means centroid and IVF codebook collects."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 2 == 0)
    toks = d.select(tokens(F.col("text")).alias("t"))
    bi = (
        toks.select(
            F.explode(
                F.expr(
                    "transform(slice(t, 1, size(t) - 1),"
                    " (w, i) -> struct(w AS w1, t[i + 1] AS w2))"
                )
            ).alias("b")
        )
        .select("b.w1", "b.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
    ).localCheckpoint(eager=True)  # consumed by both prune passes
    # ONE unioned collect replaces the former THREE driver actions
    # (c2 top-N, c1 top-N, vocab count): each leg keeps its exact
    # former plan (same total order, same limit, same countDistinct),
    # tagged and stacked so the driver round-trips once.  Rows stay
    # VOCABULARY-bounded: ≤ 2·cap + 1.
    leg_c2 = (
        bi.orderBy(F.desc("c12"), "w1", "w2")
        .limit(_LM_CAP)
        .select(
            F.lit("c2").alias("k"),
            "w1",
            "w2",
            F.col("c12").cast("long").alias("n"),
        )
    )
    leg_c1 = (
        bi.groupBy("w1")
        .agg(F.sum("c12").cast("long").alias("c1"))
        .orderBy(F.desc("c1"), "w1")
        .limit(_LM_CAP)
        .select(
            F.lit("c1").alias("k"),
            "w1",
            F.lit(None).cast("string").alias("w2"),
            F.col("c1").alias("n"),
        )
    )
    leg_v = (
        toks.select(F.explode("t").alias("w"))
        .agg(F.countDistinct("w").cast("long").alias("v"))
        .select(
            F.lit("v").alias("k"),
            F.lit(None).cast("string").alias("w1"),
            F.lit(None).cast("string").alias("w2"),
            F.col("v").alias("n"),
        )
    )
    rows = leg_c2.unionByName(leg_c1).unionByName(leg_v).collect()
    c2 = {f"{r.w1} {r.w2}": r.n for r in rows if r.k == "c2"}
    c1 = {r.w1: r.n for r in rows if r.k == "c1"}
    v = next(r.n for r in rows if r.k == "v")
    return c2, c1, int(v)


_train_bigram_lm.__doc__ = _train_bigram_lm.__doc__.format(cap=_LM_CAP)


@register(
    "stream_lm_admission",
    tags=("streaming", "llm", "language-model", "perplexity", "admission"),
    oracle=f"""
WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
cbi AS (
  SELECT t[i] AS w1, t[i + 1] AS w2, COUNT(*) AS c12
  FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS g(i)
  WHERE doc_id % 2 = 0
  GROUP BY w1, w2
),
c2 AS (
  SELECT w1 || ' ' || w2 AS bg, c12 FROM cbi
  QUALIFY ROW_NUMBER() OVER (ORDER BY c12 DESC, w1, w2) <= {_LM_CAP}
),
c1 AS (
  SELECT w1 AS w, CAST(SUM(c12) AS BIGINT) AS c1 FROM cbi GROUP BY w1
  QUALIFY ROW_NUMBER() OVER (ORDER BY c1 DESC, w) <= {_LM_CAP}
),
v AS (
  SELECT COUNT(DISTINCT w) AS v
  FROM (SELECT unnest(t) AS w FROM toks WHERE doc_id % 2 = 0)
),
abi AS (
  SELECT doc_id, t[i] AS w1, t[i] || ' ' || t[i + 1] AS bg
  FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS g(i)
  WHERE doc_id % 2 = 1
),
scored AS (
  SELECT a.doc_id,
         CAST(ROUND(LN((COALESCE(c2.c12, 0) + 1)::DOUBLE
                       / (COALESCE(c1.c1, 0) + v.v)::DOUBLE)
                    * 1000000, 0) AS BIGINT) AS lpm
  FROM abi a
  LEFT JOIN c2 ON c2.bg = a.bg
  LEFT JOIN c1 ON c1.w = a.w1
  CROSS JOIN v
),
agg AS (
  SELECT doc_id, COUNT(*) AS n_bigrams, CAST(SUM(lpm) AS BIGINT) AS s
  FROM scored GROUP BY doc_id
)
SELECT doc_id, n_bigrams,
       ROUND(EXP(-(s::DOUBLE / 1000000) / n_bigrams), 6) AS ppl,
       ROUND(EXP(-(s::DOUBLE / 1000000) / n_bigrams), 6) <= {_PPL_FLAG}
         AS admitted
FROM agg
ORDER BY doc_id
""",
)
def stream_lm_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the PERPLEXITY-GATED streaming admission pipeline
    (``streaming/admission.lm_score_columns``): even-doc_id documents
    play the existing corpus (the pruned bigram LM is trained on them,
    ``_train_bigram_lm``), odd-doc_id documents play the arriving
    stream, each scored PER-ROW by the map-side LM expression — token
    log-probs quantized to integer micro-units inside the row, so the
    score is order-independent and the oracle (which joins the LM
    tables instead of map-lookups) compares bit-for-bit.  Documents
    with perplexity ≤ {flag} are admitted — the CCNet-style quality
    gate running at ingest rates: completely stateless, no state store,
    no watermark, no join in the hot path (the LM ships to workers as a
    literal / broadcast, exactly like a pruned KenLM artifact).
    Stream ≡ batch asserted in tests/test_streaming_multimodal.py::
    test_stream_lm_admission_equals_batch."""
    from ..streaming.admission import lm_score_columns

    c2, c1, v = _train_bigram_lm(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 2 == 1)
    return lm_score_columns(
        d.select("doc_id", "text"), c2, c1, v, threshold=_PPL_FLAG
    ).orderBy("doc_id")


stream_lm_admission.__doc__ = stream_lm_admission.__doc__.format(flag=_PPL_FLAG)
