"""Misc batch 5: CEP sequence detection, sketch-based join-size
estimation, and the equi-depth histogram.

All three oracle-exact: the CEP picks are deterministic (explicit
(ts, event_id) tiebreaks), the count-min sketches are md5-derived (the
estimate replays identically in DuckDB), and the equi-depth buckets
come from the exact bucketed global rank.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.dedup import hash_int60
from ..sources.tables import load_table
from .registry import register

# ------------------------------------------------------------------ cep

_STEP_US = 30 * 60 * 1_000_000  # each consecutive step within 30 min


@register(
    "events_cep_sequence",
    tags=("behavioral", "cep", "sequence", "funnel"),
    oracle=f"""
WITH e AS (
  SELECT event_id, user_id, event_type, epoch_us(ts) AS tu FROM events
),
p AS (SELECT event_id AS pid, user_id, tu AS ptu FROM e WHERE event_type = 'purchase'),
c AS (SELECT event_id AS cid, user_id, tu AS ctu FROM e WHERE event_type = 'click'),
v AS (SELECT event_id AS vid, user_id, tu AS vtu FROM e WHERE event_type = 'view'),
pc AS (
  SELECT pid, user_id, ptu, cid, ctu FROM (
    SELECT p.pid, p.user_id, p.ptu, c.cid, c.ctu,
           ROW_NUMBER() OVER (PARTITION BY p.pid
                              ORDER BY c.ctu DESC, c.cid DESC) AS rn
    FROM p JOIN c ON c.user_id = p.user_id
     AND c.ctu <= p.ptu AND p.ptu - c.ctu <= {_STEP_US}
  ) WHERE rn = 1
),
pcv AS (
  SELECT pid, user_id FROM (
    SELECT pc.pid, pc.user_id,
           ROW_NUMBER() OVER (PARTITION BY pc.pid
                              ORDER BY v.vtu DESC, v.vid DESC) AS rn
    FROM pc JOIN v ON v.user_id = pc.user_id
     AND v.vtu <= pc.ctu AND pc.ctu - v.vtu <= {_STEP_US}
  ) WHERE rn = 1
)
SELECT p.user_id,
       COUNT(*) AS n_purchases,
       COUNT(pc.pid) AS n_with_click,
       COUNT(pcv.pid) AS n_full_chains
FROM p
LEFT JOIN pc USING (pid)
LEFT JOIN pcv ON pcv.pid = p.pid
GROUP BY p.user_id
HAVING COUNT(pcv.pid) > 0
ORDER BY p.user_id
""",
)
def events_cep_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complex-event-processing sequence detection — MATCH_RECOGNIZE
    semantics in relational form: purchases completing the strict
    view → click → purchase chain with EACH consecutive step within 30
    minutes (the latest qualifying predecessor picked per step, with
    explicit (ts, event_id) tiebreaks so both engines pick the same
    row).  Two time-bounded user-keyed joins + row_number picks — the
    candidate fan-out is bounded by per-user activity inside the 30-min
    window, never all-pairs; the same shape a streaming CEP engine
    maintains as keyed state.  Output: per user, purchases vs
    click-attributed vs full-chain counts (users with ≥ 1 chain)."""
    e = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))

    def side(t: str, pre: str) -> DataFrame:
        return e.filter(F.col("event_type") == t).select(
            F.col("event_id").alias(f"{pre}id"),
            "user_id",
            us.alias(f"{pre}tu"),
        )

    p, c, v = side("purchase", "p"), side("click", "c"), side("view", "v")

    def pick_latest(
        probe: DataFrame, build: DataFrame, pts: str, bts: str, bid: str
    ) -> DataFrame:
        w = Window.partitionBy("pid").orderBy(
            F.desc(bts), F.desc(bid)
        )
        return (
            probe.join(build, "user_id")
            .filter(
                (F.col(bts) <= F.col(pts))
                & (F.col(pts) - F.col(bts) <= _STEP_US)
            )
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )

    pc = pick_latest(p, c, "ptu", "ctu", "cid").select(
        "pid", "user_id", "ctu"
    )
    pcv = pick_latest(pc, v, "ctu", "vtu", "vid").select("pid")
    return (
        p.join(pc.select("pid", F.lit(1).alias("has_click")), "pid", "left")
        .join(pcv.select("pid", F.lit(1).alias("has_chain")), "pid", "left")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.count("has_click").alias("n_with_click"),
            F.count("has_chain").alias("n_full_chains"),
        )
        .filter(F.col("n_full_chains") > 0)
        .orderBy("user_id")
    )


# -------------------------------------------------- join-size estimation

_CM_D, _CM_W = 4, 256  # 4 hash rows x 256 cells
_CM_P = (1 << 31) - 1


def _cm_params() -> list[tuple[int, int]]:
    return [(2 * i + 3, 7 * i + 1) for i in range(_CM_D)]


def _sql_cm(side_cte: str, name: str) -> str:
    rows = "\n  UNION ALL\n".join(
        f"  SELECT {i} AS row_i, "
        f"((({a} * (h % {_CM_P}) + {b}) % {_CM_P}) % {_CM_W}) AS col_j, "
        f"cnt FROM {side_cte}"
        for i, (a, b) in enumerate(_cm_params())
    )
    return f"""{name}_cells AS (
  SELECT row_i, col_j, CAST(SUM(cnt) AS BIGINT) AS c FROM (
{rows}
  ) GROUP BY 1, 2
)"""


@register(
    "sketch_join_size_estimate",
    tags=("sketch", "count-min", "join", "cardinality"),
    oracle=f"""
WITH a0 AS (
  SELECT (('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT) AS h,
         COUNT(*) AS cnt
  FROM events WHERE event_type = 'click' GROUP BY user_id
),
b0 AS (
  SELECT (('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT) AS h,
         COUNT(*) AS cnt
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
),
{_sql_cm("a0", "a")},
{_sql_cm("b0", "b")},
dots AS (
  SELECT a_cells.row_i, CAST(SUM(a_cells.c * b_cells.c) AS BIGINT) AS dot
  FROM a_cells JOIN b_cells USING (row_i, col_j)
  GROUP BY 1
),
exact AS (
  SELECT CAST(SUM(a.cnt * b.cnt) AS BIGINT) AS exact_size
  FROM (SELECT user_id, COUNT(*) AS cnt FROM events
        WHERE event_type = 'click' GROUP BY user_id) a
  JOIN (SELECT user_id, COUNT(*) AS cnt FROM events
        WHERE event_type = 'purchase' GROUP BY user_id) b
  USING (user_id)
)
SELECT (SELECT MIN(dot) FROM dots) AS estimate,
       (SELECT exact_size FROM exact) AS exact_size,
       (SELECT MIN(dot) FROM dots)::DOUBLE
         / (SELECT exact_size FROM exact) AS ratio
""",
)
def sketch_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-SIZE estimation from count-min sketches (the AGMS/CM inner-
    product bound): |A ⋈ B| = Σ_k a_k·b_k is upper-estimated by the
    MINIMUM over hash rows of the sketch dot products Σ_j cmA[i][j]·
    cmB[i][j] — computable from two 4×256 summaries without touching
    either table again, which is how an optimizer prices a join it has
    never run.  Query: clicks-per-user ⋈ purchases-per-user (the
    attribution fan-out).  Deterministic md5-derived hashes make the
    estimate itself oracle-exact; the exact join size rides along so
    the report shows the overestimate ratio (always ≥ 1 — CM is an
    upper bound for inner products of non-negative vectors).  At
    100 TB: cells are mergeable (SUM per (row, col)); the dot product
    is a 1024-row join."""
    e = load_table(spark, sf_dir, "events")

    def per_user(t: str) -> DataFrame:
        return (
            e.filter(F.col("event_type") == t)
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .withColumn("h", hash_int60(F.col("user_id").cast("string")))
        )

    a0, b0 = per_user("click"), per_user("purchase")

    def cells(side: DataFrame) -> DataFrame:
        hm = F.col("h") % _CM_P
        rows = [
            F.struct(
                F.lit(i).alias("row_i"),
                (((F.lit(a) * hm + F.lit(b)) % _CM_P) % _CM_W).alias("col_j"),
            )
            for i, (a, b) in enumerate(_cm_params())
        ]
        return (
            side.select(
                "cnt", F.explode(F.array(*rows)).alias("rc")
            )
            .groupBy("rc.row_i", "rc.col_j")
            .agg(F.sum("cnt").cast("long").alias("c"))
        )

    ca, cb = cells(a0), cells(b0)
    dots = (
        ca.alias("a")
        .join(cb.alias("b"), ["row_i", "col_j"])
        .groupBy("row_i")
        .agg(F.sum(F.col("a.c") * F.col("b.c")).cast("long").alias("dot"))
    )
    est = dots.agg(F.min("dot").alias("estimate"))
    exact = (
        a0.select("user_id", F.col("cnt").alias("ca"))
        .join(b0.select("user_id", F.col("cnt").alias("cb")), "user_id")
        .agg(F.sum(F.col("ca") * F.col("cb")).cast("long").alias("exact_size"))
    )
    return est.crossJoin(F.broadcast(exact)).select(
        "estimate",
        "exact_size",
        (
            F.col("estimate").cast("double") / F.col("exact_size").cast("double")
        ).alias("ratio"),
    )


# ------------------------------------------------- equi-depth histogram

_DEPTH_BUCKETS = 8


@register(
    "olap_histogram_equi_depth",
    tags=("olap", "histogram", "quantile", "equi-depth"),
    oracle=f"""
WITH ranked AS (
  SELECT l_extendedprice AS x,
         ROW_NUMBER() OVER (ORDER BY l_extendedprice, l_orderkey, l_linenumber)
           AS r,
         COUNT(*) OVER () AS n
  FROM lineitem
)
SELECT CAST(((r - 1) * {_DEPTH_BUCKETS}) // n AS BIGINT) AS bucket,
       COUNT(*) AS n_rows,
       MIN(x) AS lo,
       MAX(x) AS hi
FROM ranked
GROUP BY 1
ORDER BY 1
""",
)
def olap_histogram_equi_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram (equal row count per bucket, data-dependent
    bin edges) — the optimizer-statistics companion to the equi-width
    histogram: selectivity estimates stay accurate on skewed values
    because every bucket holds the same mass.  Bucket of a row =
    floor((rank−1)·k / n) over the exact global rank — computed by the
    bucketed-rank operator (no single-partition sort), with the full
    (value, orderkey, linenumber) tiebreak so both engines rank
    identically.  Per-bucket count/lo/hi; counts differ by at most one
    row — the equi-depth property, visible in the result.

    r10 (the grouped_exact_quantiles rank-target pruning applied here):
    each equi-depth bucket's count is a pure function of n, and its
    lo/hi are the values at the bucket's FIRST and LAST global rank —
    16 boundary order statistics — so instead of materializing a rank
    for every row and re-aggregating, the per-bucket counts collected
    by the rank operator let the driver prune the window to only the
    range-buckets containing a boundary rank (~2/32 of the rows) and
    read the 16 hits; bucket row counts come from exact integer
    arithmetic on n (measured 3.2 → ~1.7 s steady, identical rows)."""
    from ..operators.localrel import literal_df
    from ..operators.ranking import _bucket_of

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").alias("x"), "l_orderkey", "l_linenumber"
    )
    lead = F.col("x").cast("double")
    n_rb = 32  # range buckets for the pruned rank pass
    qs = [i / n_rb for i in range(1, n_rb)]
    cuts_row = li.select(
        F.approx_percentile(lead, F.array(*[F.lit(q) for q in qs]), 1_000).alias(
            "cuts"
        )
    ).first()
    cuts = sorted(set(cuts_row["cuts"] or []))
    bucketed = li.withColumn("_rb", _bucket_of(lead, cuts))
    counts = {
        r["_rb"]: r["cnt"]
        for r in bucketed.groupBy("_rb")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    n = sum(counts.values())
    # exact integer boundary ranks per equi-depth bucket: rows with
    # floor((r-1)·k/n) == b are exactly r in [ (b·n+k-1)//k + 1,
    # ((b+1)·n-1)//k + 1 ] — empty buckets (n < k) emit nothing, as
    # the original per-row aggregation did
    k = _DEPTH_BUCKETS
    spans = []
    for b in range(k):
        r_lo = (b * n + k - 1) // k + 1
        r_hi = ((b + 1) * n - 1) // k + 1 if (b + 1) * n >= 1 else 0
        if r_hi >= r_lo:
            spans.append((b, r_lo, r_hi))
    targets = sorted({r for _b, lo_r, hi_r in spans for r in (lo_r, hi_r)})
    # which range-buckets hold a target rank (offsets from the counts)
    offsets: dict[int, int] = {}
    acc = 0
    for rb in sorted(counts):
        offsets[rb] = acc
        acc += counts[rb]
    needed = set()
    for t in targets:
        for rb in sorted(counts):
            if offsets[rb] < t <= offsets[rb] + counts[rb]:
                needed.add(rb)
                break
    from pyspark.sql import Window

    pruned = bucketed.filter(F.col("_rb").isin(*sorted(needed)))
    offset_map = F.create_map(
        *[F.lit(v) for kv in offsets.items() for v in kv]
    )
    w = Window.partitionBy("_rb").orderBy("x", "l_orderkey", "l_linenumber")
    hits = (
        pruned.withColumn(
            "_r", offset_map[F.col("_rb")] + F.row_number().over(w)
        )
        .filter(F.col("_r").isin(*targets))
        .select(F.col("_r").cast("long").alias("_r"), "x")
    )
    tgt = literal_df(
        spark,
        [(b, lo_r, hi_r, hi_r - lo_r + 1) for b, lo_r, hi_r in spans],
        "bucket bigint, _lo bigint, _hi bigint, n_rows bigint",
    )
    # no broadcast hint on the hits side (it descends from the fact
    # scan — the registry audit bans hints over scale-growing tables);
    # the tgt side is a local relation of ≤ k rows and auto-broadcasts
    # from its exact size
    return (
        hits.join(tgt, F.col("_lo") == F.col("_r"))
        .select("bucket", "n_rows", F.col("x").alias("lo"), "_hi")
        .join(
            hits.select(F.col("_r").alias("_r2"), F.col("x").alias("hi")),
            F.col("_hi") == F.col("_r2"),
        )
        .select("bucket", "n_rows", "lo", "hi")
        .orderBy("bucket")
    )


# -------------------------------------------- incremental / provenance

from .llm_dedup import _sql_minhash_ctes  # noqa: E402

_NEW_CUT_FRAC_DEN = 5  # last 1/5 of doc_ids = the "new batch"


@register(
    "dedup_incremental_new_batch",
    tags=("llm", "dedup", "incremental", "minhash"),
    oracle=f"""
WITH {_sql_minhash_ctes()},
cut AS (SELECT MAX(doc_id) - (MAX(doc_id) - MIN(doc_id)) // {_NEW_CUT_FRAC_DEN}
          AS cut FROM documents),
newb AS (SELECT doc_id, band, band_hash FROM banded CROSS JOIN cut
         WHERE doc_id > cut),
oldb AS (SELECT doc_id, band, band_hash FROM banded CROSS JOIN cut
         WHERE doc_id <= cut),
vs_corpus AS (
  SELECT DISTINCT n.doc_id FROM newb n JOIN oldb o USING (band, band_hash)
),
within AS (
  SELECT DISTINCT a.doc_id FROM newb a JOIN newb b USING (band, band_hash)
  WHERE a.doc_id <> b.doc_id
),
tagged AS (
  SELECT d.doc_id,
         (v.doc_id IS NOT NULL) AS dup_vs_corpus,
         (w.doc_id IS NOT NULL) AS dup_within_batch
  FROM (SELECT doc_id FROM documents CROSS JOIN cut WHERE doc_id > cut) d
  LEFT JOIN vs_corpus v USING (doc_id)
  LEFT JOIN within w USING (doc_id)
)
SELECT dup_vs_corpus, dup_within_batch, COUNT(*) AS n_docs
FROM tagged
GROUP BY 1, 2
ORDER BY 1, 2
""",
)
def dedup_incremental_new_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL dedup — the shape a production pipeline actually
    runs daily: only the NEW batch (here: the top 1/5 of doc_ids) is
    signatured and checked, (a) against the EXISTING corpus's banded
    MinHash index (new×old band join — at 100 TB the old side is a
    precomputed, bucketed-by-band-hash table, so the join touches only
    colliding buckets and the corpus is never re-deduplicated) and
    (b) within the batch itself (new×new).  Report: new docs by
    (dup-vs-corpus, dup-within-batch).  The full-corpus rerun this
    replaces costs O(corpus) per day; the incremental form costs
    O(batch + collisions)."""
    from ..operators.dedup import banded_signatures
    from .dedup_store import staged_signatures

    d = load_table(spark, sf_dir, "documents")
    cut = d.agg(
        (
            F.max("doc_id")
            - F.floor(
                (F.max("doc_id") - F.min("doc_id")) / _NEW_CUT_FRAC_DEN
            )
        ).alias("cut")
    )
    banded = banded_signatures(
        d, n_hashes=16, bands=4, sig=staged_signatures(spark, sf_dir)
    ).crossJoin(F.broadcast(cut))
    newb = banded.filter(F.col("doc_id") > F.col("cut")).drop("cut")
    oldb = banded.filter(F.col("doc_id") <= F.col("cut")).drop("cut")
    vs_corpus = (
        newb.join(oldb.select("band", "band_hash").distinct(), ["band", "band_hash"])
        .select("doc_id")
        .distinct()
        .withColumn("dup_vs_corpus", F.lit(True))
    )
    a, b = newb.alias("a"), newb.alias("b")
    within = (
        a.join(b, ["band", "band_hash"])
        .filter(F.col("a.doc_id") != F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_id"))
        .distinct()
        .withColumn("dup_within_batch", F.lit(True))
    )
    new_docs = (
        d.select("doc_id").crossJoin(F.broadcast(cut)).filter(
            F.col("doc_id") > F.col("cut")
        )
    )
    return (
        new_docs.join(vs_corpus, "doc_id", "left")
        .join(within, "doc_id", "left")
        .select(
            F.coalesce("dup_vs_corpus", F.lit(False)).alias("dup_vs_corpus"),
            F.coalesce("dup_within_batch", F.lit(False)).alias(
                "dup_within_batch"
            ),
        )
        .groupBy("dup_vs_corpus", "dup_within_batch")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("dup_vs_corpus", "dup_within_batch")
    )


@register(
    "dedup_source_matrix",
    tags=("llm", "dedup", "provenance"),
    oracle=f"""
WITH {_sql_minhash_ctes()},
src AS (SELECT doc_id, source FROM documents)
SELECT LEAST(sa.source, sb.source) AS source_x,
       GREATEST(sa.source, sb.source) AS source_y,
       COUNT(*) AS n_pairs
FROM pairs p
JOIN src sa ON sa.doc_id = p.doc_a
JOIN src sb ON sb.doc_id = p.doc_b
GROUP BY 1, 2
ORDER BY 1, 2
""",
)
def dedup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication PROVENANCE: the near-dup candidate pairs broken down
    by unordered source pair — within-source duplication (mirrored
    crawls) vs cross-source (syndication) demand different fixes, and
    this matrix is the first question asked of any dedup report.  The
    (doc_id, source) lookups are UNHINTED — they are corpus-grain (one
    row per document), so the planner must size them against the pair
    table at runtime (AQE broadcasts the smaller side) rather than a
    hint force-shipping a 100 TB-scale projection; one grouped count
    over the pair table."""
    from .dedup_store import staged_candidates

    d = load_table(spark, sf_dir, "documents")
    pairs = staged_candidates(spark, sf_dir)
    src = d.select("doc_id", "source")
    sa = src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa"))
    sb = src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .groupBy(
            F.least("sa", "sb").alias("source_x"),
            F.greatest("sa", "sb").alias("source_y"),
        )
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("source_x", "source_y")
    )


# ------------------------------------------------------ quality yield

_YIELD_THRESHOLDS = [i / 10 for i in range(10)]  # 0.0 … 0.9


def _sql_yield() -> str:
    from .llm_text2 import _sql_quality

    # e-notation literals force DuckDB's DOUBLE strtod path (a bare
    # decimal literal is DECIMAL-typed — the cookbook's literal trap)
    cols = ",\n  ".join(
        f"CAST(SUM(CASE WHEN q >= {t!r}e0 THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS s{i}"
        for i, t in enumerate(_YIELD_THRESHOLDS)
    )
    rows = "\n  UNION ALL\n".join(
        f"  SELECT {t!r}e0 AS threshold, s{i} AS n_survivors, n FROM wide"
        for i, t in enumerate(_YIELD_THRESHOLDS)
    )
    return f"""
q AS (SELECT ROUND({_sql_quality()}, 6) AS q FROM documents),
wide AS (SELECT {cols}, COUNT(*) AS n FROM q),
long AS (
{rows}
)
SELECT threshold, n_survivors,
       n_survivors::DOUBLE / n AS survival_rate
FROM long
ORDER BY threshold
"""


@register(
    "docs_quality_yield_curve",
    tags=("llm", "text", "quality", "yield"),
    oracle=f"WITH {_sql_yield()}",
)
def docs_quality_yield_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-threshold YIELD CURVE — how much corpus survives each
    candidate quality floor (0.0 … 0.9): the tuning chart behind every
    filter-threshold decision (trade data volume against quality).
    ONE scan: ten conditional sums in a single aggregate, unpivoted to
    rows driver-free; survival rates are exact two-integer divisions.
    Complements docs_quality_gate (which applies ONE chosen floor)."""
    from ..functions.text import quality_score

    d = load_table(spark, sf_dir, "documents")
    q = F.round(quality_score(F.col("text")), 6)
    wide = d.select(q.alias("q")).agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(F.when(F.col("q") >= F.lit(t), 1).otherwise(0))
            .cast("long")
            .alias(f"s{i}")
            for i, t in enumerate(_YIELD_THRESHOLDS)
        ],
    )
    rows = [
        F.struct(
            F.lit(t).alias("threshold"), F.col(f"s{i}").alias("n_survivors")
        )
        for i, t in enumerate(_YIELD_THRESHOLDS)
    ]
    return (
        wide.select("n", F.explode(F.array(*rows)).alias("r"))
        .select(
            "r.threshold",
            "r.n_survivors",
            (F.col("r.n_survivors").cast("double") / F.col("n")).alias(
                "survival_rate"
            ),
        )
        .orderBy("threshold")
    )


# --------------------------------------------------------- benford audit

# log10(1 + 1/d) for d = 1..9, precomputed HERE (Python) so neither
# engine evaluates a transcendental — the expected frequencies enter
# both plans as identical double literals.
_BENFORD = {
    d: round(__import__("math").log10(1 + 1 / d), 10) for d in range(1, 10)
}

# First significant digit without log10: decade selection by literal
# thresholds, then floor of ONE multiply/divide by an EXACT integer
# power of ten.  Never divide by a decimal fraction: 0.1/0.01/0.001
# are not representable as doubles, so e.g. 0.3 / 0.1 = 2.999…→digit 2
# (the round-3 advisor caught 52/1898 sub-1 rows misclassified), while
# 0.3 * 10 rounds to exactly 3.0.  Integer powers of ten up to 10^15
# ARE exact doubles, and a correctly-rounded x*10^k or x/10^k cannot
# cross a digit boundary (boundaries d*10^e are themselves exact for
# the covered range).  Supported magnitude range: [1e-6, 1e12) —
# asserted by the WHERE below; out-of-range rows are excluded (and
# counted nowhere), not silently misbinned.
_BENFORD_LO, _BENFORD_HI = "0.000001e0", "1000000000000"
_DECADES = (  # (threshold SQL literal, scaling SQL expression)
    [(f"1{'0' * e}", f"value / 1{'0' * e}") for e in range(11, 0, -1)]
    + [("1", "value")]
    + [(f"0.{'0' * (e - 1)}1e0", f"value * 1{'0' * e}") for e in range(1, 7)]
)
_SQL_FIRST_DIGIT = "CASE " + " ".join(
    f"WHEN value >= {t} THEN FLOOR({s})" for t, s in _DECADES
) + " END"


@register(
    "dq_benford_audit",
    tags=("warehouse", "dq", "benford", "audit"),
    oracle=f"""
WITH digits AS (
  SELECT CAST({_SQL_FIRST_DIGIT} AS BIGINT) AS digit
  FROM events WHERE value >= {_BENFORD_LO} AND value < {_BENFORD_HI}
),
counts AS (
  SELECT digit, COUNT(*) AS n FROM digits
  WHERE digit BETWEEN 1 AND 9 GROUP BY digit
),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM counts)
SELECT digit, n,
       n::DOUBLE / total AS observed_freq,
       CASE digit {' '.join(f'WHEN {d} THEN {p!r}e0' for d, p in _BENFORD.items())} END
         AS expected_freq,
       (n::DOUBLE / total
        - CASE digit {' '.join(f'WHEN {d} THEN {p!r}e0' for d, p in _BENFORD.items())} END)
       * (n::DOUBLE / total
        - CASE digit {' '.join(f'WHEN {d} THEN {p!r}e0' for d, p in _BENFORD.items())} END)
       / CASE digit {' '.join(f'WHEN {d} THEN {p!r}e0' for d, p in _BENFORD.items())} END
         AS chi2_term
FROM counts CROSS JOIN tot
ORDER BY digit
""",
)
def dq_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit — the classic fabricated-data
    canary for financial/metric columns: observed first-significant-
    digit frequencies against log10(1+1/d), with per-digit χ² terms.
    No engine evaluates a transcendental: the expected frequencies are
    Python-precomputed double literals, and the first digit comes from
    literal decade thresholds + one floor of an EXACT power-of-ten
    multiply/divide (never a divide by a non-representable decimal
    fraction — see _DECADES), the identical operation sequence on both
    engines.  Supported magnitude range [1e-6, 1e12), enforced by the
    same range filter in both plans; out-of-range rows are excluded,
    not misbinned.  One scan, one 9-row aggregate."""
    v = F.col("value")
    e = load_table(spark, sf_dir, "events").filter((v >= 1e-6) & (v < 1e12))
    # identical decade chain as the SQL mirror, generated from _DECADES
    digit = None
    for thr_sql, scale_sql in _DECADES:
        thr = float(thr_sql.replace("e0", ""))
        if scale_sql == "value":
            scaled = v
        elif "/" in scale_sql:
            scaled = v / float(scale_sql.split("/")[1])
        else:
            scaled = v * float(scale_sql.split("*")[1])
        branch = F.floor(scaled)
        digit = (
            F.when(v >= thr, branch)
            if digit is None
            else digit.when(v >= thr, branch)
        )
    digit = digit.cast("long")
    counts = (
        e.select(digit.alias("digit"))
        .filter(F.col("digit").between(1, 9))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = counts.agg(F.sum("n").cast("long").alias("total"))
    expected = F.create_map(
        *[F.lit(x) for d, p in _BENFORD.items() for x in (d, float(p))]
    )[F.col("digit")]
    obs = F.col("n").cast("double") / F.col("total")
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n",
            obs.alias("observed_freq"),
            expected.alias("expected_freq"),
            ((obs - expected) * (obs - expected) / expected).alias("chi2_term"),
        )
        .orderBy("digit")
    )


# ------------------------------------------------------ share of parent

@register(
    "olap_share_of_parent",
    tags=("olap", "rollup", "share", "window"),
    oracle="""
WITH rn AS (
  SELECT r.r_name AS region, n.n_name AS nation,
         SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
             * CAST((1 - l.l_discount) AS DECIMAL(12,6))) AS rev_dec
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey
  GROUP BY 1, 2
),
w AS (
  SELECT region, nation, rev_dec,
         SUM(rev_dec) OVER (PARTITION BY region) AS region_dec,
         SUM(rev_dec) OVER () AS total_dec
  FROM rn
)
SELECT region, nation,
       ROUND(CAST(CAST(rev_dec AS VARCHAR) AS DOUBLE), 2) AS revenue,
       CAST(CAST(rev_dec AS VARCHAR) AS DOUBLE)
         / CAST(CAST(region_dec AS VARCHAR) AS DOUBLE) AS share_of_region,
       CAST(CAST(region_dec AS VARCHAR) AS DOUBLE)
         / CAST(CAST(total_dec AS VARCHAR) AS DOUBLE) AS region_share_of_total
FROM w
ORDER BY region, nation
""",
)
def olap_share_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-parent ratios — the % columns every drill-down report
    carries: nation revenue as a share of its region, and the region as
    a share of the grand total, from ONE grouped aggregate + two window
    sums over the (|nations|-row) aggregate — no rollup self-joins, no
    second scan.  Window sums run over DIMENSION-sized data (the
    aggregate), so the unpartitioned total window is bounded.  Revenue
    goes through the exact-decimal route; shares divide doubles derived
    from identical decimal sums on both engines."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_discount"
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    r = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    rev_dec = F.sum(
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (1 - F.col("l_discount")).cast("decimal(12,6)")
    )
    grouped = (
        li.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(rev_dec.alias("rev_dec"))
    )
    # window sums stay DECIMAL (associative — order of summation across
    # partitions cannot shift the result the way double window sums
    # do); the string-route to double happens only at the divisions
    w_region = Window.partitionBy("region")
    w_all = Window.partitionBy()
    dbl = lambda c: c.cast("string").cast("double")  # noqa: E731
    region_dec = F.sum("rev_dec").over(w_region)
    total_dec = F.sum("rev_dec").over(w_all)
    return grouped.select(
        "region",
        "nation",
        F.round(dbl(F.col("rev_dec")), 2).alias("revenue"),
        (dbl(F.col("rev_dec")) / dbl(region_dec)).alias("share_of_region"),
        (dbl(region_dec) / dbl(total_dec)).alias("region_share_of_total"),
    ).orderBy("region", "nation")
