"""Warehouse-ops batch 3: rule-based consistency audit, period-over-
period growth, user lifecycle stages, and multimodal shard manifests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import session_memo
from ..sources.tables import load_table
from .exact import dsum, sql_dsum
from .registry import register


@register(
    "dq_consistency_rules",
    tags=("warehouse", "dq", "rules"),
    oracle="""
WITH joined AS (
  SELECT l.l_quantity, l.l_discount, l.l_tax, l.l_extendedprice,
         l.l_shipdate, o.o_orderdate
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
),
counted AS (
  SELECT COUNT(*) AS n_checked,
    CAST(SUM(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT)
      AS qty_nonpositive,
    CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 ELSE 0 END) AS BIGINT)
      AS discount_out_of_range,
    CAST(SUM(CASE WHEN l_tax < 0 OR l_tax > 0.08 THEN 1 ELSE 0 END) AS BIGINT)
      AS tax_out_of_range,
    CAST(SUM(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
      AS price_nonpositive,
    CAST(SUM(CASE WHEN l_shipdate < o_orderdate THEN 1 ELSE 0 END) AS BIGINT)
      AS shipped_before_ordered
  FROM joined
)
SELECT r.rule, r.n_violations, counted.n_checked
FROM counted
CROSS JOIN LATERAL (VALUES
  ('qty_nonpositive', qty_nonpositive),
  ('discount_out_of_range', discount_out_of_range),
  ('tax_out_of_range', tax_out_of_range),
  ('price_nonpositive', price_nonpositive),
  ('shipped_before_ordered', shipped_before_ordered)
) AS r(rule, n_violations)
ORDER BY r.rule
""",
)
def dq_consistency_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Business-rule consistency audit — five cross-column rules
    (non-positive quantities/prices, out-of-range discount/tax,
    shipped-before-ordered) counted in ONE pass over the joined fact:
    every rule is a conditional sum inside the same aggregate, so
    adding a rule costs an expression, not a scan.  The lineitem-orders
    join is the only shuffle (fact-to-fact equi-join on the order key);
    the 5-row long-form report unpivots from the one counted row."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    j = li.join(o, li.l_orderkey == o.o_orderkey)
    rules = {
        "qty_nonpositive": F.col("l_quantity") <= 0,
        "discount_out_of_range": (F.col("l_discount") < 0)
        | (F.col("l_discount") > 0.1),
        "tax_out_of_range": (F.col("l_tax") < 0) | (F.col("l_tax") > 0.08),
        "price_nonpositive": F.col("l_extendedprice") <= 0,
        "shipped_before_ordered": F.col("l_shipdate") < F.col("o_orderdate"),
    }
    counted = j.agg(
        F.count(F.lit(1)).alias("n_checked"),
        *[
            F.sum(F.when(cond, 1).otherwise(0)).alias(name)
            for name, cond in rules.items()
        ],
    )
    stacked = counted.select(
        F.explode(
            F.create_map(
                *[x for name in rules for x in (F.lit(name), F.col(name))]
            )
        ).alias("rule", "n_violations"),
        "n_checked",
    )
    return stacked.select("rule", "n_violations", "n_checked").orderBy("rule")


@register(
    "olap_period_over_period",
    tags=("warehouse", "olap", "growth", "window"),
    oracle=f"""
WITH monthly AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
         {sql_dsum('o_totalprice')} AS revenue
  FROM orders GROUP BY 1
)
SELECT month, revenue,
  (revenue - LAG(revenue, 1) OVER (ORDER BY month))
    / LAG(revenue, 1) OVER (ORDER BY month) AS mom_pct,
  (revenue - LAG(revenue, 12) OVER (ORDER BY month))
    / LAG(revenue, 12) OVER (ORDER BY month) AS yoy_pct
FROM monthly
ORDER BY month
""",
)
def olap_period_over_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month and year-over-year revenue growth — the
    generalization of the reference's yearly-growth unstack
    (olap_analysis.py:46-48) to the standard finance pair.  Monthly
    rollup first (one shuffle over facts), then lag-1/lag-12 over the
    MONTH table — bounded by the calendar span, so the unpartitioned
    window is a few-dozen-row final stage at any data size."""
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_trunc("month", "o_orderdate").cast("date").alias("month")
    ).agg(
        dsum("o_totalprice").alias("revenue")
    )
    w = Window.orderBy("month")
    mom_prev = F.lag("revenue", 1).over(w)
    yoy_prev = F.lag("revenue", 12).over(w)
    return monthly.select(
        "month",
        "revenue",
        ((F.col("revenue") - mom_prev) / mom_prev).alias("mom_pct"),
        ((F.col("revenue") - yoy_prev) / yoy_prev).alias("yoy_pct"),
    ).orderBy("month")


_NEW_DAYS, _CHURN_DAYS = 7, 14


@register(
    "events_user_lifecycle",
    tags=("behavioral", "lifecycle", "agg"),
    oracle=f"""
WITH mx AS (SELECT MAX(ts) AS max_ts FROM events),
users AS (
  SELECT user_id, MIN(ts) AS first_ts, MAX(ts) AS last_ts,
         COUNT(*) AS n_events,
         COUNT(DISTINCT CAST(ts AS DATE)) AS n_active_days
  FROM events GROUP BY user_id
),
staged AS (
  SELECT CASE
           WHEN date_diff('day', first_ts, (SELECT max_ts FROM mx)) < {_NEW_DAYS}
             THEN 'new'
           WHEN date_diff('day', last_ts, (SELECT max_ts FROM mx)) > {_CHURN_DAYS}
             THEN 'churned'
           ELSE 'active'
         END AS stage,
         n_events, n_active_days
  FROM users
)
SELECT stage,
       COUNT(*) AS n_users,
       CAST(SUM(n_events) AS BIGINT) AS total_events,
       CAST(SUM(n_active_days) AS BIGINT) AS total_active_days
FROM staged
GROUP BY stage
ORDER BY stage
""",
)
def events_user_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User lifecycle staging — new (< {_NEW_DAYS}d tenure), churned
    (> {_CHURN_DAYS}d silent), else active — relative to the corpus
    watermark, with per-stage event and active-day mass.  All
    comparisons are integer day arithmetic against one broadcast
    watermark row; two shuffles (user rollup, 3-row stage rollup)."""
    e = load_table(spark, sf_dir, "events")
    mx = e.agg(F.max("ts").alias("max_ts"))
    users = (
        e.crossJoin(F.broadcast(mx))
        .groupBy("user_id")
        .agg(
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct(F.col("ts").cast("date")).alias("n_active_days"),
            F.max("max_ts").alias("max_ts"),
        )
    )
    stage = (
        F.when(F.datediff(F.col("max_ts"), F.col("first_ts")) < _NEW_DAYS, "new")
        .when(F.datediff(F.col("max_ts"), F.col("last_ts")) > _CHURN_DAYS, "churned")
        .otherwise("active")
    )
    return (
        users.select(
            stage.alias("stage"), "n_events", "n_active_days"
        )
        .groupBy("stage")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("n_events").alias("total_events"),
            F.sum("n_active_days").alias("total_active_days"),
        )
        .orderBy("stage")
    )


_SHARD_BYTES = 16 * 1024


@register(
    "multimodal_shard_manifest",
    tags=("llm", "multimodal", "packing", "manifest"),
    oracle=f"""
WITH blobs AS (
  SELECT doc_id, source, octet_length(encode(text)) AS n_bytes
  FROM documents
),
packed AS (
  SELECT source, doc_id, n_bytes,
    CAST(FLOOR((CAST(SUM(n_bytes) OVER (PARTITION BY source ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                - n_bytes) / {_SHARD_BYTES}) AS BIGINT) AS shard
  FROM blobs
)
SELECT source, shard,
       COUNT(*) AS n_blobs,
       CAST(SUM(n_bytes) AS BIGINT) AS shard_bytes,
       MIN(doc_id) AS first_doc,
       MAX(doc_id) AS last_doc
FROM packed
GROUP BY source, shard
ORDER BY source, shard
""",
)
def multimodal_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Export shard manifest: blobs packed into ~{_SHARD_BYTES}-byte
    shards per source by running byte total (shard = cumulative-bytes-
    before ÷ target), the step that turns a blob table into bounded
    training-archive files.  One window pass per source — the same
    stance as pack_training_sequences; at extreme per-source volume
    you'd range-partition by (source, doc_id) and offset per range
    (two-pass), noted here rather than built because the window form
    is the right default."""
    from ..operators.multimodal import attach_blob

    d = load_table(spark, sf_dir, "documents")
    blobs = attach_blob(d).select(
        "doc_id", F.col("meta.source").alias("source"), F.col("meta.n_bytes").alias("n_bytes")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    packed = blobs.select(
        "source",
        "doc_id",
        "n_bytes",
        F.floor((F.sum("n_bytes").over(w) - F.col("n_bytes")) / _SHARD_BYTES)
        .cast("long")
        .alias("shard"),
    )
    return (
        packed.groupBy("source", "shard")
        .agg(
            F.count(F.lit(1)).alias("n_blobs"),
            F.sum("n_bytes").alias("shard_bytes"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("source", "shard")
    )


@register(
    "multimodal_audio_wav_stats",
    tags=("llm", "multimodal", "audio", "wav"),
    oracle=None,  # binary codec round-trip — not SQL-expressible; the
    # decode is verified analytically (sine RMS = peak/√2, duration =
    # n/sr) in tests/test_streaming_multimodal.py::
    # test_wav_synth_decode_roundtrip
)
def multimodal_audio_wav_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio-codec plumbing: every document synthesized into a
    genuine RIFF/WAVE PCM16 container (deterministic doc_id-derived
    tone), then decoded back by the pure-numpy WAV parser — per-source
    audio stats (clips, total duration, mean RMS, decode failures).
    The audio twin of the PPM/BMP image decode: the container walk,
    Arrow batch shape and quarantine-don't-crash error handling are
    production-real; only exotic codecs (mp3/ogg) remain stubbed.
    Rows-only; the codec round-trip is verified analytically in
    tests/test_streaming_multimodal.py::test_wav_synth_decode_roundtrip."""
    from ..operators.multimodal import decode_wav, synth_wav_blobs

    d = load_table(spark, sf_dir, "documents")
    wav = synth_wav_blobs(d)
    stats = decode_wav(wav)
    src = d.select("doc_id", "source")
    return (
        stats.join(src, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_clips"),
            F.count(F.when(~F.col("ok"), 1)).alias("n_failed"),
            F.round(F.sum("duration_ms") / 1000.0, 3).alias("total_sec"),
            F.round(F.avg("rms"), 3).alias("mean_rms"),
            F.max("peak").alias("max_peak"),
        )
        .orderBy("source")
    )


@register(
    "multimodal_audio_spectrum",
    tags=("llm", "multimodal", "audio", "fft"),
    oracle=None,  # FFT feature extraction — not SQL-expressible; the
    # closed loop (dominant frequency == synthesized tone within one
    # FFT bin) is pinned by tests/test_streaming_multimodal.py::
    # test_wav_spectral_features_recover_tone
)
def multimodal_audio_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio FEATURE EXTRACTION: per-clip rFFT over the synthesized
    WAV corpus → per-source spectral report (mean dominant frequency,
    mean dominant-bin energy share, mean spectral centroid).  The
    feature stage that follows ``multimodal_audio_wav_stats``'s decode;
    the synth→decode→FFT loop is closed analytically in tests (the
    dominant bin recovers the generated tone)."""
    from ..operators.multimodal import synth_wav_blobs, wav_spectral_features

    d = load_table(spark, sf_dir, "documents")
    feats = wav_spectral_features(synth_wav_blobs(d))
    src = d.select("doc_id", "source")
    return (
        feats.join(src, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_clips"),
            F.round(F.avg("dominant_hz"), 3).alias("mean_dominant_hz"),
            F.round(F.avg("dominant_share"), 6).alias("mean_dominant_share"),
            F.round(F.avg("spectral_centroid_hz"), 3).alias(
                "mean_centroid_hz"
            ),
        )
        .orderBy("source")
    )


@register(
    "multimodal_image_jpeg_meta",
    tags=("llm", "multimodal", "image", "jpeg", "metadata", "dq"),
    oracle="""
WITH meta AS (
  SELECT source,
         (doc_id % 13 = 0) AS corrupt,
         (doc_id % 3 = 0)  AS progressive,
         (doc_id % 5 = 0)  AS gray,
         160 + 16 * (doc_id % 11) AS w,
         120 + 8 * (doc_id % 7)   AS h,
         72 + 24 * (doc_id % 4)   AS xden,
         72 + 24 * (doc_id % 5)   AS yden
  FROM documents
)
SELECT source,
  COUNT(*) AS n_images,
  CAST(SUM(CASE WHEN corrupt THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt,
  CAST(SUM(CASE WHEN NOT corrupt AND progressive THEN 1 ELSE 0 END) AS BIGINT)
    AS n_progressive,
  CAST(SUM(CASE WHEN NOT corrupt AND gray THEN 1 ELSE 0 END) AS BIGINT)
    AS n_grayscale,
  CAST(SUM(CASE WHEN corrupt THEN 0 ELSE w END) AS BIGINT) AS sum_width,
  CAST(SUM(CASE WHEN corrupt THEN 0 ELSE h END) AS BIGINT) AS sum_height,
  CAST(SUM(CASE WHEN corrupt THEN 0 ELSE w * h END) AS BIGINT)
    AS sum_declared_pixels,
  CAST(SUM(CASE WHEN corrupt THEN 0 ELSE xden END) AS BIGINT) AS sum_x_density,
  CAST(SUM(CASE WHEN corrupt THEN 0 ELSE yden END) AS BIGINT) AS sum_y_density
FROM meta
GROUP BY source
ORDER BY source
""",
)
def multimodal_image_jpeg_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JPEG header/metadata extraction WITHOUT a codec — the
    metadata+quarantine pass a 100 TB multimodal pipeline runs before
    deciding what to decode: every document synthesized into a real
    JPEG marker-segment stream (JFIF APP0 + COM + DQT + SOF0/SOF2;
    doc_id%13 corrupted by truncation), walked segment-by-segment by
    ``parse_jpeg_meta`` (pure struct/bytes, Arrow-batched mapInPandas
    at full fan-out), rolled up per source.  ORACLE-EXACT — unlike the
    pixel codecs, every parsed field (dimensions, components,
    progressive flag, JFIF density) is integer arithmetic on doc_id,
    so DuckDB recomputes the rollup analytically while Spark GENUINELY
    parses the bytes; corrupt headers contribute quarantine counts
    only.  Full-JPEG pixel decode stays the documented honest stub
    (operators/multimodal.py decode_image_stub)."""
    from ..operators.multimodal import parse_jpeg_meta, synth_jpeg_header_blobs

    d = load_table(spark, sf_dir, "documents")
    meta = parse_jpeg_meta(
        synth_jpeg_header_blobs(d.repartition(32, "doc_id"))
    )
    src = d.select("doc_id", "source")
    z = F.lit(0)
    okc = lambda c: F.when(F.col("ok"), c).otherwise(z)  # noqa: E731
    return (
        meta.join(src, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            F.sum(F.when(~F.col("ok"), 1).otherwise(0)).alias("n_corrupt"),
            F.sum(
                F.when(F.col("ok") & F.col("progressive"), 1).otherwise(0)
            ).alias("n_progressive"),
            F.sum(
                F.when(F.col("ok") & (F.col("n_components") == 1), 1).otherwise(0)
            ).alias("n_grayscale"),
            F.sum(okc(F.col("width"))).cast("long").alias("sum_width"),
            F.sum(okc(F.col("height"))).cast("long").alias("sum_height"),
            F.sum(okc(F.col("width").cast("long") * F.col("height")))
            .cast("long")
            .alias("sum_declared_pixels"),
            F.sum(okc(F.col("x_density"))).cast("long").alias("sum_x_density"),
            F.sum(okc(F.col("y_density"))).cast("long").alias("sum_y_density"),
        )
        .orderBy("source")
    )


@register(
    "stream_multimodal_meta_gate",
    tags=("streaming", "llm", "multimodal", "jpeg", "admission", "dq"),
    oracle="""
WITH arriving AS (
  SELECT doc_id,
         (doc_id % 13 = 0) AS corrupt,
         (doc_id % 3 = 0)  AS progressive,
         (doc_id % 5 = 0)  AS gray,
         160 + 16 * (doc_id % 11) AS w,
         120 + 8 * (doc_id % 7)   AS h
  FROM documents WHERE doc_id % 2 = 1
)
SELECT doc_id,
  NOT corrupt AS ok,
  CASE WHEN corrupt THEN NULL ELSE w END AS width,
  CASE WHEN corrupt THEN NULL ELSE h END AS height,
  CASE WHEN corrupt THEN NULL WHEN gray THEN 1 ELSE 3 END AS n_components,
  CASE WHEN corrupt THEN NULL ELSE progressive END AS progressive,
  (NOT corrupt AND NOT gray AND NOT progressive AND w * h >= 24000)
    AS admitted,
  CASE WHEN corrupt THEN 'corrupt'
       WHEN gray THEN 'grayscale'
       WHEN progressive THEN 'progressive'
       WHEN w * h < 24000 THEN 'too_small' END AS reason
FROM arriving
ORDER BY doc_id
""",
)
def stream_multimodal_meta_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the MULTIMODAL metadata admission gate
    (``streaming/admission.jpeg_meta_gate_columns``) — the sixth
    streaming admission gate, covering the multimodal×streaming
    intersection: odd-doc_id documents play the arriving stream, each
    synthesized into a JPEG header byte stream and GENUINELY parsed
    (marker-segment walk) before the row-local ingest rule fires —
    quarantine corrupt, reject grayscale/progressive/under-resolution.
    ORACLE-EXACT (parsed fields are doc_id arithmetic while Spark
    parses real bytes, like ``multimodal_image_jpeg_meta``); stream ≡
    batch pinned by tests/test_streaming_multimodal.py::
    test_stream_jpeg_meta_gate_equals_batch."""
    from ..streaming.admission import jpeg_meta_gate_columns

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 2 == 1)
    return jpeg_meta_gate_columns(d.select("doc_id")).orderBy("doc_id")


# Session-scoped decoded-image store: synth + PNG decode + perceptual
# hash run ONCE per (session, sf_dir) and every image query reads the
# resulting narrow table (one row per image: stats + 64-bit ahash).
# The codec is the dominant multimodal cost (~ms/image of Python
# filter reversal); a real pipeline decodes a corpus once and indexes
# many times, so the queries should too.  localCheckpoint also cuts
# the self-join lineage (the banded candidate join would otherwise
# re-run the codec on both sides).  Cached by ``session_memo``
# (staleness contract there).


def _png_decoded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One decoded-image table per (session, sf_dir): near-duplicate
    family PNGs (``synth_png_group_blobs``, the planted-recall corpus)
    through the combined stats+ahash decode kernel
    (``decode_png_with_ahash``) — repartitioned wide for the codec,
    narrowed to 8 partitions for the downstream joins (round-5
    task-overhead gotcha), eagerly localCheckpointed."""
    from ..operators.multimodal import (
        decode_png_with_ahash,
        synth_png_group_blobs,
    )

    def build() -> DataFrame:
        d = load_table(spark, sf_dir, "documents")
        # the sf0.1 documents scan is ONE parquet split — repartition
        # so the per-image codec work fans out across cores; at scale
        # the corpus already arrives multi-split
        blobs = synth_png_group_blobs(d.repartition(32, "doc_id"), group=4)
        return (
            decode_png_with_ahash(blobs)
            .repartition(8)
            .localCheckpoint(eager=True)
        )

    return session_memo(spark, ("warehouse_ops3.png", sf_dir), build)


@register(
    "multimodal_image_png_stats",
    tags=("llm", "multimodal", "image", "png", "codec"),
    oracle=None,  # zlib-compressed binary codec round-trip — not
    # SQL-expressible; the decode is verified analytically (pixel sums
    # recomputed from the generation rule, all five PNG filters
    # exercised, corrupt payload quarantines) in
    # tests/test_streaming_multimodal.py::test_png_synth_decode_roundtrip
)
def multimodal_image_png_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL COMPRESSED-image codec plumbing: every document synthesized
    into a genuine zlib-compressed 8-bit truecolor PNG whose scanline
    filters cycle through all five spec types (None/Sub/Up/Average/
    Paeth), then decoded back by the pure-stdlib-zlib + numpy parser
    with per-chunk CRC verification — per-source image stats (count,
    decode failures, total pixels, mean channel sums).  This upgrades
    the compressed-format story: PNG now decodes for REAL (it is the
    format the chart sink writes); only formats needing external
    codecs (JPEG/mp3/video) keep the strict stub.  Reads the session-
    staged decoded-image table (`_png_decoded`): one codec pass per
    (session, sf_dir) feeds both this rollup and the phash dedup —
    the deployment shape (decode once, index many).  Rows-only; the
    codec loop is closed analytically in tests/
    test_streaming_multimodal.py::test_png_synth_decode_roundtrip."""
    d = load_table(spark, sf_dir, "documents")
    stats = _png_decoded(spark, sf_dir)
    src = d.select("doc_id", "source")
    return (
        stats.join(src, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            F.count(F.when(~F.col("ok"), 1)).alias("n_failed"),
            F.sum("n_pixels").cast("long").alias("total_pixels"),
            F.round(F.avg("sum_r"), 2).alias("mean_sum_r"),
            F.round(F.avg("sum_g"), 2).alias("mean_sum_g"),
            F.round(F.avg("sum_b"), 2).alias("mean_sum_b"),
        )
        .orderBy("source")
    )


@register(
    "multimodal_image_phash_dedup",
    tags=("llm", "multimodal", "image", "dedup", "phash", "ann"),
    oracle=None,  # PNG decode + perceptual hashing — not SQL-
    # expressible; planted near-dup families are verified exactly
    # (within-family pairs found at their analytic hamming, zero
    # cross-family pairs) in tests/test_streaming_multimodal.py::
    # test_image_phash_planted_neardups
)
def multimodal_image_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMAGE near-duplicate detection — the multimodal face of the
    dedup family: every document synthesized into a real PNG (families
    of ``doc_id // 4`` share a block pattern, members differ by exactly
    ``doc_id % 4`` flipped blocks — ``synth_png_group_blobs``), decoded
    and reduced to a 64-bit AVERAGE perceptual hash (grayscale → 8×8
    block means → above-mean bits, ``image_ahash``), then paired by the
    SAME banded-hamming candidate join as SimHash text dedup (4×16-bit
    bands, pigeonhole-complete to hamming 3, exact bit_count verify
    ≤ 8).  Scale: codec + hash are Arrow-batched mapInPandas fanned out
    by repartition (single-split local scan gotcha); the join is
    bucket-local per band — never all-pairs.  Reads the session-staged
    decoded table (`_png_decoded`, already localCheckpointed — so the
    self-join never re-runs the codec and the pass is shared with the
    stats rollup).  Rows-only; the planted families make recall
    ANALYTIC, pinned by tests/test_streaming_multimodal.py::
    test_image_phash_planted_neardups."""
    from ..operators.multimodal import ahash_near_pairs

    hashes = _png_decoded(spark, sf_dir).select("doc_id", "ok", "ahash")
    return ahash_near_pairs(hashes, max_hamming=8, bands=4).orderBy(
        "doc_a", "doc_b"
    )
