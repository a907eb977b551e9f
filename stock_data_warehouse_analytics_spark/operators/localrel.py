"""Literal local relations — small bounded frames without Python-RDD
partitions.

``spark.createDataFrame(list_of_tuples, schema)`` backs the frame with
a pickled Python-RDD partition, so EVERY job that scans it (including
each broadcast build and each re-execution of an uncached plan) pays a
Python-worker round trip — measured at ~0.3 s on an idle box and up to
~5 s per job under load (round-9 bisect: a 60-row coalesce(1).count()
at 5.5 s while a 32-task JVM scan of real data ran in 0.2 s).  A
literal plan over ``spark.range(1)`` stays entirely JVM-side:
broadcasts come straight from the plan, and no Python worker is ever
launched.

Two literal encodings, same plan shape, chosen automatically:

- ``from_json(lit(payload))`` + explode — ONE string literal carries
  the whole table across py4j and Jackson materializes it JVM-side at
  runtime.  Per-cell ``F.lit`` calls are a py4j round trip EACH, so a
  60-centroid × 64-dim table costs ~4k driver→JVM calls and a
   Catalyst tree with ~4k literal nodes (~seconds of analysis); the
  JSON form is one call and one node.  Floats survive exactly
  (``json.dumps`` emits the shortest round-trip decimal; Jackson's
  ``parseDouble`` returns the identical IEEE bits), longs are exact.
- per-cell ``F.lit(...).cast(...)`` structs — the fallback for value
  types JSON can't carry faithfully (dates/timestamps/decimals,
  non-finite floats), kept for the rare caller that needs them.

For BOUNDED frames only: every value is embedded in the query plan, so
callers keep rows at O(100s) — grid/sweep tables, quantile targets,
centroid tables, per-group offset maps.  Data-sized frames keep the
normal read path.

Three small-input rules live here, each on an exact fact rather than a
Catalyst estimate:

- :func:`collect_if_small` sends an operator's input to a driver-side
  body (whose result comes back as a literal relation): at most
  :data:`DRIVER_MAX_ROWS` rows, counted;
- :data:`ONE_PARTITION_MAX_BYTES` puts the raw stock fact in one
  partition (``sources.stock_csv.load_stock_facts``): input files
  totalling at most that many bytes on disk, summed on the driver;
  above it the fact keeps its one scan's file splits, not one partition
  per file (``session.get_spark`` keeps one C2 JIT thread under the
  same cap on the inputs a caller names);
- :data:`QUANTILE_GROUP_MAX_ROWS` sends ``ranking.grouped_exact_quantiles``
  down its zero-cut route (one whole-group sort per group, no sketch
  pass): a largest group of at most that many rows, counted.
"""

from __future__ import annotations

import json
import logging
import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, _parse_datatype_string

# Row cap for the driver small paths (CC union-find, BPE merge loop).
DRIVER_MAX_ROWS = 10_000

# Byte cap for the one-partition stock fact: Spark's default
# spark.sql.files.openCostInBytes.  A file scan splits at
# min(maxPartitionBytes, max(openCostInBytes, bytes / cores)), so up to
# this size Spark itself reads each file in one task; above it one task
# would give up the scan's parallelism.
ONE_PARTITION_MAX_BYTES = 4 << 20

# Largest-group row cap for the zero-cut quantile route.  One task sorts
# each group whole; up to about here that beats the sketch pass plus the
# per-(group, bucket) count pass (PERF.md sweep, 4 cores: zero-cut wins
# at 1e5 rows per group, the bucketed route from 2e5 on a checkpointed
# frame and from 3e5 on a parquet scan).
QUANTILE_GROUP_MAX_ROWS = 1 << 18

_log = logging.getLogger(__name__)


def collect_if_small(df: DataFrame):
    """``df``'s rows when it has at most :data:`DRIVER_MAX_ROWS` of
    them, else None — one ``limit(DRIVER_MAX_ROWS + 1).collect()``.
    Catalyst size estimates are no guide here: a checkpointed join
    keeps its inflated estimate and a ``createDataFrame`` frame reports
    Long.MaxValue bytes, so the rule counts rows.

    ``df`` should be materialized (both callers pass a
    ``localCheckpoint``): ``coalesce(1)`` makes the take ONE job — a
    plain limit over P partitions re-launches on 1, 4, 16, … of them —
    and one task that stops after the cap reads a checkpoint cheaply."""
    rows = df.coalesce(1).limit(DRIVER_MAX_ROWS + 1).collect()
    small = len(rows) <= DRIVER_MAX_ROWS
    _log.debug(
        "collect_if_small: route=%s rows_seen=%d",
        "driver" if small else "distributed",
        len(rows),
    )
    return rows if small else None


def _to_json_value(v, dt):
    """Coerce ``v`` to the JSON value whose ``from_json`` parse equals
    ``F.lit(v).cast(dt)`` — or raise ValueError to trigger the
    per-cell-literal fallback.  Mirrors the cast the legacy path
    applies (int → string field becomes "5", int → double becomes
    5.0), so both encodings produce identical frames."""
    if v is None:
        return None
    name = dt.typeName()
    if name in ("integer", "long", "short", "byte"):
        if isinstance(v, bool) or not isinstance(v, int):
            raise ValueError(v)
        # Range-check against the target type: an out-of-range value
        # would reach from_json in PERMISSIVE mode and silently null
        # the ENTIRE row, where the legacy F.lit path wraps or fails
        # loudly — raising here routes such rows to the legacy path
        # instead (advisor r9, medium).
        bits = {"byte": 8, "short": 16, "integer": 32, "long": 64}[name]
        lo, hi = -(1 << (bits - 1)), (1 << (bits - 1)) - 1
        if not (lo <= v <= hi):
            raise ValueError(v)
        return v
    if name in ("double", "float"):
        if isinstance(v, bool) or not isinstance(v, (int, float)):
            raise ValueError(v)
        f = float(v)
        if not math.isfinite(f):
            raise ValueError(v)
        return f
    if name == "string":
        # Non-str values coerced with Python str() diverge from the
        # legacy F.lit(v).cast('string') (True → 'True' vs 'true',
        # 1e20 → '1e+20' vs '1.0E20') — require str so non-str inputs
        # fall back to the legacy cast path (advisor r9, low).
        if not isinstance(v, str):
            raise ValueError(v)
        return v
    if name == "boolean":
        if not isinstance(v, bool):
            raise ValueError(v)
        return v
    if name == "array":
        if not isinstance(v, (list, tuple)):
            raise ValueError(v)
        return [_to_json_value(x, dt.elementType) for x in v]
    raise ValueError(dt)  # dates/timestamps/decimals → legacy path


def literal_df(spark: SparkSession, rows, schema: str) -> DataFrame:
    """A DataFrame of ``rows`` (tuples/lists matching ``schema``, a DDL
    string like ``"cell int, cvec array<double>"``) built as a pure
    literal plan — the JVM-side replacement for small
    ``createDataFrame`` calls.  Values may be None (cast to the field
    type); empty ``rows`` falls back to an empty ``createDataFrame``
    (no job ever scans it)."""
    st = _parse_datatype_string(f"struct<{schema}>")
    rows = list(rows)
    if not rows:
        return spark.createDataFrame([], schema)
    try:
        recs = [
            {
                f.name: _to_json_value(v, f.dataType)
                for v, f in zip(row, st.fields)
            }
            for row in rows
        ]
    except ValueError:
        recs = None
    if recs is not None:
        payload = json.dumps(recs, ensure_ascii=False)
        return (
            spark.range(1)
            .select(
                F.explode(
                    F.from_json(F.lit(payload), ArrayType(st))
                ).alias("_s")
            )
            .select("_s.*")
        )
    structs = [
        F.struct(
            *[
                F.lit(v).cast(f.dataType).alias(f.name)
                for v, f in zip(row, st.fields)
            ]
        )
        for row in rows
    ]
    return (
        spark.range(1)
        .select(F.explode(F.array(*structs)).alias("_s"))
        .select("_s.*")
    )


def literal_map(d: dict, value_type: str = "bigint"):
    """A CONSTANT map column from a Python dict via ONE ``from_json``
    string literal — replaces ``create_map(*[F.lit(x) ...])`` whose
    per-entry py4j calls and per-entry Catalyst literal nodes dominate
    plan-build time once a model has hundreds of entries (the pruned
    bigram-LM gate ships ~1k entries: ~2k F.lit round trips per plan).
    The optimizer constant-folds ``from_json`` of a literal, so the
    executed expression is the identical map literal.  Keys must be
    strings; values must match ``value_type`` (default bigint)."""
    d = dict(d)
    # Enforce the documented key contract: json.dumps would silently
    # coerce int/float keys to strings — a semantic divergence from
    # the create_map this replaces, and mixed-type dicts could even
    # collide (1 and '1') (advisor r9, low).
    bad = [k for k in d if not isinstance(k, str)]
    if bad:
        raise TypeError(f"literal_map keys must be str, got {bad[:3]!r}")
    payload = json.dumps(d, ensure_ascii=False)
    return F.from_json(F.lit(payload), f"map<string,{value_type}>")


def literal_double_array(values):
    """A CONSTANT array<double> column via ONE ``from_json`` literal —
    the dim-sized analog of :func:`literal_map` for per-iteration
    vector constants (k-center picks, power-iteration states), where a
    per-element ``F.lit`` loop costs dim py4j round trips per
    iteration.  Constant-folded; floats survive exactly."""
    vals = [float(x) for x in values]
    if not all(math.isfinite(v) for v in vals):
        return F.array(*[F.lit(v) for v in vals])
    return F.from_json(F.lit(json.dumps(vals)), "array<double>")
