"""Literal local relations — small bounded frames whose plan is a
``LocalRelation``.

:func:`literal_df` builds one Arrow table from the rows, typed by the
DDL schema, and hands it to ``spark.createDataFrame``: the rows travel
to the JVM as Arrow record batches and the plan is a ``LocalRelation``, so
collecting the frame starts no job and a join broadcasts it from its
exact size.  ``spark.createDataFrame(list_of_tuples, schema)`` is no
substitute: on pyspark 4.1.2 its plan is a ``LogicalRDD`` over pickled
Python rows, and every job that scans it (each collect, each broadcast
build) runs a Python-worker task.

For BOUNDED frames only: the rows are held in the driver and in the
plan, so callers keep them at O(100s) — grid/sweep tables, quantile
targets, centroid tables, per-group offset maps.  Data-sized frames
keep the normal read path.

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
from datetime import timezone

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import TimestampType, _parse_datatype_string

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


def literal_df(spark: SparkSession, rows, schema: str) -> DataFrame:
    """A DataFrame of ``rows`` (tuples/lists matching ``schema``, a DDL
    string like ``"cell int, cvec array<double>"``) as a local relation:
    one Arrow table typed by the schema.  Values may be None; a value
    Arrow cannot hold in its field's type (an int out of range, a
    non-str in a string field) raises.  A naive ``datetime`` in a
    ``timestamp`` field means process-local time, as in ``collect()``."""
    struct = _parse_datatype_string(f"struct<{schema}>")
    arrow = to_arrow_schema(struct)
    rows = list(rows)
    arrays = []
    for i, (f, t) in enumerate(zip(struct.fields, arrow.types)):
        col = [row[i] for row in rows]
        if isinstance(f.dataType, TimestampType):  # Arrow reads naive as UTC
            col = [None if v is None else v.astimezone(timezone.utc) for v in col]
        arrays.append(pa.array(col, t))
    return spark.createDataFrame(pa.Table.from_arrays(arrays, schema=arrow), struct)


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
