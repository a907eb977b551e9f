"""ETL parser expressions C1–C4 (SURVEY.md §2.3).

The reference applies row-wise Python functions
(``/root/reference/preprocess_stocks.py:19-83``) — the classic UDF slow
path.  Here every parser is a pure built-in column expression, so the
whole ETL stays inside whole-stage codegen: no Python boundary, no
Arrow transfer, vectorized end-to-end.  This is the single biggest
idiomatic win over the reference design (SURVEY.md §2.3 note).

Semantics reproduced exactly, including the quirky ones:
- sentinel strings ``"" "-" "—" "nan"`` → null (case-sensitive, after
  trim; preprocess_stocks.py:27,52,64),
- volume suffix K/M/B with **truncation toward zero** after the double
  multiply (Python ``int(num * 1_000)``; preprocess_stocks.py:35-41),
- thousands-commas and inner spaces stripped before numeric cast,
- date parse dayfirst (dd/MM/yyyy primary; preprocess_stocks.py:72-83).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = ["parse_number", "parse_percent", "parse_volume", "parse_date"]

_SENTINELS = ["", "-", "—", "nan"]


def _cleaned_str(col: Column, extra_strip: str = "") -> Column:
    """trim → null-out sentinels → strip commas/spaces (+extra chars)."""
    s = F.trim(col.cast("string"))
    s = F.when(s.isin(_SENTINELS), None).otherwise(s)
    return F.regexp_replace(s, f"[, {extra_strip}]", "")


def parse_number(col: Column) -> Column:
    """C3 — ``parse_number`` (preprocess_stocks.py:60-69): strip ','
    and ' ', sentinels→null, else double (unparseable → null)."""
    return _cleaned_str(col).try_cast("double")


def parse_percent(col: Column) -> Column:
    """C2 — ``parse_percent`` (preprocess_stocks.py:48-57): also strips
    '%'. NOTE the reference strips '%' and ',' *before* the sentinel
    check; sentinels contain no '%', so order is immaterial."""
    return _cleaned_str(col, extra_strip="%").try_cast("double")


def parse_volume(col: Column) -> Column:
    """C1 — ``parse_volume`` (preprocess_stocks.py:19-45):
    ``"903.30K" → 903300``, ``"1.76M" → 1760000``, B → 1e9; strict
    regex ``^(-?[\\d.]+)([KkMmBb]?)$``; int() truncation toward zero
    after the double multiply (cast long matches Python int())."""
    s = _cleaned_str(col)
    num_str = F.regexp_extract(s, r"^(-?[\d\.]+)([KkMmBb]?)$", 1)
    suffix = F.regexp_extract(s, r"^(-?[\d\.]+)([KkMmBb]?)$", 2)
    num = num_str.try_cast("double")
    # both cases listed, no case mapping: Spark maps case through ICU,
    # whose first use in a JVM costs seconds of CPU (PERF.md)
    mult = (
        F.when(suffix.isin("K", "k"), F.lit(1_000.0))
        .when(suffix.isin("M", "m"), F.lit(1_000_000.0))
        .when(suffix.isin("B", "b"), F.lit(1_000_000_000.0))
        .otherwise(F.lit(1.0))
    )
    matched = num_str != ""
    # regex miss → reference falls back to int(float(s)) (line 43)
    fallback = s.try_cast("double").try_cast("long")
    return F.when(matched, (num * mult).cast("long")).otherwise(fallback)


def parse_date(col: Column) -> Column:
    """C4 — ``parse_date`` (preprocess_stocks.py:72-83): dayfirst
    multi-format chain.  Data is uniformly dd/MM/yyyy
    (stock_data/HVN.csv:2); the coalesce covers d/M/yyyy and ISO
    fallbacks like dateutil would."""
    s = F.trim(col.cast("string"))
    return F.coalesce(
        F.try_to_timestamp(s, F.lit("dd/MM/yyyy")).cast("date"),
        F.try_to_timestamp(s, F.lit("d/M/yyyy")).cast("date"),
        F.try_to_timestamp(s, F.lit("yyyy-MM-dd")).cast("date"),
        F.try_to_timestamp(s, F.lit("dd-MM-yyyy")).cast("date"),
    )
