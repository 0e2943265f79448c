"""Scalar column functions — Spark-native equivalents of the reference's
row-at-a-time Python scalar code (SURVEY.md §2.3, F1-F10).

All are built-in ``pyspark.sql.functions`` compositions: they stay inside
whole-stage codegen (no Python in the hot path), so they cost the same as
hand-written SQL expressions at any scale.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

ISO_UTC_FMT = "yyyy-MM-dd'T'HH:mm:ss'Z'"


def with_default(col: Column, default: str) -> Column:
    """F1 — enum name with fallback default.

    Reference: ``status.name if hasattr(status, "value") else "NotReported"``
    (lib/producer-from-ais-api.py:41-45,79-83).
    """
    return F.coalesce(col, F.lit(default))


def iso_utc(ts: Column) -> Column:
    """F4 — epoch/timestamp → ISO-8601 UTC string with trailing Z.

    Reference: ``datetime.utcfromtimestamp(e).isoformat() + "Z"``
    (lib/utils.py:114-115). Sub-second precision is truncated, matching the
    reference's second-resolution epochs.
    """
    return F.date_format(ts, ISO_UTC_FMT)


def hemisphere(coord: Column, positive: str, negative: str) -> Column:
    """F7 — conditional hemisphere label (lib/console.py:89-90)."""
    return F.when(coord > 0, F.lit(positive)).otherwise(F.lit(negative))


def prefix_map(col: Column, mapping: dict[str, str], default: str) -> Column:
    """F9 — first-matching-prefix categorical lookup (lib/console.py:62-98).

    The reference iterates an ordered dict and takes the first key such that
    ``value.startswith(key)``; this builds the equivalent ordered
    ``when`` chain (codegen'd, no UDF).
    """
    expr = None
    for prefix, value in mapping.items():
        cond = col.startswith(prefix)
        expr = F.when(cond, F.lit(value)) if expr is None else expr.when(cond, F.lit(value))
    if expr is None:
        return F.lit(default)
    return expr.otherwise(F.lit(default))


def json_string(col: Column, path: str) -> Column:
    """F6 — JSON field extraction (json.loads + nested access,
    lib/consumer-and-producer-enrich-position-with-weather.py:39-57)."""
    return F.get_json_object(col, path)


def cents(col: Column, decimals: int = 2) -> Column:
    """Exact fixed-point representation of a k-decimal measure.

    Both Spark and the DuckDB oracle sum these as integers (associative,
    order-independent) and divide once at the end, so cross-engine
    aggregate doubles are bit-identical regardless of partial-aggregation
    order. Used by every money/measure aggregate in plans/.
    """
    return F.round(col * F.lit(10**decimals), 0).cast("long")
