"""Polymorphic timestamp parsing (reference F4) as pure column ops.

Reproduces ``parse_time`` (/root/reference/SMParser/smparserbase.py:193-211):
- None → fallback
- int, or numeric string → epoch seconds
- otherwise: strip a ``+...`` timezone suffix, parse as datetime
- any parse failure → fallback

Two deliberate divergences (documented in SURVEY.md §7 "hard parts"):
1. the reference falls back to wall-clock ``datetime.today()`` — never
   deterministic; we fall back to a fixed sentinel and expose a
   ``*_fallback`` flag column so downstream can audit the rows.
2. time-of-day formatting is ``date_format(ts, 'h:mm a')`` on every OS
   (the reference branches on Windows, smparserbase.py:63-70).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..config import UNPARSEABLE_TS_SENTINEL

SENTINEL_LIT = UNPARSEABLE_TS_SENTINEL.strftime("%Y-%m-%d %H:%M:%S")


def parse_when_expr(when: Column) -> Column:
    """String/long 'when' → timestamp with deterministic fallback chain.

    coalesce(epoch-seconds path, tz-stripped ISO parse path, sentinel).
    """
    numeric = F.when(
        when.rlike(r"^\d+$"), F.timestamp_seconds(when.cast("long"))
    )
    stripped = F.regexp_replace(when, r"\+.*$", "")
    parsed = F.try_to_timestamp(stripped)
    return F.coalesce(numeric, parsed, F.lit(SENTINEL_LIT).cast("timestamp"))


def parse_when_sql(when: str) -> str:
    """DuckDB twin of ``parse_when_expr``."""
    return (
        f"coalesce("
        f"case when regexp_matches({when}, '^\\d+$') then epoch_ms(cast({when} as bigint) * 1000) end, "
        f"try_cast(regexp_replace({when}, '\\+.*$', '') as timestamp), "
        f"timestamp '{SENTINEL_LIT}')"
    )


def time_string_expr(ts: Column) -> Column:
    """Reference's 'h:mm AM/PM' rendering (smparserbase.py:66-68),
    platform-independent."""
    return F.date_format(ts, "h:mm a")
