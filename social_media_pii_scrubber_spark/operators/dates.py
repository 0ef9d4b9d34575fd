"""Date-window operators (reference P1/P2/W2).

The reference's analysis window is ``first_date <= ts (tz-stripped)
<= last_date`` with None → excluded
(/root/reference/SMParser/smparserbase.py:105-112). SQL BETWEEN is
null-safe in exactly that way (NULL comparison → not kept), so the
whole operator is a single Catalyst predicate — pushed down to the
parquet/Iceberg scan (shows up in PushedFilters), which at 100 TB means
partition + row-group pruning instead of a full scan.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import Column
from pyspark.sql import functions as F


def in_date_range_expr(ts: Column, first_date: datetime, last_date: datetime) -> Column:
    """P1 — inclusive-bounds window predicate (smparserbase.py:105-108);
    P2 (smparserbase.py:110-112) is ``df.filter`` on it."""
    return ts.between(F.lit(first_date), F.lit(last_date))


def in_date_range_sql(ts: str, first_date: datetime, last_date: datetime) -> str:
    return (
        f"({ts} between timestamp '{first_date:%Y-%m-%d %H:%M:%S}'"
        f" and timestamp '{last_date:%Y-%m-%d %H:%M:%S}')"
    )


def week_bin_expr(ts: Column, last_date: datetime) -> Column:
    """W2 — 7-day bin index counting back from last_date
    (smparserbase.py:100-102). bin 0 = the week ending at last_date."""
    return F.floor(
        F.datediff(F.lit(last_date).cast("date"), ts.cast("date")) / 7
    ).cast("int")


def week_bin_sql(ts: str, last_date: datetime) -> str:
    return (
        f"cast(floor(datediff('day', cast({ts} as date), "
        f"date '{last_date:%Y-%m-%d}') / 7) as int)"
    )
