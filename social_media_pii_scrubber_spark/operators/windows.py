"""Window / sequence operators (reference W1, plus standard ranking).

W1 — per-group sequence numbering: the reference enumerates attachments
within a post to build photo names ``Photo_{i}_{0A,0B,...}``
(/root/reference/SMParser/smparserbase.py:184-187, used at
smparsers.py:108). In Spark: ``row_number`` over a partitioned window —
one shuffle on the partition key; at scale the partition key (post/url)
is also the table's hash-partition key, so AQE coalesces this into the
existing distribution instead of a fresh exchange.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import ph_num_expr


def seq_number(df: DataFrame, part_col: str, order_col: str, out: str = "seq") -> DataFrame:
    """row_number() - 1 per group (reference enumerate() is 0-based)."""
    w = Window.partitionBy(part_col).orderBy(order_col)
    return df.withColumn(out, F.row_number().over(w) - 1)


def photo_seq(df: DataFrame, part_col: str, order_col: str, out: str = "photo_seq") -> DataFrame:
    """W1+F11 — the 0A/0B/…/1A photo counter per group."""
    numbered = seq_number(df, part_col, order_col, out="_n")
    return numbered.withColumn(out, ph_num_expr(F.col("_n"))).drop("_n")
