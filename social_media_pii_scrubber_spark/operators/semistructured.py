"""Semi-structured scans: JSON record trees and TXT k/v records (S2/S3).

Reference semantics to preserve (SURVEY.md §1.3):
- JSON datasets are attribute-access record trees
  (/root/reference/SMParser/smparserbase.py:114-119); records failing
  shape checks are DROPPED, never fail the job (hasattr guards and
  per-record try/except, smparsers.py:88-101, 135-137). Spark:
  ``from_json`` in PERMISSIVE mode → malformed rows parse to NULL and
  are filtered out, with the drop countable for the audit table.
- TXT datasets split a blob on '\\n\\n' into records, '\\n' into
  fields, ': ' into key/value (smparserbase.py:121-127). Spark: the
  whole parse is ``split`` + ``str_to_map`` — pure column ops, no UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


CORRUPT_COL = "_corrupt_record"


def parse_json_permissive(
    df: DataFrame, json_col: str, schema: str,
    out_col: str = "parsed",
) -> DataFrame:
    """from_json with drop-malformed semantics.

    PERMISSIVE from_json yields a struct of NULLs for malformed input
    (not a NULL struct), so malformed-ness is detected via
    ``columnNameOfCorruptRecord``: corrupt rows carry the raw text in
    that field. Callers filter with ``drop_malformed`` and can count
    drops for the audit table (the reference logs-and-continues per
    record, smparsers.py:135-137).
    """
    full_schema = f"{schema}, {CORRUPT_COL} string"
    return df.withColumn(
        out_col,
        F.from_json(
            F.col(json_col), full_schema,
            {"columnNameOfCorruptRecord": CORRUPT_COL},
        ),
    )


def drop_malformed(df: DataFrame, out_col: str = "parsed") -> DataFrame:
    return df.filter(F.col(f"{out_col}.{CORRUPT_COL}").isNull())


def txt_records_expr(blob: Column) -> Column:
    """S3 — '\\n\\n'-separated records → array of k/v maps.

    Mirrors get_txt (smparserbase.py:121-127) including the len>2
    record-validity guard.
    """
    recs = F.split(blob, r"\n\n")
    valid = F.filter(recs, lambda r: F.length(r) > 2)
    return F.transform(valid, lambda r: F.str_to_map(r, F.lit("\n"), F.lit(": ")))
