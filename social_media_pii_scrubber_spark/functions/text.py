"""Text-analysis functions: token counting, fingerprinting, misc scalars.

All pure column expressions with DuckDB SQL twins (oracle parity).
Covers the reference's scalar-function surface (SURVEY.md §2.7):
F7 split-k/v, F8 join-with-separator, F9 containment, F10 extension
parse, F11 photo-sequence format — plus the training-pipeline extras
(whitespace + BPE-ish token counts, rolling-hash fingerprint).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# reference image-extension whitelist (smparserbase.py:26)
VALID_TYPES = [".bmp", ".jpeg", ".jpg", ".jpe", ".png", ".tiff", ".tif"]


def let_expr(value: Column, body) -> Column:
    """Let-binding for column-expression trees: evaluate ``value`` ONCE
    per row and reference it cheaply inside ``body`` (a lambda taking
    the bound Column).

    Why it exists: Spark re-evaluates expression trees captured in a
    higher-order-function lambda BODY on every lambda invocation —
    there is no common-subexpression elimination across HOF boundaries
    — so ``transform(sequence(1, n), i -> f(expensive_expr, i))``
    costs n × cost(expensive_expr): O(words²) for any per-token loop
    over a split() (measured 12-52× slowdowns at 200 words/doc). HOF
    *arguments* are evaluated once per row, so wrapping the value in a
    1-element array and transforming it turns the lambda variable into
    an O(1) slot read inside nested lambdas."""
    return F.element_at(F.transform(F.array(value), body), 1)


# --- token counting --------------------------------------------------------

def ws_token_count_expr(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(F.split(F.trim(text), r"\s+"))


def ws_token_count_sql(text: str) -> str:
    return f"len(regexp_split_to_array(trim({text}), '\\s+'))"


BPE_ISH_PATTERN = r"[A-Za-z]+|\d+|[^A-Za-z\d\s]"


def bpe_ish_token_count_expr(text: Column) -> Column:
    """BPE-ish token count: letter runs, digit runs, single punct marks.

    ``regexp_count`` stays entirely JVM-side — at 100 TB this is the
    cheap pre-tokenizer estimate pipelines use for length budgeting.
    """
    return F.regexp_count(text, F.lit(BPE_ISH_PATTERN))


def bpe_ish_token_count_sql(text: str) -> str:
    return f"len(regexp_extract_all({text}, '{BPE_ISH_PATTERN}'))"


# --- document fingerprinting ----------------------------------------------

def fingerprint_expr(text: Column) -> Column:
    """Deterministic document fingerprint: md5 of NFC-ish normalized text.

    (lowercased, whitespace-collapsed). Portable across Spark/DuckDB/
    Python — exact dedup's fingerprint in the ``MD5`` hash family
    (operators/hashing.py). xxhash64 is faster Spark-side but is not
    reproducible in the oracle; the ``XXHASH64`` family uses
    ``fingerprint_fast_expr``.
    """
    norm = F.regexp_replace(F.trim(F.lower(text)), r"\s+", " ")
    return F.md5(norm.cast("binary"))


def fingerprint_sql(text: str) -> str:
    return f"md5(regexp_replace(trim(lower({text})), '\\s+', ' ', 'g'))"


def fingerprint_fast_expr(text: Column) -> Column:
    """64-bit xxhash fingerprint — the at-scale variant (no oracle twin)."""
    norm = F.regexp_replace(F.trim(F.lower(text)), r"\s+", " ")
    return F.xxhash64(norm)


# 2^31-1 (Mersenne prime): acc*31 + 255 stays < 2^36 — no int64
# overflow in either engine (2^61-1 overflowed the multiply)
ROLLING_HASH_MOD = 2147483647
ROLLING_HASH_SEED = 7


def rolling_hash_expr(text: Column) -> Column:
    """Polynomial rolling hash over character codes (portable fold).

    h = fold(chars, seed, acc*31 + code mod 2^61-1) — the classic
    Rabin-Karp document fingerprint, expressed as F.aggregate so it
    stays JVM-side. DuckDB twin uses list_reduce; identical arithmetic
    verified bit-for-bit.
    """
    codes = F.transform(F.split(text, ""), lambda c: F.ascii(c).cast("long"))
    return F.aggregate(
        codes,
        F.lit(ROLLING_HASH_SEED).cast("long"),
        lambda acc, x: (acc * 31 + x) % ROLLING_HASH_MOD,
    )


def rolling_hash_sql(text: str) -> str:
    return (
        f"list_reduce(list_prepend({ROLLING_HASH_SEED}::bigint, "
        f"list_transform(string_split({text}, ''), c -> ascii(c)::bigint)), "
        f"(acc, x) -> (acc * 31 + x) % {ROLLING_HASH_MOD})"
    )


# --- reference scalar functions --------------------------------------------

def split_kv_expr(col: Column) -> Column:
    """F7 — `'Category: Value'.split(': ', 1)` → struct(key, value)."""
    return F.struct(
        F.split(col, ": ", 2)[0].alias("key"),
        F.split(col, ": ", 2)[1].alias("value"),
    )


def img_ext_expr(uri: Column) -> Column:
    """F10 — file-extension parse + whitelist (smparserbase.py:129-131)."""
    ext = F.lower(F.regexp_extract(uri, r"(\.[A-Za-z]+)$", 1))
    return F.when(ext.isin(VALID_TYPES), ext)


def img_ext_sql(uri: str) -> str:
    inlist = ", ".join(f"'{t}'" for t in VALID_TYPES)
    ext = f"lower(regexp_extract({uri}, '(\\.[A-Za-z]+)$', 1))"
    return f"(case when {ext} in ({inlist}) then {ext} end)"


def ph_num_expr(n: Column) -> Column:
    """F11 — photo sequence `0A, 0B, … 1A` (smparserbase.py:184-187)."""
    return F.concat(
        F.floor(n / 26).cast("string"), F.char(F.lit(65) + (n % 26))
    )


def ph_num_sql(n: str) -> str:
    return f"concat(cast(({n}) // 26 as varchar), chr(65 + cast(({n}) % 26 as int)))"


# --- Unicode normalization ---------------------------------------------------

def nfc_normalize_udf():
    """Arrow-batched Unicode NFC normalization — the standard
    pre-scoring canonicalization (CCNet normalizes before LM scoring;
    crawls mix NFC/NFD encodings of the same glyphs, which breaks
    hash-based dedup and token statistics). Vectorized pandas
    str.normalize; the DuckDB twin is the NATIVE nfc_normalize(), so
    the oracle comparison is exact cross-library Unicode agreement,
    not a fixture."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _nfc(s):
        return s.str.normalize("NFC")

    return _nfc


def nfc_normalize_sql(text: str) -> str:
    return f"nfc_normalize({text})"
