"""Hash families: the value that picks a dedup or DSIR operator's
oracle or production profile. ``exact_dedup``, ``minhash_signature``,
``lsh_candidate_pairs``, ``jaccard_pairs``, ``bucket_distribution`` and
``dsir_weights`` each have ONE topology and take ``family=``, and so do
the chains built from them, ``components.near_dup_dedup`` (default
``XXHASH64``) and ``jobs/build_corpus.py build_corpus`` (default
``XXHASH64``):

- ``MD5`` (default) — the oracle profile: md5-derived, so the DuckDB
  ``*_sql`` twins reproduce it bit for bit; small widths (4 minhashes in
  2 bands, 256 DSIR buckets) keep the twins tractable. Not a production
  dedup setting: with 2 bands the false-negative rate at J=0.8 is ~26%.
- ``XXHASH64`` — the production profile: 64-bit codegen'd hashes, no hex
  strings in the shuffles; 128 minhashes in 16 bands of 8 (P(candidate
  | J=0.85) ≈ 0.994; tests/test_dedup_recall.py measures recall ≥ 0.9)
  and 65536 DSIR buckets. No SQL twin (DuckDB has no xxhash64): the
  tests check it against ``MD5`` on the same topology.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..functions.text import fingerprint_expr, fingerprint_fast_expr

NUM_HASHES = 4             # minhash signature length (oracle profile)
BAND_SIZE = 2              # hashes per LSH band (oracle profile)
BUCKET_PREFIX = 2          # 16^2 = 256 buckets (oracle profile)
PROD_BUCKET_PREFIX = 4     # 65536 buckets (production profile)


def bucket_expr(ngram: Column, prefix_len: int = BUCKET_PREFIX) -> Column:
    return F.substring(F.md5(ngram.cast("binary")), 1, prefix_len)


def bucket_sql(ngram: str, prefix_len: int = BUCKET_PREFIX) -> str:
    return f"substr(md5({ngram}), 1, {prefix_len})"


def bucket_fast_expr(ngram: Column, n_buckets: int = 16 ** PROD_BUCKET_PREFIX
                     ) -> Column:
    """Production bucketer: xxhash64 → pmod (one JVM hash, bigint
    bucket — no hex strings in the explode-width shuffle). Same
    role as the md5-prefix oracle profile, different hash family.
    Null-guarded: xxhash64(null) returns the SEED (42), not null —
    without the guard an empty doc's explode_outer null would land in
    bucket 42%n and score nonzero instead of 0."""
    return F.when(ngram.isNull(), F.lit(None).cast("bigint")) \
        .otherwise(F.pmod(F.xxhash64(ngram), F.lit(n_buckets)))


def _hex_width(n_buckets: int) -> int:
    """Hex digits of an md5-prefix bucket space of ``n_buckets``."""
    width = len(f"{n_buckets - 1:x}")
    if 16 ** width != n_buckets:
        raise ValueError(f"md5 bucket spaces are powers of 16, got {n_buckets}")
    return width


@dataclass(frozen=True)
class HashFamily:
    """The hashes one operator topology calls, and its default widths.
    ``shingle_key`` (None: hash the shingle string per seed) is hashed
    once per shingle, so k seeds re-hash 8 bytes, not the string."""
    name: str
    fingerprint: Callable[[Column], Column]          # text → doc fingerprint
    minhash: Callable[[int, Column], Column]         # (seed, shingle key)
    band_key: Callable[..., Column]                  # band's minhash cols
    shingle_key: Callable[[Column], Column] | None
    bucket: Callable[[Column, int], Column]          # (ngram, n_buckets)
    bucket_space: Callable[[Column, int], Column]    # (range id, n_buckets)
    num_hashes: int
    band_size: int
    n_buckets: int


MD5 = HashFamily(
    name="md5",
    fingerprint=fingerprint_expr,
    minhash=lambda seed, key: F.md5(
        F.concat(F.lit(f"{seed}:"), key).cast("binary")),
    band_key=lambda *mh: F.md5(F.concat(*mh).cast("binary")),
    shingle_key=None,
    bucket=lambda ng, n: bucket_expr(ng, _hex_width(n)),
    bucket_space=lambda ids, n: F.lpad(F.lower(F.hex(ids)), _hex_width(n), "0"),
    num_hashes=NUM_HASHES,
    band_size=BAND_SIZE,
    n_buckets=16 ** BUCKET_PREFIX,
)

XXHASH64 = HashFamily(
    name="xxhash64",
    fingerprint=fingerprint_fast_expr,
    minhash=lambda seed, key: F.xxhash64(F.lit(seed), key),
    band_key=F.xxhash64,
    shingle_key=F.xxhash64,
    bucket=bucket_fast_expr,
    bucket_space=lambda ids, n: ids,
    num_hashes=128,
    band_size=8,
    n_buckets=16 ** PROD_BUCKET_PREFIX,
)
