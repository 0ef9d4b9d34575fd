"""DSIR-style hashed n-gram importance sampling (Xie et al. 2023,
"Data Selection for Language Models via Importance Resampling").

Select pretraining data whose distribution matches a TARGET corpus:

1. hash word uni+bigrams (with multiplicity) into a FIXED bucket space
   (``family=``, a ``hashing.HashFamily``: md5-hex prefix in the
   default ``MD5`` oracle profile, xxhash64 → bigint in the
   ``XXHASH64`` production profile);
2. fit smoothed bucket distributions over the source corpus and the
   target sample (``bucket_distribution``);
3. score every source doc with Σ_ngrams log(p_target / p_source)
   (``dsir_weights``);
4. resample with a deterministic Gumbel-top-k perturbation
   (``dsir_topk`` — Gumbel noise derived from the md5 of the doc id,
   so the draw is reproducible and layout-independent).

Scale shape: the bucket space is bounded by construction (256
buckets in the oracle profile, 65536 in production), so the
log-ratio table is a fixed-size dimension no matter how large the
corpus grows. The score join FORCE-broadcasts it (this is NOT a
corpus-growing vocabulary, so the no-forced-broadcast invariant does
not apply — and static stats mis-estimate the dimension through its
bucket-space join, planning a corpus-wide shuffle if left unhinted;
plan-pinned in tests/test_plan_shapes.py).
Doc scoring is explode → join → per-doc partial-agg sum: two shuffles,
both reduced map-side. The top-k sort in dsir_topk is the oracle/
small-k form; at 10^12 docs with a RATE rather than a k, convert the
rate to a Gumbel-key threshold from a sample quantile and filter —
no global sort.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .hashing import BUCKET_PREFIX, MD5, HashFamily, bucket_sql

_GUMBEL_HEX = 6            # uniform resolution: 16^6


def ngrams_expr(text: Column) -> Column:
    """Uni+bigrams WITH multiplicity (DSIR counts occurrences;
    dedup's shingles_expr is distinct — not reusable here).

    Bigrams are built with zip_with(w, w[2:]) — O(words) per doc. The
    tempting transform(sequence(1, n-1), i -> element_at(w, i) ...)
    form is O(words²): Spark re-evaluates expression trees captured in
    a lambda BODY on every lambda call (no CSE across higher-order-
    function boundaries), so each element_at recomputes the full
    split. Measured 52× slower at 200 words/doc. HOF *arguments* (the
    zip_with/slice operands) are evaluated once per row, so w
    appearing 4× below stays O(words)."""
    w = F.filter(F.split(F.trim(F.lower(text)), r"\s+"), lambda x: x != "")
    # zip_with pads the shorter side with null: the trailing
    # (w_n, null) pair concats to null and is filtered out
    bi = F.filter(
        F.zip_with(w, F.slice(w, 2, F.greatest(F.size(w), F.lit(1))),
                   lambda a, b: F.concat(a, F.lit(" "), b)),
        lambda x: x.isNotNull(),
    )
    return F.concat(w, bi)


def ngrams_sql(text: str) -> str:
    w = (f"list_filter(regexp_split_to_array(trim(lower({text})), '\\s+'),"
         f" x -> x != '')")
    bi = (f"list_transform(range(1, greatest(len({w}) - 1, 0) + 1), "
          f"i -> list_extract({w}, i) || ' ' || list_extract({w}, i + 1))")
    return f"list_concat({w}, {bi})"


def _distribution(df: DataFrame, text_col: str, space: DataFrame,
                  bucket_of, n_buckets: int) -> DataFrame:
    # bucket inside the array, explode bucket ids (see score_exploded)
    b = df.select(F.explode(F.transform(ngrams_expr(F.col(text_col)),
                                        bucket_of)).alias("bucket"))
    counts = b.groupBy("bucket").agg(F.count(F.lit(1)).alias("c"))
    total = counts.agg(F.coalesce(F.sum("c"), F.lit(0)).alias("t"))
    return (
        space.join(counts, on="bucket", how="left")
        .crossJoin(F.broadcast(total))
        .select(
            "bucket",
            F.log((F.coalesce(F.col("c"), F.lit(0)) + 1.0)
                  / (F.col("t") + float(n_buckets))).alias("logp"),
        )
    )


def bucket_distribution(df: DataFrame, text_col: str,
                        n_buckets: int | None = None, *,
                        family: HashFamily = MD5) -> DataFrame:
    """(bucket, logp): Laplace-smoothed log bucket probabilities over
    the corpus's hashed n-grams, materialized over the COMPLETE bucket
    space — zero-count buckets get the smoothing floor
    ln(1/(total+n_buckets)), never a null. (Treating an absent bucket
    as logp=0=ln(1) would invert DSIR: ngrams unseen in the target
    would be maximally favored.) One explode + one partial-agg'd count
    shuffle; the result is exactly ``n_buckets`` rows (default: the
    family's width) — a bounded dimension."""
    n_buckets = n_buckets or family.n_buckets
    space = df.sparkSession.range(n_buckets).select(
        family.bucket_space(F.col("id"), n_buckets).alias("bucket"))
    return _distribution(df, text_col, space,
                         lambda ng: family.bucket(ng, n_buckets), n_buckets)


def bucket_distribution_sql(table_sql: str, text_col: str,
                            prefix_len: int = BUCKET_PREFIX) -> str:
    n_buckets = 16 ** prefix_len
    ng = ngrams_sql(text_col)
    return (
        f"select bucket, ln((coalesce(c, 0) + 1.0) / (t + {float(n_buckets)}))"
        f" as logp from (select printf('%0{prefix_len}x', i) as bucket "
        f"from (select unnest(range(0, {n_buckets})) as i)) "
        f"left join (select bucket, count(*) as c from (select "
        f"{bucket_sql('ng', prefix_len)} as bucket from "
        f"(select unnest({ng}) as ng from {table_sql})) group by bucket) "
        f"using (bucket), "
        f"(select count(*) as t from "
        f"(select unnest({ng}) as ng from {table_sql}))"
    )


def log_ratio(target_dist: DataFrame, source_dist: DataFrame) -> DataFrame:
    """(bucket, logr = logp_target − logp_source). Both inputs cover
    the complete bucket space (bucket_distribution), so this is a
    plain equi-join of two bucket-space-sized dimensions."""
    t = target_dist.select(F.col("bucket"), F.col("logp").alias("lt"))
    s = source_dist.select(F.col("bucket"), F.col("logp").alias("ls"))
    return t.join(s, on="bucket", how="inner").select(
        "bucket", (F.col("lt") - F.col("ls")).alias("logr"),
    )


def log_ratio_sql(target_sql: str, source_sql: str) -> str:
    return (
        f"select t.bucket as bucket, t.logp - s.logp as logr "
        f"from ({target_sql}) t join ({source_sql}) s "
        f"on t.bucket = s.bucket"
    )


def score_exploded(df: DataFrame, text_col: str, id_col: str,
                   dim: DataFrame, bucket_of, value_col: str,
                   out_col: str, offset: float = 0.0) -> DataFrame:
    """THE shared per-doc hashed-ngram scoring topology — used by DSIR
    (ratio dimension) and the quality classifier (weight dimension):
    explode_outer → bucket → FORCE-broadcast join against the
    construction-bounded dimension → partial-agg'd per-doc sum
    (+ offset). The broadcast hint is justified because ``dim`` is
    bounded by construction at the bucket-space size (a model
    parameter, not a corpus-growing vocabulary — the no-hint invariant
    doesn't apply) and static stats mis-estimate it through the
    bucket-space join, planning a full shuffle of the exploded corpus
    otherwise. Docs with no n-grams score the bare offset
    (explode_outer keeps them; a null ngram's bucket joins nothing)."""
    # r07: bucket INSIDE the array (transform) and explode the bucket
    # ids, instead of exploding the ngram strings and bucketing row-at-
    # a-time — the explode then materializes fixed-width rows (bigint
    # for the production profile) rather than ngram strings, and the
    # string never leaves the per-row array. Same values: transform
    # applies the identical bucket expression per element, and an empty
    # ngram array still yields one null-bucket row via explode_outer
    # (transform of an empty array is empty), exactly as the null ngram
    # did before.
    exploded = df.select(
        F.col(id_col),
        F.explode_outer(F.transform(ngrams_expr(F.col(text_col)), bucket_of)
                        ).alias("bucket"),
    )
    joined = exploded.join(F.broadcast(dim), on="bucket", how="left")
    return joined.groupBy(id_col).agg(
        (F.coalesce(F.sum(value_col), F.lit(0.0)) + F.lit(float(offset)))
        .alias(out_col))


def dsir_weights(df: DataFrame, text_col: str, id_col: str,
                 ratio: DataFrame, n_buckets: int | None = None, *,
                 family: HashFamily = MD5) -> DataFrame:
    """(id, logw): per-doc importance log-weight Σ logr over the doc's
    hashed n-grams (see score_exploded for the scale topology).
    ``n_buckets`` and ``family`` must match the ones ``ratio`` was
    fitted with."""
    n_buckets = n_buckets or family.n_buckets
    return score_exploded(
        df, text_col, id_col, ratio,
        lambda ng: family.bucket(ng, n_buckets), "logr", "logw")


def dsir_weights_sql(table_sql: str, text_col: str, id_col: str,
                     ratio_sql: str,
                     prefix_len: int = BUCKET_PREFIX) -> str:
    """Faithful twin of dsir_weights INCLUDING empty docs: DuckDB's
    unnest drops a doc whose ngram list is empty, while Spark's
    explode_outer keeps it at logw=0 — so the aggregate is left-joined
    back to the full table (the same self-compensation
    classifier_score_sql uses), keeping any composition of this twin
    (e.g. dsir_topk_sql) row-faithful."""
    ng = ngrams_sql(text_col)
    agg = (
        f"select {id_col}, coalesce(sum(logr), 0.0) as logw from "
        f"(select {id_col}, {bucket_sql('ng', prefix_len)} as bucket from "
        f"(select {id_col}, unnest({ng}) as ng from {table_sql})) e "
        f"left join ({ratio_sql}) r using (bucket) group by {id_col}"
    )
    return (
        f"select d.{id_col}, coalesce(w.logw, 0.0) as logw "
        f"from {table_sql} d left join ({agg}) w using ({id_col})"
    )


def gumbel_expr(id_col: Column, seed: int = 31) -> Column:
    """Deterministic standard-Gumbel draw from the doc id: md5-derived
    uniform in (0,1) → −log(−log(u)). Portable to the DuckDB twin."""
    h = F.conv(
        F.substring(F.md5(F.concat(id_col.cast("string"),
                                   F.lit(f":{seed}")).cast("binary")),
                    1, _GUMBEL_HEX),
        16, 10,
    ).cast("double")
    u = (h + 0.5) / float(16 ** _GUMBEL_HEX)
    return -F.log(-F.log(u))


def gumbel_sql(id_col: str, seed: int = 31) -> str:
    h = (f"cast(('0x' || substr(md5(cast({id_col} as varchar) || ':{seed}'),"
         f" 1, {_GUMBEL_HEX})) as bigint)")
    u = f"(({h}) + 0.5) / {float(16 ** _GUMBEL_HEX)}"
    return f"-ln(-ln({u}))"


def dsir_topk(weights: DataFrame, id_col: str, k: int,
              seed: int = 31) -> DataFrame:
    """Gumbel-top-k resampling: k docs drawn ∝ exp(logw) without
    replacement, deterministically. Oracle/small-k form (global sort-
    limit); at a RATE on 10^12 docs, threshold the key against a
    sample quantile instead of sorting."""
    key = (F.col("logw") + gumbel_expr(F.col(id_col), seed)).alias("gumbel_key")
    return (
        weights.select(id_col, "logw", key)
        .orderBy(F.col("gumbel_key").desc(), F.col(id_col).asc())
        .limit(k)
    )


def dsir_topk_sql(weights_sql: str, id_col: str, k: int,
                  seed: int = 31) -> str:
    return (
        f"select {id_col}, logw, logw + {gumbel_sql(id_col, seed)} "
        f"as gumbel_key from ({weights_sql}) "
        f"order by gumbel_key desc, {id_col} asc limit {k}"
    )


def dsir_sample_by_rate(weights: DataFrame, id_col: str, rate: float,
                        seed: int = 31,
                        quantile_error: float = 0.01) -> DataFrame:
    """Rate-based Gumbel selection — the 10^12-doc form of dsir_topk:
    instead of a global sort-limit, estimate the (1−rate) quantile of
    the Gumbel-perturbed key (approxQuantile — a driver-side scalar,
    like k-means' centroid matrix) and keep rows above it. One corpus
    pass to estimate + one to filter; no global sort. The realized
    fraction is rate ± the quantile estimator's error. Deterministic
    for a fixed input (Greenwald-Khanna is data-order-dependent only
    through partitioning, and the keys themselves are md5-derived)."""
    assert 0.0 < rate < 1.0
    keyed = weights.withColumn(
        "gumbel_key", F.col("logw") + gumbel_expr(F.col(id_col), seed))
    q = keyed.approxQuantile("gumbel_key", [1.0 - rate], quantile_error)
    if not q:  # empty input (approxQuantile returns []) → empty output
        return keyed.limit(0)
    return keyed.filter(F.col("gumbel_key") >= q[0])


def dsir_weights_python(texts_by_id: dict, target_texts: list,
                        prefix_len: int = BUCKET_PREFIX) -> dict:
    """Scalar reference for tests (independent implementation)."""
    import hashlib
    from collections import Counter

    def ngrams(t):
        w = [x for x in t.strip().lower().split() if x]
        return w + [f"{a} {b}" for a, b in zip(w, w[1:])]

    def bucket(ng):
        return hashlib.md5(ng.encode()).hexdigest()[:prefix_len]

    n_buckets = 16 ** prefix_len

    space = [f"{i:0{prefix_len}x}" for i in range(n_buckets)]

    def dist(texts):
        c = Counter(bucket(ng) for t in texts for ng in ngrams(t))
        total = sum(c.values())
        return {b: math.log((c.get(b, 0) + 1.0) / (total + n_buckets))
                for b in space}

    src = dist(texts_by_id.values())
    tgt = dist(target_texts)
    ratio = {b: tgt[b] - src[b] for b in space}
    return {
        i: sum(ratio[bucket(ng)] for ng in ngrams(t))
        for i, t in texts_by_id.items()
    }
