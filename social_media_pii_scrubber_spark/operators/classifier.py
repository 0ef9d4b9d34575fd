"""Hashed-ngram linear quality classifier (fastText/DCLM-style).

The supervised complement to the heuristic rules in
``functions/quality.py``: production pipelines (CCNet, DCLM, FineWeb)
train a linear classifier over hashed bag-of-ngram features on a
labeled sample (e.g. "looks like a reference corpus" vs "random
crawl") and score every document with it. Both halves here:

- ``classifier_score``: logit = bias + Σ_ngrams w[bucket(ngram)],
  keep = logit > 0 (⟺ sigmoid > 0.5). Same topology as DSIR scoring
  (operators/dsir.py): explode → force-broadcast join against the
  construction-bounded 16^prefix-row weight dimension → partial-agg'd
  per-doc sum. One corpus pass, one shuffle.
- ``train_logreg``: full-batch gradient descent for logistic loss.
  The training set is a labeled SAMPLE by definition (at 10^12-doc
  scale nobody labels the corpus), so the exploded feature frame is
  repartitioned by doc id and cached once; each iteration is then
  per-doc z (groupBy reuses the cached partitioning — no shuffle),
  per-bucket gradient (ONE shuffle, map-side combined, at most
  16^prefix result rows), and a bounded weight collect — the same
  model-parameter-only driver materialization kmeans_train
  (similarity.py:527) uses. Deterministic: zero init, fixed iteration
  count, full batch.

Feature space is shared with DSIR (``dsir.ngrams_expr`` — uni+bigrams
with multiplicity; md5-prefix oracle buckets / xxhash64 production
buckets), so a trained model and a DSIR ratio table are interchangeable
bounded dimensions over the same explode.

The classifier picks its bucketer by width, not by a
``hashing.HashFamily``: ``classifier_score`` / ``hash_weights_table``
are the md5 profile (hex-prefix width, string keys) and
``score_with_model`` / ``train_logreg`` the xxhash64 one (bucket count,
int keys), and ``classifier_score_expr`` switches on ``n_buckets is
None``. That switch also picks the key type of the caller's weights
map, so a ``family=`` would be a second option for the same choice.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dsir import ngrams_expr, ngrams_sql, score_exploded
from .hashing import (
    BUCKET_PREFIX,
    PROD_BUCKET_PREFIX,
    bucket_expr,
    bucket_fast_expr,
    bucket_sql,
)

_HASH_HEX = 6  # md5-derived pseudo-weight resolution (16^6)


def hash_weight_expr(bucket: Column, seed: int = 7) -> Column:
    """Deterministic pseudo-weight in (-0.5, 0.5) derived from the
    bucket id — the oracle-checkable stand-in for trained weights
    (trained models enter queries as literals, like IVF's centroids)."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"w{seed}:"), bucket)
                          .cast("binary")), 1, _HASH_HEX),
        16, 10,
    ).cast("double")
    return (h + 0.5) / float(16 ** _HASH_HEX) - 0.5


def hash_weight_sql(bucket: str, seed: int = 7) -> str:
    h = (f"cast(('0x' || substr(md5('w{seed}:' || {bucket}), 1, "
         f"{_HASH_HEX})) as bigint)")
    return f"(({h}) + 0.5) / {float(16 ** _HASH_HEX)} - 0.5"


def hash_weights_table(spark, prefix_len: int = BUCKET_PREFIX,
                       seed: int = 7) -> DataFrame:
    """(bucket, wgt) over the complete md5-hex bucket space."""
    space = spark.range(16 ** prefix_len).select(
        F.lpad(F.lower(F.hex(F.col("id"))), prefix_len, "0").alias("bucket"))
    return space.select(
        "bucket", hash_weight_expr(F.col("bucket"), seed).alias("wgt"))


def classifier_score(df: DataFrame, text_col: str, id_col: str,
                     weights: DataFrame, bias: float = 0.0,
                     prefix_len: int = BUCKET_PREFIX) -> DataFrame:
    """(id, logit, keep): linear score over hashed ngram counts.
    ``weights`` is (bucket, wgt), bounded at 16^prefix rows by
    construction; scoring is DSIR's shared score_exploded topology
    (force-broadcast dimension, partial-agg'd per-doc sum). Docs with
    no ngrams score the bare bias."""
    return score_exploded(
        df, text_col, id_col, weights,
        lambda ng: bucket_expr(ng, prefix_len), "wgt", "logit",
        offset=bias,
    ).select(id_col, "logit", (F.col("logit") > 0).alias("keep"))


def classifier_score_sql(table_sql: str, text_col: str, id_col: str,
                         bias: float = 0.0,
                         prefix_len: int = BUCKET_PREFIX,
                         seed: int = 7) -> str:
    """DuckDB twin of classifier_score with hash-derived weights
    (the oracle profile — trained weights would be rendered as a
    VALUES literal instead)."""
    ng = ngrams_sql(text_col)
    w = (f"select bucket, {hash_weight_sql('bucket', seed)} as wgt from "
         f"(select printf('%0{prefix_len}x', i) as bucket from "
         f"(select unnest(range(0, {16 ** prefix_len})) as i))")
    agg = (
        f"select {id_col}, coalesce(sum(wgt), 0.0) + {float(bias)} as logit "
        f"from (select {id_col}, {bucket_sql('ng', prefix_len)} as bucket "
        f"from (select {id_col}, unnest({ng}) as ng from {table_sql})) e "
        f"left join ({w}) w using (bucket) group by {id_col}"
    )
    # left-join back: DuckDB's unnest drops empty-ngram docs, Spark's
    # explode_outer keeps them at the bare bias
    return (
        f"select d.{id_col}, coalesce(a.logit, {float(bias)}) as logit, "
        f"coalesce(a.logit, {float(bias)}) > 0 as keep "
        f"from {table_sql} d left join ({agg}) a using ({id_col})"
    )


def train_logreg(df: DataFrame, text_col: str, id_col: str,
                 label_col: str, n_buckets: int = 16 ** PROD_BUCKET_PREFIX,
                 iters: int = 20, lr: float = 0.5, l2: float = 0.0,
                 ) -> tuple[dict[int, float], float]:
    """Full-batch logistic regression over xxhash64 bucket counts.
    Returns ({bucket: weight}, bias) — the bounded model artifact
    (persist it; render as literals / a broadcast table at query
    time). Labels must be 0/1.

    Empty/zero-ngram docs participate (explode_outer keeps them as one
    null-bucket row): they contribute to the bias gradient and to
    n_docs, matching train_logreg_python_bucketed when it is handed an
    empty feature list (ADVICE r04). The null bucket joins no weight
    (z = bias) and is skipped in the per-bucket update — xxhash64 of a
    null ngram would otherwise silently hash to a REAL bucket, so the
    bucket expression is explicitly null-guarded."""
    ng = F.col("ng")
    ex = df.select(
        F.col(id_col).alias("_id"),
        F.col(label_col).cast("double").alias("_y"),
        F.explode_outer(ngrams_expr(F.col(text_col))).alias("ng"),
    ).select(
        "_id", "_y",
        F.when(ng.isNotNull(),
               bucket_fast_expr(ng, n_buckets)).alias("bucket"),
    ).repartition(F.col("_id")).persist()
    try:
        n_docs = df.count() or 1
        w: dict[int, float] = {}
        bias = 0.0
        spark = df.sparkSession
        for _ in range(iters):
            if w:
                w_df = F.broadcast(spark.createDataFrame(
                    [(int(b), float(v)) for b, v in w.items()],
                    "bucket long, wgt double"))
                scored = ex.join(w_df, on="bucket", how="left")
            else:
                scored = ex.withColumn("wgt", F.lit(None).cast("double"))
            z = scored.groupBy("_id").agg(
                F.first("_y").alias("_y"),
                (F.coalesce(F.sum("wgt"), F.lit(0.0)) + bias).alias("z"),
            )
            # g is cached for the iteration: the bias gradient and the
            # per-bucket rollup are separate actions (different
            # granularities — per doc vs per ngram occurrence), and an
            # uncached g would recompute the join+sigmoid subplan twice
            g = z.select(
                "_id",
                (F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("z")))
                 - F.col("_y")).alias("g"),
            ).persist()
            try:
                bias_g = g.agg(F.sum("g")).collect()[0][0] or 0.0
                # ex and g are both partitioned by _id (cached exchange
                # is reused) — the join adds no shuffle; the bucket
                # rollup is the iteration's single shuffle, ≤ n_buckets
                # rows out
                grads = ex.join(g, on="_id").groupBy("bucket").agg(
                    F.sum("g").alias("gw")).collect()
            finally:
                g.unpersist()
            for row in grads:
                if row["bucket"] is None:  # empty-doc marker row
                    continue
                b = int(row["bucket"])
                grad = row["gw"] / n_docs + l2 * w.get(b, 0.0)
                w[b] = w.get(b, 0.0) - lr * grad
            bias -= lr * (bias_g / n_docs)
        return w, bias
    finally:
        ex.unpersist()


def score_with_model(df: DataFrame, text_col: str, id_col: str,
                     model: tuple[dict[int, float], float],
                     n_buckets: int = 16 ** PROD_BUCKET_PREFIX) -> DataFrame:
    """Apply a train_logreg model at the production bucket width
    (score_exploded with xxhash64 buckets)."""
    w, bias = model
    w_df = df.sparkSession.createDataFrame(
        [(int(b), float(v)) for b, v in w.items()] or [(0, 0.0)],
        "bucket long, wgt double")
    return score_exploded(
        df, text_col, id_col, w_df,
        lambda ng: bucket_fast_expr(ng, n_buckets), "wgt", "logit",
        offset=bias,
    ).select(id_col, "logit", (F.col("logit") > 0).alias("keep"))


def train_logreg_python_bucketed(feats_by_id: dict, labels_by_id: dict,
                                 n_docs: int | None = None,
                                 iters: int = 20, lr: float = 0.5,
                                 l2: float = 0.0,
                                 ) -> tuple[dict[int, float], float]:
    """Scalar full-batch GD over pre-bucketed features
    ({id: [bucket, ...]} with multiplicity) — the independent
    replication train_logreg is value-checked against."""
    n = n_docs or len(feats_by_id) or 1
    w: dict[int, float] = {}
    bias = 0.0
    for _ in range(iters):
        grad_w: dict[int, float] = {}
        grad_b = 0.0
        for i, buckets in feats_by_id.items():
            z = bias + sum(w.get(b, 0.0) for b in buckets)
            g = 1.0 / (1.0 + math.exp(-z)) - labels_by_id[i]
            grad_b += g
            for b in buckets:
                grad_w[b] = grad_w.get(b, 0.0) + g
        for b, gw in grad_w.items():
            w[b] = w.get(b, 0.0) - lr * (gw / n + l2 * w.get(b, 0.0))
        bias -= lr * (grad_b / n)
    return w, bias


def classifier_score_expr(text: Column, weights: dict, bias: float = 0.0,
                          n_buckets: int | None = None) -> Column:
    """Pure-EXPRESSION inference: logit = bias + Σ map[bucket(ngram)]
    via a per-row aggregate() fold over the ngram array — no explode,
    no join, NO SHUFFLE, so it composes directly into Structured
    Streaming (stateless projection; the explode/groupBy batch path
    would need stateful aggregation on a stream).

    ``weights`` is {bucket: wgt} with STRING keys for the md5 profile
    or INT keys for the xxhash profile (n_buckets set). Intended for
    distilled/pruned models that fit an expression map literal
    (≤ ~10k entries — codegen size, not correctness, is the limit);
    the explode+broadcast-join path (classifier_score) remains the
    full-width batch shape — and the faster one: measured at 1M docs /
    4096 buckets on local[32], join 5.4-8.3 s vs this interpreted-HOF
    fold 22-36 s. Use this form for its STREAMING composability
    (stateless projection), not for batch speed."""
    if not weights:
        return F.lit(float(bias))
    pairs = []
    for k, v in sorted(weights.items()):
        pairs.append(F.lit(k))
        pairs.append(F.lit(float(v)))
    wmap = F.create_map(*pairs)
    if n_buckets is None:
        bucket_of = bucket_expr  # md5-hex profile (string keys)
    else:
        def bucket_of(ng):
            return bucket_fast_expr(ng, n_buckets)
    return F.aggregate(
        ngrams_expr(text),
        F.lit(float(bias)),
        lambda acc, ng: acc + F.coalesce(
            F.element_at(wmap, bucket_of(ng)), F.lit(0.0)),
    )
