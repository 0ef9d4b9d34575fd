"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: brute-force exact top-k. The query set is broadcast
  (it is small by construction); the corpus is scanned once; ranking is
  a window per query. At 100 TB of embeddings this is the baseline you
  validate the ANN path against on samples.
- ``lsh_topk`` / ``embedding_dup_pairs``: random-hyperplane LSH, one
  topology each with the plane set as a value (``PlaneFamily``). Every
  vector gets one sign-pattern bucket per table; a query searches, and
  a pair is a candidate in, the union of its buckets across tables;
  exact cosine ranks or verifies. Profiles: ``hyperplanes(n_planes,
  n_tables)`` (seed-derived Gaussian planes, numpy-matmul kernel by
  default — the scale path) and ``COORD_PLANES`` (one 16-bucket table
  of coordinate differences, expr kernel — the small oracle profile).
  The (tbl, bucket) key is also the natural partition key, so at scale
  the bucket join prunes both I/O and compute.
- ``ivf_topk`` / ``semdedup_*``: coarse-quantizer cells instead of
  hyperplane buckets (below).

All arithmetic is promoted to double before the dot product so the
DuckDB oracle (which computes in double) matches bit-for-bit after
rounding to 4 decimals.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup import ensure_min_parallelism


def _as_double(v: Column) -> Column:
    return v.cast("array<double>")


def dot_expr(a: Column, b: Column) -> Column:
    """dot(a, b) — the exact fold cosine_expr computes (same order).
    Measured note (r07): an unrolled per-index F.get chain is SLOWER
    than this fold (5.2 s vs 3.1 s on 254k 64-dim pairs) — per-element
    null/bounds-check dispatch beats one array traversal — so the fold
    stays; the pair-stage wins come from hoisting the two NORMS out of
    the per-pair work and from parallelizing the self-join."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def norm_expr(v: Column) -> Column:
    """sqrt(Σ v_k²) (fold form, any dimension) — the exact subexpression
    cosine_expr computes per side, exposed so pair joins can hoist the
    two norms out of the per-pair work (r07: norms are per-ROW values;
    computing them per PAIR multiplied the interpreted fold count by
    the bucket size)."""
    return F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_expr(a: Column, b: Column) -> Column:
    """cosine(a, b), computed in double, rounded to 4 decimals."""
    a, b = _as_double(a), _as_double(b)
    dot = dot_expr(a, b)
    na = norm_expr(a)
    nb = norm_expr(b)
    return F.round(dot / F.nullif(na * nb, F.lit(0.0)), 4)


def cosine_from_parts_expr(dot: Column, na: Column, nb: Column) -> Column:
    """round(dot / nullif(na*nb, 0), 4) — cosine_expr's final step over
    pre-computed parts (identical arithmetic, identical rounding)."""
    return F.round(dot / F.nullif(na * nb, F.lit(0.0)), 4)


def cosine_sql(a: str, b: str) -> str:
    da = f"list_transform({a}, x -> cast(x as double))"
    db = f"list_transform({b}, x -> cast(x as double))"
    dot = f"list_sum(list_transform(list_zip({da}, {db}), p -> p[1] * p[2]))"
    na = f"sqrt(list_sum(list_transform({da}, x -> x * x)))"
    nb = f"sqrt(list_sum(list_transform({db}, x -> x * x)))"
    return f"round({dot} / nullif({na} * {nb}, 0.0), 4)"


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """The top-k ranking rule every ``*_topk`` shares: per query, rank
    by (rounded cosine desc, match id asc), so ties at the k-boundary
    resolve identically in any engine, and keep the first k."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("match_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "match_id", "cosine", "rk")
    )


def _ranked_sql(k: int) -> str:
    """DuckDB twin of :func:`_rank_topk` over a ``scored`` CTE: the
    closing ``ranked`` CTE and final select of every ``*_topk_sql``."""
    return (
        "ranked as (select *, row_number() over (partition by query_id "
        "  order by cosine desc, match_id asc) as rk from scored) "
        f"select query_id, match_id, cosine, rk from ranked where rk <= {k}"
    )


def cosine_topk(corpus: DataFrame, queries: DataFrame, id_col: str,
                vec_col: str, k: int = 5) -> DataFrame:
    """Exact top-k: (query_id, match_id, cosine), k rows per query.

    Deterministic ranking: (rounded cosine desc, match id asc) so ties
    at the k-boundary resolve identically in any engine.
    """
    # r07: norms hoisted out of the per-(query, match) work — the
    # corpus norm is computed once per row and the query norm rides
    # the broadcast (identical arithmetic; see norm_expr).
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _as_double(F.col(vec_col)).alias("qvec"),
    ).withColumn("qnorm", norm_expr(F.col("qvec")))
    # adaptive: a single-file embeddings table must not serialize the
    # dot-product scan on one core (no-op when splits >= cores)
    c = ensure_min_parallelism(corpus).select(
        F.col(id_col).alias("match_id"),
        _as_double(F.col(vec_col)).alias("cvec"),
    ).withColumn("cnorm", norm_expr(F.col("cvec")))
    scored = c.crossJoin(F.broadcast(q)).select(
        "query_id", "match_id",
        cosine_from_parts_expr(dot_expr(F.col("qvec"), F.col("cvec")),
                               F.col("qnorm"), F.col("cnorm")).alias("cosine"),
    ).filter(F.col("query_id") != F.col("match_id"))
    return _rank_topk(scored, k)


def cosine_topk_sql(corpus_sql: str, query_pred: str, id_col: str,
                    vec_col: str, k: int = 5) -> str:
    cos = cosine_sql(f"q.{vec_col}", f"c.{vec_col}")
    return (
        f"with q as (select {id_col} as query_id, {vec_col} from {corpus_sql} where {query_pred}), "
        f"c as (select {id_col} as match_id, {vec_col} from {corpus_sql}), "
        f"scored as (select query_id, match_id, {cos} as cosine "
        f"  from c cross join q where query_id != match_id), "
        + _ranked_sql(k)
    )


def make_hyperplanes(n_planes: int, dim: int, seed: int = 42) -> list[list[float]]:
    """Seed-derived Gaussian hyperplanes for any dimension.

    numpy's legacy RandomState stream is frozen by its compatibility
    guarantee, so the planes are bit-identical everywhere. Components are
    rounded to 6 decimals: the SAME decimal literals are embedded in the
    Spark plan and the DuckDB twin, so both parse to the same doubles.
    """
    import numpy as np

    rs = np.random.RandomState(seed)
    return [
        [round(float(x), 6) for x in rs.standard_normal(dim)]
        for _ in range(n_planes)
    ]


def hyperplane_bucket_expr(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-pattern bucket as a BIGINT (bit j = sign of dot(v, plane_j)).

    Native-expression kernel, the one the SQL twin mirrors. The other
    kernel is ``hyperplane_buckets_pandas_udf`` (one numpy matmul per
    Arrow batch); ``test_similarity_recall`` pins their parity.
    """
    v = _as_double(vec)
    acc = F.lit(0).cast("bigint")
    for j, p in enumerate(planes):
        dot = _lit_dot_expr(v, p)
        acc = acc + F.when(dot > 0, F.lit(1 << j)).otherwise(F.lit(0)).cast("bigint")
    return acc


def hyperplane_bucket_sql(vec: str, planes: list[list[float]]) -> str:
    terms = []
    for j, p in enumerate(planes):
        lit = "[" + ", ".join(repr(w) for w in p) + "]::double[]"
        dot = (
            f"list_sum(list_transform(list_zip("
            f"list_transform({vec}, x -> cast(x as double)), {lit}), "
            f"p -> p[1] * p[2]))"
        )
        terms.append(f"(case when {dot} > 0 then {1 << j} else 0 end)")
    return "cast((" + " + ".join(terms) + ") as bigint)"


def hyperplane_buckets_pandas_udf(tables: list[list[list[float]]]):
    """All tables' buckets in ONE numpy matmul per Arrow batch — the
    100-TB path. Returns array<bigint>, one bucket id per table.

    The (n_rows × dim) @ (dim × n_planes·n_tables) product runs in BLAS;
    bits pack into int64 vectorized. Zero per-row Python. A null vector
    is a zero row, so it lands in bucket 0 of every table, as in the
    expr kernel and the SQL twin.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    # one stacked (dim × total_planes) matrix; split points per table
    mats = np.concatenate([np.asarray(t, dtype=np.float64).T for t in tables], axis=1)
    n_planes = len(tables[0])
    n_tables = len(tables)
    weights = (1 << np.arange(n_planes, dtype=np.int64))

    @pandas_udf("array<bigint>")
    def bucket_udf(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in it:
            present = s.notna().to_numpy()
            m = np.zeros((len(s), mats.shape[0]))
            if present.any():
                m[present] = np.vstack(s[present].to_numpy())
            bits = (m @ mats) > 0                      # (n, planes*tables)
            bits = bits.reshape(len(m), n_tables, n_planes)
            buckets = (bits * weights).sum(axis=2)     # (n, tables) int64
            yield pd.Series(list(buckets))

    return bucket_udf


@dataclass(frozen=True)
class PlaneFamily:
    """The plane set one embedding-LSH topology hashes with, and its
    bucket kernel. ``tables`` holds n_tables sets of n_planes planes
    (OR-amplification: a pair is a candidate if it collides in ANY
    table). ``udf`` picks the numpy-matmul kernel over the native
    expression; both give the same buckets, and the SQL twins render
    ``tables`` only."""
    tables: tuple[tuple[tuple[float, ...], ...], ...]
    udf: bool

    def buckets(self, vec: Column) -> Column:
        """array<bigint>: the vector's bucket in each table."""
        if self.udf:
            return hyperplane_buckets_pandas_udf(self.tables)(vec)
        return F.array(*[hyperplane_bucket_expr(vec, p) for p in self.tables])


def hyperplanes(n_planes: int, n_tables: int, dim: int = 64, seed: int = 42,
                *, udf: bool = True) -> PlaneFamily:
    """n_tables independent tables of n_planes seed-derived Gaussian
    planes: 2^n_planes buckets per table, any dimension. Table t uses
    seed+t, so adding tables never reshuffles existing ones."""
    return PlaneFamily(
        tuple(tuple(map(tuple, make_hyperplanes(n_planes, dim, seed + t)))
              for t in range(n_tables)),
        udf)


# SMALL ORACLE PROFILE: one table of 4 coordinate-difference planes
# e_i - e_j at dim 64 → 16 buckets, expr kernel. Bit j is the sign of
# v_i - v_j: two non-zero terms, so the dot product rounds once and has
# that sign in every engine and summation order.
COORD_PLANES = PlaneFamily(
    tables=(tuple(
        tuple(float((k == i) - (k == j)) for k in range(64))
        for i, j in ((0, 1), (2, 3), (4, 5), (6, 7))),),
    udf=False,
)


def _tagged_buckets(df: DataFrame, id_col: str, vec_col: str,
                    planes: PlaneFamily) -> DataFrame:
    """(id, vec, tbl, bucket): one row per (row, table), exploded from a
    single per-row bucket-array computation."""
    return df.select(
        F.col(id_col), F.col(vec_col),
        F.posexplode(planes.buckets(F.col(vec_col))).alias("tbl", "bucket"),
    )


def _tagged_buckets_sql(src: str, id_col: str, vec_col: str,
                        planes: PlaneFamily) -> str:
    """(id, tbl, bucket) in DuckDB: one union-all branch per table. The
    kernel is a Spark-side choice; SQL renders the planes only."""
    return " union all ".join(
        f"select {id_col}, {t} as tbl, "
        f"{hyperplane_bucket_sql(vec_col, p)} as bucket from {src}"
        for t, p in enumerate(planes.tables)
    )


def embedding_dup_pairs(df: DataFrame, vec_col: str, id_col: str,
                        threshold: float = 0.95, *,
                        planes: PlaneFamily = hyperplanes(8, 4)) -> DataFrame:
    """Near-duplicate pairs by embedding cosine ≥ threshold: candidates
    collide in ANY of ``planes``' tables, then exact cosine verifies.

    Topology (the part that must survive 100 TB): buckets are computed
    once per row (one matmul batch), exploded to (tbl, bucket), and the
    self-join runs on that key — an explicit repartition makes both
    sides the SAME exchange (ReusedExchange). Parallelism is
    n_tables·2^n_planes-way; per-bucket work is O((N/2^n_planes)²)
    within a table. Recall amplifies as 1-(1-p^n_planes)^n_tables — tune
    n_planes to bucket size and n_tables to recall;
    ``tests/test_similarity_recall.py`` measures it.
    """
    df = ensure_min_parallelism(df)  # bucket matmul parallelism
    tagged = _tagged_buckets(df, id_col, vec_col, planes) \
        .drop(vec_col).repartition("tbl", "bucket")
    left, right = tagged.alias("l"), tagged.alias("r")
    cand = (
        left.join(right, on=["tbl", "bucket"])
        .filter(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        .select(F.col(f"l.{id_col}").alias("id_a"),
                F.col(f"r.{id_col}").alias("id_b"))
        .distinct()
    )
    # r07: norms hoisted to the per-row vecs projection (identical
    # arithmetic; see semdedup)
    vecs = df.select(F.col(id_col), _as_double(F.col(vec_col)).alias("_v")) \
        .withColumn("_n", norm_expr(F.col("_v")))
    return (
        cand.join(vecs.select(F.col(id_col).alias("id_a"),
                              F.col("_v").alias("_va"),
                              F.col("_n").alias("_na")), "id_a")
        .join(vecs.select(F.col(id_col).alias("id_b"),
                          F.col("_v").alias("_vb"),
                          F.col("_n").alias("_nb")), "id_b")
        .select("id_a", "id_b",
                cosine_from_parts_expr(
                    dot_expr(F.col("_va"), F.col("_vb")),
                    F.col("_na"), F.col("_nb")).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def embedding_dup_pairs_sql(table_sql: str, vec_col: str, id_col: str,
                            threshold: float = 0.95, *,
                            planes: PlaneFamily = hyperplanes(8, 4)) -> str:
    cos = cosine_sql(f"a.{vec_col}", f"b.{vec_col}")
    return (
        f"with src as (select * from {table_sql}), "
        f"tagged as ({_tagged_buckets_sql('src', id_col, vec_col, planes)}), "
        f"cand as (select distinct l.{id_col} as id_a, r.{id_col} as id_b "
        f"  from tagged l join tagged r using (tbl, bucket) "
        f"  where l.{id_col} < r.{id_col}) "
        f"select id_a, id_b, {cos} as cosine "
        f"from cand join src a on cand.id_a = a.{id_col} "
        f"join src b on cand.id_b = b.{id_col} "
        f"where {cos} >= {threshold}"
    )


def lsh_topk(corpus: DataFrame, queries: DataFrame, id_col: str,
             vec_col: str, k: int = 5, *,
             planes: PlaneFamily = hyperplanes(8, 4)) -> DataFrame:
    """ANN top-k: rank only within the union of the query's buckets
    across ``planes``' tables. Same output schema as cosine_topk; recall
    < 1.0 by construction — the scale path trades exactness for touching
    ~n_tables/2^n_planes of the data."""
    q = _tagged_buckets(queries, id_col, vec_col, planes) \
        .withColumnRenamed(id_col, "query_id").withColumnRenamed(vec_col, "qvec")
    c = _tagged_buckets(ensure_min_parallelism(corpus), id_col, vec_col, planes) \
        .withColumnRenamed(id_col, "match_id").withColumnRenamed(vec_col, "cvec")
    cand = (
        c.join(F.broadcast(q), on=["tbl", "bucket"])
        .filter(F.col("query_id") != F.col("match_id"))
        .select("query_id", "match_id", "qvec", "cvec")
        .dropDuplicates(["query_id", "match_id"])
    )
    scored = cand.select(
        "query_id", "match_id",
        cosine_expr(F.col("qvec"), F.col("cvec")).alias("cosine"),
    )
    return _rank_topk(scored, k)


def lsh_topk_sql(corpus_sql: str, query_pred: str, id_col: str,
                 vec_col: str, k: int = 5, *,
                 planes: PlaneFamily = hyperplanes(8, 4)) -> str:
    cos = cosine_sql(f"q.{vec_col}", f"c.{vec_col}")
    return (
        f"with q as (select {id_col} as query_id, {vec_col} from {corpus_sql} "
        f"  where {query_pred}), "
        f"c as (select {id_col} as match_id, {vec_col} from {corpus_sql}), "
        f"qt as ({_tagged_buckets_sql('q', 'query_id', vec_col, planes)}), "
        f"ct as ({_tagged_buckets_sql('c', 'match_id', vec_col, planes)}), "
        f"cand as (select distinct query_id, match_id "
        f"  from qt join ct using (tbl, bucket) where query_id != match_id), "
        f"scored as (select cand.query_id, cand.match_id, {cos} as cosine "
        f"  from cand join q on cand.query_id = q.query_id "
        f"  join c on cand.match_id = c.match_id), "
        + _ranked_sql(k)
    )


# --- IVF (inverted-file) ANN -------------------------------------------------
# The coarse-quantizer ANN family (FAISS-style IVF-Flat): assign every
# vector to its nearest centroid cell, search only the query's top
# ``probe`` cells. Centroids here are FIXED deterministic Gaussian
# vectors (make_hyperplanes seed family) rather than k-means-trained —
# that keeps the whole operator expressible in BOTH engines (the oracle
# value-checks assignment + probing + ranking end to end); swapping in
# trained centroids is a drop-in list-of-lists replacement and changes
# recall, not topology. 100-TB shape: cell assignment is a per-row
# argmax over n_cells dots (codegen, no shuffle); the probe join
# partitions the corpus by cell — the natural partition/pruning key —
# and the query side is broadcast (queries are small by contract).


def make_centroids(n_cells: int, dim: int, seed: int = 977) -> list[list[float]]:
    return make_hyperplanes(n_cells, dim, seed)


def _lit_dot_expr(v: Column, vec: list[float]) -> Column:
    """dot(v, literal) as the interpreted fold. Kept fold-shaped on
    purpose (r07): n_cells × dim unrolled terms — duplicated again by
    array_position(dots, array_max(dots)) — overflow the whole-stage
    codegen method limit (janino InternalCompilerException → the WHOLE
    stage falls back to interpreted, a net loss), and an unrolled
    per-pair chain also measured slower than the fold (see dot_expr).
    Cell assignment is a per-ROW cost either way."""
    lit = F.array(*[F.lit(w) for w in vec]).cast("array<double>")
    return F.aggregate(F.zip_with(v, lit, lambda x, y: x * y),
                       F.lit(0.0), lambda a, x: a + x)


def _lit_dot_sql(v: str, vec: list[float]) -> str:
    lit = "[" + ", ".join(repr(w) for w in vec) + "]::double[]"
    return f"list_sum(list_transform(list_zip({v}, {lit}), p -> p[1] * p[2]))"


def ivf_cell_dots_expr(vec: Column, centroids: list[list[float]]) -> Column:
    v = _as_double(vec)
    return F.array(*[_lit_dot_expr(v, c) for c in centroids])


def ivf_cell_expr(vec: Column, centroids: list[list[float]]) -> Column:
    """1-based cell id: argmax centroid dot (first max wins the tie in
    both engines)."""
    dots = ivf_cell_dots_expr(vec, centroids)
    return F.array_position(dots, F.array_max(dots)).cast("int")


def ivf_cell_sql(vec: str, centroids: list[list[float]]) -> str:
    dv = f"list_transform({vec}, x -> cast(x as double))"
    dots = "[" + ", ".join(_lit_dot_sql(dv, c) for c in centroids) + "]"
    return f"cast(list_position({dots}, list_max({dots})) as int)"


def ivf_topk(corpus: DataFrame, queries: DataFrame, id_col: str,
             vec_col: str, k: int = 5, n_cells: int = 8, probe: int = 2,
             dim: int = 64, seed: int = 977,
             centroids: list[list[float]] | None = None) -> DataFrame:
    """IVF ANN top-k: rank only within the query's ``probe`` best cells.

    probe == n_cells degenerates to exact brute force (tested); smaller
    probe trades recall for touching ~probe/n_cells of the corpus.
    Output schema matches cosine_topk. ``centroids`` (e.g. the output of
    ``kmeans_train``, persisted like any model artifact) overrides the
    fixed seed-family quantizer — trained centroids change recall, not
    topology, and as plain literals keep the operator SQL-renderable."""
    cents = centroids if centroids is not None else make_centroids(
        n_cells, dim, seed)
    n_cells = len(cents)
    # r07: corpus-side norm computed once per ROW (not once per
    # (query, match) pair), query-side norm rides the broadcast.
    # Identical arithmetic to cosine_expr (see semdedup).
    c = ensure_min_parallelism(corpus).select(
        F.col(id_col).alias("match_id"),
        _as_double(F.col(vec_col)).alias("cvec"),
        ivf_cell_expr(F.col(vec_col), cents).alias("cell"),
    ).withColumn("cnorm", norm_expr(F.col("cvec")))
    qd = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        F.posexplode(ivf_cell_dots_expr(F.col(vec_col), cents)
                     ).alias("ci", "dot"),
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("dot").desc(), F.col("ci").asc())
    qcells = (
        qd.withColumn("r", F.row_number().over(wq))
        .filter(F.col("r") <= probe)
        .select("query_id", _as_double(F.col("qvec")).alias("qvec"),
                (F.col("ci") + 1).cast("int").alias("cell"))
        .withColumn("qnorm", norm_expr(F.col("qvec")))
    )
    scored = (
        c.join(F.broadcast(qcells), on="cell")
        .filter(F.col("query_id") != F.col("match_id"))
        .select("query_id", "match_id",
                cosine_from_parts_expr(
                    dot_expr(F.col("qvec"), F.col("cvec")),
                    F.col("qnorm"), F.col("cnorm")).alias("cosine"))
    )
    return _rank_topk(scored, k)


def ivf_topk_sql(corpus_sql: str, query_pred: str, id_col: str,
                 vec_col: str, k: int = 5, n_cells: int = 8, probe: int = 2,
                 dim: int = 64, seed: int = 977,
                 centroids: list[list[float]] | None = None) -> str:
    cents = centroids if centroids is not None else make_centroids(
        n_cells, dim, seed)
    n_cells = len(cents)
    dv = f"list_transform({vec_col}, x -> cast(x as double))"
    dots = "[" + ", ".join(_lit_dot_sql(dv, c) for c in cents) + "]"
    cos = cosine_sql("q.qvec", "c.cvec")
    return (
        f"with src as (select * from {corpus_sql}), "
        f"qd0 as (select {id_col} as query_id, {vec_col} as qvec, "
        f"  {dots} as dots from src where {query_pred}), "
        f"qe as (select query_id, qvec, "
        f"  unnest(generate_series(1, {n_cells})) as cell, dots from qd0), "
        f"qd as (select query_id, qvec, cell, dots[cell] as dot, "
        f"  row_number() over (partition by query_id "
        f"    order by dots[cell] desc, cell asc) as r from qe), "
        f"q as (select query_id, qvec, cell from qd where r <= {probe}), "
        f"c as (select {id_col} as match_id, {vec_col} as cvec, "
        f"  {ivf_cell_sql(vec_col, cents)} as cell from src), "
        f"scored as (select query_id, match_id, {cos} as cosine "
        f"  from c join q using (cell) where query_id != match_id), "
        + _ranked_sql(k)
    )


def kmeans_train(df: DataFrame, vec_col: str, n_cells: int, dim: int,
                 iters: int = 5, seed: int = 977) -> list[list[float]]:
    """Spherical k-means (Dhillon & Modha 2001) for IVF centroids, as
    DataFrame ops.

    Per iteration: argmax-dot assignment (with UNIT centroids this is
    max-cosine — the SAME rule ivf_topk uses) → per-cell mean via
    ``dim`` sum-aggregates + a count (one shuffle of n_cells partial
    rows per map task) → renormalize to unit length (the spherical
    update; an unnormalized mean shrinks and makes argmax-dot
    incoherent). The only driver-side data is the n_cells×dim centroid
    matrix itself — model parameters, small by definition — so this
    scales like any aggregation. Deterministic: centroids init from the
    seed family; empty/zero cells keep their previous centroid.
    Iterative (non-SQL-expressible): the gate value-checks the result
    against an independent numpy replication instead of a SQL twin."""
    cents = make_centroids(n_cells, dim, seed)
    v = _as_double(F.col(vec_col))
    # r07: a single-file embeddings table otherwise runs every
    # assignment+sum iteration in ONE task (same fix as semdedup_pairs)
    df = ensure_min_parallelism(df)
    for _ in range(iters):
        assigned = df.select(
            ivf_cell_expr(F.col(vec_col), cents).alias("cell"),
            v.alias("_v"),
        )
        agg = assigned.groupBy("cell").agg(
            F.count(F.lit(1)).alias("n"),
            *[F.sum(F.element_at(F.col("_v"), i + 1)).alias(f"s{i}")
              for i in range(dim)],
        )
        new = list(cents)
        for row in agg.collect():
            if row["n"] > 0:
                mean = [row[f"s{i}"] / row["n"] for i in range(dim)]
                norm = sum(x * x for x in mean) ** 0.5
                if norm > 0:
                    new[row["cell"] - 1] = [x / norm for x in mean]
        cents = new
    return cents


# --- SemDeDup (Abbas et al. 2023) -------------------------------------------

def semdedup_pairs(df: DataFrame, vec_col: str, id_col: str,
                   centroids: list[list[float]],
                   threshold: float = 0.95) -> DataFrame:
    """(id_a, id_b, cosine): semantic near-dup pairs WITHIN coarse
    clusters — SemDeDup's candidate structure. Cell assignment is a
    codegen argmax projection (no shuffle); the exact-cosine self-join
    shuffles on the cell key only, so pair work is Σ|cell|², bounded
    by the quantizer granularity — never corpus². Centroids are model
    parameters (train with kmeans_train, pass as literals)."""
    # r07, two changes with bit-identical output:
    # 1. The vector NORM is a per-ROW value — computing it inside
    #    cosine_expr per PAIR multiplied the fold count by the cell
    #    size (Σ|cell|² pairs × 3 folds each). Both norms are hoisted
    #    into the pre-join projection (norm_expr is the exact
    #    subexpression cosine_expr computed per side), leaving ONE
    #    fold (the dot) per pair.
    # 2. ensure_min_parallelism: a single-file embeddings table arrives
    #    as one cached partition; the small side broadcasts, so the
    #    ENTIRE Σ|cell|² pair loop ran in a single task (measured: 1
    #    task × 254k pairs at sf0.1 — the whole q12 wall time).
    cells = ensure_min_parallelism(df).select(
        F.col(id_col), _as_double(F.col(vec_col)).alias("_v"),
        ivf_cell_expr(F.col(vec_col), centroids).alias("_cell"),
    ).select(
        id_col, "_v", "_cell", norm_expr(F.col("_v")).alias("_n"),
    )
    a = cells.select(F.col(id_col).alias("id_a"),
                     F.col("_v").alias("_va"), F.col("_n").alias("_na"), "_cell")
    b = cells.select(F.col(id_col).alias("id_b"),
                     F.col("_v").alias("_vb"), F.col("_n").alias("_nb"), "_cell")
    cos = cosine_from_parts_expr(
        dot_expr(F.col("_va"), F.col("_vb")),
        F.col("_na"), F.col("_nb"))
    return (
        a.join(b, on="_cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(cos, 6).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def semdedup_pairs_sql(table_sql: str, vec_col: str, id_col: str,
                       centroids: list[list[float]],
                       threshold: float = 0.95) -> str:
    cell = ivf_cell_sql(vec_col, centroids)
    cos = cosine_sql("a._va", "b._vb")
    return (
        f"with cells as (select {id_col}, "
        f"list_transform({vec_col}, x -> cast(x as double)) as _v, "
        f"{cell} as _cell from {table_sql}), "
        f"a as (select {id_col} as id_a, _v as _va, _cell from cells), "
        f"b as (select {id_col} as id_b, _v as _vb, _cell from cells) "
        f"select id_a, id_b, cosine from (select id_a, id_b, "
        f"round({cos}, 6) as cosine from a join b using (_cell) "
        f"where id_a < id_b) where cosine >= {threshold}"
    )


def semdedup_keep(df: DataFrame, vec_col: str, id_col: str,
                  centroids: list[list[float]],
                  threshold: float = 0.95) -> DataFrame:
    """Every row flagged keep/drop: connected components over the
    within-cluster pair graph, min-id representative kept (the repo's
    standard dedup decision — components.dedup_keep_list)."""
    from .components import dedup_keep_list

    pairs = semdedup_pairs(df, vec_col, id_col, centroids, threshold)
    return dedup_keep_list(
        df.select(id_col), pairs.select("id_a", "id_b"), id_col)


def semdedup_keep_sql(table_sql: str, vec_col: str, id_col: str,
                      centroids: list[list[float]],
                      threshold: float = 0.95) -> str:
    from .components import dedup_keep_list_sql

    pairs = semdedup_pairs_sql(table_sql, vec_col, id_col, centroids,
                               threshold)
    return dedup_keep_list_sql(
        f"(select {id_col} from {table_sql})",
        f"(select id_a, id_b from ({pairs}))", id_col)
