"""Connected components + dedup clustering: pairs → clusters → keep-list.

The reference's only dedup is anti-membership (smparsers.py:207). A
training-data pipeline needs the full chain: candidate PAIRS (MinHash
LSH / embedding LSH) are not a dedup decision — near-dup relations are
transitive in practice (A~B, B~C), so pairs must be clustered and one
representative kept per cluster.

``connected_components`` is min-label propagation to fixpoint with one
hash join + partial-agg per iteration:

    label(n) ← min(label(n), min over neighbors label(m))

Iterations = graph diameter. Near-dup graphs are unions of near-cliques
(diameter 2-3), so this converges in 2-4 rounds — for that workload,
hop propagation beats the asymptotically-better large-star/small-star
(Kiveris et al., "Connected Components in MapReduce", SoCC'14) on
constant factors; ``max_iterations`` guards the pathological-chain case
and the loop STOPS as soon as an iteration changes nothing (driver-side
count of changed labels — one scalar per iteration, not a collect of
data). Each iteration localCheckpoints to cut lineage (at cluster
scale: checkpoint to the reliable store instead).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import jaccard_pairs
from .hashing import XXHASH64, HashFamily
from .lineage import _cut_lineage


def connected_components(pairs: DataFrame, id_a: str = "id_a",
                         id_b: str = "id_b",
                         max_iterations: int = 20,
                         checkpoint: str = "local") -> DataFrame:
    """(id, cluster_id) for every node appearing in ``pairs``; the
    cluster id is the minimum node id reachable from the node.

    ``checkpoint``: 'local' (default, single-box / short jobs) or
    'reliable' (cluster-scale; see _cut_lineage)."""
    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = _cut_lineage(
        edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).distinct(),
        checkpoint,
    )  # reused every iteration
    # Iteration 1 fused with label init (r07): with label(n)==n the
    # neighbor-min join degenerates to min(dst) per src, and the node
    # set IS groupBy(src)'s key set (edges are symmetrized) — one
    # partial-agg'd shuffle replaces the distinct + join + agg trio the
    # generic iteration pays.
    labels = _cut_lineage(
        edges.groupBy("src").agg(F.min("dst").alias("_nbr"))
        .select(F.col("src").alias("node"),
                F.least(F.col("src"), F.col("_nbr")).alias("label")),
        checkpoint,
    )

    for _ in range(max_iterations - 1):
        nbr_min = (
            edges.join(
                labels.select(F.col("node").alias("dst"),
                              F.col("label").alias("dst_label")),
                on="dst",
            )
            .groupBy("src")
            .agg(F.min("dst_label").alias("nbr_label"))
            .withColumnRenamed("src", "node")
        )
        # _chg rides through the checkpoint so convergence is a plain
        # filter-count over already-materialized partitions — the
        # pre-r07 shape re-joined new vs old labels (one extra shuffle
        # join per iteration) just to count changes. nbr_label < label
        # ⟺ the least() below strictly lowers the label (null < x is
        # null → filtered false, matching the old inequality join).
        new_labels = _cut_lineage(
            labels.join(nbr_min, on="node", how="left")
            .select(
                "node",
                F.least(F.col("label"),
                        F.coalesce(F.col("nbr_label"), F.col("label"))
                        ).alias("label"),
                (F.col("nbr_label") < F.col("label")).alias("_chg"),
            ),
            checkpoint,
        )
        changed = new_labels.filter("_chg").count()
        labels = new_labels.drop("_chg")
        if changed == 0:
            break
    return labels.select(F.col("node").alias("id"), F.col("label").alias("cluster_id"))


def connected_components_sql(pairs_sql: str, id_a: str = "id_a",
                             id_b: str = "id_b") -> str:
    """DuckDB twin: recursive closure (node, reachable) → min per node.

    Quadratic in cluster size — the ORACLE rendering for the small gate,
    not the scale algorithm.
    """
    return (
        f"with recursive pairs as ({pairs_sql}), "
        f"edges as (select {id_a} as src, {id_b} as dst from pairs "
        f"  union select {id_b} as src, {id_a} as dst from pairs), "
        f"reach as ("
        f"  select src as node, src as r from edges "
        f"  union "
        f"  select e.src as node, reach.r from edges e "
        f"  join reach on e.dst = reach.node) "
        f"select node as id, min(r) as cluster_id from reach group by node"
    )


def dedup_keep_list(df: DataFrame, pairs: DataFrame, id_col: str,
                    max_iterations: int = 20,
                    checkpoint: str = "local") -> DataFrame:
    """The dedup DECISION: every row of ``df``, flagged keep/drop.

    Cluster representatives are the min id per component; rows not in
    any pair are their own representative (kept). The drop-list join is
    deliberately NOT hint-broadcast: at 10^12 docs with web-realistic
    near-dup rates (tens of percent) the drop-list is 10^10+ ids — a
    forced broadcast would OOM the driver. A plain equi-join lets AQE
    pick broadcast when the list is genuinely under the threshold and
    shuffle-hash/sort-merge otherwise; for repeated runs against a
    stable corpus, bucket both sides on ``id_col``
    (sources.tables.write_bucketed) to make it a zero-shuffle join.
    """
    comp = connected_components(pairs, max_iterations=max_iterations,
                                checkpoint=checkpoint)
    drops = comp.filter(F.col("id") != F.col("cluster_id")) \
        .select(F.col("id").alias(id_col)).withColumn("_drop", F.lit(True))
    return (
        df.join(drops, on=id_col, how="left")
        .withColumn("keep_dedup", F.col("_drop").isNull())
        .drop("_drop")
    )


def near_dup_dedup(df: DataFrame, text_col: str, id_col: str,
                   checkpoint: str | None = "local", *,
                   family: HashFamily = XXHASH64) -> DataFrame:
    """The near-dup chain, end to end:

        MinHash-LSH candidates in ``family`` (default ``XXHASH64``,
        128 hashes / 16 bands)
          → exact shingle-Jaccard verification (candidates only)
          → connected components (transitive closure)
          → keep_dedup flag per row (min-id representative kept)

    This is the operator a 100-TB training-data pipeline actually runs,
    and the corpus build's s3 (jobs/build_corpus.py). ``family=MD5`` is
    the oracle profile of the identical topology, value-checked against
    DuckDB through the ``corpus_build`` gate entry;
    tests/test_dedup_recall.py pins the production chain's recall on
    planted J≈0.85 near-dups.

    ``checkpoint`` (local/reliable, see _cut_lineage) materializes the
    candidate list; None leaves it lazy. Connected components always
    cuts its per-iteration lineage, in 'local' mode when
    ``checkpoint`` is None.
    """
    pairs = jaccard_pairs(df, text_col, id_col, family=family,
                          checkpoint=checkpoint)
    return dedup_keep_list(df, pairs, id_col, checkpoint=checkpoint or "local")


def dedup_keep_list_sql(table_sql: str, pairs_sql: str, id_col: str) -> str:
    cc = connected_components_sql(pairs_sql)
    return (
        f"with cc as ({cc}) "
        f"select t.*, t.{id_col} not in "
        f"(select id from cc where id != cluster_id) as keep_dedup "
        f"from {table_sql} t"
    )


def dedup_keep_best(df: DataFrame, pairs: DataFrame, id_col: str,
                    score_col: str,
                    max_iterations: int = 20,
                    checkpoint: str = "local") -> DataFrame:
    """Quality-aware survivor selection: within each near-dup cluster
    keep the HIGHEST-``score_col`` row (tie → lowest id) instead of the
    arbitrary min-id representative — the choice a training-data
    pipeline actually wants (drop the boilerplate-laden mirror, keep
    the cleanest copy).

    Scale shape: components as in ``dedup_keep_list``; survivor choice
    is one partial-aggregated ``max(struct(score, -id))`` per cluster
    (no window/sort), then a plain survivor join — never broadcast by
    hint, the cluster count grows with the corpus. ``id_col`` must be
    numeric (negation is the deterministic tie-breaker).
    """
    comp = connected_components(pairs, max_iterations=max_iterations,
                                checkpoint=checkpoint)
    scored = comp.join(
        df.select(F.col(id_col).alias("id"), F.col(score_col).alias("_s")),
        on="id",
    )
    best = (
        scored.groupBy("cluster_id")
        .agg(F.max(F.struct(F.col("_s"), (-F.col("id")).alias("_nid")))
             .alias("_b"))
        .select((-F.col("_b._nid")).alias(id_col))
        .withColumn("_survivor", F.lit(True))
    )
    clustered = comp.select(F.col("id").alias(id_col)) \
        .withColumn("_clustered", F.lit(True))
    return (
        df.join(clustered, on=id_col, how="left")
        .join(best, on=id_col, how="left")
        .withColumn(
            "keep_dedup",
            F.col("_clustered").isNull() | F.col("_survivor").isNotNull(),
        )
        .drop("_clustered", "_survivor")
    )


def dedup_keep_best_sql(table_sql: str, pairs_sql: str, id_col: str,
                        score_expr: str) -> str:
    """DuckDB twin of dedup_keep_best (window rendering — the oracle
    form; Spark uses the order-free max(struct) form)."""
    cc = connected_components_sql(pairs_sql)
    return (
        f"with cc as ({cc}), "
        f"scored as (select cc.id, cc.cluster_id, {score_expr} as s "
        f"  from cc join {table_sql} t on t.{id_col} = cc.id), "
        f"best as (select id from ("
        f"  select id, row_number() over (partition by cluster_id "
        f"    order by s desc, id asc) as rn from scored) where rn = 1) "
        f"select t.*, (t.{id_col} not in (select id from cc) "
        f"or t.{id_col} in (select id from best)) as keep_dedup "
        f"from {table_sql} t"
    )
