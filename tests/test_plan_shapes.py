"""Physical-plan shape assertions — the scale contract.

Correct results with a wrong plan is a failure mode at 100 TB: these
tests pin the plan properties the engine's performance depends on
(broadcast joins stay broadcast, UDFs stay fused, filters reach the
scan, self-joins reuse exchanges, aggregations stay partial).
"""

import re

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as E
from social_media_pii_scrubber_spark.config import ScrubConfig
from social_media_pii_scrubber_spark.operators.dedup import (
    exact_dedup, jaccard_pairs, lsh_candidate_pairs,
)
from social_media_pii_scrubber_spark.operators import similarity as SIM
from social_media_pii_scrubber_spark.operators.hashing import MD5, XXHASH64
from social_media_pii_scrubber_spark.operators.joins import anti_join, semi_flag_join
from social_media_pii_scrubber_spark.plans.pipeline import filter_scrub_pipeline
from social_media_pii_scrubber_spark.sources.webpages import webpages_from_documents

CFG = ScrubConfig()


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_flagship_single_python_barrier(spark, sf_dir):
    """langid + perplexity must fuse into ONE ArrowEvalPython node —
    two nodes means an extra JVM↔Python round-trip for every row."""
    pages = webpages_from_documents(spark, sf_dir)
    df = filter_scrub_pipeline(pages, CFG, use_model_udfs=True).df
    p = plan_of(df)
    assert p.count("ArrowEvalPython") == 1, p[:2000]


def test_flagship_scrub_evaluated_once_in_codegen(spark, sf_dir):
    """The regex scrub bank must be evaluated exactly once, inside a
    WholeStageCodegen projection (Catalyst may legally hoist it above
    the Python barrier — fine, as long as it stays codegen'd and isn't
    duplicated)."""
    pages = webpages_from_documents(spark, sf_dir)
    df = filter_scrub_pipeline(pages, CFG, use_model_udfs=True).df
    p = plan_of(df)
    assert p.count("{{TIMESTAMP}}") == 1, "scrub chain duplicated in plan"
    scrub_line = [l for l in p.split("\n") if "{{TIMESTAMP}}" in l][0]
    assert scrub_line.lstrip().startswith("*"), (
        "scrub projection fell out of whole-stage codegen: " + scrub_line[:120]
    )


def test_date_filter_pushed_to_parquet(spark, sf_dir):
    """P1 on a stored timestamp column must reach PushedFilters."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    df = ev.filter(F.col("ts").between("2024-01-05", "2024-01-10")).select("event_id")
    p = plan_of(df)
    assert "PushedFilters" in p
    assert "GreaterThanOrEqual(ts" in p and "LessThanOrEqual(ts" in p, p


def test_semi_flag_join_is_broadcast(spark, sf_dir):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    keys = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey").alias("o_custkey")
    )
    p = plan_of(semi_flag_join(o, keys, "o_custkey", "flag"))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_anti_join_is_broadcast(spark, sf_dir):
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").withColumnRenamed(
        "o_custkey", "c_custkey"
    )
    p = plan_of(anti_join(c, o, "c_custkey"))
    assert "BroadcastHashJoin" in p and "LeftAnti" in p


@pytest.mark.parametrize("family", [MD5, XXHASH64], ids=lambda f: f.name)
def test_lsh_self_join_reuses_exchange(spark, sf_dir, family):
    """The expensive minhash subtree must be computed once, not once
    per self-join side — in both hash families."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = lsh_candidate_pairs(docs, "text", "doc_id", family=family)
    df.collect()  # AQE finalizes the plan
    p = plan_of(df)
    assert "ReusedExchange" in p, p[:3000]


@pytest.mark.parametrize("planes", [SIM.COORD_PLANES, SIM.hyperplanes(8, 4)],
                         ids=["coord", "gauss8x4"])
def test_embedding_lsh_self_join_reuses_exchange(spark, sf_dir, planes):
    """The embedding LSH's (tbl, bucket) self-join must reuse one
    exchange in both plane profiles: the bucket computation runs once
    total, and the join key is n_tables·2^n_planes-way parallel."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    df = SIM.embedding_dup_pairs(emb, "embedding", "vec_id", planes=planes)
    df.collect()  # AQE finalizes the plan
    p = plan_of(df)
    assert "ReusedExchange" in p, p[:3000]
    assert "CartesianProduct" not in p
    # the matmul kernel must appear ONCE in the FINAL plan (reuse covers
    # both join sides) — a second ArrowEvalPython means the buckets
    # recompute — and the expr kernel adds none. (toString also prints
    # AQE's Initial Plan, where both sides legitimately still carry the
    # UDF — cut it off.)
    final = p.split("== Initial Plan ==")[0]
    assert final.count("ArrowEvalPython") == int(planes.udf), final[:3000]


def test_simhash64_partial_agg_pure_codegen(spark, sf_dir):
    """q5b scale contract: the 64 bit-vote sums must partial-aggregate
    map-side (two HashAggregates around one id-hash exchange — at
    corpus scale the map-side combine IS the operator: tokens collapse
    to one 64-column row per doc per task before the shuffle), the
    token hash must be computed once (single xxhash64 in the plan, not
    per-vote), and the whole operator stays in codegen — zero Python."""
    from social_media_pii_scrubber_spark.operators.dedup import (
        simhash_signature_fast,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    p = plan_of(simhash_signature_fast(docs, "text", "doc_id"))
    assert p.count("HashAggregate") >= 2, p[:3000]
    assert "Exchange hashpartitioning(doc_id" in p, p[:3000]
    assert p.lower().count("xxhash64") == 1, p[:3000]
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_exact_dedup_partial_aggregation(spark, sf_dir):
    """groupBy(fingerprint) must map-side combine (two HashAggregates
    around the exchange) — at 100 TB the partial agg IS the operator."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    p = plan_of(exact_dedup(docs, "text", "doc_id"))
    assert p.count("HashAggregate") >= 2
    exchange_pos = p.find("Exchange hashpartitioning(fp")
    assert exchange_pos > 0


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    """Two tables bucketed on the same key must join WITHOUT any
    Exchange — the co-located-join contract write_bucketed exists for."""
    from social_media_pii_scrubber_spark.sources.tables import (
        load_bucketed, write_bucketed,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    write_bucketed(docs.select("doc_id", "text"), "t_bkt_a", "doc_id", 8)
    write_bucketed(docs.select("doc_id", "lang"), "t_bkt_b", "doc_id", 8)
    try:
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = load_bucketed(spark, "t_bkt_a").join(
                load_bucketed(spark, "t_bkt_b"), on="doc_id"
            )
            p = plan_of(j)
            assert "Exchange" not in p, p[:2000]
            assert "SortMergeJoin" in p
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        spark.sql("drop table if exists t_bkt_a")
        spark.sql("drop table if exists t_bkt_b")


def test_toxic_flagship_scrub_once_no_python(spark, sf_dir):
    """The {{TOXIC}} scrub must be evaluated once with zero Python in
    the plan. (The score's transform+aggregate HOF is interpreted —
    higher-order functions never codegen — so unlike the PII-only
    flagship this projection is legitimately outside WholeStageCodegen;
    the model-UDF scoring path exists for when that matters.)"""
    pages = webpages_from_documents(spark, sf_dir)
    df = filter_scrub_pipeline(pages, CFG, use_toxicity=True).df
    p = plan_of(df)
    assert p.count("{{TOXIC}}") == 1
    assert "EvalPython" not in p


def test_column_only_pipeline_no_python(spark, sf_dir):
    """use_model_udfs=False must have ZERO Python in the plan."""
    pages = webpages_from_documents(spark, sf_dir)
    df = filter_scrub_pipeline(pages, CFG, use_model_udfs=False).df
    p = plan_of(df)
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_line_dedup_partial_agg_no_cartesian(spark, sf_dir):
    """line_dedup's first-occurrence aggregate must partial-combine
    map-side (partial_min before the line exchange — a line repeated
    10^6 times sends one candidate per task, not 10^6 rows), and the
    join back must never degenerate to a cartesian product."""
    from social_media_pii_scrubber_spark.operators.lines import line_dedup
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", F.regexp_replace("text", r" the ", "\nthe ").alias("t"))
    # pin the AT-SCALE topology: at web scale the first-occurrence side
    # is corpus-sized and can never broadcast, so assert the reuse shape
    # with broadcast disabled (at small scale AQE broadcasting it
    # instead is fine and covered by the oracle entry)
    old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = line_dedup(docs, "t", "doc_id")
        df.collect()  # AQE finalizes
        p = plan_of(df)
        assert "partial_min" in p, p[:3000]
        # the single line-key exchange must be REUSED by the join probe
        # side (same topology as the LSH self-join), not built twice
        assert "ReusedExchange" in p, p[:3000]
        assert "CartesianProduct" not in p
        assert "BroadcastNestedLoopJoin" not in p
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)


def test_substring_remove_reuses_window_exchange(spark, sf_dir):
    """substring_remove pins line_dedup's topology: the 128-bit
    window-fingerprint exchange is computed ONCE and reused by the
    first-occurrence aggregate and the join probe (keying on the md5
    string instead measurably broke AQE stage reuse — the corpus would
    be exploded and hashed twice), with map-side partial_min and no
    cartesian degeneration."""
    from social_media_pii_scrubber_spark.operators.dedup import (
        substring_remove,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = substring_remove(docs, "text", "doc_id")
        df.collect()  # AQE finalizes
        p = plan_of(df)
        assert "partial_min" in p, p[:3000]
        assert "ReusedExchange" in p, p[:3000]
        assert "CartesianProduct" not in p
        assert "BroadcastNestedLoopJoin" not in p
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)


def test_dsir_ratio_join_broadcast_and_partial_sum(spark, sf_dir):
    """DSIR's per-doc scoring join must broadcast the bounded
    16^prefix-row ratio dimension (static stats mis-estimate it through
    the bucket-space join and would shuffle the whole exploded corpus
    into a SortMergeJoin), and the Σ logr per doc must partial-combine
    map-side."""
    from social_media_pii_scrubber_spark.operators import dsir as DS

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sdist = DS.bucket_distribution(d, "text")
    tdist = DS.bucket_distribution(d.filter(F.col("lang") == "en"), "text")
    w = DS.dsir_weights(d, "text", "doc_id", DS.log_ratio(tdist, sdist))
    p = plan_of(w)
    ratio_joins = [l for l in p.split("\n")
                   if "Join" in l and "bucket" in l and "LeftOuter" in l]
    assert ratio_joins and all("BroadcastHashJoin" in l for l in ratio_joins), (
        ratio_joins or p[:3000])
    assert "partial_sum" in p, p[:3000]


def test_classifier_score_broadcast_and_partial_sum(spark, sf_dir):
    """quality classifier inference shares DSIR's scale topology: the
    bounded weight dimension must broadcast into the scoring join and
    the per-doc logit sum must partial-combine map-side."""
    from social_media_pii_scrubber_spark.operators import classifier as CL

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = CL.classifier_score(d, "text", "doc_id",
                              CL.hash_weights_table(spark), bias=-0.25)
    p = plan_of(out)
    joins = [l for l in p.split("\n")
             if "Join" in l and "bucket" in l and "LeftOuter" in l]
    assert joins and all("BroadcastHashJoin" in l for l in joins), (
        joins or p[:3000])
    assert "partial_sum" in p, p[:3000]


def test_global_shuffle_one_exchange_no_global_sort(spark, sf_dir):
    """The shuffled-order materialization must cost exactly ONE
    exchange (hashpartitioning on shard) + a per-shard window sort —
    a rangepartitioning exchange would mean a global sort (sampling
    pass + skew exposure), and a second hash exchange would mean the
    shard projection ran after the shuffle instead of before it."""
    from social_media_pii_scrubber_spark.operators.sampling import global_shuffle

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    df = global_shuffle(d, "doc_id", 8)
    df.collect()  # finalize AQE
    p = plan_of(df)
    final = p.split("== Initial Plan ==")[0]
    assert final.count("Exchange hashpartitioning") == 1, final[:2000]
    assert "rangepartitioning" not in final, final[:2000]
    assert "ArrowEvalPython" not in final


def test_fix_mojibake_pure_codegen_projection(spark, sf_dir):
    """The 123-pair repair chain must stay a single codegen projection
    over the scan: no exchange, no Python barrier — clean rows pay the
    six-contains marker guard only."""
    from social_media_pii_scrubber_spark.functions.encoding import (
        fix_mojibake_expr,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = d.select(F.sum(F.length(
        fix_mojibake_expr(F.col("text")))).alias("s"))
    p = plan_of(df)
    scan_to_agg = p.split("FileScan")[0]
    assert "ArrowEvalPython" not in p
    assert "Exchange hashpartitioning" not in scan_to_agg.replace(
        "Exchange SinglePartition", "")  # only the final agg gather


# Plan properties of the gate entries: each test below builds one
# ``queries()`` entry over the sf0.01 tables, the frames
# ``check_oracle.py`` value-checks.

def entry(spark, name):
    return E.queries()[name](spark, E.ORACLE_SF)


class Node:
    """One physical operator, with AQE wrappers, query stages, shuffle
    reads and codegen spans unwrapped."""

    def __init__(self, j):
        out = [j.output().apply(i) for i in range(j.output().size())]
        self.name = j.nodeName()
        self.desc = j.simpleString(10_000)
        self.cols = [a.name() for a in out]
        self.types = [a.dataType().typeName() for a in out]
        self.children = [_tree(j.children().apply(i))
                         for i in range(j.children().size())]

    def walk(self):
        yield self
        for c in self.children:
            yield from c.walk()


def _tree(j):
    name = j.nodeName()
    if name == "AdaptiveSparkPlan":
        return _tree(j.executedPlan())
    if name.endswith("QueryStage"):
        return _tree(j.plan())
    if name in ("AQEShuffleRead", "InputAdapter") \
            or name.startswith("WholeStageCodegen"):
        return _tree(j.child())
    return Node(j)


def tree_of(df):
    """The physical plan as a Node tree; run ``df.collect()`` first to
    get AQE's final plan."""
    return _tree(df._jdf.queryExecution().executedPlan())


def final_tree(df):
    df.collect()
    return tree_of(df)


def _input_of(node):
    """The single child, looking through a SortAggregate's Sort."""
    (child,) = node.children
    return _input_of(child) if child.name == "Sort" else child


def assert_combines_map_side(final):
    """``final`` aggregate reads one Exchange fed by its partial (or
    partial-merge) aggregate."""
    ex = _input_of(final)
    assert ex.name == "Exchange", ex.desc
    partial = _input_of(ex)
    assert partial.name == final.name, partial.desc
    assert "partial_" in partial.desc or "merge_" in partial.desc, partial.desc


def has_broadcast_hint(df) -> bool:
    return "strategy=broadcast" in df._jdf.queryExecution() \
        .optimizedPlan().toString()


def test_flagship_langid_counts_each_marker_once(spark):
    """The langid split and the four per-language marker counts are
    let-bound: each ``size(filter(words, x IN markers))`` appears once
    in the projection, not once per CASE branch that compares it."""
    from social_media_pii_scrubber_spark.functions.langid import (
        LANG_MARKERS, LANG_ORDER,
    )

    p = plan_of(entry(spark, "flagship_pipeline"))
    for lang in LANG_ORDER:
        markers = f"IN ({','.join(LANG_MARKERS[lang])})"
        assert p.count(markers) == 1, (lang, p.count(markers))


@pytest.mark.parametrize("name", ["line_dedup", "paragraph_dedup"])
def test_line_dedup_ships_only_fingerprints(spark, name):
    """Only (id, pos, h1, h2) rows of qualifying lines cross the
    fingerprint Exchange; no exchange downstream of the line explode
    carries a string, and the one fingerprint Exchange is reused by the
    first-occurrence aggregate and the join probe. Checked on the static
    plan (AQE off): at sf0.01 paragraph_dedup finds no duplicate, and
    AQE's empty-relation rule then drops the whole dedup branch from
    the final plan."""
    old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        root = tree_of(entry(spark, name))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)
    exchanges = [n for n in root.walk() if "Exchange" in n.name]
    below_explode = [n for n in exchanges
                     if any(m.name == "Generate" for m in n.walk())]
    assert below_explode
    assert not [n.desc for n in below_explode if "string" in n.types]
    fp = [n for n in exchanges if n.cols == ["_id", "_pos", "_h1", "_h2"]]
    assert [n.name for n in fp].count("Exchange") == 1, [n.desc for n in fp]
    assert "ReusedExchange" in [n.name for n in fp], [n.desc for n in fp]


def test_host_reputation_one_exchange_between_partial_and_final(spark):
    """The host rollup is one map-side-combined groupBy(host): its final
    HashAggregate reads one Exchange whose input is a partial
    HashAggregate."""
    root = final_tree(entry(spark, "host_reputation"))
    final = next(n for n in root.walk()
                 if n.name == "HashAggregate" and "n_pages" in n.cols)
    assert_combines_map_side(final)


@pytest.mark.parametrize(
    "name", ["host_filter", "dedup_keep_list", "incremental_dedup"])
def test_corpus_sized_join_has_no_broadcast_hint(spark, name):
    """The bad-host list, the dedup drop-list and the previous
    snapshot's fingerprints grow with the corpus: their joins are plain
    equi-joins (AQE may still broadcast them when small), never a
    broadcast hint."""
    assert not has_broadcast_hint(entry(spark, name))


def test_web_preprocess_no_cartesian_scrub_once(spark):
    """The composed preprocess chain joins on keys only (no cartesian
    or nested-loop join) and evaluates the scrub bank once."""
    root = final_tree(entry(spark, "web_preprocess"))
    names = [n.name for n in root.walk()]
    assert "CartesianProduct" not in names
    assert "BroadcastNestedLoopJoin" not in names
    scrub = [n for n in root.walk() if "{{TIMESTAMP}}" in n.desc]
    assert len(scrub) == 1 and scrub[0].desc.count("{{TIMESTAMP}}") == 1


def test_substring_dup_count_partial_before_exchange(spark):
    """The window-occurrence count is a groupBy(wh) that combines
    map-side: its final aggregate reads an Exchange fed by a partial
    count, so a window repeated a million times ships one row per task."""
    root = final_tree(entry(spark, "substring_dup"))
    final = next(n for n in root.walk()
                 if n.name == "HashAggregate" and n.cols == ["wh", "occ"])
    assert_combines_map_side(final)
    assert "hashpartitioning(wh" in _input_of(final).desc


def test_lsh_signature_partial_before_exchange(spark):
    """The minhash signature's min aggregates combine map-side: one row
    per (task, doc) crosses the id Exchange, not one per shingle."""
    root = final_tree(entry(spark, "lsh_pairs"))
    finals = [n for n in root.walk() if n.name.endswith("Aggregate")
              and "mh_0" in n.cols and "partial_min" not in n.desc]
    assert finals
    for final in finals:
        assert_combines_map_side(final)


def test_ivf_topk_cell_assignment_and_query_broadcast(spark):
    """Cell assignment is a per-row projection: no hash Exchange and no
    Python below it (the only exchange allowed there is
    ensure_min_parallelism's round-robin fan-out of a small input). The
    probe join broadcasts the small query side."""
    root = final_tree(entry(spark, "ivf_topk"))
    cell = next(n for n in root.walk()
                if n.name == "Project" and "cell" in n.cols
                and "match_id" in n.cols)
    below = [n for n in cell.walk()][1:]
    assert not [n.desc for n in below if "hashpartitioning" in n.desc]
    assert not [n for n in below if "EvalPython" in n.name]
    (probe,) = [n for n in root.walk() if "Join" in n.name]
    assert probe.name == "BroadcastHashJoin", probe.desc
    (build,) = [c for c in probe.children if c.name == "BroadcastExchange"]
    assert "query_id" in build.cols and "match_id" not in build.cols


def test_ccnet_buckets_one_window_sort_by_lang(spark):
    """The exact-rank terciles are one window pass per language: one
    Exchange hash-partitioned on lang and one Sort led by lang, shared
    by the rank and the count Window operators."""
    root = final_tree(entry(spark, "ccnet_buckets"))
    exchanges = [n for n in root.walk() if "Exchange" in n.name]
    sorts = [n for n in root.walk() if n.name == "Sort"]
    windows = [n for n in root.walk() if n.name == "Window"]
    assert len(exchanges) == 1 and "hashpartitioning(lang" in exchanges[0].desc
    assert len(sorts) == 1 and sorts[0].desc.startswith("Sort [lang")
    specs = [s for n in windows
             for s in re.findall(r"windowspecdefinition\((\w+)", n.desc)]
    assert specs and set(specs) == {"lang"}, specs


def test_corpus_build_final_stage_reads_checkpoints(spark):
    """The default build materializes each multi-consumer stage, so its
    returned plan is only the last stage: the pack window and its
    join-back over the s7 checkpoint, read twice. Two shuffle Exchanges
    (pack bucket, join key), the two checkpoint reads its only scans
    (nothing re-derived from the sources), no broadcast hint on any
    side."""
    df = entry(spark, "corpus_build")
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    assert logical.count("LogicalRDD") == 2, logical
    assert not has_broadcast_hint(df)
    root = final_tree(df)
    names = [n.name for n in root.walk()]
    assert names.count("Exchange") == 2, names
    scans = [n for n in names if n.startswith("Scan")]
    assert scans == ["Scan ExistingRDD"] * 2, names


def test_checkpointed_writer_one_bucket_exchange_then_checkpoint_reads(
        spark, sf_dir, tmp_path, monkeypatch):
    """The writer's materialization adds exactly one Exchange above the
    pipeline, partitioned on ``bucket`` (one file per bucket), and every
    batch's write plan reads only the checkpoint (``Scan ExistingRDD``),
    with no Exchange: no batch re-derives the pipeline."""
    from pyspark.sql import DataFrameWriter

    from social_media_pii_scrubber_spark.plans import checkpoint as C

    cut, written = [], []
    real_cut, real_parquet = C._cut_lineage, DataFrameWriter.parquet

    def spy_cut(df, mode):
        cut.append(df)
        return real_cut(df, mode)

    def spy_parquet(self, path, *args, **kwargs):
        written.append(self._df)
        return real_parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(C, "_cut_lineage", spy_cut)
    monkeypatch.setattr(DataFrameWriter, "parquet", spy_parquet)
    pages = webpages_from_documents(spark, sf_dir)
    df = filter_scrub_pipeline(pages, CFG).df
    C.write_with_checkpoints(df, str(tmp_path / "out"), n_buckets=8,
                             buckets_per_batch=4)

    def exchanges(root):
        return [n for n in root.walk() if n.name == "Exchange"]

    (mat,) = cut  # already executed by the checkpoint: AQE's final plan
    added = exchanges(tree_of(mat))
    assert len(added) == len(exchanges(final_tree(df))) + 1
    assert "hashpartitioning(bucket" in added[0].desc, added[0].desc
    assert len(written) == 2
    for w in written:
        names = [n.name for n in tree_of(w).walk()]
        assert [n for n in names if n.startswith("Scan")] \
            == ["Scan ExistingRDD"], names
        assert "Exchange" not in names, names


def test_quality_repetition_top_bigram_splits_once(spark):
    """The top-bigram column let-binds its words array: the
    ``split(trim(lower(text)))`` tree appears once in its projection,
    not once per reference (zip_with's two arguments, the slice length,
    the denominator, the n >= 2 guard)."""
    df = entry(spark, "quality_repetition").select("top_bigram_frac")
    p = plan_of(df)
    assert p.count("split(trim(lower(") == 1, p[:3000]


@pytest.mark.parametrize("family", [MD5, XXHASH64], ids=lambda f: f.name)
def test_near_dup_verify_reads_candidate_checkpoint(spark, family):
    """The verify stage reads the candidate set only as its checkpoint:
    every LogicalRDD is the (id_a, id_b) list, read by the verify join
    chain and by both sides of the semi prefilter's id union, and no LSH
    band exchange or minhash aggregate is re-derived (lazy, the fan-out
    re-ran the band join per consumer: 3.8 s → 9.9 s). Every shingle
    projection sits above the LeftSemi prefilter, so only candidate
    docs are shingled."""
    d = spark.read.parquet(f"{E.ORACLE_SF}/documents.parquet") \
        .select("doc_id", "text")
    docs = d.unionByName(d.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"))
    df = jaccard_pairs(docs, "text", "doc_id", family=family)
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    reads = logical.count("LogicalRDD")
    assert reads >= 3 and logical.count("LogicalRDD [id_a#") == reads, logical
    nodes = list(final_tree(df).walk())
    assert not [n.desc for n in nodes
                if {"band", "bkey", "mh_0"} & set(n.cols)]
    shingled = [n for n in nodes if n.name in ("Project", "Generate")
                and "zip_with(" in n.desc]
    assert shingled
    for n in shingled:
        assert any("Join" in m.name and "LeftSemi" in m.desc
                   for m in n.walk()), n.desc[:300]
