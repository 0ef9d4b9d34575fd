"""Connected-components clustering semantics (operators/components.py)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from social_media_pii_scrubber_spark.operators.components import (
    connected_components, dedup_keep_best, dedup_keep_list,
)


def _pairs(spark, edges):
    return spark.createDataFrame(
        pd.DataFrame(edges, columns=["id_a", "id_b"]), "id_a long, id_b long"
    )


def _clusters(df):
    return {r.id: r.cluster_id for r in df.collect()}


def test_two_cliques(spark):
    pairs = _pairs(spark, [(1, 2), (2, 3), (1, 3), (10, 11)])
    got = _clusters(connected_components(pairs))
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_chain_transitivity(spark):
    """A~B, B~C, C~D: the relation is transitive through propagation
    even though (A,D) was never a candidate pair."""
    pairs = _pairs(spark, [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6)])
    got = _clusters(connected_components(pairs))
    assert set(got.values()) == {1}


def test_direction_independence(spark):
    """Edges arrive as id_a < id_b, but labels must flow both ways."""
    pairs = _pairs(spark, [(5, 9), (1, 9)])  # 1 reaches 5 only via 9
    got = _clusters(connected_components(pairs))
    assert got == {1: 1, 5: 1, 9: 1}


def test_max_iterations_guard(spark):
    """A long chain with too few iterations must still return a valid
    partial labeling (every label is a real node id, no crash)."""
    pairs = _pairs(spark, [(i, i + 1) for i in range(1, 12)])
    got = _clusters(connected_components(pairs, max_iterations=2))
    assert set(got) == set(range(1, 13))
    assert all(v <= k for k, v in got.items())


def test_reliable_checkpoint_mode(spark, tmp_path, monkeypatch):
    """Same clusters under checkpoint='reliable' (cluster-scale mode:
    lineage cut to a durable dir instead of executor disks). Without a
    checkpoint dir the mode refuses to run; the dir is unset for that
    check whatever an earlier test set on the shared session."""
    with monkeypatch.context() as m:
        m.setattr(type(spark.sparkContext), "getCheckpointDir",
                  lambda self: None)
        with pytest.raises(ValueError, match="setCheckpointDir"):
            connected_components(_pairs(spark, [(1, 2)]),
                                 checkpoint="reliable").collect()
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    pairs = _pairs(spark, [(1, 2), (2, 3), (1, 3), (10, 11)])
    got = _clusters(connected_components(pairs, checkpoint="reliable"))
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    pairs = _pairs(spark, [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6)])
    got = _clusters(connected_components(pairs, checkpoint="reliable"))
    assert set(got.values()) == {1}


def test_bad_checkpoint_mode_rejected(spark):
    with pytest.raises(ValueError, match="local.*reliable"):
        connected_components(_pairs(spark, [(1, 2)]), checkpoint="s3")


def test_keep_list_join_not_forced_broadcast(spark):
    """The drop-list join must NOT be a broadcast HINT: with the auto
    threshold disabled, no BroadcastExchange may appear (a 10^10-id
    drop-list at corpus scale cannot be broadcast; AQE may still choose
    broadcast at runtime when the list is genuinely small)."""
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(range(100))}), "doc_id long")
    pairs = _pairs(spark, [(1, 2), (2, 3)])
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = dedup_keep_list(df, pairs, "doc_id")
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" not in plan, plan
        got = {r.doc_id: r.keep_dedup for r in out.collect()
               if r.doc_id in (1, 2, 3, 50)}
        assert got == {1: True, 2: False, 3: False, 50: True}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_dedup_keep_list_flags(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3, 10, 11, 50]}), "doc_id long"
    )
    pairs = _pairs(spark, [(1, 2), (2, 3), (10, 11)])
    got = {r.doc_id: r.keep_dedup for r in
           dedup_keep_list(df, pairs, "doc_id").collect()}
    # representatives (min per cluster) and untouched rows keep
    assert got == {1: True, 2: False, 3: False, 10: True, 11: False, 50: True}


def test_dedup_keep_best_survivor_selection(spark):
    """argmax(score) survives per cluster; score tie → min id; rows in
    no cluster always keep."""
    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3, 10, 11, 99],
        "score": [5.0, 9.0, 9.0, 1.0, 2.0, 0.0],
    }))
    pairs = spark.createDataFrame(pd.DataFrame({
        "id_a": [1, 2, 10], "id_b": [2, 3, 11],
    }))
    kept = {r.doc_id for r in dedup_keep_best(df, pairs, "doc_id", "score")
            .filter("keep_dedup").collect()}
    # cluster {1,2,3}: scores 5,9,9 → tie at 9 → min id 2
    # cluster {10,11}: 11 has the higher score
    # 99 untouched by any pair → kept
    assert kept == {2, 11, 99}


def test_dedup_keep_best_equal_scores_matches_min_id(spark):
    """With a constant score the survivor degrades to min id — the
    keep_list semantics."""
    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": [7, 8, 9], "score": [1.0, 1.0, 1.0]}))
    pairs = spark.createDataFrame(pd.DataFrame({"id_a": [7, 8], "id_b": [8, 9]}))
    kept = {r.doc_id for r in dedup_keep_best(df, pairs, "doc_id", "score")
            .filter("keep_dedup").collect()}
    assert kept == {7}
