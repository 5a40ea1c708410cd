"""Session-level policies the graph operators share: the join-side policy
and the release of superseded superstep states."""

from __future__ import annotations

import importlib

import pytest
from pyspark.sql import functions as F

from credigraph_spark.session import eager_checkpoint, join_side
from tests.conftest import edges_df


def _executed_plan(df) -> str:
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_join_side_broadcasts_up_to_cap_and_hash_joins_above(spark):
    big = spark.range(0, 1000).select(F.col("id").alias("k"))
    small = spark.range(0, 10).select(F.col("id").alias("k"),
                                      (F.col("id") * 2).alias("v"))
    n = small.count()
    bcast = _executed_plan(big.join(join_side(small, n), "k"))
    assert "BroadcastHashJoin" in bcast and "ShuffledHashJoin" not in bcast
    hashed = _executed_plan(big.join(join_side(small, n, cap=0), "k"))
    assert "ShuffledHashJoin" in hashed and "BroadcastHashJoin" not in hashed


EDGES7 = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6), (6, 4)]

# operator -> (module, call with (module, edges, seeds, max_iter))
LOOPS = {
    "katz": ("credigraph_spark.graph.katz",
             lambda m, e, s, k: m.katz_centrality(e, max_iter=k)[0]),
    "eigenvector": ("credigraph_spark.graph.spreading",
                    lambda m, e, s, k: m.eigenvector_centrality(e, max_iter=k)),
    "eigenvector_weighted": (
        "credigraph_spark.graph.spreading",
        lambda m, e, s, k: m.eigenvector_centrality_weighted(
            e.withColumn("w", F.lit(2.0)), "w", max_iter=k)),
    "label_spreading": ("credigraph_spark.graph.spreading",
                        lambda m, e, s, k: m.label_spreading(e, s, max_iter=k)),
    "fiedler": ("credigraph_spark.graph.spreading",
                lambda m, e, s, k: m.fiedler_vector(e, max_iter=k)),
    "salsa": ("credigraph_spark.graph.salsa",
              lambda m, e, s, k: m.salsa(e, max_iter=k)),
}


@pytest.mark.parametrize("name", sorted(LOOPS))
def test_loop_releases_superseded_states(spark, monkeypatch, name):
    """A power-iteration loop frees each superseded checkpointed state once
    its successor is materialized, so its cached RDD count does not grow
    with the iteration count. Every checkpoint the operator makes (and
    every output) stays referenced here, so the ContextCleaner cannot free
    a leaked state behind the operator's back and hide the growth."""
    mod_name, run = LOOPS[name]
    mod = importlib.import_module(mod_name)
    held = []

    def recording_checkpoint(df):
        out = eager_checkpoint(df)
        held.append(out)
        return out

    monkeypatch.setattr(mod, "eager_checkpoint", recording_checkpoint)
    edges = edges_df(spark, EDGES7)
    seeds = spark.createDataFrame([(1, 1.0), (5, 0.0)], "vid long, y double")
    sc = spark.sparkContext

    def new_persisted(max_iter: int) -> int:
        before = set(sc._jsc.getPersistentRDDs().keySet())
        out = run(mod, edges, seeds, max_iter)
        out.collect()
        held.append(out)
        return len(set(sc._jsc.getPersistentRDDs().keySet()) - before)

    assert new_persisted(10) <= new_persisted(2)
