"""Session-level policies the graph operators share: the join-side policy,
the release of superseded superstep states and the loud fallback of the
checkpoint stats strip."""

from __future__ import annotations

import ast
import importlib
import logging
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from credigraph_spark import session
from credigraph_spark.graph import loop as loop_mod
from credigraph_spark.graph.components import connected_components
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
# a 41-vertex path: CC needs several pointer-jumping rounds, sssp's
# frontier stays non-empty for 40 rounds
PATH41 = [(i, i + 1) for i in range(40)]


def _path(e):
    return edges_df(e.sparkSession, PATH41)


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
    "pagerank": ("credigraph_spark.graph.pagerank",
                 lambda m, e, s, k: m.pagerank(e, tol=0.0, max_iter=k)[0]),
    "cc_path": ("credigraph_spark.graph.components",
                lambda m, e, s, k: m.connected_components(_path(e), max_iter=k)[0]),
    "ppr": ("credigraph_spark.graph.ppr",
            lambda m, e, s, k: m.personalized_pagerank(e, s.select("vid"), max_iter=k)),
    "anf": ("credigraph_spark.graph.anf",
            lambda m, e, s, k: m.anf_sketch(e, max_hops=k)[0]),
    "wl": ("credigraph_spark.graph.wl",
           lambda m, e, s, k: m.wl_refinement(e, rounds=k)),
    "sssp_path": ("credigraph_spark.graph.sssp",
                  lambda m, e, s, k: m.weighted_sssp(
                      _path(e).withColumn("w", F.lit(1.0)),
                      s.where(F.col("vid") == 1).select("vid"), max_rounds=k)),
    # flat guards: these loops already release their superseded states
    "lpa": ("credigraph_spark.graph.lpa",
            lambda m, e, s, k: m.label_propagation(e, max_iter=k)[0]),
    "hits": ("credigraph_spark.graph.hits",
             lambda m, e, s, k: m.hits(e, max_iter=k)),
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

    # the superstep driver checkpoints each round's state, the operator
    # its setup tables: record both, so no checkpoint escapes
    monkeypatch.setattr(loop_mod, "eager_checkpoint", recording_checkpoint)
    if hasattr(mod, "eager_checkpoint"):
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


def test_stats_strip_fallback_warns_once(spark, monkeypatch, caplog):
    """When the private-API stats strip fails, eager_checkpoint still
    returns the plain checkpoint and says so: exactly one WARNING on the
    ``credigraph_spark`` logger, however many loop rounds hit the
    fallback."""
    strips = []

    def broken_rewrap(*args, **kwargs):
        strips.append(1)
        raise RuntimeError("private API unavailable")

    # the re-wrap runs only where the strip engages (compounded stats)
    monkeypatch.setattr(session, "DataFrame", broken_rewrap)
    monkeypatch.setattr(session, "_strip_warned", False)
    caplog.set_level(logging.WARNING, logger="credigraph_spark")
    # a 1000-vertex path: 10 CC rounds, the plan's size estimate passes
    # 127 bits from round 5 on
    path = [(i, i + 1) for i in range(999)]
    labels, info = connected_components(edges_df(spark, path))
    assert info["converged"] and info["iterations"] >= 3
    assert len(strips) >= 2
    assert {r["component"] for r in labels.collect()} == {0}
    warnings = [r for r in caplog.records
                if r.name == "credigraph_spark" and r.levelno == logging.WARNING]
    assert len(warnings) == 1


# operators whose loops run on graph/loop.py: none may re-fork the
# superstep protocol (tuning, release, the store's resume/cadence calls)
MIGRATED = ["anf", "components", "katz", "lpa", "pagerank", "ppr",
            "spreading", "sssp", "wl"]
PROTOCOL = {"loop_tuning", "release", "converged_iteration",
            "latest_iteration", "read_state", "write_state",
            "append_metrics", "mark_converged"}


@pytest.mark.parametrize("name", MIGRATED)
def test_migrated_loops_use_the_superstep_driver(name):
    path = Path(loop_mod.__file__).with_name(f"{name}.py")
    tree = ast.parse(path.read_text())
    imported = {a.asname or a.name for node in ast.walk(tree)
                if isinstance(node, (ast.Import, ast.ImportFrom))
                for a in node.names}
    used = {node.attr for node in ast.walk(tree) if isinstance(node, ast.Attribute)}
    used |= {node.id for node in ast.walk(tree) if isinstance(node, ast.Name)}
    assert "SuperstepLoop" in imported
    assert not (imported | used) & PROTOCOL
