"""Session-level policies the graph operators share: the join-side policy,
the release of superseded superstep states and the loud fallback of the
checkpoint stats strip."""

from __future__ import annotations

import ast
import hashlib
import importlib
import logging
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from credigraph_spark import session
from credigraph_spark.checkpoint import CheckpointStore
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


# a path whose md5 priorities (mis.py, seed 7) rise along it: each Luby
# round settles only its two lowest active vertices, so MIS runs 12 rounds
_BY_PRIORITY = sorted(range(24),
                      key=lambda v: hashlib.md5(f"7:{v}".encode()).hexdigest())
LUBY_PATH = list(zip(_BY_PRIORITY, _BY_PRIORITY[1:]))


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
    "louvain_local_move": ("credigraph_spark.graph.louvain",
                           lambda m, e, s, k: m.louvain_local_move(e, rounds=k)),
    "leiden_two_level": ("credigraph_spark.graph.louvain",
                         lambda m, e, s, k: m.leiden_two_level(e, rounds=k)),
    "coreness": ("credigraph_spark.graph.kcore",
                 lambda m, e, s, k: m.coreness(e, rounds_per_k=k)),
    "greedy_matching": ("credigraph_spark.graph.matching",
                        lambda m, e, s, k: m.greedy_matching(_path(e), rounds=k)),
    "ppr_batch": ("credigraph_spark.graph.ppr",
                  lambda m, e, s, k: m.ppr_batch(e, s.select("vid"), max_iter=k)),
    "heat_kernel": ("credigraph_spark.graph.ppr",
                    lambda m, e, s, k: m.heat_kernel_scores(e, s.select("vid"),
                                                            n_terms=k)),
    "opic": ("credigraph_spark.graph.pagerank",
             lambda m, e, s, k: m.opic(e, rounds=k)),
    "hitting_time": ("credigraph_spark.graph.nhop",
                     lambda m, e, s, k: m.truncated_hitting_time(
                         e, s.select("vid"), rounds=k)),
    "bfs_path": ("credigraph_spark.graph.nhop",
                 lambda m, e, s, k: m.bfs_distances(_path(e), s.select("vid"), k)),
    "per_seed_path": ("credigraph_spark.graph.nhop",
                      lambda m, e, s, k: m.per_seed_distances(
                          _path(e), s.select("vid"), k)),
    "nhop_path": ("credigraph_spark.graph.nhop",
                  lambda m, e, s, k: m.n_hop_subgraph(_path(e), s.select("vid"), k)[0]),
    "ic_influence": ("credigraph_spark.graph.spreading",
                     lambda m, e, s, k: m.ic_influence(e, s.select("vid"), p=0.9,
                                                       rounds=k)),
    "deterministic_walks": ("credigraph_spark.graph.walks",
                            lambda m, e, s, k: m.deterministic_walks(
                                e, s.select("vid"), walk_length=k)),
    "node2vec_walks": ("credigraph_spark.graph.walks",
                       lambda m, e, s, k: m.node2vec_walks(
                           e, s.select("vid"), walk_length=k, p=0.5, q=2.0)),
    "dag_levels_path": ("credigraph_spark.graph.dag",
                        lambda m, e, s, k: m.dag_levels(_path(e), max_rounds=k)[0]),
    "mis": ("credigraph_spark.graph.mis",
            lambda m, e, s, k: m.maximal_independent_set(
                edges_df(e.sparkSession, LUBY_PATH), rounds=k)[0]),
    "coloring": ("credigraph_spark.graph.coloring",
                 lambda m, e, s, k: m.luby_coloring(e, n_colors=k)),
    "betweenness_path": ("credigraph_spark.graph.betweenness",
                         lambda m, e, s, k: m.betweenness_from_seeds(
                             _path(e), s.select("vid"), max_hops=k)),
    "weighted_betweenness": ("credigraph_spark.graph.betweenness",
                             lambda m, e, s, k: m.weighted_betweenness_from_seeds(
                                 e.withColumn("w", F.lit(1.0)), s.select("vid"),
                                 max_rounds=k)),
    "msf": ("credigraph_spark.graph.mst",
            lambda m, e, s, k: m.boruvka_msf(_path(e).withColumn("w", F.col("src") % 3),
                                             max_rounds=k)),
    # flat guards: these loops already release their superseded states
    "lpa": ("credigraph_spark.graph.lpa",
            lambda m, e, s, k: m.label_propagation(e, max_iter=k)[0]),
    "hits": ("credigraph_spark.graph.hits",
             lambda m, e, s, k: m.hits(e, max_iter=k)),
}


def _hold_every_checkpoint(monkeypatch, mod, held: list) -> None:
    """Record every checkpoint the superstep driver (each round's state,
    setup tables) and the operator module make, so the ContextCleaner
    cannot free a leaked one behind the operator's back."""
    def recording_checkpoint(df):
        out = eager_checkpoint(df)
        held.append(out)
        return out

    monkeypatch.setattr(loop_mod, "eager_checkpoint", recording_checkpoint)
    if hasattr(mod, "eager_checkpoint"):
        monkeypatch.setattr(mod, "eager_checkpoint", recording_checkpoint)


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
    _hold_every_checkpoint(monkeypatch, mod, held)
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


def _scanned_rdds(df) -> set[int]:
    """Ids of the checkpointed RDDs ``df``'s plan reads."""
    leaves = df._jdf.queryExecution().logical().collectLeaves().iterator()
    ids = set()
    while leaves.hasNext():
        leaf = leaves.next()
        if leaf.getClass().getName() == "org.apache.spark.sql.execution.LogicalRDD":
            ids.add(leaf.rdd().id())
    return ids


CYCLE41 = [(i, (i + 1) % 41) for i in range(41)]


def _pagerank_stored(m, e, ck):
    return m.pagerank(e, tol=1e-2, ckpt=ck)[0]


# operator -> (module, one call on the 7-edge fixture[, a call made first
# on the same store, whose additions are not counted])
ONE_CALL = {
    "scc_cycle41": ("credigraph_spark.graph.scc",
                    lambda m, e: m.strongly_connected_components(
                        edges_df(e.sparkSession, CYCLE41))[0]),
    "bowtie": ("credigraph_spark.graph.scc", lambda m, e: m.bowtie_classes(e)),
    "salsa": ("credigraph_spark.graph.salsa", lambda m, e: m.salsa(e)),
    "pagerank": ("credigraph_spark.graph.pagerank",
                 lambda m, e: m.pagerank(e, max_iter=3)[0]),
    "katz": ("credigraph_spark.graph.katz",
             lambda m, e: m.katz_centrality(e, max_iter=3)[0]),
    "ppr": ("credigraph_spark.graph.ppr",
            lambda m, e: m.personalized_pagerank(
                e, e.sparkSession.createDataFrame([(1,)], "vid long"), max_iter=3)),
    "fiedler": ("credigraph_spark.graph.spreading",
                lambda m, e: m.fiedler_vector(e, max_iter=3)),
    # the measured setup tables (CC's symmetrized set and vertex table) are
    # released; triangle_count's result reads its canonical pairs and its
    # per-vertex counts, so those two stay
    "cc": ("credigraph_spark.graph.components",
           lambda m, e: m.connected_components(e)[0]),
    "triangles": ("credigraph_spark.graph.triangles",
                  lambda m, e: m.triangle_count(e)[0]),
    # the run converged in the first call: the second returns the stored
    # state, which reads no checkpoint, and releases its vertex table
    "pagerank_converged_resume": ("credigraph_spark.graph.pagerank",
                                  _pagerank_stored, _pagerank_stored),
}


@pytest.mark.parametrize("name", sorted(ONE_CALL))
def test_one_call_leaves_only_what_its_result_reads(spark, monkeypatch, tmp_path,
                                                   name):
    """Once an operator returns, the only persisted RDDs it has added are
    the ones its result reads: every superseded state, scratch cache and
    setup table (pagerank's vertex table and static vector, katz's
    receivers and base, ppr's seed rows, fiedler's degrees, CC's
    symmetrized edges and vertex table) is released."""
    mod_name, run, *first = ONE_CALL[name]
    mod = importlib.import_module(mod_name)
    held = []
    _hold_every_checkpoint(monkeypatch, mod, held)
    sc = spark.sparkContext
    args = (mod, edges_df(spark, EDGES7))
    if first:
        args += (CheckpointStore(str(tmp_path), "one_call"),)
        held.append(first[0](*args))
    before = set(sc._jsc.getPersistentRDDs().keySet())
    out = run(*args)
    out.collect()
    added = set(sc._jsc.getPersistentRDDs().keySet()) - before
    assert added == _scanned_rdds(out)


def test_stats_strip_engages_on_a_long_loop(spark):
    """Over a 25-round loop whose step joins its state with itself (the
    plan's size estimate squares every round), every committed state
    carries an estimate of at most 127 bits: the strip in
    eager_checkpoint engages whenever the compounded estimate is wider."""
    def bits(df, plan) -> int:
        s = getattr(df._jdf.queryExecution(), plan)().stats().sizeInBytes()
        return (s if isinstance(s, int) else int(s.toString())).bit_length()

    state = spark.range(0, 200).select(F.col("id").alias("vid"),
                                       (F.col("id") % 7).alias("x"))
    loop = loop_mod.SuperstepLoop(spark, "strip", 4, 25)
    plan_bits, state_bits = [], []
    with loop:
        for _ in loop:
            plan = (state.join(state.select("vid", F.col("x").alias("y")), "vid")
                    .select("vid", ((F.col("x") + F.col("y")) % 7).alias("x")))
            plan_bits.append(bits(plan, "optimizedPlan"))
            state, _ = loop.commit(plan)
            state_bits.append(bits(state, "logical"))
    loop.finish(loop.state)
    assert len(state_bits) == 25
    assert max(plan_bits) > 127      # the estimate did compound ...
    assert max(state_bits) <= 127    # ... and no committed state kept it


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


def test_codegen_cache_keeps_a_calls_classes(spark, tmp_path):
    """PageRank with a store and CC on a small R-MAT generate 144 distinct
    classes, more than Spark's default 100-entry codegen cache holds: at
    that size every repeat of the pair recompiled 139 of them. The
    session's cache keeps them, so the same calls again compile nothing.
    The graph is symmetrized so no vertex is dangling: PageRank's per-round
    scalars, which its plans carry as literals, are then exact.
    triangle_count is in the call too: its joins run with AQE paused, so
    its plans no longer follow the order in which stages finish."""
    from credigraph_spark.graph import pagerank, triangle_count
    from credigraph_spark.graph.generate import rmat_edges

    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    e = rmat_edges(spark, scale=7, n_edges=600).select("src", "dst")
    edges = e.unionByName(e.select(F.col("dst").alias("src"),
                                   F.col("src").alias("dst"))).persist()
    edges.count()

    def call(run_id: str) -> int:
        before = codegen.METRIC_COMPILATION_TIME().getCount()
        ck = CheckpointStore(str(tmp_path), run_id)
        pagerank(edges, tol=0.0, max_iter=3, ckpt=ck, checkpoint_every=1,
                 mode="shuffle", salt_buckets=4, hot_threshold=8)[0].collect()
        connected_components(edges)[0].collect()
        triangle_count(edges)[0].collect()
        return codegen.METRIC_COMPILATION_TIME().getCount() - before

    call("first")
    assert call("second") == 0
    edges.unpersist()


# No graph module but the driver names the superstep protocol (tuning,
# release, the store's resume/cadence calls). The one exception is
# triangles' tuning: its operators have no store-backed loop to drive,
# but triangle_count, k-truss, clique percolation and edge embeddedness
# run everything after their first measured count under the loop's sized
# tuning, with AQE paused (a traced triangle_count on 105k canonical
# edges: 2.9 s -> 1.0 s; the CC-phase setup block of clique percolation:
# 1.1 s -> 0.4 s).
PROTOCOL = {"loop_tuning", "release", "converged_iteration",
            "latest_iteration", "read_state", "write_state",
            "append_metrics", "mark_converged"}
ALLOWED = {"triangles": {"loop_tuning"}}
GRAPH_MODULES = sorted(p.stem for p in Path(loop_mod.__file__).parent.glob("*.py")
                       if p.stem != "loop")
# the modules whose loops run on the driver
DRIVER = {"anf", "components", "katz", "lpa", "pagerank", "ppr", "spreading",
          "sssp", "wl", "scc", "kcore", "louvain", "matching", "hits", "salsa",
          "betweenness", "coloring", "dag", "mis", "mst", "nhop", "walks"}


@pytest.mark.parametrize("name", GRAPH_MODULES)
def test_migrated_loops_use_the_superstep_driver(name):
    path = Path(loop_mod.__file__).with_name(f"{name}.py")
    tree = ast.parse(path.read_text())
    imported = {a.asname or a.name for node in ast.walk(tree)
                if isinstance(node, (ast.Import, ast.ImportFrom))
                for a in node.names}
    used = {node.attr for node in ast.walk(tree) if isinstance(node, ast.Attribute)}
    used |= {node.id for node in ast.walk(tree) if isinstance(node, ast.Name)}
    if name in DRIVER:
        assert "SuperstepLoop" in imported
    assert not (imported | used) & (PROTOCOL - ALLOWED.get(name, set()))
