"""Degenerate-input guards (ADVICE r5): operators must not crash on
empty/trivial inputs reachable through the CLI."""

import importlib

import pytest
from pyspark.sql import functions as F


def test_densest_subgraph_empty_graph(spark):
    from credigraph_spark.graph.kcore import densest_subgraph

    e = spark.createDataFrame([(1, 1), (2, 2)], "src long, dst long")
    out = densest_subgraph(e, max_rounds=2)
    assert out.count() == 0
    assert out.columns == ["round", "n_vertices", "n_edges", "density",
                           "is_best"]


def test_snapshot_similarity_empty_side(spark):
    from credigraph_spark.temporal import graph_snapshot_similarity

    old = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    new = spark.createDataFrame([], "src long, dst long")
    row = graph_snapshot_similarity(old, new).collect()[0]
    assert row.vertex_jaccard == 0.0
    assert row.edge_jaccard == 0.0
    assert row.degree_tv == 0.0
    # both sides empty: every denominator is zero
    row2 = graph_snapshot_similarity(new, new).collect()[0]
    assert row2.vertex_jaccard == 0.0 and row2.edge_jaccard == 0.0


def test_km_churn_empty_events(spark):
    from credigraph_spark.temporal import km_churn

    ev = spark.createDataFrame([], "user_id long, ts timestamp")
    out = km_churn(ev)
    assert out.count() == 0
    assert out.columns == ["duration", "n_risk", "n_events", "survival"]


def test_reclist_quality_k1_null_ild(spark):
    from credigraph_spark.pipeline.similarity import reclist_quality

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    row = reclist_quality(emb.where(F.col("vec_id") < 5), emb,
                          k=1).collect()[0]
    # no intra-list pairs at k=1: mean_ild is NULL (the oracle's
    # AVG-over-empty), not a TypeError
    assert row.mean_ild is None
    assert row.k == 1


# every operator on the superstep driver's multi-phase and two-state loops
# (scc, k-core, Louvain/Leiden, matching, HITS, SALSA), the normalized
# power iterations (eigenvector, Fiedler, the spectral sweep, OPIC's 1/n
# cash), CC and the triangle operators, which size their work from a
# measured count, on a graph whose cleaned edge set is empty: each returns
# an empty result, none raises
SELF_LOOPS_ONLY = {
    "scc": ("scc", lambda m, e: m.strongly_connected_components(e)[0]),
    "bowtie": ("scc", lambda m, e: m.bowtie_classes(e)),
    "k_core": ("kcore", lambda m, e: m.k_core(e, 2)[0]),
    "s_core": ("kcore", lambda m, e: m.s_core(e.withColumn("w", F.lit(1)), 2)[0]),
    "coreness": ("kcore", lambda m, e: m.coreness(e)),
    "densest_subgraph": ("kcore", lambda m, e: m.densest_subgraph(e, max_rounds=2)),
    "louvain_local_move": ("louvain", lambda m, e: m.louvain_local_move(e)),
    "louvain_two_level": ("louvain", lambda m, e: m.louvain_two_level(e)),
    "leiden_two_level": ("louvain", lambda m, e: m.leiden_two_level(e)),
    "greedy_matching": ("matching", lambda m, e: m.greedy_matching(e)),
    "hits": ("hits", lambda m, e: m.hits(e)),
    "hits_to_convergence": ("hits", lambda m, e: m.hits_to_convergence(e)[0]),
    "salsa": ("salsa", lambda m, e: m.salsa(e)),
    "eigenvector_centrality": ("spreading", lambda m, e: m.eigenvector_centrality(e)),
    "eigenvector_centrality_weighted": (
        "spreading", lambda m, e: m.eigenvector_centrality_weighted(
            e.withColumn("w", F.lit(1.0)), "w")),
    "fiedler_vector": ("spreading", lambda m, e: m.fiedler_vector(e)),
    "spectral_sweep_cut": ("spreading", lambda m, e: m.spectral_sweep_cut(e)),
    "connected_components": ("components", lambda m, e: m.connected_components(e)[0]),
    "triangle_count": ("triangles", lambda m, e: m.triangle_count(e)[0]),
    "edge_embeddedness": ("triangles", lambda m, e: m.edge_embeddedness(e)),
    "k_truss": ("triangles", lambda m, e: m.k_truss(e, 3)[0]),
    "clique_percolation_k3": ("triangles", lambda m, e: m.clique_percolation_k3(e)),
    "opic": ("pagerank", lambda m, e: m.opic(e)),
}


@pytest.mark.parametrize("name", sorted(SELF_LOOPS_ONLY))
def test_self_loops_only_input_gives_empty_result(spark, name):
    mod_name, run = SELF_LOOPS_ONLY[name]
    mod = importlib.import_module(f"credigraph_spark.graph.{mod_name}")
    e = spark.createDataFrame([(1, 1), (2, 2)], "src long, dst long")
    assert run(mod, e).count() == 0


def test_heat_kernel_empty_seed_set(spark):
    """No seed: no mass to diffuse (the 1/|S| start mass has no
    denominator), so the result is empty."""
    from credigraph_spark.graph.ppr import heat_kernel_scores

    e = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    out = heat_kernel_scores(e, spark.createDataFrame([], "vid long"))
    assert out.count() == 0
    assert out.columns == ["vid", "score"]
