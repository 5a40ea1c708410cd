"""Borůvka minimum spanning forest over the weighted undirected graph.

Not in the reference (its analytics stop at PageRank/degrees,
tgrag/algorithms/pagerank.py); MSF is the standard distributed
clustering / backbone-extraction primitive (single-linkage clustering IS
Borůvka), and Borůvka is THE MapReduce/Pregel MST algorithm because every
round is a pair of partial-aggregatable reductions:

  1. every component picks its minimum incident edge (struct-min over
     (w, u, v) — a TOTAL order, so with any tie the same edge wins in
     every engine and every partitioning; classic Borůvka requires
     distinct weights, the tiebreak provides them),
  2. the picked edges contract components — reusing the engine's
     hash-min ``connected_components`` on the component-level graph,
     which shrinks geometrically (components at least halve per round,
     so ``max_rounds`` = O(log V) finishes the forest).

Scale shape per round: one relabel join (edges ⋈ comp ×2, co-partitioned
on the endpoint key), one struct-min groupBy (map-side combinable — hub
components reduce partially), one distinct, then a CC run over a table
bounded by #components. The rounds run on the superstep driver
(``graph/loop.py``): the component map is the committed state (loop
state feeding >1 downstream subplan must truncate lineage eagerly — the
Louvain lesson), each round's picked edges are kept for the forest, and
their count rides an Observation on that action, so an empty pick costs
no extra job. Weights stay integers end-to-end, so the selected forest
is oracle-exact.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, functions as F

from credigraph_spark.graph.adjacency import vertices_from_edges
from credigraph_spark.graph.loop import SuperstepLoop


def canonical_weighted_edges(edges: DataFrame,
                             weight_col: str = "w") -> DataFrame:
    """Canonical undirected weighted edge set: (u < v, w = MIN over all
    parallel/reverse duplicates) — the multigraph collapse that makes the
    MSF well-defined on a directed crawl edge table."""
    e = (edges.select("src", "dst", F.col(weight_col).alias("w"))
         .where(F.col("src").isNotNull() & F.col("dst").isNotNull()
                & F.col("w").isNotNull())
         .where(F.col("src") != F.col("dst")))
    return (
        e.select(F.least("src", "dst").alias("u"),
                 F.greatest("src", "dst").alias("v"), "w")
        .groupBy("u", "v").agg(F.min("w").alias("w"))
    )


def boruvka_msf(edges: DataFrame, weight_col: str = "w",
                max_rounds: int = 2) -> DataFrame:
    """Minimum-spanning-forest edges (u, v, w) after ``max_rounds``
    Borůvka rounds (components at least halve per round; O(log V) rounds
    complete the forest — a fixed budget keeps the contract
    oracle-unrollable, the ktruss_2round precedent)."""
    from credigraph_spark.graph.components import connected_components

    canon = canonical_weighted_edges(edges, weight_col).persist()
    verts = vertices_from_edges(
        canon.select(F.col("u").alias("src"), F.col("v").alias("dst")))
    comp = verts.select("vid", F.col("vid").alias("comp"))
    loop = SuperstepLoop(edges.sparkSession, "msf", None, max_rounds)
    picks = []
    for rnd in loop:
        cu = comp.select(F.col("vid").alias("u"), F.col("comp").alias("cu"))
        cv = comp.select(F.col("vid").alias("v"), F.col("comp").alias("cv"))
        ce = (canon.join(cu, "u").join(cv, "v")
              .where(F.col("cu") != F.col("cv")))
        # both endpoints' components see the edge; struct-min total order
        # (w, u, v) picks one deterministic edge per component
        inc = ce.select(F.col("cu").alias("c"), "w", "u", "v", "cv").unionByName(
            ce.select(F.col("cv").alias("c"), "w", "u", "v",
                      F.col("cu").alias("cv")))
        sel, m = loop.keep(loop.observe(
            inc.groupBy("c")
            .agg(F.min(F.struct("w", "u", "v")).alias("m"))
            .select(F.col("m.u").alias("u"), F.col("m.v").alias("v"),
                    F.col("m.w").alias("w"))
            .distinct(),
            F.count(F.lit(1)).alias("n")))
        if not m["n"]:
            break
        picks.append(sel)
        if rnd < max_rounds - 1:
            # contract: hash-min CC over the component-level picked edges
            sel_ce = (sel.join(cu, "u").join(cv, "v")
                      .select(F.col("cu").alias("src"),
                              F.col("cv").alias("dst")))
            labels, _ = connected_components(sel_ce)
            # the inner loop's result, released when this round ends
            labels = loop.cache(labels)
            comp, _ = loop.commit(
                comp.join(labels.withColumnRenamed("vid", "comp"),
                          "comp", "left")
                .select("vid",
                        F.coalesce("component", F.col("comp")).alias("comp"))
            )
    if not picks:
        loop.finish()
        canon.unpersist()
        return edges.sparkSession.createDataFrame([], "u long, v long, w long")
    forest = loop.finish(reduce(lambda a, b: a.unionByName(b).distinct(), picks))
    canon.unpersist()
    return forest
