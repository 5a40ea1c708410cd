"""SALSA — Stochastic Approach for Link-Structure Analysis (Lempel &
Moran, WWW 2000): HITS's random-walk cousin, the link-analysis ranker
TREC/Twitter (WTF, "Who to Follow") deployed at web scale. Where HITS
sums raw neighbor scores (so one dense hub dominates), SALSA pushes each
vertex's score through DEGREE-NORMALIZED edges — the update is a step of
two coupled random walks on the bipartite hub/authority view:

    auth_k(j) = sum_{i->j} hub_{k-1}(i) / outdeg(i)
    hub_k(i)  = sum_{i->j} auth_k(j)  / indeg(j)

Both transition matrices are column-stochastic, so total mass is
preserved and no per-step normalization is needed (unlike HITS) — which
also makes the fixed-iteration contract oracle-checkable without
normalization subqueries. Not in the reference (its analytics stop at
degree + PageRank, tgrag/algorithms/pagerank.py); survey-extension
surface on the same contribution-join physical plan as PageRank/HITS.

Scale shape: degrees are folded into the cached edge table ONCE
(w_fwd = 1/outdeg(src), w_bwd = 1/indeg(dst)), so each half-step is one
state ⋈ edges join plus a partial-aggregatable groupBy-sum — hub skew
combines map-side; the half-steps run on the superstep driver
(``graph/loop.py``): auth is checkpointed as a part of the round's state,
hub is the round's commit, and both are released once the next round has
replaced them. No windows, no collect over vertices, no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from credigraph_spark.graph.adjacency import clean_edges, vertices_from_edges

from credigraph_spark.graph.loop import SuperstepLoop
from credigraph_spark.session import adaptive_partitions


def salsa(edges: DataFrame, max_iter: int = 3,
          round_digits: int = 8) -> DataFrame:
    """(vid, hub, auth) after ``max_iter`` degree-normalized half-step
    pairs from the uniform start hub_0 = 1/|V|. Vertices with no
    out-edges keep hub 0 after step 1 (they emit no mass); vertices with
    no in-edges keep auth 0 — both reported as explicit 0.0 rows so the
    output covers every vertex. Scores are ROUND(x, round_digits) for
    cross-engine hash stability (pagerank_5iter precedent)."""
    # e persisted for the setup's lifetime: odeg, ideg, the weight join
    # and verts each scan it (uncached, every consumer re-ran the |E|-row
    # dedup)
    e = clean_edges(edges).persist()
    n_e = e.count()
    nparts = adaptive_partitions(n_e)
    odeg = e.groupBy("src").agg(F.count("*").alias("od"))
    ideg = e.groupBy("dst").agg(F.count("*").alias("id_"))
    ew = e.join(odeg, "src").join(ideg, "dst")
    # TWO narrow pre-partitioned caches, one per half-step direction (the
    # pagerank/hits edge discipline): each half-step then joins its state
    # against a co-keyed cached layout — only the |V|-row state crosses
    # the wire per half-step, not the |E|-row weighted edge table (which
    # was cached unpartitioned and re-exchanged 2x per iteration)
    fwd = (ew.select("src", "dst", (F.lit(1.0) / F.col("od")).alias("w_fwd"))
           .repartition(nparts, "src").persist())
    bwd = (ew.select("src", "dst", (F.lit(1.0) / F.col("id_")).alias("w_bwd"))
           .repartition(nparts, "dst").persist())
    verts = vertices_from_edges(e).persist()
    n = verts.count()  # one-time setup action
    fwd.count()
    bwd.count()
    e.unpersist()

    if n == 0:  # only self-loops/nulls: no vertex to score
        fwd.unpersist()
        bwd.unpersist()
        verts.unpersist()
        return edges.sparkSession.createDataFrame(
            [], "vid long, hub double, auth double")

    hub = verts.select("vid", F.lit(1.0 / n).alias("score"))
    auth = None
    loop = SuperstepLoop(edges.sparkSession, "salsa", nparts, max_iter)
    with loop:
        for _ in loop:
            auth = loop.checkpoint(
                fwd.join(hub.select(F.col("vid").alias("src"), "score"), "src")
                .groupBy(F.col("dst").alias("vid"))
                .agg(F.sum(F.col("score") * F.col("w_fwd")).alias("score"))
            )
            hub, _ = loop.commit(
                bwd.join(auth.select(F.col("vid").alias("dst"), "score"), "dst")
                .groupBy(F.col("src").alias("vid"))
                .agg(F.sum(F.col("score") * F.col("w_bwd")).alias("score"))
            )
    # materialized before the caches are released: the result reads them
    out = loop.finish(
        verts
        .join(hub.select("vid", F.col("score").alias("h")), "vid", "left")
        .join(auth.select("vid", F.col("score").alias("a")), "vid", "left")
        .select("vid",
                F.round(F.coalesce("h", F.lit(0.0)), round_digits).alias("hub"),
                F.round(F.coalesce("a", F.lit(0.0)), round_digits).alias("auth"))
    )
    fwd.unpersist()
    bwd.unpersist()
    verts.unpersist()
    return out
