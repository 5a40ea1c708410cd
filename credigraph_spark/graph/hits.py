"""HITS (hubs & authorities) over the directed edge table.

Not in the reference; a natural sibling of its PageRank surface
(tgrag/algorithms/pagerank.py pins the iterative-scores contract). Same
physical design as graph/pagerank.py: edges cached and hash-partitioned
once, per-half-step state is a raw-score DataFrame materialized by ONE
eager localCheckpoint whose job also fills an Observation with the L1 sum
(exactly how PageRank's dangling mass / L1 ride the superstep action), so
normalization is a literal division — no scalar-subquery re-execution of
the half-step lineage, no extra driver action.

Two run modes:
* fixed iterations (``hits``) — deterministic, oracle-checkable;
* to convergence (``hits_to_convergence``) — stops when the L1 delta of
  hub+auth between successive iterations drops below ``tol``. The delta
  needs the NORMALIZED new scores, whose divisor is only known once the
  half-step action fills its Observation — so it cannot ride that same
  action; it is an extra O(|V|) aggregate over the just-checkpointed
  (cached) state, negligible next to the O(|E|) half-step and only paid
  in tolerance mode.

Scale shape: each half-step shuffles O(|E|) contribution rows keyed by
dst/src plus one O(|V|) normalization projection — no collect, no windows,
no Python. Skewed authorities are plain groupBy sums (map-side combine
absorbs hub fan-in).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, functions as F

from credigraph_spark.graph.adjacency import clean_edges

from credigraph_spark.graph.loop import SuperstepLoop
from credigraph_spark.session import adaptive_partitions


def _run(edges: DataFrame, max_iter: int, tol: float | None):
    spark = edges.sparkSession
    e = clean_edges(edges).persist()
    # loop exchanges sized from the measured edge count (scale-adaptive)
    shuffle_n = adaptive_partitions(e.count())
    # verts cached PRE-PARTITIONED by vid: the per-half-step left join
    # that zero-fills missing vertices then reuses this layout instead of
    # re-exchanging the vertex table every half-step
    verts = (
        e.select(F.col("src").alias("vid"))
        .unionByName(e.select(F.col("dst").alias("vid")))
        .distinct()
        .repartition(shuffle_n, "vid")
        .persist()
    )
    n = verts.count()  # one-time setup action, also materializes the caches
    info: dict = {"n_vertices": n, "iterations": 0, "converged": False,
                  "l1_history": []}
    if n == 0:  # only self-loops/nulls: no vertex to score
        e.unpersist()
        verts.unpersist()
        return spark.createDataFrame([], "vid long, hub double, auth double"), info

    def _half_step(scores: DataFrame, edge_key: str, group_key: str,
                   obs: Observation) -> DataFrame:
        """Gather (vid, score) over edges on the edge_key side, sum per
        group_key vertex: the raw scores, whose L1 sum ``obs`` observes on
        the job that materializes them."""
        contrib = (
            e.join(scores.select(F.col("vid").alias(edge_key), "score"), edge_key)
            .groupBy(F.col(group_key).alias("vid"))
            .agg(F.sum("score").alias("raw"))
        )
        return (
            verts.join(contrib, "vid", "left")
            .select("vid", F.coalesce("raw", F.lit(0.0)).alias("raw"))
            .observe(obs, F.sum("raw").alias("s"))
        )

    def _normalized(raw: DataFrame, obs: Observation) -> DataFrame:
        # the observed L1 sum is a literal divisor: no scalar subquery
        # re-executes the half-step
        s = obs.get["s"] or 1.0
        return raw.select("vid", (F.col("raw") / F.lit(s)).alias("score"))

    def _delta(new: DataFrame, prev: DataFrame) -> float:
        # deliberately a SEPARATE tiny job over the two checkpointed
        # states: folding prev into the observed pre-checkpoint plan makes
        # driver-side per-job time grow geometrically with the iteration
        # index in this two-state loop (measured: flat 0.9 s/iter this
        # way vs 3x/iter blowup from ~iteration 13 when joined in)
        return (
            new.join(prev.select("vid", F.col("score").alias("p")), "vid", "left")
            .agg(F.sum(F.abs(F.col("score") - F.coalesce("p", F.lit(0.0)))))
            .collect()[0][0] or 0.0
        )

    # the superstep driver holds the round's two raw states (auth as a
    # checkpointed part, hub as the commit) and releases them when the
    # next round ends, after both deltas have read them
    loop = SuperstepLoop(spark, "hits", shuffle_n, max_iter, info=info)
    hub, _ = loop.commit(verts.select("vid", F.lit(1.0 / n).alias("score")))
    auth = hub
    with loop:
        for i in loop:
            # auth'(v) = Σ_{(u,v)∈E} hub(u), normalized; then
            # hub'(v) = Σ_{(v,w)∈E} auth'(w), normalized
            obs_a, obs_h = Observation(f"hits_auth_{i}"), Observation(f"hits_hub_{i}")
            new_auth = _normalized(
                loop.checkpoint(_half_step(hub, "src", "dst", obs_a)), obs_a)
            d_a = _delta(new_auth, auth) if tol is not None else None
            auth = new_auth
            hraw, _ = loop.commit(_half_step(auth, "dst", "src", obs_h))
            new_hub = _normalized(hraw, obs_h)
            d_h = _delta(new_hub, hub) if tol is not None else None
            hub = new_hub
            if tol is not None:
                l1 = d_a + d_h
                info["l1_history"].append(l1)
            loop.end_round(tol is not None and l1 < tol)

    result = (
        hub.withColumnRenamed("score", "hub")
        .join(auth.withColumnRenamed("score", "auth"), "vid")
        .select("vid", F.round("hub", 8).alias("hub"),
                F.round("auth", 8).alias("auth"))
    )
    e.unpersist()
    verts.unpersist()
    return result, info


def hits(edges: DataFrame, max_iter: int = 3) -> DataFrame:
    """Fixed-iteration HITS with L1 normalization each half-step.

    Returns (vid, hub, auth) rounded to 8 decimals, one row per vertex of
    the cleaned graph. Fixed iterations (not tolerance) keep the result
    deterministic and oracle-checkable."""
    result, _ = _run(edges, max_iter, tol=None)
    return result


def hits_to_convergence(edges: DataFrame, tol: float = 1e-6,
                        max_iter: int = 100) -> tuple[DataFrame, dict]:
    """HITS run until the combined L1 delta of hub+auth between successive
    iterations drops below ``tol`` (or ``max_iter``). Returns
    ((vid, hub, auth), info) with iterations/converged/l1_history —
    mirroring pagerank's convergence contract."""
    return _run(edges, max_iter, tol=tol)
