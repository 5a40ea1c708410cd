"""Distributed greedy maximal matching — synchronous proposal rounds.

Each round every active vertex proposes to its minimum-id active
neighbour; a mutual proposal (u->v AND v->u) is a matched pair, and
matched vertices deactivate with their incident edges. This is the
classic handshake/pointer matching (a deterministic relative of
Israeli-Itai); like MIS it converges in O(log n) expected rounds and is
the building block for coarsening in multilevel partitioners (METIS
shape) and for conflict-free pair scheduling. The reference repo
(ekmpa/CrediGraph) has no analog; it extends the engine's graph family
(SURVEY.md §2.12).

Determinism: proposals go to MIN(neighbour id) — no randomness at all —
so a round-bounded run replays bit-identically in any SQL engine
(unrolled-CTE oracle, the kcore score_2round convention).

Scale shape: per round ONE groupBy(src).min aggregation over the live
edge set + a self-join of the (vertex -> proposal) table on the mutual
condition + two anti joins to retire matched endpoints. The rounds run on
the superstep driver (``graph/loop.py``): the live edge set is the loop's
state (one checkpoint per round, the superseded one released), each
round's matched pairs are setup tables that the result unions, held until
``finish`` has materialized the result.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from credigraph_spark.graph.adjacency import undirected_simple
from credigraph_spark.graph.loop import SuperstepLoop
from credigraph_spark.session import adaptive_partitions


def greedy_matching(edges: DataFrame, rounds: int = 3) -> DataFrame:
    """Returns matched pairs (u, v), u < v, after ``rounds`` synchronous
    proposal rounds (maximal when run to fixpoint; round-bounded for
    the mid-convergence determinism the driver checks).

    One driver action per state materialization: the matched/live row
    counts ride Observations on the eager checkpoints (previously each
    round paid two extra ``isEmpty`` jobs), and the live-edge layout is
    partitioned by the measured edge count (scale-adaptive)."""
    loop = SuperstepLoop(edges.sparkSession, "match", None, rounds)
    live, m = loop.commit(loop.observe(undirected_simple(edges),
                                       F.count(F.lit(1)).alias("n")))
    n_live = m["n"] or 0
    # every round's exchange runs at the measured count
    nparts = loop.partitions = adaptive_partitions(n_live)
    out = None
    with loop:
        for r in loop:
            if n_live == 0:
                break
            prop = (live.repartition(nparts, "src")
                    .groupBy("src").agg(F.min("dst").alias("prop")))
            other = prop.select(F.col("src").alias("b_src"),
                                F.col("prop").alias("b_prop"))
            # the match count is needed before the round's commit (it
            # sizes the retire set), so it rides the matches' own action
            matched, mm = loop.keep(loop.observe(
                prop.join(other,
                          (F.col("b_src") == F.col("prop"))
                          & (F.col("b_prop") == F.col("src")))
                .where(F.col("src") < F.col("prop"))
                .select(F.col("src").alias("u"), F.col("prop").alias("v")),
                F.count(F.lit(1)).alias("n")))
            n_matched = mm["n"] or 0
            if n_matched == 0:
                break
            out = matched if out is None else out.unionByName(matched)
            gone = (matched.select(F.col("u").alias("vid"))
                    .unionByName(matched.select(F.col("v").alias("vid"))))
            # the observed match count tells us the exact retire-set size:
            # broadcast it while it fits (both anti joins then stream the
            # cached live set with no shuffle), fall back to shuffled anti
            # joins when a round matches millions of pairs (the CC
            # bcast_components discipline)
            if n_matched <= 1_000_000:
                gone = F.broadcast(gone)
            live, m = loop.commit(loop.observe(
                live.join(gone.withColumnRenamed("vid", "src"), "src",
                          "left_anti")
                .join(gone.withColumnRenamed("vid", "dst"), "dst",
                      "left_anti")
                .select("src", "dst"),
                F.count(F.lit(1)).alias("n")))
            n_live = m["n"] or 0
    if out is None:  # nothing matched
        loop.finish()
        return edges.sparkSession.createDataFrame([], "u LONG, v LONG")
    return loop.finish(out)
