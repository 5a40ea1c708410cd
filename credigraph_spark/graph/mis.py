"""Maximal independent set — synchronous Luby rounds.

Luby's classic distributed MIS (Luby 1986, "A simple parallel algorithm
for the maximal independent set problem"): every ACTIVE vertex draws a
priority; a vertex joins the MIS when its priority beats every active
neighbour's, then MIS members and their neighbours deactivate. Expected
O(log n) rounds to fixpoint. MIS is the standard building block for
parallel scheduling / conflict-free updates on a graph (e.g. moving
vertex sets that may not be adjacent) — a primitive the reference repo
(ekmpa/CrediGraph) has no analog of; it extends the engine's graph
family (SURVEY.md §2.12).

Determinism / oracle-ability: the "random" priority is
``md5(seed || ':' || vid)`` — a fixed hex string compared bytewise, so
every round replays bit-identically in any SQL engine (same trick as the
walk sampler and ANF registers); see ``__spark_entry__._mis_sql``.

Scale shape per round:

* active-neighbour min-priority is ONE dst-keyed join of the persisted
  symmetric edge set with the |active|-row state plus a map-side-
  combinable ``groupBy(src).min`` — the edge set is hash-partitioned by
  dst once, so only the state crosses the wire;
* winner selection is a |active|-row left join (no active neighbour →
  wins);
* deactivation is one semi/anti-join pair on the winner's neighbourhood;
* the rounds run on the superstep driver (``graph/loop.py``): each
  round's winners and removed vertices are kept for the result, the
  active set is the committed state, and its size rides an Observation
  on that commit, so the "nothing left" test costs no job.

``luby_rounds`` is the one copy of the round: ``luby_coloring`` runs it
once per color.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, functions as F

from credigraph_spark.graph.adjacency import undirected_simple
from credigraph_spark.graph.loop import SuperstepLoop


# any md5 hex string sorts strictly below this sentinel (bytewise compare)
_MAX_P = "g"


def luby_rounds(loop: SuperstepLoop, und: DataFrame,
                active: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Luby rounds on ``loop`` from the (vid, p) ``active`` plan until no
    vertex is active or the loop's budget is spent; ``und`` is the
    symmetric edge set partitioned by dst. Returns (winners, removed,
    active): the union of every round's winners and of every round's
    removed neighbours (both held by ``loop`` until its ``finish``) and
    the final active set (the loop's state)."""
    empty = und.sparkSession.createDataFrame([], "vid long")
    winners, removed = [empty], [empty]
    active, m = loop.commit(loop.observe(active, F.count(F.lit(1)).alias("n")))
    for _ in loop:
        if not m["n"]:
            break
        nbr_min = (
            und.join(active.select(F.col("vid").alias("dst"),
                                   F.col("p").alias("pn")), "dst")
            .groupBy("src").agg(F.min("pn").alias("mp"))
        )
        win = loop.setup(
            active.join(nbr_min.withColumnRenamed("src", "vid"),
                        "vid", "left")
            .where(F.col("p") < F.coalesce("mp", F.lit(_MAX_P)))
            .select("vid"))
        gone = loop.setup(
            und.join(win.withColumnRenamed("vid", "src"), "src")
            .select(F.col("dst").alias("vid")).distinct()
            .join(active.select("vid"), "vid", "left_semi")
            .join(win, "vid", "left_anti"))
        winners.append(win)
        removed.append(gone)
        active, m = loop.commit(loop.observe(
            active.join(win, "vid", "left_anti")
            .join(gone, "vid", "left_anti"),
            F.count(F.lit(1)).alias("n")))
    return (reduce(DataFrame.unionByName, winners),
            reduce(DataFrame.unionByName, removed), active)


def maximal_independent_set(edges: DataFrame, rounds: int = 3,
                            seed: int = 7) -> tuple[DataFrame, int]:
    """((vid, state), rounds_run) after up to ``rounds`` Luby rounds on
    the cleaned undirected graph. ``state`` is ``'mis'`` (selected),
    ``'out'`` (a selected vertex's neighbour) or ``'active'`` (not yet
    settled — empty at fixpoint). Stops early when no vertex is active;
    the returned count is the number of rounds actually executed."""
    und = undirected_simple(edges).repartition(F.col("dst")).persist()
    pr = F.md5(F.concat_ws(":", F.lit(str(seed)),
                           F.col("vid").cast("string")))
    loop = SuperstepLoop(edges.sparkSession, "mis", None, rounds)
    mis, out, active = luby_rounds(
        loop, und, und.select(F.col("src").alias("vid")).distinct()
        .withColumn("p", pr))
    result = loop.finish(
        mis.select("vid", F.lit("mis").alias("state"))
        .unionByName(out.select("vid", F.lit("out").alias("state")))
        .unionByName(active.select("vid", F.lit("active").alias("state"))))
    und.unpersist()
    return result, loop.it
