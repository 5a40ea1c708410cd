"""Distributed graph coloring via iterated Luby MIS.

The classic parallel coloring (Luby 1986 / Jones–Plassmann family):
color 1 = a maximal independent set of the graph, color 2 = an MIS of
what remains, and so on — every color class is independent by
construction, so the result is a proper partial coloring after any fixed
(colors × rounds) budget. Conflict-free scheduling, register allocation,
and parallel graph updates all reduce to this. Not in the reference
(its analytics stop at PageRank/degrees); extends the engine's MIS
primitive (graph/mis.py) the same way two-level Louvain extends
local-move.

Determinism / oracle-ability: per color run c the priority is
``md5(seed ':' c ':' vid)`` (fresh draw per color, fixed within a run),
compared bytewise — every round replays bit-identically in any SQL
engine. A vertex's fate per round: WIN (priority strictly below every
active neighbour's, 'g' sentinel when none — isolated actives win
immediately), OUT for the rest of this color run (a winner's neighbour),
or stay active. After each color run, OUT and still-active vertices
return to the pool for the next color; vertices uncolored after all
budgeted runs report color 0.

Scale shape: each color runs the MIS module's Luby rounds
(``mis.luby_rounds``: ONE dst-keyed join of the persisted symmetric edge
set with the active state + map-side-combinable min, winner left-join,
semi/anti deactivation) on its own superstep loop; the color classes and
the returned pool are the colors loop's kept tables and committed state
(``graph/loop.py``). The active set shrinks geometrically within a run
AND across colors, so later rounds are cheap; the edge set is
partitioned by dst exactly once for ALL runs.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, functions as F

from credigraph_spark.graph.adjacency import undirected_simple
from credigraph_spark.graph.loop import SuperstepLoop
from credigraph_spark.graph.mis import luby_rounds


def luby_coloring(edges: DataFrame, n_colors: int = 3, rounds: int = 3,
                  seed: int = 7) -> DataFrame:
    """(vid, color) — color 1..n_colors are independent sets (greedy MIS
    per color, ``rounds`` Luby rounds each); color 0 = not yet colored
    within the budget."""
    und = undirected_simple(edges).repartition(F.col("dst")).persist()
    spark = edges.sparkSession
    colors = SuperstepLoop(spark, "coloring", None, n_colors)
    remaining, _ = colors.commit(und.select(F.col("src").alias("vid")).distinct())
    classes = [spark.createDataFrame([], "vid long, color int")]
    for i in colors:
        c = i + 1
        pr = F.md5(F.concat_ws(":", F.lit(str(seed)), F.lit(str(c)),
                               F.col("vid").cast("string")))
        run = SuperstepLoop(spark, "coloring_luby", None, rounds)
        mis, carry, active = luby_rounds(run, und, remaining.withColumn("p", pr))
        classes.append(colors.setup(
            mis.select("vid", F.lit(c).cast("int").alias("color"))))
        # OUT + still-active vertices return to the pool for color c+1
        remaining, _ = colors.commit(
            carry.unionByName(active.select("vid")).distinct())
        run.finish()
    out = colors.finish(reduce(DataFrame.unionByName, classes).unionByName(
        remaining.select("vid", F.lit(0).cast("int").alias("color"))))
    und.unpersist()
    return out
