"""DAG longest-path layering / topological levels (X196).

Not present in the reference (its graph stack is undirected PageRank /
CC — tgrag/algorithms); layering is the standard scheduling view of a
dependency DAG: ``level(v)`` = length of the longest path from any
source to ``v``, i.e. the earliest parallel wave in which ``v`` can run
when every edge is a dependency.  The input edge set is made acyclic by
construction — each undirected support pair is oriented low-id -> high-id
(the same canonicalization the triangle family uses), which both
guarantees termination and gives a deterministic layering.

Physical design: Bellman-style max-propagation.  Each superstep sends
``level(u) + 1`` over every edge, takes the per-receiver MAX (the
``aggregate_messages`` primitive — map-side-combinable, hub-safe), and
folds it into the running level with ``GREATEST``.  The changed-row
count rides an Observation on the superstep driver's commit of the new
state (``graph/loop.py``: one driver action per superstep, lineage
truncated every round, the superseded state released), so convergence
detection costs no extra job.
Rounds are bounded by the DAG depth; ``max_rounds`` caps the horizon
for adversarially deep chains (the returned level is then "longest path
using <= max_rounds edges", exact whenever depth < max_rounds).
"""

from __future__ import annotations

import sys

from pyspark.sql import DataFrame, functions as F

from credigraph_spark.graph.loop import SuperstepLoop
from credigraph_spark.graph.pregel import aggregate_messages


def dag_levels(edges: DataFrame, max_rounds: int | None = None,
               orient: bool = True) -> tuple[DataFrame, int]:
    """Longest-path level per vertex of the low->high oriented DAG.

    Returns ((vid, level) for every vertex of the cleaned support,
    rounds_run). Levels are exact once the loop converges before
    ``max_rounds``. Pass ``orient=False`` when the input is ALREADY a
    DAG (e.g. an SCC condensation) and its true direction must be kept
    — the caller then owns the acyclicity guarantee (``max_rounds``
    still bounds a mistaken cyclic input).
    """
    # single dedup: the post-orient dedup subsumes clean_edges' one
    e = (edges.select("src", "dst")
         .where(F.col("src").isNotNull() & F.col("dst").isNotNull()
                & (F.col("src") != F.col("dst"))))
    if orient:
        e = e.select(F.least("src", "dst").alias("src"),
                     F.greatest("src", "dst").alias("dst"))
    d = e.dropDuplicates(["src", "dst"]).persist()

    loop = SuperstepLoop(edges.sparkSession, "dag", None,
                         sys.maxsize if max_rounds is None else max_rounds)
    lvl, _ = loop.commit(d.select(F.col("src").alias("vid"))
                         .unionByName(d.select(F.col("dst").alias("vid")))
                         .distinct()
                         .select("vid", F.lit(0).cast("long").alias("l")))
    for _ in loop:
        msg = aggregate_messages(
            d, lvl, to_dst=F.col("src_l") + 1, agg={"m": F.max},
            attach=("src",), how="inner")
        joined = (lvl.withColumnRenamed("l", "l_old")
                  .join(msg, "vid", "left")
                  .select("vid", "l_old",
                          F.greatest(F.col("l_old"),
                                     F.coalesce("m", F.lit(0)).cast("long"))
                          .alias("l")))
        lvl, m = loop.commit(loop.observe(
            joined, F.sum((F.col("l") != F.col("l_old")).cast("long"))
            .alias("changed")).select("vid", "l"))
        loop.end_round((m["changed"] or 0) == 0)
    lvl = loop.finish(lvl)
    d.unpersist()
    return lvl.select("vid", F.col("l").alias("level")), loop.it
