"""Katz centrality — attenuated path-count supersteps.

x_{k+1}(v) = beta + alpha * sum_{u->v} w(u,v) * x_k(u),   x_0 = beta.

After k rounds x(v) = beta * sum_{j<=k} alpha^j (#weighted paths of
length j ending at v) — the classic Katz/Bonacich index truncated at
horizon k, which is also the practical way to run it at scale (the
geometric series makes the tail negligible once alpha*lambda_max < 1).
Not in the reference (its analytics stop at degree/PageRank,
tgrag/algorithms/) — survey-extension surface, the path-counting
companion to PageRank on the same contribution join.

Spark-first design — the sparse-state trick specialized to Katz:

* a vertex with no in-edges ("non-receiver") has x = beta forever, so
  (a) it never needs a state row and (b) its contribution to each dst
  is the CONSTANT alpha*beta*w, foldable into a static per-receiver
  base table computed once:
      base(v) = beta + alpha*beta * sum_{u nonrecv, u->v} w(u,v)
      x_{k+1}(v) = base(v) + alpha * sum_{u recv, u->v} w(u,v)*x_k(u)
  The loop therefore scans ONLY receiver-sourced edges — on bow-tie
  web graphs that also prunes the whole IN-tendril fringe from every
  superstep's shuffle.
* one superstep = one shuffle: state ⋈ edges on src (edges cached
  hash-partitioned by src so only the small state moves), then
  groupBy(dst).sum — partial-aggregatable, hub skew combines map-side.
* the merge with base is a left join on the static localCheckpointed
  base table; the superstep driver's (``graph/loop.py``) one action per
  superstep carries an Observation L1 delta for the optional tol mode
  with zero extra jobs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from credigraph_spark.graph.adjacency import clean_edges
from credigraph_spark.graph.loop import SuperstepLoop
from credigraph_spark.session import adaptive_partitions


def katz_centrality(edges: DataFrame, alpha: float = 0.1, beta: float = 1.0,
                    max_iter: int = 10, tol: float | None = None,
                    weight_col: str | None = None,
                    shuffle_partitions: int | None = None
                    ) -> tuple[DataFrame, dict]:
    """(vid, x) over all endpoints of the cleaned edge set, plus an info
    dict (iterations, converged, l1 trace). Fixed ``max_iter`` rounds,
    or early stop when the L1 step delta drops below ``tol``.

    Doubles are exact per path term with integer-valued weights and a
    short-decimal alpha, but cross-engine summation order differs —
    callers needing bit-stable hashes ROUND(x, 8) like the driver query
    (pagerank_5iter precedent).
    """
    if weight_col is None:
        e = clean_edges(edges.select("src", "dst")).select(
            "src", "dst", F.lit(1.0).alias("w"))
    else:
        e = (edges.select("src", "dst",
                          F.col(weight_col).cast("double").alias("w"))
             .where(F.col("src").isNotNull() & F.col("dst").isNotNull()
                    & (F.col("src") != F.col("dst")))
             .groupBy("src", "dst").agg(F.sum("w").alias("w")))

    # e persisted for the setup's lifetime: receivers, the semi/anti
    # splits and the static-base aggregation each scan it — uncached,
    # every consumer re-ran the |E|-row dedup (the pagerank setup
    # finding). receivers likewise: checkpointed once, read three times.
    # receivers and base are the loop's setup tables, released by its
    # finish; the loop is sized after them, from the loop-edge count.
    info: dict = {"iterations": 0, "converged": False, "l1": []}
    loop = SuperstepLoop(e.sparkSession, "katz", None, max_iter, info=info)
    e = e.persist()
    receivers = loop.setup(e.select(F.col("dst").alias("vid")).distinct())

    # loop edges: receiver-sourced only, cached partitioned by src at a
    # partition count derived from the MEASURED loop-edge count
    # (scale-adaptive; an explicit shuffle_partitions still wins)
    le = (e.join(receivers.withColumnRenamed("vid", "src"), "src",
                 "left_semi").persist())
    n_le = le.count()
    nparts = loop.partitions = int(shuffle_partitions or adaptive_partitions(n_le))
    lp = le.repartition(nparts, "src").persist()
    lp.count()
    le.unpersist()
    le = lp

    # static base: beta + alpha*beta * (weight from non-receiver sources)
    nonrecv_w = (
        e.join(receivers.withColumnRenamed("vid", "src"), "src", "left_anti")
        .groupBy(F.col("dst").alias("vid")).agg(F.sum("w").alias("nw"))
    )
    base = loop.setup(
        receivers.join(nonrecv_w, "vid", "left")
        .select("vid",
                (F.lit(float(beta)) + F.lit(float(alpha * beta))
                 * F.coalesce("nw", F.lit(0.0))).alias("base"))
        .repartition(nparts, "vid")
    )
    state, _ = loop.commit(receivers.select("vid", F.lit(float(beta)).alias("x"))
                           .repartition(nparts, "vid"))
    e.unpersist()

    with loop:
        for _ in loop:
            contrib = (
                state.join(le.withColumnRenamed("src", "vid"), "vid")
                .select(F.col("dst").alias("vid"),
                        (F.col("x") * F.col("w")).alias("c"))
                .groupBy("vid")
                .agg(F.sum("c").alias("c"))
            )
            state, m = loop.commit(loop.observe(
                base.join(contrib, "vid", "left")
                .select("vid",
                        (F.col("base") + F.lit(float(alpha))
                         * F.coalesce("c", F.lit(0.0))).alias("x"))
                .join(state.withColumnRenamed("x", "x_old"), "vid", "left"),
                F.sum(F.abs(F.col("x") - F.coalesce("x_old", F.lit(0.0)))).alias("l1"),
            ).select("vid", "x"))
            l1 = m["l1"] or 0.0
            info["l1"].append(float(l1))
            loop.end_round(tol is not None and l1 < tol)

    # materialize before releasing the caches: the returned lazy plan
    # reads them, and the caller's first action would otherwise re-run
    # the full pipeline against uncached inputs
    out = loop.finish(state.unionByName(
        e.select(F.col("src").alias("vid")).distinct()
        .join(receivers, "vid", "left_anti")
        .select("vid", F.lit(float(beta)).alias("x"))))
    le.unpersist()
    return out, info
