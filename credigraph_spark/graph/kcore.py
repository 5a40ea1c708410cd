"""k-core decomposition by iterative degree peeling (undirected graph).

Not in the reference; standard companion to its degree-filter pass
(tgrag/scripts/process.py two-pass threshold filter generalized to a
fixpoint). Each round removes vertices whose undirected degree in the
CURRENT subgraph is < k and restricts the edge set to survivors — the
fixpoint is the k-core.

Scale shape: each round is one map-side-combinable degree aggregation plus
two left-semi joins, all keyed on the same vertex hash partitioning; the
edge set only shrinks, so rounds get cheaper. The rounds run on the
superstep driver (``graph/loop.py``): one action per round, the commit,
whose observed surviving-edge count doubles as the convergence test. No
collect of vertex data, no windows, no Python.
"""

from __future__ import annotations

import sys

from pyspark.sql import Column, DataFrame, functions as F

from credigraph_spark.graph.adjacency import clean_edges
from credigraph_spark.graph.loop import SuperstepLoop
from credigraph_spark.session import adaptive_partitions


def _symmetric(edges: DataFrame) -> DataFrame:
    """The cleaned edge set with both directions, one row per pair."""
    e = clean_edges(edges)
    return (e.select("src", "dst")
            .unionByName(e.select(F.col("dst").alias("src"),
                                  F.col("src").alias("dst")))
            .dropDuplicates(["src", "dst"]))


def _peel(loop: SuperstepLoop, und: DataFrame, n_edges: int, score: Column,
          threshold) -> tuple[DataFrame, int]:
    """Run ``loop``'s peel rounds on the symmetric edge rows ``und``: each
    round keeps the rows whose both endpoints have ``score`` (an aggregate
    over a vertex's rows) >= ``threshold`` in the current subgraph; the
    fixpoint is a round that removes no row. The surviving-row count rides
    the round's one action. Returns (surviving rows, their count); the
    superstep driver holds the surviving rows as its state."""
    with loop:
        for _ in loop:
            keep = (und.groupBy(F.col("src").alias("vid")).agg(score.alias("s"))
                    .where(F.col("s") >= threshold).select("vid"))
            und, m = loop.commit(loop.observe(
                und.join(keep.withColumnRenamed("vid", "src"), "src", "left_semi")
                .join(keep.withColumnRenamed("vid", "dst"), "dst", "left_semi"),
                F.count(F.lit(1)).alias("n")))
            n_next = m["n"] or 0
            loop.end_round(n_next == n_edges)
            n_edges = n_next
    return und, n_edges


def _core(und: DataFrame, score: Column, threshold, name: str,
          max_rounds: int | None) -> tuple[DataFrame, int]:
    """``k_core``/``s_core``: peel ``und`` to its fixpoint (or for
    ``max_rounds`` rounds), then (vid, name) = each survivor's score."""
    # the peel rounds' exchanges are sized to the measured symmetrized
    # edge count; the fixpoint ends the loop when no bound is given
    loop = SuperstepLoop(und.sparkSession, "kcore", None,
                         sys.maxsize if max_rounds is None else max_rounds)
    und = loop.cache(und)
    n_edges = und.count()
    loop.partitions = adaptive_partitions(n_edges)
    und, _ = _peel(loop, und, n_edges, score, threshold)
    return (loop.finish(und.groupBy(F.col("src").alias("vid"))
                        .agg(score.alias(name))), loop.it)


def k_core(
    edges: DataFrame, k: int, max_rounds: int | None = None
) -> tuple[DataFrame, int]:
    """Peel to the k-core (or for ``max_rounds`` rounds if given — the
    fixed-round form is deterministic mid-convergence and oracle-friendly).

    Returns ((vid, deg) of the surviving subgraph's undirected degrees,
    rounds_run).
    """
    return _core(_symmetric(edges), F.count("*"), k, "deg", max_rounds)


def s_core(
    edges: DataFrame, s, weight_col: str = "w",
    max_rounds: int | None = None,
) -> tuple[DataFrame, int]:
    """Weighted k-core (s-core, Eidsaa & Almaas 2013): peel vertices whose
    summed incident edge weight in the CURRENT subgraph is < ``s``.
    Generalizes ``k_core`` (k_core == s_core with weight 1); the strength
    threshold is the natural core notion for importance-scored link
    graphs (the reference scores edges — txt_to_csv_sqlite.py:206-275 —
    so "core by total edge importance" is the user-facing ask).

    The ``k_core`` peel loop with a strength sum in place of the degree
    count. Parallel edges are summed during symmetrization. With integer
    weights every strength is exact, so the fixed-round form replays
    bit-identically in SQL.

    Returns ((vid, strength) of the surviving subgraph, rounds_run)."""
    e = (
        edges.select("src", "dst", F.col(weight_col).alias("w"))
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .where(F.col("src") != F.col("dst"))
    )
    und = (
        e.unionByName(e.select(F.col("dst").alias("src"),
                               F.col("src").alias("dst"), "w"))
        .groupBy("src", "dst").agg(F.sum("w").alias("w"))
    )
    return _core(und, F.sum("w"), s, "strength", max_rounds)


def coreness(
    edges: DataFrame,
    k_max: int | None = None,
    rounds_per_k: int | None = None,
) -> DataFrame:
    """Per-vertex core number: the largest k such that the vertex belongs
    to the k-core of the undirected graph. Returns (vid, core) for every
    vertex of the cleaned symmetrized graph (all have core >= 1).

    Batch peel: phases k = 2, 3, ... reuse the shrinking edge set — the
    (k-1)-core peel output IS the k-phase input, so total work is one
    monotone sweep, not |k| independent decompositions. Each phase runs
    the ``k_core`` peel loop; vertices dropped during phase k get
    core = k-1. The accumulated assignment is the phase loop's state,
    checkpointed once per phase so lineage stays flat across the
    ~degeneracy phases (a web graph's degeneracy is a few hundred — a few
    hundred cheap, shrinking rounds at 100 TB).

    ``k_max``: cap — survivors of phase k_max get core = k_max (needed
    for a deterministic fixed-size SQL oracle). ``rounds_per_k``: run
    each phase exactly this many peel rounds instead of to fixpoint —
    deterministic mid-convergence, matching an unrolled oracle; None
    (default) peels each phase to its fixpoint (the true core number).
    """
    spark = edges.sparkSession
    phases = SuperstepLoop(spark, "coreness", None,
                           sys.maxsize if k_max is None else k_max - 1)
    und, m = phases.commit(phases.observe(_symmetric(edges),
                                          F.count(F.lit(1)).alias("n")))
    n_edges = m["n"] or 0
    phases.partitions = adaptive_partitions(n_edges)
    cores = spark.createDataFrame([], "vid long, core long")
    with phases:
        for p in phases:
            if n_edges == 0:
                break
            k = p + 2
            before = und.select(F.col("src").alias("vid")).distinct()
            peel = SuperstepLoop(spark, "coreness_peel", phases.partitions,
                                 sys.maxsize if rounds_per_k is None else rounds_per_k)
            und, n_edges = _peel(peel, und, n_edges, F.count("*"), k)
            removed = before.join(
                und.select(F.col("src").alias("vid")).distinct(), "vid", "left_anti"
            ).select("vid", F.lit(k - 1).alias("core"))
            cores, _ = phases.commit(cores.unionByName(removed))
            # the survivors outlive their peel loop: the next phase reads them
            und = phases.cache(und)
    if n_edges > 0:  # survivors at the cap
        cores = cores.unionByName(
            und.select(F.col("src").alias("vid")).distinct()
            .select("vid", F.lit(k_max).alias("core"))
        )
    return phases.finish(cores)


def densest_subgraph(edges: DataFrame, eps_tenths: int = 1,
                     max_rounds: int = 8,
                     round_digits: int = 6) -> DataFrame:
    """Densest-subgraph peeling (X238; Charikar's 2-approx, in the
    Bahmani-Kumar-Vassilvitskii 2012 DISTRIBUTED form): each round
    computes the current average density rho = |E|/|V| of the
    undirected simple graph and removes EVERY vertex with degree <=
    2(1+eps)rho at once — O(log n) rounds instead of n sequential
    min-degree peels, a (2+2eps)-approximation. The densest prefix is
    the classic link-farm / spam-cluster detector: a set of pages
    whose internal density no global threshold would reveal.

    The threshold test is EXACT integer arithmetic: with eps =
    eps_tenths/10, "deg <= 2(1+eps)|E|/|V|" is evaluated as
    10 * deg * |V| <= (20 + 2*eps_tenths) * |E| — no floats in the
    peel decision, so every round's survivor set replays bit-exactly.

    Returns one row per round (including round 0, the input graph):
    (round, n_vertices, n_edges, density, is_best) — density =
    |E|/|V| of the UNDIRECTED simple graph at that round (rounded),
    is_best marks the densest round (ties to the earliest).

    Scale shape: per round ONE degree aggregation + two semi-joins
    (the k_core peel shape, audited for scale there). The degree table
    is the round's commit, and the density scalars ride it as
    Observations: one driver action per round.
    """
    spark = edges.sparkSession
    loop = SuperstepLoop(spark, "densest", None, max_rounds + 1)
    # the symmetrized edge set is a setup table: the first round's peeled
    # set is a lazy cache over it, which the second round materializes.
    # Its observed row count sizes the peel loop.
    und, m = loop.keep(loop.observe(_symmetric(edges), F.count(F.lit(1)).alias("n")))
    loop.partitions = adaptive_partitions(m["n"] or 0)
    rows = []
    thr = 20 + 2 * eps_tenths
    with loop:
        for r in loop:
            deg, m = loop.commit(loop.observe(
                und.groupBy(F.col("src").alias("vid")).agg(F.count("*").alias("deg")),
                F.count(F.lit(1)).alias("nv"), F.sum("deg").alias("d2")))
            nv = int(m["nv"] or 0)
            ne = int(m["d2"] or 0) // 2
            if nv == 0:
                break
            rows.append((r, nv, ne, round(ne / nv, round_digits)))
            # 10 * deg * nv <= thr * ne  <=>  deg <= 2(1+eps) * ne/nv
            keep = deg.where(10 * F.col("deg") * nv > thr * ne).select("vid")
            # cached after the commit: the next round's commit materializes
            # it, the round after reads it once more
            und = loop.cache(und.join(keep.withColumnRenamed("vid", "src"), "src",
                                      "left_semi")
                             .join(keep.withColumnRenamed("vid", "dst"), "dst",
                                   "left_semi")
                             .select("src", "dst"))
    loop.finish()  # the result is local: it reads no loop table
    out = []
    if rows:  # none on an empty cleaned graph (e.g. only self-loops/nulls)
        best = max(range(len(rows)), key=lambda i: (rows[i][3], -i))
        out = [(r, nv, ne, d, i == best)
               for i, (r, nv, ne, d) in enumerate(rows)]
    return spark.createDataFrame(
        out, "round LONG, n_vertices LONG, n_edges LONG, "
             "density DOUBLE, is_best BOOLEAN")
