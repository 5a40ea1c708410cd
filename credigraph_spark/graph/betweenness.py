"""Seed-sampled betweenness centrality (Brandes), horizon-bounded.

Not in the reference (no distance analytics at all); this is the standard
"which vertices broker the graph" centrality, in the form that actually
scales: exact all-pairs Brandes is O(V·E) and intractable at web scale,
so production systems estimate it from a SEED SAMPLE of sources
(Brandes/Pich 2007 pivot estimation) — betweenness restricted to
shortest paths that start at the seeds, optionally within a hop horizon.

Algorithm (Brandes 2001, both phases as DataFrame level-sweeps):

* Forward: per-seed BFS levels carrying σ (shortest-path counts) —
  level h's σ(v) = Σ over level-(h−1) predecessors' σ, which is ONE
  join + map-side-combinable sum per level; the per-(seed, vid) state
  is discovered exactly once (anti-join against the seen set), so σ is
  final the moment the vertex enters its level.
* Backward: dependency accumulation δ(u) = σ(u) · Σ_{w ∈ succ, level+1}
  (1 + δ(w)) / σ(w), swept from the deepest level up — one join +
  grouped sum per level, reusing the materialized level frames.
* B(v) = Σ_seeds δ_seed(v) for v ≠ seed.

Both phases run on the superstep driver (``graph/loop.py``): each level
frame and each dependency frame is kept for the backward sweep and the
result (plans stay flat; each is touched once forward + once backward),
the seen set is the committed state, and the new level's size rides an
Observation on its own action, so an empty level costs no extra job. All joins key on (seed, vid) — a seed
batch of k seeds multiplies state rows by ≤ k but keeps every stage a
plain hash join + partial agg, so hub skew is absorbed the same way as
every other superstep in this engine. σ values are exact integers; δ is
the only float, introduced in the backward sweep's small per-successor
sums, so round-to-8 outputs are reproducible against the unrolled SQL
oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from credigraph_spark.graph.adjacency import clean_edges, vertices_from_edges
from credigraph_spark.graph.loop import SuperstepLoop


def betweenness_from_seeds(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 3,
    directed: bool = True,
    round_digits: int = 8,
) -> DataFrame:
    """Returns (vid, betweenness): Σ over seeds of the Brandes dependency
    δ_seed(v), v ≠ seed, over shortest paths of length ≤ ``max_hops``
    starting at the seeds. Vertices brokering no sampled path get 0.0."""
    rel = clean_edges(edges).select("src", "dst")
    if not directed:
        rel = rel.unionByName(
            rel.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    rel = rel.persist()
    all_verts = vertices_from_edges(rel)

    loop = SuperstepLoop(edges.sparkSession, "betweenness", None, max_hops)
    l0 = loop.setup(
        seeds.select(F.col(seeds.columns[0]).alias("seed")).distinct()
        .select("seed", F.col("seed").alias("vid"),
                F.lit(1).cast("long").alias("sigma"))
    )
    levels = [l0]
    seen = l0.select("seed", "vid")
    for _ in loop:
        cand = (
            levels[-1].join(rel, levels[-1]["vid"] == rel["src"])
            .select("seed", F.col("dst").alias("vid"), "sigma")
        )
        new, m = loop.keep(loop.observe(
            cand.join(seen, ["seed", "vid"], "left_anti")
            .groupBy("seed", "vid").agg(F.sum("sigma").alias("sigma")),
            F.count(F.lit(1)).alias("n")))
        if not m["n"]:
            break
        levels.append(new)
        seen, _ = loop.commit(seen.unionByName(new.select("seed", "vid")))

    # backward sweep: delta[h] frames (seed, vid, delta); deepest level
    # has delta = 0 and contributes only its (1 + 0)/sigma ratio upward.
    deltas: list[DataFrame | None] = [None] * len(levels)
    acc: DataFrame | None = None
    for h in range(len(levels) - 1, 0, -1):
        w_state = levels[h].select(
            "seed", F.col("vid").alias("w"), F.col("sigma").alias("sigma_w"))
        if deltas[h] is not None:
            w_state = w_state.join(
                deltas[h].select("seed", F.col("vid").alias("w"), "delta"),
                ["seed", "w"], "left")
        else:
            w_state = w_state.withColumn("delta", F.lit(0.0))
        ratios = w_state.select(
            "seed", "w",
            ((F.lit(1.0) + F.coalesce("delta", F.lit(0.0))) /
             F.col("sigma_w")).alias("ratio"))
        per_u = (
            rel.join(ratios, rel["dst"] == ratios["w"])
            .select("seed", F.col("src").alias("vid"), "ratio")
            .groupBy("seed", "vid").agg(F.sum("ratio").alias("rsum"))
        )
        d = loop.setup(
            levels[h - 1].join(per_u, ["seed", "vid"])
            .select("seed", "vid",
                    (F.col("sigma") * F.col("rsum")).alias("delta"))
        )
        deltas[h - 1] = d
        interior = d.where(F.col("vid") != F.col("seed"))
        acc = interior if acc is None else acc.unionByName(interior)

    if acc is None:
        out = all_verts.select("vid", F.lit(0.0).alias("betweenness"))
    else:
        b = acc.groupBy("vid").agg(
            F.round(F.sum("delta"), round_digits).alias("betweenness"))
        out = (
            all_verts.join(b, "vid", "left")
            .select("vid", F.coalesce("betweenness", F.lit(0.0))
                    .alias("betweenness"))
        )
    # materialized before the caches are released: the returned plan
    # reads them, and the caller's first action would otherwise re-run
    # the full pipeline against uncached inputs
    out = loop.finish(out)
    rel.unpersist()
    return out

def weighted_betweenness_from_seeds(
    edges: DataFrame,
    seeds: DataFrame,
    max_rounds: int = 3,
    weight_col: str = "w",
    directed: bool = True,
    round_digits: int = 6,
) -> DataFrame:
    """Weighted seed-sampled Brandes betweenness, horizon-bounded.

    The weighted counterpart of :func:`betweenness_from_seeds`: the hop
    levels of unweighted BFS no longer order weighted shortest paths, so
    both Brandes phases run as FIXPOINT sweeps over the shortest-path
    DAG instead of level sweeps:

    * distances from :func:`sssp.weighted_per_seed_distances`
      (delta-frontier Bellman-Ford, ≤ ``max_rounds`` edges);
    * DAG edge (u → v) iff dist(u) + w(u,v) == dist(v) with w > 0
      (positive weights REQUIRED — they make the DAG acyclic; with
      integer weights the equality is float-exact in any engine);
    * σ: ``max_rounds`` rounds of σ(v) = Σ_pred σ(u) with σ(seed) = 1
      pinned — the DAG is ≤ max_rounds deep, so the fixpoint is reached;
    * δ: ``max_rounds`` rounds of δ(u) = σ(u) · Σ_succ (1 + δ(w))/σ(w),
      same convergence argument on the reversed DAG;
    * B(v) = Σ_seeds δ_seed(v), v ≠ seed.

    Each round is one hash join + one partial-aggregated sum keyed
    (seed, vid), committed by the superstep driver — the same superstep
    discipline as every iterative operator here (σ and δ are two loops;
    the DAG and the pinned seed rows are the σ loop's setup tables)."""
    from credigraph_spark.graph.sssp import weighted_per_seed_distances

    rel = edges.select("src", "dst",
                       F.col(weight_col).cast("double").alias("w"))
    if not directed:
        rel = rel.unionByName(
            rel.select(F.col("dst").alias("src"), F.col("src").alias("dst"),
                       "w"))
    rel = (rel.where(F.col("src").isNotNull() & F.col("dst").isNotNull()
                     & (F.col("w") > 0)).persist())
    d = weighted_per_seed_distances(rel, seeds, max_rounds, "w", True)
    spark = edges.sparkSession
    sig = SuperstepLoop(spark, "wbetweenness_sigma", None, max_rounds)
    dag = sig.setup(
        d.select("seed", F.col("vid").alias("src"),
                 F.col("dist").alias("du"))
        .join(rel, "src")
        .join(d.select("seed", F.col("vid").alias("dst"),
                       F.col("dist").alias("dv")), ["seed", "dst"])
        .where(F.col("du") + F.col("w") == F.col("dv"))
        .select("seed", F.col("src").alias("u"), F.col("dst").alias("v"))
    )
    seed_sigma = sig.setup(
        seeds.select(F.col(seeds.columns[0]).alias("seed")).distinct()
        .select("seed", F.col("seed").alias("vid"),
                F.lit(1).cast("long").alias("sigma"))
    )
    sigma = seed_sigma
    for _ in sig:
        prop = (
            dag.join(sigma.select("seed", F.col("vid").alias("u"), "sigma"),
                     ["seed", "u"])
            .groupBy("seed", F.col("v").alias("vid"))
            .agg(F.sum("sigma").alias("sigma"))
        )
        sigma, _ = sig.commit(seed_sigma.unionByName(prop))

    dl = SuperstepLoop(spark, "wbetweenness_delta", None, max_rounds)
    delta = sigma.select("seed", "vid", F.lit(0.0).alias("delta"))
    for _ in dl:
        ratios = (
            sigma.join(delta, ["seed", "vid"], "left")
            .select("seed", F.col("vid").alias("v"),
                    ((F.lit(1.0) + F.coalesce("delta", F.lit(0.0)))
                     / F.col("sigma")).alias("ratio"))
        )
        rsum = (
            dag.join(ratios, ["seed", "v"])
            .groupBy("seed", F.col("u").alias("vid"))
            .agg(F.sum("ratio").alias("rsum"))
        )
        delta, _ = dl.commit(
            sigma.join(rsum, ["seed", "vid"])
            .select("seed", "vid",
                    (F.col("sigma") * F.col("rsum")).alias("delta"))
        )
    b = (
        delta.where(F.col("vid") != F.col("seed"))
        .groupBy("vid")
        .agg(F.round(F.sum("delta"), round_digits).alias("betweenness"))
    )
    all_verts = vertices_from_edges(rel)
    # materialized before the loops' tables and the cache are released:
    # the returned plan reads them
    out = dl.finish(
        all_verts.join(b, "vid", "left")
        .select("vid", F.coalesce("betweenness", F.lit(0.0))
                .alias("betweenness"))
    )
    sig.finish()
    rel.unpersist()
    return out
