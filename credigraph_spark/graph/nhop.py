"""n-hop subnetwork extraction and hop-bounded BFS distances.

Reference: tgrag/construct_graph_scripts/subnetwork_construct.py:19-72 —
pandas frontier loop over the undirected incidence relation, run
``n_hop + 1`` rounds, with a seen-set dedup. Goldens in
test/test_construct/test_subnetwork_construction.py:38-95 (4-node path,
seed {1}: hop0 -> {1,2}, hop1 -> {1,2,3}, hop2 -> {1,2,3}).

Spark-first: every hop-bounded reach in the engine (the subnetwork, BFS
distances from a seed set or from each seed, the live-edge spread of the
influence operators) is one keyed frontier BFS, ``frontier_bfs``, on the
superstep driver (``graph/loop.py``): per round one join of the frontier
with the arcs, a distinct and an anti join against the seen set, and ONE
commit of the grown seen set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from credigraph_spark.graph.loop import SuperstepLoop


def frontier_bfs(loop: SuperstepLoop, arcs: DataFrame, seeds: DataFrame) -> DataFrame:
    """The keyed frontier BFS: ``seeds`` holds distinct (*keys, vid) rows
    (the key is a seed, a simulation or a (sim, cand) pair; none for one
    shared source) and ``arcs`` (*arc_keys, vid, dst) rows, its keys a
    subset of the seeds' (a simulation's live edges). Round h of ``loop``
    joins the pairs at distance h with their arcs and adds the pairs not
    seen yet at distance h + 1: BFS discovers each pair at its minimum
    distance, so no min-agg is needed.

    The state (*keys, vid, dist) is the seen set, committed once per
    round; the new-pair count rides an Observation on that commit and
    the loop stops once a round finds none. Returns the final state,
    held by ``loop`` until its ``finish``."""
    keys = [c for c in seeds.columns if c != "vid"]
    on = [c for c in arcs.columns if c != "dst"]
    state, _ = loop.commit(seeds.select(*keys, "vid", F.lit(0).alias("dist")))
    for h in loop:
        new = (
            state.where(F.col("dist") == h).select(*keys, "vid")
            .join(arcs, on)
            .select(*keys, F.col("dst").alias("vid")).distinct()
            .join(state.select(*keys, "vid"), [*keys, "vid"], "left_anti")
            .select(*keys, "vid", F.lit(h + 1).alias("dist"))
        )
        state, m = loop.commit(state.unionByName(
            loop.observe(new, F.count(F.lit(1)).alias("n"))))
        loop.end_round((m["n"] or 0) == 0)
    return state


def _arcs(edges: DataFrame, directed: bool) -> DataFrame:
    """(vid, dst) arcs of ``edges``, reversed copies added when undirected."""
    arcs = edges.select(F.col("src").alias("vid"), "dst")
    if directed:
        return arcs
    return arcs.unionByName(edges.select(F.col("dst").alias("vid"),
                                         F.col("src").alias("dst")))


def _sources(seeds: DataFrame) -> DataFrame:
    return seeds.select(F.col(seeds.columns[0]).alias("vid")).distinct()


def n_hop_subgraph(edges: DataFrame, seeds: DataFrame, n_hop: int) -> tuple[DataFrame, DataFrame]:
    """Returns (vertices(vid), sub_edges(src,dst)).

    ``seeds``: single-column DataFrame of seed vids. Expansion runs
    ``n_hop + 1`` rounds over the undirected incidence relation
    (reference semantics: hop 0 already includes the seeds' direct
    neighbors, subnetwork_construct.py:44-60)."""
    loop = SuperstepLoop(edges.sparkSession, "nhop", None, n_hop + 1)
    seen = loop.finish(frontier_bfs(loop, _arcs(edges, False), _sources(seeds))) \
        .select("vid")
    sub_edges = (
        edges.join(seen.withColumnRenamed("vid", "src"), "src", "left_semi")
        .join(seen.withColumnRenamed("vid", "dst"), "dst", "left_semi")
        .select("src", "dst")
    )
    return seen, sub_edges


def bfs_distances(edges: DataFrame, seeds: DataFrame, max_hops: int,
                  directed: bool = True) -> DataFrame:
    """(vid, dist) — minimum hop count from the seed set, up to
    ``max_hops``; unreachable vertices are absent. Exactly
    oracle-checkable with a depth-bounded recursive CTE (min over all
    ≤max_hops paths)."""
    loop = SuperstepLoop(edges.sparkSession, "bfs", None, max_hops)
    return loop.finish(frontier_bfs(loop, _arcs(edges, directed), _sources(seeds)))


def per_seed_distances(edges: DataFrame, seeds: DataFrame, max_hops: int,
                       directed: bool = True) -> DataFrame:
    """(seed, vid, dist) — minimum hop count from EACH seed separately,
    up to ``max_hops`` (bfs_distances collapses the seed set to one
    source; this keeps the seed dimension, the building block for
    per-source centralities): the frontier BFS keyed by the seed. Seed
    rows themselves appear with dist = 0."""
    loop = SuperstepLoop(edges.sparkSession, "per_seed_bfs", None, max_hops)
    sources = _sources(seeds).select(F.col("vid").alias("seed"), "vid")
    return loop.finish(frontier_bfs(loop, _arcs(edges, directed), sources))


def closeness_centrality(edges: DataFrame, seeds: DataFrame, max_hops: int,
                         directed: bool = True) -> DataFrame:
    """(seed, n_reachable, sum_dist, closeness) — bounded-horizon
    closeness of each seed: r / Σ dist over the r vertices reachable
    within ``max_hops`` (0.0 when nothing is reachable). Companion to
    ``harmonic_centrality`` on the same ``per_seed_distances`` primitive;
    the reference's graph layer has no distance analytics at all
    (its analytics stop at degree/PageRank, tgrag/algorithms/), so this
    is survey-extension surface like harmonic/betweenness.

    r and Σd are exact integers (one count + one long-sum per seed), so
    the only float op is the final division — reproducible bit-for-bit
    in any engine, rounded to 8 decimals like the other centralities."""
    d = per_seed_distances(edges, seeds, max_hops, directed)
    agg = (
        d.where(F.col("dist") > 0)
        .groupBy("seed")
        .agg(F.count("*").alias("n_reachable"),
             F.sum("dist").cast("long").alias("sum_dist"))
    )
    return (
        agg.join(seeds.select(F.col(seeds.columns[0]).alias("seed")).distinct(),
                 "seed", "right")
        .select(
            "seed",
            F.coalesce("n_reachable", F.lit(0)).alias("n_reachable"),
            F.coalesce("sum_dist", F.lit(0)).alias("sum_dist"),
            F.when(F.coalesce("sum_dist", F.lit(0)) > 0,
                   F.round(F.col("n_reachable") / F.col("sum_dist"), 8))
             .otherwise(F.lit(0.0)).alias("closeness"),
        )
    )


def eccentricity(edges: DataFrame, seeds: DataFrame, max_hops: int,
                 directed: bool = True) -> DataFrame:
    """(seed, n_reachable, ecc) — bounded-horizon eccentricity of each
    seed: the max hop distance over vertices reachable within
    ``max_hops`` (0 when nothing is reachable — matching the isolated-
    vertex convention of closeness_centrality). All-integer outputs, so
    the oracle comparison is exact with no rounding at all. Third member
    of the per_seed_distances readout family (harmonic, closeness)."""
    d = per_seed_distances(edges, seeds, max_hops, directed)
    agg = (
        d.where(F.col("dist") > 0)
        .groupBy("seed")
        .agg(F.count("*").alias("n_reachable"),
             F.max("dist").cast("int").alias("ecc"))
    )
    return (
        agg.join(seeds.select(F.col(seeds.columns[0]).alias("seed")).distinct(),
                 "seed", "right")
        .select("seed",
                F.coalesce("n_reachable", F.lit(0)).alias("n_reachable"),
                F.coalesce("ecc", F.lit(0)).alias("ecc"))
    )


def diameter_2approx(edges: DataFrame, max_hops: int,
                     directed: bool = False) -> DataFrame:
    """ONE row (start_vid, far_vid, far_dist, diameter_lb) — the classic
    double-BFS diameter estimate (a 2-approximation on undirected graphs:
    ecc(far) ≥ diameter/2, and ≥ the true value it lower-bounds): BFS
    from the smallest vid, take the farthest vertex (ties to the smaller
    vid), BFS again from it and report its bounded eccentricity.

    Fully declarative: the second BFS is seeded by the LIMIT-1 frame of
    the first (no driver collect between phases); everything else is the
    per_seed_distances frontier loop, so costs are 2× one bounded BFS.
    All-integer outputs — the oracle comparison is exact."""
    verts = (edges.select(F.col("src").alias("vid"))
             .unionByName(edges.select(F.col("dst").alias("vid")))
             .distinct())
    start = verts.agg(F.min("vid").alias("start_vid"))
    d1 = per_seed_distances(edges, start.select("start_vid"), max_hops,
                            directed)
    far = (d1.orderBy(F.desc("dist"), F.asc("vid")).limit(1)
           .select(F.col("vid").alias("far_vid"),
                   F.col("dist").cast("int").alias("far_dist")))
    d2 = per_seed_distances(edges, far.select("far_vid"), max_hops,
                            directed)
    return (
        start.crossJoin(far)
        .crossJoin(d2.agg(F.max("dist").cast("int").alias("diameter_lb")))
        .select("start_vid", "far_vid", "far_dist", "diameter_lb")
    )


def harmonic_centrality(edges: DataFrame, seeds: DataFrame, max_hops: int,
                        directed: bool = True) -> DataFrame:
    """(seed, centrality) — harmonic centrality of each seed within the
    ``max_hops`` horizon: Σ over reachable v≠seed of 1/dist(seed, v).
    Computed from per-hop COUNTS (count of vertices at each distance,
    then Σ count_d / d over ≤max_hops ordered terms), so the float
    reduction has a fixed tiny term order and is reproducible across
    engines; rounded to 8 decimals like the other centrality outputs."""
    d = per_seed_distances(edges, seeds, max_hops, directed)
    per_hop = (
        d.where(F.col("dist") > 0)
        .groupBy("seed", "dist").agg(F.count("*").alias("cnt"))
    )
    return (
        per_hop.groupBy("seed")
        .agg(F.round(F.sum(F.col("cnt") / F.col("dist")), 8).alias("centrality"))
        .join(seeds.select(F.col(seeds.columns[0]).alias("seed")).distinct(),
              "seed", "right")
        .select("seed", F.coalesce("centrality", F.lit(0.0)).alias("centrality"))
    )


def landmark_distances(edges: DataFrame, n_landmarks: int = 3,
                       n_sample: int = 10, max_hops: int = 4,
                       directed: bool = False) -> DataFrame:
    """Landmark-based distance oracle (X208; Potamias et al. 2009,
    "Fast shortest path distance estimation in large networks"): pick
    ``n_landmarks`` landmarks (min-vid deterministic), precompute the
    bounded BFS field d(L, ·) once, and estimate any pairwise distance
    as est(u, v) = min_L d(u, L) + d(L, v) — an UPPER bound on the true
    distance (triangle inequality), exact whenever some landmark lies
    on a shortest u-v path. The standard sketch for web-scale "how far
    apart" queries where per-pair BFS is unaffordable.

    Evaluated here on the deterministic sample of the ``n_sample``
    smallest vids (all unordered pairs): returns (u, v, est_dist,
    n_covering) with est_dist NULL when no landmark reaches both ends
    within ``max_hops``.

    Scale shape: ONE per-seed bounded BFS (the per_seed_distances
    frontier loop — L·|reachable| state rows), then the estimate is two
    joins of the pair list against that field keyed on the landmark —
    no per-pair traversal. At serving time the field is the persisted
    artifact; estimates are pure joins.
    """
    d = None
    verts = (edges.select(F.col("src").alias("vid"))
             .unionByName(edges.select(F.col("dst").alias("vid")))
             .distinct())
    landmarks = verts.orderBy("vid").limit(n_landmarks)
    d = per_seed_distances(edges, landmarks, max_hops, directed)

    sample = verts.orderBy("vid").limit(n_sample).select(
        F.col("vid").alias("u"))
    pairs = (sample.crossJoin(sample.select(F.col("u").alias("v")))
             .where(F.col("u") < F.col("v")))
    du = d.select("seed", F.col("vid").alias("u"), F.col("dist").alias("du"))
    dv = d.select("seed", F.col("vid").alias("v"), F.col("dist").alias("dv"))
    est = (pairs.join(du, "u").join(dv, ["seed", "v"])
           .groupBy("u", "v")
           .agg(F.min(F.col("du") + F.col("dv")).cast("long")
                .alias("est_dist"),
                F.countDistinct("seed").cast("long").alias("n_covering")))
    return (pairs.join(est, ["u", "v"], "left")
            .select("u", "v", "est_dist",
                    F.coalesce("n_covering", F.lit(0)).cast("long")
                    .alias("n_covering")))


def truncated_hitting_time(edges: DataFrame, targets: DataFrame,
                           rounds: int = 3,
                           round_digits: int = 8) -> DataFrame:
    """Truncated hitting time to a target set (X230; Sarkar & Moore
    2007): expected steps for a uniform random walk from each vertex to
    first reach any target, truncated at ``rounds`` — h(v) = 0 for
    targets, else min(T, 1 + mean over out-neighbors of h(u)), with
    dangling non-targets pinned at the cap T (their walk can never
    hit). The walk-expectation counterpart of bfs_distances: BFS gives
    the SHORTEST path, hitting time weights every path by its walk
    probability, so a vertex with many long detours scores worse than
    one with a single short line — the proximity measure behind
    hitting-time link prediction and trust propagation to seed sets.

    Returns (vid, h) over ALL vertices, h rounded to ``round_digits``
    (the pagerank-oracle float policy: raw doubles in flight, one final
    round).

    Scale shape: identical to a PageRank superstep — one
    contribution-AVG shuffle per round over the cleaned edge set (the
    mean over out-neighbors IS the P h matvec for uniform P), state
    re-derived from the vertex table (a setup table of the superstep
    driver) and committed once per round; no other driver action inside
    the loop.
    """
    from credigraph_spark.graph.adjacency import clean_edges

    e = clean_edges(edges).persist()
    verts = (e.select(F.col("src").alias("vid"))
             .unionByName(e.select(F.col("dst").alias("vid")))
             .distinct())
    cap = float(rounds)
    loop = SuperstepLoop(edges.sparkSession, "hitting_time", None, rounds)
    base = loop.setup(verts.join(targets.select(F.col("vid")).distinct()
                                 .withColumn("_t", F.lit(1)), "vid", "left"))
    h = base.select("vid", F.when(F.col("_t") == 1, 0.0)
                    .otherwise(F.lit(cap)).alias("h"))
    for _ in loop:
        nb = (e.join(h.select(F.col("vid").alias("dst"), "h"), "dst")
              .groupBy(F.col("src").alias("vid"))
              .agg(F.avg("h").alias("nh")))
        h, _ = loop.commit(
            base.join(nb, "vid", "left")
            .select("vid",
                    F.when(F.col("_t") == 1, 0.0)
                    .otherwise(F.least(
                        F.lit(cap),
                        1.0 + F.coalesce("nh", F.lit(cap))))
                    .alias("h")))
    h = loop.finish(h)
    e.unpersist()
    return h.select("vid", F.round("h", round_digits).alias("h"))
