"""Weighted single-source shortest paths (bounded Bellman-Ford).

Every other distance operator in the engine (bfs_distances,
per_seed_distances, harmonic/closeness centrality, ANF) is hop-counted;
this adds edge-weighted distances. Not in the reference (its graph layer
stops at degree/PageRank, tgrag/algorithms/) — survey-extension surface,
the natural weighted companion to the bfs family once importance-scored
edges exist (reference txt_to_csv_sqlite.py:206-275 attaches edge
weights but never consumes them for distances).

Design — Bellman-Ford as Spark supersteps with a delta frontier:

* State (vid, dist): min weighted distance found so far from the seed
  set. Round h relaxes only edges out of the FRONTIER (vertices whose
  dist improved in round h-1) — the standard delta optimization, so a
  converged region stops generating shuffle traffic.
* One shuffle per round: candidates = frontier ⋈ edges on src
  (dist + w), then a min-agg over union(state, candidates) keyed by
  vid. min is idempotent + commutative → map-side combinable and
  hub-skew-immune, same argument as ANF's bit_or.
* k rounds compute exactly min over all ≤k-edge paths — the bounded
  Bellman-Ford semantics a depth-bounded recursive CTE reproduces
  verbatim, so the oracle is exact. Distances accumulate seed→vertex in
  path order in both engines; with integer-valued double weights the
  sums are bit-exact.
* the superstep driver (``graph/loop.py``) checkpoints the merged
  distances and the frontier each round, truncating the growing plan;
  the frontier's emptiness probe rides an Observation on its checkpoint,
  so each round is exactly two jobs (merge + frontier) with no extra
  isEmpty. Both are released once the next round has replaced them.
* the edge table is cached hash-partitioned by src (measured,
  scale-adaptive partition count) so rounds only shuffle frontier rows.

At 100 TB shape: state is |V| rows × 12 bytes (rank-vector order, same
as PageRank), per-round shuffle is O(out-edges of the improved set),
which decays geometrically on real graphs once the wavefront passes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from credigraph_spark.graph.loop import SuperstepLoop
from credigraph_spark.session import measured_repartition


def _relation(edges: DataFrame, value, name: str, directed: bool):
    """(vid, dst, <name>) edge table keyed by source, reversed copies
    added when undirected, cached hash-partitioned by vid at a measured,
    scale-adaptive partition count. Returns (rel, nparts)."""
    rel = edges.select(F.col("src"), F.col("dst"), value.alias(name))
    if not directed:
        rel = rel.unionByName(
            rel.select(F.col("dst").alias("src"), F.col("src").alias("dst"),
                       name))
    rel = rel.where(F.col("src").isNotNull() & F.col("dst").isNotNull())
    rel, _, nparts = measured_repartition(rel.withColumnRenamed("src", "vid"),
                                          "vid")
    return rel, nparts


def _frontier_min(rel: DataFrame, nparts: int, init: DataFrame, keys: list[str],
                  val: str, max_rounds: int, relax, algo: str) -> DataFrame:
    """The delta-frontier min-combine loop: each round ``relax(frontier)``
    yields candidate (keys, val) rows, the state keeps the min per key,
    and the frontier is the keys whose value strictly improved (or is
    new). Stops when the frontier is empty or after ``max_rounds``."""
    loop = SuperstepLoop(rel.sparkSession, algo, nparts, max_rounds)
    state, _ = loop.commit(init)
    frontier = state
    with loop:
        for _ in loop:
            merged = loop.checkpoint(
                state.unionByName(relax(frontier))
                .groupBy(*keys).agg(F.min(val).alias(val))
            )
            # improved = strictly better than previous state, or brand new
            frontier, m = loop.commit(loop.observe(
                merged.join(state.withColumnRenamed(val, "prev"), keys, "left")
                .where(F.col("prev").isNull() | (F.col(val) < F.col("prev")))
                .select(*keys, val),
                F.count(F.lit(1)).alias("n")))
            state = merged
            loop.end_round((m["n"] or 0) == 0)
    rel.unpersist()
    return state


def weighted_sssp(edges: DataFrame, seeds: DataFrame, max_rounds: int,
                  weight_col: str = "w", directed: bool = True) -> DataFrame:
    """(vid, dist) — minimum weighted distance from the seed set over
    paths of at most ``max_rounds`` edges; unreachable vertices absent.
    Negative weights are allowed (it is Bellman-Ford, bounded, so no
    negative-cycle divergence); ties in min are value-ties, path-free.

    The edge table is cached hash-partitioned by src at a measured,
    scale-adaptive partition count, so each round's frontier join reuses
    that layout and only the frontier side shuffles; the frontier's
    emptiness probe rides an Observation on its eager checkpoint instead
    of a separate isEmpty job (the greedy_matching idiom)."""
    rel, nparts = _relation(edges, F.col(weight_col).cast("double"), "w", directed)
    return _frontier_min(
        rel, nparts,
        seeds.select(F.col(seeds.columns[0]).alias("vid")).distinct()
        .select("vid", F.lit(0.0).alias("dist")),
        ["vid"], "dist", max_rounds,
        lambda frontier: frontier.join(rel, "vid").select(
            F.col("dst").alias("vid"), (F.col("dist") + F.col("w")).alias("dist")),
        "sssp")


def weighted_per_seed_distances(edges: DataFrame, seeds: DataFrame,
                                max_rounds: int, weight_col: str = "w",
                                directed: bool = True) -> DataFrame:
    """(seed, vid, dist) — minimum weighted distance from EACH seed
    separately over paths of at most ``max_rounds`` edges (the weighted
    analog of nhop.per_seed_distances; weighted_sssp collapses the seed
    set). Same delta-frontier Bellman-Ford: only strictly-improved
    (seed, vid) pairs re-relax, state keyed (seed, vid) so all seeds
    share every edge scan. Seed rows appear with dist = 0."""
    rel, nparts = _relation(edges, F.col(weight_col).cast("double"), "w", directed)
    return _frontier_min(
        rel, nparts,
        seeds.select(F.col(seeds.columns[0]).alias("seed")).distinct()
        .select("seed", F.col("seed").alias("vid"), F.lit(0.0).alias("dist")),
        ["seed", "vid"], "dist", max_rounds,
        lambda frontier: frontier.join(rel, "vid").select(
            "seed", F.col("dst").alias("vid"), (F.col("dist") + F.col("w")).alias("dist")),
        "psd")


def weighted_harmonic_centrality(edges: DataFrame, seeds: DataFrame,
                                 max_rounds: int, weight_col: str = "w",
                                 directed: bool = True,
                                 round_digits: int = 6) -> DataFrame:
    """(seed, n_reachable, harmonic) — bounded weighted harmonic
    centrality: Σ 1/dist over vertices reachable from the seed within
    ``max_rounds`` edges (dist > 0). The weighted counterpart of
    nhop.harmonic_centrality on the per-seed Bellman-Ford state; the
    harmonic sum is rounded (summation order differs across engines,
    the per-term 1/dist values do not)."""
    d = weighted_per_seed_distances(edges, seeds, max_rounds, weight_col,
                                    directed)
    agg = (
        d.where(F.col("dist") > 0)
        .groupBy("seed")
        .agg(F.count("*").alias("n_reachable"),
             F.round(F.sum(1.0 / F.col("dist")), round_digits)
             .alias("harmonic"))
    )
    return (
        agg.join(seeds.select(F.col(seeds.columns[0]).alias("seed"))
                 .distinct(), "seed", "right")
        .select("seed",
                F.coalesce("n_reachable", F.lit(0)).alias("n_reachable"),
                F.coalesce("harmonic", F.lit(0.0)).alias("harmonic"))
    )

def weighted_closeness_centrality(edges: DataFrame, seeds: DataFrame,
                                  max_rounds: int, weight_col: str = "w",
                                  directed: bool = True) -> DataFrame:
    """(seed, n_reachable, closeness) — bounded weighted closeness:
    r / Σ dist over vertices reachable within ``max_rounds`` edges
    (0.0 when nothing is reachable). Fourth readout of the per-seed
    Bellman-Ford state (harmonic / distances / SSSP); with integer
    weights the distance sum is exact, so only the final single
    division is float — values compare exactly with no rounding."""
    d = weighted_per_seed_distances(edges, seeds, max_rounds, weight_col,
                                    directed)
    agg = (
        d.where(F.col("dist") > 0)
        .groupBy("seed")
        .agg(F.count("*").alias("n_reachable"),
             F.sum("dist").alias("dsum"))
    )
    return (
        agg.join(seeds.select(F.col(seeds.columns[0]).alias("seed"))
                 .distinct(), "seed", "right")
        .select("seed",
                F.coalesce("n_reachable", F.lit(0)).alias("n_reachable"),
                F.coalesce(F.col("n_reachable") / F.col("dsum"),
                           F.lit(0.0)).alias("closeness"))
    )


def earliest_arrival(edges: DataFrame, seeds: DataFrame, max_rounds: int,
                     ts_col: str = "ts", start_ts: int = 0,
                     directed: bool = True) -> DataFrame:
    """(vid, t_arr) — earliest TIME each vertex can be reached from the
    seed set along a time-respecting path of at most ``max_rounds``
    edges: an edge (u, v, ts) is traversable only when ts >= the arrival
    time at u, and arrival at v is then ts itself. Seeds start at
    ``start_ts``. Unreachable vertices are absent. This is the temporal
    analog of BFS — the primitive behind reachability/influence queries
    on temporal webgraphs (the reference's corpus is snapshot-stamped:
    crawl slices joined on date, tgrag/utils/slice_merger.py).

    Same scale shape as weighted_sssp above: per round one join of the
    delta frontier against the (static, reusable) edge table and one
    min-combine groupBy — partial_min combines a hub's candidates
    map-side before the exchange — with an eager localCheckpoint per
    round (lineage truncation + single materialization) and a delta
    frontier so settled vertices stop generating candidates."""
    rel, nparts = _relation(edges, F.col(ts_col).cast("long"), "ts", directed)
    return _frontier_min(
        rel, nparts,
        seeds.select(F.col(seeds.columns[0]).alias("vid")).distinct()
        .select("vid", F.lit(int(start_ts)).cast("long").alias("t_arr")),
        ["vid"], "t_arr", max_rounds,
        lambda frontier: frontier.join(rel, "vid")
        .where(F.col("ts") >= F.col("t_arr"))
        .select(F.col("dst").alias("vid"), F.col("ts").alias("t_arr")),
        "ea")
