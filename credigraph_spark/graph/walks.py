"""Deterministic random-walk sampling (node2vec/DeepWalk prep).

The reference's GNN layer consumes neighbor samples
(tgrag/dataset/torch_geometric_graph_store.py); the data-side primitive
a training pipeline actually needs is walk GENERATION at corpus scale.
This is the deterministic analog of uniform random walks: at each step
the walker at v moves to the out-neighbor u minimizing
md5(seed:start:widx:step:u) — statistically uniform over neighbors,
bit-reproducible in any engine with md5 (the same portability trick as
sample_neighbors O6 and the ANF registers), and varying per walk index
and per step so parallel walks from one start diverge.

Physical shape per step: one hash join (frontier ⋈ edges on src) and one
struct-MIN aggregation per walk — partial-aggregatable, so a hub's
candidate fan-out collapses map-side and no walk ever serializes a hot
partition. State is one row per live walk; walks die at sinks
(inner-join semantics). Both samplers run one walk loop, ``_walk``, on
the superstep driver (``graph/loop.py``): only the step plan differs.
Each step's rows are kept for the result (plans stay flat for arbitrary
walk lengths), the live-walk count rides an Observation on that action,
and the result, the union of the steps, is materialized once at the end.
"""

from __future__ import annotations

from functools import reduce
from typing import Callable

from pyspark.sql import DataFrame, Window, functions as F

from credigraph_spark.graph.adjacency import clean_edges, undirected_simple
from credigraph_spark.graph.loop import SuperstepLoop

from credigraph_spark.session import eager_checkpoint


def _walk(edges: DataFrame, seeds: DataFrame, walk_length: int,
          walks_per_seed: int, algo: str,
          step: Callable[[DataFrame, DataFrame, int], DataFrame]) -> DataFrame:
    """The walk loop: step 0 puts walk ``widx`` of every seed on the seed
    (a (start, widx, prev = null, vid, step) row); round k turns the
    live walks' rows ``cur`` into their step-k rows with
    ``step(cur, rel, k)``, rel being the cleaned (src, dst) edge set.
    Stops after ``walk_length`` steps or once no walk is alive.
    Returns (start, widx, step, vid)."""
    rel = clean_edges(edges).select("src", "dst").persist()
    loop = SuperstepLoop(edges.sparkSession, algo, None, walk_length)
    cur = loop.setup(
        seeds.select(F.col(seeds.columns[0]).alias("start")).distinct()
        .select(
            "start",
            F.explode(F.sequence(
                F.lit(0), F.lit(walks_per_seed - 1))).alias("widx"),
        )
        .withColumn("widx", F.col("widx").cast("long"))
        .select("start", "widx", F.lit(None).cast("long").alias("prev"),
                F.col("start").alias("vid"), F.lit(0).alias("step"))
    )
    steps = [cur]
    for k in loop:
        cur, m = loop.keep(loop.observe(step(cur, rel, k + 1),
                                        F.count(F.lit(1)).alias("n")))
        steps.append(cur)
        loop.end_round((m["n"] or 0) == 0)
    out = loop.finish(reduce(DataFrame.unionByName,
                             [df.select("start", "widx", "step", "vid")
                              for df in steps]))
    rel.unpersist()
    return out


def deterministic_walks(
    edges: DataFrame,
    seeds: DataFrame,
    walk_length: int,
    walks_per_seed: int = 1,
    seed: int = 42,
) -> DataFrame:
    """Returns (start, widx, step, vid): for each seed vertex and walk
    index, the vertex visited at each step (step 0 = the seed itself;
    a walk that hits a sink simply stops emitting rows)."""
    def step(cur: DataFrame, rel: DataFrame, k: int) -> DataFrame:
        h = F.md5(F.concat_ws(
            ":", F.lit(str(seed)), F.col("start").cast("string"),
            F.col("widx").cast("string"), F.lit(str(k)),
            F.col("dst").cast("string")))
        return (
            cur.join(rel, cur["vid"] == rel["src"])
            .groupBy("start", "widx")
            .agg(F.min(F.struct(h.alias("h"),
                                F.col("dst").alias("dst"))).alias("m"))
            .select("start", "widx", F.col("m.dst").alias("vid"),
                    F.lit(k).alias("step"))
        )

    return _walk(edges, seeds, walk_length, walks_per_seed, "walks", step)


def node2vec_walks(
    edges: DataFrame,
    seeds: DataFrame,
    walk_length: int,
    p: float = 1.0,
    q: float = 1.0,
    walks_per_seed: int = 1,
    seed: int = 42,
) -> DataFrame:
    """Second-order biased walks (node2vec, Grover & Leskovec 2016) with
    a DETERMINISTIC exact sampler. The walker at v with previous vertex t
    weights each out-neighbor x by

        α = 1/p  if x == t            (return)
        α = 1    if t → x exists      (stay near)
        α = 1/q  otherwise            (explore)

    and the choice is exact interval sampling: candidates sorted by x
    carry a running α-sum; the picked x is the first whose cumulative sum
    reaches ``frac · Σα``, where frac is the md5(seed:start:widx:step)
    hex fraction of hash_split — statistically the node2vec distribution,
    bit-reproducible in any engine with md5 (no ln/pow, whose last-ulp
    behaviour is library-specific). Step 1 has no previous vertex, so
    every candidate lands in the 1/q class and the pick is uniform.

    Physical shape per step: the frontier⋈edges candidate join, ONE extra
    join against the edge set keyed (prev, x) for the stay-near flag (the
    inherent second-order cost of node2vec), a per-walk window over the
    candidate fan-out (bounded by out-degree, never the graph), and a
    min-aggregated pick. State is one row per live walk, each step kept
    by the walk loop of :func:`deterministic_walks`.

    Returns (start, widx, step, vid); step 0 is the seed itself."""
    w_ord = (Window.partitionBy("start", "widx").orderBy("x")
             .rowsBetween(Window.unboundedPreceding, 0))
    w_all = Window.partitionBy("start", "widx")

    def step(cur: DataFrame, rel: DataFrame, k: int) -> DataFrame:
        tmark = rel.select(F.col("src").alias("prev"), F.col("dst").alias("x"),
                           F.lit(True).alias("tn"))
        h = F.md5(F.concat_ws(
            ":", F.lit(str(seed)), F.col("start").cast("string"),
            F.col("widx").cast("string"), F.lit(str(k))))
        frac = (F.conv(F.substring(h, 1, 15), 16, 10).cast("double")
                / F.lit(float(16 ** 15)))
        alpha = (
            F.when(F.col("x") == F.col("prev"), F.lit(1.0 / p))
            .when(F.col("tn"), F.lit(1.0))
            .otherwise(F.lit(1.0 / q))
        )
        cand = (
            cur.join(rel, cur["vid"] == rel["src"])
            .select("start", "widx", "prev", "vid",
                    F.col("dst").alias("x"))
            .join(tmark, ["prev", "x"], "left")
            .withColumn("alpha", alpha)
        )
        scored = (
            cand.withColumn("cum", F.sum("alpha").over(w_ord))
            .withColumn("tot", F.max("cum").over(w_all))
        )
        return (
            scored.where(F.col("cum") >= frac * F.col("tot"))
            .groupBy("start", "widx")
            .agg(F.min("x").alias("nx"), F.max("vid").alias("v"))
            .select("start", "widx", F.col("v").alias("prev"),
                    F.col("nx").alias("vid"), F.lit(k).alias("step"))
        )

    return _walk(edges, seeds, walk_length, walks_per_seed, "node2vec", step)


def closed_walk_census(edges: DataFrame) -> DataFrame:
    """Per-vertex closed-walk counts of length 2/3/4 on the symmetrized
    simple graph — diag(A^2), diag(A^3), diag(A^4) — plus the truncated
    Estrada subgraph centrality sc4 = w2/2! + w3/3! + w4/4! (X197).
    Spectral motif structure without an eigensolver: w2 = degree,
    w3 = 2x triangles through the vertex, w4 counts closed 4-walks
    (paths, back-and-forths and 4-cycles alike).

    Physical shape: ONE wedge aggregation builds the common-neighbor
    table A2(u, v, c) (bounded by sum of squared degrees — the same
    object the cocitation operator materializes), then
    diag(A^3) = one join of A2 against the adjacency (A2 rows whose
    (u,v) is itself an edge) and diag(A^4) = one groupBy of c^2 per
    row-vertex, using A's symmetry. All map-side-combinable aggregates,
    no UDFs, no iteration. Hub skew is the wedge join's usual story:
    the heaviest key holds deg(hub)^2 pairs; a degree cap on the
    intermediate (as cocitation applies) is the 100 TB pressure valve.

    Returns (vid, w2, w3, w4, sc4) for every vertex of the support.
    """
    # eager localCheckpoint (not persist-then-unpersist-before-return,
    # which voids the cache on a lazy result): und feeds the wedge join
    # twice plus the diag(A^3) adjacency join
    und = undirected_simple(edges).transform(eager_checkpoint)

    e1 = und.select(F.col("dst").alias("x"), F.col("src").alias("u"))
    e2 = und.select(F.col("dst").alias("x"), F.col("src").alias("v"))
    a2 = (e1.join(e2, "x")
          .groupBy("u", "v").agg(F.count("*").cast("long").alias("c")))

    w2 = a2.where(F.col("u") == F.col("v")).select(
        "u", F.col("c").alias("w2"))
    w4 = a2.groupBy("u").agg(
        F.sum(F.col("c") * F.col("c")).cast("long").alias("w4"))
    w3 = (a2.join(und, (a2["u"] == und["src"]) & (a2["v"] == und["dst"]))
          .groupBy("u").agg(F.sum("c").cast("long").alias("w3")))

    out = (w2.join(w3, "u", "left").join(w4, "u", "left")
           .select(
               F.col("u").alias("vid"),
               "w2",
               F.coalesce("w3", F.lit(0)).cast("long").alias("w3"),
               F.coalesce("w4", F.lit(0)).cast("long").alias("w4"))
           .withColumn(
               "sc4",
               F.round(F.col("w2") / 2.0 + F.col("w3") / 6.0
                       + F.col("w4") / 24.0, 6)))
    return out
