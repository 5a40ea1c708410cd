"""Weisfeiler-Leman (1-WL) color refinement — structural-role
fingerprinting over the undirected simple graph.

The canonical structural primitive: iteratively recolor every vertex by
hashing its own color together with the MULTISET of its neighbours'
colors. Vertices that 1-WL cannot distinguish end in the same color
class — the exact expressiveness ceiling of message-passing GNNs, the
standard graph-isomorphism pre-test, and a role-equivalence feature
(same color = same local structure to radius r).

Scale design: the textbook formulation sorts each vertex's neighbour
color list — a per-vertex array that explodes on hubs. Here the
multiset is combined ORDER-INDEPENDENTLY instead: each neighbour color
hashes to a 60-bit integer (first 15 hex chars of md5 — the engine's
portable-hash convention), the multiset becomes the EXACT decimal sum of
those integers plus the neighbour count, and the new color is
md5(old_color : sum : count). Sum and count are map-side-combinable
aggregates, so a superstep is ONE groupBy with constant per-vertex
state — hub-skew-safe, no arrays, no sorting. Distinct multisets
collide only if their 60-bit hash sums tie (negligible; and a collision
only MERGES classes — it can never split one, so the refinement stays
sound as an equivalence upper bound).

Round 0 color = degree (as a string), the standard initialization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from credigraph_spark.graph.adjacency import undirected_simple
from credigraph_spark.graph.loop import SuperstepLoop
from credigraph_spark.session import measured_repartition


def _h60(col):
    """Portable 60-bit hash of a string column (md5 first 15 hex)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def wl_refinement(edges: DataFrame, rounds: int = 3) -> DataFrame:
    """Returns (vid, color, class_size) after ``rounds`` refinement
    rounds; ``color`` is a 16-hex-char canonical class id, class_size
    the number of vertices sharing it."""
    # Physical shape per round: the neighbour-color hash _h60(color) is
    # computed ONCE PER VERTEX in the state table (|V| md5+conv calls)
    # and carried as a column into the message join, instead of once per
    # MESSAGE inside the aggregate (2|E| calls — ~56x more on the bench
    # graph); the symmetrized edge cache is hash-partitioned by dst once,
    # so each round's message join shuffles only the |V|-row color table
    # (the Louvain _partitioned_und discipline), not the 2|E| stream.
    # Identical sums — the same per-neighbour value is added either way.
    spark = edges.sparkSession
    und, _, shuffle_n = measured_repartition(undirected_simple(edges), "dst")
    colors = (und.groupBy(F.col("src").alias("vid"))
              .agg(F.count("*").alias("_d"))
              .select("vid", F.col("_d").cast("string").alias("color")))
    loop = SuperstepLoop(spark, "wl", shuffle_n, rounds)
    with loop:
        for _ in loop:
            msgs = (und.join(colors.select(F.col("vid").alias("dst"),
                                           _h60(F.col("color")).alias("_nh")),
                             "dst")
                    .groupBy(F.col("src").alias("vid"))
                    .agg(F.sum(F.col("_nh").cast("decimal(38,0)"))
                         .alias("_s"),
                         F.count("*").alias("_n")))
            colors, _ = loop.commit(
                colors.join(msgs, "vid")
                .select("vid",
                        F.substring(
                            F.md5(F.concat_ws(
                                ":", "color",
                                F.col("_s").cast("string"),
                                F.col("_n").cast("string"))), 1, 16)
                        .alias("color")))
    sizes = colors.groupBy("color").agg(F.count("*").alias("class_size"))
    out = loop.finish(colors.join(sizes, "color").select("vid", "color", "class_size"))
    und.unpersist()
    return out


def wl_quotient(edges: DataFrame, rounds: int = 3) -> DataFrame:
    """WL role-quotient graph (X220): contract the graph on its 1-WL
    color classes — nodes become structural ROLES (vertices the
    refinement cannot distinguish), edges become role-pair edge counts.
    The graph-summarization readout of WL refinement: a
    |colors|-node multigraph that preserves the per-role adjacency
    profile exactly (every vertex of a class has the same multiset of
    neighbor classes — the WL invariant), so downstream analytics can
    run on the quotient at |colors| << |V|.

    Returns (color_a, color_b, n_edges, size_a, size_b) over canonical
    color pairs (color_a <= color_b), counting each undirected edge
    once.

    Scale shape: the color table is the wl_refinement output (one
    groupBy superstep per round); the quotient is two vid-keyed joins +
    one groupBy on the pair — the same contraction shape as
    louvain_two_level's phase 2.
    """
    colors = wl_refinement(edges, rounds=rounds)
    und = undirected_simple(edges).where(F.col("src") < F.col("dst"))
    sized = colors.select("vid", "color", "class_size")
    j = (und.join(sized.select(F.col("vid").alias("src"),
                               F.col("color").alias("ca"),
                               F.col("class_size").alias("za")), "src")
         .join(sized.select(F.col("vid").alias("dst"),
                            F.col("color").alias("cb"),
                            F.col("class_size").alias("zb")), "dst"))
    return (j.select(
        F.least("ca", "cb").alias("color_a"),
        F.greatest("ca", "cb").alias("color_b"),
        F.when(F.col("ca") <= F.col("cb"), F.col("za"))
        .otherwise(F.col("zb")).alias("size_a"),
        F.when(F.col("ca") <= F.col("cb"), F.col("zb"))
        .otherwise(F.col("za")).alias("size_b"))
        .groupBy("color_a", "color_b", "size_a", "size_b")
        .agg(F.count("*").cast("long").alias("n_edges"))
        .select("color_a", "color_b", "n_edges", "size_a", "size_b"))
