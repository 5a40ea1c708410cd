"""Synchronous Louvain local-move community detection.

The modularity-gain counterpart of LPA (Blondel et al. 2008, "Fast
unfolding of communities in large networks", phase 1): every vertex moves
to the neighbouring community with the largest modularity gain

    ΔQ(u → c) ∝ w(u, c) − deg(u) · Σtot(c \\ u) / 2m

where ``w(u, c)`` is the number of edges from u into c, ``Σtot(c)`` the
total degree of c's members and ``2m`` the directed count of the
symmetrized edge set. Sequential Louvain moves one vertex at a time;
that is inherently serial, so this is the standard SYNCHRONOUS variant
(all vertices decide simultaneously against the previous round's
communities — the same parallel-update semantics our LPA uses, and the
usual distributed formulation, e.g. Spark/GraphX ports of Louvain).
Ties break on the smaller community id, so rounds are deterministic and
the whole unrolled recurrence replays in SQL (see
``__spark_entry__._louvain_sql``).

Scale shape per round (VERDICT r4 #7 rework — the previous shape ran a
full-outer candidate join plus three separate vid-keyed joins and
re-shuffled the 2|E| edge stream every round; raw N→4N efficiency
measured 0.56 at 20M edges):

* the symmetrized edge set is hash-partitioned by ``dst`` ONCE and
  persisted, so the per-round state join reuses its layout and only the
  |V|-row state side shuffles;
* ``Σtot(c)`` is joined onto the |V|-row state (one |V|-row shuffle on
  community), NOT onto the |pairs|-row candidate stream — the candidate
  rows pick it up for free through the dst-state join;
* the state carries (vid, community, deg) so ONE vid-keyed join serves
  deg, the current community and the zero-weight self candidate
  (previously: full_outer + two more joins);
* neighbour candidates and self rows union BEFORE a single
  ``repartition(src)``; the groupBy(src, c) count, the state join on
  src and the final argmax groupBy(src) all reuse that one hash(src)
  exchange (HashPartitioning(src) satisfies every downstream clustering
  requirement), so the big candidate stream crosses the wire exactly
  once per round;
* the per-vertex argmax is ONE ``max(struct(score, −community))`` —
  no window;
* the gain product ``deg(u) · Σtot`` is computed in DOUBLE (exact to
  2⁵³; the decimal-moment trick of ``analytics.degree_assortativity``
  applies if a graph ever exceeds that);
* per-round state is the commit of the superstep driver
  (``graph/loop.py``), which releases the superseded one: it feeds three
  subplans next round, which otherwise re-executes the previous round's
  whole plan per reference — exponential in rounds. One loop body
  serves the unweighted first level and the weighted coarse level.

Reference scope: the reference repo (ekmpa/CrediGraph) has no community
detection at all; this completes the engine's community family
(LPA / weighted LPA / modularity scoring — SURVEY.md §2.12).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from credigraph_spark.graph.adjacency import undirected_simple

from credigraph_spark.graph.loop import SuperstepLoop
from credigraph_spark.session import (adaptive_partitions, eager_checkpoint,
                                      join_side)


def _local_move_rounds(und: DataFrame, two_m: float,
                       rounds: int, nparts: int) -> DataFrame:
    """Core synchronous local-move loop over a persisted, dst-partitioned
    symmetric UNWEIGHTED edge set. Returns (vid, community, deg).
    ``nparts`` sizes the per-round candidate exchange (scale-adaptive:
    derived from the symmetrized edge count by the callers)."""
    deg = und.groupBy(F.col("src").alias("vid")).agg(
        F.count("*").alias("deg"))
    state = deg.select("vid", F.col("vid").alias("community"), "deg")
    return _move_rounds(und, F.lit(1), state, two_m, rounds, nparts)


def _move_rounds(edges: DataFrame, w, state: DataFrame, two_m: float,
                 rounds: int, nparts: int) -> DataFrame:
    """``rounds`` synchronous local-move rounds from ``state`` (vid,
    community, deg) over the dst-partitioned symmetric edge set ``edges``,
    whose per-edge weight is ``w`` (its ``w`` column, or 1 unweighted).
    Returns the final state, which the superstep driver holds (it
    releases every superseded one)."""
    # the driver pauses AQE and sizes every round's exchange to the
    # measured graph for the duration of the loop
    loop = SuperstepLoop(edges.sparkSession, "louvain", nparts, rounds)
    with loop:
        for _ in loop:
            tot = state.groupBy("community").agg(F.sum("deg").alias("tot"))
            st = state.join(tot, "community")
            # neighbour candidates carry tot(c) from the dst side; the self
            # row (w = 0) guarantees every vertex keeps its current
            # community as a candidate
            # shuffle_hash: without the hint the planner picks SortMergeJoin
            # (checkpoint-derived estimates), re-SORTING the cached 2|E| edge
            # stream every round even though it is already dst-partitioned
            nbr = (
                edges.join(st.select(F.col("vid").alias("dst"),
                                     F.col("community").alias("c"), "tot")
                           .hint("shuffle_hash"), "dst")
                .select("src", "c", "tot", w.cast("long").alias("w"))
            )
            own = st.select(F.col("vid").alias("src"),
                            F.col("community").alias("c"),
                            "tot", F.lit(0).cast("long").alias("w"))
            cand = (
                nbr.unionByName(own)
                .repartition(nparts, F.col("src"))
                .groupBy("src", "c")
                .agg(F.sum("w").alias("w"), F.max("tot").alias("tot"))
            )
            scored = (
                cand.join(state.select(F.col("vid").alias("src"),
                                       "community", "deg"), "src")
                .select(
                    "src", "c", "deg",
                    (F.col("w").cast("double")
                     - F.col("deg").cast("double")
                     * (F.col("tot") - F.when(F.col("c") == F.col("community"),
                                              F.col("deg")).otherwise(F.lit(0)))
                     .cast("double") / F.lit(two_m)).alias("score"),
                )
            )
            # the commit's eager checkpoint: `state` feeds THREE subplans
            # next round (tot, the dst join, the src join) — without it each
            # round re-executes the previous round's whole plan per
            # reference, exponential in rounds (measured 46x a PR superstep
            # at 20M edges before the checkpoint)
            state, _ = loop.commit(
                scored.groupBy("src")
                .agg(F.max(F.struct(F.col("score"), (-F.col("c")).alias("negc")))
                     .alias("best"),
                     F.max("deg").alias("deg"))
                .select(F.col("src").alias("vid"),
                        (-F.col("best.negc")).alias("community"), "deg")
            )
    return state


def _partitioned_und(edges: DataFrame) -> tuple[DataFrame, float, int]:
    """Symmetrized clean edge set hash-partitioned by ``dst`` and
    persisted: every local-move round joins state on dst, and the
    pre-partitioned cached layout keeps the 2|E| stream off the wire —
    only the |V|-row state side shuffles per round. The partition count
    is derived from the measured symmetrized edge count (scale-adaptive,
    adaptive_partitions), so a small graph's rounds are not taxed with
    session-constant task counts. Returns (und, two_m, nparts)."""
    # count the CANONICAL half (|E| rows), not the mirrored set: the
    # symmetrized count is exactly 2x it, so one materialization of the
    # 2|E| stream is saved before the dst repartition
    canon = (edges
             .where(F.col("src").isNotNull() & F.col("dst").isNotNull()
                    & (F.col("src") != F.col("dst")))
             .select(F.least("src", "dst").alias("src"),
                     F.greatest("src", "dst").alias("dst"))
             .dropDuplicates(["src", "dst"])
             .persist())
    n = 2 * canon.count()
    nparts = adaptive_partitions(n)
    und = (canon.unionByName(canon.select(F.col("dst").alias("src"),
                                          F.col("src").alias("dst")))
           .repartition(nparts, F.col("dst")).persist())
    und.count()
    canon.unpersist()
    return und, float(n), nparts


def louvain_local_move(edges: DataFrame, rounds: int = 2) -> DataFrame:
    """(vid, community) after ``rounds`` synchronous local-move rounds
    from singleton communities on the cleaned undirected graph."""
    und, two_m, nparts = _partitioned_und(edges)
    if two_m == 0:  # only self-loops/nulls: no community to move
        und.unpersist()
        return edges.sparkSession.createDataFrame([], "vid long, community long")
    out = _local_move_rounds(und, two_m, rounds,
                             nparts).select("vid", "community")
    und.unpersist()
    return out


def _local_move_weighted(ce: DataFrame, rounds: int,
                         cand_edges: DataFrame | None = None) -> DataFrame:
    """Synchronous local move on a WEIGHTED symmetric graph ``ce``
    (src, dst, w) whose self-loop rows (src == dst) are stored once and
    already carry the doubled intra mass (the natural output of
    contracting a both-directions edge list): strength
    k(v) = Σ_all-rows w — so Σ k = 2m exactly as in the unweighted
    case. Used by :func:`louvain_two_level` for the coarse level: the
    same ``_move_rounds`` loop as the unweighted level, with the
    contracted edge weights."""
    deg = ce.groupBy(F.col("src").alias("vid")).agg(F.sum("w").alias("deg"))
    two_m = float(deg.agg(F.sum("deg")).collect()[0][0])
    # candidate edges may be a CONSTRAINED subset (Leiden: only
    # same-original-community parts propose merges) — degrees and 2m
    # always come from the full graph so the gain stays true modularity
    nonself = (cand_edges if cand_edges is not None else ce) \
        .where(F.col("src") != F.col("dst"))
    state = deg.select("vid", F.col("vid").alias("community"), "deg")
    # size the coarse rounds to the MEASURED contracted-graph row count
    # (callers pass ce eager-checkpointed, so the count is a cheap scan);
    # the session constant would tax a tiny community graph with full-
    # width exchanges
    nparts = adaptive_partitions(ce.count())
    # pre-partition the candidate edge set by dst ONCE (the unweighted
    # loop's und discipline): every round's state join is on dst, so the
    # contracted-edge stream stays off the wire per round. Only worth a
    # materialization when more than one round amortizes it.
    if rounds > 1:
        nonself = nonself.repartition(nparts, F.col("dst")).persist()
    out = _move_rounds(nonself, F.col("w"), state, two_m, rounds,
                       nparts).select("vid", "community")
    nonself.unpersist()
    return out


def louvain_two_level(edges: DataFrame, rounds: int = 2,
                      coarse_rounds: int = 1) -> DataFrame:
    """Two-level Louvain (Blondel phase 1 + phase 2): ``rounds`` of
    synchronous local moves from singletons, then the community graph is
    CONTRACTED (edge weight = number of original directed-symmetrized
    edges between communities; intra mass lands on self-loop rows) and
    ``coarse_rounds`` of the weighted local move run on it. Returns
    (vid, community) with community = the coarse-level community of the
    vertex's phase-1 community — the multi-level modularity hierarchy
    the flat local move cannot reach.

    The phase-1 persisted edge set is REUSED for the contraction
    (ADVICE r4: previously symmetrize(clean_edges()) ran twice) and
    unpersisted before returning."""
    und, two_m, nparts = _partitioned_und(edges)
    if two_m == 0:  # only self-loops/nulls: no community to move
        und.unpersist()
        return edges.sparkSession.createDataFrame([], "vid long, community long")
    s1 = _local_move_rounds(und, two_m, rounds,
                            nparts).select("vid", "community")
    # counted: the label table's checkpoint-carried estimate never
    # auto-broadcasts
    n_v = s1.count()
    ce = (
        und.join(join_side(s1.select(F.col("vid").alias("src"),
                                     F.col("community").alias("cu")), n_v), "src")
        .join(join_side(s1.select(F.col("vid").alias("dst"),
                                  F.col("community").alias("cv")), n_v), "dst")
        .groupBy(F.col("cu").alias("src"), F.col("cv").alias("dst"))
        .agg(F.count("*").alias("w"))
        .transform(eager_checkpoint)
    )
    und.unpersist()
    s2 = _local_move_weighted(ce, rounds=coarse_rounds)
    return (
        s1.join(s2.select(F.col("vid").alias("community"),
                          F.col("community").alias("c2")), "community")
        .select("vid", F.col("c2").alias("community"))
    )


def leiden_connectivity_refine(edges: DataFrame,
                               labels: DataFrame) -> DataFrame:
    """Leiden-style connectivity refinement (X201): the Leiden paper's
    (Traag, Waltman & van Eck 2019) core fix to Louvain — a Louvain
    partition can contain communities whose induced subgraph is
    DISCONNECTED (the local move reassigns a cut vertex and strands the
    rest), which the refinement phase repairs by splitting every
    community into its connected parts. This operator is that split:
    given (vid, community) labels, it returns each vertex's refined
    sub-community (the min-vid of its connected part within its
    community) plus how many parts its original community broke into
    (n_parts == 1 everywhere iff the partition already satisfies
    Leiden's connectivity guarantee).

    Scale shape: the community-constrained subgraph is ONE double join
    of the symmetrized edges against the label table, and because
    connected parts cannot span communities, a SINGLE hash-min CC run
    over that subgraph refines every community simultaneously — no
    per-community loop. The part count is one distinct-agg rollup.
    """
    from credigraph_spark.graph.components import connected_components

    lab = labels.select("vid", "community")
    und = undirected_simple(edges)
    intra = (
        und.join(lab.select(F.col("vid").alias("src"),
                            F.col("community").alias("_cs")), "src")
        .join(lab.select(F.col("vid").alias("dst"),
                         F.col("community").alias("_cd")), "dst")
        .where(F.col("_cs") == F.col("_cd"))
        .where(F.col("src") < F.col("dst"))
        .select("src", "dst")
        # eager-checkpoint the constrained subgraph before the CC loop:
        # CC setup + every superstep otherwise re-walk the deep
        # und-double-join lineage (the clique_percolation_k3 finding)
        .transform(eager_checkpoint))
    # CC state sized to the refinement graph, not |V|: vertices with no
    # intra edge keep their own vid as the part label (exactly what
    # passing vertices= would compute for them) via the left join below,
    # so every superstep carries only edge-incident rows
    comp, _ = connected_components(intra)
    ref = (lab.join(comp, "vid", "left")
           .withColumn("component",
                       F.coalesce(F.col("component"), F.col("vid"))))
    parts = ref.groupBy("community").agg(
        F.countDistinct("component").cast("long").alias("n_parts"))
    return (ref.join(parts, "community")
            .select("vid", "community",
                    F.col("component").alias("refined_community"),
                    "n_parts"))


def leiden_two_level(edges: DataFrame, rounds: int = 2,
                     coarse_rounds: int = 1) -> DataFrame:
    """Two-level Leiden (X205; Traag, Waltman & van Eck 2019): the
    Louvain phase-1 local move, then the two Leiden fixes —
    (a) REFINEMENT: every phase-1 community is split into its connected
    parts (``leiden_connectivity_refine``'s single constrained CC run),
    and (b) CONSTRAINED AGGREGATION: the coarse graph is contracted on
    the REFINED parts, and the weighted coarse move only lets parts
    merge with parts of the SAME original community (candidate edges
    filtered by the part->community map), while degrees and 2m stay the
    full graph's so the gain is true modularity. This yields the Leiden
    guarantee the plain two-level pass lacks: coarse communities are
    unions of connected parts of one phase-1 community, hence
    internally connected.

    Returns (vid, part, community): the vertex's refined part and the
    coarse community of that part.

    Scale shape: phase 1 is the proven one-exchange-per-round local
    move; refinement is ONE hash-min CC; contraction is one double join
    + groupBy on part ids; the constrained coarse move adds only a
    broadcast-size (part, orig) filter to the weighted move. No new
    shuffle shapes beyond louvain_two_level.
    """
    from credigraph_spark.graph.components import connected_components

    und, two_m, nparts = _partitioned_und(edges)
    if two_m == 0:  # only self-loops/nulls: no community to move
        und.unpersist()
        return edges.sparkSession.createDataFrame(
            [], "vid long, part long, community long")
    s1 = (_local_move_rounds(und, two_m, rounds, nparts)
          .select("vid", "community").transform(eager_checkpoint))

    # the label tables are |V| rows; a checkpointed table's carried
    # Catalyst estimate is a join product, so the planner never
    # auto-broadcasts it — count once (cheap scan of the checkpoint) and
    # let join_side broadcast it while it fits, keeping both 2|E|-row
    # label joins below exchange-free
    n_v = s1.count()

    # refinement: connected parts within each phase-1 community
    intra = (
        und.join(join_side(s1.select(F.col("vid").alias("src"),
                                     F.col("community").alias("_cs")), n_v), "src")
        .join(join_side(s1.select(F.col("vid").alias("dst"),
                                  F.col("community").alias("_cd")), n_v), "dst")
        .where((F.col("_cs") == F.col("_cd"))
               & (F.col("src") < F.col("dst")))
        .select("src", "dst")
        .transform(eager_checkpoint))  # same pre-CC truncation as above
    # CC over edge-incident vertices only (per-superstep state is the
    # refinement graph's size, not |V|); vertices without an intra edge
    # are their own part — identical labels to the vertices= form
    comp, _ = connected_components(intra)
    pm = (s1.join(comp, "vid", "left")
          .select("vid",
                  F.coalesce(F.col("component"), F.col("vid")).alias("part"),
                  "community")
          .transform(eager_checkpoint))

    # contraction on refined parts
    ce = (
        und.join(join_side(pm.select(F.col("vid").alias("src"),
                                     F.col("part").alias("pu")), n_v), "src")
        .join(join_side(pm.select(F.col("vid").alias("dst"),
                                  F.col("part").alias("pv")), n_v), "dst")
        .groupBy(F.col("pu").alias("src"), F.col("pv").alias("dst"))
        .agg(F.count("*").alias("w"))
        .transform(eager_checkpoint)
    )
    und.unpersist()

    # Leiden constraint: only same-original-community parts may merge
    # (pc is ≤ |V| rows — same join_side policy as the label joins
    # above)
    pc = pm.select("part", "community").distinct()
    cand = (
        ce.join(join_side(pc.select(F.col("part").alias("src"),
                                    F.col("community").alias("_ou")), n_v), "src")
        .join(join_side(pc.select(F.col("part").alias("dst"),
                                  F.col("community").alias("_ov")), n_v), "dst")
        .where(F.col("_ou") == F.col("_ov"))
        .select("src", "dst", "w"))

    s2 = _local_move_weighted(ce, rounds=coarse_rounds, cand_edges=cand)
    return (
        pm.join(s2.select(F.col("vid").alias("part"),
                          F.col("community").alias("c2")), "part")
        .select("vid", "part", F.col("c2").alias("community"))
    )
