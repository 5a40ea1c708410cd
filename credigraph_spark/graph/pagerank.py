"""Distributed PageRank with the reference's exact numeric semantics.

Reference algorithm (pandas, single-threaded): tgrag/algorithms/pagerank.py
:79-157 + tgrag/utils/pagerank_utils.py:83-216. Semantics reproduced here
(BASELINE.json: per-vertex allclose 1e-6 at convergence):

* preprocessing: dedupe edges keep-first, drop self-loops, vertex set =
  given vertices ∪ edge endpoints (pagerank_utils.py:83-153);
* out-degree counts DISTINCT successors (pagerank_utils.py:178-181);
* init rank = 1/N (pagerank.py:114);
* per iteration (pagerank.py:89-99,117-135):
      dangling = Σ rank[v] over out_deg(v)=0
      new[v]   = (1-d)/N + d * (Σ_{u→v} rank[u]/out_deg[u] + dangling/N)
* converged iff Σ_v |new-old| < tol (pagerank_utils.py:208-216);
* defaults d=0.85, max_iter=100, tol=1e-6 (pagerank.py:49-65).

Spark-first physical design (NOT a port of the per-node Python loop):

* ONE-ACTION SETUP: a single ``groupBy(vid)`` over the union of src rows
  (vid, out_weight, 0), dst rows (vid, null, 1) and any user vertex rows
  (vid, null, 0) yields the vertex table (vid, out_deg, in_deg). One
  eager localCheckpoint materializes it, and an ``Observation`` on that
  same job counts the edges, receivers, non-receivers and both dangling
  populations. Receivers, non-receivers, the per-edge src degree and the
  dst flags are all filters over that one table. The loop's partition
  count is sized from the observed edge count before any edge layout is
  built, and the rest of the setup runs under the loop's tuning;
* SPARSE state: only vertices with in-edges ("receivers") carry a rank
  row; every non-receiver has the identical analytic rank
  ``base + d*dangling/N``, so that population is one scalar + a count;
* the dangling mass needs NO join: the dangling-receiver rank sum is
  derived from an ``Observation`` over the contribution stream
  (Σ contrib into dangling receivers is a running aggregate of the same
  rows the superstep already scans), plus closed-form scalar terms;
* the superstep driver (``graph/loop.py``) runs the loop: its one action
  per superstep fills both observations (dangling mass on the
  contribution stream, convergence L1 on the old⋈new join);
* two physical modes:
  - ``mode="shuffle"`` (default; state of any size): edges cached
    hash-partitioned by ``src``; per superstep the (small) rank state
    shuffles to the edges, contributions shuffle to ``groupBy(dst)``.
    Hub-vertex skew handled by TARGETED two-phase salted aggregation —
    only dsts with in-degree > hot_threshold get a real salt, so the
    second aggregation re-shuffles ~|V| rows, not ~|E| (north rule:
    explicit salting);
  - ``mode="broadcast"`` (state fits executor memory — e.g. host-level
    web graphs): edges cached hash-partitioned by ``dst``; the rank
    state is broadcast, the contribution aggregation is partition-local
    (ZERO shuffled rows per superstep) and the L1 join is co-partitioned.
  ``mode="auto"`` picks broadcast while the receiver count is at most
  ``session.BROADCAST_MAX_ROWS``.
* per-superstep checkpoints of the FULL (vid, rank) table to the
  CheckpointStore. Resuming a converged run short-circuits right after
  the vertex table, before any edge layout is built.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from credigraph_spark.checkpoint import CheckpointStore
from credigraph_spark.session import BROADCAST_MAX_ROWS, adaptive_partitions
from credigraph_spark.graph.adjacency import clean_edges
from credigraph_spark.graph.loop import SuperstepLoop


def pagerank(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    damping: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 100,
    ckpt: CheckpointStore | None = None,
    checkpoint_every: int = 5,
    salt_buckets: int = 0,
    hot_threshold: int = 10_000,
    mode: str = "shuffle",
    resume: bool = True,
    num_partitions: int | None = None,
    init_ranks: DataFrame | None = None,
    weight_col: str | None = None,
) -> tuple[DataFrame, dict]:
    """Returns (ranks(vid, rank) for ALL vertices, info dict).

    ``vertices``: optional single-column DataFrame of extra vids; edge
    endpoints are always added (J10 semantics, pagerank_utils.py:124-138).
    ``mode``: "shuffle" | "broadcast" | "auto" (see module docstring).
    ``salt_buckets`` > 0 enables targeted salted aggregation (shuffle mode).
    ``init_ranks``: optional (vid, rank) warm start — e.g. yesterday's
    converged ranks when today's edge table is an incremental update.
    Receivers present in it start from their previous rank (new vertices
    from 1/N); the fixpoint is unique, so the answer is identical to a
    cold start but convergence takes far fewer supersteps when the graph
    changed little. A checkpoint resume of THIS run takes precedence.
    ``weight_col``: weighted PageRank — u contributes rank(u)·w(u,v)/W(u)
    with W(u) = Σ_v w(u,v) (the reference's importance-scored edges,
    txt_to_csv_sqlite.py:206-275 / prob.py:22-67, made first-class).
    Parallel edges are collapsed by SUMMING the weight (vs the
    unweighted keep-first dedup); null/NaN/non-positive weights are
    dropped. Everything else — dangling handling (uniform 1/N restart),
    sparse state, modes, salting, Observations, checkpoints — is shared
    with the unweighted path: only the vertex table's out_deg (a weight
    sum instead of a successor count) and the per-edge coefficient differ.
    """
    spark = edges.sparkSession

    if weight_col is not None:
        w = F.col(weight_col).cast("double")
        e = (
            edges.select("src", "dst", w.alias("w"))
            .where(F.col("src").isNotNull() & F.col("dst").isNotNull()
                   & (F.col("src") != F.col("dst"))
                   & F.col("w").isNotNull() & ~F.isnan("w") & (F.col("w") > 0))
            .groupBy("src", "dst").agg(F.sum("w").alias("w"))
        )
        # out_deg carries the TOTAL outgoing weight (the contribution
        # divisor), not the successor count
        out_w, no_w = F.col("w"), F.lit(None).cast("double")
    else:
        e = clean_edges(edges)
        out_w, no_w = F.lit(1), F.lit(None).cast("int")

    # THE vertex table (vid, out_deg, in_deg): out_deg is null for a vertex
    # without out-edges (dangling), in_deg is 0 for a non-receiver. One
    # groupBy over src, dst and user-vertex rows; its checkpoint job also
    # fills every count the setup needs. It is a setup table of the loop,
    # so the loop's finish releases it once the result is materialized;
    # the loop is sized after it, from the edge count it observes.
    rows = (e.select(F.col("src").alias("vid"), out_w.alias("w"), F.lit(0).alias("d"))
            .unionByName(e.select(F.col("dst").alias("vid"), no_w.alias("w"),
                                  F.lit(1).alias("d"))))
    if vertices is not None:
        rows = rows.unionByName(vertices.select(
            F.col(vertices.columns[0]).alias("vid"), no_w.alias("w"), F.lit(0).alias("d")))
    recv, dangling = F.col("in_deg") > 0, F.col("out_deg").isNull()
    info: dict = {}
    loop = SuperstepLoop(spark, "pagerank", None, max_iter, ckpt=ckpt,
                         checkpoint_every=checkpoint_every, resume=resume, info=info)
    vt, stats = loop.keep(loop.observe(
        rows.groupBy("vid").agg(F.sum("w").alias("out_deg"), F.sum("d").alias("in_deg")),
        F.sum("in_deg").alias("n_edges"),
        F.count(F.when(recv, 1)).alias("n_recv"),
        F.count(F.when(recv & dangling, 1)).alias("n_recv_dangling"),
        F.count(F.when(~recv, 1)).alias("m"),
        F.count(F.when(~recv & dangling, 1)).alias("m_dangling")))
    n_recv, n_recv_dangling = stats["n_recv"], stats["n_recv_dangling"]
    # every non-receiver from the edge list contributes (has out-edges), so
    # only user-supplied isolated vertices are non-receiver AND dangling.
    m, m_dangling = stats["m"], stats["m_dangling"]

    if mode == "auto":
        mode = "broadcast" if n_recv <= BROADCAST_MAX_ROWS else "shuffle"
    if mode not in ("shuffle", "broadcast"):
        raise ValueError(f"unknown mode: {mode}")

    n = n_recv + m
    info.update({
        "n_vertices": n, "n_receivers": n_recv, "n_nonreceivers": m,
        "n_dangling": n_recv_dangling + m_dangling, "n_edges": stats["n_edges"] or 0,
        "mode": mode, "iterations": 0, "converged": n <= 0, "l1_history": [],
    })
    if n == 0:
        return vt.select("vid", F.lit(0.0).alias("rank")), info
    shuffle_n = loop.partitions = num_partitions or adaptive_partitions(info["n_edges"])
    done = loop.converged_state()
    if done is not None:
        loop.finish()  # the stored state reads no loop table: release vt
        return done, info

    base = (1.0 - damping) / n
    salted = mode == "shuffle" and salt_buckets > 0
    recv_vids = vt.where(recv).select("vid")
    nonrecv = vt.where(~recv).select("vid")

    def full_rank(sparse: DataFrame, default: float) -> DataFrame:
        out = sparse.select("vid", "rank")
        if m > 0:
            out = out.unionByName(nonrecv.select("vid", F.lit(default).alias("rank")))
        return out

    with loop:
        # static per-edge columns: the src's out_deg and whether the src is
        # a receiver (the static/dynamic split below), whether the dst is a
        # dangling receiver (feeds the observed dangling-mass sum) and -
        # when salted - whether the dst is HOT (gets a real salt).
        hot = (F.col("in_deg") > hot_threshold) if salted else F.lit(False)
        src_side = vt.where(~dangling).select(
            F.col("vid").alias("src"), "out_deg", recv.alias("src_recv"))
        dst_flags = vt.where(recv & (dangling | hot)).select(
            F.col("vid").alias("dst"), dangling.alias("dst_dangling"), hot.alias("is_hot"))
        # broadcast mode partitions edges by dst so the contribution
        # aggregation is partition-local (no shuffle at all per superstep).
        part_key = "dst" if mode == "broadcast" else "src"
        edges_deg = (
            e.join(src_side, "src")
            .join(F.broadcast(dst_flags), "dst", "left")
            .select(*e.columns, "out_deg", "src_recv",
                    F.coalesce("dst_dangling", F.lit(False)).alias("dst_dangling"),
                    F.coalesce("is_hot", F.lit(False)).alias("is_hot"))
            .repartition(shuffle_n, part_key)
            .persist()
        )

        # STATIC/DYNAMIC SPLIT: a source that is not a receiver never gets
        # mass, so its rank is the scalar ``default`` in EVERY superstep and
        # its per-edge contribution is default x a STATIC coefficient. Those
        # edges are pre-aggregated ONCE into a per-dst coefficient vector
        # (|receivers| rows) + one dangling scalar, and the superstep scans
        # only receiver-sourced edges — at bench scale 590k -> 30k rows per
        # iteration, and at web scale the never-linked-to fringe drops out of
        # every round. Both halves are filters over the one cached layout, so
        # ``dyn`` keeps its ``part_key`` partitioning. Float effect: the
        # static addends are re-grouped (default*sum(coef) vs
        # sum(default*coef)), ~1e-16 relative — the same pair-sum order noise
        # the 8dp output rounding already absorbs (see q_pagerank_timedecay
        # note).
        dyn, sv, sd_static = edges_deg, None, 0.0
        if m > 0:
            coef_expr = (F.col("w") / F.col("out_deg")) if weight_col is not None \
                else (F.lit(1.0) / F.col("out_deg"))
            # the static dangling scalar rides the sv checkpoint's own job
            # (which also fills the edges_deg cache) as an Observation
            sv, sv_stats = loop.keep(loop.observe(
                edges_deg.where(~F.col("src_recv"))
                .groupBy("dst")
                .agg(F.sum(coef_expr).alias("coef"),
                     F.max("dst_dangling").alias("dst_dangling"))
                .repartition(shuffle_n, "dst"),
                F.sum(F.when(F.col("dst_dangling"), F.col("coef"))
                      .otherwise(0.0)).alias("sd")))
            sd_static = sv_stats["sd"] or 0.0
            dyn = edges_deg.where(F.col("src_recv"))

        # -- initial / resumed state --------------------------------------
        default = 1.0 / n
        dangling_sum = info["n_dangling"] * (1.0 / n)  # analytic under uniform init
        full = loop.resumed_state()
        if full is not None:
            # one aggregation: the non-receivers' (shared) rank and the
            # dangling receivers' rank sum
            sums = full.join(vt, "vid").agg(
                F.max(F.when(~recv, F.col("rank"))).alias("default"),
                F.sum(F.when(recv & dangling, F.col("rank"))).alias("dang"),
            ).collect()[0]
            if m > 0:
                default = sums["default"]
            dangling_sum = (sums["dang"] or 0.0) + m_dangling * default
            sparse = full.join(recv_vids, "vid", "left_semi")
        elif init_ranks is not None:
            # warm start: previous ranks where known, 1/N for new receivers.
            # The seeded state MUST be renormalized to total mass 1: a mass
            # error has no graph structure to mix it away and decays at
            # exactly the damping rate (0.85/superstep) — slower than most
            # graphs' natural convergence, i.e. an unnormalized warm start is
            # WORSE than cold. One seeding shuffle + one aggregate (the
            # aggregate also yields the dangling sum, as in resume).
            # duplicate vids in a user-supplied warm start would duplicate
            # receiver state rows and double-count mass (ADVICE r3) — collapse
            # deterministically (max) before the seeding join.
            init_dedup = init_ranks.groupBy("vid").agg(F.max("rank").alias("rank"))
            seeded = (
                vt.where(recv).select("vid", dangling.alias("dangling"))
                .join(init_dedup, "vid", "left")
                .select("vid", "dangling",
                        F.coalesce("rank", F.lit(1.0 / n)).alias("rank"))
            )
            sums = seeded.agg(
                F.sum("rank").alias("total"),
                F.sum(F.when(F.col("dangling"), F.col("rank")).otherwise(0.0)).alias("dang"),
            ).collect()[0]
            scale = 1.0 / (sums["total"] + m * default)
            sparse = seeded.select("vid", (F.col("rank") * scale).alias("rank"))
            default *= scale
            dangling_sum = sums["dang"] * scale + m_dangling * default
            info["warm_start"] = True
        else:
            sparse = recv_vids.select("vid", F.lit(1.0 / n).alias("rank"))
        sparse = loop.cache(sparse.repartition(shuffle_n, "vid"))

        for _ in loop:
            rank_by_src = sparse.select(F.col("vid").alias("src"), "rank")
            if mode == "broadcast":
                joined = dyn.join(F.broadcast(rank_by_src), "src", "left")
            else:
                joined = dyn.join(rank_by_src, "src", "left")
            if weight_col is not None:
                c = (F.coalesce(F.col("rank"), F.lit(default))
                     * F.col("w") / F.col("out_deg")).alias("c")
            else:
                c = (F.coalesce(F.col("rank"), F.lit(default)) / F.col("out_deg")).alias("c")

            # the dangling-receiver contribution sum rides along as an
            # observation on rows the superstep scans anyway — no extra join.
            cols = ["dst", c, "dst_dangling"]
            if salted:
                cols.append(F.when(F.col("is_hot"), F.pmod(F.xxhash64("src"), F.lit(salt_buckets)))
                            .otherwise(F.lit(0)).alias("_salt"))
            stream = loop.observe(joined.select(*cols),
                                  F.sum(F.when(F.col("dst_dangling"), F.col("c"))
                                        .otherwise(0.0)).alias("dc"))
            if salted:
                contribs = (
                    stream.groupBy("dst", "_salt").agg(F.sum("c").alias("c"))
                    .groupBy("dst").agg(F.sum("c").alias("contrib"))
                )
            else:
                contribs = stream.groupBy("dst").agg(F.sum("c").alias("contrib"))
            if sv is not None:
                # add the static coefficient vector (dsts fed only by
                # non-receiver sources appear via the full outer side);
                # both sides are hash(dst)-partitioned at shuffle_n, so
                # the join adds no exchange
                contribs = (
                    contribs.join(sv.select("dst", "coef")
                                  .hint("shuffle_hash"), "dst", "full_outer")
                    .select("dst",
                            (F.coalesce("contrib", F.lit(0.0))
                             + F.lit(default) * F.coalesce("coef", F.lit(0.0))
                             ).alias("contrib"))
                )

            default_new = base + damping * (dangling_sum / n)
            # the sparse L1 rides the old⋈new join (receiver sets are
            # identical across supersteps, so the inner join drops nothing)
            sparse, obs = loop.commit(loop.observe(
                contribs.select(
                    F.col("dst").alias("vid"),
                    (F.lit(base) + F.lit(damping) * (
                        F.col("contrib") + F.lit(dangling_sum / n)
                    )).alias("rank"),
                )
                .join(sparse.select("vid", F.col("rank").alias("prev")), "vid"),
                F.sum(F.abs(F.col("rank") - F.col("prev"))).alias("l1"),
            ).select("vid", "rank"))
            dang_contrib = (obs["dc"] or 0.0) + default * sd_static
            l1 = (obs["l1"] or 0.0) + m * abs(default_new - default)
            # Σ_{v∈DR} rank_new(v) = |DR|·default_new + d·Σ_{e→DR} c(e)
            next_dangling = (
                n_recv_dangling * default_new
                + damping * dang_contrib
                + m_dangling * default_new
            )
            default = default_new
            info["l1_history"].append(l1)
            loop.end_round(l1 < tol, write=full_rank(sparse, default),
                           l1_diff=l1, dangling_mass=dangling_sum, rows=n)
            dangling_sum = next_dangling

        result = loop.finish(full_rank(sparse, default))
        edges_deg.unpersist()
    return result, info


def opic(edges: DataFrame, rounds: int = 3) -> DataFrame:
    """OPIC — On-line Page Importance Computation (X212; Abiteboul,
    Preda & Cobena 2003), the crawl-scheduling importance score the
    reference's webgraph domain uses to prioritize fetch frontiers
    without waiting for a PageRank convergence: every page starts with
    cash 1/n; each (synchronous) round a page's cash moves to its
    successors in equal shares, its HISTORY accumulates the cash it
    held, and dangling cash is redistributed uniformly (the virtual
    root page). importance ~ history + cash after t rounds; unlike
    PageRank there is no damping and the total cash is conserved
    exactly.

    Returns (vid, history, cash) with both rounded to 8dp (the
    pagerank-oracle float policy).

    Scale shape: identical to a PageRank superstep — one
    contribution-sum shuffle per round over the cleaned edge set, the
    dangling total as a 1-row aggregate, one commit per round on the
    superstep driver; no damping term, no convergence test (OPIC is an
    anytime algorithm — rounds are the budget). A graph with no cleaned
    edge gives an empty result.
    """
    e = clean_edges(edges).persist()
    verts = (e.select(F.col("src").alias("vid"))
             .unionByName(e.select(F.col("dst").alias("vid")))
             .distinct().persist())
    n = verts.count()
    deg = e.groupBy(F.col("src").alias("vid")).agg(
        F.count("*").alias("outdeg"))
    if n == 0:  # no cleaned edge (only self-loops/nulls): nothing to rank
        e.unpersist()
        verts.unpersist()
        return verts.select("vid", F.lit(0.0).alias("history"),
                            F.lit(0.0).alias("cash"))
    loop = SuperstepLoop(edges.sparkSession, "opic", None, rounds)
    state, _ = loop.commit(verts.select(
        "vid", F.lit(1.0 / n).alias("cash"),
        F.lit(0.0).alias("history")))
    for _ in loop:
        st = state.join(deg, "vid", "left")
        dang = (st.where(F.col("outdeg").isNull())
                .agg(F.coalesce(F.sum("cash"), F.lit(0.0)).alias("d")))
        contrib = (e.join(st.where(F.col("outdeg").isNotNull())
                          .select(F.col("vid").alias("src"),
                                  (F.col("cash") / F.col("outdeg"))
                                  .alias("share")), "src")
                   .groupBy(F.col("dst").alias("vid"))
                   .agg(F.sum("share").alias("inflow")))
        state, _ = loop.commit(
            state.join(contrib, "vid", "left").crossJoin(dang)
            .select("vid",
                    (F.coalesce("inflow", F.lit(0.0))
                     + F.col("d") / n).alias("cash"),
                    (F.col("history") + F.col("cash"))
                    .alias("history")))
    state = loop.finish(state)
    e.unpersist()
    verts.unpersist()
    return state.select("vid", F.round("history", 8).alias("history"),
                        F.round("cash", 8).alias("cash"))
