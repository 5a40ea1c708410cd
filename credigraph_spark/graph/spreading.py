"""Seeded label spreading (Zhu & Ghahramani 2002 harmonic-function
iteration): propagate known per-vertex scores (e.g. vetted credibility
labels — the reference's domain-scoring mission, tgrag's score joins at
construct_relational_table.py, re-expressed as in-graph inference) to
every other vertex by repeatedly averaging neighbor scores while
CLAMPING the labeled seeds to their given values. At the fixpoint the
unlabeled scores are the harmonic extension of the seed labels — the
probability a random walk from v hits a positive seed before a negative
one; a fixed-round truncation is the standard scalable variant.

Engine shape: identical to the katz/pagerank superstep family — the
symmetrized edge list cached partitioned by src, per-round ONE
state-join + partial-aggregatable sum, degree division, then a left
join back to the seed table for the clamp. Per-round eager
localCheckpoint cuts lineage (the Louvain lesson: loop state feeding
multiple subplans re-executes exponentially otherwise).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from credigraph_spark.graph.adjacency import undirected_simple
from credigraph_spark.graph.loop import SuperstepLoop
from credigraph_spark.session import (adaptive_partitions, eager_checkpoint,
                                      measured_repartition)


def label_spreading(edges: DataFrame, seeds: DataFrame,
                    max_iter: int = 3, init: float = 0.0,
                    weight_col: str | None = None,
                    round_digits: int | None = None) -> DataFrame:
    """(vid, score, is_seed) over all endpoints of the cleaned
    symmetrized simple graph. ``seeds`` is (vid, y) with y in [0, 1]
    (duplicate vids deduped keep-min for determinism, the init_ranks
    precedent). Unlabeled vertices start at ``init``; each round
    f(v) <- avg over neighbors u of f(u), then seeds re-clamp to y.
    Isolated label-spreading semantics: a vertex with no neighbors
    keeps its current value.

    ``weight_col``: weighted averaging f(v) <- Σ w·f(u) / Σ w over the
    symmetrized weight-summed edge set (parallel edges sum; each
    direction contributes its weight both ways) — the weighted-variant
    convention shared with weighted PR/LPA.

    Doubles: per-round sums are order-dependent across engines —
    callers needing hash-stable output pass ``round_digits`` (the
    pagerank_5iter ROUND(x, 8) precedent)."""
    if weight_col is None:
        und = undirected_simple(edges.select("src", "dst")).select(
            "src", "dst", F.lit(1.0).alias("w"))
    else:
        ew = (edges.select("src", "dst",
                           F.col(weight_col).cast("double").alias("w"))
              .where(F.col("src").isNotNull() & F.col("dst").isNotNull()
                     & (F.col("src") != F.col("dst"))))
        und = (ew.unionByName(ew.select(F.col("dst").alias("src"),
                                        F.col("src").alias("dst"), "w"))
               .groupBy("src", "dst").agg(F.sum("w").alias("w")))
    le, _, nparts = measured_repartition(und, "src")
    deg = (le.groupBy(F.col("dst").alias("vid"))
           .agg(F.sum("w").alias("deg")))
    sd = (seeds.select(F.col("vid"), F.col("y").cast("double").alias("y"))
          .groupBy("vid").agg(F.min("y").alias("y")))
    # one persisted (vid, deg, y) table replaces two per-round joins;
    # partitioned by vid so each round's deg⋈msgs is exchange-free
    dsy = (deg.join(sd, "vid", "left")
           .repartition(nparts, "vid").persist())
    loop = SuperstepLoop(edges.sparkSession, "spread", nparts, max_iter)
    state, _ = loop.commit(dsy.select("vid",
                                      F.coalesce("y", F.lit(float(init))).alias("f")))
    with loop:
        for _ in loop:
            msgs = (state.join(le.withColumnRenamed("src", "vid"), "vid")
                    .groupBy(F.col("dst").alias("vid"))
                    .agg(F.sum(F.col("f") * F.col("w")).alias("s")))
            # msgs comes out hash(vid)×nparts from the groupBy — aligned
            # with dsy, so no repartition before the checkpoint
            state, _ = loop.commit(
                dsy.join(msgs, "vid", "left")
                .select("vid",
                        F.coalesce("y", F.col("s") / F.col("deg")).alias("f")))
    # materialize before releasing the caches: the returned lazy plan
    # reads them, and the caller's first action would otherwise re-run
    # the full pipeline against uncached inputs
    out = loop.finish(
        state.join(dsy.select("vid", "y"), "vid", "left")
        .select("vid",
                (F.round("f", round_digits) if round_digits is not None
                 else F.col("f")).alias("score"),
                F.col("y").isNotNull().alias("is_seed")))
    le.unpersist()
    dsy.unpersist()
    return out


def eigenvector_centrality(edges: DataFrame, max_iter: int = 3,
                           round_digits: int | None = None) -> DataFrame:
    """(vid, x) — eigenvector centrality by power iteration on the
    symmetrized simple graph: x ← A·x, L2-normalized each round from
    the all-ones start (Bonacich's classic; the one centrality between
    degree and Katz/PageRank in the family). Fixed ``max_iter`` rounds.

    Engine shape: the label_spreading superstep — cached symmetrized
    edges, one state-join + partial-agg sum per round; the L2 norm is
    the round's ONE driver scalar (pagerank's dangling-mass shape),
    state eager-localCheckpoints each round. Isolated vertices never
    appear (no edges → no centrality mass), matching the adjacency
    semantics of the rest of the engine."""
    und = undirected_simple(edges.select("src", "dst"))
    return _power_iteration(und, F.col("x"), "eigenvector", max_iter, round_digits)


def _power_iteration(und: DataFrame, term, algo: str, max_iter: int,
                     round_digits: int | None) -> DataFrame:
    """x ← Σ_{u→v} ``term`` from the all-ones start, L2-normalized each
    round, over the symmetrized edge set ``und``. No edges: empty
    (vid, x), with no loop and no norm over an empty state."""
    le, n_und, nparts = measured_repartition(und, "src")
    if n_und == 0:
        le.unpersist()
        return und.select(F.col("dst").alias("vid"),
                          F.lit(0.0).alias("x")).where(F.lit(False))
    verts = (le.select(F.col("dst").alias("vid")).distinct()
             .repartition(nparts, "vid").persist())
    loop = SuperstepLoop(und.sparkSession, algo, nparts, max_iter)
    state, _ = loop.commit(verts.select("vid", F.lit(1.0).alias("x")))
    with loop:
        for _ in loop:
            # msgs feeds TWO subplans (norm scalar + next state) — the
            # driver checkpoints it first, or each round re-executes the
            # join; the groupBy already leaves it hash(vid)×nparts. The
            # state is a projection of that checkpoint.
            msgs, _ = loop.commit(state.join(le.withColumnRenamed("src", "vid"), "vid")
                                  .groupBy(F.col("dst").alias("vid"))
                                  .agg(F.sum(term).alias("s")))
            nrm = msgs.agg(F.sqrt(F.sum(F.col("s") * F.col("s")))
                           .alias("n")).collect()[0].n
            state = msgs.select("vid",
                                (F.col("s") / F.lit(float(nrm))).alias("x"))
    out = state.select(
        "vid",
        (F.round("x", round_digits) if round_digits is not None
         else F.col("x")).alias("x"))
    le.unpersist()
    verts.unpersist()
    return out


def fiedler_vector(edges: DataFrame, max_iter: int = 3,
                   round_digits: int | None = None) -> DataFrame:
    """(vid, f) — approximate Fiedler vector (second-smallest eigenvector
    of the normalized Laplacian L = I − D^{-1/2} A D^{-1/2}) by DEFLATED
    power iteration on M = 2I − L: the sign of f is the classic spectral
    bisection, and |f| orders vertices along the graph's sparsest-cut
    direction (the upstream of sweep-cut partitioning — ppr_sweep_cut is
    the local analog, this is the global one).

    Method: L's spectrum lies in [0, 2], so M = I + D^{-1/2} A D^{-1/2}
    is PSD with top eigenvector d^{1/2} (the trivial λ=0 direction);
    deflating d^{1/2} each round makes power iteration converge to the
    Fiedler direction. Per round, with v1 = d^{1/2}/||d^{1/2}||:
        y  = x + D^{-1/2} A D^{-1/2} x       (one superstep)
        c  = y·v1,  n = sqrt(y·y − c²)       (ONE driver agg: since v1
                                              is unit, ||y − c·v1||² =
                                              ||y||² − c²)
        x' = (y − c·v1) / n

    Engine shape: the eigenvector_centrality loop — edges enriched ONCE
    with the source-side 1/sqrt(deg) and cached; state carries
    (x, 1/sqrt(deg), v1) so each round is one state-join + partial-agg
    sum + column arithmetic, eager-localCheckpointed, with the (c, n)
    scalars as the round's one collect. Deterministic init: an md5-hash
    fraction per vid mapped to (−1, 1) — a STRUCTURED init (e.g. ±1 by
    parity) can be exactly symmetric under a graph automorphism and
    then has zero component on the antisymmetric Fiedler direction, so
    power iteration can never find it; the hash init is deterministic
    AND unaligned with any structural symmetry (the md5 trick the
    sampling/split family already relies on). Deflate-normalized before
    the loop. Isolated vertices never appear (no edges → no spectral
    coordinate), matching eigenvector_centrality.
    """
    import math

    und = undirected_simple(edges.select("src", "dst")).persist()
    n_und = und.count()
    if n_und == 0:  # no edges: no degree sum to normalize by
        und.unpersist()
        return und.select(F.col("dst").alias("vid"),
                          F.lit(0.0).alias("f")).where(F.lit(False))
    nparts = adaptive_partitions(n_und)
    loop = SuperstepLoop(edges.sparkSession, "fiedler", nparts, max_iter)
    deg = loop.setup(und.groupBy(F.col("dst").alias("vid"))
                     .agg(F.count("*").alias("deg"))
                     .repartition(nparts, "vid"))
    s2m = deg.agg(F.sum("deg")).collect()[0][0]  # = 2|E_und|, one setup agg
    rt2m = math.sqrt(float(s2m))
    # edges enriched once with the SOURCE-side 1/sqrt(deg) — per-round
    # messages then need no degree join at all
    lez = (und.join(deg.select(F.col("vid").alias("src"),
                               (F.lit(1.0) / F.sqrt("deg")).alias("rs_u")),
                    "src")
           .repartition(nparts, "src").persist())
    vert = deg.select(
        "vid", (F.lit(1.0) / F.sqrt("deg")).alias("rs"),
        (F.sqrt("deg") / F.lit(rt2m)).alias("v1"))
    frac = (F.conv(F.substring(
        F.md5(F.concat(F.lit("fiedler:"), F.col("vid").cast("string"))),
        1, 15), 16, 10).cast("double") / F.lit(float(16 ** 15)))
    x0 = vert.select("vid", "rs", "v1",
                     (frac * 2.0 - 1.0).alias("x"))
    with loop:
        x0, _ = loop.commit(x0)
        # deflate-normalize the init with the same one-agg trick
        s = x0.agg(F.sum(F.col("x") * F.col("v1")).alias("c"),
                   F.sum(F.col("x") * F.col("x")).alias("s2")).collect()[0]
        nrm = math.sqrt(s.s2 - s.c * s.c)
        state, _ = loop.commit(x0.select(
            "vid", "rs", "v1",
            ((F.col("x") - F.lit(float(s.c)) * F.col("v1"))
             / F.lit(float(nrm))).alias("x")))
        for _ in loop:
            msgs = (state.select(F.col("vid").alias("src"), "x")
                    .join(lez, "src")
                    .groupBy(F.col("dst").alias("vid"))
                    .agg(F.sum(F.col("x") * F.col("rs_u")).alias("m")))
            # the state is a projection of the checkpointed y
            y, _ = loop.commit(state.join(msgs, "vid")
                               .select("vid", "rs", "v1",
                                       (F.col("x") + F.col("rs") * F.col("m")).alias("y")))
            s = y.agg(F.sum(F.col("y") * F.col("v1")).alias("c"),
                      F.sum(F.col("y") * F.col("y")).alias("s2")).collect()[0]
            nrm = math.sqrt(s.s2 - s.c * s.c)
            state = y.select(
                "vid", "rs", "v1",
                ((F.col("y") - F.lit(float(s.c)) * F.col("v1"))
                 / F.lit(float(nrm))).alias("x"))
    # the result is a projection of the final state: keep it, free the rest
    loop.finish(loop.state)
    out = state.select(
        "vid",
        (F.round("x", round_digits) if round_digits is not None
         else F.col("x")).alias("f"))
    lez.unpersist()
    und.unpersist()
    return out


def eigenvector_centrality_weighted(edges: DataFrame, weight_col: str,
                                    max_iter: int = 3,
                                    round_digits: int | None = None
                                    ) -> DataFrame:
    """(vid, x) — eigenvector centrality of the weight-summed symmetric
    graph: x ← W·x with per-round L2 normalization (the
    weighted-variant convention shared with weighted PR/LPA/spreading:
    parallel edges sum, each direction contributes its weight both
    ways). Same superstep shape as the unweighted operator."""
    ew = (edges.select("src", "dst",
                       F.col(weight_col).cast("double").alias("w"))
          .where(F.col("src").isNotNull() & F.col("dst").isNotNull()
                 & (F.col("src") != F.col("dst"))))
    und = (ew.unionByName(ew.select(F.col("dst").alias("src"),
                                    F.col("src").alias("dst"), "w"))
           .groupBy("src", "dst").agg(F.sum("w").alias("w")))
    return _power_iteration(und, F.col("x") * F.col("w"), "eigenvector_w",
                            max_iter, round_digits)


def spectral_sweep_cut(edges: DataFrame, max_iter: int = 3,
                       top_m: int = 100,
                       round_digits: int = 8) -> DataFrame:
    """Global spectral partitioning: order vertices by the Fiedler
    coordinate (ROUNDED, vid tiebreak — the ulp-proof sweep ordering)
    and emit the conductance curve over the top-``top_m`` prefix; the
    prefix minimizing conductance is the classic Fiedler sweep cut
    (Shi-Malik without the eigensolver — Cheeger's inequality bounds
    its quality by the spectrum). The global sibling of the seeded ACL
    sweep (ppr_sweep_cut); both end in the shared conductance_sweep
    engine."""
    from credigraph_spark.graph.ppr import conductance_sweep

    f = fiedler_vector(edges, max_iter=max_iter)
    e = edges.select("src", "dst").where(
        F.col("src").isNotNull() & F.col("dst").isNotNull()
        & (F.col("src") != F.col("dst")))
    und = (e.select(F.least("src", "dst").alias("a"),
                    F.greatest("src", "dst").alias("b"))
           .dropDuplicates(["a", "b"]).persist())
    deg = (und.select(F.col("a").alias("vid"))
           .unionByName(und.select(F.col("b").alias("vid")))
           .groupBy("vid").agg(F.count("*").alias("deg")))
    m_row = und.agg(F.count("*").alias("m"))
    keyed = (f.join(deg, "vid")
             .select("vid", "deg",
                     F.round(F.col("f"), round_digits).alias("key")))
    curve = conductance_sweep(und, keyed, m_row, top_m, round_digits)
    und.unpersist()
    return curve


def collective_influence(edges: DataFrame) -> DataFrame:
    """Collective influence at radius 2 (Morone & Makse 2015) — the
    optimal-percolation influencer score:

        CI_2(i) = (k_i − 1) · Σ_{j ∈ ∂Ball(i, 2)} (k_j − 1)

    where ∂Ball(i, 2) is the EXACT 2-hop shell (reachable in two hops,
    not a neighbour, not i itself). Hubs whose neighbours are also
    well-connected dominate; the score finds the minimal set whose
    removal fragments the giant component — the de-hubbing diagnostic
    for crawl-graph robustness.

    Scale shape: one 2-path join (the wedge join triangles already pay,
    O(Σ deg²) with the same skew profile), a distinct + anti-join to
    carve the exact shell, then degree joins and ONE groupBy sum. All
    integers — exact oracle. Returns (vid, deg, ci)."""
    from credigraph_spark.graph.adjacency import undirected_simple

    und = undirected_simple(edges).persist()
    deg = und.groupBy(F.col("src").alias("vid")) \
             .agg(F.count("*").alias("deg"))
    p2 = (und.select(F.col("src").alias("u"), F.col("dst").alias("v"))
          .join(und.select(F.col("src").alias("v"),
                           F.col("dst").alias("w")), "v")
          .where(F.col("u") != F.col("w"))
          .select("u", "w").distinct())
    shell = p2.join(und.select(F.col("src").alias("u"),
                               F.col("dst").alias("w")),
                    ["u", "w"], "left_anti")
    contrib = (shell.join(deg.select(F.col("vid").alias("w"),
                                     F.col("deg").alias("dw")), "w")
               .groupBy(F.col("u").alias("vid"))
               .agg(F.sum(F.col("dw") - 1).alias("_s")))
    out = (deg.join(contrib, "vid", "left")
           .select("vid", "deg",
                   ((F.col("deg") - 1)
                    * F.coalesce("_s", F.lit(0))).cast("long").alias("ci")))
    out = out.transform(eager_checkpoint)
    und.unpersist()
    return out


def ic_influence(edges: DataFrame, seeds: DataFrame, n_sims: int = 8,
                 p: float = 0.3, rounds: int = 3,
                 seed: int = 7) -> DataFrame:
    """Independent-Cascade influence estimate (X236; Kempe, Kleinberg &
    Tardos 2003): the expected spread of a seed set under the IC model
    equals its reachability in the LIVE-EDGE percolated graph — so
    each Monte-Carlo simulation keeps edge (u,v) alive iff its
    deterministic md5 coin < p (the X199 percolation coin keyed by the
    sim id, replayable in any engine), and the spread is a
    ``rounds``-hop BFS from the seeds over the alive edges. Reports,
    per simulation, the alive-edge count and the vertices reached —
    the evaluation oracle behind influence-maximization seed picks and
    the diffusion view of 'how far does trust/spam seed out of this
    set'.

    Returns (sim, n_alive, n_reached), all integers; n_reached
    includes the seeds.

    Scale shape: ALL simulations advance in ONE frame keyed
    (sim, vid) — the keyed frontier BFS (``nhop.frontier_bfs``) over the
    percolated edge set, its frontier join a single (sim, src)
    co-partition per round (|E| x n_sims rows, each a pure per-row coin
    — no RNG state, no driver loop per sim), one commit of the reach set
    per round.
    """
    from credigraph_spark.graph.adjacency import clean_edges
    from credigraph_spark.graph.nhop import frontier_bfs

    e = clean_edges(edges)
    spark = edges.sparkSession
    sims = spark.range(n_sims).select(F.col("id").alias("sim"))
    alive = _live_edges(e, sims, p, seed)
    loop = SuperstepLoop(spark, "ic", None, rounds)
    reach = frontier_bfs(loop, alive.withColumnRenamed("src", "vid"),
                         seeds.select("vid").distinct().crossJoin(sims)
                         .select("sim", "vid"))
    na = alive.groupBy("sim").agg(F.count("*").cast("long")
                                  .alias("n_alive"))
    nr = reach.groupBy("sim").agg(F.count("*").cast("long")
                                  .alias("n_reached"))
    out = loop.finish(
        sims.join(na, "sim", "left").join(nr, "sim", "left")
        .select("sim",
                F.coalesce("n_alive", F.lit(0)).cast("long")
                .alias("n_alive"),
                F.coalesce("n_reached", F.lit(0)).cast("long")
                .alias("n_reached")))
    alive.unpersist()
    return out


def _live_edges(e: DataFrame, sims: DataFrame, p: float, seed: int) -> DataFrame:
    """(sim, src, dst): the edges each simulation keeps alive — those
    whose md5 coin for (seed, sim, src, dst) falls below ``p`` —
    persisted."""
    frac = (F.conv(F.substring(
        F.md5(F.concat_ws("|", F.lit(str(seed)), F.col("sim"),
                          F.col("src").cast("string"),
                          F.col("dst").cast("string"))),
        1, 15), 16, 10).cast("double") / F.lit(float(16 ** 15)))
    return (e.crossJoin(sims)
            .where(frac < F.lit(float(p)))
            .select("sim", "src", "dst").persist())


def greedy_influence_max(edges: DataFrame, k: int = 3, n_cands: int = 8,
                         n_sims: int = 6, p: float = 0.3,
                         rounds: int = 2, seed: int = 7,
                         round_digits: int = 6) -> DataFrame:
    """Greedy influence maximization (X240; Kempe-Kleinberg-Tardos) on
    live-edge Monte-Carlo samples: the expected IC spread of a seed
    SET is, by the live-edge equivalence, the MAX-COVERAGE of the
    (sim, reached-vertex) universe by the per-seed reach sets — a
    monotone submodular function, so the X237 greedy is
    (1-1/e)-optimal over the sampled spread. Candidates are the
    ``n_cands`` top-out-degree vertices; each (sim, candidate) reach
    set is a ``rounds``-hop BFS over the sim's md5-percolated edges
    (the X236 coin); the greedy then picks ``k`` seeds by marginal
    coverage. The seed-picking layer every diffusion/trust campaign
    runs on top of the X236 evaluator.

    Returns one row per pick: (round, seed_vid, marginal,
    covered_total, est_spread) — marginal/covered in (sim, vertex)
    element units, est_spread = covered_total / n_sims (the
    Monte-Carlo spread estimate of the prefix seed set).

    Scale shape: ALL (sim, candidate) BFS frontiers advance in ONE
    frame keyed (sim, cand, vid) — the keyed frontier BFS
    (``nhop.frontier_bfs``), ``rounds`` co-partitioned joins total,
    regardless of candidate count; each greedy round is one anti-join +
    bounded count + top-1 over that reach table, then one commit of the
    covered set (the X237 discipline). Candidate and sim counts bound
    every per-round structure.
    """
    from credigraph_spark.graph.adjacency import clean_edges
    from credigraph_spark.graph.nhop import frontier_bfs

    e = clean_edges(edges)
    spark = edges.sparkSession
    sims = spark.range(n_sims).select(F.col("id").alias("sim"))
    alive = _live_edges(e, sims, p, seed)
    cands = (e.groupBy(F.col("src").alias("cand"))
             .agg(F.count("*").alias("_d"))
             .orderBy(F.desc("_d"), F.asc("cand")).limit(n_cands)
             .select("cand"))
    bfs = SuperstepLoop(spark, "greedy_im_reach", None, rounds)
    reach = frontier_bfs(bfs, alive.withColumnRenamed("src", "vid"),
                         cands.crossJoin(sims)
                         .select("sim", "cand", F.col("cand").alias("vid")))
    alive.unpersist()
    picks = SuperstepLoop(spark, "greedy_im", None, k)
    covered, _ = picks.commit(spark.createDataFrame([], "sim LONG, vid LONG"))
    picked: list[int] = []
    rows = []
    total = 0
    for r in picks:
        rem = reach.join(covered, ["sim", "vid"], "left_anti")
        if picked:
            rem = rem.where(~F.col("cand").isin(picked))
        top = (rem.groupBy("cand")
               .agg(F.count("*").cast("long").alias("marg"))
               .orderBy(F.desc("marg"), F.asc("cand")).limit(1)
               .collect())
        if not top:
            break
        cand, marg = int(top[0]["cand"]), int(top[0]["marg"])
        picked.append(cand)
        total += marg
        rows.append((r + 1, cand, marg, total,
                     round(total / n_sims, round_digits)))
        covered, _ = picks.commit(covered.unionByName(
            reach.where(F.col("cand") == cand).select("sim", "vid"))
            .distinct())
    # the result is local: it reads no loop table
    picks.finish()
    bfs.finish()
    return spark.createDataFrame(
        rows, "round LONG, seed_vid LONG, marginal LONG, "
              "covered_total LONG, est_spread DOUBLE")
