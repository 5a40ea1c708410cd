"""Connected components via hash-min label exchange.

Not implemented anywhere in the reference (SURVEY.md §2.9 G5 — its
``build_from_BCC``, tgrag/utils/writers.py:49-57, only computes degrees);
semantics pinned by the north rule: label⁰(v)=vid, each superstep
label(v) = min(label(v), min over neighbors' labels) on the UNDIRECTED
edge set, until no label changes. Validated exactly against a pure-Python
union-find oracle.

Physical plan per superstep: one join (symmetrized edges ⋈ labels on src)
+ one min-aggregation by dst + one join back — all map-side-combinable,
so hub skew is absorbed by partial aggregation (messages are monotone
minima, no salting needed). Each superstep ALSO pointer-jumps
(label(v) := label(label(v)), one self-join) so chains collapse in
O(log diameter) rounds instead of O(diameter) — the converged labels are
identical to plain hash-min, only the round count shrinks. Symmetrized
edges are partitioned by src and cached once.

The pointer-jump join is the ONE skew-prone stage (a giant component's
vertices all probe a single label value near convergence, and AQE's
skew-join splitter is paused inside the loop): an approx-distinct-label
estimate observed on the previous superstep — zero extra actions —
switches it between plain shuffle (early, near-unique keys), salted
(coalesced but map too big to broadcast) and broadcast of the
semi-reduced label→jump map (late rounds; the map is ≤ #distinct-labels
rows and shrinks monotonically). ``info['jump_strategies']`` records the
per-round choice.

The loop runs on the superstep driver (``graph/loop.py``): the
changed-label count rides its one action per superstep (the previous
label is carried through the plan as a ``prev`` column).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from credigraph_spark.checkpoint import CheckpointStore
from credigraph_spark.session import (BROADCAST_MAX_ROWS, adaptive_partitions,
                                      eager_checkpoint, join_side)
from credigraph_spark.graph.adjacency import clean_edges, undirected_simple, vertices_from_edges
from credigraph_spark.graph.loop import SuperstepLoop
from credigraph_spark.graph.pregel import aggregate_messages

# Join side of the per-round vid/label maps (group-min and pointer jump).
# Graphs up to this many vertices (Leiden refinement parts, sampled
# incidence graphs) broadcast the maps outright — one small driver collect
# per round beats any shuffle stage, and the shuffle_hash hint would
# SUPPRESS that broadcast (A/B: leiden_two_level 12.4-12.7 hinted vs
# 10.7-11.3 without; at |V|=85k per-round broadcasts measured WORSE than
# the hinted shuffle — cc_converge 5.2-5.8 vs 3.3-4.4 — so the cut sits at
# a map that collects in a few tens of ms). Above it the maps take a
# shuffle_hash hint: the state tables derive from cached joins whose size
# ESTIMATES are Catalyst products (not data), so the planner would reject
# shuffled-hash and fall back to SortMergeJoin — a full sort of the
# |V|-row state EVERY round. The map sides have unique keys (one row per
# label / vid), so the per-partition hash build is bounded by
# rows/partition.
MAP_BROADCAST_MAX_VERTICES = 10_000


def connected_components(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_iter: int = 200,
    ckpt: CheckpointStore | None = None,
    checkpoint_every: int = 5,
    resume: bool = True,
    num_partitions: int | None = None,
    # broadcast relations materialize on the driver each superstep (serial
    # floor): the session's join-side cap
    bcast_components: int = BROADCAST_MAX_ROWS,
    jump_salt: int = 8,
    # skew handling costs a fixed ~3 extra plan nodes + a distinct per
    # superstep; that only amortizes when the jump join is big (A/B:
    # parity at 1M vertices, +36% at 20k — BENCH.md). Below this vertex
    # count every round runs the plain join; a hot key can't hurt anyway
    # when the whole state fits in a few tasks.
    skew_min_vertices: int = 1_000_000,
) -> tuple[DataFrame, dict]:
    """Returns (labels(vid, component), info). ``component`` = min vid of
    the vertex's component at convergence."""
    spark = edges.sparkSession
    info: dict = {"iterations": 0}
    loop = SuperstepLoop(spark, "cc", None, max_iter, ckpt=ckpt,
                         checkpoint_every=checkpoint_every, resume=resume, info=info)
    # the call's one measuring action: the symmetrized edge set is a setup
    # table whose job also counts it, and the loop's partition count is
    # derived from that count (scale-adaptive: few partitions for small
    # subgraphs — the dominant fixed cost of a superstep is per-task
    # overhead — thousands at web scale); everything after it runs under
    # the loop's tuning
    und0, m = loop.keep(loop.observe(undirected_simple(edges),
                                     F.count(F.lit(1)).alias("n")))
    shuffle_n = loop.partitions = num_partitions or adaptive_partitions(m["n"] or 0)
    with loop:
        und = und0.repartition(shuffle_n, "src").persist()
        if vertices is None:
            # the symmetrized set carries every endpoint as src, so the
            # vertex set is one distinct over the cached layout's own
            # hash(src) partitioning — no 2|E|-row union, no extra exchange
            verts = und.select(F.col("src").alias("vid")).distinct()
        else:
            verts = (vertices_from_edges(und)
                     .unionByName(vertices.select(
                         F.col(vertices.columns[0]).alias("vid")))
                     .distinct().repartition(shuffle_n, "vid"))
        # a cache, not a setup checkpoint: once counted, the planner sees
        # its real size, where a checkpoint carries the plan's estimate
        # into round 0's joins (591k edges: 3.5 s per call vs 3.9 s, six
        # alternating calls in one session); the count's job also fills
        # the und cache
        verts = verts.persist()
        n = verts.count()
        info["n_vertices"] = n
        loop.converged = info["converged"] = n == 0
        done = loop.converged_state()
        if done is not None:
            und.unpersist()
            verts.unpersist()
            loop.finish()  # the stored state reads no loop table
            return done, info
        labels = loop.resumed_state()
        if labels is None:
            labels = verts.select("vid", F.col("vid").alias("component"))
        labels = loop.cache(labels)

        # Distinct-label estimate drives NEXT round's pointer-jump join strategy
        # (it rides the same observation as the changed count, so choosing the
        # strategy costs zero extra driver actions). Round 1 / resume start with
        # the exact bound |V| = every vertex its own label.
        ncomp_est = n
        jump_strategies: list[str] = []

        for it in loop:
            # neighbor minima: message component(src) -> dst (the pregel
            # gather primitive; attach=src only, inner join — labels cover
            # every endpoint by construction)
            msgs = aggregate_messages(
                und, labels, to_dst=F.col("src_component"),
                agg={"nbr_min": F.min}, attach=("src",), how="inner",
            )
            stepped = loop.cache(  # referenced by direct + jump (+ distinct) branches
                labels.select("vid", F.col("component").alias("prev"))
                .join(msgs, "vid", "left")
                .select(
                    "vid", "prev",
                    F.least(F.col("prev"), F.coalesce("nbr_min", F.col("prev"))).alias("component"),
                )
            )
            # pointer jumping: also adopt the label OF my current label vertex
            # (component values are always vids, so the self-join hits). This
            # collapses long chains in O(log diameter) supersteps instead of
            # O(diameter) — the difference between ~30 and ~10^5 rounds at
            # web scale.
            #
            # SKEW: near convergence every vertex of a giant component probes
            # the join with ONE component value, and AQE (with its skew-join
            # splitter) is deliberately paused in this loop. The distinct
            # label set shrinks monotonically, so last round's estimate picks
            # the physical strategy (skew only EXISTS once labels have
            # coalesced, so both skew paths additionally require
            # ncomp ≤ |V|/2 — round 1's unique labels always take plain,
            # avoiding a pointless full-map broadcast, measured 1.2x slower
            # at 20M edges in local mode):
            #   broadcast — ≤ bcast_components distinct labels: semi-reduce
            #     the vid→label map to rows whose vid IS a current label
            #     (broadcast semi, no shuffle), then broadcast-join it: the
            #     giant component's probe rows never co-locate at all.
            #   salted    — labels have coalesced but the reduced map is
            #     still too big to broadcast: explode the reduced map
            #     ×jump_salt and spread probes by hash(vid), bounding any one
            #     task at ~|hot key|/jump_salt rows.
            #   plain     — early rounds (> |V|/2 distinct labels): keys are
            #     near-unique, no skew to handle; a plain shuffle join is
            #     cheapest.
            # ROUND COMPRESSION (group-min): before the pointer jump, pull
            # every vertex down to the best label its OLD label-group found
            # this round — gm(c) = min over {v : prev(v) = c} of s(v) — so
            # two touching groups merge entirely in ONE superstep instead of
            # leaking the smaller label member-by-member along graph hops.
            # Rounds drop where pointer jumping alone cannot help (labels
            # pointing at local minima): measured 8 → 4 supersteps on the
            # 744-vertex Leiden refinement graph, 3 → 3 on the 85k-vertex
            # bench graph (simulated orderings: gj=4 beats j=8, jg=5, g=6).
            # Cost: one |V|-row partial-aggregated groupBy + one |V|-row
            # join per round — small next to the |E| message join each
            # round saved. The fixpoint is unchanged: prev-groups lie
            # inside components and every op is a monotone min, so the
            # converged labels are bit-identical.
            if it > 0:
                gm = stepped.groupBy("prev").agg(
                    F.min("component").alias("_gm"))
                merged = loop.cache(  # referenced by jump-map + probe (+ distinct)
                    stepped.join(join_side(gm, n, MAP_BROADCAST_MAX_VERTICES), "prev", "left")
                    .select("vid", "prev",
                            F.least("component",
                                    F.coalesce("_gm", "component")
                                    ).alias("component"))
                )
            else:
                # round 0: every prev-group is a singleton (labels start as
                # own vid), so the group-min is the identity — skip its two
                # |V|-row stages
                merged = stepped
            jump = merged.select(F.col("vid").alias("component"), F.col("component").alias("_jump"))
            if n < skew_min_vertices:
                strategy = "plain"
                joined = merged.join(join_side(jump, n, MAP_BROADCAST_MAX_VERTICES), "component", "left")
            elif ncomp_est <= bcast_components and ncomp_est <= n // 2:
                strategy = "broadcast"
                cur = merged.select("component").distinct()
                jump_small = jump.join(F.broadcast(cur), "component", "semi")
                joined = merged.join(F.broadcast(jump_small), "component", "left")
            elif ncomp_est <= n // 2 and jump_salt > 1:
                strategy = "salted"
                cur = merged.select("component").distinct()
                jump_salted = (
                    jump.join(cur, "component", "semi")
                    .withColumn("_salt", F.explode(F.sequence(F.lit(0), F.lit(jump_salt - 1))))
                )
                joined = (
                    merged.withColumn(
                        "_salt", F.pmod(F.xxhash64("vid"), F.lit(jump_salt)).cast("int"))
                    .join(jump_salted.hint("shuffle_hash"), ["component", "_salt"], "left")
                )
            else:
                strategy = "plain"
                joined = merged.join(jump.hint("shuffle_hash"), "component", "left")
            jump_strategies.append(strategy)
            # the driver's one action also fills the changed-count and
            # distinct-label observations (prev label is carried in the plan)
            labels, metrics = loop.commit(loop.observe(
                joined.select("vid", "prev",
                              F.least("component", F.coalesce("_jump", "component")).alias("component")),
                F.sum((F.col("component") != F.col("prev")).cast("long")).alias("changed"),
                F.approx_count_distinct("component").alias("ncomp"),
            ).select("vid", "component"))
            changed = metrics["changed"] or 0
            # HLL ±~2.3%: pad so a slight underestimate can't flip us into
            # broadcasting a map that misses the executor memory budget.
            ncomp_est = int((metrics["ncomp"] or 0) * 1.05) + 1
            loop.end_round(changed == 0, changed=changed, rows=n)

    info["jump_strategies"] = jump_strategies
    out = loop.finish(labels)
    und.unpersist()
    verts.unpersist()
    return out, info


def connected_components_incremental(
    prev_labels: DataFrame,
    new_edges: DataFrame,
    **cc_kwargs,
) -> tuple[DataFrame, dict]:
    """Incremental connected components: given the labeling of a prior
    edge set (``prev_labels`` = (vid, component) where component is the
    MIN vid of the component — exactly what ``connected_components``
    emits) and a batch of NEW edges, produce the labeling of the union
    graph without re-touching the old edges.

    How: map each new edge's endpoints to their prior component (or to
    themselves if unseen), run the engine's own hash-min CC on that
    CONDENSED graph — its size is O(|delta|), independent of the full
    graph — then compose: final(v) = cc(condensed_label(v)). Because a
    prior component's label is its min vid, the condensed minimum equals
    the global minimum of the merged component, so the result is
    bit-identical to a full recompute (the driver oracle IS the full
    recompute). This is the production shape for daily crawl deltas at
    10^12-file scale: the expensive full-graph label exchange runs once;
    each delta costs one label join + a CC over the delta's components.

    Returns (labels, info) like ``connected_components``; info gains
    n_condensed_edges."""
    e = clean_edges(new_edges)
    lab = prev_labels.select(F.col(prev_labels.columns[0]).alias("vid"),
                             F.col(prev_labels.columns[1]).alias("label"))
    la = lab.select(F.col("vid").alias("src"), F.col("label").alias("la"))
    lb = lab.select(F.col("vid").alias("dst"), F.col("label").alias("lb"))
    condensed = (
        e.join(la, "src", "left").join(lb, "dst", "left")
        .select(F.coalesce("la", F.col("src")).alias("src"),
                F.coalesce("lb", F.col("dst")).alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
        .transform(eager_checkpoint)
    )
    n_cond = condensed.count()
    if n_cond == 0:
        # delta adds no cross-label edges: labeling unchanged except
        # brand-new isolated pairs (impossible: cleaned edges with equal
        # condensed endpoints lie inside existing components)
        merged, info = lab, {"iterations": 0, "converged": True}
    else:
        cc2, info = connected_components(condensed, **cc_kwargs)
        merged = None
    info = dict(info)
    info["n_condensed_edges"] = n_cond

    ends = (e.select(F.col("src").alias("vid"))
            .unionByName(e.select(F.col("dst").alias("vid"))).distinct())
    verts = (lab.select("vid", "label")
             .unionByName(
                 ends.join(lab, "vid", "left_anti")
                 .select("vid", F.col("vid").alias("label"))))
    if merged is not None:
        return verts.withColumnRenamed("label", "component"), info
    final = (
        verts
        .join(cc2.withColumnRenamed("vid", "label")
                 .withColumnRenamed("component", "merged"), "label", "left")
        .select("vid", F.coalesce("merged", F.col("label"))
                .alias("component"))
    )
    return final, info


def threshold_percolation(edges: DataFrame, weight_col: str = "w",
                      thresholds: tuple[int, ...] = (1, 2, 3)) -> DataFrame:
    """Weight-threshold percolation profile (X199): for each threshold t,
    keep edges with weight >= t and report the surviving graph's
    connectivity — how the giant component dissolves as weak ties are
    pruned (the percolation view of link-strength robustness; Newman,
    Networks §16). Input edges carry a canonical-pair weight (one row
    per undirected pair).

    Returns one row per threshold: (threshold, n_vertices, n_edges,
    n_components, giant_size), zero-filled when nothing survives.

    Scale shape: one hash-min CC run per threshold on the SHRINKING
    edge subset (thresholds are few and fixed; each run reuses the
    engine's adaptive pointer-jump CC), followed by two tiny rollups.
    The threshold filter sits directly on the weighted-pair table, so
    higher thresholds scan less, not more.
    """
    spark = edges.sparkSession
    out = None
    for t in sorted(thresholds):
        sub = (edges.where(F.col(weight_col) >= t)
               .select("src", "dst"))
        labels, _ = connected_components(sub)
        stats = (labels.groupBy("component")
                 .agg(F.count("*").alias("sz"))
                 .agg(F.coalesce(F.count("*"), F.lit(0)).cast("long")
                      .alias("n_components"),
                      F.coalesce(F.max("sz"), F.lit(0)).cast("long")
                      .alias("giant_size"),
                      F.coalesce(F.sum("sz"), F.lit(0)).cast("long")
                      .alias("n_vertices")))
        ecnt = sub.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b")).distinct().agg(
            F.count("*").cast("long").alias("n_edges"))
        row = (stats.crossJoin(ecnt)
               .select(F.lit(t).cast("long").alias("threshold"),
                       "n_vertices", "n_edges", "n_components",
                       "giant_size"))
        out = row if out is None else out.unionByName(row)
    return out
