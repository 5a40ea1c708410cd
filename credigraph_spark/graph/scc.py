"""Strongly connected components + Broder bow-tie decomposition.

Not implemented anywhere in the reference (its graph layer computes only
degrees — tgrag/utils/writers.py:49-57); SCC is the missing primitive for
the classic webgraph structure analysis (Broder et al., "Graph structure
in the Web", WWW 2000): the bow-tie of CORE / IN / OUT / OTHER that any
link-credibility study reports. Algorithm: distributed trim + forward-max
coloring + backward reach (Orzan's coloring SCC; the FW-BW family of
Slota et al.), expressed as DataFrame supersteps.

Per phase on the remaining subgraph:

1. **Trim fixpoint** — vertices with no in-edge or no out-edge are
   singleton SCCs; peel until none remain. On web-like graphs this
   removes the huge acyclic fringe (tendrils/IN/OUT leaves) before any
   label exchange happens, and it is what bounds the phase count: after
   a full trim, every remaining vertex lies on a cycle.
2. **Coloring fixpoint** — color(v) := max vid over v's discovered
   ancestors ∪ {v}, propagated forward (one join + map-side-combinable
   max agg per superstep) with pointer jumping (color(v) :=
   max(color(v), color(color(v))) — colors are vids, so the self-join
   hits; valid because ancestors of my ancestor are my ancestors), so
   the fixpoint lands in O(log diameter) supersteps.
3. **Backward reach** — roots are vertices with color == vid. Restrict
   edges to color-equal endpoints (colors are frozen now, so ONE triplet
   join builds the subgraph), then flood a boolean backward from the
   roots. Everything reached is the root's SCC: extract with
   scc_id = color, remove, next phase.

``scc_id`` is therefore the MAX vid in the SCC (a root is extracted only
once every higher-vid external ancestor is gone, at which point its color
is the component's own maximum) — deterministic, and expressible in
DuckDB as ``greatest(vid, max(mutually-reachable vid))`` for the oracle.

Each fixpoint (trim, coloring, backward reach, bow-tie's two floods) is
one superstep-driver loop (``graph/loop.py``) with one action per
superstep: the changed/kept count rides the commit that truncates the
per-round plan (same contract as components.py). The phase loop is a
driver loop too: its commit is the shrunken vertex set, and it releases
every table a phase's inner loops hand it once the phase is over.
Bow-tie's floods hand theirs to a loop with no rounds of its own, whose
``finish`` materializes the classes. Trimmed-singleton labels
are derived once per phase as ``verts@phase-start ANTI verts@post-trim``
(no per-round label unions, so lineage stays flat however many trim
rounds run). Messages are monotone maxima / boolean ORs — partial
aggregation absorbs hub skew, no salting needed. A phase-count cap guards
the theoretical worst case (a condensation chain in descending-vid order
needs O(chain) phases); real web graphs finish in a handful of phases
because one giant SCC and the trimmed fringe dominate.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, functions as F

from credigraph_spark.session import adaptive_partitions, eager_checkpoint
from credigraph_spark.graph.adjacency import clean_edges, vertices_from_edges
from credigraph_spark.graph.loop import SuperstepLoop
from credigraph_spark.graph.pregel import aggregate_messages, triplets


def _induced(e: DataFrame, verts: DataFrame) -> DataFrame:
    """Edges with both endpoints in verts (two semi joins)."""
    return (e.join(verts.withColumnRenamed("vid", "src").hint("shuffle_hash"),
                  "src", "semi")
             .join(verts.withColumnRenamed("vid", "dst").hint("shuffle_hash"),
                   "dst", "semi"))


def _trim(owner: SuperstepLoop, e: DataFrame, verts: DataFrame, n: int,
          rounds: int, info: dict) -> tuple[DataFrame, DataFrame, int]:
    """Trim fixpoint: peel vertices with no in-edge or no out-edge until
    none remain. Returns the surviving (edges, vertices, count), adopted
    by ``owner``, which releases them with its round."""
    trim = SuperstepLoop(owner.spark, "scc_trim", owner.partitions, rounds)
    with trim:
        for r in trim:
            if r:  # restrict the edges to the last round's survivors
                e = trim.checkpoint(_induced(e, verts))
            on_cycle_side = (e.select("src").distinct()
                             .join(e.select(F.col("dst").alias("src"))
                                    .distinct(), "src", "semi")
                             .withColumnRenamed("src", "vid"))
            kept, m = trim.commit(trim.observe(
                verts.join(on_cycle_side.hint("shuffle_hash"), "vid", "semi"),
                F.count("vid").alias("n")))
            info["supersteps"] += 1
            verts = kept
            n_kept = m["n"] or 0
            trim.end_round(n_kept in (n, 0))
            n = n_kept
    # the first round restricts no edges: then ``e`` is still the owner's
    return (owner.cache(e) if trim.it > 1 else e), owner.cache(verts), n


def _coloring(owner: SuperstepLoop, e: DataFrame, verts: DataFrame,
              max_steps: int, info: dict) -> DataFrame:
    """Coloring fixpoint: forward max + pointer jump. Returns (vid, color),
    adopted by ``owner``."""
    loop = SuperstepLoop(owner.spark, "scc_color", owner.partitions, max_steps)
    colors = owner.cache(verts.select("vid", F.col("vid").alias("color")))
    with loop:
        for _ in loop:
            msgs = aggregate_messages(
                e, colors, to_dst=F.col("src_color"),
                agg={"nbr_max": F.max}, attach=("src",), how="inner",
            )
            stepped = loop.cache(
                colors.select("vid", F.col("color").alias("prev"))
                .join(msgs, "vid", "left")
                .select("vid", "prev",
                        F.greatest(F.col("prev"),
                                   F.coalesce("nbr_max", F.col("prev"))
                                   ).alias("color"))
            )
            jump = stepped.select(F.col("vid").alias("color"),
                                  F.col("color").alias("_jump"))
            new, m = loop.commit(loop.observe(
                stepped.join(jump.hint("shuffle_hash"), "color", "left")
                .select("vid", "prev",
                        F.greatest("color", F.coalesce("_jump", "color")
                                   ).alias("color")),
                F.sum((F.col("color") != F.col("prev")).cast("long")
                      ).alias("changed"),
            ).select("vid", "color"))
            colors = new
            info["supersteps"] += 1
            loop.end_round((m["changed"] or 0) == 0)
    return owner.cache(colors)


def _flood(owner: SuperstepLoop, e: DataFrame, state: DataFrame, col: str,
           forward: bool, max_steps: int) -> tuple[DataFrame, int]:
    """Boolean closure of ``col`` along ``e``: a vertex whose in-neighbour
    (``forward``) or out-neighbour (backward) is flagged becomes flagged.
    One join + OR-agg per superstep. Returns (final state, supersteps);
    the final state is adopted by ``owner``."""
    loop = SuperstepLoop(owner.spark, f"flood_{col}", owner.partitions, max_steps)
    rest = [c for c in state.columns if c != col]
    kwargs = ({"to_dst": F.col(f"src_{col}"), "attach": ("src",)}
              if forward else
              {"to_src": F.col(f"dst_{col}"), "attach": ("dst",)})
    cur = owner.cache(state)
    with loop:
        for _ in loop:
            msgs = aggregate_messages(e, cur, agg={"nbr_any": F.max},
                                      how="inner", **kwargs)
            new, m = loop.commit(loop.observe(
                cur.withColumnRenamed(col, "prev")
                .join(msgs, "vid", "left")
                .select(*rest, "prev",
                        (F.col("prev") | F.coalesce("nbr_any", F.lit(False))
                         ).alias(col)),
                F.sum((F.col(col) != F.col("prev")).cast("long")
                      ).alias("changed"),
            ).select(*rest, col))
            cur = new
            loop.end_round((m["changed"] or 0) == 0)
    return owner.cache(cur), loop.it


def strongly_connected_components(
    edges: DataFrame,
    max_phases: int = 30,
    max_steps: int = 200,
    trim_rounds: int = 100,
) -> tuple[DataFrame, dict]:
    """Returns (labels(vid, scc_id), info). ``scc_id`` = max vid of the
    vertex's strongly connected component. Every vertex appearing as an
    edge endpoint gets a row; trivial (singleton) SCCs included."""
    spark = edges.sparkSession
    # partition the phase loop by the MEASURED edge count (scale-adaptive,
    # the connected_components discipline): small graphs run few tasks per
    # superstep, web-scale graphs derive thousands
    e0 = clean_edges(edges).persist()
    n_e = e0.count()
    shuffle_n = adaptive_partitions(n_e)
    phases = SuperstepLoop(spark, "scc", shuffle_n, max_phases)
    e = phases.cache(e0.repartition(shuffle_n, "src"))
    verts = phases.cache(vertices_from_edges(e).repartition(shuffle_n, "vid"))
    n = verts.count()
    e.count()
    e0.unpersist()
    info: dict = {"n_vertices": n, "phases": 0, "supersteps": 0,
                  "converged": n == 0, "phase_extracted": []}
    done = None
    with phases:
        for phase in phases:
            if n == 0:
                break
            t0 = time.time()
            verts_start, n_start = verts, n

            # ---- 1. trim fixpoint: no-in or no-out vertices are singletons
            e, verts, n = _trim(phases, e, verts, n, trim_rounds, info)

            members = None
            if n > 0:
                # ---- 2. coloring fixpoint: forward max + pointer jump
                colors = _coloring(phases, e, verts, max_steps, info)

                # ---- 3. backward reach from roots in frozen-color subgraph
                same_color_e = phases.cache(
                    triplets(e, colors, attach=("src", "dst"), how="inner")
                    .where(F.col("src_color") == F.col("dst_color"))
                    .select("src", "dst")
                    .transform(eager_checkpoint))
                flags, steps = _flood(
                    phases, same_color_e,
                    colors.select("vid", (F.col("vid") == F.col("color")).alias("flag")),
                    "flag", forward=False, max_steps=max_steps)
                info["supersteps"] += steps
                members = phases.cache(
                    flags.where("flag").join(colors, "vid")
                    .select("vid", F.col("color").alias("scc_id")))

            # phase labels = trimmed singletons + extracted SCC members,
            # materialized into `done` while the phase's tables are held
            trimmed = (verts_start.join(verts, "vid", "anti")
                       .select("vid", F.col("vid").alias("scc_id")))
            phase_labels = trimmed if members is None \
                else trimmed.unionByName(members)
            done = phases.checkpoint(phase_labels if done is None
                                     else done.unionByName(phase_labels))

            n_next = 0
            if members is not None:
                remaining, m = phases.commit(phases.observe(
                    verts.join(members.select("vid"), "vid", "anti"),
                    F.count("vid").alias("n")))
                info["supersteps"] += 1
                n_next = m["n"] or 0
            info["phase_extracted"].append(
                {"phase": phase, "extracted": n_start - n_next,
                 "wall_ms": round((time.time() - t0) * 1e3, 1)})
            if n_next > 0:
                # after the commit: the next phase's edges and vertices
                e = phases.cache(_induced(e, remaining).transform(eager_checkpoint))
                verts = remaining.persist()
            n = n_next
            info["phases"] = phase + 1

    info["converged"] = n == 0
    if done is None:  # no phase ran: an empty cleaned graph
        phases.finish()
        return spark.createDataFrame([], "vid long, scc_id long"), info
    return phases.finish(done), info


def bowtie_classes(
    edges: DataFrame,
    scc_labels: DataFrame | None = None,
    max_steps: int = 200,
) -> DataFrame:
    """Broder bow-tie decomposition relative to the largest SCC.

    Returns (vid, cls) with cls ∈ {'core','in','out','other'}:
    core = member of the largest SCC (ties broken by smaller scc_id);
    in   = reaches the core but is not in it;
    out  = reachable from the core but not in it;
    other = everything else (tendrils, tubes, disconnected).

    Physical shape: after SCC, two boolean BFS floods (forward from core
    along edges, backward along reversed edges), each one join + OR-agg
    per superstep on the superstep driver (``_flood``, shared with the
    SCC backward reach) — no closure materialization, state is one
    boolean per vertex. The
    core-pick itself is a 1-row aggregate (top-1 by count)."""
    spark = edges.sparkSession
    # a loop with no rounds of its own owns the tables the two floods hand
    # it; its finish materializes the classes and releases them
    own = SuperstepLoop(spark, "bowtie", None, 0)
    e = own.cache(clean_edges(edges))
    own.partitions = adaptive_partitions(e.count())
    owned = scc_labels is None
    if owned:
        scc_labels, _ = strongly_connected_components(e)
    # a caller's table is only persisted here, never released
    labels = own.cache(scc_labels) if owned else scc_labels.persist()

    core_row = (labels.groupBy("scc_id").count()
                .orderBy(F.desc("count"), F.asc("scc_id")).limit(1)
                .collect())
    if not core_row:
        own.finish()
        out = spark.createDataFrame([], "vid long, cls string")
    else:
        state = own.cache(labels.select(
            "vid", (F.col("scc_id") == F.lit(core_row[0]["scc_id"])).alias("core")))
        fwd, _ = _flood(own, e, state.withColumn("fwd", F.col("core")), "fwd",
                        forward=True, max_steps=max_steps)      # core ⇝ v
        bwd, _ = _flood(own, e, state.withColumn("bwd", F.col("core")), "bwd",
                        forward=False, max_steps=max_steps)     # v ⇝ core
        out = own.finish(
            fwd.select("vid", "core", "fwd")
            .join(bwd.select("vid", "bwd"), "vid")
            .select(
                "vid",
                F.when(F.col("core"), F.lit("core"))
                 .when(F.col("bwd"), F.lit("in"))
                 .when(F.col("fwd"), F.lit("out"))
                 .otherwise(F.lit("other")).alias("cls"),
            ))
    if not owned:
        labels.unpersist()
    return out
