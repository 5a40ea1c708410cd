"""Synchronous label propagation (LPA).

Not present in the reference (SURVEY.md §2.9 G6); semantics pinned for
determinism and oracle comparability: label⁰(v)=vid; each superstep every
vertex adopts the MODE of its neighbors' labels on the undirected edge
set, ties broken by the SMALLEST label; isolated vertices keep their own
label. Runs a fixed maximum number of supersteps, stopping early when no
label changes. Validated exactly against a pure-Python oracle with
identical tie-breaking.

Physical plan per superstep: join (edges ⋈ labels on src) →
groupBy(dst, label).count (map-side combinable) → per-dst arg-max via a
``max_by``-style struct-max aggregation (NOT a row_number window: an
ordered struct max is a plain aggregation, again partial-aggregatable,
so one hot vertex never serializes a whole window partition).
Tie-break (count desc, label asc) is encoded by maxing the struct
(count, -label).

The loop runs on the superstep driver (``graph/loop.py``): the
changed-label count rides its one action per superstep (the previous
label is carried through the plan).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from credigraph_spark.checkpoint import CheckpointStore
from credigraph_spark.session import adaptive_partitions
from credigraph_spark.graph.adjacency import undirected_simple, vertices_from_edges
from credigraph_spark.graph.loop import SuperstepLoop
from credigraph_spark.graph.pregel import messages


def label_propagation(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_iter: int = 10,
    ckpt: CheckpointStore | None = None,
    checkpoint_every: int = 5,
    resume: bool = True,
    num_partitions: int | None = None,
    weight_col: str | None = None,
    init_labels: DataFrame | None = None,
) -> tuple[DataFrame, dict]:
    """Returns (labels(vid, label), info).

    ``weight_col``: weighted voting — each neighbor's label counts with
    the undirected edge weight (parallel edges and both directions
    SUMMED) instead of 1; argmax tie-break is unchanged (weight desc,
    label asc). Integer-valued weights keep the double sums exact, so
    the result stays bit-reproducible against a SQL oracle.

    ``init_labels``: warm-start labeling (vid, label) — the incremental
    refresh path (pagerank's init_ranks analog): seed from a previous
    run's communities and let the delta graph's votes reshuffle only
    what changed; vertices absent from the seed start as themselves.
    Checkpoint resume takes precedence over init_labels."""
    spark = edges.sparkSession

    if weight_col is not None:
        e = (
            edges.select(F.col("src"), F.col("dst"),
                         F.col(weight_col).alias("w"))
            .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
            .where(F.col("src") != F.col("dst"))
        )
        und = (
            e.unionByName(e.select(F.col("dst").alias("src"),
                                   F.col("src").alias("dst"), "w"))
            .groupBy("src", "dst").agg(F.sum("w").alias("w"))
        )
    else:
        und = undirected_simple(edges)
    # loop partition count derived from the measured symmetrized edge
    # count (scale-adaptive, the connected_components discipline)
    if num_partitions is None:
        u0 = und.persist()
        shuffle_n = adaptive_partitions(u0.count())
        und = u0.repartition(shuffle_n, "src").persist()
        und.count()
        u0.unpersist()
    else:
        shuffle_n = num_partitions
        und = und.repartition(shuffle_n, "src").persist()
    verts = vertices_from_edges(und)
    if vertices is not None:
        verts = verts.unionByName(
            vertices.select(F.col(vertices.columns[0]).alias("vid"))
        ).distinct()
    verts = verts.repartition(shuffle_n, "vid").persist()
    n = verts.count()
    und.count()
    info: dict = {"n_vertices": n, "iterations": 0, "converged": n == 0}
    loop = SuperstepLoop(spark, "lpa", shuffle_n, max_iter, ckpt=ckpt,
                         checkpoint_every=checkpoint_every, resume=resume, info=info)
    done = loop.converged_state()
    if done is not None:
        und.unpersist()
        verts.unpersist()
        return done, info
    labels = loop.resumed_state()
    if labels is None and init_labels is not None:
        il = init_labels.select(
            F.col(init_labels.columns[0]).alias("vid"),
            F.col(init_labels.columns[1]).alias("_il"))
        labels = (verts.join(il, "vid", "left")
                  .select("vid", F.coalesce("_il", F.col("vid"))
                          .alias("label")))
    if labels is None:
        labels = verts.select("vid", F.col("vid").alias("label"))
    labels = loop.cache(labels)

    with loop:
        for _ in loop:
            # gather via the pregel primitive (raw message stream: LPA needs
            # a per-(vid, label) count, i.e. a two-key groupBy over messages)
            # ONE hash(vid) exchange per round (the louvain local-move
            # rework): the raw message stream is repartitioned by vid
            # once; HashPartitioning(vid) satisfies the clustering of
            # the (vid, label) count, the per-vid argmax AND the state
            # join below, so none of them shuffles again (previously:
            # a (vid, label) exchange plus a second (vid) exchange).
            if weight_col is not None:
                nbr = (
                    messages(und, labels,
                             to_dst=F.struct(F.col("src_label").alias("label"),
                                             F.col("w").alias("w")),
                             attach=("src",), how="inner")
                    .repartition(shuffle_n, F.col("vid"))
                    .groupBy("vid", F.col("msg.label").alias("label"))
                    .agg(F.sum("msg.w").alias("cnt"))
                )
            else:
                nbr = (
                    messages(und, labels, to_dst=F.col("src_label"),
                             attach=("src",), how="inner")
                    .repartition(shuffle_n, F.col("vid"))
                    .groupBy("vid", F.col("msg").alias("label"))
                    .agg(F.count("*").alias("cnt"))
                )
            # arg-max with (cnt desc, label asc) tie-break as a struct max:
            # max((cnt, -label)) picks highest count, then smallest label.
            best = nbr.groupBy("vid").agg(
                F.max(F.struct(F.col("cnt"), (-F.col("label")).alias("neg"))).alias("m")
            ).select("vid", (-F.col("m.neg")).alias("new_label"))

            # the changed count rides the driver's one action per round
            labels, metrics = loop.commit(loop.observe(
                labels.select("vid", F.col("label").alias("prev"))
                .join(best, "vid", "left")
                .select("vid", "prev", F.coalesce("new_label", F.col("prev")).alias("label")),
                F.sum((F.col("label") != F.col("prev")).cast("long")).alias("changed"),
            ).select("vid", "label"))
            changed = metrics["changed"] or 0
            loop.end_round(changed == 0, changed=changed, rows=n)

    und.unpersist()
    verts.unpersist()
    return labels, info
