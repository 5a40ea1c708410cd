"""GraphFrames-style message-passing primitive (aggregateMessages).

The engine's iterative algorithms (pagerank.py, components.py, lpa.py)
each hand-build the same physical shape: join vertex state onto the
cached edge table, emit a message per edge endpoint, aggregate per
receiving vertex. This module exposes that shape as a reusable
primitive so users can write NEW graph algorithms declaratively —
the Spark-native analog of GraphFrames' ``aggregateMessages`` /
Pregel's gather phase (public API shape; implementation from scratch).

Messages are Column expressions over the TRIPLET view, whose columns are
``src``, ``dst``, every edge attribute, plus every vertex attribute
twice: ``src_<attr>`` and ``dst_<attr>``.

Physical shape: two equi joins build the triplet view (vertex side
broadcast when small — pass ``broadcast_vertices=True``), the message
union is map-side combinable through the final groupBy, so hub vertices
never serialize a single task.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, functions as F


def triplets(edges: DataFrame, vertices: DataFrame, vid_col: str = "vid",
             broadcast_vertices: bool = False,
             attach: tuple[str, ...] = ("src", "dst"),
             how: str = "left") -> DataFrame:
    """The triplet view: one row per edge with the requested endpoints'
    vertex attributes attached (``src_*`` / ``dst_*``).

    ``attach`` selects which endpoint(s) get vertex attributes: a left
    join cannot be pruned by Catalyst even when its columns go unused
    (non-unique keys could duplicate rows), so an algorithm that only
    reads ``src_*`` should pass ``attach=("src",)`` — one join per
    superstep instead of two. ``how="inner"`` is the cheaper plan when
    the vertex table is known to cover every endpoint (the engine's
    iterative algorithms guarantee this)."""
    out = edges
    for side in attach:
        v = vertices.select(
            *[F.col(c).alias(f"{side}_{c}") for c in vertices.columns])
        if broadcast_vertices:
            v = F.broadcast(v)
        out = out.join(v, out[side] == v[f"{side}_{vid_col}"], how) \
                 .drop(f"{side}_{vid_col}")
    return out


def messages(
    edges: DataFrame,
    vertices: DataFrame,
    to_dst: Column | None = None,
    to_src: Column | None = None,
    vid_col: str = "vid",
    broadcast_vertices: bool = False,
    attach: tuple[str, ...] = ("src", "dst"),
    how: str = "left",
) -> DataFrame:
    """The raw gather stream: one (vid, msg) row per delivered message,
    before any aggregation — the building block for aggregations that
    need more than one aggregate per vertex key (e.g. LPA's per-label
    counts group by (vid, msg))."""
    if to_dst is None and to_src is None:
        raise ValueError("provide to_dst and/or to_src")
    t = triplets(edges, vertices, vid_col, broadcast_vertices, attach, how)
    parts = []
    if to_dst is not None:
        parts.append(t.select(F.col("dst").alias(vid_col), to_dst.alias("msg")))
    if to_src is not None:
        parts.append(t.select(F.col("src").alias(vid_col), to_src.alias("msg")))
    msgs = parts[0]
    for p in parts[1:]:
        msgs = msgs.unionByName(p)
    return msgs


def aggregate_messages(
    edges: DataFrame,
    vertices: DataFrame,
    agg: dict[str, Callable[[Column], Column]],
    to_dst: Column | None = None,
    to_src: Column | None = None,
    vid_col: str = "vid",
    broadcast_vertices: bool = False,
    attach: tuple[str, ...] = ("src", "dst"),
    how: str = "left",
) -> DataFrame:
    """Evaluate message expressions over the triplet view and aggregate
    them per receiving vertex.

    ``to_dst`` / ``to_src``: message Column (triplet-view columns) sent to
    the edge's dst / src — at least one required.
    ``agg``: output column name -> aggregator over the message column,
    e.g. ``{"nbr_sum": F.sum, "nbr_max": F.max}``. All aggregators must
    be partial-aggregatable SQL aggregates for the skew-immunity claim to
    hold (sum/min/max/count/avg are).

    Returns (vid, *agg-columns) — only vertices that received a message.
    Example — each vertex's mean neighbor out-degree (one line of Pregel):

        aggregate_messages(edges, degrees, to_dst=F.col("src_out_deg"),
                           agg={"nbr_avg": F.avg})
    """
    msgs = messages(edges, vertices, to_dst, to_src, vid_col,
                    broadcast_vertices, attach, how)
    return msgs.groupBy(vid_col).agg(
        *[fn(F.col("msg")).alias(name) for name, fn in agg.items()]
    )
