"""Triangle counting via degree-ordered orientation (SURVEY.md §2.9 G7).

Not present in the reference; semantics pinned by the north rule:
undirected, deduped, self-loop-free graph; per-vertex triangle counts plus
global total (= Σ per-vertex / 3).

Physical design: the classic compact-forward / degree-orientation scheme.
Every undirected edge is oriented from the lower-(degree, vid) endpoint to
the higher one, which bounds every oriented out-degree by O(sqrt(E)) — the
standard skew bound that keeps hub vertices from exploding the wedge join.
Then triangles = wedges (u→v1, u→v2 with key(v1)<key(v2)) that close with
an oriented edge (v1→v2): two self-joins, no iteration, no UDFs.
``_oriented`` builds that layout and ``_triangles`` the wedge join, for
every operator here but the weighted clustering coefficient (whose float
corner sums keep their own plan).

Sizing (PageRank's rule): an operator's first action measures its input
(the canonical pair set's materializing job counts its rows); everything
after it runs under ``session.loop_tuning`` at
``adaptive_partitions(n)``. With AQE paused, the degree, orientation and
wedge exchanges are created at the measured size instead of the session's
constant, and no AQE stage job runs per exchange; AQE's runtime skew
split would buy nothing, since the orientation already bounds each
vertex's wedges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, functions as F

from credigraph_spark.graph.adjacency import clean_edges

from credigraph_spark.session import adaptive_partitions, eager_checkpoint, loop_tuning


def _canonical_undirected(edges: DataFrame) -> DataFrame:
    e = clean_edges(edges)
    return (
        e.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .dropDuplicates(["a", "b"])
    )


def _measured_pairs(edges: DataFrame) -> tuple[DataFrame, int]:
    """The canonical pair set (a, b), materialized by ONE job whose
    Observation also counts its rows (the operator's measuring action).
    Returns (checkpointed pairs, row count)."""
    obs = Observation("canonical_pairs")
    cnd = eager_checkpoint(_canonical_undirected(edges)
                           .observe(obs, F.count(F.lit(1)).alias("n")))
    return cnd, int(obs.get["n"] or 0)


def _degrees(cnd: DataFrame, name: str = "deg") -> DataFrame:
    """(vid, ``name``): every vertex's degree over the canonical pairs."""
    return (
        cnd.select(F.col("a").alias("vid"))
        .unionByName(cnd.select(F.col("b").alias("vid")))
        .groupBy("vid").agg(F.count("*").alias(name))
    )


def _oriented(cnd: DataFrame, shuffle_n: int) -> DataFrame:
    """The degree-oriented layout (u, v, dv) of the canonical pairs: each
    edge points from its lower-(deg, vid) endpoint u to the higher one v
    (dv = deg(v)), hash-partitioned by u into ``shuffle_n`` parts."""
    deg = _degrees(cnd)
    keyed = (cnd.join(deg.select(F.col("vid").alias("a"), F.col("deg").alias("da")), "a")
             .join(deg.select(F.col("vid").alias("b"), F.col("deg").alias("db")), "b"))
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b")))
    return keyed.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("dv"),
    ).repartition(shuffle_n, "u")


def _triangles(oriented: DataFrame) -> DataFrame:
    """(u, v1, v2), every triangle once: the wedges u→v1, u→v2 with
    key(v1) < key(v2) that an oriented edge v1→v2 closes."""
    e1 = oriented.select("u", F.col("v").alias("v1"), F.col("dv").alias("dv1"))
    e2 = oriented.select("u", F.col("v").alias("v2"), F.col("dv").alias("dv2"))
    wedges = e1.join(e2, "u").where(
        (F.col("dv1") < F.col("dv2"))
        | ((F.col("dv1") == F.col("dv2")) & (F.col("v1") < F.col("v2"))))
    closing = oriented.select(F.col("u").alias("v1"), F.col("v").alias("v2"))
    return wedges.join(closing, ["v1", "v2"]).select("u", "v1", "v2")


def triangle_count(edges: DataFrame, num_partitions: int | None = None) -> tuple[DataFrame, int]:
    """Returns (per_vertex(vid, triangles), total_triangles)."""
    result, total, _ = _counted(edges, num_partitions)
    return result, total


def _counted(edges: DataFrame,
             num_partitions: int | None = None) -> tuple[DataFrame, int, DataFrame]:
    """``triangle_count`` plus the measured canonical pair set it read,
    which the degree-based operators reuse instead of rebuilding it."""
    spark = edges.sparkSession
    cnd, n = _measured_pairs(edges)
    shuffle_n = num_partitions or adaptive_partitions(n)
    with loop_tuning(spark, shuffle_n):
        oriented = _oriented(cnd, shuffle_n).persist()
        # ONE action: the per-vertex corner aggregation is checkpointed (so
        # the expensive wedge enumeration never re-runs at the caller's
        # first action; its job also fills the oriented cache) and the
        # total rides an Observation on that same job — every triangle
        # contributes exactly 3 corner rows.
        obs = Observation("triangle_total")
        per_vertex = eager_checkpoint(
            _triangles(oriented)
            .select(F.explode(F.array("u", "v1", "v2")).alias("vid"))
            .groupBy("vid")
            .agg(F.count("*").alias("triangles"))
            .observe(obs, F.sum("triangles").alias("corners"))
        )
        oriented.unpersist()
    total = int(obs.get["corners"] or 0) // 3
    # vertices with zero triangles still appear (left join against all);
    # lazy on purpose — it reads only the two checkpoints the call made,
    # never the wedge join
    all_verts = (
        cnd.select(F.col("a").alias("vid"))
        .unionByName(cnd.select(F.col("b").alias("vid")))
        .distinct()
    )
    result = (
        all_verts.join(per_vertex, "vid", "left")
        .select("vid", F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles"))
    )
    return result, total, cnd


def clustering_coefficient(edges: DataFrame) -> DataFrame:
    """Per-vertex local clustering coefficient over the undirected simple
    graph: lcc(v) = 2·T(v) / (deg(v)·(deg(v)−1)), 0 when deg(v) < 2.

    Built on ``triangle_count`` (degree-oriented, skew-bounded) plus one
    undirected-degree aggregation — exact rational arithmetic until the
    final division, so the result is bit-reproducible across engines.
    Returns (vid, deg, lcc).
    """
    per_vertex, _, cnd = _counted(edges)
    return per_vertex.join(_degrees(cnd), "vid").select(
        "vid",
        "deg",
        F.when(
            F.col("deg") >= 2,
            F.round(
                2.0 * F.col("triangles") / (F.col("deg") * (F.col("deg") - 1)), 8
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("lcc"),
    )


def global_transitivity(edges: DataFrame) -> DataFrame:
    """One row (n_triangles, n_wedges, transitivity) over the undirected
    simple graph: transitivity = 3·T / W with W = Σ_v C(deg_v, 2) — the
    global sibling of clustering_coefficient, exact integer moments and
    one final rounded division (closeness/eccentricity convention)."""
    _, total, cnd = _counted(edges)
    return _transitivity(total, _degrees(cnd))


def _transitivity(total: int, deg: DataFrame) -> DataFrame:
    """The ``global_transitivity`` row from the triangle total and the
    (vid, deg) table."""
    # all-integer: deg*(deg-1) is even, so the DIV is exact — doubles
    # would lose bits once a hub degree passes 2^26 (deg^2 > 2^53)
    wedges = deg.agg(
        F.sum(F.expr("CAST(deg AS BIGINT) * (deg - 1) DIV 2"))
        .cast("long").alias("n_wedges"))
    return wedges.select(
        F.lit(total).cast("long").alias("n_triangles"),
        "n_wedges",
        F.when(F.col("n_wedges") > 0,
               F.round(3.0 * F.lit(total) / F.col("n_wedges"), 8))
        .otherwise(F.lit(0.0)).alias("transitivity"),
    )


def k_truss(
    edges: DataFrame, k: int, max_rounds: int | None = None
) -> tuple[DataFrame, int]:
    """Edges of the k-truss: the maximal subgraph in which every edge
    participates in ≥ k−2 triangles (triangle analog of the k-core peel —
    kcore.py). Returns (canonical undirected surviving edges (src, dst)
    with src < dst, rounds_run).

    Each round recomputes per-edge support by running the SAME
    degree-ordered oriented triangle join as ``triangle_count`` (oriented
    out-degree ≤ O(sqrt E), so hub wedges never explode), then scatters
    each triangle to its three edges and peels edges below support. The
    edge set only shrinks, so rounds get cheaper; one driver action per
    round (surviving-edge count doubles as the convergence test).
    ``max_rounds`` gives the deterministic fixed-round form for the SQL
    oracle, exactly like ``k_core(max_rounds=...)``.
    """
    spark = edges.sparkSession
    need = k - 2

    cur, n_edges = _measured_pairs(edges)
    shuffle_n = adaptive_partitions(n_edges)
    rounds = 0
    with loop_tuning(spark, shuffle_n):
        while n_edges > 0 and (max_rounds is None or rounds < max_rounds):
            oriented = _oriented(cur, shuffle_n).persist()
            tris = _triangles(oriented)
            # scatter each triangle to its 3 edges (already canonical a < b
            # is NOT guaranteed between u/v1/v2 — orientation is by degree
            # — so re-canonicalize per edge), map-side-combinable count per
            # edge
            tri_edges = None
            for x, y in (("u", "v1"), ("u", "v2"), ("v1", "v2")):
                part = tris.select(
                    F.least(F.col(x), F.col(y)).alias("a"),
                    F.greatest(F.col(x), F.col(y)).alias("b"),
                )
                tri_edges = part if tri_edges is None else tri_edges.unionByName(part)
            supp = tri_edges.groupBy("a", "b").agg(F.count("*").alias("supp"))

            # the surviving-edge count rides the round's checkpoint job
            obs = Observation(f"k_truss_{rounds}")
            cur = eager_checkpoint(
                cur.join(supp, ["a", "b"], "left")
                .where(F.coalesce("supp", F.lit(0)) >= need)
                .select("a", "b")
                .observe(obs, F.count(F.lit(1)).alias("n"))
            )
            n_next = int(obs.get["n"] or 0)
            oriented.unpersist()
            rounds += 1
            if n_next == n_edges:
                break
            n_edges = n_next

    return cur.select(F.col("a").alias("src"), F.col("b").alias("dst")), rounds

def weighted_clustering_coefficient(edges: DataFrame,
                                    weight_col: str = "w") -> DataFrame:
    """Barrat weighted clustering coefficient (Barrat et al. 2004):

        c_w(i) = 1 / (s_i · (k_i − 1)) · Σ_{(j,h) closing at i} (w_ij + w_ih)/2

    over the symmetrized graph (parallel edge weights summed): how much
    of a vertex's STRENGTH participates in triangles, the weighted
    refinement of the local clustering coefficient. Vertices with
    k < 2 get 0.0.

    Scale shape: triangles come from the same degree-ordered orientation
    join as ``triangle_count`` (out-degree bounded by O(sqrt E)); each
    triangle credits its three corners with one exploded row, and the
    per-vertex sum / strength / degree are all partial-aggregatable.
    With integer weights every corner credit ((w1+w2)/2 — halves are
    exact in binary) and s·(k−1) are exact, so c_w compares exactly with
    no rounding."""
    e = (
        edges.select("src", "dst", F.col(weight_col).alias("w"))
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull()
               & (F.col("src") != F.col("dst")))
        .select(F.least("src", "dst").alias("a"),
                F.greatest("src", "dst").alias("b"), "w")
        .groupBy("a", "b").agg(F.sum("w").alias("w"))
        .persist()
    )
    deg = (
        e.select(F.col("a").alias("vid"), "w")
        .unionByName(e.select(F.col("b").alias("vid"), "w"))
        .groupBy("vid")
        .agg(F.count("*").alias("k"), F.sum("w").alias("s"))
    )
    da = deg.select(F.col("vid").alias("a"), F.col("k").alias("da"))
    db = deg.select(F.col("vid").alias("b"), F.col("k").alias("db"))
    keyed = e.join(da, "a").join(db, "b")
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b")))
    oriented = keyed.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("dv"),
        "w",
    )
    e1 = oriented.select("u", F.col("v").alias("v1"),
                         F.col("dv").alias("dv1"), F.col("w").alias("w1"))
    e2 = oriented.select("u", F.col("v").alias("v2"),
                         F.col("dv").alias("dv2"), F.col("w").alias("w2"))
    wedges = e1.join(e2, "u").where(
        (F.col("dv1") < F.col("dv2"))
        | ((F.col("dv1") == F.col("dv2")) & (F.col("v1") < F.col("v2"))))
    closing = oriented.select(F.col("u").alias("v1"),
                              F.col("v").alias("v2"),
                              F.col("w").alias("w3"))
    tris = wedges.join(closing, ["v1", "v2"]).select(
        "u", "v1", "v2", "w1", "w2", "w3")
    # corner credits: u touches (u,v1)=w1,(u,v2)=w2; v1 touches w1,w3;
    # v2 touches w2,w3
    credits = (
        tris.select(F.col("u").alias("vid"),
                    ((F.col("w1") + F.col("w2")) / 2).alias("c"))
        .unionByName(tris.select(
            F.col("v1").alias("vid"),
            ((F.col("w1") + F.col("w3")) / 2).alias("c")))
        .unionByName(tris.select(
            F.col("v2").alias("vid"),
            ((F.col("w2") + F.col("w3")) / 2).alias("c")))
        .groupBy("vid").agg(F.sum("c").alias("csum"))
    )
    out = (
        deg.join(credits, "vid", "left")
        .select(
            "vid",
            F.when(F.col("k") >= 2,
                   F.coalesce("csum", F.lit(0.0))
                   / (F.col("s") * (F.col("k") - 1)))
            .otherwise(0.0).alias("weighted_lcc"),
        )
    )
    return out


def directed_triad_census(edges: DataFrame) -> DataFrame:
    """One row (n_triangles, n_cyclic, n_transitive) classifying every
    triangle of the DIRECTED simple graph: n_cyclic counts directed
    3-cycle instances (a→b→c→a, each cycle once), n_transitive counts
    transitive-triangle instances (a→b, b→c, a→c, one per (source, mid,
    sink) embedding — reciprocal edges can make one vertex triple carry
    several instances of either kind). The Holland–Leinhardt triad
    distinction that separates feed-forward (hierarchy-like) from
    feedback (cycle-like) link structure.

    Scale shape: the vertex triples come from the SAME degree-oriented
    wedge join as ``triangle_count`` (out-degree bounded O(sqrt(E)) —
    the hub-skew bound), NOT from a raw path join whose wedge rows grow
    as Σ in(b)·out(b). Each triangle then picks up its 6 direction bits
    from three co-keyed joins against a per-pair direction-mask table
    (fwd=1|rev=2 packed small ints), and the census is pure column
    arithmetic + one global sum."""
    # clean_edges already dedups (src, dst) — no second dedup exchange
    e = clean_edges(edges.select("src", "dst"))

    # per canonical pair (a<b): mask = 1*[a→b exists] + 2*[b→a exists]
    dm = (e.select(F.least("src", "dst").alias("a"),
                   F.greatest("src", "dst").alias("b"),
                   F.when(F.col("src") < F.col("dst"), 1).otherwise(2)
                   .alias("m"))
          .groupBy("a", "b").agg(F.sum("m").alias("m")))

    shuffle_n = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    tris = _triangles(_oriented(dm.select("a", "b"), shuffle_n))

    def mask_join(t, x, y, name):
        return t.join(
            dm.select(F.col("a").alias("_a"), F.col("b").alias("_b"),
                      F.col("m").alias(name)),
            (F.least(F.col(x), F.col(y)) == F.col("_a"))
            & (F.greatest(F.col(x), F.col(y)) == F.col("_b")),
        ).drop("_a", "_b")

    t = mask_join(tris, "u", "v1", "m01")
    t = mask_join(t, "u", "v2", "m02")
    t = mask_join(t, "v1", "v2", "m12")

    def arrow(x, y, m):
        # x→y exists given the pair's sorted-order mask
        fwd = F.col(m).bitwiseAND(1) > 0
        rev = F.col(m).bitwiseAND(2) > 0
        return F.when(F.col(x) < F.col(y), fwd).otherwise(rev)

    b01, b10 = arrow("u", "v1", "m01"), arrow("v1", "u", "m01")
    b02, b20 = arrow("u", "v2", "m02"), arrow("v2", "u", "m02")
    b12, b21 = arrow("v1", "v2", "m12"), arrow("v2", "v1", "m12")

    def i(c):
        return F.when(c, 1).otherwise(0)

    cyc = i(b01 & b12 & b20) + i(b02 & b21 & b10)
    trans = (i(b01 & b12 & b02) + i(b02 & b21 & b01)
             + i(b10 & b02 & b12) + i(b12 & b20 & b10)
             + i(b20 & b01 & b21) + i(b21 & b10 & b20))
    return t.agg(
        F.count("*").cast("long").alias("n_triangles"),
        F.coalesce(F.sum(cyc), F.lit(0)).cast("long").alias("n_cyclic"),
        F.coalesce(F.sum(trans), F.lit(0)).cast("long")
        .alias("n_transitive"))


def dyad_census(edges: DataFrame) -> DataFrame:
    """One row (n_vertices, n_mutual, n_asymmetric, n_null): the
    Holland–Leinhardt dyad census of the directed simple graph —
    vertex pairs connected in both directions, exactly one direction,
    or not at all (null = C(n,2) − connected pairs, computed from the
    counts, never enumerated).

    Scale shape: ONE canonical-pair aggregation (the triad census's
    direction-mask table) + two 1-row aggs cross-joined — fully lazy,
    no pair enumeration beyond the edges that exist and no driver
    action inside the operator."""
    # clean_edges already dedups (src, dst) — no second dedup exchange
    e = clean_edges(edges.select("src", "dst"))
    dm = (e.select(F.least("src", "dst").alias("a"),
                   F.greatest("src", "dst").alias("b"),
                   F.when(F.col("src") < F.col("dst"), 1).otherwise(2)
                   .alias("m"))
          .groupBy("a", "b").agg(F.sum("m").alias("m")))
    nv = (e.select(F.col("src").alias("vid"))
          .unionByName(e.select(F.col("dst").alias("vid")))
          .distinct().agg(F.count("*").alias("n_vertices")))
    counts = dm.agg(
        F.coalesce(F.sum(F.when(F.col("m") == 3, 1).otherwise(0)), F.lit(0))
        .cast("long").alias("n_mutual"),
        F.coalesce(F.sum(F.when(F.col("m") != 3, 1).otherwise(0)), F.lit(0))
        .cast("long").alias("n_asymmetric"),
        F.count("*").alias("n_connected"))
    return nv.crossJoin(counts).select(
        F.col("n_vertices").cast("long").alias("n_vertices"),
        "n_mutual", "n_asymmetric",
        (F.expr("(n_vertices * (n_vertices - 1)) div 2")
         - F.col("n_connected")).cast("long").alias("n_null"))


def clustering_null_model(edges: DataFrame) -> DataFrame:
    """One row comparing measured global transitivity against the
    configuration-model expectation (Newman, SIAM Rev. 2003):
    C_cm = (⟨k²⟩ − ⟨k⟩)² / (N·⟨k⟩³) — the clustering a degree-preserving
    random rewiring of this graph would show. small_world_ratio =
    transitivity / C_cm: >> 1 is real local structure, ~1 means the
    triangles are a pure hub artifact (the standard webgraph sanity
    check before reading anything into clustering numbers).

    Degree moments are EXACT decimal(38,0) sums (the assortativity
    discipline: Σk² over a hub-heavy graph overflows int64 long before
    it overflows anyone's patience); the two divisions at the end are
    the only floats, rounded."""
    _, total, cnd = _counted(edges)
    deg = _degrees(cnd)
    gt = _transitivity(total, deg)
    dd = F.col("deg").cast("decimal(38,0)")
    mom = deg.agg(
        F.count("*").alias("n_vertices"),
        F.sum(dd).cast("decimal(38,0)").alias("sk"),
        F.sum(dd * dd).cast("decimal(38,0)").alias("sk2"))
    n = F.col("n_vertices").cast("double")
    k1 = F.col("sk").cast("double") / n
    k2 = F.col("sk2").cast("double") / n
    c_exp = (k2 - k1) * (k2 - k1) / (n * k1 * k1 * k1)
    return (mom.crossJoin(gt)
            .select(
                "n_vertices", "n_triangles", "transitivity",
                F.round(k1, 8).alias("mean_deg"),
                F.round(c_exp, 8).alias("c_expected"),
                F.when(c_exp > 0,
                       F.round(F.col("transitivity") / c_exp, 6))
                .otherwise(F.lit(0.0)).alias("small_world_ratio")))


def clique_percolation_k3(edges: DataFrame) -> DataFrame:
    """k-clique percolation communities for k=3 (Palla et al., Nature
    2005): two triangles are adjacent iff they share an edge (k-1 = 2
    vertices); communities are the connected components of that
    triangle-overlap graph, and a vertex belongs to every community one
    of its triangles lands in (communities OVERLAP — the defining CPM
    property; a vertex appears once per community).

    Scale shape: NO pairwise triangle join — a shared edge on t
    triangles would emit t^2 overlap pairs. Instead run hash-min CC
    over the bipartite triangle<->edge INCIDENCE graph (exactly 3 rows
    per triangle), which has the same connectivity; the existing
    type-generic connected_components (pointer jumping, skew handling,
    one action per superstep) does the flooding over string node keys
    ('t:x:y:z' / 'e:x:y', lexicographic min as the community label —
    engine-portable, so the DuckDB oracle reproduces ids verbatim).

    Returns (vid, community): vid typed as the input ids, community a
    string key."""
    # cache + count the canonical pair set once: it feeds the degree agg
    # (twice) and the orientation join, and the measured edge count sizes
    # the wedge join (the loop-tuned context below)
    cnd = _canonical_undirected(edges).persist()
    spark = edges.sparkSession
    shuffle_n = adaptive_partitions(cnd.count())
    # enumerate triangles via the deg-oriented wedge join, then
    # canonical-sort each triple; the tri count's job fills both caches
    with loop_tuning(spark, shuffle_n):
        oriented = _oriented(cnd, shuffle_n).persist()
        srt = F.array_sort(F.array("u", "v1", "v2"))
        tri = (_triangles(oriented)
               .select(srt[0].alias("x"), srt[1].alias("y"), srt[2].alias("z"))
               .withColumn("tkey", F.concat_ws(
                   ":", F.lit("t"), F.col("x").cast("string"),
                   F.col("y").cast("string"), F.col("z").cast("string")))
               .persist())
        n_tri = tri.count()
        oriented.unpersist()
    cnd.unpersist()

    def _ekey(p, q):
        return F.concat_ws(":", F.lit("e"), F.col(p).cast("string"),
                           F.col(q).cast("string"))

    inc = (tri.select(F.col("tkey").alias("tk"), _ekey("x", "y").alias("ek"))
           .unionByName(tri.select(F.col("tkey").alias("tk"),
                                   _ekey("x", "z").alias("ek")))
           .unionByName(tri.select(F.col("tkey").alias("tk"),
                                   _ekey("y", "z").alias("ek"))))
    # star-contract each edge-group to its MIN triangle: triangles
    # sharing an edge all connect to the group's hub, preserving
    # connectivity with the SAME linear row count (<= 3 per triangle)
    # while keeping supersteps on triangle-graph distances (the naive
    # bipartite triangle<->edge graph doubles every hop and with it the
    # CC superstep count — measured 12 -> 7 rounds on the bench sample).
    star = inc.groupBy("ek").agg(F.min("tk").alias("hub"))
    # size the star-contraction exchanges to the incidence graph too
    # (<= 3*n_tri rows): at the session constant with AQE's per-stage
    # re-planning this one checkpoint job measured 1.1 s on a 10k-row
    # graph, 0.4 s under the loop-sized context
    cc_parts = max(1, min(shuffle_n, 1 + (3 * n_tri) // 250_000))
    # eager-checkpoint the tiny incidence graph BEFORE the CC loop: CC's
    # setup and every superstep otherwise re-canonicalize the deep
    # inc-join-star lineage on each plan (cache lookup + stats walk) —
    # measured 25 s -> 5.5 s for the same 6 supersteps at bench scale.
    with loop_tuning(spark, cc_parts):
        g = (inc.join(star, "ek")
             .where(F.col("tk") != F.col("hub"))
             .select(F.col("tk").alias("src"), F.col("hub").alias("dst"))
             .transform(eager_checkpoint))
    from credigraph_spark.graph.components import connected_components
    labels, _ = connected_components(
        g, vertices=tri.select("tkey"), num_partitions=cc_parts)
    members = tri.select(
        F.explode(F.array("x", "y", "z")).alias("vid"), "tkey")
    out = (members.join(labels.withColumnRenamed("vid", "tkey"), "tkey")
           .select("vid", F.col("component").alias("community"))
           .distinct()
           # materialize before releasing tri: the returned plan reads
           # tri, so the caller's action would otherwise re-run the whole
           # triangle enumeration after the unpersist (measured: the
           # packaged call was ~2x the sum of its phases)
           .transform(eager_checkpoint))
    tri.unpersist()
    return out


def edge_embeddedness(edges: DataFrame,
                      round_digits: int = 8) -> DataFrame:
    """Per-edge embeddedness (Granovetter tie strength): for edge
    (a, b), emb = |N(a) ∩ N(b)| / |N(a) ∪ N(b) \\ {a, b}| — the Jaccard
    of endpoint neighbourhoods; emb = 0 marks the weak ties / bridges
    that carry novel information, high emb marks intra-community bonds.

    common = per-edge triangle support (the SAME degree-ordered oriented
    wedge join as triangle_count / k_truss — hub wedges never explode);
    union = deg(a) + deg(b) - 2 - common (exact from degrees). One
    oriented join + one scatter groupBy; returns (src, dst, common,
    emb), src < dst."""
    cnd = _canonical_undirected(edges).persist()
    shuffle_n = adaptive_partitions(cnd.count())
    with loop_tuning(edges.sparkSession, shuffle_n):
        oriented = _oriented(cnd, shuffle_n).persist()
        deg = _degrees(cnd)

        # scatter each triangle to its three canonical edges
        def _pair(p, q):
            return F.struct(F.least(p, q).alias("a"), F.greatest(p, q).alias("b"))
        sup = (_triangles(oriented).select(F.explode(F.array(
            _pair(F.col("u"), F.col("v1")),
            _pair(F.col("u"), F.col("v2")),
            _pair(F.col("v1"), F.col("v2")))).alias("e"))
            .groupBy("e.a", "e.b").agg(F.count("*").alias("common")))
        common = F.coalesce("common", F.lit(0))
        # materialized before releasing the caches (the caller's action
        # would otherwise re-run the wedge enumeration against uncached
        # inputs); its job also fills the oriented cache
        out = eager_checkpoint(
            cnd.join(deg.select(F.col("vid").alias("a"), F.col("deg").alias("da")), "a")
            .join(deg.select(F.col("vid").alias("b"), F.col("deg").alias("db")), "b")
            .join(sup, ["a", "b"], "left")
            .select(
                F.col("a").alias("src"), F.col("b").alias("dst"),
                common.cast("long").alias("common"),
                F.round(common / (F.col("da") + F.col("db") - 2 - common).cast("double"),
                        round_digits).alias("emb")))
        oriented.unpersist()
    cnd.unpersist()
    return out


def incremental_triangles(base: DataFrame, delta: DataFrame) -> DataFrame:
    """Incremental triangle maintenance for a growing graph: count the
    NEW triangles created by an arriving edge batch WITHOUT
    re-enumerating the base graph — the temporal-graph analog of
    pagerank_incremental / cc_incremental.

    A triangle is new iff it uses >= 1 genuinely-new edge (delta edges
    already present in the base are ignored). Each new triangle is
    found once per new edge it contains, so the enumeration dedups on
    the sorted vertex triple and then counts each triangle's new edges
    exactly. Incremental invariant (pytest-pinned):
    triangles(base ∪ delta) = triangles(base) + new_triangles.

    Scale shape: the wedge join is driven from the NEW edge side — cost
    is O(|delta| · avg-degree), independent of |base| triangles; the
    base contributes only its adjacency. The 3 per-triple new-edge
    flag joins run against the (small) new-edge table, broadcast.
    Returns one row (n_base_edges, n_new_edges, tri_1new, tri_2new,
    tri_3new, new_triangles)."""
    b = _canonical_undirected(base).persist()
    dn = (_canonical_undirected(delta)
          .join(b, ["a", "b"], "left_anti")
          .persist())
    n_base = b.count()
    n_new = dn.count()
    u = (b.select("a", "b")
         .unionByName(dn.select("a", "b")))
    und = (u.select(F.col("a").alias("s"), F.col("b").alias("d"))
           .unionByName(u.select(F.col("b").alias("s"),
                                 F.col("a").alias("d"))))
    # common neighbours of each NEW edge's endpoints in the union graph.
    # The second join is an EQUI join on BOTH (b, w) — a 1:1 hash lookup
    # of (b, w) ∈ und — not a join on b alone with a w==w2 filter, which
    # materializes deg(a)·deg(b) candidate rows per new edge before
    # filtering (quadratic in hub degree; a single new hub-hub edge at
    # web scale would emit deg² candidates). (s, d) rows of und are
    # unique, so the triple set is identical; measured parity at bench
    # scale, where the candidate stream runs in codegen anyway. A
    # degree-oriented variant (enumerate from the lower-degree endpoint)
    # measured 2x SLOWER here — the dn side is broadcastable, so und
    # streams through both joins with no exchange, and the extra degree
    # joins cost more than the wider stream.
    tri = (dn.select("a", "b")
           .join(und.select(F.col("s").alias("a"), F.col("d").alias("w")),
                 "a")
           .join(und.select(F.col("s").alias("b"), F.col("d").alias("w"))
                 .hint("shuffle_hash"),
                 ["b", "w"])
           .select(F.array_sort(F.array("a", "b", "w")).alias("t"))
           .select(F.col("t")[0].alias("x"), F.col("t")[1].alias("y"),
                   F.col("t")[2].alias("z"))
           .dropDuplicates(["x", "y", "z"]))
    flag = dn.select("a", "b", F.lit(1).alias("_n"))

    def _is_new(u_col, v_col, tag):
        f = (flag.withColumnRenamed("a", "_fa")
             .withColumnRenamed("b", "_fb")
             .withColumnRenamed("_n", tag))
        return f, [F.col(u_col) == F.col("_fa"),
                   F.col(v_col) == F.col("_fb")]

    f1, c1 = _is_new("x", "y", "n1")
    f2, c2 = _is_new("x", "z", "n2")
    f3, c3 = _is_new("y", "z", "n3")
    flagged = (tri
               .join(F.broadcast(f1), c1[0] & c1[1], "left").drop("_fa", "_fb")
               .join(F.broadcast(f2), c2[0] & c2[1], "left").drop("_fa", "_fb")
               .join(F.broadcast(f3), c3[0] & c3[1], "left").drop("_fa", "_fb")
               .select((F.coalesce("n1", F.lit(0))
                        + F.coalesce("n2", F.lit(0))
                        + F.coalesce("n3", F.lit(0))).alias("n_new")))
    out = flagged.agg(
        F.lit(n_base).cast("long").alias("n_base_edges"),
        F.lit(n_new).cast("long").alias("n_new_edges"),
        F.coalesce(F.sum(F.when(F.col("n_new") == 1, 1)),
                   F.lit(0)).cast("long").alias("tri_1new"),
        F.coalesce(F.sum(F.when(F.col("n_new") == 2, 1)),
                   F.lit(0)).cast("long").alias("tri_2new"),
        F.coalesce(F.sum(F.when(F.col("n_new") == 3, 1)),
                   F.lit(0)).cast("long").alias("tri_3new"),
        F.count("*").cast("long").alias("new_triangles"),
    ).transform(eager_checkpoint)
    b.unpersist()
    dn.unpersist()
    return out


def egonet_anomaly(edges: DataFrame, top_k: int = 20,
                   round_digits: int = 6) -> DataFrame:
    """OddBall-style egonet anomaly scores (Akoglu et al. 2010): for
    each vertex, the egonet has n_i = deg_i neighbours and
    e_i = deg_i + t_i edges (each triangle through i is exactly one
    edge between two of i's neighbours). Healthy graphs follow a
    power law e ~ C·n^theta; near-cliques and star centres sit far
    off the fitted line. Score = |ln e − (c + theta·ln n)|, the
    log-residual of a least-squares fit in log-log space.

    Determinism: the OLS moment sums are FLOOR(·1e9)-quantized decimal
    sums (order-independent), theta/c are then plain double arithmetic
    on deterministic inputs, and the top-k cut orders by the ROUNDED
    residual with a vid tie-break — bit-stable across engines. The
    degenerate all-same-degree case is detected with an exact integer
    COUNT(DISTINCT n) == 1 (never a float == 0 test) and falls back to
    theta = 0, c = mean(ln e).

    Scale shape: per-vertex triangles from the degree-oriented join
    (O(E^1.5) worst case, hub-capped by orientation), one bounded
    moment aggregate broadcast back, a per-row residual expression,
    and ONE TakeOrderedAndProject for the top-k — no window over data.
    Returns (vid, n, e, resid), top_k rows."""
    per, _, cnd = _counted(edges)
    deg = _degrees(cnd, "n")
    ego = (deg.join(per, "vid", "left")
           .select("vid", "n",
                   (F.col("n") + F.coalesce("triangles", F.lit(0)))
                   .cast("long").alias("e")))
    pts = ego.select(
        "vid", "n", "e",
        F.log(F.col("n").cast("double")).alias("x"),
        F.log(F.col("e").cast("double")).alias("y"))

    def _qsum(c):
        return (F.sum(F.floor(c * F.lit(1e9)).cast("decimal(38,0)"))
                .cast("double") / F.lit(1e9))

    mom = pts.agg(
        F.count("*").cast("double").alias("m"),
        F.countDistinct("n").alias("ndist"),
        _qsum(F.col("x")).alias("sx"),
        _qsum(F.col("y")).alias("sy"),
        _qsum(F.col("x") * F.col("y")).alias("sxy"),
        _qsum(F.col("x") * F.col("x")).alias("sxx"))
    theta = F.when(F.col("ndist") == 1, F.lit(0.0)).otherwise(
        (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy"))
        / (F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")))
    fit = mom.select(theta.alias("theta"),
                     ((F.col("sy") - theta * F.col("sx")) / F.col("m"))
                     .alias("c"))
    return (pts.crossJoin(F.broadcast(fit))
            .select("vid", "n", "e",
                    F.round(F.abs(F.col("y") - (F.col("c")
                            + F.col("theta") * F.col("x"))),
                            round_digits).alias("resid"))
            .orderBy(F.desc("resid"), F.asc("vid"))
            .limit(top_k))


def truss_decomposition(edges: DataFrame, max_k: int = 4,
                        rounds_per_level: int = 2) -> DataFrame:
    """Truss decomposition: per-edge TRUSSNESS — the largest k such
    that the edge survives the k-truss peel — the triangle analog of
    the full coreness decomposition (kcore.coreness). Edges peeled at
    level k carry trussness k−1; survivors of the last level carry
    ``max_k`` (a lower bound if the true trussness is higher — raise
    max_k to refine, exactly like coreness' phase cap).

    ``rounds_per_level`` bounds each level's peel to a deterministic
    fixed-round form (the ktruss_2round / kcore_3round convention) so
    the whole decomposition unrolls into the SQL oracle; levels only
    shrink the edge set, so later levels get cheaper.

    Scale shape: per level, the SAME degree-ordered oriented triangle
    join as triangle_count (oriented out-degree O(sqrt E) — hub
    wedges never explode) + one anti-join to collect the level's
    peeled edges. Returns (src, dst, trussness), canonical src < dst."""
    parts = []
    cur = _canonical_undirected(edges).select(
        F.col("a").alias("src"), F.col("b").alias("dst"))
    for k in range(3, max_k + 1):
        surv, _ = k_truss(cur, k, max_rounds=rounds_per_level)
        removed = (cur.join(surv, ["src", "dst"], "left_anti")
                   .select("src", "dst",
                           F.lit(k - 1).cast("long").alias("trussness")))
        parts.append(removed)
        cur = surv
    parts.append(cur.select(
        "src", "dst", F.lit(max_k).cast("long").alias("trussness")))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
