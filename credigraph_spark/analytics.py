"""Degree / topology analytics (SURVEY.md §2.4 A6-A17, §2.9 G3).

Reference computes these with external Unix sort + hand-written merges
(tgrag/utils/analytics.py, tgrag/utils/writers.py:49-223) and pandas
(tgrag/utils/pagerank_utils.py:234-297); here each is a single declarative
DataFrame aggregation Catalyst can fuse.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

from credigraph_spark.graph.adjacency import clean_edges, degrees

from credigraph_spark.session import eager_checkpoint, join_side


def degree_table(edges: DataFrame) -> DataFrame:
    """(vid, in_deg, out_deg) — the reference's vertex-degree table
    (writers.py:114 contract, minus the ts column)."""
    return degrees(edges)


def total_degree_counts(edges: DataFrame) -> DataFrame:
    """(vid, deg) where deg counts every incidence (A6 semantics:
    analytics.py run-length count over the sorted endpoint stream)."""
    return (
        edges.select(F.explode(F.array("src", "dst")).alias("vid"))
        .groupBy("vid")
        .agg(F.count("*").alias("deg"))
    )


def density(edges: DataFrame) -> DataFrame:
    """Directed density E / (V * (V-1)) (tgrag/utils/analytics.py:10-29)."""
    verts = (
        edges.select(F.col("src").alias("vid"))
        .unionByName(edges.select(F.col("dst").alias("vid")))
        .distinct()
        .count()
    )
    e = edges.count()
    spark = edges.sparkSession
    d = float(e) / (verts * (verts - 1)) if verts > 1 else 0.0
    return spark.createDataFrame([(e, verts, d)], ["n_edges", "n_vertices", "density"])


def degree_stats(edges: DataFrame) -> DataFrame:
    """min/mean/max/median + leaf count of total degree (analytics.py:54-109)."""
    return total_degree_counts(edges).agg(
        F.min("deg").alias("min_deg"),
        F.max("deg").alias("max_deg"),
        F.avg("deg").alias("mean_deg"),
        F.expr("percentile(deg, 0.5)").alias("median_deg"),
        F.sum(F.when(F.col("deg") == 1, 1).otherwise(0)).alias("n_leaves"),
        F.count("*").alias("n_vertices"),
    )


def degree_filter(edges: DataFrame, min_degree: int) -> tuple[DataFrame, DataFrame]:
    """P8/J3: keep vertices with total degree > min_degree, then keep edges
    whose BOTH endpoints survive (process.py:18-59,180-200 two-pass filter
    re-expressed as two left-semi joins)."""
    kept = total_degree_counts(edges).where(F.col("deg") > min_degree).select("vid")
    out = (
        edges.join(kept.withColumnRenamed("vid", "src"), "src", "left_semi")
        .join(kept.withColumnRenamed("vid", "dst"), "dst", "left_semi")
        .select("src", "dst")
    )
    return kept, out


def weighted_modularity(edges: DataFrame, labels: DataFrame,
                        weight_col: str = "w",
                        label_col: str = "label") -> DataFrame:
    """Weighted Newman modularity: Q_w = Σ_c [ W_c/W − (S_c / 2W)² ]
    over the canonical undirected weighted graph (parallel / reverse
    edge weights summed), W = total weight, W_c = intra-community
    weight, S_c = community strength. One row
    (total_weight, n_communities, modularity).

    Also emits the exact decimal numerator/denominator of Q_w
    (q_num = 4·W·ΣW_c − ΣS_c², q_den = 4·W²) so callers that need a
    hash-stable cross-engine compare can use the integer columns: a
    global float sum is order-dependent across partitions, the decimal
    aggregates are not.

    Same decimal-safe shape as :func:`modularity` (S_c² in
    decimal(38,0)); with integer input weights every aggregate is exact
    and only the final `modularity` expression is float (rounded to 8)."""
    from credigraph_spark.graph.adjacency import clean_edges

    e = (
        edges.select("src", "dst", F.col(weight_col).alias("w"))
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull()
               & (F.col("src") != F.col("dst")))
        .select(F.least("src", "dst").alias("a"),
                F.greatest("src", "dst").alias("b"), "w")
        .groupBy("a", "b").agg(F.sum("w").alias("w"))
        .persist()
    )
    lab = labels.select(F.col(labels.columns[0]).alias("vid"),
                        F.col(label_col).alias("c")).persist()
    n_lab = lab.count()
    strength = (
        e.select(F.col("a").alias("vid"), "w")
        .unionByName(e.select(F.col("b").alias("vid"), "w"))
        .groupBy("vid").agg(F.sum("w").alias("s"))
    )
    s_c = (strength.join(join_side(lab, n_lab), "vid")
           .groupBy("c").agg(F.sum("s").alias("sc")))
    w_c = (
        e.join(join_side(lab.withColumnRenamed("vid", "a")
                         .withColumnRenamed("c", "ca"), n_lab), "a")
        .join(join_side(lab.withColumnRenamed("vid", "b")
                        .withColumnRenamed("c", "cb"), n_lab), "b")
        .where(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("c")).agg(F.sum("w").alias("wc"))
    )
    w_row = e.agg(F.sum("w").alias("tw"))
    per_c = (s_c.join(w_c, "c", "left")
             .select("c", F.coalesce("wc", F.lit(0)).alias("wc"),
                     F.col("sc").cast("decimal(38,0)").alias("sc")))
    tw_dec = F.col("tw").cast("decimal(38,0)")
    out = (
        per_c.crossJoin(F.broadcast(w_row))
        .agg(
            F.first("tw").alias("total_weight"),
            F.count("c").alias("n_communities"),
            (F.lit(4).cast("decimal(38,0)") * F.first(tw_dec)
             * F.sum(F.col("wc").cast("decimal(38,0)"))
             - F.sum(F.col("sc") * F.col("sc"))
             ).cast("decimal(38,0)").alias("q_num"),
            (F.lit(4).cast("decimal(38,0)") * F.first(tw_dec)
             * F.first(tw_dec)).cast("decimal(38,0)").alias("q_den"),
            F.round(
                F.sum(
                    F.col("wc").cast("double") / F.col("tw")
                    - ((F.col("sc") * F.col("sc")).cast("double")
                       / (4.0 * F.col("tw") * F.col("tw")))
                ), 8,
            ).alias("modularity"),
        )
    )
    # materialize before releasing the caches: the returned lazy plan
    # reads them, and the caller's first action would otherwise re-run
    # the full pipeline against uncached inputs
    out = out.transform(eager_checkpoint)
    e.unpersist()
    lab.unpersist()
    return out


def avg_neighbor_degree(edges: DataFrame) -> DataFrame:
    """(vid, deg, avg_nbr_deg) — each vertex's mean neighbor degree on
    the cleaned undirected simple graph: the local view of degree
    assortativity (disassortative webgraphs show it falling with deg).
    One degree agg + one self-join + one partial-aggregatable avg;
    integer sums make the single division exact (no rounding)."""
    from credigraph_spark.graph.adjacency import undirected_simple

    und = undirected_simple(edges)
    deg = und.groupBy(F.col("src").alias("vid")).agg(
        F.count("*").alias("deg"))
    nbr = (
        und.join(deg.select(F.col("vid").alias("dst"),
                            F.col("deg").alias("nd")), "dst")
        .groupBy(F.col("src").alias("vid"))
        .agg(F.sum("nd").alias("nsum"), F.count("*").alias("ncnt"))
    )
    return (
        deg.join(nbr, "vid")
        .select("vid", "deg",
                (F.col("nsum") / F.col("ncnt")).alias("avg_nbr_deg"))
    )


def degree_histogram(edges: DataFrame) -> DataFrame:
    """(bucket, lo, n_vertices) — log2-binned undirected degree
    histogram (bucket = floor(log2 deg), lo = 2^bucket): the standard
    heavy-tail summary plot's data, all-integer."""
    from credigraph_spark.graph.adjacency import undirected_simple

    und = undirected_simple(edges)
    deg = und.groupBy(F.col("src").alias("vid")).agg(
        F.count("*").alias("deg"))
    bucket = F.floor(F.log2("deg")).cast("int")
    return (
        deg.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_vertices"))
        .select("bucket", F.pow(F.lit(2.0), F.col("bucket"))
                .cast("long").alias("lo"), "n_vertices")
    )


def rich_club(edges: DataFrame, k: int) -> DataFrame:
    """ONE row (k, n_rich, e_rich, phi) — the rich-club coefficient
    φ(k) = 2·E_>k / (N_>k · (N_>k − 1)) over the cleaned undirected
    simple graph (Colizza et al. 2006): how densely the vertices of
    degree > k connect among THEMSELVES — the hub-interconnection
    signal degree distributions alone cannot show.

    Scale shape: one degree aggregation, one semi-join restriction of
    the canonical edge list to rich endpoints (both sides), two counts.
    φ is one exact integer ratio — no rounding in the oracle compare."""
    # one dedup: the canonical dedup subsumes clean_edges' directed one
    cnd = (
        edges.select("src", "dst")
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull()
               & (F.col("src") != F.col("dst")))
        .select(F.least("src", "dst").alias("a"),
                F.greatest("src", "dst").alias("b"))
        .dropDuplicates(["a", "b"])
    )
    deg = (
        cnd.select(F.col("a").alias("vid"))
        .unionByName(cnd.select(F.col("b").alias("vid")))
        .groupBy("vid").agg(F.count("*").alias("deg"))
    )
    rich = deg.where(F.col("deg") > k).select("vid")
    e_rich = (
        cnd.join(rich.withColumnRenamed("vid", "a"), "a", "left_semi")
        .join(rich.withColumnRenamed("vid", "b"), "b", "left_semi")
    )
    return (
        rich.agg(F.count("*").alias("n_rich"))
        .crossJoin(e_rich.agg(F.count("*").alias("e_rich")))
        .select(
            F.lit(k).alias("k"), "n_rich", "e_rich",
            F.when(F.col("n_rich") >= 2,
                   2.0 * F.col("e_rich")
                   / (F.col("n_rich") * (F.col("n_rich") - 1)))
            .otherwise(0.0).alias("phi"),
        )
    )


def reciprocity(edges: DataFrame) -> DataFrame:
    """Directed-graph reciprocity: the fraction of distinct directed edges
    (u,v) whose reverse (v,u) is also present. One distinct pass + one
    left-semi self-join on the flipped key — both shuffles on (src, dst),
    so at scale the semi-join co-partitions with the dedup. Returns one row
    (n_edges, n_reciprocal, reciprocity).

    Input is cleaned internally (ADVICE r3): a self-loop would match its
    own reverse and count reciprocal, and null endpoints would inflate
    n_edges while never matching — both deviate from the networkx
    definition, so nulls and self-loops are dropped first."""
    e = clean_edges(edges).persist()
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    n_edges = e.count()
    n_recip = e.join(rev, ["src", "dst"], "left_semi").count()
    e.unpersist()
    spark = edges.sparkSession
    r = float(n_recip) / n_edges if n_edges else 0.0
    return spark.createDataFrame(
        [(n_edges, n_recip, r)], ["n_edges", "n_reciprocal", "reciprocity"]
    )


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """Undirected degree assortativity: Pearson correlation of endpoint
    total degrees over the symmetrized edge list. All moments (Σx, Σy, Σxy,
    Σx², Σy², n) are exact integer sums — order-independent — so the final
    double-precision formula is bit-reproducible across engines; map-side
    combinable, one shuffle per degree join.

    Moments accumulate as decimal(38,0): with hub degrees ~3e9 a single
    dx*dy term overflows int64 (~9.2e18), and a web-scale graph has such
    hubs; the Pearson numerator/denominator are formed in decimal and only
    the final ratio is cast to double (VERDICT r3 #3)."""
    und = (
        edges.select("src", "dst")
        .unionByName(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .dropDuplicates(["src", "dst"])
        .where(F.col("src") != F.col("dst"))
    )
    deg = und.groupBy(F.col("src").alias("vid")).agg(F.count("*").alias("deg"))
    pairs = (
        und.join(deg.withColumnRenamed("vid", "src").withColumnRenamed("deg", "dx"), "src")
        .join(deg.withColumnRenamed("vid", "dst").withColumnRenamed("deg", "dy"), "dst")
    )
    return pearson_of_degree_pairs(pairs)


def pearson_of_degree_pairs(pairs: DataFrame) -> DataFrame:
    """One-row (n_ends, assortativity) Pearson correlation of integer
    columns (dx, dy). Moments accumulate as decimal(38,0) — a single
    dx*dy with hub degrees ~3e9 already exceeds int64 — and the formula
    stays in decimal until the final double division."""
    dx = F.col("dx").cast("decimal(38,0)")
    dy = F.col("dy").cast("decimal(38,0)")
    m = pairs.agg(
        F.count("*").alias("n"),
        F.sum(dx).alias("sx"),
        F.sum(dy).alias("sy"),
        F.sum(dx * dy).alias("sxy"),
        F.sum(dx * dx).alias("sxx"),
        F.sum(dy * dy).alias("syy"),
    )
    n = F.col("n").cast("decimal(38,0)")
    sx, sy, sxy, sxx, syy = (F.col(c) for c in ("sx", "sy", "sxy", "sxx", "syy"))
    num = n * sxy - sx * sy
    den = F.sqrt((n * sxx - sx * sx).cast("double")) * F.sqrt(
        (n * syy - sy * sy).cast("double")
    )
    return m.select(
        F.col("n").alias("n_ends"),
        F.round(num.cast("double") / den, 8).alias("assortativity"),
    )


def degree_tail_alpha(edges: DataFrame, d_min: int = 10) -> DataFrame:
    """One row (n_tail, alpha) — Hill maximum-likelihood estimate of the
    power-law exponent of the total-degree tail:
        alpha = 1 + n / Σ_{deg_i >= d_min} ln(deg_i / d_min)
    (Clauset-Shalizi-Newman eq. 3.1 with fixed d_min). Web link graphs
    are the canonical power-law subject, so this is the one-number
    "is the degree distribution still heavy-tailed?" monitor a crawl
    pipeline tracks per snapshot. One degree agg + one map-side-
    combinable sum; alpha = 0.0 when the tail is empty or degenerate
    (all tail degrees exactly d_min)."""
    deg = total_degree_counts(edges).where(F.col("deg") >= d_min)
    agg = deg.agg(
        F.count("*").alias("n_tail"),
        F.sum(F.log(F.col("deg") / F.lit(float(d_min)))).alias("logsum"))
    return agg.select(
        "n_tail",
        F.when((F.col("n_tail") > 0) & (F.col("logsum") > 0),
               F.round(1.0 + F.col("n_tail") / F.col("logsum"), 8))
        .otherwise(F.lit(0.0)).alias("alpha"),
    )


def top_k_by(df: DataFrame, col: str, k: int = 20, tiebreak: str | None = None) -> DataFrame:
    """W2: top-k rows by a score column (orderBy+limit = TakeOrdered, no
    full sort materialization; pandas nlargest analog, pagerank_utils.py:63)."""
    order = [F.col(col).desc()]
    if tiebreak:
        order.append(F.col(tiebreak).asc())
    return df.orderBy(*order).limit(k)


def modularity(edges: DataFrame, labels: DataFrame,
               label_col: str = "label") -> DataFrame:
    """Newman modularity of a vertex labeling over the undirected simple
    graph: Q = Σ_c [ e_c/m − (D_c / 2m)² ] where m = undirected edge
    count, e_c = intra-community edges, D_c = total degree of community c.
    Returns one row (n_edges, n_communities, modularity).

    All counts stay exact integers (decimal for the squared term — same
    int64-overflow reasoning as degree_assortativity: D_c ~ 10⁸ squared
    exceeds 2⁶³); one float expression at the end, rounded to 8. Physical
    shape: one canonical-edge dedup, one degree agg, two broadcast-able
    joins of the label table onto edges, then a single community agg —
    no iteration, no windows, no Python."""
    # one dedup, not two: the canonical dedup subsumes clean_edges'
    # directed dedup (the dcsbm_loglik finding)
    und = (
        edges.select("src", "dst")
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull()
               & (F.col("src") != F.col("dst")))
        .select(F.least("src", "dst").alias("a"),
                F.greatest("src", "dst").alias("b"))
        .dropDuplicates(["a", "b"])
        .persist()
    )
    lab = labels.select(F.col(labels.columns[0]).alias("vid"),
                        F.col(label_col).alias("c")).persist()
    # counted: the label map's checkpoint-carried estimate never
    # auto-broadcasts
    n_lab = lab.count()
    deg = (
        und.select(F.col("a").alias("vid"))
        .unionByName(und.select(F.col("b").alias("vid")))
        .groupBy("vid").agg(F.count("*").alias("deg"))
    )
    d_c = (deg.join(join_side(lab, n_lab), "vid")
           .groupBy("c").agg(F.sum("deg").alias("dc")))
    e_c = (
        und.join(join_side(lab.withColumnRenamed("vid", "a")
                           .withColumnRenamed("c", "ca"), n_lab), "a")
        .join(join_side(lab.withColumnRenamed("vid", "b")
                        .withColumnRenamed("c", "cb"), n_lab), "b")
        .where(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("c")).agg(F.count("*").alias("ec"))
    )
    m_row = und.agg(F.count("*").alias("m"))
    per_c = (d_c.join(e_c, "c", "left")
             .select("c", F.coalesce("ec", F.lit(0)).alias("ec"),
                     F.col("dc").cast("decimal(38,0)").alias("dc")))
    out = (
        per_c.crossJoin(F.broadcast(m_row))
        .agg(
            F.first("m").alias("n_edges"),
            F.count("c").alias("n_communities"),
            F.round(
                F.sum(
                    F.col("ec").cast("double") / F.col("m")
                    - ((F.col("dc") * F.col("dc")).cast("double")
                       / (4.0 * F.col("m") * F.col("m")))
                ), 8,
            ).alias("modularity"),
        )
    )
    # materialize before releasing the caches: the returned lazy plan
    # reads them, and the caller's first action would otherwise re-run
    # the full pipeline against uncached inputs
    out = out.transform(eager_checkpoint)
    und.unpersist()
    lab.unpersist()
    return out


def dcsbm_loglik(edges: DataFrame, labels: DataFrame,
                 label_col: str = "label",
                 round_digits: int = 6) -> DataFrame:
    """Degree-corrected stochastic-block-model log-likelihood of a
    vertex labeling (Karrer & Newman 2011) over the undirected simple
    graph — the information-theoretic community-quality score that,
    unlike modularity, has no resolution limit:

        L = Σ_{r,s} m_rs · ln( m_rs / (κ_r · κ_s) )

    over ORDERED block pairs, with m_rs the edge count between blocks
    (m_rr twice the intra count) and κ_r the block's total degree.
    Computed over unordered pairs: an r<s pair contributes its term
    twice, the diagonal once with m_rr = 2·e_rr. The log is expanded to
    ln(m_rs) − ln(κ_r) − ln(κ_s) so no product ever overflows, and the
    pair terms are FLOOR(t·1e9)-quantized decimal-summed (order-
    independent under any partitioning) before the single final round.

    Returns one row (n_edges, n_blocks, dcsbm_ll). Physical shape: one
    canonical-edge dedup, one degree agg, two broadcast-able label
    joins, then ONE block-pair aggregation — the block-pair table is at
    most |blocks|² rows, never data-sized."""
    # one dedup, not two: the canonical (least, greatest) dedup subsumes
    # clean_edges' directed-pair dedup, so the raw selection goes straight
    # to the canonical form — one |E|-row exchange instead of two
    und = (
        edges.select("src", "dst")
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull()
               & (F.col("src") != F.col("dst")))
        .select(F.least("src", "dst").alias("a"),
                F.greatest("src", "dst").alias("b"))
        .dropDuplicates(["a", "b"])
    )
    lab = labels.select(F.col(labels.columns[0]).alias("vid"),
                        F.col(label_col).alias("c")).persist()
    # join_side: while the label map is broadcast both |E|-row label
    # joins stream the edge table with NO exchange; past the cap they are
    # shuffled-hash joins, never a sort-merge re-sorting the edges twice
    n_lab = lab.count()
    la = join_side(lab.select(F.col("vid").alias("a"), F.col("c").alias("ca")), n_lab)
    lb = join_side(lab.select(F.col("vid").alias("b"), F.col("c").alias("cb")), n_lab)
    pairs = (
        und.join(la, "a")
        .join(lb, "b")
        .groupBy(F.least("ca", "cb").alias("r"),
                 F.greatest("ca", "cb").alias("s"))
        .agg(F.count("*").alias("n"))
        # bounded at |blocks|² rows; materialized once because kappa and
        # the final rollup both read it
        .transform(eager_checkpoint)
    )
    lab.unpersist()
    # kappa from the pair table instead of a |V|-sized degree aggregation:
    # each unordered block pair {r,s} holds n edges, every edge gives one
    # degree to each endpoint's block, so kappa_r = 2*n_rr + sum_{s!=r}
    # n_rs — exact integer arithmetic, and the whole computation is over
    # the bounded pair table (one data-sized exchange removed)
    kappa = (
        pairs.select(F.col("r").alias("c"),
                     F.when(F.col("r") == F.col("s"), 2 * F.col("n"))
                     .otherwise(F.col("n")).alias("k"))
        .unionByName(
            pairs.where(F.col("r") != F.col("s"))
            .select(F.col("s").alias("c"), F.col("n").alias("k")))
        .groupBy("c").agg(F.sum("k").alias("kappa"))
    )
    kr = kappa.select(F.col("c").alias("r"), F.col("kappa").alias("kr"))
    ks = kappa.select(F.col("c").alias("s"), F.col("kappa").alias("ks"))
    # ordered-pair coefficient is 2n in BOTH cases: off-diagonal m_rs=n
    # appears twice (r,s) and (s,r); diagonal m_rr=2n appears once —
    # only the ln argument differs
    m_rs = F.when(F.col("r") == F.col("s"), 2.0 * F.col("n")) \
            .otherwise(F.col("n").cast("double"))
    term = (2.0 * F.col("n")
            * (F.log(m_rs) - F.log(F.col("kr").cast("double"))
               - F.log(F.col("ks").cast("double"))))
    n_blocks = kappa.count()
    out = (
        pairs.join(F.broadcast(kr), "r").join(F.broadcast(ks), "s")
        .agg(
            F.sum("n").alias("n_edges"),
            F.lit(n_blocks).cast("long").alias("n_blocks"),
            F.round(
                F.sum(F.floor(term * F.lit(1e9)).cast("decimal(38,0)"))
                .cast("double") / F.lit(1e9),
                round_digits).alias("dcsbm_ll"),
        )
    )
    out = out.transform(eager_checkpoint)
    return out


def community_conductance(edges: DataFrame, labels: DataFrame,
                          label_col: str = "label",
                          round_digits: int = 8) -> DataFrame:
    """Per-community conductance of a vertex labeling over the undirected
    simple graph: φ(c) = cut(c) / min(vol(c), 2m − vol(c)), where vol(c)
    is the summed degree of c's members, cut(c) the number of undirected
    edges with exactly one endpoint in c, and m the undirected edge
    count. φ = 0 for a community holding the whole volume (denominator
    0). Returns (community, n_members, volume, cut_edges, conductance)
    for every community that owns at least one incident edge.

    Physical shape mirrors ``modularity``: one canonical-edge dedup, one
    degree agg, two label joins onto edges, one community agg, a 1-row
    crossJoin for m — exact integer counters, a single rounded double."""
    # one dedup (canonical subsumes the directed one) + the measured
    # label map on the join_side policy — the modularity pattern
    und = (
        edges.select("src", "dst")
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull()
               & (F.col("src") != F.col("dst")))
        .select(F.least("src", "dst").alias("a"),
                F.greatest("src", "dst").alias("b"))
        .dropDuplicates(["a", "b"])
        .persist()
    )
    lab = labels.select(F.col(labels.columns[0]).alias("vid"),
                        F.col(label_col).alias("c")).persist()
    n_lab = lab.count()
    deg = (
        und.select(F.col("a").alias("vid"))
        .unionByName(und.select(F.col("b").alias("vid")))
        .groupBy("vid").agg(F.count("*").alias("deg"))
    )
    per_c = (deg.join(join_side(lab, n_lab), "vid")
             .groupBy("c").agg(F.count("*").cast("long").alias("n_members"),
                               F.sum("deg").cast("long").alias("volume")))
    sided = (
        und.join(join_side(lab.withColumnRenamed("vid", "a")
                           .withColumnRenamed("c", "ca"), n_lab), "a")
        .join(join_side(lab.withColumnRenamed("vid", "b")
                        .withColumnRenamed("c", "cb"), n_lab), "b")
        .where(F.col("ca") != F.col("cb"))
    )
    cut = (sided.select(F.col("ca").alias("c"))
           .unionByName(sided.select(F.col("cb").alias("c")))
           .groupBy("c").agg(F.count("*").cast("long").alias("cut_edges")))
    m_row = und.agg(F.count("*").alias("m"))
    out = (
        per_c.join(cut, "c", "left")
        .crossJoin(F.broadcast(m_row))
        .select(
            F.col("c").alias("community"), "n_members", "volume",
            F.coalesce("cut_edges", F.lit(0).cast("long")).alias("cut_edges"),
            F.when(
                F.least(F.col("volume"), 2 * F.col("m") - F.col("volume")) > 0,
                F.round(
                    F.coalesce("cut_edges", F.lit(0)).cast("double")
                    / F.least(F.col("volume"),
                              2 * F.col("m") - F.col("volume")),
                    round_digits),
            ).otherwise(0.0).alias("conductance"),
        )
    )
    # materialize before releasing the caches: the returned lazy plan
    # reads them, and the caller's first action would otherwise re-run
    # the full pipeline against uncached inputs
    out = out.transform(eager_checkpoint)
    und.unpersist()
    lab.unpersist()
    return out


def exact_quantiles(df: DataFrame, value_col: str,
                    qs: tuple[float, ...] = (0.25, 0.5, 0.75, 0.9, 0.99),
                    num_ranges: int | None = None) -> DataFrame:
    """EXACT distributed quantiles (percentile_disc semantics: the value
    at 1-indexed sorted position ceil(q*n)) — (q, value), one row per q.

    ``approx_percentile`` is the built-in at scale, but its answer is
    sketch-dependent and can't be oracle-checked; this is the exact
    companion, built the same way as the dense-rank ID assigner
    (extraction.py:95-121): NO global single-partition window.

      1. value -> count (one partial-aggregatable shuffle; duplicates
         collapse, so the sorted stream is over DISTINCT values),
      2. range-repartition by value; per-partition cumulative counts
         (window keyed by spark_partition_id — each group IS one range
         partition, bounded),
      3. tiny per-partition totals -> cumulative offsets, broadcast back,
      4. each target rank k = ceil(q*n) selects the unique value whose
         global cumulative window [cum-cnt+1, cum] contains k — a
         broadcast join against len(qs) rows.

    The selected values are picked, never recomputed, so the output is
    bit-identical in any engine; q is a literal."""
    from pyspark.sql import Window

    vals = df.select(F.col(value_col).alias("v")).where(F.col("v").isNotNull())
    counts = vals.groupBy("v").agg(F.count("*").alias("cnt"))
    if num_ranges is None:
        num_ranges = max(32, vals.rdd.getNumPartitions())
    parts = counts.repartitionByRange(num_ranges, "v").withColumn(
        "_pid", F.spark_partition_id())
    local = parts.withColumn(
        "_cum_local",
        F.sum("cnt").over(
            Window.partitionBy("_pid").orderBy("v")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    totals = local.groupBy("_pid").agg(F.sum("cnt").alias("_cnt"))
    w = (Window.partitionBy(F.lit(0)).orderBy("_pid")
         .rowsBetween(Window.unboundedPreceding, -1))
    offsets = totals.withColumn(
        "_off", F.coalesce(F.sum("_cnt").over(w), F.lit(0)))
    cum = (
        local.join(F.broadcast(offsets.select("_pid", "_off")), "_pid")
        .select("v", "cnt", (F.col("_off") + F.col("_cum_local")).alias("cum"))
    )
    n = vals.count()  # one scalar setup action (like the 2m of modularity)
    spark = df.sparkSession
    targets = spark.createDataFrame(
        [(float(q), int(math.ceil(q * n))) for q in qs], "q double, k long")
    return (
        cum.join(F.broadcast(targets),
                 (F.col("cum") - F.col("cnt") < F.col("k"))
                 & (F.col("k") <= F.col("cum")))
        .select("q", F.col("v").alias("value"))
    )


def hub_removal_robustness(edges: DataFrame, k: int = 10) -> DataFrame:
    """Attack-tolerance probe (Albert-Jeong-Barabási): size of the
    largest connected component before and after deleting the ``k``
    highest-total-degree vertices (vid tiebreak — deterministic).
    Returns ONE row (n_vertices, k_removed, lcc_before, lcc_after,
    lcc_drop_frac). Scale-free webgraphs collapse under hub removal
    while random graphs shrug it off — the standard structural-health
    check before trusting centrality-based curation.

    Shape: one degree agg, a TakeOrderedAndProject top-k (broadcast to
    the anti joins), and two runs of the engine's hash-min CC — nothing
    new to scale, everything reuses audited supersteps."""
    from credigraph_spark.graph.adjacency import clean_edges
    from credigraph_spark.graph.components import connected_components

    e = clean_edges(edges).persist()
    deg = (e.select(F.col("src").alias("vid"))
           .unionByName(e.select(F.col("dst").alias("vid")))
           .groupBy("vid").agg(F.count("*").alias("deg")))
    hubs = deg.orderBy(F.desc("deg"), "vid").limit(k).select("vid")

    def _lcc(ed):
        labels, _ = connected_components(ed)
        return (labels.groupBy("component").agg(F.count("*").alias("sz"))
                .agg(F.max("sz").alias("lcc")))

    before = _lcc(e)
    after_edges = (
        e.join(hubs.withColumnRenamed("vid", "src"), "src", "left_anti")
        .join(hubs.withColumnRenamed("vid", "dst"), "dst", "left_anti"))
    after = _lcc(after_edges)
    n_verts = deg.agg(F.count("*").alias("n_vertices"))
    return (
        n_verts.crossJoin(before.withColumnRenamed("lcc", "lcc_before"))
        .crossJoin(after.withColumnRenamed("lcc", "lcc_after"))
        .select(
            "n_vertices", F.lit(int(k)).cast("long").alias("k_removed"),
            "lcc_before", "lcc_after",
            F.round((F.col("lcc_before") - F.col("lcc_after"))
                    / F.col("lcc_before"), 8).alias("lcc_drop_frac"))
    )


def association_rules(baskets: DataFrame, basket_col: str, item_col: str,
                      min_pair_count: int = 3, top_k: int = 100,
                      round_digits: int = 8) -> DataFrame:
    """Market-basket association rules over (basket, item) rows: for
    every unordered item pair co-occurring in >= ``min_pair_count``
    baskets, support, both conditional confidences and lift —
    the Agrawal-Srikant frequent-pair layer (the k=2 case that carries
    nearly all the signal in recommendation screens), top_k by
    (rounded lift desc, item_a, item_b) for a deterministic surface.

    Scale shape: baskets dedup to DISTINCT (basket, item) first
    (partial-agg); the pair join is WITHIN basket only, so its blowup is
    bounded by the largest basket (quadratic in basket size, not corpus
    size — at web scale a per-item min-frequency prefilter or a
    basket-size cap bounds it, the same discipline as the LSH hot-bucket
    cap); item/basket totals are two partial-agg counts, the basket
    total cross-joins as ONE row. Integer counts end-to-end; support/
    confidence/lift are single rounded divisions."""
    b = (baskets.select(F.col(basket_col).alias("bid"),
                        F.col(item_col).alias("item"))
         .where(F.col("bid").isNotNull() & F.col("item").isNotNull())
         .distinct())
    nb = b.select("bid").distinct().agg(F.count("*").alias("n_baskets"))
    item_n = b.groupBy("item").agg(F.count("*").alias("n_item"))
    p1 = b.select("bid", F.col("item").alias("item_a"))
    p2 = b.select("bid", F.col("item").alias("item_b"))
    pairs = (p1.join(p2, "bid")
             .where(F.col("item_a") < F.col("item_b"))
             .groupBy("item_a", "item_b")
             .agg(F.count("*").alias("n_ab"))
             .where(F.col("n_ab") >= min_pair_count))
    out = (pairs
           .join(item_n.select(F.col("item").alias("item_a"),
                               F.col("n_item").alias("n_a")), "item_a")
           .join(item_n.select(F.col("item").alias("item_b"),
                               F.col("n_item").alias("n_b")), "item_b")
           .crossJoin(nb)
           .select(
               "item_a", "item_b", "n_a", "n_b", "n_ab",
               F.round(F.col("n_ab") / F.col("n_baskets"),
                       round_digits).alias("support"),
               F.round(F.col("n_ab") / F.col("n_a"),
                       round_digits).alias("conf_a_b"),
               F.round(F.col("n_ab") / F.col("n_b"),
                       round_digits).alias("conf_b_a"),
               F.round(F.col("n_baskets") * F.col("n_ab")
                       / (F.col("n_a") * F.col("n_b")),
                       round_digits).alias("lift")))
    return (out.orderBy(F.col("lift").desc(), "item_a", "item_b")
            .limit(top_k))


def rank_concentration(scores: DataFrame, id_col: str = "vid",
                       score_col: str = "rank", num_ranges: int | None = None,
                       round_digits: int = 8) -> DataFrame:
    """Inequality profile of a score distribution (PageRank mass, degree
    mass, …): one row (n_vertices, total_mass, gini, top1pct_mass,
    top10pct_mass). Gini = 2·Σi·x_i/(n·Σx) − (n+1)/n over scores sorted
    ascending — tie order is irrelevant to the sum (equal x under any
    permutation of tied indices give the same Σi·x), so the (score, id)
    tiebreak is for determinism only. The standard "is the web graph's
    authority concentrated" diagnostic.

    Scale shape: the global ascending index uses the extraction layer's
    O3 construction — repartitionByRange + per-partition local
    row_number + broadcast cumulative offsets — NEVER a single-partition
    global window; everything after is two partial-agg passes (one for
    n, one conditional-sum pass cross-joined with the 1-row n).

    Scores are rounded to ``round_digits`` BEFORE ordering so the sort
    key is cross-engine stable (the ann ranking precedent)."""
    from pyspark.sql import Window

    s = scores.select(F.col(id_col).alias("vid"),
                      F.round(F.col(score_col), round_digits).alias("x"))
    if num_ranges is None:
        num_ranges = max(32, s.rdd.getNumPartitions())
    parts = (s.repartitionByRange(num_ranges, "x", "vid")
             .withColumn("_pid", F.spark_partition_id()))
    local = parts.withColumn(
        "_rank",
        F.row_number().over(Window.partitionBy("_pid").orderBy("x", "vid")))
    counts = local.groupBy("_pid").agg(F.count("*").alias("_cnt"))
    w = (Window.partitionBy(F.lit(0)).orderBy("_pid")
         .rowsBetween(Window.unboundedPreceding, -1))
    offsets = counts.withColumn(
        "_off", F.coalesce(F.sum("_cnt").over(w), F.lit(0)))
    idx = (local.join(F.broadcast(offsets.select("_pid", "_off")), "_pid")
           .select("x", (F.col("_off") + F.col("_rank"))
                   .cast("long").alias("i")))   # 1-based ascending
    n = idx.agg(F.count("*").alias("n"))
    agg = (idx.crossJoin(n).agg(
        F.first("n").alias("n"),
        F.sum("x").alias("s"),
        F.sum(F.col("i") * F.col("x")).alias("t"),
        F.sum(F.when(F.col("i") > F.col("n")
                     - F.expr("(n + 99) div 100"), F.col("x"))
              .otherwise(0.0)).alias("m1"),
        F.sum(F.when(F.col("i") > F.col("n")
                     - F.expr("(n + 9) div 10"), F.col("x"))
              .otherwise(0.0)).alias("m10")))
    return agg.select(
        F.col("n").alias("n_vertices"),
        F.round("s", round_digits).alias("total_mass"),
        F.round(F.lit(2.0) * F.col("t") / (F.col("n") * F.col("s"))
                - (F.col("n") + F.lit(1.0)) / F.col("n"),
                round_digits).alias("gini"),
        F.round(F.col("m1") / F.col("s"), round_digits).alias("top1pct_mass"),
        F.round(F.col("m10") / F.col("s"), round_digits)
        .alias("top10pct_mass"))


def _global_ascending_ranks(df: DataFrame, value_col: str, id_col: str,
                            rank_name: str,
                            num_ranges: int | None = None) -> DataFrame:
    """(id_col, rank_name): 1-based global rank of every row under the
    (value asc, id asc) total order — the extraction layer's O3
    construction (repartitionByRange + per-partition row_number +
    broadcast cumulative offsets), NEVER a single-partition window.
    Callers pass a cross-engine-stable value (integer or pre-rounded)."""
    from pyspark.sql import Window

    if num_ranges is None:
        num_ranges = max(32, df.rdd.getNumPartitions())
    parts = (df.select(F.col(value_col).alias("_v"),
                       F.col(id_col).alias(id_col))
             .repartitionByRange(num_ranges, "_v", id_col)
             .withColumn("_pid", F.spark_partition_id()))
    local = parts.withColumn(
        "_rank",
        F.row_number().over(
            Window.partitionBy("_pid").orderBy("_v", id_col)))
    counts = local.groupBy("_pid").agg(F.count("*").alias("_cnt"))
    w = (Window.partitionBy(F.lit(0)).orderBy("_pid")
         .rowsBetween(Window.unboundedPreceding, -1))
    offsets = counts.withColumn(
        "_off", F.coalesce(F.sum("_cnt").over(w), F.lit(0)))
    return (local.join(F.broadcast(offsets.select("_pid", "_off")), "_pid")
            .select(id_col, (F.col("_off") + F.col("_rank"))
                    .cast("long").alias(rank_name)))


def rfm_segments(orders: DataFrame, customer_col: str = "o_custkey",
                 date_col: str = "o_orderdate",
                 amount_col: str = "o_totalprice", n_bins: int = 4,
                 round_digits: int = 2) -> DataFrame:
    """Recency-Frequency-Monetary customer segmentation — the classic
    behavioral rollup (Hughes 1994) a serving layer builds training
    cohorts from: per customer, days since last order (vs the corpus
    max date), order count, and total spend, each scored 1..n_bins by
    EQUAL-SIZE rank quantile (ntile semantics made deterministic by the
    (metric, customer) total order). Higher score = better: recency is
    ranked descending-age (most recent gets n_bins), frequency and
    monetary ascending.

    Scale shape: one partial-aggregatable rollup, then three O3
    range-partition rankings (O(n_cust) each, no global window);
    monetary is rounded BEFORE ranking so an order-dependent double sum
    can never flip a rank (the rounded-key precedent). The corpus max
    date is the one scalar setup action (the 2m-of-modularity shape).

    Output: (customer, recency_days, frequency, monetary, r_score,
    f_score, m_score, segment)."""
    base = orders.select(
        F.col(customer_col).alias("customer"),
        F.col(date_col).cast("date").alias("_d"),
        F.col(amount_col).cast("double").alias("_a"))
    max_date = base.agg(F.max("_d")).collect()[0][0]
    per = base.groupBy("customer").agg(
        F.datediff(F.lit(max_date), F.max("_d")).cast("int")
        .alias("recency_days"),
        F.count("*").alias("frequency"),
        F.round(F.sum("_a"), round_digits).alias("monetary"))
    # eager localCheckpoint: the rollup feeds FOUR subplans (3 rankings
    # + the final join) — materialize once, never recompute (and no
    # dangling persist to leak)
    per = per.transform(eager_checkpoint)
    n = per.count()

    def score(rank_col, reverse=False):
        # equal-size bins: 1 + floor(n_bins * (rank-1) / n)
        b = (F.lit(1)
             + F.floor(F.lit(n_bins) * (F.col(rank_col) - 1) / F.lit(n)))
        return (F.lit(n_bins + 1) - b if reverse else b).cast("int")

    r = _global_ascending_ranks(per, "recency_days", "customer", "_rr")
    f = _global_ascending_ranks(per, "frequency", "customer", "_fr")
    m = _global_ascending_ranks(per, "monetary", "customer", "_mr")
    out = (per.join(r, "customer").join(f, "customer").join(m, "customer")
           .select(
               "customer", "recency_days", "frequency", "monetary",
               score("_rr", reverse=True).alias("r_score"),
               score("_fr").alias("f_score"),
               score("_mr").alias("m_score"))
           .withColumn("segment",
                       F.concat_ws("", "r_score", "f_score", "m_score")))
    return out


def joint_degree_matrix(edges: DataFrame) -> DataFrame:
    """(src_bucket, dst_bucket, n_edges) — log2-bucketed joint degree
    matrix of the directed simple graph: how many edges run from
    out-degree-bucket i sources to in-degree-bucket j targets. The
    two-dimensional refinement of scalar assortativity (which only
    reports the correlation this matrix induces); hub→hub vs hub→leaf
    structure reads directly off it.

    Shape: two degree aggs + two broadcast-size-agnostic equi-joins
    back to the edge stream + one partial-agg rollup over at most
    (log2 max_deg)² cells — every stage map-side combinable."""
    from credigraph_spark.graph.adjacency import clean_edges

    e = clean_edges(edges)
    od = e.groupBy(F.col("src").alias("vid")).agg(
        F.count("*").alias("od"))
    idg = e.groupBy(F.col("dst").alias("vid")).agg(
        F.count("*").alias("id"))
    return (e.join(od.select(F.col("vid").alias("src"),
                             F.floor(F.log2("od")).cast("int")
                             .alias("src_bucket")), "src")
            .join(idg.select(F.col("vid").alias("dst"),
                             F.floor(F.log2("id")).cast("int")
                             .alias("dst_bucket")), "dst")
            .groupBy("src_bucket", "dst_bucket")
            .agg(F.count("*").alias("n_edges")))


def rank_biased_overlap(left: DataFrame, right: DataFrame,
                        id_col: str = "vid", score_col: str = "score",
                        k: int = 100, p: float = 0.9,
                        round_digits: int = 6) -> DataFrame:
    """One row (depth, overlap_at_k, rbo_min) comparing two rankings —
    Webber-Moffat-Zobel rank-biased overlap truncated at depth ``k``:
    RBO_min = (1−p)/p · Σ_{d=1..k} p^d · |L_d ∩ R_d| / d, the
    top-weighted agreement between e.g. PageRank and in-degree (is the
    expensive ranking buying anything over the cheap one?), two ANN
    indexes, or this week's and last week's authority ranking.

    Both sides are cut to their top-k under the (ROUNDED score desc,
    id) total order — TakeOrderedAndProject, never a global window; the
    prefix-intersection profile |L_d ∩ R_d| comes from ONE join of the
    two bounded rank tables (an id in both lists enters every depth
    d ≥ max(rank_l, rank_r): one partial-agg count at max(), one
    bounded cumulative window), never k set intersections."""
    from pyspark.sql import Window

    def ranked(df, name):
        w = Window.partitionBy(F.lit(0)).orderBy(
            F.desc("key"), id_col)
        top = (df.select(F.col(id_col),
                         F.round(F.col(score_col), round_digits)
                         .alias("key"))
               .orderBy(F.desc("key"), id_col).limit(k))
        # bounded input: <= k rows reach this window
        return top.withColumn(name, F.row_number().over(w))

    both = (ranked(left, "rl")
            .join(ranked(right, "rr"), id_col)
            .select(F.greatest("rl", "rr").alias("d")))
    prof = both.groupBy("d").agg(F.count("*").alias("enter"))
    wcum = (Window.partitionBy(F.lit(0)).orderBy("d")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    depths = left.sparkSession.range(1, k + 1).select(
        F.col("id").cast("int").alias("d"))
    curve = (depths.join(prof, "d", "left")
             .withColumn("x", F.sum(F.coalesce("enter", F.lit(0)))
                         .over(wcum)))
    agg = curve.agg(
        F.max(F.when(F.col("d") == k, F.col("x"))).alias("xk"),
        F.sum(F.pow(F.lit(p), F.col("d")) * F.col("x") / F.col("d"))
        .alias("s"))
    return agg.select(
        F.lit(k).alias("depth"),
        F.round(F.col("xk") / F.lit(float(k)), round_digits)
        .alias("overlap_at_k"),
        F.round(F.lit((1 - p) / p) * F.col("s"), round_digits)
        .alias("rbo_min"))


def preferential_attachment(edges_early: DataFrame,
                            edges_late: DataFrame,
                            round_digits: int = 6) -> DataFrame:
    """One row (n_degrees, pa_exponent, ln_k, r2) — Barabási's
    attachment-kernel test: do new edges attach to existing vertices in
    proportion to degree^alpha? Vertices are grouped by their TOTAL
    degree d in the early slice; for each degree class, the mean number
    of late-slice arrivals (edges whose endpoint is that vertex) is
    regressed ln(mean_arrivals) on ln(d). alpha ~ 1 is linear
    preferential attachment (the scale-free regime); alpha ~ 0 is
    uniform attachment. The temporal sibling of degree_tail_alpha:
    the tail says what the graph IS, this says how it GROWS.

    Shape: two degree rollups + one join + a per-degree-class partial
    agg (bounded by the number of DISTINCT degrees, << |V|), then the
    closed-form least squares (the zipf/heaps regression). Mean
    arrivals per class is an exact integer ratio computed in doubles
    only at the fit."""
    deg = (edges_early.select(F.explode(F.array("src", "dst"))
                              .alias("vid"))
           .groupBy("vid").agg(F.count("*").alias("d")))
    arr = (edges_late.select(F.explode(F.array("src", "dst"))
                             .alias("vid"))
           .groupBy("vid").agg(F.count("*").alias("arrivals")))
    per_class = (deg.join(arr, "vid", "left")
                 .groupBy("d")
                 .agg(F.sum(F.coalesce("arrivals", F.lit(0)))
                      .alias("tot"),
                      F.count("*").alias("nv"))
                 .where(F.col("tot") > 0))
    xy = per_class.select(
        F.log(F.col("d").cast("double")).alias("x"),
        F.log(F.col("tot").cast("double") / F.col("nv")).alias("y"))
    fit = xy.agg(
        F.count("*").alias("n_degrees"), F.sum("x").alias("sx"),
        F.sum("y").alias("sy"), F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"))
    n = F.col("n_degrees").cast("double")
    cov = F.col("sxy") - F.col("sx") * F.col("sy") / n
    varx = F.col("sxx") - F.col("sx") * F.col("sx") / n
    vary = F.col("syy") - F.col("sy") * F.col("sy") / n
    slope = cov / varx
    return fit.select(
        "n_degrees",
        F.round(slope, round_digits).alias("pa_exponent"),
        F.round((F.col("sy") - slope * F.col("sx")) / n,
                round_digits).alias("ln_k"),
        F.round(cov * cov / (varx * vary), round_digits).alias("r2"))


def contract_graph(edges: DataFrame, labels: DataFrame,
                   label_col: str = "label") -> DataFrame:
    """(src_comm, dst_comm, n_edges) — the super-graph induced by any
    vertex labeling (LPA, Louvain, CC, hash buckets): every cleaned
    directed edge rolls up to its endpoint communities, intra-community
    rows included (src_comm == dst_comm carries the internal edge
    count). The standard coarse-grained view a 100 TB graph is
    actually LOOKED at through, and the general form of Louvain's
    internal contraction step exposed as an operator.

    Two id-keyed joins + one partial-agg rollup bounded by
    (communities)² — in practice the super-graph is orders of magnitude
    smaller than the input and usually broadcastable downstream."""
    from credigraph_spark.graph.adjacency import clean_edges

    lab = labels.select(F.col(labels.columns[0]).alias("vid"),
                        F.col(label_col).alias("c"))
    e = clean_edges(edges)
    return (e.join(lab.select(F.col("vid").alias("src"),
                              F.col("c").alias("src_comm")), "src")
            .join(lab.select(F.col("vid").alias("dst"),
                             F.col("c").alias("dst_comm")), "dst")
            .groupBy("src_comm", "dst_comm")
            .agg(F.count("*").alias("n_edges")))


def signal_smoothness(edges: DataFrame, scores: DataFrame,
                      id_col: str = "vid", score_col: str = "score",
                      round_digits: int = 8) -> DataFrame:
    """One row (n_edges_scored, dirichlet, norm_sq, smoothness) — the
    graph-Laplacian quadratic form of a vertex signal: dirichlet =
    Σ_{(u,v)∈E_und} (x_u − x_v)² over the canonical undirected simple
    graph, normalized by norm_sq = Σ_v d_v·x_v² (so smoothness =
    dirichlet/norm_sq = the signal's Rayleigh quotient in [0, 2]).
    Near 0: the signal respects the graph (what label spreading should
    produce); near 2: it oscillates across edges. The one-number sanity
    check before trusting any diffused score column.

    One score join per endpoint over the canonical pair set + one
    partial agg; edges with an unscored endpoint are dropped (and
    counted via n_edges_scored so silent coverage loss is visible)."""
    sc = scores.select(F.col(id_col).alias("vid"),
                       F.col(score_col).cast("double").alias("x"))
    cnd = (edges.select("src", "dst")
           .where(F.col("src").isNotNull() & F.col("dst").isNotNull()
                  & (F.col("src") != F.col("dst")))
           .select(F.least("src", "dst").alias("a"),
                   F.greatest("src", "dst").alias("b"))
           .dropDuplicates(["a", "b"]))
    pair = (cnd.join(sc.select(F.col("vid").alias("a"),
                               F.col("x").alias("xa")), "a")
            .join(sc.select(F.col("vid").alias("b"),
                            F.col("x").alias("xb")), "b"))
    deg = (cnd.select(F.explode(F.array("a", "b")).alias("vid"))
           .groupBy("vid").agg(F.count("*").alias("d")))
    nrm = (deg.join(sc, "vid")
           .agg(F.sum(F.col("d") * F.col("x") * F.col("x"))
                .alias("norm_sq")))
    dir_row = pair.agg(
        F.count("*").alias("n_edges_scored"),
        F.sum((F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb")))
        .alias("dirichlet"))
    return (dir_row.crossJoin(nrm)
            .select("n_edges_scored",
                    F.round("dirichlet", round_digits).alias("dirichlet"),
                    F.round("norm_sq", round_digits).alias("norm_sq"),
                    F.when(F.col("norm_sq") > 0,
                           F.round(F.col("dirichlet") / F.col("norm_sq"),
                                   round_digits))
                    .otherwise(F.lit(0.0)).alias("smoothness")))


def robust_scale(df: DataFrame, id_col: str, value_col: str,
                 round_digits: int = 9) -> DataFrame:
    """(id, value, robust) — median/MAD robust scaling: robust =
    (x − median) / MAD with MAD = median(|x − median|), both medians
    EXACT (percentile_disc semantics via exact_quantiles — the
    sketch-free companion to approx_percentile, so the output is
    oracle-checkable bit-for-bit). The outlier-proof standardization
    (z-scores break under the heavy tails every web corpus has);
    rank_normalize is the distribution-free sibling, this one keeps
    the SHAPE. Degenerate MAD = 0 (over half the values identical)
    emits 0.0 instead of ±inf.

    Two exact-quantile passes (each one counting shuffle + a bounded
    range-partition scan) + one broadcast join of two scalars."""
    med = (exact_quantiles(df, value_col, qs=(0.5,))
           .collect()[0]["value"])
    dev = df.select(
        F.abs(F.col(value_col).cast("double")
              - F.lit(float(med))).alias("_d"))
    mad = exact_quantiles(dev, "_d", qs=(0.5,)).collect()[0]["value"]
    x = F.col(value_col).cast("double")
    if mad and float(mad) > 0:
        robust = F.round((x - F.lit(float(med))) / F.lit(float(mad)),
                         round_digits)
    else:
        robust = F.lit(0.0)
    return df.select(F.col(id_col), F.col(value_col).alias("value"),
                     robust.alias("robust"))


def weighted_assortativity(edges: DataFrame, weight_col: str = "w",
                           round_digits: int = 6) -> DataFrame:
    """One row (n_edges, total_weight, r) — weight-weighted strength
    assortativity (Leung & Chau 2007's weighted Newman r): Pearson
    correlation of endpoint STRENGTHS over the mirrored undirected
    weight-summed edge set, each orientation weighted by its edge
    weight. The weighted sibling of the exact-decimal degree
    assortativity: do heavy edges run hub-to-hub or hub-to-leaf?

    Strengths are ROUNDED (8dp) before the moment sums so an
    order-dependent strength sum can never flip the correlate (the
    rounded-key discipline); the final r is one rounded expression."""
    e = (edges.select("src", "dst",
                      F.col(weight_col).cast("double").alias("w"))
         .where(F.col("src").isNotNull() & F.col("dst").isNotNull()
                & (F.col("src") != F.col("dst")))
         .select(F.least("src", "dst").alias("a"),
                 F.greatest("src", "dst").alias("b"), "w")
         .groupBy("a", "b").agg(F.sum("w").alias("w")))
    strength = (e.select(F.col("a").alias("vid"), "w")
                .unionByName(e.select(F.col("b").alias("vid"), "w"))
                .groupBy("vid")
                .agg(F.round(F.sum("w"), 8).alias("s")))
    mirrored = (e.unionByName(e.select(F.col("b").alias("a"),
                                       F.col("a").alias("b"), "w"))
                .join(strength.select(F.col("vid").alias("a"),
                                      F.col("s").alias("sx")), "a")
                .join(strength.select(F.col("vid").alias("b"),
                                      F.col("s").alias("sy")), "b"))
    agg = mirrored.agg(
        F.count("*").alias("n2"),
        F.sum("w").alias("tw2"),
        F.sum(F.col("w") * F.col("sx")).alias("wx"),
        F.sum(F.col("w") * F.col("sy")).alias("wy"),
        F.sum(F.col("w") * F.col("sx") * F.col("sy")).alias("wxy"),
        F.sum(F.col("w") * F.col("sx") * F.col("sx")).alias("wxx"),
        F.sum(F.col("w") * F.col("sy") * F.col("sy")).alias("wyy"))
    W = F.col("tw2")
    cov = F.col("wxy") / W - (F.col("wx") / W) * (F.col("wy") / W)
    vx = F.col("wxx") / W - (F.col("wx") / W) * (F.col("wx") / W)
    vy = F.col("wyy") / W - (F.col("wy") / W) * (F.col("wy") / W)
    return agg.select(
        (F.col("n2") / 2).cast("long").alias("n_edges"),
        F.round(W / 2, round_digits).alias("total_weight"),
        F.when((vx > 0) & (vy > 0),
               F.round(cov / (F.sqrt(vx) * F.sqrt(vy)), round_digits))
        .otherwise(F.lit(0.0)).alias("r"))


def percolation_curve(edges: DataFrame,
                      keep_fracs: tuple[float, ...] = (0.3, 0.6, 0.9),
                      seed: int = 7) -> DataFrame:
    """(keep_frac, n_edges_kept, lcc_size, lcc_frac) — bond-percolation
    robustness: for each keep fraction p, retain edges whose md5
    fraction < p (deterministic uniform coin, nested samples: the p=0.3
    set ⊂ the p=0.9 set) and measure the largest connected component
    against the ORIGINAL vertex count. Hub-removal robustness (X95) is
    the targeted-attack curve; this is the random-failure curve — a
    giant component that survives attack but shatters under random loss
    (or vice versa) is the classic Albert-Jeong-Barabási signature.

    One CC run per threshold (the engine's hash-min CC), each over a
    strictly smaller edge set; the coin is computed once."""
    from credigraph_spark.graph.adjacency import clean_edges
    from credigraph_spark.graph.components import connected_components

    e = clean_edges(edges)
    frac = (F.conv(F.substring(
        F.md5(F.concat_ws("|", F.lit(str(seed)),
                          F.col("src").cast("string"),
                          F.col("dst").cast("string"))),
        1, 15), 16, 10).cast("double") / F.lit(float(16 ** 15)))
    coined = e.select("src", "dst", frac.alias("_f")) \
        .transform(eager_checkpoint)
    n_verts = (e.select(F.explode(F.array("src", "dst")).alias("vid"))
               .distinct().count())
    rows = []
    for p in keep_fracs:
        kept = coined.where(F.col("_f") < F.lit(float(p))) \
            .select("src", "dst")
        n_kept = kept.count()
        if n_kept == 0:
            rows.append((float(p), 0, 0, 0.0))
            continue
        labels, _ = connected_components(kept)
        lcc = (labels.groupBy("component").agg(F.count("*").alias("sz"))
               .agg(F.max("sz")).collect()[0][0])
        rows.append((float(p), int(n_kept), int(lcc),
                     round(lcc / n_verts, 6)))
    return edges.sparkSession.createDataFrame(
        rows, "keep_frac DOUBLE, n_edges_kept LONG, lcc_size LONG, "
              "lcc_frac DOUBLE")


def skew_report(df: DataFrame, key_col: str,
                round_digits: int = 6) -> DataFrame:
    """Partition-skew diagnostics for a join/agg key — the report you
    run BEFORE sizing shuffle partitions or deciding to salt a key at
    100 TB: per-key count distribution (disc quantiles, max, hottest
    key + its row share) and the exact Gini coefficient of the key
    frequency distribution (0 = uniform, ->1 = one hot key owns the
    table).

    Scale shape: ONE map-side-combinable groupBy(key) count, then a
    second groupBy over the per-key COUNTS — the count-of-counts
    histogram, whose size is bounded by the number of DISTINCT
    frequencies (heavy-tailed data: hundreds of rows even at 10^12
    keys) — so the quantile/Gini windows run over a tiny table, never
    the data. All arithmetic on the histogram is integer until the two
    final divisions (hash-stable at ``round_digits``).

    Gini with ties: blocks of equal count get consecutive ranks; the
    rank-sum of a block is nk*cum_before + nk*(nk+1)/2 regardless of
    order within the block, so  G = 2*sum(cnt*ranksum)/(n_keys*n_rows)
    - (n_keys+1)/n_keys  is exact."""
    from pyspark.sql import Window

    # per_key feeds the histogram chain AND the hottest-key pick; the
    # histogram feeds the Gini agg and THREE quantile collects — without
    # materialization each of those five actions re-ran the full
    # data-sized groupBy (measured 3.0 -> 1.2 s on the bench edge table)
    per_key = (df.groupBy(F.col(key_col).alias("k"))
               .agg(F.count("*").alias("cnt"))
               .transform(eager_checkpoint))
    hist = (per_key.groupBy("cnt").agg(F.count("*").alias("nk"))
            .withColumn("_one", F.lit(0)))
    w = (Window.partitionBy("_one").orderBy("cnt")
         .rowsBetween(Window.unboundedPreceding, -1))
    h = (hist
         .withColumn("cum_before", F.coalesce(F.sum("nk").over(w), F.lit(0)))
         .withColumn("rank_sum",
                     F.col("nk") * F.col("cum_before")
                     + F.col("nk") * (F.col("nk") + 1) / 2)
         .transform(eager_checkpoint))
    top = (per_key.orderBy(F.desc("cnt"), F.asc("k")).limit(1)
           .select(F.col("k").cast("string").alias("top_key"),
                   F.col("cnt").alias("top_cnt")))
    agg = h.agg(
        F.sum(F.col("cnt") * F.col("nk")).cast("long").alias("n_rows"),
        F.sum("nk").cast("long").alias("n_keys"),
        F.max("cnt").cast("long").alias("max_cnt"),
        F.sum(F.col("cnt") * F.col("rank_sum")).alias("g_num"))

    def _q(p):
        # disc quantile: smallest cnt whose cumulative key count
        # reaches ceil(p * n_keys)
        qq = (h.crossJoin(F.broadcast(agg.select("n_keys")))
              .where(F.col("cum_before") + F.col("nk")
                     >= F.ceil(F.lit(p) * F.col("n_keys")))
              .agg(F.min("cnt").cast("long").alias(f"_p")))
        return qq

    q50, q90, q99 = (_q(0.5).collect()[0][0], _q(0.9).collect()[0][0],
                     _q(0.99).collect()[0][0])
    return (agg.crossJoin(F.broadcast(top))
            .select(
                "n_rows", "n_keys", "max_cnt",
                F.lit(q50).cast("long").alias("p50_cnt"),
                F.lit(q90).cast("long").alias("p90_cnt"),
                F.lit(q99).cast("long").alias("p99_cnt"),
                F.round(2.0 * F.col("g_num")
                        / (F.col("n_keys") * F.col("n_rows"))
                        - (F.col("n_keys") + 1.0) / F.col("n_keys"),
                        round_digits).alias("gini"),
                "top_key",
                F.round(F.col("top_cnt").cast("double") / F.col("n_rows"),
                        8).alias("top_frac")))


def apportion_budget(weights: DataFrame, budget: int,
                     id_col: str = "vid",
                     weight_col: str = "w") -> DataFrame:
    """Largest-remainder (Hamilton) apportionment of an integer budget
    proportionally to integer weights (X213) — the crawl-ops step that
    turns per-host importance into per-host fetch quotas (the
    reference's domain: deciding how many pages each domain gets in the
    next crawl), and the generic fair-division primitive for sampling
    budgets. base_i = floor(B*w_i/W); the R = B - Σbase leftovers go to
    the R largest remainders (B*w_i mod W), ties to the smaller id —
    all INTEGER arithmetic, so the split replays bit-exactly anywhere
    and Σalloc == B holds exactly.

    Returns (id_col, w, base, extra, alloc).

    Scale shape: one 1-row total broadcast, per-row integer math, and
    the remainder rank built with the O3 distributed construction
    (range-partition by (remainder DESC, id), per-partition row_number,
    broadcast offsets) — NEVER a single-partition global window.
    """
    from pyspark.sql.window import Window as W

    w = weights.select(F.col(id_col), F.col(weight_col).cast("long")
                       .alias("w")).where(F.col("w") > 0)
    tot = w.agg(F.sum("w").cast("long").alias("tot_w"))
    q = (w.crossJoin(F.broadcast(tot))
         .select(id_col, "w",
                 (F.lit(int(budget)) * F.col("w")).alias("_num"),
                 "tot_w")
         .select(id_col, "w",
                 F.floor(F.col("_num") / F.col("tot_w")).cast("long")
                 .alias("base"),
                 F.pmod(F.col("_num"), F.col("tot_w")).cast("long")
                 .alias("_rem")))
    base_sum = q.agg(F.sum("base").cast("long").alias("bs"))

    spark = weights.sparkSession
    num_ranges = max(
        8, int(spark.conf.get("spark.sql.shuffle.partitions")))
    parts = q.repartitionByRange(
        num_ranges, F.desc("_rem"), F.col(id_col)).withColumn(
        "_pid", F.spark_partition_id())
    local = parts.withColumn(
        "_lrk", F.row_number().over(
            W.partitionBy("_pid").orderBy(F.desc("_rem"), F.col(id_col))))
    counts = parts.groupBy("_pid").agg(F.count("*").alias("_cnt"))
    w_off = (W.partitionBy(F.lit(0)).orderBy("_pid")
             .rowsBetween(W.unboundedPreceding, -1))
    offsets = counts.withColumn(
        "_off", F.coalesce(F.sum("_cnt").over(w_off), F.lit(0)))
    ranked = (local.join(F.broadcast(offsets.select("_pid", "_off")),
                         "_pid")
              .withColumn("_rk", F.col("_off") + F.col("_lrk")))
    return (ranked.crossJoin(F.broadcast(base_sum))
            .select(id_col, "w", "base",
                    F.when(F.col("_rk") <= F.lit(int(budget))
                           - F.col("bs"), F.lit(1)).otherwise(F.lit(0))
                    .cast("long").alias("extra"))
            .withColumn("alloc", (F.col("base") + F.col("extra"))
                        .cast("long")))


def psi_drift(ref: DataFrame, cur: DataFrame, value_col: str,
              n_bins: int = 10, eps: float = 1e-6) -> DataFrame:
    """Population Stability Index drift report (X223) — the standard
    ML-monitoring screen for "has this feature's distribution moved
    between two data slices" (PSI < 0.1 stable, 0.1–0.25 drifting,
    > 0.25 shifted). Bin edges are equal-width over the REFERENCE
    slice's [min, max] (values outside clamp to the edge bins, the
    usual production convention); both slices are counted into those
    fixed bins and each bin contributes
    (p_cur − p_ref) · ln(p_cur / p_ref), with ``eps`` flooring empty
    bins.

    Returns one row per bin: (bin, lo, hi, n_ref, n_cur, p_ref, p_cur,
    psi_contrib) — counts exact integers, proportions and contribution
    6dp-rounded fixed-order expressions; total PSI = Σ psi_contrib over
    the ≤ n_bins rows.

    Scale shape: one broadcast 1-row min/max from the reference, one
    conditional-count aggregate per slice (map-side combinable), and a
    ≤ n_bins-row join — no windows, no UDFs, two scans total.
    """
    mm = ref.agg(F.min(value_col).cast("double").alias("mn"),
                 F.max(value_col).cast("double").alias("mx"))

    def binned(df):
        b = F.least(
            F.greatest(
                F.floor((F.col(value_col) - F.col("mn")) * n_bins
                        / (F.col("mx") - F.col("mn"))), F.lit(0)),
            F.lit(n_bins - 1)).cast("long")
        return (df.where(F.col(value_col).isNotNull())
                .crossJoin(F.broadcast(mm))
                .groupBy(b.alias("bin"))
                .agg(F.count("*").cast("long").alias("n")))

    r = binned(ref).withColumnRenamed("n", "n_ref")
    c = binned(cur).withColumnRenamed("n", "n_cur")
    tot_r = r.agg(F.sum("n_ref").cast("long").alias("tr"))
    tot_c = c.agg(F.sum("n_cur").cast("long").alias("tc"))
    spark = ref.sparkSession
    bins = spark.range(0, n_bins).select(F.col("id").alias("bin"))
    j = (bins.join(r, "bin", "left").join(c, "bin", "left")
         .crossJoin(F.broadcast(tot_r)).crossJoin(F.broadcast(tot_c))
         .crossJoin(F.broadcast(mm))
         .select(
             "bin",
             F.round(F.col("mn") + F.col("bin")
                     * (F.col("mx") - F.col("mn")) / n_bins, 6)
             .alias("lo"),
             F.round(F.col("mn") + (F.col("bin") + 1)
                     * (F.col("mx") - F.col("mn")) / n_bins, 6)
             .alias("hi"),
             F.coalesce("n_ref", F.lit(0)).cast("long").alias("n_ref"),
             F.coalesce("n_cur", F.lit(0)).cast("long").alias("n_cur"),
             "tr", "tc"))
    p_ref = F.greatest(F.col("n_ref") / F.col("tr"), F.lit(float(eps)))
    p_cur = F.greatest(F.col("n_cur") / F.col("tc"), F.lit(float(eps)))
    return j.select(
        "bin", "lo", "hi", "n_ref", "n_cur",
        F.round(p_ref, 6).alias("p_ref"),
        F.round(p_cur, 6).alias("p_cur"),
        F.round((p_cur - p_ref) * F.log(p_cur / p_ref), 6)
        .alias("psi_contrib"))


def ipf_rake(df: DataFrame, row_col: str, col_col: str,
             rounds: int = 2) -> DataFrame:
    """Iterative proportional fitting / raking (X226) — Deming-Stephan
    IPF (the Sinkhorn-Knopp matrix-balancing special case): scale the
    (row, col) contingency counts alternately so row sums and column
    sums hit UNIFORM target marginals (total/n_rows, total/n_cols).
    This is the classical way to compute data-mixing weights that
    balance a corpus across two factors at once (e.g. source x lang)
    while staying as close as possible to the observed counts (the IPF
    fixed point is the max-entropy / min-KL fit with those marginals).

    Returns one row per observed cell: (row_col, col_col, n, w_fit)
    with ``w_fit`` the fitted weight after ``rounds`` full row+column
    scaling sweeps, rounded to 8dp.

    Scale shape: ONE map-side-combinable groupBy over the input builds
    the contingency table; every subsequent step runs on that tiny
    (distinct rows x distinct cols) table — window sums partitioned by
    the marginal key, never a driver collect, never a re-scan of the
    input. 2 x rounds window exchanges over <= |rows|*|cols| rows.
    """
    from pyspark.sql.window import Window

    ct = (df.where(F.col(row_col).isNotNull()
                   & F.col(col_col).isNotNull())
          .groupBy(F.col(row_col).alias("r"), F.col(col_col).alias("c"))
          .agg(F.count("*").cast("long").alias("n")))
    tot = ct.agg(
        F.sum("n").cast("double").alias("tot"),
        F.countDistinct("r").cast("double").alias("nr"),
        F.countDistinct("c").cast("double").alias("nc"))
    w = (ct.crossJoin(F.broadcast(tot))
         .withColumn("w", F.col("n").cast("double")))
    by_r, by_c = Window.partitionBy("r"), Window.partitionBy("c")
    for _ in range(rounds):
        w = w.withColumn(
            "w", F.col("w") * (F.col("tot") / F.col("nr"))
            / F.sum("w").over(by_r))
        w = w.withColumn(
            "w", F.col("w") * (F.col("tot") / F.col("nc"))
            / F.sum("w").over(by_c))
    return w.select(
        F.col("r").alias(row_col), F.col("c").alias(col_col), "n",
        F.round("w", 8).alias("w_fit"))


def crawl_capacity(urls: DataFrame, host_col: str = "host",
                   n_slots: int = 8, fetch_cost: int = 1,
                   host_delay: int = 5) -> DataFrame:
    """Per-fetch-slot crawl capacity plan (X229) — the politeness-vs-
    throughput audit behind sizing a crawler fleet: hosts are hashed
    onto ``n_slots`` fetch slots (a host never spans slots — politeness
    is enforceable only if one worker owns the host); a slot's makespan
    is bounded below by BOTH its total work (n_urls x fetch_cost) and
    its politest-constrained hottest host ((n-1) x host_delay +
    fetch_cost — consecutive hits on one host must wait host_delay).
    Reports which bound binds per slot: 'politeness'-bound slots need
    host re-sharding or a longer tail, 'throughput'-bound slots need
    more workers. The capacity-planning complement of X213's
    apportion_budget (which decides how MANY urls per host; this
    decides whether the fleet can fetch them in time).

    Returns one row per slot: (slot, n_hosts, n_urls, throughput_bound,
    politeness_bound, makespan, binding). ALL integer arithmetic.

    Scale shape: one map-side-combinable groupBy(host) count, then one
    groupBy(slot) over the per-host table (<= |hosts| rows); the slot
    hash is a pure per-row md5 expression. No joins, no windows.
    """
    per_host = (urls.where(F.col(host_col).isNotNull())
                .groupBy(F.col(host_col).alias("host"))
                .agg(F.count("*").cast("long").alias("n")))
    slot = F.pmod(
        F.conv(F.substring(F.md5(F.col("host").cast("string")), 1, 15),
               16, 10).cast("long"), F.lit(n_slots))
    finish = (F.col("n") - 1) * host_delay + fetch_cost
    tb = F.sum("n") * fetch_cost
    pb = F.max(finish.alias("_f"))
    return (per_host.groupBy(slot.alias("slot"))
            .agg(F.count("*").cast("long").alias("n_hosts"),
                 F.sum("n").cast("long").alias("n_urls"),
                 tb.cast("long").alias("throughput_bound"),
                 pb.cast("long").alias("politeness_bound"))
            .withColumn("makespan",
                        F.greatest("throughput_bound",
                                   "politeness_bound").cast("long"))
            .withColumn("binding",
                        F.when(F.col("politeness_bound")
                               > F.col("throughput_bound"),
                               F.lit("politeness"))
                        .otherwise(F.lit("throughput"))))


def robust_outlier_screen(df: DataFrame, id_col: str, value_col: str,
                          z_thresh: float = 3.5,
                          round_digits: int = 6) -> DataFrame:
    """Median/MAD robust outlier screen (X235; Iglewicz & Hoaglin's
    modified z-score): flag rows with |0.6745 (x - median) / MAD| >
    ``z_thresh`` — the data-quality gate that, unlike mean/std
    z-scores, is not dragged by the outliers it is hunting (50%
    breakdown point vs 0%). Median and MAD are PICKED values from the
    engine's exact distributed quantile plan (percentile_disc rank
    ceil(n/2), analytics.exact_quantiles — no global window, no
    sketch), so the screen replays bit-identically in any engine.

    Returns the flagged rows only: (id, value, med, mad, modified_z),
    z rounded to ``round_digits``. A zero MAD (>=50% of mass on one
    value) flags nothing — the robust screen is undefined there, by
    construction rather than by div-by-zero accident.

    Scale shape: two exact-quantile passes (each one partial-agg
    shuffle over DISTINCT values + range repartition), both results
    broadcast back as 1-row frames; the screen itself is a pure
    per-row expression scan.
    """
    vals = (df.select(F.col(id_col), F.col(value_col).alias("_v"))
            .where(F.col(value_col).isNotNull()))
    med = (exact_quantiles(vals, "_v", qs=(0.5,))
           .select(F.col("value").alias("_med")))
    dev = (vals.crossJoin(F.broadcast(med))
           .withColumn("_ad", F.abs(F.col("_v") - F.col("_med"))))
    mad = (exact_quantiles(dev, "_ad", qs=(0.5,))
           .select(F.col("value").alias("_mad")))
    z = F.lit(0.6745) * (F.col("_v") - F.col("_med")) / F.col("_mad")
    return (dev.crossJoin(F.broadcast(mad))
            .where((F.col("_mad") > 0)
                   & (F.abs(z) > F.lit(float(z_thresh))))
            .select(F.col(id_col), F.col("_v").alias("value"),
                    F.col("_med").alias("med"),
                    F.col("_mad").alias("mad"),
                    F.round(z, round_digits).alias("modified_z")))


def h_index_centrality(edges: DataFrame) -> DataFrame:
    """Per-vertex h-index / lobby index (X244; Korn-Schubert-Telcs):
    the largest h such that the vertex has at least h neighbors of
    (undirected) degree >= h — the locality-robust middle ground
    between degree (h's trivial upper bound) and coreness (its lower
    bound, Lü et al. 2016: c(v) <= h(v) <= d(v)); a hub whose
    neighbors are all leaves scores 1, a modest vertex wired into
    other well-connected vertices scores high.

    Returns (vid, deg, h) for every vertex.

    Scale shape: one degree aggregation, one join to decorate each
    edge endpoint with its neighbor's degree, then a per-vertex
    window (bounded by the vertex's own neighborhood — the
    triangle-join cost class) computing max(min(rank, neighbor_deg))
    over the neighbor degrees sorted descending. No driver loops.
    """
    from pyspark.sql import Window

    from credigraph_spark.graph.adjacency import undirected_simple

    und = undirected_simple(edges)
    deg = und.groupBy(F.col("src").alias("vid")).agg(
        F.count("*").cast("long").alias("deg"))
    nbr = (und.join(deg.select(F.col("vid").alias("dst"),
                               F.col("deg").alias("ndeg")), "dst")
           .select(F.col("src").alias("vid"), "ndeg"))
    w = Window.partitionBy("vid").orderBy(F.desc("ndeg"))
    h = (nbr.withColumn("_r", F.row_number().over(w))
         .groupBy("vid")
         .agg(F.max(F.least(F.col("_r"), F.col("ndeg"))).cast("long")
              .alias("h")))
    return deg.join(h, "vid").select("vid", "deg", "h")


def subsample_ci(df: DataFrame, value_col: str, n_resamples: int = 32,
                 keep_frac: float = 0.632, seed: int = 7,
                 key_cols: list[str] | None = None,
                 round_digits: int = 6) -> DataFrame:
    """Deterministic subsampling confidence interval (X256; the
    m-out-of-n bootstrap / Efron's .632 subsample): every corpus
    statistic the engine reports is a point estimate — this puts an
    error bar on a MEAN by recomputing it over ``n_resamples``
    md5-coin subsamples (row r is in resample b iff md5(seed|b|key)
    < keep_frac) and reading the 2.5%/97.5% resample quantiles. The
    coins are content-derived, so the interval replays bit-exactly in
    any engine — no RNG state, no sampling nondeterminism.

    Returns ONE row: (n_resamples, n_rows, point_mean, lo95, hi95).

    Scale shape: the resample fan-out is one crossJoin with the
    n_resamples-row sim frame + a per-row coin (the X236 discipline:
    all resamples advance in one frame, one map-side-combinable
    groupBy(sim)); the quantile pick runs on the n_resamples-row
    result. One extra corpus scan total, whatever n_resamples is.
    """
    if key_cols is None:
        key_cols = [value_col]
    spark = df.sparkSession
    sims = spark.range(n_resamples).select(F.col("id").alias("b"))
    rows = df.where(F.col(value_col).isNotNull())
    coin = (F.conv(F.substring(
        F.md5(F.concat_ws("|", F.lit(str(seed)), F.col("b"),
                          *[F.col(c).cast("string")
                            for c in key_cols])), 1, 15),
        16, 10).cast("double") / F.lit(float(16 ** 15)))
    means = (rows.crossJoin(sims)
             .where(coin < F.lit(float(keep_frac)))
             .groupBy("b")
             .agg(F.round(F.avg(value_col), round_digits).alias("m"))
             .orderBy("m").collect())
    vals = [r["m"] for r in means]
    n_b = len(vals)
    point = rows.agg(
        F.count("*").alias("n"),
        F.round(F.avg(value_col), round_digits).alias("m")).collect()[0]
    lo = vals[max(0, math.ceil(0.025 * n_b) - 1)] if n_b else None
    hi = vals[min(n_b - 1, math.ceil(0.975 * n_b) - 1)] if n_b else None
    return spark.createDataFrame(
        [(n_b, int(point["n"]), float(point["m"]), lo, hi)],
        "n_resamples LONG, n_rows LONG, point_mean DOUBLE, "
        "lo95 DOUBLE, hi95 DOUBLE")


def join_cardinality_audit(a: DataFrame, a_key: str, b: DataFrame,
                           b_key: str,
                           round_digits: int = 6) -> DataFrame:
    """Join-cardinality estimation audit (X260): the optimizer
    question behind every join-order and broadcast decision — how far
    off is the textbook System-R estimate |A||B| / max(ndv_A, ndv_B)
    on THIS data? Reports it next to the overlap-aware uniform
    estimate ((|A|/ndv_A)(|B|/ndv_B)|keys_A ∩ keys_B|) and the EXACT
    join size Σ_k cntA(k)·cntB(k), computed from the two per-key
    count tables without materializing the join. Skewed keys are
    where uniformity underestimates (the AQE-skew-join trigger, X170's
    report) — this puts a number on it.

    Returns one row per method: (method, estimate, actual, err_ratio).

    Scale shape: two map-side-combinable per-key counts, one
    co-partitioned count join for the exact sum (decimal(38,0)
    accumulation — hub counts square), three scalar aggregates. The
    join itself is never materialized.
    """
    ca = (a.where(F.col(a_key).isNotNull())
          .groupBy(F.col(a_key).alias("k"))
          .agg(F.count("*").alias("na")))
    cb = (b.where(F.col(b_key).isNotNull())
          .groupBy(F.col(b_key).alias("k"))
          .agg(F.count("*").alias("nb")))
    sa = ca.agg(F.sum("na").alias("n"), F.count("*").alias("d")) \
        .collect()[0]
    sb = cb.agg(F.sum("nb").alias("n"), F.count("*").alias("d")) \
        .collect()[0]
    j = ca.join(cb, "k")
    st = j.agg(
        F.count("*").alias("common"),
        F.sum((F.col("na").cast("decimal(38,0)")
               * F.col("nb").cast("decimal(38,0)")))
        .alias("actual")).collect()[0]
    n_a, d_a = int(sa["n"]), int(sa["d"])
    n_b, d_b = int(sb["n"]), int(sb["d"])
    common, actual = int(st["common"] or 0), int(st["actual"] or 0)
    sysr = n_a * n_b / max(d_a, d_b) if max(d_a, d_b) else 0.0
    over = ((n_a / d_a) * (n_b / d_b) * common
            if d_a and d_b else 0.0)
    rows = [
        ("exact", float(actual), actual, 1.0 if actual else 0.0),
        ("sysr_independence", round(sysr, round_digits), actual,
         round(sysr / actual, round_digits) if actual else 0.0),
        ("overlap_uniform", round(over, round_digits), actual,
         round(over / actual, round_digits) if actual else 0.0),
    ]
    return a.sparkSession.createDataFrame(
        rows, "method STRING, estimate DOUBLE, actual LONG, "
              "err_ratio DOUBLE")


def robust_means(df: DataFrame, value_col: str,
                 trim_pct: int = 5,
                 round_digits: int = 6) -> DataFrame:
    """Trimmed and winsorized means (X261): the robust-location
    family next to X235's MAD screen — the trimmed mean DROPS values
    outside the exact [p, 100-p] percentile picks, the winsorized
    mean CLAMPS them to those picks (keeps the mass, caps the
    leverage). Both cutoffs are percentile_disc PICKS from the X69
    exact-quantile plan, so the row partition — and therefore both
    means — replays bit-exactly; reported next to the plain mean so
    the gap itself is the outlier-influence diagnostic.

    Returns ONE row: (n, mean, trimmed_mean, winsorized_mean, lo_cut,
    hi_cut, n_trimmed).

    Scale shape: one exact-quantile pass (two picks), then a single
    conditional-aggregation scan — no sort of the data, no window.
    """
    lo_q, hi_q = trim_pct / 100.0, 1 - trim_pct / 100.0
    vals = (df.select(F.col(value_col).alias("_v"))
            .where(F.col("_v").isNotNull()))
    cuts = {float(r["q"]): r["value"] for r in
            exact_quantiles(vals, "_v", qs=(lo_q, hi_q)).collect()}
    lo, hi = cuts[lo_q], cuts[hi_q]
    agg = vals.agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.avg("_v"), round_digits).alias("mean"),
        F.round(F.avg(F.when((F.col("_v") >= lo)
                             & (F.col("_v") <= hi), F.col("_v"))),
                round_digits).alias("trimmed_mean"),
        F.round(F.avg(F.least(F.greatest(F.col("_v"), F.lit(lo)),
                              F.lit(hi))), round_digits)
        .alias("winsorized_mean"),
        F.sum(((F.col("_v") < lo) | (F.col("_v") > hi)).cast("long"))
        .cast("long").alias("n_trimmed"))
    return agg.select("n", "mean", "trimmed_mean", "winsorized_mean",
                      F.lit(float(lo)).alias("lo_cut"),
                      F.lit(float(hi)).alias("hi_cut"), "n_trimmed")


def circuit_rank(edges: DataFrame) -> DataFrame:
    """Graph cyclomatic summary (X272): circuit rank = |E| − |V| + C
    over the undirected simple graph — the number of independent
    cycles (0 = forest; the webgraph's value is enormous, and the
    DELTA between crawls is a structural-churn scalar cheaper than
    any motif count). One row: (n_vertices, n_edges, n_components,
    circuit_rank, is_forest). Reuses the audited hash-min CC; the
    rest is three integer aggregates.
    """
    from credigraph_spark.graph.adjacency import undirected_simple
    from credigraph_spark.graph.components import connected_components

    und = undirected_simple(edges).persist()
    n_e = und.where(F.col("src") < F.col("dst")).count()
    labels, _ = connected_components(und)
    n_v = labels.count()
    n_c = labels.select("component").distinct().count()
    und.unpersist()
    rank = n_e - n_v + n_c
    return edges.sparkSession.createDataFrame(
        [(n_v, n_e, n_c, rank, rank == 0)],
        "n_vertices LONG, n_edges LONG, n_components LONG, "
        "circuit_rank LONG, is_forest BOOLEAN")
