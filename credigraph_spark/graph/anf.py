"""Approximate neighborhood function + effective diameter (ANF/HyperANF).

The classic webgraph distance sketch (Palmer et al. "ANF", KDD 2002;
Boldi/Rosa/Vigna "HyperANF", WWW 2011): estimate N(h) = Σ_v |ball(v, h)|
— the number of reachable pairs within h hops — without materializing
any closure, then read the effective diameter (smallest h with
N(h) ≥ q·N(h_max)) off the curve. Not in the reference (its graph layer
has no distance analytics at all); this is the standard companion to
PageRank/CC for characterizing a crawl snapshot.

Design — Flajolet-Martin union sketches as Spark supersteps:

* Per vertex and register r: a 1-bit-set mask ``2^rho`` where rho is the
  trailing-zero count of a 32-bit md5-derived hash of (seed, r, vid).
  md5 (not a faster non-cryptographic hash) so ANY engine can reproduce
  the registers bit-for-bit — the same portability trick as the
  ann_lsh Rademacher planes (similarity.py).
* Superstep h: mask(v) |= BIT_OR of successors' masks — union of sets
  under FM is bitwise OR, so the per-hop state is ONE bit_or aggregation
  over (edges ⋈ state) unioned with the state itself: map-side
  combinable, hub-skew-immune (OR is idempotent+commutative), constant
  state size per vertex (num_registers longs), no explosion ever.
* Per-hop readout rides the same job: rho-sum Σ_v Σ_r tz(mask+1) (an
  exact INTEGER — the oracle-hashable surface) and the float FM estimate
  Σ_v 2^(mean_r rho_r)/0.77351 (reported in info, never hashed).

Masks use ``pow(2, tz)`` with tz capped ≤ ``cap`` (default 40) so every
mask and mask+1 stays far inside int64 and the pow/log2 round-trips are
exact in ANY IEEE engine. One driver action per hop (the superstep
driver's checkpoint, ``graph/loop.py``, with its Observation), state never exceeds |V| × num_registers longs —
at 10^11 vertices and 8 registers that is the same order as the PageRank
rank vector.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from credigraph_spark.session import measured_repartition
from credigraph_spark.graph.adjacency import clean_edges, vertices_from_edges
from credigraph_spark.graph.loop import SuperstepLoop

FM_PHI = 0.77351  # Flajolet-Martin bias correction constant


def _tz(col):
    """Trailing-zero count of a positive long: position of the lowest set
    bit via round(log2(x & -x)) — exact for powers of two in IEEE."""
    return F.round(F.log2(col.bitwiseAND(-col))).cast("long")


def _init_mask(j: int, seed: int, cap: int):
    """Register ``r{j}``'s initial mask 2^rho, rho the capped trailing-zero
    count of the md5-derived 32-bit hash of (seed, j, vid)."""
    h32 = F.conv(
        F.substring(
            F.md5(F.concat_ws(
                ":", F.lit(str(seed)), F.lit(str(j)),
                F.col("vid").cast("string"))),
            1, 8),
        16, 10,
    ).cast("long")
    rho = F.when(h32 == 0, F.lit(32)).otherwise(_tz(h32))
    return F.pow(F.lit(2.0), F.least(rho, F.lit(cap)).cast("double")) \
            .cast("long").alias(f"r{j}")


def _rho_sum(regs: list[str]):
    """Per-row Σ_r rho over the CURRENT masks (an exact long)."""
    parts = [_tz(F.col(r) + 1) for r in regs]
    total = parts[0]
    for p in parts[1:]:
        total = total + p
    return total


def anf_sketch(
    edges: DataFrame,
    max_hops: int = 3,
    num_registers: int = 8,
    seed: int = 7,
    cap: int = 40,
) -> tuple[DataFrame, dict]:
    """Returns (per_hop(hop, sum_rho), info).

    ``sum_rho`` = Σ_v Σ_r trailing-ones of the FM mask after hop h — an
    exact integer that deterministically fingerprints the whole sketch
    state (used for oracle hashing). ``info['estimates']`` maps hop →
    FM estimate of N(h) = Σ_v |ball(v, h)| (including v itself);
    ``info['n_vertices']`` is N(0)."""
    spark = edges.sparkSession
    regs = [f"r{j}" for j in range(num_registers)]

    # loop partitions derived from the measured edge count (scale-adaptive)
    e, _, shuffle_n = measured_repartition(clean_edges(edges), "dst")
    verts = vertices_from_edges(e)

    loop = SuperstepLoop(spark, "anf", shuffle_n, max_hops)
    state, _ = loop.commit(
        verts.select("vid", *[_init_mask(j, seed, cap) for j in range(num_registers)])
        .repartition(shuffle_n, "vid"))
    n = state.count()

    info: dict = {"n_vertices": n, "estimates": {0: float(n)},
                  "sum_rho": {}, "hops": 0}
    per_hop_rows = []
    with loop:
        for it in loop:
            h = it + 1
            inc = (
                e.join(state.withColumnRenamed("vid", "dst"), "dst")
                .select(F.col("src").alias("vid"), *regs)
            )
            rho_total = _rho_sum(regs)
            state, m = loop.commit(loop.observe(
                state.select("vid", *regs).unionByName(inc)
                .groupBy("vid")
                .agg(*[F.bit_or(r).alias(r) for r in regs]),
                F.sum(rho_total).alias("sum_rho"),
                F.sum(
                    F.pow(F.lit(2.0),
                          rho_total.cast("double") / num_registers)
                ).alias("est_raw"),
            ))
            sum_rho = int(m["sum_rho"] or 0)
            info["sum_rho"][h] = sum_rho
            info["estimates"][h] = float(m["est_raw"] or 0.0) / FM_PHI
            info["hops"] = h
            per_hop_rows.append((h, sum_rho))

    e.unpersist()
    per_hop = spark.createDataFrame(per_hop_rows, "hop int, sum_rho long")
    return per_hop, info


def effective_diameter(
    edges: DataFrame,
    q: float = 0.9,
    max_hops: int = 16,
    num_registers: int = 32,
    seed: int = 7,
) -> dict:
    """Effective diameter estimate: the smallest h whose estimated
    neighborhood function reaches ``q`` of N(max_hops) — with linear
    interpolation between the bracketing hops, the standard ANF readout.
    Returns {'effective_diameter', 'estimates', 'n_vertices'}."""
    _, info = anf_sketch(edges, max_hops=max_hops,
                         num_registers=num_registers, seed=seed)
    est = info["estimates"]
    target = q * est[info["hops"]]
    eff = float(info["hops"])
    for h in range(0, info["hops"] + 1):
        if est[h] >= target:
            if h == 0:
                eff = 0.0
            else:
                lo, hi = est[h - 1], est[h]
                frac = 0.0 if hi == lo else (target - lo) / (hi - lo)
                eff = (h - 1) + frac
            break
    return {"effective_diameter": eff, "estimates": est,
            "n_vertices": info["n_vertices"]}


def effective_diameter_hops(edges: DataFrame, q_num: int = 9,
                            q_den: int = 10, max_hops: int = 4,
                            num_registers: int = 4, seed: int = 7,
                            cap: int = 40) -> DataFrame:
    """Integer-exact effective-diameter readout off the ANF curve: the
    smallest hop h with q_den*sum_rho(h) >= q_num*sum_rho(max_hops),
    where sum_rho is the EXACT integer register readout of anf_sketch
    (the oracle-hashable surface — the float FM estimate stays in info).
    One row: (eff_hop, sum_rho_eff, sum_rho_final). The q=0.9 default is
    the standard effective-diameter quantile (HyperANF, WWW 2011),
    applied to the monotone rho curve instead of the bias-corrected
    estimate so both engines agree bit-for-bit with NO float anywhere.

    Scale shape: inherits anf_sketch's (one bit_or superstep per hop);
    the readout itself is a cross join against max_hops rows."""
    per_hop, _ = anf_sketch(edges, max_hops=max_hops,
                            num_registers=num_registers, seed=seed, cap=cap)
    fin = per_hop.agg(F.max(F.struct("hop", "sum_rho")).alias("m")).select(
        F.col("m.sum_rho").alias("final_rho"))
    return (
        per_hop.crossJoin(F.broadcast(fin))
        .where(F.col("sum_rho") * q_den >= F.col("final_rho") * q_num)
        .agg(F.min(F.struct("hop", "sum_rho", "final_rho")).alias("m"))
        .select(F.col("m.hop").cast("long").alias("eff_hop"),
                F.col("m.sum_rho").cast("long").alias("sum_rho_eff"),
                F.col("m.final_rho").cast("long").alias("sum_rho_final"))
    )


def hyperball_harmonic(edges: DataFrame, max_hops: int = 3,
                       num_registers: int = 8, seed: int = 7,
                       cap: int = 40,
                       round_digits: int = 6) -> DataFrame:
    """HyperBall harmonic centrality for ALL vertices (Boldi & Vigna
    2013, "In-Core Computation of Geometric Centralities with
    HyperBall") — the web-graph-scale way to get a distance centrality
    for every vertex without any per-source BFS:

        harmonic(v) ≈ Σ_{h=1..H} (b_v(h) − b_v(h−1)) / h

    where b_v(h) is the FM-sketch estimate of |ball(v, h)| along OUT
    edges (pass reversed edges for the classic incoming-distance
    variant). Counters are monotone under BIT_OR, so every difference
    is ≥ 0 by construction.

    Same determinism contract as anf_sketch: md5-derived registers,
    per-vertex integer rho sums S_v(h) (exact, oracle-hashable), the
    float estimate 2^(S/R)/φ derived from them and rounded. Per
    superstep ONE bit_or aggregation (map-side combinable, hub-skew
    immune); state = |V| × num_registers longs.

    Returns (vid, s_1..s_H exact ints, harmonic)."""
    spark = edges.sparkSession
    regs = [f"r{j}" for j in range(num_registers)]

    # loop partitions derived from the measured edge count (scale-adaptive)
    e, _, shuffle_n = measured_repartition(clean_edges(edges), "dst")
    verts = vertices_from_edges(e)

    loop = SuperstepLoop(spark, "hyperball", shuffle_n, max_hops)
    state = verts.select("vid", *[_init_mask(j, seed, cap) for j in range(num_registers)])
    state, _ = loop.commit(state.select("vid", *regs, _rho_sum(regs).alias("s_0"))
                           .repartition(shuffle_n, "vid"))
    # per-hop rho sums ride INSIDE the state frame (s_0..s_H columns):
    # the union fills them with nulls on the message side and max()
    # recovers the single non-null per vid — no end-stage join chain
    # (an earlier snapshot-join formulation anti-scaled on the
    # standalone cluster; this shape is one groupBy per hop, period)
    with loop:
        for it in loop:
            h = it + 1
            s_cols = [f"s_{i}" for i in range(h)]
            inc = (
                e.join(state.select(
                    F.col("vid").alias("dst"), *regs), "dst")
                .select(F.col("src").alias("vid"), *regs,
                        *[F.lit(None).cast("long").alias(c)
                          for c in s_cols])
            )
            state = (
                state.select("vid", *regs, *s_cols).unionByName(inc)
                .groupBy("vid")
                .agg(*[F.bit_or(r).alias(r) for r in regs],
                     *[F.max(c).alias(c) for c in s_cols])
            )
            state, _ = loop.commit(state.select("vid", *regs, *s_cols,
                                                _rho_sum(regs).alias(f"s_{h}")))
    e.unpersist()
    snaps = state

    def _ball(col):
        return (F.pow(F.lit(2.0),
                      col.cast("double") / F.lit(float(num_registers)))
                / F.lit(FM_PHI))

    harm = F.lit(0.0)
    for h in range(1, max_hops + 1):
        harm = harm + (_ball(F.col(f"s_{h}"))
                       - _ball(F.col(f"s_{h - 1}"))) / F.lit(float(h))
    return snaps.select(
        "vid", *[f"s_{h}" for h in range(1, max_hops + 1)],
        F.round(harm, round_digits).alias("harmonic"))
