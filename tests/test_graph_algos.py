"""CC / LPA / triangles / n-hop vs pure-Python oracles (FIXTURES.md F4/F6)."""

from __future__ import annotations

import itertools
import random

import pytest

from credigraph_spark.graph import (
    connected_components,
    label_propagation,
    n_hop_subgraph,
    triangle_count,
)
from credigraph_spark.oracles import cc_oracle, lpa_oracle, triangles_oracle

from tests.conftest import edges_df


def _chain(lo, n):
    return [(lo + i, lo + i + 1) for i in range(n - 1)]


def test_cc_mixed_component_sizes(spark):
    # components of sizes 2, 10, 100 + isolated vertex 9999 via vertices arg
    edges = _chain(0, 2) + _chain(100, 10) + _chain(1000, 100)
    vdf = spark.createDataFrame([(9999,)], ["vid"])
    labels, info = connected_components(edges_df(spark, edges), vertices=vdf)
    got = {r["vid"]: r["component"] for r in labels.collect()}
    expect = cc_oracle(edges, vertices=[9999])
    assert got == expect
    assert info["converged"]


def test_cc_random_graph(spark):
    rng = random.Random(3)
    edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(70)]
    labels, _ = connected_components(edges_df(spark, edges))
    got = {r["vid"]: r["component"] for r in labels.collect()}
    assert got == cc_oracle(edges)


def test_cc_jump_strategies_agree(spark):
    # Skewed shape: one giant chain (coalesces onto one hot label — the
    # pointer-jump skew case) + small components. Force each physical
    # strategy for the jump join via the thresholds and check identical
    # labels; let the default (adaptive) path report which it picked.
    edges = _chain(0, 120) + _chain(500, 5) + [(900, 901)]
    expect = cc_oracle(edges)
    picked = {}
    for name, kw in {
        "broadcast": {"bcast_components": 10**9},
        "salted": {"bcast_components": 0, "jump_salt": 4},
        "plain": {"bcast_components": 0, "jump_salt": 1},
    }.items():
        labels, info = connected_components(
            edges_df(spark, edges), skew_min_vertices=0, **kw)
        got = {r["vid"]: r["component"] for r in labels.collect()}
        assert got == expect, f"strategy={name}"
        picked[name] = info["jump_strategies"]
    # round 1 is ALWAYS plain (labels unique → no skew; skew paths require
    # coalescence ncomp ≤ |V|/2); skew strategies kick in from round 2;
    # jump_salt=1 disables salting entirely (the pre-de-skew plan, kept as
    # the A/B baseline knob)
    assert picked["broadcast"][0] == "plain"
    assert picked["broadcast"][-1] == "broadcast" and "salted" not in picked["broadcast"]
    assert "salted" in picked["salted"]
    assert set(picked["plain"]) == {"plain"}
    labels, info = connected_components(edges_df(spark, edges),
                                        skew_min_vertices=0)
    assert {r["vid"]: r["component"] for r in labels.collect()} == expect
    # adaptive: plain while labels are near-unique, broadcast once coalesced
    assert info["jump_strategies"][0] == "plain"
    assert info["jump_strategies"][-1] == "broadcast"
    # tiny graphs (below skew_min_vertices) never pay the skew machinery
    labels, info = connected_components(edges_df(spark, edges))
    assert {r["vid"]: r["component"] for r in labels.collect()} == expect
    assert set(info["jump_strategies"]) == {"plain"}


def test_lpa_two_cliques_with_bridge(spark):
    def clique(lo, k):
        return [(lo + i, lo + j) for i in range(k) for j in range(i + 1, k)]

    edges = clique(0, 5) + clique(10, 5) + [(4, 10)]
    for max_iter in (1, 2, 5):
        labels, _ = label_propagation(edges_df(spark, edges), max_iter=max_iter)
        got = {r["vid"]: r["label"] for r in labels.collect()}
        assert got == lpa_oracle(edges, max_iter=max_iter), f"max_iter={max_iter}"


def test_lpa_isolated_vertex_keeps_label(spark):
    edges = [(0, 1), (1, 2)]
    vdf = spark.createDataFrame([(50,)], ["vid"])
    labels, _ = label_propagation(edges_df(spark, edges), vertices=vdf, max_iter=3)
    got = {r["vid"]: r["label"] for r in labels.collect()}
    assert got[50] == 50
    assert got == lpa_oracle(edges, vertices=[50], max_iter=3)


def test_triangles_k5_and_bipartite_control(spark):
    k5 = [(i, j) for i in range(5) for j in range(i + 1, 5)]
    per_v, total = triangle_count(edges_df(spark, k5))
    assert total == 10
    assert all(r["triangles"] == 6 for r in per_v.collect())

    bipartite = [(i, 10 + j) for i in range(3) for j in range(3)]
    _, total_b = triangle_count(edges_df(spark, bipartite))
    assert total_b == 0


def test_triangles_random_with_dirty_input(spark):
    rng = random.Random(11)
    edges = [(rng.randrange(30), rng.randrange(30)) for _ in range(150)]
    edges += [(i, i) for i in range(4)] + edges[:20]  # self-loops + dups
    per_v, total = triangle_count(edges_df(spark, edges))
    expect_per_v, expect_total = triangles_oracle(edges)
    assert total == expect_total
    got = {r["vid"]: r["triangles"] for r in per_v.collect()}
    assert got == {v: c for v, c in expect_per_v.items()}


def test_nhop_reference_goldens(spark):
    """4-node path graph goldens (test_subnetwork_construction.py:38-95)."""
    edges = edges_df(spark, [(1, 2), (2, 3)])
    seeds = edges.sparkSession.createDataFrame([(1,)], ["vid"])
    for hop, expect in [(0, {1, 2}), (1, {1, 2, 3}), (2, {1, 2, 3})]:
        verts, _ = n_hop_subgraph(edges, seeds, hop)
        assert {r["vid"] for r in verts.collect()} == expect, f"hop={hop}"


def test_sample_neighbors_deterministic(spark):
    from credigraph_spark.graph import sample_neighbors

    edges = edges_df(spark, [(0, i) for i in range(1, 20)] + [(1, 2)])
    a = {(r["src"], r["dst"]) for r in sample_neighbors(edges, k=5, seed=7).collect()}
    b = {(r["src"], r["dst"]) for r in sample_neighbors(edges.repartition(3), k=5, seed=7).collect()}
    assert a == b                         # partition-invariant
    assert sum(1 for s, _ in a if s == 0) == 5
    assert (1, 2) in a                    # k larger than degree keeps all
    c = {(r["src"], r["dst"]) for r in sample_neighbors(edges, k=5, seed=8).collect()}
    assert a != c                         # seed changes the sample


def test_build_adjacency_csr(spark):
    """A4: CSR-style grouped adjacency (src, dsts set, out_deg) matches
    the reference's groupby('src')['dst'].apply(set) contract."""
    from credigraph_spark.graph.adjacency import build_adjacency

    from credigraph_spark.graph.adjacency import clean_edges

    edges = clean_edges(edges_df(spark, [(1, 2), (1, 3), (1, 3), (2, 3), (4, 1)]))
    rows = {r["src"]: (sorted(r["dsts"]), r["out_deg"])
            for r in build_adjacency(edges).collect()}
    assert rows == {1: ([2, 3], 2), 2: ([3], 1), 4: ([1], 1)}


def test_aggregate_messages_primitive(spark):
    """Pregel gather: mean/max neighbor out-degree via one
    aggregate_messages call matches a hand-computed oracle, and a
    PageRank-style contribution step reproduces pagerank's first-iteration
    contributions."""
    from pyspark.sql import functions as F

    from credigraph_spark.graph.adjacency import clean_edges, out_degrees
    from credigraph_spark.graph.pregel import aggregate_messages

    edges = clean_edges(edges_df(spark, [(1, 2), (1, 3), (2, 3), (4, 3), (3, 1)]))
    deg = out_degrees(edges)  # 1:2, 2:1, 4:1, 3:1

    got = {
        r["vid"]: (r["nbr_avg"], r["nbr_max"], r["n"])
        for r in aggregate_messages(
            edges, deg, to_dst=F.col("src_out_deg"),
            agg={"nbr_avg": F.avg, "nbr_max": F.max, "n": F.count},
        ).collect()
    }
    # dst 2 <- src 1 (deg 2); dst 3 <- srcs 1,2,4 (2,1,1); dst 1 <- src 3 (1)
    assert got == {2: (2.0, 2, 1), 3: (4 / 3, 2, 3), 1: (1.0, 1, 1)}

    # bidirectional messages: undirected degree via count both ways
    both = {
        r["vid"]: r["d"]
        for r in aggregate_messages(edges, deg, to_dst=F.lit(1), to_src=F.lit(1),
                                    agg={"d": F.sum}).collect()
    }
    assert both == {1: 3, 2: 2, 3: 4, 4: 1}

    # PageRank gather step expressed in one call: contrib = rank/out_deg
    n = 4
    ranks = deg.select("vid", F.lit(1.0 / n).alias("rank"))
    verts = deg.join(ranks, "vid").select("vid", "out_deg", "rank")
    contribs = {
        r["vid"]: r["contrib"]
        for r in aggregate_messages(
            edges, verts, to_dst=F.col("src_rank") / F.col("src_out_deg"),
            agg={"contrib": F.sum},
        ).collect()
    }
    assert abs(contribs[3] - (0.25 / 2 + 0.25 + 0.25)) < 1e-12
    assert abs(contribs[2] - 0.125) < 1e-12 and abs(contribs[1] - 0.25) < 1e-12


def test_bfs_distances_goldens(spark):
    """Path graph 1->2->3->4 (reference subnetwork fixture shape,
    test_subnetwork_construction.py:38-95): directed from {1} depth 2 ->
    {1:0, 2:1, 3:2}; undirected from {3} depth 2 reaches everything."""
    from credigraph_spark.graph import bfs_distances

    e = edges_df(spark, [(1, 2), (2, 3), (3, 4)])
    seeds = spark.createDataFrame([(1,)], ["vid"])
    got = {r["vid"]: r["dist"] for r in bfs_distances(e, seeds, max_hops=2).collect()}
    assert got == {1: 0, 2: 1, 3: 2}
    seeds3 = spark.createDataFrame([(3,)], ["vid"])
    und = {r["vid"]: r["dist"]
           for r in bfs_distances(e, seeds3, max_hops=2, directed=False).collect()}
    assert und == {3: 0, 2: 1, 4: 1, 1: 2}
    # early exit: frontier empties before max_hops
    far = {r["vid"]: r["dist"]
           for r in bfs_distances(e, seeds, max_hops=99).collect()}
    assert far == {1: 0, 2: 1, 3: 2, 4: 3}


def test_per_seed_distances_match_per_seed_bfs(spark):
    """(seed, vid, dist) from EACH seed equals a separate Python BFS per
    seed, directed and undirected, within the hop horizon; a seed absent
    from the edges reaches only itself."""
    from collections import deque

    from credigraph_spark.graph import per_seed_distances

    rng = random.Random(47)
    edges = sorted({(rng.randrange(25), rng.randrange(25))
                    for _ in range(45)})
    seeds = [0, 3, 7, 99]
    sdf = spark.createDataFrame([(s,) for s in seeds], ["vid"])

    def bfs(seed, directed, max_hops):
        nbrs: dict = {}
        for a, b in edges:
            nbrs.setdefault(a, set()).add(b)
            if not directed:
                nbrs.setdefault(b, set()).add(a)
        dist, todo = {seed: 0}, deque([seed])
        while todo:
            u = todo.popleft()
            if dist[u] == max_hops:
                continue
            for v in nbrs.get(u, ()):
                if v not in dist:
                    dist[v] = dist[u] + 1
                    todo.append(v)
        return {(seed, v, d) for v, d in dist.items()}

    for directed in (True, False):
        got = {(r["seed"], r["vid"], r["dist"])
               for r in per_seed_distances(edges_df(spark, edges), sdf,
                                           max_hops=3,
                                           directed=directed).collect()}
        expect = set().union(*(bfs(s, directed, 3) for s in seeds))
        assert got == expect, directed
    assert {(99, 99, 0)} == {t for t in got if t[0] == 99}


def test_ppr_batch_matches_python(spark):
    """Batch PPR differential: every seed's walk restarts to that seed
    alone, with its dangling mass (vertex 4 has no out-edge; seed 9 is
    absent from the edges) restarted to the seed too."""
    from credigraph_spark.graph import ppr_batch

    pairs = [(1, 2), (2, 3), (3, 1), (3, 4), (2, 4), (1, 2), (5, 5)]
    d, iters, seeds = 0.85, 4, [1, 3, 9]
    got = {(r["seed"], r["vid"]): r["rank"]
           for r in ppr_batch(
               edges_df(spark, pairs),
               spark.createDataFrame([(s,) for s in seeds], ["vid"]),
               damping=d, max_iter=iters).collect()}

    out: dict = {}
    for a, b in set(pairs):
        if a != b:
            out.setdefault(a, []).append(b)
    expect = {}
    for s in seeds:
        r = {s: 1.0}
        for _ in range(iters):
            nxt: dict = {s: 1.0 - d}
            for u, x in r.items():
                if u in out:
                    for v in out[u]:
                        nxt[v] = nxt.get(v, 0.0) + d * x / len(out[u])
                else:
                    nxt[s] += d * x
            r = nxt
        expect.update({(s, v): x for v, x in r.items()})
    assert got.keys() == expect.keys()
    assert all(abs(got[k] - expect[k]) < 1e-12 for k in expect), (got, expect)


def test_personalized_pagerank_matches_python(spark):
    """Differential vs a direct dict implementation of the PPR recurrence
    (dangling mass restarts to the seed distribution)."""
    from credigraph_spark.graph import personalized_pagerank

    pairs = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (2, 5)]
    d, iters, seeds = 0.85, 4, [1, 4]
    e = edges_df(spark, pairs)
    got = {r["vid"]: r["rank"]
           for r in personalized_pagerank(
               e, spark.createDataFrame([(s,) for s in seeds], ["vid"]),
               damping=d, max_iter=iters).collect()}

    outd = {}
    for a, b in set(pairs):
        outd[a] = outd.get(a, 0) + 1
    p = {s: 1.0 / len(seeds) for s in seeds}
    r = dict(p)
    for _ in range(iters):
        dang = sum(v for k, v in r.items() if k not in outd)
        nxt = {}
        for (a, b) in set(pairs):
            if a in r:
                nxt[b] = nxt.get(b, 0.0) + r[a] / outd[a]
        r = {v: (1 - d) * p.get(v, 0.0) + d * (nxt.get(v, 0.0) + dang * p.get(v, 0.0))
             for v in set(nxt) | set(p)}
    assert got.keys() == r.keys()
    assert all(abs(got[v] - r[v]) < 1e-12 for v in r), (got, r)


def test_weighted_ppr_matches_python(spark):
    """Weighted PPR differential: forwarded mass rank*w/W(src), parallel
    edges summed, dangling restart to the seed distribution."""
    from credigraph_spark.graph import personalized_pagerank

    rows = [(1, 2, 2.0), (1, 2, 1.0), (2, 3, 4.0), (3, 1, 1.0),
            (3, 4, 3.0), (4, 5, 1.0), (2, 5, 2.0)]  # 5 dangling
    d, iters, seeds = 0.85, 4, [1, 4]
    e = spark.createDataFrame(rows, "src long, dst long, w double")
    got = {r["vid"]: r["rank"]
           for r in personalized_pagerank(
               e, spark.createDataFrame([(s,) for s in seeds], ["vid"]),
               damping=d, max_iter=iters, weight_col="w").collect()}

    w: dict = {}
    for a, b, x in rows:
        w[(a, b)] = w.get((a, b), 0.0) + x
    outw: dict = {}
    for (a, _), x in w.items():
        outw[a] = outw.get(a, 0.0) + x
    p = {s: 1.0 / len(seeds) for s in seeds}
    r = dict(p)
    for _ in range(iters):
        dang = sum(v for k, v in r.items() if k not in outw)
        nxt: dict = {}
        for (a, b), x in w.items():
            if a in r:
                nxt[b] = nxt.get(b, 0.0) + r[a] * x / outw[a]
        r = {v: (1 - d) * p.get(v, 0.0) + d * (nxt.get(v, 0.0) + dang * p.get(v, 0.0))
             for v in set(nxt) | set(p)}
    assert got.keys() == r.keys()
    assert all(abs(got[v] - r[v]) < 1e-12 for v in r), (got, r)


def test_ppr_one_action_per_iteration(spark):
    """VERDICT r3 #4: the dangling sum must ride the superstep Observation
    — no per-iteration scalar-aggregate (collect) job. The whole run may
    contain exactly ONE collect job (the static seed-count setup),
    independent of max_iter; each extra iteration adds at most 2 jobs
    (the eager localCheckpoint action + an optional planner-submitted
    broadcast build for the tiny state — not a driver action)."""
    from credigraph_spark.graph import personalized_pagerank

    pairs = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (2, 5)]
    e = edges_df(spark, pairs)
    seeds = spark.createDataFrame([(1,), (4,)], ["vid"])
    sc = spark.sparkContext
    st = sc.statusTracker()

    def run(n_iter, group):
        sc.setJobGroup(group, group)
        personalized_pagerank(e, seeds, max_iter=n_iter).count()
        sc.setJobGroup("other", "other")
        jids = st.getJobIdsForGroup(group)
        collects = 0
        for jid in jids:
            info = st.getJobInfo(jid)
            for sid in info.stageIds:
                si = st.getStageInfo(sid)
                if si and si.name.startswith("collect at"):
                    collects += 1
        return len(jids), collects

    j2, c2 = run(2, "ppr_g2")
    j4, c4 = run(4, "ppr_g4")
    # collect jobs are SETUP-only (the seed-count aggregate, which AQE may
    # split into sub-jobs) — they must NOT grow with iteration count.
    # Slack of 1 absorbs a load-dependent AQE sub-job split (observed
    # under a saturated box); a per-iteration collect leak would add >= 2
    # going 2 -> 4 iterations and still trips this.
    assert c4 - c2 <= 1, (c2, c4)
    assert j4 - j2 <= 4, (j2, j4)


def test_louvain_jobs_linear_in_rounds(spark):
    """Regression guard for the round-4 checkpoint fix: without the
    per-round eager localCheckpoint, each Louvain round re-executes the
    previous round's plan per reference (exponential in rounds). With
    it, job count grows LINEARLY: going 2 -> 4 rounds must add only a
    bounded number of jobs per extra round."""
    from credigraph_spark.graph import louvain_local_move

    pairs = [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4),
             (6, 7), (7, 8), (8, 6)]
    e = edges_df(spark, pairs)
    sc = spark.sparkContext
    st = sc.statusTracker()

    def run(rounds, group):
        sc.setJobGroup(group, group)
        louvain_local_move(e, rounds=rounds).count()
        sc.setJobGroup("other", "other")
        return len(st.getJobIdsForGroup(group))

    j2 = run(2, "louv_g2")
    j4 = run(4, "louv_g4")
    j6 = run(6, "louv_g6")
    # each extra round = 1 checkpoint action + a fixed set of planner-
    # submitted broadcast builds (~11 jobs/round measured). LINEAR means
    # equal increments; exponential re-execution would make the second
    # increment far larger than the first.
    d1, d2 = j4 - j2, j6 - j4
    assert abs(d2 - d1) <= 6, (j2, j4, j6)
    assert d2 <= 2 * d1, (j2, j4, j6)


def test_clustering_coefficient_k4_with_pendant(spark):
    """K4 (every lcc = 1) + pendant on vertex 0: deg(0)=4, T(0)=3 ->
    lcc(0) = 6/12 = 0.5; pendant has deg 1 -> lcc 0."""
    from credigraph_spark.graph import clustering_coefficient

    k4 = [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)]
    got = {r["vid"]: (r["deg"], r["lcc"])
           for r in clustering_coefficient(edges_df(spark, k4 + [(0, 5)])).collect()}
    assert got[0] == (4, 0.5)
    assert got[5] == (1, 0.0)
    for v in (1, 2, 3):
        assert got[v] == (3, 1.0)


def test_hits_matches_python(spark):
    """Differential vs a direct dict implementation of the same recurrence
    (auth <- sum hub over in-edges, L1 normalize; hub <- sum new auth over
    out-edges, L1 normalize)."""
    import random

    from credigraph_spark.graph import hits

    rng = random.Random(7)
    pairs = list({(rng.randrange(12), rng.randrange(12)) for _ in range(40)})
    pairs = [(a, b) for a, b in pairs if a != b]
    iters = 3
    got = {r["vid"]: (r["hub"], r["auth"])
           for r in hits(edges_df(spark, pairs), max_iter=iters).collect()}

    verts = sorted({v for e in pairs for v in e})
    n = len(verts)
    hub = {v: 1.0 / n for v in verts}
    auth = {v: 1.0 / n for v in verts}
    for _ in range(iters):
        a = {v: 0.0 for v in verts}
        for (u, v) in pairs:
            a[v] += hub[u]
        s = sum(a.values())
        auth = {v: x / s for v, x in a.items()}
        h = {v: 0.0 for v in verts}
        for (u, v) in pairs:
            h[u] += auth[v]
        s = sum(h.values())
        hub = {v: x / s for v, x in h.items()}
    assert got.keys() == set(verts)
    for v in verts:
        assert abs(got[v][0] - round(hub[v], 8)) < 1e-8, v
        assert abs(got[v][1] - round(auth[v], 8)) < 1e-8, v


def test_hits_tolerance_converges_to_fixed_point(spark):
    """VERDICT r3 #8: tolerance mode runs until the hub+auth L1 delta
    drops below tol; the converged scores must match a long fixed-iter
    run, and the l1_history must be monotonically shrinking at the end."""
    from credigraph_spark.graph import hits, hits_to_convergence

    pairs = [(1, 2), (1, 3), (2, 3), (3, 4), (4, 1), (2, 4), (5, 3)]
    e = edges_df(spark, pairs)
    conv, info = hits_to_convergence(e, tol=1e-9, max_iter=60)
    assert info["converged"] and 1 < info["iterations"] < 60
    assert info["l1_history"][-1] < 1e-9 < info["l1_history"][0]

    fixed = hits(e, max_iter=40)  # far past convergence on this fixture
    want = {r["vid"]: (r["hub"], r["auth"]) for r in fixed.collect()}
    got = {r["vid"]: (r["hub"], r["auth"]) for r in conv.collect()}
    assert got.keys() == want.keys()
    for v in want:
        assert abs(got[v][0] - want[v][0]) < 1e-6
        assert abs(got[v][1] - want[v][1]) < 1e-6


def test_kcore_clique_survives_chain_peels(spark):
    """Triangle + tail chain: the 2-core is exactly the triangle; the chain
    peels off one vertex per round (multi-round fixpoint)."""
    from credigraph_spark.graph import k_core

    tri = [(0, 1), (1, 2), (0, 2)]
    chain = [(2, 10), (10, 11), (11, 12)]
    result, rounds = k_core(edges_df(spark, tri + chain), k=2)
    got = {r["vid"]: r["deg"] for r in result.collect()}
    assert got == {0: 2, 1: 2, 2: 2}
    assert rounds >= 3  # the 3-vertex tail needs one peel round each

    # fixed-round truncation: after 1 round only the outermost leaf is gone
    partial, r1 = k_core(edges_df(spark, tri + chain), k=2, max_rounds=1)
    assert r1 == 1
    got1 = {r["vid"]: r["deg"] for r in partial.collect()}
    assert set(got1) == {0, 1, 2, 10, 11}


def test_link_prediction_matches_python(spark):
    """CN / Jaccard / Adamic-Adar vs a direct Python computation over the
    undirected cleaned graph; candidate set = non-adjacent pairs with a
    common neighbor."""
    import math

    from credigraph_spark.graph import link_prediction_scores

    pairs = [(1, 2), (1, 3), (2, 3), (3, 4), (4, 5), (2, 5), (5, 1), (2, 4)]
    got = {(r["u"], r["v"]): (r["common_neighbors"], r["jaccard"], r["adamic_adar"])
           for r in link_prediction_scores(edges_df(spark, pairs)).collect()}

    adj: dict = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want = {}
    vs = sorted(adj)
    for i, u in enumerate(vs):
        for v in vs[i + 1:]:
            if v in adj[u]:
                continue
            cn = adj[u] & adj[v]
            if not cn:
                continue
            aa = sum(1.0 / math.log(len(adj[w])) for w in cn)
            want[(u, v)] = (len(cn),
                            len(cn) / len(adj[u] | adj[v]), aa)
    assert got.keys() == want.keys(), (got.keys(), want.keys())
    for k in want:
        assert got[k][0] == want[k][0]
        assert abs(got[k][1] - want[k][1]) < 1e-12
        assert abs(got[k][2] - want[k][2]) < 1e-12


def _node2vec_python(pairs, seeds, walk_length, p, q, wps, seed):
    import hashlib

    adj: dict = {}
    eset = set()
    for a, b in pairs:
        if a != b and (a, b) not in eset:
            eset.add((a, b))
            adj.setdefault(a, []).append(b)
    out = []
    for s in seeds:
        for widx in range(wps):
            prev, v = None, s
            out.append((s, widx, 0, s))
            for step in range(1, walk_length + 1):
                cands = sorted(adj.get(v, []))
                if not cands:
                    break
                alphas = []
                for x in cands:
                    if prev is not None and x == prev:
                        alphas.append(1.0 / p)
                    elif prev is not None and (prev, x) in eset:
                        alphas.append(1.0)
                    else:
                        alphas.append(1.0 / q)
                hx = hashlib.md5(
                    f"{seed}:{s}:{widx}:{step}".encode()).hexdigest()
                frac = float(int(hx[:15], 16)) / float(16 ** 15)
                cum, tot = [], 0.0
                for a in alphas:
                    tot = tot + a
                    cum.append(tot)
                target = frac * tot
                nxt = next(x for x, c in zip(cands, cum) if c >= target)
                out.append((s, widx, step, nxt))
                prev, v = v, nxt
    return sorted(out)


def test_node2vec_walks_match_python(spark):
    """Engine walks vs the plain-Python exact interval sampler above."""
    from credigraph_spark.graph import node2vec_walks

    random.seed(4)
    pairs = list({(random.randrange(12), random.randrange(12))
                  for _ in range(60)})
    pairs = [(a, b) for a, b in pairs if a != b]
    seeds_df = spark.createDataFrame([(0,), (1,), (2,)], ["vid"])
    got = sorted(
        (r["start"], r["widx"], r["step"], r["vid"])
        for r in node2vec_walks(edges_df(spark, pairs), seeds_df,
                                walk_length=4, p=0.5, q=2.0,
                                walks_per_seed=2, seed=9).collect())
    want = _node2vec_python(pairs, [0, 1, 2], 4, 0.5, 2.0, 2, 9)
    assert got == want, (got[:8], want[:8])


def test_node2vec_bias_prefers_return_when_p_small(spark):
    """With p tiny the return edge dominates the alpha mass, so step 2
    goes back to the start whenever the return edge exists."""
    from credigraph_spark.graph import node2vec_walks

    # 0 <-> i plus a decoy i -> i+10, so step 2 has a real choice
    pairs = ([(0, i) for i in range(1, 7)] + [(i, 0) for i in range(1, 7)]
             + [(i, i + 10) for i in range(1, 7)])
    seeds_df = spark.createDataFrame([(0,)], ["vid"])
    rows = node2vec_walks(edges_df(spark, pairs), seeds_df, walk_length=2,
                          p=1e-6, q=1.0, walks_per_seed=8,
                          seed=3).collect()
    step2 = [r["vid"] for r in rows if r["step"] == 2]
    assert step2 and all(v == 0 for v in step2)
    """s_core peels by summed incident weight; with unit weights it
    equals k_core."""
    from credigraph_spark.graph import k_core, s_core

    pairs = [(1, 2, 5), (2, 3, 1), (1, 3, 4), (3, 4, 1), (4, 5, 9),
             (2, 1, 2)]
    df = spark.createDataFrame(pairs, ["src", "dst", "w"])
    got, rounds = s_core(df, s=8, max_rounds=None)
    got = {r["vid"]: r["strength"] for r in got.collect()}

    # python reference: symmetrize with summed parallel edges, peel
    und: dict = {}
    for a, b, w in pairs:
        if a == b:
            continue
        und[(a, b)] = und.get((a, b), 0) + w
        und[(b, a)] = und.get((b, a), 0) + w
    while True:
        st: dict = {}
        for (a, _), w in und.items():
            st[a] = st.get(a, 0) + w
        keep = {v for v, x in st.items() if x >= 8}
        nxt = {k: w for k, w in und.items()
               if k[0] in keep and k[1] in keep}
        if nxt == und:
            break
        und = nxt
    want: dict = {}
    for (a, _), w in und.items():
        want[a] = want.get(a, 0) + w
    assert got == want, (got, want)

    # unit weights degenerate to k_core
    uw = spark.createDataFrame(
        [(a, b, 1) for a, b, _ in pairs], ["src", "dst", "w"])
    sc = {r["vid"]: r["strength"]
          for r in s_core(uw, s=2, max_rounds=3)[0].collect()}
    kc = {r["vid"]: r["deg"]
          for r in k_core(df.select("src", "dst"), k=2, max_rounds=3)[0].collect()}
    # k_core dedups parallel edges; drop the (1,2)/(2,1) doubling for parity
    uw2 = spark.createDataFrame(
        [(a, b, 1) for a, b in sorted({tuple(sorted((a, b)))
                                       for a, b, _ in pairs})],
        ["src", "dst", "w"])
    sc2 = {r["vid"]: r["strength"]
           for r in s_core(uw2, s=2, max_rounds=3)[0].collect()}
    assert sc2 == kc, (sc, sc2, kc)


def test_diameter_2approx_path_and_star(spark):
    """Double-BFS on a path finds the true diameter; on a star it finds 2;
    bounded horizon clips the reported value."""
    from credigraph_spark.graph import diameter_2approx

    path = [(1, 2), (2, 3), (3, 4), (4, 5)]
    r = diameter_2approx(edges_df(spark, path), max_hops=10,
                         directed=False).collect()[0]
    assert (r["start_vid"], r["far_vid"], r["far_dist"],
            r["diameter_lb"]) == (1, 5, 4, 4)

    star = [(0, i) for i in range(1, 6)]
    r = diameter_2approx(edges_df(spark, star), max_hops=10,
                         directed=False).collect()[0]
    assert r["start_vid"] == 0 and r["far_dist"] == 1 and r["diameter_lb"] == 2

    r = diameter_2approx(edges_df(spark, path), max_hops=2,
                         directed=False).collect()[0]
    assert r["far_dist"] == 2 and r["diameter_lb"] == 2  # horizon-clipped


def _louvain_python(pairs, rounds):
    """Reference synchronous local-move Louvain (same tie-breaks)."""
    und = set()
    for a, b in pairs:
        if a != b:
            und.add((a, b))
            und.add((b, a))
    deg: dict = {}
    for s, _ in und:
        deg[s] = deg.get(s, 0) + 1
    two_m = float(len(und))
    comm = {v: v for v in deg}
    for _ in range(rounds):
        tot: dict = {}
        for v, c in comm.items():
            tot[c] = tot.get(c, 0) + deg[v]
        w: dict = {}
        for s, d in und:
            c = comm[d]
            w[(s, c)] = w.get((s, c), 0) + 1
        new = {}
        for v in deg:
            cands = {c for (u, c) in w if u == v} | {comm[v]}
            best = None
            for c in sorted(cands):
                tot_ex = tot[c] - (deg[v] if c == comm[v] else 0)
                score = float(w.get((v, c), 0)) - float(deg[v]) * float(tot_ex) / two_m
                if best is None or score > best[0]:
                    best = (score, c)
            new[v] = best[1]
        comm = new
    return comm


def test_louvain_local_move_matches_python(spark):
    """2 synchronous rounds vs the plain-Python reference above on a
    two-cliques-plus-bridge fixture (and a ring)."""
    from credigraph_spark.graph import louvain_local_move

    fixtures = [
        # two triangles joined by one bridge edge
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)],
        # 6-ring
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 1)],
    ]
    for pairs in fixtures:
        got = {r["vid"]: r["community"]
               for r in louvain_local_move(edges_df(spark, pairs),
                                           rounds=2).collect()}
        want = _louvain_python(pairs, rounds=2)
        assert got == want, (pairs, got, want)


def test_louvain_separates_cliques(spark):
    """Two K4s joined by a single bridge end up in two communities."""
    from credigraph_spark.graph import louvain_local_move

    k4a = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    k4b = [(a, b) for a in range(5, 9) for b in range(a + 1, 9)]
    pairs = k4a + k4b + [(4, 5)]
    got = {r["vid"]: r["community"]
           for r in louvain_local_move(edges_df(spark, pairs),
                                       rounds=3).collect()}
    ca = {got[v] for v in (1, 2, 3)}
    cb = {got[v] for v in (6, 7, 8)}
    assert len(ca) == 1 and len(cb) == 1 and ca != cb


def test_weighted_clustering_matches_python(spark):
    """Barrat c_w vs direct Python on a weighted triangle + pendant."""
    from credigraph_spark.graph import weighted_clustering_coefficient

    wpairs = [(1, 2, 4), (2, 3, 2), (1, 3, 6), (3, 4, 10), (1, 4, 2),
              (4, 5, 8)]
    df = spark.createDataFrame(wpairs, ["src", "dst", "w"])
    got = {r["vid"]: r["weighted_lcc"]
           for r in weighted_clustering_coefficient(df).collect()}

    und: dict = {}
    for a, b, w in wpairs:
        und[(a, b)] = und[(b, a)] = w
    verts = sorted({x for a, b, _ in wpairs for x in (a, b)})
    nbrs = {v: sorted({b for (a, b) in und if a == v}) for v in verts}
    for v in verts:
        k = len(nbrs[v])
        s = sum(und[(v, n)] for n in nbrs[v])
        if k < 2:
            assert got[v] == 0.0
            continue
        c = 0.0
        for i, j in itertools.combinations(nbrs[v], 2):
            if (i, j) in und:
                c += (und[(v, i)] + und[(v, j)]) / 2
        assert abs(got[v] - c / (s * (k - 1))) < 1e-12, (v, got[v])


def test_weighted_betweenness_matches_python(spark):
    """Weighted seed Brandes vs a direct Python reference (bounded
    Bellman-Ford distances, SP-DAG, sigma/delta fixpoints)."""
    from credigraph_spark.graph import weighted_betweenness_from_seeds

    wpairs = [(1, 2, 1.0), (2, 3, 1.0), (1, 3, 3.0), (3, 4, 2.0),
              (2, 4, 4.0), (4, 5, 1.0), (1, 5, 9.0), (5, 6, 2.0)]
    df = spark.createDataFrame(wpairs, ["src", "dst", "w"])
    seeds_df = spark.createDataFrame([(1,), (2,)], ["vid"])
    R = 4
    got = {r["vid"]: r["betweenness"]
           for r in weighted_betweenness_from_seeds(
               df, seeds_df, max_rounds=R).collect()}

    # python reference
    import itertools
    adj: dict = {}
    for a, b, w in wpairs:
        adj.setdefault(a, []).append((b, w))
    verts = sorted({x for a, b, _ in wpairs for x in (a, b)})
    B = {v: 0.0 for v in verts}
    for s in (1, 2):
        dist = {s: 0.0}
        for _ in range(R):
            snap = dict(dist)  # strict per-round relaxation (engine is
            for u in snap:     # a synchronous bounded Bellman-Ford)
                for v, w in adj.get(u, []):
                    nd = snap[u] + w
                    if v not in dist or nd < dist[v]:
                        dist[v] = nd
        dag = [(u, v) for u in dist for v, w in adj.get(u, [])
               if v in dist and dist[u] + w == dist[v]]
        sigma = {s: 1}
        for _ in range(R):
            new = {s: 1}
            for u, v in dag:
                if u in sigma:
                    new[v] = new.get(v, 0) + sigma[u]
            sigma = new
        delta = {}
        for _ in range(R):
            new = {}
            for u, v in dag:
                if v in sigma and u in sigma:
                    new[u] = new.get(u, 0.0) + sigma[u] * (
                        (1.0 + delta.get(v, 0.0)) / sigma[v])
            delta = new
        for v, d in delta.items():
            if v != s:
                B[v] += d
    for v in verts:
        assert abs(got[v] - round(B[v], 6)) < 1e-9, (v, got[v], B[v])


def test_louvain_two_level(spark):
    """Phase 2 with zero coarse rounds is the identity on phase-1
    communities; with one coarse round, well-separated cliques stay
    separate and chained triangle pairs can merge."""
    from credigraph_spark.graph import louvain_local_move, louvain_two_level

    k4a = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    k4b = [(a, b) for a in range(5, 9) for b in range(a + 1, 9)]
    pairs = k4a + k4b + [(4, 5)]
    df = edges_df(spark, pairs)
    flat = {r["vid"]: r["community"]
            for r in louvain_local_move(df, rounds=2).collect()}
    ident = {r["vid"]: r["community"]
             for r in louvain_two_level(df, rounds=2,
                                        coarse_rounds=0).collect()}
    assert ident == flat
    two = {r["vid"]: r["community"]
           for r in louvain_two_level(df, rounds=2,
                                      coarse_rounds=1).collect()}
    # each K4 still maps to one community, and the two stay distinct
    ca = {two[v] for v in (1, 2, 3)}
    cb = {two[v] for v in (6, 7, 8)}
    assert len(ca) == 1 and len(cb) == 1 and ca != cb


def test_cocitation_and_coupling_match_python(spark):
    """Co-citation (shared in-neighbors) and bibliographic coupling
    (shared out-neighbors) + cosine normalization vs direct Python over
    the DIRECTED deduped graph."""
    import math

    from credigraph_spark.graph import cocitation_scores

    pairs = [(1, 2), (1, 3), (4, 2), (4, 3), (5, 2), (2, 3), (3, 6),
             (2, 6), (1, 6), (5, 3)]
    out_adj: dict = {}
    in_adj: dict = {}
    for a, b in pairs:
        out_adj.setdefault(a, set()).add(b)
        in_adj.setdefault(b, set()).add(a)

    for mode, nbrs in (("cocitation", in_adj), ("coupling", out_adj)):
        got = {(r["u"], r["v"]): (r["shared"], r["cosine"])
               for r in cocitation_scores(
                   edges_df(spark, pairs), mode=mode).collect()}
        want = {}
        vs = sorted(nbrs)
        for i, u in enumerate(vs):
            for v in vs[i + 1:]:
                shared = nbrs[u] & nbrs[v]
                if not shared:
                    continue
                want[(u, v)] = (
                    len(shared),
                    len(shared) / math.sqrt(len(nbrs[u]) * len(nbrs[v])))
        assert got.keys() == want.keys(), (mode, got.keys(), want.keys())
        for k in want:
            assert got[k][0] == want[k][0], (mode, k)
            assert abs(got[k][1] - want[k][1]) < 1e-12, (mode, k)


def test_cocitation_center_cap_drops_only_capped_centers(spark):
    """max_center_degree removes pairs whose only shared citer is a hub,
    but cosine normalization still uses exact (pre-cap) degrees."""
    from credigraph_spark.graph import cocitation_scores

    # hub 0 cites 1..5 (fan-out 5); 9 cites only 1 and 2 (fan-out 2)
    pairs = [(0, n) for n in (1, 2, 3, 4, 5)] + [(9, 1), (9, 2)]
    got = {(r["u"], r["v"]): (r["shared"], r["cosine"])
           for r in cocitation_scores(
               edges_df(spark, pairs), max_center_degree=2).collect()}
    # only (1,2) survives, through center 9; indegrees are 2 and 2 (exact)
    assert set(got) == {(1, 2)}
    assert got[(1, 2)][0] == 1
    assert abs(got[(1, 2)][1] - 1 / 2.0) < 1e-12


def test_link_prediction_hub_cap_drops_only_hub_wedges(spark):
    """max_neighbor_degree drops wedges CENTERED at hubs but keeps exact
    degrees in the retained scores."""
    from credigraph_spark.graph import link_prediction_scores

    # hub 0 connects 1..5; 1-2 also share low-degree center 6
    pairs = [(0, i) for i in range(1, 6)] + [(6, 1), (6, 2)]
    capped = {(r["u"], r["v"]): r["common_neighbors"]
              for r in link_prediction_scores(
                  edges_df(spark, pairs), max_neighbor_degree=2).collect()}
    # wedges centered at hub 0 (deg 5) are gone: of the C(5,2)=10 leaf
    # pairs only (1,2) survives, via center 6 (deg 2); (0,6) keeps both
    # its low-degree centers 1 and 2
    assert capped == {(1, 2): 1, (0, 6): 2}


def test_coreness_matches_python_peel(spark):
    """Full per-vertex core numbers vs a direct Python peel (the
    networkx core_number semantics) on a composite fixture: K5 (core 4)
    + a triangle hanging off it (core 2) + a chain tail (core 1)."""
    from credigraph_spark.graph import coreness

    k5 = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    tri = [(4, 10), (10, 11), (11, 4)]
    chain = [(11, 20), (20, 21), (21, 22)]
    pairs = k5 + tri + chain
    got = {r["vid"]: r["core"] for r in coreness(edges_df(spark, pairs)).collect()}

    # Python reference peel
    adj: dict = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want = {}
    k = 1
    while adj:
        while True:
            drop = [v for v, ns in adj.items() if len(ns) <= k]
            if not drop:
                break
            for v in drop:
                want[v] = k
                for n in adj.pop(v):
                    if n in adj:
                        adj[n].discard(v)
        k += 1
    # the peel above removes deg<=k at level k -> core number is k
    assert got == want, (got, want)
    assert got[0] == 4 and got[10] == 2 and got[22] == 1


def test_coreness_bounded_matches_full_below_cap(spark):
    """The capped fixed-round variant (the oracle form) agrees with the
    full decomposition for vertices whose core < cap and reports the cap
    for the rest, when rounds_per_k is generous enough to converge."""
    from credigraph_spark.graph import coreness

    k5 = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    tail = [(4, 9), (9, 8)]
    full = {r["vid"]: r["core"]
            for r in coreness(edges_df(spark, k5 + tail)).collect()}
    capped = {r["vid"]: r["core"]
              for r in coreness(edges_df(spark, k5 + tail), k_max=2,
                                rounds_per_k=8).collect()}
    assert capped == {v: min(c, 2) for v, c in full.items()}


def test_reciprocity_and_assortativity(spark):
    from credigraph_spark.analytics import degree_assortativity, reciprocity

    row = reciprocity(edges_df(spark, [(1, 2), (2, 1), (1, 3)])).collect()[0]
    assert (row["n_edges"], row["n_reciprocal"]) == (3, 2)
    assert abs(row["reciprocity"] - 2 / 3) < 1e-12

    # star graph: perfectly disassortative -> -1
    star = [(0, 1), (0, 2), (0, 3)]
    a = degree_assortativity(edges_df(spark, star)).collect()[0]
    assert a["n_ends"] == 6
    assert a["assortativity"] == -1.0


def test_reciprocity_cleans_self_loops_and_nulls(spark):
    """ADVICE r3: a self-loop matched its own reverse (counted reciprocal)
    and null endpoints inflated n_edges — both must be dropped inside."""
    from credigraph_spark.analytics import reciprocity

    dirty = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 3), (4, 4), (5, None), (None, 6)],
        "src bigint, dst bigint")
    row = reciprocity(dirty).collect()[0]
    assert (row["n_edges"], row["n_reciprocal"]) == (3, 2)
    assert abs(row["reciprocity"] - 2 / 3) < 1e-12


def test_assortativity_decimal_moments_no_int64_overflow(spark):
    """VERDICT r3 #3: with hub degrees ~3e9 a single dx*dy term exceeds
    int64 (~9.2e18) — summed as long the moments would overflow/wrap.
    Feed the factored Pearson step endpoint degrees of that size and
    check the exact value against arbitrary-precision Python."""
    import math

    from credigraph_spark.analytics import pearson_of_degree_pairs

    d = 3_000_000_000
    rows = [(d, d + 1), (d + 1, d + 2), (d + 2, d)]
    got = pearson_of_degree_pairs(
        spark.createDataFrame(rows, "dx long, dy long")).collect()[0]

    n = len(rows)
    sx = sum(x for x, _ in rows); sy = sum(y for _, y in rows)
    sxy = sum(x * y for x, y in rows)
    sxx = sum(x * x for x, _ in rows); syy = sum(y * y for _, y in rows)
    assert sxy > 2**63 - 1  # a single term would already wrap int64
    want = (n * sxy - sx * sy) / (
        math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy))
    assert got["n_ends"] == n
    assert abs(got["assortativity"] - round(want, 8)) < 1e-8


def test_scc_matches_tarjan_on_structured_graphs(spark):
    """Cycles, bridged cycles, self loops, and a descending path (the
    phase-count worst case — trim must peel it) all land on the Tarjan
    oracle exactly, with scc_id = max vid per component."""
    from credigraph_spark.graph import strongly_connected_components
    from credigraph_spark.oracles import scc_oracle

    cases = [
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 4), (6, 1)],
        [(5, 4), (4, 3), (3, 2), (2, 1)],          # descending DAG path
        [(1, 1), (1, 2)],                          # self loop
    ]
    for edges in cases:
        labels, info = strongly_connected_components(edges_df(spark, edges))
        got = {r["vid"]: r["scc_id"] for r in labels.collect()}
        assert got == scc_oracle(edges), edges
        assert info["converged"]


def test_scc_random_graph_matches_tarjan(spark):
    from credigraph_spark.graph import strongly_connected_components
    from credigraph_spark.oracles import scc_oracle

    rng = random.Random(11)
    edges = sorted({(rng.randrange(60), rng.randrange(60))
                    for _ in range(150)})
    labels, info = strongly_connected_components(edges_df(spark, edges))
    got = {r["vid"]: r["scc_id"] for r in labels.collect()}
    assert got == scc_oracle(edges)
    # the dense random digraph has one giant SCC — a single phase finds it
    assert info["phases"] == 1


def test_bowtie_classes_fixture(spark):
    """core cycle {1,2,3}; 0 feeds it (in), 9 is fed by it (out), the
    7->8 island is other."""
    from credigraph_spark.graph import bowtie_classes
    from credigraph_spark.oracles import bowtie_oracle

    edges = [(1, 2), (2, 3), (3, 1), (0, 1), (3, 9), (7, 8)]
    got = {r["vid"]: r["cls"]
           for r in bowtie_classes(edges_df(spark, edges)).collect()}
    assert got == bowtie_oracle(edges)
    assert got == {0: "in", 1: "core", 2: "core", 3: "core",
                   7: "other", 8: "other", 9: "out"}


def test_bowtie_random_matches_python(spark):
    from credigraph_spark.graph import bowtie_classes
    from credigraph_spark.oracles import bowtie_oracle

    rng = random.Random(23)
    edges = sorted({(rng.randrange(40), rng.randrange(40))
                    for _ in range(70)})
    got = {r["vid"]: r["cls"]
           for r in bowtie_classes(edges_df(spark, edges)).collect()}
    assert got == bowtie_oracle(edges)


def test_ktruss_clique_survives_noise(spark):
    """K5 is a 5-truss (every edge in 3 triangles); pendant chains and a
    square (no triangles) peel away at k=4."""
    from credigraph_spark.graph import k_truss
    from credigraph_spark.oracles import ktruss_oracle

    k5 = [(i, j) for i in range(5) for j in range(i + 1, 5)]
    noise = [(4, 10), (10, 11), (20, 21), (21, 22), (22, 23), (23, 20)]
    edges = k5 + noise
    kept, rounds = k_truss(edges_df(spark, edges), k=4)
    got = {(r["src"], r["dst"]) for r in kept.collect()}
    assert got == ktruss_oracle(edges, 4) == set(k5)
    assert rounds >= 1


def test_ktruss_random_and_fixed_rounds(spark):
    from credigraph_spark.graph import k_truss
    from credigraph_spark.oracles import ktruss_oracle

    rng = random.Random(31)
    edges = sorted({(rng.randrange(30), rng.randrange(30))
                    for _ in range(120)})
    for max_rounds in (1, 2, None):
        kept, _ = k_truss(edges_df(spark, edges), k=4, max_rounds=max_rounds)
        got = {(r["src"], r["dst"]) for r in kept.collect()}
        assert got == ktruss_oracle(edges, 4, max_rounds), max_rounds


def test_harmonic_centrality_matches_python(spark):
    from credigraph_spark.graph import harmonic_centrality
    from credigraph_spark.oracles import harmonic_oracle

    rng = random.Random(41)
    edges = sorted({(rng.randrange(40), rng.randrange(40))
                    for _ in range(90)})
    seeds = [0, 1, 2, 39]
    sdf = spark.createDataFrame([(s,) for s in seeds], ["vid"])
    got = {r["seed"]: r["centrality"]
           for r in harmonic_centrality(edges_df(spark, edges), sdf,
                                        max_hops=3).collect()}
    expect = harmonic_oracle(edges, seeds, 3)
    # unreachable-from seeds present with 0.0 on both sides
    assert got == expect


def test_closeness_centrality_matches_python(spark):
    from credigraph_spark.graph import closeness_centrality
    from credigraph_spark.oracles import closeness_oracle

    rng = random.Random(43)
    edges = sorted({(rng.randrange(40), rng.randrange(40))
                    for _ in range(90)})
    seeds = [0, 1, 2, 39]
    sdf = spark.createDataFrame([(s,) for s in seeds], ["vid"])
    got = {r["seed"]: (r["n_reachable"], r["sum_dist"], r["closeness"])
           for r in closeness_centrality(edges_df(spark, edges), sdf,
                                         max_hops=3).collect()}
    expect = closeness_oracle(edges, seeds, 3)
    assert got == expect


def test_closeness_centrality_isolated_seed(spark):
    """A seed with no out-edges (directed) reaches nothing: (0, 0, 0.0)."""
    from credigraph_spark.graph import closeness_centrality

    edges = [(1, 2), (2, 3)]
    sdf = spark.createDataFrame([(3,), (1,)], ["vid"])
    got = {r["seed"]: (r["n_reachable"], r["sum_dist"], r["closeness"])
           for r in closeness_centrality(edges_df(spark, edges), sdf,
                                         max_hops=3).collect()}
    assert got[3] == (0, 0, 0.0)
    assert got[1] == (2, 3, round(2 / 3, 8))


def test_weighted_sssp_matches_python(spark):
    from credigraph_spark.graph import weighted_sssp
    from credigraph_spark.oracles import sssp_oracle

    rng = random.Random(47)
    edges = sorted({(rng.randrange(30), rng.randrange(30))
                    for _ in range(80)})
    wedges = [(s, d, float(rng.randrange(1, 10))) for s, d in edges]
    wdf = spark.createDataFrame(wedges, "src long, dst long, w double")
    seeds = [0, 1, 29]
    sdf = spark.createDataFrame([(s,) for s in seeds], ["vid"])
    got = {r["vid"]: r["dist"]
           for r in weighted_sssp(wdf, sdf, max_rounds=4).collect()}
    assert got == sssp_oracle(wedges, seeds, 4)


def test_weighted_sssp_prefers_light_long_path(spark):
    """1->2 direct costs 10; 1->3->4->2 costs 3: bounded BF with enough
    rounds takes the lighter 3-edge path, with 1 round the heavy edge."""
    from credigraph_spark.graph import weighted_sssp

    wdf = spark.createDataFrame(
        [(1, 2, 10.0), (1, 3, 1.0), (3, 4, 1.0), (4, 2, 1.0)],
        "src long, dst long, w double")
    sdf = spark.createDataFrame([(1,)], ["vid"])
    d3 = {r["vid"]: r["dist"]
          for r in weighted_sssp(wdf, sdf, max_rounds=3).collect()}
    assert d3[2] == 3.0
    d1 = {r["vid"]: r["dist"]
          for r in weighted_sssp(wdf, sdf, max_rounds=1).collect()}
    assert d1[2] == 10.0


def test_eccentricity_matches_python(spark):
    from credigraph_spark.graph import eccentricity
    from credigraph_spark.oracles import eccentricity_oracle

    rng = random.Random(53)
    edges = sorted({(rng.randrange(40), rng.randrange(40))
                    for _ in range(90)})
    seeds = [0, 1, 2, 39]
    sdf = spark.createDataFrame([(s,) for s in seeds], ["vid"])
    got = {r["seed"]: (r["n_reachable"], r["ecc"])
           for r in eccentricity(edges_df(spark, edges), sdf,
                                 max_hops=3).collect()}
    assert got == eccentricity_oracle(edges, seeds, 3)


def test_eccentricity_isolated_and_chain(spark):
    from credigraph_spark.graph import eccentricity

    edges = [(1, 2), (2, 3), (3, 4), (4, 5)]
    sdf = spark.createDataFrame([(1,), (5,)], ["vid"])
    got = {r["seed"]: (r["n_reachable"], r["ecc"])
           for r in eccentricity(edges_df(spark, edges), sdf,
                                 max_hops=3).collect()}
    assert got[1] == (3, 3)      # horizon-capped below the true ecc of 4
    assert got[5] == (0, 0)      # sink: nothing reachable, directed


def test_katz_matches_python(spark):
    from credigraph_spark.graph import katz_centrality
    from credigraph_spark.oracles import katz_oracle

    rng = random.Random(59)
    edges = sorted({(rng.randrange(30), rng.randrange(30))
                    for _ in range(70)})
    out, info = katz_centrality(edges_df(spark, edges), alpha=0.05,
                                beta=1.0, max_iter=4)
    got = {r["vid"]: round(r["x"], 8) for r in out.collect()}
    expect = {v: round(x, 8)
              for v, x in katz_oracle(edges, 0.05, 1.0, 4).items()}
    assert got == expect
    assert info["iterations"] == 4


def test_katz_nonreceiver_only_in_neighbors(spark):
    """A receiver whose ONLY in-neighbors are non-receivers must keep
    getting their constant contribution (the static-base fold): in
    1->2, 3->2, vertex 2's x = beta + 2*alpha*beta at every iter >= 1."""
    from credigraph_spark.graph import katz_centrality

    out, _ = katz_centrality(edges_df(spark, [(1, 2), (3, 2)]),
                             alpha=0.1, beta=1.0, max_iter=3)
    got = {r["vid"]: r["x"] for r in out.collect()}
    assert got[2] == pytest.approx(1.0 + 2 * 0.1 * 1.0)
    assert got[1] == 1.0 and got[3] == 1.0


def test_katz_tol_stops_early(spark):
    from credigraph_spark.graph import katz_centrality

    edges = [(1, 2), (2, 3), (3, 1), (1, 4)]
    out, info = katz_centrality(edges_df(spark, edges), alpha=0.05,
                                beta=1.0, max_iter=50, tol=1e-9)
    assert info["converged"] and info["iterations"] < 50
    # geometric-series fixpoint sanity: x ~ (I - alpha A^T)^-1 beta*1
    import numpy as np
    verts = sorted({v for e in edges for v in e})
    idx = {v: i for i, v in enumerate(verts)}
    A = np.zeros((len(verts), len(verts)))
    for s, d in edges:
        A[idx[d], idx[s]] = 0.05
    x = np.linalg.solve(np.eye(len(verts)) - A, np.ones(len(verts)))
    got = {r["vid"]: r["x"] for r in out.collect()}
    for v in verts:
        assert got[v] == pytest.approx(x[idx[v]], abs=1e-6)


def test_modularity_two_cliques(spark):
    """Two K4s joined by one bridge: the natural 2-community labeling has
    high modularity; the all-one-community labeling has Q = 0 exactly."""
    from credigraph_spark.analytics import modularity
    from credigraph_spark.oracles import modularity_oracle

    c1 = [(i, j) for i in range(4) for j in range(i + 1, 4)]
    c2 = [(i, j) for i in range(10, 14) for j in range(i + 1, 14)]
    edges = c1 + c2 + [(3, 10)]
    lab = {v: (0 if v < 10 else 1) for v in range(14) if v < 4 or v >= 10}
    ldf = spark.createDataFrame(list(lab.items()), "vid long, label long")
    row = modularity(edges_df(spark, edges), ldf).collect()[0]
    assert row["n_edges"] == len(edges)
    assert row["n_communities"] == 2
    assert row["modularity"] == modularity_oracle(edges, lab) > 0.3

    one = spark.createDataFrame([(v, 7) for v in lab], "vid long, label long")
    row1 = modularity(edges_df(spark, edges), one).collect()[0]
    assert row1["modularity"] == 0.0


def test_lpa_weighted_flips_majority(spark):
    """One heavy edge outvotes two light neighbors: weighted LPA must
    diverge from unweighted on the same topology; both match their
    oracles."""
    from credigraph_spark.graph import label_propagation
    from credigraph_spark.oracles import lpa_weighted_oracle

    wedges = [(1, 10, 100.0), (2, 10, 1.0), (3, 10, 1.0),
              (2, 3, 1.0), (1, 2, 1.0)]
    df = spark.createDataFrame(wedges, "src long, dst long, w double")
    labels, _ = label_propagation(df, max_iter=3, weight_col="w")
    got = {r["vid"]: r["label"] for r in labels.collect()}
    assert got == lpa_weighted_oracle(wedges, 3)
    # the heavy edge must actually change the outcome vs plain voting
    unweighted, _ = label_propagation(
        df.select("src", "dst"), max_iter=3)
    got_unw = {r["vid"]: r["label"] for r in unweighted.collect()}
    assert got != got_unw


def test_lpa_weighted_parallel_edges_sum(spark):
    from credigraph_spark.graph import label_propagation
    from credigraph_spark.oracles import lpa_weighted_oracle

    rng = random.Random(53)
    wedges = [(rng.randrange(20), rng.randrange(20), float(rng.randrange(1, 9)))
              for _ in range(80)]       # duplicates on purpose
    df = spark.createDataFrame(wedges, "src long, dst long, w double")
    labels, _ = label_propagation(df, max_iter=3, weight_col="w")
    got = {r["vid"]: r["label"] for r in labels.collect()}
    assert got == lpa_weighted_oracle(wedges, 3)


def test_anf_sketch_matches_exact_simulation(spark):
    """The distributed FM sketch must agree bit-for-bit with a Python
    simulation using the same md5-derived registers."""
    from credigraph_spark.graph.anf import anf_sketch
    from credigraph_spark.oracles import anf_oracle

    rng = random.Random(61)
    edges = sorted({(rng.randrange(50), rng.randrange(50))
                    for _ in range(100)})
    per_hop, info = anf_sketch(edges_df(spark, edges), max_hops=3,
                               num_registers=8)
    got = {r["hop"]: r["sum_rho"] for r in per_hop.collect()}
    assert got == anf_oracle(edges, 3, 8)
    assert info["hops"] == 3


def test_effective_diameter_path_graph(spark):
    """On a 12-vertex directed path the ball sizes are exact (every FM
    register set is tiny), the N(h) curve is linear in h, and the
    effective diameter lands inside the path length."""
    from credigraph_spark.graph.anf import effective_diameter

    edges = _chain(0, 12)
    out = effective_diameter(edges_df(spark, edges), q=0.9, max_hops=12,
                             num_registers=64)
    assert out["n_vertices"] == 12
    est = out["estimates"]
    # monotone non-decreasing curve, saturating at the full closure
    hops = sorted(est)
    assert all(est[a] <= est[b] * 1.0001
               for a, b in zip(hops, hops[1:]))
    assert 0 < out["effective_diameter"] <= 12


def test_betweenness_matches_brandes(spark):
    """Star center brokers everything; random digraphs match the Python
    Brandes oracle exactly (horizon-bounded, seed-sampled)."""
    from credigraph_spark.graph.betweenness import betweenness_from_seeds
    from credigraph_spark.oracles import betweenness_oracle

    cases = [
        ([(0, 5), (1, 5), (5, 2), (5, 3)], [0, 1], 3),
        ([(0, 1), (1, 2), (2, 3), (3, 4)], [0, 1], 4),
    ]
    rng = random.Random(71)
    cases.append((sorted({(rng.randrange(25), rng.randrange(25))
                          for _ in range(60)}), [0, 1, 2], 3))
    for edges, seeds, hops in cases:
        df = edges_df(spark, edges)
        sdf = spark.createDataFrame([(s,) for s in seeds], ["vid"])
        got = {r["vid"]: r["betweenness"]
               for r in betweenness_from_seeds(df, sdf,
                                               max_hops=hops).collect()}
        assert got == betweenness_oracle(edges, seeds, hops), (seeds, hops)
    # star case: the center is the only broker
    star = {r["vid"]: r["betweenness"]
            for r in betweenness_from_seeds(
                edges_df(spark, cases[0][0]),
                spark.createDataFrame([(0,), (1,)], ["vid"]),
                max_hops=3).collect()}
    assert star[5] > 0 and all(v == 0.0 for k, v in star.items() if k != 5)


def test_deterministic_walks(spark):
    """Walks follow md5-argmin edges (Python differential), are
    partition-invariant, diverge across walk indices, and stop at
    sinks."""
    import hashlib

    from credigraph_spark.graph.walks import deterministic_walks

    rng = random.Random(83)
    edges = sorted({(rng.randrange(20), rng.randrange(20))
                    for _ in range(50) if True})
    edges = [e for e in edges if e[0] != e[1]]
    adj = {}
    for s, d in edges:
        adj.setdefault(s, set()).add(d)

    def py_walk(start, widx, length, seed=42):
        out = [(start, widx, 0, start)]
        v = start
        for step in range(1, length + 1):
            nbrs = adj.get(v)
            if not nbrs:
                break
            v = min(nbrs, key=lambda u: hashlib.md5(
                f"{seed}:{start}:{widx}:{step}:{u}".encode()).hexdigest())
            out.append((start, widx, step, v))
        return out

    seeds = [0, 1, 19]
    sdf = spark.createDataFrame([(s,) for s in seeds], ["vid"])
    df = edges_df(spark, edges)
    got = {(r["start"], r["widx"], r["step"], r["vid"])
           for r in deterministic_walks(df, sdf, walk_length=5,
                                        walks_per_seed=2).collect()}
    expect = {t for s in seeds for i in (0, 1) for t in py_walk(s, i, 5)}
    assert got == expect
    got2 = {(r["start"], r["widx"], r["step"], r["vid"])
            for r in deterministic_walks(df.repartition(7), sdf,
                                         walk_length=5,
                                         walks_per_seed=2).collect()}
    assert got2 == got


def test_global_transitivity_matches_python(spark):
    from credigraph_spark.graph.triangles import global_transitivity
    import math

    rng = random.Random(61)
    edges = sorted({(rng.randrange(25), rng.randrange(25))
                    for _ in range(70)})
    und = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    adj = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    tri = sum(1 for a, b in und for c in (adj[a] & adj[b]) if c > b)
    wedges = sum(len(n) * (len(n) - 1) // 2 for n in adj.values())
    row = global_transitivity(edges_df(spark, edges)).collect()[0]
    assert row["n_triangles"] == tri
    assert row["n_wedges"] == wedges
    assert row["transitivity"] == round(3.0 * tri / wedges, 8)


def test_degree_tail_alpha_matches_python(spark):
    import math

    from credigraph_spark.analytics import degree_tail_alpha

    rng = random.Random(67)
    edges = sorted({(rng.randrange(15), rng.randrange(15))
                    for _ in range(120)})
    from credigraph_spark.graph.adjacency import clean_edges
    cleaned = {(a, b) for a, b in edges if a != b}
    degs = {}
    for a, b in cleaned:
        degs[a] = degs.get(a, 0) + 1
        degs[b] = degs.get(b, 0) + 1
    tail = [d for d in degs.values() if d >= 10]
    logsum = sum(math.log(d / 10.0) for d in tail)
    expect = round(1.0 + len(tail) / logsum, 8) if tail and logsum > 0 else 0.0
    row = degree_tail_alpha(
        clean_edges(edges_df(spark, edges)), d_min=10).collect()[0]
    assert row["n_tail"] == len(tail)
    assert row["alpha"] == pytest.approx(expect, abs=2e-8)


def test_degree_tail_alpha_empty_tail(spark):
    from credigraph_spark.analytics import degree_tail_alpha

    row = degree_tail_alpha(edges_df(spark, [(1, 2)]), d_min=10).collect()[0]
    assert (row["n_tail"], row["alpha"]) == (0, 0.0)


def test_mis_independent_and_maximal_at_fixpoint(spark):
    """Luby MIS invariants on a random graph: (a) no edge joins two MIS
    vertices, (b) at fixpoint every non-MIS vertex has an MIS neighbour
    (maximality) and no vertex stays active."""
    from credigraph_spark.graph import maximal_independent_set

    rng = random.Random(11)
    edges = sorted({(rng.randrange(40), rng.randrange(40))
                    for _ in range(150)})
    res, rounds = maximal_independent_set(edges_df(spark, edges), rounds=20)
    state = {r["vid"]: r["state"] for r in res.collect()}
    und = {(a, b) for a, b in edges if a != b}
    und |= {(b, a) for a, b in und}
    mis = {v for v, s in state.items() if s == "mis"}
    assert not any(s == "active" for s in state.values())
    assert all(not (a in mis and b in mis) for a, b in und)
    for v, s in state.items():
        if s == "out":
            assert any(n in mis for a, n in und if a == v), v
    # every vertex of the graph is classified
    assert set(state) == {v for e in und for v in e}
    assert 1 <= rounds <= 20


def test_mis_partition_invariant_and_deterministic(spark):
    from credigraph_spark.graph import maximal_independent_set

    rng = random.Random(23)
    edges = sorted({(rng.randrange(30), rng.randrange(30))
                    for _ in range(90)})
    df = edges_df(spark, edges)
    a = {(r["vid"], r["state"])
         for r in maximal_independent_set(df, rounds=3)[0].collect()}
    b = {(r["vid"], r["state"])
         for r in maximal_independent_set(df.repartition(7),
                                          rounds=3)[0].collect()}
    assert a == b


def test_mis_star_center_loses_to_leaf(spark):
    """On a star the winner set after enough rounds is exactly: one of
    {center alone} or {all leaves} — independence forces it. With md5
    priorities some leaf almost surely beats the center, and then ALL
    remaining leaves enter the MIS once the center deactivates."""
    from credigraph_spark.graph import maximal_independent_set

    star = [(0, v) for v in range(1, 12)]
    res, _ = maximal_independent_set(edges_df(spark, star), rounds=20)
    state = {r["vid"]: r["state"] for r in res.collect()}
    mis = {v for v, s in state.items() if s == "mis"}
    assert mis == {0} or mis == set(range(1, 12))
