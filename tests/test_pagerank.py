"""M2: differential PageRank tests — Spark vs reference-semantics oracle.

Graphs follow FIXTURES.md F3: triangle, hub star (skew + dangling), two
disconnected cycles, random digraph with raw dups/self-loops, and the
extracted synthetic corpus end-to-end.
"""

from __future__ import annotations

import random

import numpy as np
import pytest

from credigraph_spark import corpus
from credigraph_spark.extraction import build_graph
from credigraph_spark.graph import pagerank
from credigraph_spark.oracles import pagerank_oracle
from credigraph_spark.oracles.pagerank_pandas import validate_pagerank

from tests.conftest import edges_df


def _assert_parity(spark, raw_edges, vertices=None, max_iter=100, **kw):
    df = edges_df(spark, raw_edges)
    vdf = None
    if vertices is not None:
        vdf = spark.createDataFrame([(int(v),) for v in vertices], ["vid"])
    ranks, info = pagerank(df, vertices=vdf, max_iter=max_iter, **kw)
    got = {r["vid"]: r["rank"] for r in ranks.collect()}
    expect, it, conv = pagerank_oracle(raw_edges, vertices=vertices, max_iter=max_iter)
    assert set(got) == set(expect)
    vids = sorted(expect)
    np.testing.assert_allclose(
        [got[v] for v in vids], [expect[v] for v in vids], atol=1e-6, rtol=0
    )
    assert info["converged"] == conv
    return got, info


def test_triangle_full_convergence(spark):
    """Full run to the 1e-6 L1 convergence criterion; asserts the Spark and
    oracle runs converge identically (iteration parity via `converged`)."""
    got, info = _assert_parity(spark, [(0, 1), (0, 2), (1, 2)])
    assert info["converged"]


# The remaining parity tests run a FIXED iteration budget (the oracle gets
# the same budget, so per-vertex parity is still exact) — full convergence
# takes ~log(tol)/log(d) ≈ 85 supersteps, which the triangle test and the
# bench already cover; repeating it per fixture only adds wall-clock.

def test_star_hub_with_dangling(spark):
    # spokes -> hub; hub is dangling (no out-edges): exercises dangling mass
    edges = [(i, 0) for i in range(1, 12)]
    got, info = _assert_parity(spark, edges, max_iter=25)
    assert got[0] == max(got.values())


def test_two_disconnected_cycles(spark):
    edges = [(0, 1), (1, 2), (2, 0), (10, 11), (11, 10)]
    _assert_parity(spark, edges, max_iter=25)


def test_raw_dups_self_loops_and_extra_vertices(spark):
    rng = random.Random(7)
    edges = [(rng.randrange(20), rng.randrange(20)) for _ in range(120)]
    edges += edges[:10]            # duplicate edges in the raw input
    edges += [(i, i) for i in range(5)]  # self-loops
    _assert_parity(spark, edges, vertices=range(25), max_iter=20)  # 20..24 isolated


def test_salted_aggregation_matches_unsalted(spark):
    edges = [(i, 0) for i in range(1, 30)] + [(0, 1), (1, 2), (2, 3)]
    a, _ = _assert_parity(spark, edges, max_iter=15)
    # hot_threshold=5 makes vertex 0 (in-degree 29) take the salted path
    b, _ = _assert_parity(spark, edges, max_iter=15, salt_buckets=8, hot_threshold=5)
    for v in a:
        assert abs(a[v] - b[v]) < 1e-9


def test_broadcast_mode_matches_shuffle_mode(spark):
    rng = random.Random(13)
    edges = [(rng.randrange(25), rng.randrange(25)) for _ in range(150)]
    a, ia = _assert_parity(spark, edges, max_iter=15)                      # shuffle
    b, ib = _assert_parity(spark, edges, max_iter=15, mode="broadcast")
    assert ia["mode"] == "shuffle" and ib["mode"] == "broadcast"
    for v in a:
        assert abs(a[v] - b[v]) < 1e-12


def test_corpus_end_to_end_with_invariants(spark):
    repos = spark.createDataFrame(corpus.repos_pdf(42, 50, 2))
    vertices, edges = build_graph(repos, num_ranges=4)
    raw = [(r["src"], r["dst"]) for r in edges.collect()]
    got, info = _assert_parity(spark, raw, max_iter=20)
    # reference's 4 runtime invariants (pagerank.py:139-147)
    in_deg: dict[int, int] = {}
    for _, t in set(raw):
        in_deg[t] = in_deg.get(t, 0) + 1
    checks = validate_pagerank(got, in_deg)
    assert all(checks.values()), checks


@pytest.mark.parametrize("max_iter", [3])
def test_fixed_iteration_budget_respected(spark, max_iter):
    edges = [(0, 1), (1, 2), (2, 0), (2, 3)]
    _, info = _assert_parity(spark, edges, max_iter=max_iter)
    assert info["iterations"] <= max_iter


def test_warm_start_same_fixpoint_fewer_supersteps(spark):
    """init_ranks warm start (incremental refresh): identical converged
    ranks as a cold start on the updated graph, in no more supersteps."""
    rnd = random.Random(11)
    base = [(rnd.randrange(60), rnd.randrange(60)) for _ in range(300)]
    e0 = edges_df(spark, base)
    ranks0, info0 = pagerank(e0, tol=1e-8)
    assert info0["converged"]

    e1 = edges_df(spark, base + [(1, 57), (58, 2), (59, 59 - 1)])
    cold, ic = pagerank(e1, tol=1e-8)
    warm, iw = pagerank(e1, tol=1e-8, init_ranks=ranks0)
    assert iw.get("warm_start") and iw["converged"] and ic["converged"]
    got = {r["vid"]: r["rank"] for r in warm.collect()}
    want = {r["vid"]: r["rank"] for r in cold.collect()}
    assert got.keys() == want.keys()
    assert all(abs(got[v] - want[v]) < 1e-6 for v in want)
    assert iw["iterations"] <= ic["iterations"]


def test_weighted_pagerank_matches_python(spark):
    """Differential vs a dict implementation of weighted PageRank:
    contribution rank·w/W(src), parallel edges summed, dangling mass
    restarted uniformly. Includes parallel edges (summed), a dangling
    vertex, and asymmetric weights."""
    rows = [(1, 2, 3.0), (1, 2, 1.0), (1, 3, 2.0), (2, 3, 5.0),
            (3, 4, 1.0), (4, 1, 2.0), (2, 5, 1.0)]  # 5 is dangling
    d, iters = 0.85, 4
    e = spark.createDataFrame(rows, "src long, dst long, w double")
    ranks, info = pagerank(e, damping=d, max_iter=iters, tol=0.0,
                           weight_col="w")
    got = {r["vid"]: r["rank"] for r in ranks.collect()}

    w: dict = {}
    for a, b, x in rows:
        w[(a, b)] = w.get((a, b), 0.0) + x
    outw: dict = {}
    for (a, _), x in w.items():
        outw[a] = outw.get(a, 0.0) + x
    verts = sorted({v for ab in w for v in ab})
    n = len(verts)
    r = {v: 1.0 / n for v in verts}
    for _ in range(iters):
        dang = sum(r[v] for v in verts if v not in outw)
        nxt = {v: 0.0 for v in verts}
        for (a, b), x in w.items():
            nxt[b] += r[a] * x / outw[a]
        r = {v: (1 - d) / n + d * (nxt[v] + dang / n) for v in verts}
    assert got.keys() == r.keys()
    assert all(abs(got[v] - r[v]) < 1e-12 for v in r), (got, r)
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_warm_start_duplicate_vids_not_double_counted(spark):
    """ADVICE r3: duplicate vids in init_ranks duplicated receiver state
    rows and double-counted mass. A warm start whose table repeats every
    row must produce exactly the cold-start result and exactly one row
    per vertex."""
    edges = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 1)]
    e = edges_df(spark, edges)
    # 1e-10 L1 needs ~150 supersteps at damping 0.85 (0.85^k decay)
    cold, ic = pagerank(e, tol=1e-10, max_iter=200)
    assert ic["converged"]
    dup_init = cold.unionByName(cold)  # every vid twice
    warm, iw = pagerank(e, tol=1e-10, max_iter=200, init_ranks=dup_init)
    rows = warm.collect()
    assert len(rows) == len({r["vid"] for r in rows}) == 4
    want = {r["vid"]: r["rank"] for r in cold.collect()}
    assert all(abs(r["rank"] - want[r["vid"]]) < 1e-9 for r in rows)
    assert abs(sum(r["rank"] for r in rows) - 1.0) < 1e-9


@pytest.mark.parametrize("weighted", [False, True])
def test_setup_counts_match_python(spark, weighted):
    """The one-pass vertex-table setup reports the same vertex, receiver,
    non-receiver, dangling and edge counts as a pure-Python count — over raw
    duplicates, self-loops, extra vids that are isolated and extra vids that
    are already edge endpoints (and, weighted, non-positive weights, which
    drop their edges)."""
    rng = random.Random(7)
    edges = [(rng.randrange(20), rng.randrange(20)) for _ in range(120)]
    edges += edges[:10] + [(i, i) for i in range(5)]
    extra = list(range(15, 25))  # 20..24 isolated, 15..19 mostly endpoints
    vdf = spark.createDataFrame([(v,) for v in extra], ["vid"])
    if weighted:
        rows = [(s, t, float(rng.choice([-1, 0, 1, 2, 3]))) for s, t in edges]
        df = spark.createDataFrame(rows, "src long, dst long, w double")
        kept = {(s, t) for s, t, x in rows if s != t and x > 0}
    else:
        df = edges_df(spark, edges)
        kept = {(s, t) for s, t in edges if s != t}
    _, info = pagerank(df, vertices=vdf, max_iter=1,
                       weight_col="w" if weighted else None)

    srcs, dsts = {s for s, _ in kept}, {t for _, t in kept}
    verts = srcs | dsts | set(extra)
    assert set(extra) & (srcs | dsts) and set(extra) - (srcs | dsts)
    assert info["n_edges"] == len(kept)
    assert info["n_vertices"] == len(verts)
    assert info["n_receivers"] == len(dsts)
    assert info["n_nonreceivers"] == len(verts - dsts)
    assert info["n_dangling"] == len(verts - srcs)
