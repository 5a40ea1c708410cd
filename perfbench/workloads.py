"""The two workloads: seeded inputs, the job call, and its output checks.

Each workload has a ``setup`` (generate, load and cache the inputs), a
``run`` (one job call, collecting every result into pandas) and a
``check`` (compare one call's results with independent oracles, outside the
timed window). ``run`` takes an optional ``Tracer``; with one it wraps each
public call into the package in a span and passes a ``TimedStore`` as
``ckpt``.

* ``extract_corpus``: ``build_graph(extractor="pandas")`` over a seeded
  corpus. Extraction does nearly all the work and no superstep loop runs,
  so a change to the superstep loop should leave it unchanged.
* ``rank_hub_ckpt``: on a hub-skewed R-MAT graph, shuffle-mode PageRank with
  salted hub aggregation, checkpointed every superstep into a parquet
  ``CheckpointStore``, stopped half way and resumed from the store; then CC
  and triangle counting. The superstep loop, the checkpoint store and
  the shuffle, join and salting paths do all the work and no extraction
  runs, so a change to extraction should leave it unchanged.
"""

from __future__ import annotations

import os
import shutil
from contextlib import nullcontext

import numpy as np

import gen

# Sizes: "full" is what the benchmark measures, "tiny" is for the self-test.
SIZES = {
    "extract_corpus": {
        "full": {"n_repos": 6_000, "files_per_repo": 3},
        "tiny": {"n_repos": 300, "files_per_repo": 3},
    },
    # Superstep counts are the same for every seed, so that job_s does not
    # depend on the seed: PageRank runs with tol=0, and CC converges in 3
    # supersteps on 99 of 100 seeds at this size, where 2**15 vertices gave 4
    # on a fifth of the seeds. The ~10.8k vertices keep CC
    # above its 10k-vertex broadcast cut-off, and hot_threshold sits below
    # the top hubs' in-degree (~2.6k), so they are salted.
    "rank_hub_ckpt": {
        # pagerank_iters: total supersteps; the first call stops at half.
        "full": {"scale": 14, "n_edges": 120_000, "pagerank_iters": 4,
                 "salt_buckets": 8, "hot_threshold": 1_000},
        "tiny": {"scale": 9, "n_edges": 3_000, "pagerank_iters": 4,
                 "salt_buckets": 8, "hot_threshold": 20},
    },
}


def _span(tracer, name):
    """A job-grouped span, or a no-op context without a tracer."""
    return tracer.span(name, job_group=True) if tracer else nullcontext()


def _edge_pairs(pdf) -> list[tuple[int, int]]:
    return list(zip(pdf["src"].tolist(), pdf["dst"].tolist()))


def _dur(spans: list[dict]) -> float:
    return sum(s["end"] - s["start"] for s in spans)


def _du_mb(path: str) -> float:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / 1e6


class Workload:
    """Seeded inputs in ``setup``, one job call in ``run``, its checks in
    ``check``; ``cleanup`` drops what a call left on disk."""

    name = ""
    warmup_calls = 1

    def __init__(self, spark, seed: int, size: dict, work: str):
        self.spark, self.seed, self.size, self.work = spark, seed, size, work
        self._oracle = None

    def cleanup(self, out: dict) -> None:
        pass


class ExtractCorpus(Workload):
    name = "extract_corpus"
    # calls are short and still speeding up after the first two
    warmup_calls = 3

    def setup(self) -> None:
        path = os.path.join(self.work, "repos")
        gen.write_corpus(self.spark, path, self.seed, self.size["n_repos"],
                         self.size["files_per_repo"])
        self.repos = self.spark.read.parquet(path).persist()
        self.files = self.repos.count()

    def run(self, tracer=None) -> dict:
        from credigraph_spark.extraction import (assign_vertex_ids, build_graph,
                                                 edges_to_ids, extract_edges_named)
        from credigraph_spark.session import eager_checkpoint

        if tracer is None:
            vertices, edges = build_graph(self.repos, extractor="pandas")
            return {"vertices": vertices.toPandas(), "edges": edges.toPandas()}
        # build_graph's three stages, each materialized before the next so
        # that each span holds its own stage's work
        with _span(tracer, "extraction.extract_edges_named"):
            named = extract_edges_named(self.repos, extractor="pandas") \
                .transform(eager_checkpoint)
        with _span(tracer, "extraction.assign_vertex_ids"):
            vertices = eager_checkpoint(assign_vertex_ids(named))
        with _span(tracer, "extraction.edges_to_ids"):
            edges = eager_checkpoint(edges_to_ids(named, vertices))
        with _span(tracer, "extraction.collect"):
            out = {"vertices": vertices.toPandas(), "edges": edges.toPandas()}
        out["named_edges"] = named.count()
        return out

    def work_done(self, out: dict) -> float:
        """Edges produced by the call."""
        return float(len(out["edges"]))

    def check(self, out: dict) -> list[str]:
        from credigraph_spark import corpus

        if self._oracle is None:
            self._oracle = corpus.expected_edges(
                self.seed, self.size["n_repos"], self.size["files_per_repo"])
        expected = self._oracle
        errors = []
        v = out["vertices"].sort_values("name")
        if v["id"].tolist() != list(range(len(v))):
            errors.append("vertex ids are not dense 0..V-1 in name order")
        names = {n for e in expected for n in e}
        if set(v["name"]) != names or len(v) != len(names):
            errors.append("vertex names differ from the corpus endpoints")
        by_id = dict(zip(v["id"].tolist(), v["name"].tolist()))
        got = [(by_id.get(s), by_id.get(t)) for s, t in _edge_pairs(out["edges"])]
        want = {e for e in expected if e[0] != e[1]}
        if len(got) != len(set(got)) or set(got) != want:
            errors.append("edges differ from corpus.expected_edges minus self-loops")
        if "named_edges" in out and out["named_edges"] != len(expected):
            errors.append("named edge count differs from corpus.expected_edges")
        return errors

    def layer_metrics(self, tracer, call: int, out: dict) -> dict:
        span_s = {s["name"]: s["end"] - s["start"] for s in tracer.of_call(call)}
        return {
            "extraction.extract_s": span_s["extraction.extract_edges_named"],
            "extraction.assign_ids_s": span_s["extraction.assign_vertex_ids"],
            "extraction.edges_to_ids_s": span_s["extraction.edges_to_ids"],
            "extraction.named_edges": out["named_edges"],
            "extraction.vertices": len(out["vertices"]),
            "extraction.edges": len(out["edges"]),
        }


class RankHubCkpt(Workload):
    name = "rank_hub_ckpt"

    def setup(self) -> None:
        src, dst = gen.rmat_edges(self.seed, self.size["scale"], self.size["n_edges"])
        keep = src != dst
        self.n_edges = len(np.unique((src[keep] << 32) | dst[keep]))
        path = os.path.join(self.work, "edges.parquet")
        gen.write_edges(path, src, dst)
        self.edges = self.spark.read.parquet(path).persist()
        self.edges.count()
        self.calls = 0

    def run(self, tracer=None) -> dict:
        from credigraph_spark.checkpoint import CheckpointStore
        from credigraph_spark.graph import connected_components, pagerank, triangle_count
        from probes import TimedStore

        self.calls += 1
        root, run_id = os.path.join(self.work, "ckpt"), f"call{self.calls}"
        store = (TimedStore(tracer, root, run_id) if tracer
                 else CheckpointStore(root, run_id))
        iters = self.size["pagerank_iters"]
        pr_args = {"tol": 0.0, "ckpt": store, "checkpoint_every": 1,
                   "mode": "shuffle", "salt_buckets": self.size["salt_buckets"],
                   "hot_threshold": self.size["hot_threshold"]}
        out = {"store": os.path.join(root, run_id)}
        with _span(tracer, "pagerank"):
            ranks, info = pagerank(self.edges, max_iter=iters // 2, **pr_args)
            out["ranks_half"] = ranks.toPandas()
        with _span(tracer, "pagerank.resumed"):
            ranks, info2 = pagerank(self.edges, max_iter=iters, **pr_args)
            out["ranks"] = ranks.toPandas()
        with _span(tracer, "cc"):
            labels, cc_info = connected_components(self.edges)
            out["cc"] = labels.toPandas()
        with _span(tracer, "triangles"):
            _, out["triangles"] = triangle_count(self.edges)
        out["resumed_from"] = info2.get("resumed_from")
        out["supersteps"] = {
            "pagerank": info["iterations"] + info2["iterations"]
            - (info2.get("resumed_from", -1) + 1),
            "cc": cc_info["iterations"], "triangles": 1}
        return out

    def work_done(self, out: dict) -> float:
        """Edge traversals: |E| x supersteps summed over the algorithm calls,
        counting the triangle pass as one."""
        return float(self.n_edges * sum(out["supersteps"].values()))

    def _oracles(self) -> dict:
        if self._oracle is None:
            from credigraph_spark.oracles.pagerank_pandas import pagerank_oracle

            pdf = self.edges.select("src", "dst").toPandas()
            pairs = _edge_pairs(pdf)
            iters = self.size["pagerank_iters"]
            self._oracle = {
                "ranks_half": pagerank_oracle(pairs, tol=0.0, max_iter=iters // 2)[0],
                "ranks": pagerank_oracle(pairs, tol=0.0, max_iter=iters)[0],
                **duckdb_cc_triangles(pdf),
            }
        return self._oracle

    def check(self, out: dict) -> list[str]:
        o = self._oracles()
        errors = []
        half = self.size["pagerank_iters"] // 2
        if out["resumed_from"] != half - 1:
            errors.append(f"resumed from {out['resumed_from']}, not {half - 1}")
        # Both calls must match the oracle at their superstep count within
        # 1e-6; the resumed one must also equal the uninterrupted oracle run
        # within 1e-9, the tolerance of the package's own resume test.
        for key, atol in (("ranks_half", 1e-6), ("ranks", 1e-9)):
            want = o[key]
            got = dict(zip(out[key]["vid"].tolist(), out[key]["rank"].tolist()))
            if got.keys() != want.keys() or not np.allclose(
                    [got[v] for v in want], list(want.values()), rtol=0, atol=atol):
                errors.append(f"pagerank {key} differs from pagerank_oracle (atol={atol})")
        total = float(out["ranks"]["rank"].sum())
        if abs(total - 1.0) > 1e-6:
            errors.append(f"ranks sum to {total!r}, not 1")
        n_comp = out["cc"]["component"].nunique()
        if n_comp != o["components"]:
            errors.append(f"{n_comp} components, DuckDB finds {o['components']}")
        if out["triangles"] != o["triangles"]:
            errors.append(f"{out['triangles']} triangles, DuckDB finds {o['triangles']}")
        return errors

    def cleanup(self, out: dict) -> None:
        shutil.rmtree(out["store"], ignore_errors=True)

    def layer_metrics(self, tracer, call: int, out: dict) -> dict:
        spans = tracer.of_call(call)
        by_name: dict[str, list[dict]] = {}
        for s in spans:
            by_name.setdefault(s["name"], []).append(s)
        pr = by_name["pagerank"] + by_name["pagerank.resumed"]
        resumed_id = by_name["pagerank.resumed"][0]["id"]
        writes = by_name.get("checkpoint.write_state", [])
        # a superstep of a checkpointed run ends with its write_state call
        ends = sorted(w["end"] for w in writes)
        gaps = [b - a for a, b in zip(ends, ends[1:])
                if not any(a < p["start"] < b for p in pr)]
        resume_s = _dur([s for s in spans if s["parent"] == resumed_id and s["name"] in
                         ("checkpoint.latest_iteration", "checkpoint.read_state")])
        steps = out["supersteps"]
        return {
            "pagerank.s": _dur(pr),
            "cc.s": _dur(by_name["cc"]),
            "triangles.s": _dur(by_name["triangles"]),
            "pagerank.supersteps": steps["pagerank"],
            "cc.supersteps": steps["cc"],
            "pagerank.jobs_per_superstep":
                sum(len(s["jobs"]) for s in pr) / steps["pagerank"],
            "pagerank.superstep_s": float(np.median(gaps)) if gaps else 0.0,
            "triangles.total": out["triangles"],
            "checkpoint.write_s": _dur(writes),
            "checkpoint.writes": len(writes),
            "checkpoint.mb_written": _du_mb(out["store"]),
            "checkpoint.resume_s": resume_s,
        }


def duckdb_cc_triangles(edges_pdf) -> dict:
    """Component count and triangle total of the undirected simple graph,
    computed by DuckDB: min-label propagation to a fixpoint, and wedges of a
    degree-ordered orientation closed by an edge."""
    import duckdb

    con = duckdb.connect()
    try:
        con.register("raw", edges_pdf)
        con.execute("""CREATE TABLE e AS SELECT DISTINCT least(src, dst) AS a,
                       greatest(src, dst) AS b FROM raw WHERE src <> dst""")
        con.execute("""CREATE TABLE und AS SELECT a AS s, b AS d FROM e
                       UNION ALL SELECT b, a FROM e""")
        con.execute("CREATE TABLE lab AS SELECT DISTINCT s AS v, s AS c FROM und")
        while True:
            con.execute("""CREATE OR REPLACE TABLE nxt AS
                           SELECT lab.v, least(lab.c, min(l2.c)) AS c
                           FROM lab JOIN und ON und.s = lab.v
                           JOIN lab l2 ON l2.v = und.d GROUP BY lab.v, lab.c""")
            changed = con.execute("""SELECT count(*) FROM nxt JOIN lab USING (v)
                                     WHERE nxt.c <> lab.c""").fetchone()[0]
            con.execute("CREATE OR REPLACE TABLE lab AS SELECT * FROM nxt")
            if changed == 0:
                break
        components = con.execute("SELECT count(DISTINCT c) FROM lab").fetchone()[0]
        triangles = con.execute("""
            WITH deg AS (SELECT s AS v, count(*) AS d FROM und GROUP BY s),
            k AS (SELECT e.a, e.b, da.d < db.d OR (da.d = db.d AND e.a < e.b) AS a_low
                  FROM e JOIN deg da ON da.v = e.a JOIN deg db ON db.v = e.b),
            o AS (SELECT CASE WHEN a_low THEN a ELSE b END AS u,
                         CASE WHEN a_low THEN b ELSE a END AS w FROM k)
            SELECT count(*) FROM o o1 JOIN o o2 ON o1.u = o2.u AND o1.w < o2.w
            JOIN e ON e.a = o1.w AND e.b = o2.w""").fetchone()[0]
    finally:
        con.close()
    return {"components": int(components), "triangles": int(triangles)}


WORKLOADS = {w.name: w for w in (ExtractCorpus, RankHubCkpt)}
