"""N -> 4N scaling on a REAL standalone cluster (separate executor JVMs).

The local[N] trend (scale_trend.py) shares one JVM, so broadcast is
driver-serialized and shuffle is in-process — both unfavorable to the
engine and unrepresentative of a cluster. This script starts a Spark
standalone master on localhost and measures one registered job on
2 workers x 2 cores (N) and 8 workers x 2 cores (4N): executors are
separate JVMs, broadcast is torrent-distributed and shuffle crosses
process boundaries. The hardware ceiling still applies (same shared
memory bus), so every leg measures its own busy-loop control on its
executors.

Each leg is a fresh driver: control, the synthetic hub-skewed edge table
(every 100th edge lands on vertex 0), an unmeasured warm-up, the timed
calls. Table jobs run legs (2, 8); the others alternate (2, 8, 2, 8) and
report best-of per size, because a VM's per-core rate can vary up to 2x
between legs (host CPU steal): min wall time and max control rate per
size are the least-contended samples.

Run (box idle; ~10-25 min per job at its default sizes):
    python scripts_local/standalone_scaling.py                 # list jobs
    python scripts_local/standalone_scaling.py JOB [--edges N]  # run one
Appends the job's rows to BENCH.md. ``--edges N`` replaces the default
size(s) with N (the 100M-edge triangle and label-spreading rows in
BENCH.md are ``--edges 100000000``).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time
from collections.abc import Callable
from dataclasses import dataclass, field

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_HOME = "/opt/spark"
MASTER = "spark://127.0.0.1:7077"
LOG_DIR = "/tmp/spark-logs"
WORKER_CORES = 2
WORKER_MEM = "10g"

ENV = dict(
    os.environ,
    SPARK_HOME=SPARK_HOME,
    SPARK_LOG_DIR=LOG_DIR,
    SPARK_MASTER_HOST="127.0.0.1",
    SPARK_LOCAL_DIRS="/dev/shm/spark-tmp",
    SPARK_WORKER_DIR="/tmp/spark-work",
)


def sh(cmd: list[str]) -> None:
    subprocess.run(cmd, env=ENV, check=True, capture_output=True, text=True)


def start_master() -> None:
    sh([f"{SPARK_HOME}/sbin/start-master.sh", "-h", "127.0.0.1", "-p", "7077",
        "--webui-port", "8089"])
    time.sleep(4)


def start_workers(n: int) -> None:
    for i in range(1, n + 1):
        sh([f"{SPARK_HOME}/sbin/spark-daemon.sh", "start",
            "org.apache.spark.deploy.worker.Worker", str(i), MASTER,
            "-c", str(WORKER_CORES), "-m", WORKER_MEM,
            "--webui-port", str(8100 + i)])
    time.sleep(5)


def stop_workers(n: int) -> None:
    for i in range(1, n + 1):
        subprocess.run([f"{SPARK_HOME}/sbin/spark-daemon.sh", "stop",
                        "org.apache.spark.deploy.worker.Worker", str(i)],
                       env=ENV, capture_output=True)
    time.sleep(2)


def stop_master() -> None:
    subprocess.run([f"{SPARK_HOME}/sbin/stop-master.sh"], env=ENV,
                   capture_output=True)


# Every leg script is PRELUDE + the job's body + EPILOGUE, rendered with
# str.format (literal braces doubled). The body fills ``out`` with its
# timed results.
PRELUDE = r'''
import json, os, sys, time
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from credigraph_spark.session import get_spark

n_exec = int(os.environ["LEG_EXECUTORS"])
cores = n_exec * {cores}
spark = get_spark(f"{job}-{{n_exec}}x{cores}", master={master!r},
                  shuffle_partitions=128,
                  extra={{"spark.sql.autoBroadcastJoinThreshold": "-1",
                          "spark.executor.cores": "{cores}",
                          "spark.executor.memory": "8g",
                          "spark.cores.max": str(cores)}})

def _burn(_):
    t = time.time(); x = 0
    while time.time() - t < 1.5: x += 1
    return x

# busy-loop control ON THE EXECUTORS (not driver multiprocessing): measures
# what the box allows for this executor topology at this moment.
def hw_control(c):
    sc = spark.sparkContext
    t0 = time.time()
    tot = sc.parallelize(range(c), c).map(_burn).sum()
    return tot / (time.time() - t0)

out = {{"executors": n_exec, "cores": cores, "hw_rate": hw_control(cores)}}

def make_edges(n_edges, weighted=False):
    v = max(n_edges // 20, 1000)
    base = spark.range(0, n_edges, 1, 128)
    cols = [F.pmod(F.xxhash64(F.col("id")), F.lit(v)).alias("src"),
            F.when(F.col("id") % 100 == 0, F.lit(0))
             .otherwise(F.pmod(F.xxhash64(F.col("id") + 7), F.lit(v))).alias("dst")]
    if weighted:
        cols.append((F.pmod(F.xxhash64(F.col("id") + 13), F.lit(10)) + 1)
                    .cast("double").alias("w"))
    e = base.select(*cols)
    e = e.persist(); e.count()
    return e
'''

EPILOGUE = '''
print("RESULT " + json.dumps(out))
spark.stop()
'''


@dataclass(frozen=True)
class Job:
    about: str                # what the row measures (printed by the listing)
    edges: tuple[int, ...]    # default sizes; --edges N replaces them with (N,)
    body: str                 # timed leg body: imports, warm-up, timed calls
    report: Callable[..., str]  # (legs, edges, **params) -> BENCH.md text
    params: dict = field(default_factory=dict)  # body/report constants
    legs: tuple[int, ...] = (2, 8, 2, 8)        # worker count per leg


def _hw_eff(legs: dict[int, list[dict]]) -> float:
    return (max(r["hw_rate"] for r in legs[8])
            / (4 * max(r["hw_rate"] for r in legs[2])))


def _row(label: str, n: int, t4: float, t16: float, hw_eff: float) -> str:
    eff = t4 / (4 * t16)
    return (f"| {label} | {n:,} | {t4} | {t16} | **{eff:.2f}** | "
            f"{eff / hw_eff:.2f} |")


def _table(intro: list[str], rows: list[str]) -> str:
    return "\n".join(["", *intro, "",
                      "| job | edges | T(2 exec) s | T(8 exec) s | efficiency | eff/hw |",
                      "|---|---|---|---|---|---|", *rows, ""])


def _best_of(key: str, label: str, same: tuple[str, str] | None = None,
             note: str = "") -> Callable[..., str]:
    """Report of an alternating job: one BENCH.md line from the best leg
    per size. ``label`` is formatted with the job params, ``n_edges`` and
    the first leg's result; ``same`` = (result key, what) requires that
    output to be identical across every leg, or the comparison is void."""
    def report(legs: dict[int, list[dict]], edges: tuple[int, ...],
               **params) -> str:
        agree = ""
        if same is not None:
            outs = {json.dumps(r[same[0]]) for rs in legs.values() for r in rs}
            if len(outs) != 1:
                raise RuntimeError(f"{same[1]} diverged across legs: {outs}")
            agree = f"identical {same[1]} across all legs; "
        t4 = min(r[key] for r in legs[2])
        t16 = min(r[key] for r in legs[8])
        hw_eff = _hw_eff(legs)
        eff = t4 / (4 * t16)
        what = label.format(**{**params, **legs[2][0], "n_edges": edges[0]})
        return (f"\n{what}, best-of-2 alternating legs: {t4} s on 2 "
                f"executors vs {t16} s on 8 — **{eff:.2f}** raw N->4N "
                f"efficiency ({eff / hw_eff:.2f} of the busy-loop hardware "
                f"ceiling {hw_eff:.2f}; {agree}all legs: "
                f"2w={[r[key] for r in legs[2]]} s, "
                f"8w={[r[key] for r in legs[8]]} s).{note}\n")
    return report


def _report_pagerank_cc(legs, edges, pr_iters, cc_iters):
    lo, hi = legs[2][0], legs[8][0]
    hw_eff = _hw_eff(legs)
    rows = [_row(f"pagerank broadcast, {pr_iters} supersteps", n,
                 lo["pr"][str(n)], hi["pr"][str(n)], hw_eff) for n in edges]
    n = edges[0]
    rows.append(_row(f"connected components, {cc_iters} supersteps", n,
                     lo["cc"][str(n)], hi["cc"][str(n)], hw_eff))
    return _table([
        "## Standalone cluster N -> 4N (separate executor JVMs, torrent broadcast)",
        "",
        "Same jobs as the local[N] trend, but on a real standalone master",
        "with 2 workers x 2 cores (N) vs 8 workers x 2 cores (4N): executors",
        "are separate JVMs, broadcast is torrent-distributed executor-to-",
        "executor, shuffle crosses processes. The busy-loop control runs ON",
        f"the executors of each leg (hw 2exec->8exec eff = {hw_eff:.2f}: the",
        "shared-memory ceiling of the host for that topology).",
    ], rows)


def _report_r4(legs, edges, pr_iters):
    lo, hi = legs[2][0], legs[8][0]
    hw_eff = _hw_eff(legs)
    rows = [_row(label, edges[0], lo[key], hi[key], hw_eff) for key, label in (
        ("upr", f"UNWEIGHTED pagerank (r3 comparator), {pr_iters} supersteps"),
        ("wpr", f"weighted pagerank shuffle, {pr_iters} supersteps"),
        ("coreness", "coreness k_max=4, 2 rounds/phase"))]
    return _table([
        "### Round-4 operators on the same standalone topology",
        "",
        (f"(hw 2exec->8exec control eff this run = {hw_eff:.2f}; "
         f"abs rates lo={lo['hw_rate']:.0f} hi={hi['hw_rate']:.0f})"),
    ], rows)


def _report_cc_big(legs, edges, cc_iters, lpa_iters):
    lo, hi = legs[2][0], legs[8][0]
    hw_eff = _hw_eff(legs)
    rows = [_row(f"{name}, {iters} supersteps", edges[0], lo[key], hi[key],
                 hw_eff)
            for key, name, iters in (("cc", "connected components", cc_iters),
                                     ("lpa", "label propagation", lpa_iters))
            if iters]
    return _table([f"Large-size CC rows (same topology, idle box, hw "
                   f"2exec->8exec eff = {hw_eff:.2f}):"], rows)


CC_BIG_BODY = r'''
from credigraph_spark.graph import connected_components
from credigraph_spark.graph.lpa import label_propagation

e = make_edges({n_edges})

# UNMEASURED warmup (JIT/codegen/heap — see the pagerank_cc job)
if {cc_iters} > 0:
    connected_components(e, max_iter=1)[0].count()
if {lpa_iters} > 0:
    label_propagation(e, max_iter=1)[0].count()

if {cc_iters} > 0:
    t0 = time.time()
    labels, info = connected_components(e, max_iter={cc_iters})
    labels.count()
    out["cc"] = round(time.time() - t0, 2)

if {lpa_iters} > 0:
    t0 = time.time()
    lp, linfo = label_propagation(e, max_iter={lpa_iters})
    lp.count()
    out["lpa"] = round(time.time() - t0, 2)
'''

JOBS: dict[str, Job] = {
    "pagerank_cc": Job(
        about="PageRank broadcast mode (15 supersteps) per size and CC "
              "(4 supersteps) at the first size: the primary N->4N table.",
        edges=(20_000_000, 100_000_000), legs=(2, 8),
        params={"pr_iters": 15, "cc_iters": 4},
        report=_report_pagerank_cc,
        body=r'''
from credigraph_spark.graph import pagerank, connected_components

out["pr"], out["cc"] = {{}}, {{}}
warmed = False
for n in {edges}:
    e = make_edges(n)
    if not warmed:
        # UNMEASURED warmup: fresh executor JVMs run the first iterative job
        # ~4-5x slower (JIT, codegen cache, broadcast machinery, heap growth
        # — measured 223.6 s cold vs 47.0 s warm for the same 15-superstep
        # job on 8 executors); warm every leg before measuring, as a real
        # long-running cluster would be.
        pagerank(e, max_iter=4, tol=0.0, mode="broadcast")[0].count()
        connected_components(e, max_iter=2)[0].count()
        warmed = True
    t0 = time.time()
    ranks, info = pagerank(e, max_iter={pr_iters}, tol=0.0, mode="broadcast")
    ranks.count()
    out["pr"][str(n)] = round(time.time() - t0, 2)
    if n == {n_edges}:
        t0 = time.time()
        labels, cinfo = connected_components(e, max_iter={cc_iters})
        labels.count()
        out["cc"][str(n)] = round(time.time() - t0, 2)
    e.unpersist()
    print(json.dumps({{"progress": n, "executors": n_exec}}), flush=True)
'''),
    "r4": Job(
        about="Weighted PageRank shuffle mode (15 supersteps; the unweighted "
              "run is the in-run comparator) and coreness k_max=4: six "
              "bounded peel rounds, CC's shuffle family.",
        edges=(20_000_000,), legs=(2, 8),
        params={"pr_iters": 15},
        report=_report_r4,
        body=r'''
from credigraph_spark.graph import coreness, pagerank

e = make_edges({n_edges}, weighted=True)

# unmeasured warmup (fresh executor JVMs: JIT/codegen/broadcast machinery)
pagerank(e, max_iter=3, tol=0.0, mode="shuffle", salt_buckets=32,
         weight_col="w")[0].count()

# in-run comparator: the UNWEIGHTED job round 3 already measured (0.56 at
# 20M edges) — if ITS efficiency moves, the box changed, not the code.
t0 = time.time()
ranks, info = pagerank(e.select("src", "dst"), max_iter={pr_iters},
                       tol=0.0, mode="shuffle", salt_buckets=32)
ranks.count()
out["upr"] = round(time.time() - t0, 2)

t0 = time.time()
ranks, info = pagerank(e, max_iter={pr_iters}, tol=0.0, mode="shuffle",
                       salt_buckets=32, weight_col="w")
ranks.count()
out["wpr"] = round(time.time() - t0, 2)

t0 = time.time()
cores_df = coreness(e.select("src", "dst"), k_max=4, rounds_per_k=2)
cores_df.count()
out["coreness"] = round(time.time() - t0, 2)
'''),
    "cc_big": Job(
        about="Connected components (4 supersteps) at 100M edges, where "
              "per-superstep data amortizes the serial floor.",
        edges=(100_000_000,), legs=(2, 8),
        params={"cc_iters": 4, "lpa_iters": 0},
        report=_report_cc_big, body=CC_BIG_BODY),
    "cc_lpa_big": Job(
        about="cc_big plus label propagation (3 supersteps), the other "
              "gather-shaped loop: the BENCH.md large-graph CC/LPA rows.",
        edges=(100_000_000,), legs=(2, 8),
        params={"cc_iters": 4, "lpa_iters": 3},
        report=_report_cc_big, body=CC_BIG_BODY),
    "louvain": Job(
        about="Louvain local move (3 rounds): two groupBy aggregates, a "
              "full-outer candidate join and a struct-max argmax per round.",
        edges=(20_000_000,), params={"rounds": 3},
        report=_best_of("louvain",
                        "Louvain local-move ({rounds} rounds, {n_edges:,} edges)"),
        body=r'''
from credigraph_spark.graph import louvain_local_move

e = make_edges({n_edges})

louvain_local_move(e, rounds=1).count()  # unmeasured warmup

t0 = time.time()
louvain_local_move(e, rounds={rounds}).count()
out["louvain"] = round(time.time() - t0, 2)
'''),
    "leiden": Job(
        about="Two-level Leiden: Louvain move, refinement CC, the "
              "community-constrained intra join and one coarse round.",
        edges=(10_000_000,), params={"rounds": 2},
        report=_best_of("leiden",
                        "Two-level Leiden ({rounds} flat rounds + refine-CC "
                        "+ 1 constrained coarse round, {n_edges:,} edges)"),
        body=r'''
from credigraph_spark.graph.louvain import leiden_two_level

e = make_edges({n_edges})

leiden_two_level(e, rounds=1, coarse_rounds=1).count()  # unmeasured warmup

t0 = time.time()
leiden_two_level(e, rounds={rounds}, coarse_rounds=1).count()
out["leiden"] = round(time.time() - t0, 2)
'''),
    "salsa": Job(
        about="SALSA (3 degree-normalized iterations), the two-direction "
              "half-step ranker.",
        edges=(20_000_000,), params={"iters": 3},
        report=_best_of("salsa",
                        "SALSA ({iters} iterations, {n_edges:,} edges)"),
        body=r'''
from credigraph_spark.graph.salsa import salsa

e = make_edges({n_edges})

salsa(e, max_iter=1).count()  # unmeasured warmup

t0 = time.time()
salsa(e, max_iter={iters}).count()
out["salsa"] = round(time.time() - t0, 2)
'''),
    "triangles": Job(
        about="Degree-oriented triangle counting on the hub-skewed input: "
              "the hub sorts high, so oriented wedges never fan out from it.",
        edges=(20_000_000,),
        report=_best_of("triangles",
                        "Triangle counting (degree-oriented, {n_edges:,} "
                        "edges, {total_triangles:,} triangles, hub-skewed "
                        "input)", same=("total_triangles", "triangle total")),
        body=r'''
from credigraph_spark.graph.triangles import triangle_count

e = make_edges({n_edges})

# unmeasured warmup on a 1/8 slice (same plan, JIT + codegen warm)
pv, _ = triangle_count(e.where(F.col("src") % 8 == 0)); pv.count()

t0 = time.time()
per_vertex, total = triangle_count(e)
per_vertex.count()
out["triangles"] = round(time.time() - t0, 2)
out["total_triangles"] = total
'''),
    "spread": Job(
        about="Label spreading (3 clamped rounds, 1000 seeds): one state "
              "join + partial-agg sum + seed-clamp join per round, the "
              "eigenvector-centrality shape.",
        edges=(20_000_000,), params={"rounds": 3},
        report=_best_of("spread",
                        "Label spreading ({rounds} clamped rounds, "
                        "{n_edges:,} edges, 1000 seeds)",
                        note=" The clamped-superstep shape is shared by "
                             "eigenvector centrality (X108)."),
        body=r'''
from credigraph_spark.graph import label_spreading

e = make_edges({n_edges})
seeds = spark.range(0, 1000).select(
    F.col("id").alias("vid"),
    (F.col("id") % 2).cast("double").alias("y"))

label_spreading(e, seeds, max_iter=1).count()  # unmeasured warmup

t0 = time.time()
label_spreading(e, seeds, max_iter={rounds}).count()
out["spread"] = round(time.time() - t0, 2)
'''),
    "hyperball": Job(
        about="HyperBall harmonic centrality (3 hops, 4 registers): one "
              "bit_or groupBy per hop, the WL color-refinement shape.",
        edges=(20_000_000,), params={"hops": 3},
        report=_best_of("hyperball",
                        "HyperBall harmonic ({hops} bit_or supersteps, 4 "
                        "registers, {n_edges:,} edges)",
                        note=" The one-groupBy message superstep is shared "
                             "by WL color refinement (X180)."),
        body=r'''
from credigraph_spark.graph.anf import hyperball_harmonic

e = make_edges({n_edges})

hyperball_harmonic(e, max_hops=1, num_registers=4).count()  # warmup

t0 = time.time()
hyperball_harmonic(e, max_hops={hops}, num_registers=4).count()
out["hyperball"] = round(time.time() - t0, 2)
'''),
    "densest": Job(
        about="Densest-subgraph peeling (3 rounds): the k-core peel round "
              "plus a per-round density readout.",
        edges=(20_000_000,), params={"rounds": 3},
        report=_best_of("densest",
                        "Densest-subgraph peeling ({rounds} rounds, "
                        "{n_edges:,} edges)",
                        same=("rows", "per-round (vertices, edges)")),
        body=r'''
from credigraph_spark.graph.kcore import densest_subgraph

e = make_edges({n_edges})

densest_subgraph(e, max_rounds=1).count()  # unmeasured warmup

t0 = time.time()
rows = densest_subgraph(e, max_rounds={rounds}).collect()
out["densest"] = round(time.time() - t0, 2)
out["rows"] = [(r["round"], r["n_vertices"], r["n_edges"]) for r in rows]
'''),
    "ic": Job(
        about="Independent-cascade influence (4 sims, 2 hops): a "
              "(sim, src) co-partitioned frontier join per hop.",
        edges=(20_000_000,), params={"rounds": 2},
        report=_best_of("densest",
                        "IC influence (4 sims, {rounds} hops, {n_edges:,} "
                        "edges)", same=("rows", "per-sim (alive, reached)")),
        body=r'''
from credigraph_spark.graph.spreading import ic_influence

e = make_edges({n_edges})

seeds = e.selectExpr("src as vid").union(e.selectExpr("dst as vid")) \
    .distinct().where("vid % 1000 = 0")
ic_influence(e, seeds, n_sims=2, p=0.3, rounds=1).count()  # warmup

t0 = time.time()
rows = ic_influence(e, seeds, n_sims=4, p=0.3,
                    rounds={rounds}).collect()
out["densest"] = round(time.time() - t0, 2)
out["rows"] = sorted((r["sim"], r["n_alive"], r["n_reached"])
                     for r in rows)
'''),
}


def render(name: str, edges: tuple[int, ...]) -> str:
    """The leg script of job ``name`` at the given edge sizes."""
    job = JOBS[name]
    return (PRELUDE + job.body + EPILOGUE).format(
        repo=REPO, master=MASTER, cores=WORKER_CORES, job=name,
        edges=list(edges), n_edges=edges[0], **job.params)


def run_leg(name: str, edges: tuple[int, ...], n_workers: int) -> dict:
    start_workers(n_workers)
    try:
        env = dict(ENV, LEG_EXECUTORS=str(n_workers))
        p = subprocess.run([sys.executable, "-c", render(name, edges)],
                           capture_output=True, text=True, env=env,
                           timeout=5400)
        lines = [ln for ln in p.stdout.splitlines() if ln.startswith("RESULT ")]
        if not lines:
            raise RuntimeError(p.stderr[-3000:])
        return json.loads(lines[-1][len("RESULT "):])
    finally:
        stop_workers(n_workers)


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("job", nargs="?", choices=sorted(JOBS))
    ap.add_argument("--edges", type=int,
                    help="edge count replacing the job's default size(s)")
    args = ap.parse_args(argv)
    if args.job is None:
        for name, job in JOBS.items():
            sizes = ", ".join(f"{n:,}" for n in job.edges)
            print(f"{name:12s} edges {sizes}; legs {job.legs}\n"
                  f"{'':12s} {job.about}")
        return
    job = JOBS[args.job]
    edges = (args.edges,) if args.edges else job.edges
    os.makedirs("/dev/shm/spark-tmp", exist_ok=True)
    legs: dict[int, list[dict]] = {2: [], 8: []}
    start_master()
    try:
        for n in job.legs:
            legs[n].append(run_leg(args.job, edges, n))
    finally:
        stop_master()
    text = job.report(legs, edges, **job.params)
    print(text)
    with open(os.path.join(REPO, "BENCH.md"), "a") as f:
        f.write(text)


if __name__ == "__main__":
    main()
