"""Link-graph benchmark of ``credigraph_spark``: one seeded workload per process.

Run from the root of a checkout:

    python3 perfbench/run.py --workload rank_hub_ckpt --seed 1 --seconds 8 --trace 0

One run starts a fresh Python process and Spark session with ``local[nproc]``
and otherwise the package's own session defaults, generates and caches the
workload's seeded inputs (``setup_s``), makes the workload's warm-up job
calls, then makes job calls until ``--seconds`` have passed, and checks
every call's results outside the timed window. The last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}`` with the metrics that
BENCHMARK.json declares; the line before it describes the run (nproc, Spark
and Java versions, every call's time, ``failed_share``, ``peak_rss_mb`` and,
on ``extract_corpus``, ``files_per_s``).

``--trace 0`` reports the end-to-end metrics: ``setup_s``, ``job_s`` (median
warm job call) and ``edges_per_s``. ``--trace 1`` alternates untraced and
traced job calls after the warm-up and reports the per-layer metrics
(medians over the traced calls) with ``trace.overhead_s``, the traced minus
the untraced median job time; the spans go to ``.perfbench_work/traces/``.

All scratch data (Spark local dirs, inputs, checkpoint stores) lives under
``.perfbench_work/`` in the checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.dirname(os.path.abspath(__file__))
# No job call starts after this many seconds from process start, so that a
# run ends well within three minutes even when a call is slow.
CALL_DEADLINE_S = 140.0


def declared_metrics() -> dict[str, dict[str, str]]:
    """Metric names and units by mode (0: end_to_end, 1: per_layer), as
    BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {mode: {m["name"]: m["unit"] for m in bench[key]}
            for mode, key in ((0, "end_to_end"), (1, "per_layer"))}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=["full", "tiny"], default="full")
    return p.parse_args(argv)


def prepare_environment(work: str) -> None:
    """Keep every file the run writes inside ``work`` and make the package
    importable by this process and by Spark's Python workers. Engine tuning
    variables are dropped so the package defaults apply."""
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    sys.path[:0] = [ROOT, HERE]


def start_session(work: str, nproc: int):
    from credigraph_spark.session import get_spark

    spark = get_spark("perfbench", master=f"local[{nproc}]", extra={
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def call_metrics(rt, tracer, call: int, t0: float, t1: float,
                 before: tuple[int, int], after: tuple[int, int]) -> dict:
    """Session-layer numbers of one traced job call."""
    from probes import union_s

    spans = tracer.of_call(call)
    top = [s for s in spans if "jobs" in s]
    jobs = [j for s in top for j in s["jobs"]]
    busy = union_s(jobs, t0, t1)
    counters = {}
    for s in top:
        for k, v in s["counters"].items():
            counters[k] = counters.get(k, 0) + v
    return {
        "spark.jobs": len(jobs),
        "driver.gap_s": (t1 - t0) - busy,
        "spark.job_busy_s": busy,
        "spark.tasks": after[0] - before[0],
        "spark.shuffle_mb": (after[1] - before[1]) / 1e6,
        "codegen.compiles": counters.get("codegen.compiles", 0),
        "jvm.jit_ms": counters.get("jvm.jit_ms", 0),
        "jvm.gc_ms": counters.get("jvm.gc_ms", 0),
        "pyworker.cpu_s": counters.get("pyworker.cpu_s", 0.0),
    }


def timed_call(wl, rt, tracer, call: int) -> dict:
    """One job call, timed; with a tracer, also its layer numbers."""
    before = rt.executor_totals() if tracer else None
    if tracer:
        tracer.call = call
    t0 = time.time()
    out = wl.run(tracer)
    t1 = time.time()
    rec = {"traced": tracer is not None, "s": t1 - t0, "out": out}
    if tracer:
        rec["layers"] = {**call_metrics(rt, tracer, call, t0, t1, before,
                                        rt.executor_totals()),
                         **wl.layer_metrics(tracer, call, out)}
    return rec


def make_calls(wl, rt, tracer, seconds: float, t_proc: float):
    """The warm-up calls, then calls until ``seconds`` have passed; with a
    tracer, untraced and traced calls take turns and at least one of each is
    made. Returns (warm-up records, timed records, errors, calls attempted);
    a call that raised leaves an error and no record."""
    warm, timed, errors = [], [], []

    def attempt(call: int, traced: bool, into: list) -> float:
        try:
            into.append(timed_call(wl, rt, tracer if traced else None, call))
        except Exception:
            errors.append(traceback.format_exc())
            return 0.0
        return into[-1]["s"]

    for call in range(wl.warmup_calls):
        attempt(call, False, warm)
    start, call = time.time(), wl.warmup_calls
    while True:
        last = attempt(call, tracer is not None and (call - wl.warmup_calls) % 2 == 1,
                       timed)
        call += 1
        need_both = tracer is not None and len({r["traced"] for r in timed}) < 2
        if (time.time() - start >= seconds and not need_both) or \
                time.time() - t_proc + last > CALL_DEADLINE_S:
            return warm, timed, errors, call


def main(argv=None) -> int:
    args = parse_args(argv)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # kept while it holds traces
        except OSError:
            pass


def run(args, work: str) -> int:
    prepare_environment(work)
    try:
        import probes
        from workloads import SIZES, WORKLOADS
    except ImportError as exc:
        print(f"perfbench: cannot import the package under test: {exc}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    declared = declared_metrics()
    t_proc = probes.process_start_epoch()
    nproc = len(os.sched_getaffinity(0))
    spark = start_session(work, nproc)
    try:
        rt = probes.Runtime(spark)
        session_start_s = time.time() - t_proc
        wl = WORKLOADS[args.workload](spark, args.seed, SIZES[args.workload][args.size], work)
        wl.setup()
        setup_s = time.time() - t_proc

        tracer = probes.Tracer(rt) if args.trace else None
        warm, timed, errors, attempted = make_calls(wl, rt, tracer, args.seconds, t_proc)
        peak_rss_mb = rt.peak_rss_mb()
        failed = len(errors)
        for rec in warm + timed:
            problems = wl.check(rec["out"])
            failed += bool(problems)
            errors.extend(problems)
            wl.cleanup(rec["out"])

        untraced = [r["s"] for r in timed if not r["traced"]]
        job_s = statistics.median(untraced) if untraced else 0.0
        work_done = wl.work_done(timed[0]["out"]) if timed else 0.0
        end_to_end = {"setup_s": setup_s, "job_s": job_s,
                      "edges_per_s": work_done / job_s if job_s else 0.0}
        info = {"workload": args.workload, "seed": args.seed, "size": args.size,
                "nproc": nproc, **rt.versions(), "session.start_s": session_start_s,
                "peak_rss_mb": peak_rss_mb,
                "job_samples": len(untraced),
                "warmup_s": [r["s"] for r in warm], "timed_s": [r["s"] for r in timed],
                "supersteps": timed[0]["out"].get("supersteps") if timed else None,
                "attempted": attempted, "failed": failed,
                "failed_share": failed / attempted, **end_to_end}
        if args.workload == "extract_corpus" and job_s:
            info["files_per_s"] = wl.files / job_s

        if args.trace:
            traced = [r for r in timed if r["traced"]]
            layers = {name: 0.0 for name in declared[1]}
            for name in traced[0]["layers"] if traced else ():
                layers[name] = statistics.median(r["layers"][name] for r in traced)
            layers["session.start_s"] = session_start_s
            layers["peak_rss_mb"] = peak_rss_mb
            if traced and untraced:
                layers["trace.overhead_s"] = statistics.median(r["s"] for r in traced) - job_s
            metrics = {k: {"value": v, "unit": declared[1][k]} for k, v in layers.items()}
            trace_dir = os.path.join(ROOT, ".perfbench_work", "traces")
            os.makedirs(trace_dir, exist_ok=True)
            tracer.dump(os.path.join(trace_dir, f"{args.workload}-{args.seed}.json"))
        else:
            metrics = {k: {"value": v, "unit": declared[0][k]} for k, v in end_to_end.items()}
        for e in errors:
            print(e, file=sys.stderr)
        print(json.dumps(info))
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}), flush=True)
        return 0
    finally:
        stop_session(spark)


if __name__ == "__main__":
    sys.exit(main())
