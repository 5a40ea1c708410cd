"""M1: repos -> named edges -> ID graph; sha256 per-row invariant."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from credigraph_spark import corpus
from credigraph_spark.extraction import (
    assign_vertex_ids,
    build_graph,
    content_hashes,
    extract_edges_named,
    extract_with_metrics,
)

SEED, N_REPOS, FILES = 42, 40, 2


def _repos_df(spark):
    return spark.createDataFrame(corpus.repos_pdf(SEED, N_REPOS, FILES))


def test_extracted_edges_match_ground_truth(spark):
    expect = corpus.expected_edges(SEED, N_REPOS, FILES)
    for extractor in ("pandas", "sql"):
        edges = extract_edges_named(_repos_df(spark), extractor=extractor)
        got = {(r["s"], r["t"]) for r in edges.collect()}
        assert got == expect, f"extractor={extractor}"


def test_distributed_corpus_identical_to_driver_side(spark):
    """repos_df (mapInPandas on executors) must produce byte-identical rows
    to repos_pdf (driver) — this is what makes the sha invariant meaningful."""
    dist = corpus.repos_df(spark, SEED, N_REPOS, FILES, partitions=4)
    a = sorted(map(tuple, dist.collect()))
    b = sorted(map(tuple, corpus.repos_pdf(SEED, N_REPOS, FILES).itertuples(index=False)))
    assert a == b


def test_content_sha256_invariant(spark):
    """Spark-side F.sha2 equals the Python hashlib oracle row-by-row
    (BASELINE.json input_hint)."""
    pdf = corpus.repos_pdf(SEED, N_REPOS, FILES)
    hashed = content_hashes(spark.createDataFrame(pdf))
    got = {(r["repo"], r["path"], r["commit"]): r["content_sha256"] for r in hashed.collect()}
    for row in pdf.itertuples(index=False):
        expect = hashlib.sha256(row.content.encode("utf-8")).hexdigest()
        assert got[(row.repo, row.path, row.commit)] == expect


def test_vertex_ids_dense_and_name_ordered(spark):
    """Dense sorted IDs (hostlinks_to_graph.py:112-157 contract) without the
    reference's coalesce(1) single-partition bottleneck."""
    named = extract_edges_named(_repos_df(spark))
    ids = assign_vertex_ids(named, num_ranges=5).collect()
    by_name = sorted((r["name"], r["id"]) for r in ids)
    assert [i for _, i in by_name] == list(range(len(by_name)))  # dense 0..N-1
    # order of IDs == lexicographic order of names
    assert by_name == sorted(by_name, key=lambda x: x[1])


def test_edges_to_ids_drops_self_loops_and_dups(spark):
    vertices, edges = build_graph(_repos_df(spark), num_ranges=4)
    rows = edges.collect()
    pairs = [(r["src"], r["dst"]) for r in rows]
    assert len(pairs) == len(set(pairs))
    assert all(s != t for s, t in pairs)
    # endpoint ids resolve back to expected ground-truth names
    name_of = {r["id"]: r["name"] for r in vertices.collect()}
    got_named = {(name_of[s], name_of[t]) for s, t in pairs}
    expect = {(s, t) for s, t in corpus.expected_edges(SEED, N_REPOS, FILES) if s != t}
    assert got_named == expect


def test_lang_filter_prunes_before_udf(spark):
    df = _repos_df(spark)
    only_py = extract_edges_named(df, langs=["py"])
    srcs = {r["s"] for r in only_py.select("s").distinct().collect()}
    py_repos = {r["repo"] for r in df.where(F.col("lang") == "py").select("repo").distinct().collect()}
    assert srcs <= py_repos


def test_extract_with_metrics_observation(spark):
    df = _repos_df(spark)
    edges, obs = extract_with_metrics(df)
    n = edges.count()
    got = obs.get
    assert got["records_processed"] == N_REPOS * FILES
    assert got["bytes_scanned"] > 0
    assert n == len(corpus.expected_edges(SEED, N_REPOS, FILES))


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_extractor_evaluated_once_per_file(spark, tmp_path):
    """For explode(refs) the optimizer infers a size(refs) > 0 filter and
    pushes it below the projection, which evaluates the extractor twice;
    every extraction entry point must evaluate it once. Parquet-backed: on
    a local relation the sql extractor is constant-folded."""
    path = str(tmp_path / "repos")
    _repos_df(spark).write.parquet(path)
    repos = spark.read.parquet(path)
    metered, _ = extract_with_metrics(repos)
    for df in (extract_edges_named(repos, extractor="pandas"), metered):
        assert _optimized(df).count("ArrowEvalPython") == 1
    sql = _optimized(extract_edges_named(repos, extractor="sql"))
    assert sql.count("regexp_extract_all") == 1


def test_edge_plan_reads_the_materialized_vertex_table(spark):
    """The ID assignment (range repartition, offset window) runs once, when
    build_graph materializes the vertex table, not again in the edge plan."""
    _, edges = build_graph(_repos_df(spark))
    plan = _optimized(edges)
    assert "Window" not in plan
    assert "RepartitionByExpression" not in plan


def test_measured_ranges_match_fixed_ranges(spark):
    """num_ranges=None (sized from the observed named-edge count: 4 ranges
    on this fixture) gives the same IDs and edges as 7 fixed ranges."""
    def rows(df):
        return sorted(map(tuple, df.collect()))

    v_measured, e_measured = build_graph(_repos_df(spark))
    v_fixed, e_fixed = build_graph(_repos_df(spark), num_ranges=7)
    assert rows(v_measured) == rows(v_fixed)
    assert rows(e_measured) == rows(e_fixed)


def test_corpus_without_references_builds_an_empty_graph(spark):
    pdf = corpus.repos_pdf(SEED, 6, 2)
    pdf["content"] = "def main():\n    return 0\n"
    vertices, edges = build_graph(spark.createDataFrame(pdf))
    assert vertices.count() == 0
    assert edges.count() == 0
