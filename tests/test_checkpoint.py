"""M3: checkpoint/resume — kill after superstep k, resume, identical result."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from credigraph_spark.checkpoint import CheckpointStore
from credigraph_spark.graph import connected_components, label_propagation, pagerank
from credigraph_spark.oracles import pagerank_oracle

from tests.conftest import edges_df

EDGES = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (5, 0), (6, 5), (7, 6), (8, 7)]


def test_pagerank_resume_matches_uninterrupted(spark, tmp_path):
    full_ranks, full_info = pagerank(edges_df(spark, EDGES), max_iter=16)
    full = {r["vid"]: r["rank"] for r in full_ranks.collect()}

    # phase 1: run only 6 supersteps, checkpointing every 2 ("the kill")
    ck = CheckpointStore(str(tmp_path / "pr"), "run1")
    pagerank(edges_df(spark, EDGES), max_iter=6, ckpt=ck, checkpoint_every=2)
    assert ck.latest_iteration() == 5
    assert len(ck.read_metrics()) >= 3

    # phase 2: resume from the committed superstep and finish
    ranks2, info2 = pagerank(edges_df(spark, EDGES), max_iter=16, ckpt=ck,
                             checkpoint_every=2, resume=True)
    assert info2["resumed_from"] == 5
    got = {r["vid"]: r["rank"] for r in ranks2.collect()}
    vids = sorted(full)
    np.testing.assert_allclose([got[v] for v in vids], [full[v] for v in vids], atol=1e-9)


def test_cc_resume(spark, tmp_path):
    full_labels, _ = connected_components(edges_df(spark, EDGES))
    full = {r["vid"]: r["component"] for r in full_labels.collect()}

    ck = CheckpointStore(str(tmp_path / "cc"), "run1")
    connected_components(edges_df(spark, EDGES), max_iter=2, ckpt=ck, checkpoint_every=1)
    labels2, info2 = connected_components(edges_df(spark, EDGES), ckpt=ck, checkpoint_every=1)
    assert "resumed_from" in info2
    got = {r["vid"]: r["component"] for r in labels2.collect()}
    assert got == full


def test_lpa_resume(spark, tmp_path):
    full_labels, _ = label_propagation(edges_df(spark, EDGES), max_iter=5)
    full = {r["vid"]: r["label"] for r in full_labels.collect()}

    ck = CheckpointStore(str(tmp_path / "lpa"), "run1")
    label_propagation(edges_df(spark, EDGES), max_iter=2, ckpt=ck, checkpoint_every=1)
    labels2, info2 = label_propagation(edges_df(spark, EDGES), max_iter=5, ckpt=ck,
                                       checkpoint_every=1)
    assert info2["resumed_from"] == 1
    got = {r["vid"]: r["label"] for r in labels2.collect()}
    assert got == full


def test_resume_after_convergence_short_circuits(spark, tmp_path):
    """Resuming a run whose checkpointed state already converged must not
    burn an extra superstep — result identical, zero new checkpoints."""
    ck = CheckpointStore(str(tmp_path / "cc_conv"), "run1")
    labels1, info1 = connected_components(edges_df(spark, EDGES), ckpt=ck, checkpoint_every=1)
    assert info1["converged"]
    n_states = len(ck.committed_iterations())
    assert ck.converged_iteration() == info1["iterations"] - 1

    labels2, info2 = connected_components(edges_df(spark, EDGES), ckpt=ck, checkpoint_every=1)
    assert info2["converged"] and info2["resumed_from"] == ck.converged_iteration()
    assert len(ck.committed_iterations()) == n_states  # no new superstep ran
    got1 = {r["vid"]: r["component"] for r in labels1.collect()}
    got2 = {r["vid"]: r["component"] for r in labels2.collect()}
    assert got1 == got2


def test_pagerank_resume_after_convergence_short_circuits(spark, tmp_path):
    """A converged PageRank resume returns the committed state before any
    edge layout is built: identical ranks, no new committed iteration, and
    at most one new cached RDD (the vertex table's checkpoint)."""
    ck = CheckpointStore(str(tmp_path / "pr_conv"), "run1")
    r1, i1 = pagerank(edges_df(spark, EDGES), max_iter=50, ckpt=ck)
    assert i1["converged"]
    n_states = len(ck.committed_iterations())
    assert ck.converged_iteration() == i1["iterations"] - 1

    persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
    r2, i2 = pagerank(edges_df(spark, EDGES), max_iter=50, ckpt=ck)
    assert spark.sparkContext._jsc.getPersistentRDDs().size() <= persisted + 1
    assert i2["converged"] and i2["resumed_from"] == ck.converged_iteration()
    assert i2["iterations"] == i1["iterations"] and i2["n_vertices"] == 9
    assert len(ck.committed_iterations()) == n_states  # no new superstep ran
    g1 = {r["vid"]: r["rank"] for r in r1.collect()}
    g2 = {r["vid"]: r["rank"] for r in r2.collect()}
    assert g1 == g2  # bit-identical: the state is re-read, not recomputed


def test_iceberg_catalog_fallback(spark, tmp_path):
    """A store configured with an Iceberg catalog name must fall back to
    the parquet-dir backend when the session has no such catalog plugin
    (this sandbox ships no Iceberg jar) — write/read/resume all work."""
    from credigraph_spark.checkpoint import _catalog_configured

    assert not _catalog_configured(spark, "iceberg_cat")
    ck = CheckpointStore(str(tmp_path / "ice"), "run1", catalog="iceberg_cat")
    df = spark.createDataFrame([(1, 0.5), (2, 0.7)], ["vid", "rank"])
    out = ck.write_state(df, 0)
    assert {r["vid"]: r["rank"] for r in out.collect()} == {1: 0.5, 2: 0.7}
    assert ck.latest_iteration() == 0
    again = ck.read_state(spark, 0)
    assert again.count() == 2


def test_parquet_write_state_is_one_job(spark, tmp_path):
    """A parquet-backend write runs one Spark job, the write: the re-read
    is lazy (the written schema is known, nothing is inferred) and the
    lineage record comes from the part files' footers, one entry per
    written part file, its rows summing to the state's."""
    import json
    import os

    ck = CheckpointStore(str(tmp_path / "one_job"), "run1")
    df = spark.range(0, 1000, numPartitions=3).select(
        F.col("id").alias("vid"), (F.col("id") / 7).alias("rank"))
    sc = spark.sparkContext
    sc.setJobGroup("write_state_jobs", "write_state")
    try:
        out = ck.write_state(df, 0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("write_state_jobs")) == 1
    assert out.dtypes == df.dtypes
    assert sorted(out.collect()) == sorted(df.collect())
    written = [f for f in os.listdir(ck._iter_dir("state", 0)) if f.startswith("part-")]
    with open(os.path.join(ck.run_dir, "lineage.jsonl")) as f:
        rec = json.loads(f.readlines()[-1])
    assert rec["iteration"] == 0 and len(rec["partitions"]) == len(written) == 3
    assert sum(rec["partitions"].values()) == 1000


class FakeTableIO:
    """Same verb surface as _CatalogTableIO with the same SEMANTICS —
    exists / partitioned create / partition-level overwrite (prior
    iterations survive) / createOrReplace / read-back — implemented over
    parquet dirs with Spark's dynamic partition overwrite, because the
    sandbox has no Iceberg runtime jar and the built-in session catalog
    only supports v2 create() on file tables. Every CheckpointStore
    catalog branch runs for real against it."""

    def __init__(self, base):
        self.base = str(base)

    def _p(self, tbl):
        return f"{self.base}/{tbl.replace('.', '__')}"

    def exists(self, spark, tbl):
        import os
        return os.path.isdir(self._p(tbl))

    def create_partitioned(self, df, tbl):
        assert not self.exists(df.sparkSession, tbl), "create on existing table"
        df.write.partitionBy("_iteration").parquet(self._p(tbl))

    def overwrite_partitions(self, df, tbl):
        (df.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
           .partitionBy("_iteration").parquet(self._p(tbl)))

    def create_or_replace(self, df, tbl):
        df.write.mode("overwrite").parquet(self._p(tbl))

    def read(self, spark, tbl):
        return spark.read.parquet(self._p(tbl))


def test_catalog_backend_round_trips(spark, tmp_path):
    """The catalog-table backend round-trips end to end — write N
    iterations, list them back from the table, read any one, mark + read
    convergence, and idempotently re-commit one iteration with the others
    surviving. All CheckpointStore catalog-branch logic runs for real;
    only the four one-line writeTo verbs are faked (no Iceberg jar here,
    semantics preserved — see FakeTableIO)."""
    ck = CheckpointStore(str(tmp_path / "cat"), "ckrt", catalog="ice.db",
                         table_io=FakeTableIO(tmp_path / "warehouse"))
    assert ck._use_catalog(spark)
    for it, vals in enumerate([{1: 0.1, 2: 0.2}, {1: 0.3, 2: 0.4}, {1: 0.5, 2: 0.6}]):
        df = spark.createDataFrame(sorted(vals.items()), ["vid", "rank"])
        out = ck.write_state(df, it)
        assert {r["vid"]: r["rank"] for r in out.collect()} == vals
    # resume surface: iterations listed from the TABLE, all survive
    assert ck.committed_iterations() == [0, 1, 2]
    assert ck.latest_iteration() == 2
    mid = ck.read_state(spark, 1)
    assert {r["vid"]: r["rank"] for r in mid.collect()} == {1: 0.3, 2: 0.4}
    # idempotent re-commit of one iteration (task retry): replaced, no
    # dupes, and the OTHER iterations are untouched
    ck.write_state(spark.createDataFrame([(1, 0.35), (2, 0.45)], ["vid", "rank"]), 1)
    assert ck.committed_iterations() == [0, 1, 2]
    assert {r["vid"]: r["rank"] for r in ck.read_state(spark, 1).collect()} == {1: 0.35, 2: 0.45}
    assert {r["vid"]: r["rank"] for r in ck.read_state(spark, 2).collect()} == {1: 0.5, 2: 0.6}
    # converged marker lives in the catalog too (visible across drivers)
    assert ck.converged_iteration() is None
    ck.mark_converged(2)
    assert ck.converged_iteration() == 2
    # parquet-dir layout was never touched: state went through the catalog
    import os
    assert not os.path.isdir(os.path.join(ck.run_dir, "state"))


def test_pagerank_resume_through_catalog_backend(spark, tmp_path):
    """Full algorithm resume (kill at superstep k, resume, identical
    result) through the catalog-table backend."""
    full_ranks, _ = pagerank(edges_df(spark, EDGES), max_iter=12)
    full = {r["vid"]: r["rank"] for r in full_ranks.collect()}
    ck = CheckpointStore(str(tmp_path / "cat2"), "prcat", catalog="ice.db",
                         table_io=FakeTableIO(tmp_path / "warehouse2"))
    pagerank(edges_df(spark, EDGES), max_iter=4, ckpt=ck, checkpoint_every=2)
    assert ck.latest_iteration() == 3
    ranks2, info2 = pagerank(edges_df(spark, EDGES), max_iter=12, ckpt=ck,
                             checkpoint_every=2, resume=True)
    assert info2["resumed_from"] == 3
    got = {r["vid"]: r["rank"] for r in ranks2.collect()}
    vids = sorted(full)
    np.testing.assert_allclose([got[v] for v in vids],
                               [full[v] for v in vids], atol=1e-9)


def test_lineage_and_metrics_recorded(spark, tmp_path):
    ck = CheckpointStore(str(tmp_path / "pr2"), "runX")
    pagerank(edges_df(spark, EDGES), max_iter=4, ckpt=ck, checkpoint_every=2)
    metrics = ck.read_metrics()
    assert metrics and all("l1_diff" in m and "dangling_mass" in m for m in metrics)
    lineage_file = ck.run_dir + "/lineage.jsonl"
    import json
    with open(lineage_file) as f:
        recs = [json.loads(x) for x in f]
    assert recs and all("partitions" in r for r in recs)
    # per-partition rows sum to vertex count
    assert sum(recs[-1]["partitions"].values()) == 9


def test_pagerank_long_loop_checkpointed_every_superstep(spark, tmp_path):
    """50 supersteps, each committed to the store: the in-memory state is
    kept across writes, so nothing but the eager localCheckpoint bounds the
    plan and its size estimates; the answer must still match the oracle."""
    ck = CheckpointStore(str(tmp_path / "pr_long"), "run1")
    ranks, info = pagerank(edges_df(spark, EDGES), tol=0.0, max_iter=50, ckpt=ck,
                           checkpoint_every=1)
    assert info["iterations"] == 50 and not info["converged"]
    assert ck.committed_iterations() == list(range(50))
    want, _, _ = pagerank_oracle(EDGES, tol=0.0, max_iter=50)
    got = {r["vid"]: r["rank"] for r in ranks.collect()}
    assert got.keys() == want.keys()
    vids = sorted(want)
    np.testing.assert_allclose([got[v] for v in vids], [want[v] for v in vids],
                               atol=1e-6, rtol=0)
    last = {r["vid"]: r["rank"] for r in ck.read_state(spark, 49).collect()}
    assert last == got
