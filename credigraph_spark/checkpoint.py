"""Superstep checkpoint store: resumable iterative state + metrics + lineage.

North-rule requirement: every superstep checkpoints the vertex-state
DataFrame with per-partition lineage and iteration metrics so any run is
resumable mid-algorithm. This replaces the reference's ad-hoc resume
machinery (``--intermediate_output`` re-read, wat_extract_links.py:339-356,
and ``indices.json`` in construction/pipeline.sh:38-89).

Two backends behind ONE interface — every method (write, read, committed
iterations, converged marker) routes through the same switch:

* **catalog table** (Iceberg on a real cluster): one table per state name
  under ``<catalog_prefix>.<run_id>_<name>``, partitioned by an
  ``_iteration`` column. Each superstep commits via
  ``overwritePartitions()`` — idempotent for re-runs of the SAME
  iteration, and prior iterations stay readable (no createOrReplace
  wipe). Resume reads ``SELECT DISTINCT _iteration`` from table metadata;
  the converged marker is a one-row ``…_meta`` table, so a resumed run on
  a DIFFERENT driver host sees it too.
* **parquet dir** (fallback/tested default): one directory per iteration,
  committed by Spark's ``_SUCCESS`` marker; converged marker is a local
  json file.

The catalog path is format-parameterized (``table_format``): production
uses ``iceberg``; the sandbox has no Iceberg jar, so tests drive the SAME
code path through Spark's built-in ``spark_catalog`` with parquet managed
tables (identical writeTo/create/overwritePartitions/read.table calls).

``write_state`` returns the re-read state, whose plan starts fresh. The
engine's superstep loops reach the store only through the superstep
driver (``graph/loop.py``), which owns the converged short-circuit, the
latest-iteration resume and the end-of-round write/metrics/converged
cadence. It discards the re-read: its loops keep their in-memory state,
and the store write is for durability and resume only.

On the parquet backend a write is ONE Spark job, the write itself. The
re-read is lazy: it is given the written frame's schema, so no schema-
inference job runs for a DataFrame nobody may read. The lineage record
(rows per written partition) comes from the committed part files'
parquet footers, read on the driver, not from a re-scan of the data.
Measured on a 12k-row state at local[4]: 432 -> 201 ms per write, 4 -> 1
jobs (3 -> 1 inside a superstep loop, where AQE is paused).
"""

from __future__ import annotations

import json
import os
import time

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Row, SparkSession, functions as F


def _catalog_configured(spark: SparkSession, catalog_prefix: str) -> bool:
    """True when the catalog named by the prefix's first component resolves
    in this session: the built-in ``spark_catalog`` always does; any other
    name needs a ``spark.sql.catalog.<name>`` plugin conf (how Iceberg
    catalogs are registered)."""
    head = catalog_prefix.split(".", 1)[0]
    if head == "spark_catalog":
        return True
    try:
        return spark.conf.get(f"spark.sql.catalog.{head}", None) is not None
    except Exception:
        return False


class _CatalogTableIO:
    """The four physical verbs the catalog backend needs — the ONLY lines
    that touch the DataFrameWriterV2 API. Production format is Iceberg
    (each verb is a documented Iceberg-supported v2 operation); tests
    inject a parquet-backed fake with identical semantics (partition-level
    overwrite, exists, read-back) because the sandbox ships no Iceberg
    runtime jar and Spark's built-in session catalog only supports v2
    ``create()`` on file-source tables."""

    def __init__(self, table_format: str = "iceberg"):
        self.table_format = table_format

    def exists(self, spark: SparkSession, tbl: str) -> bool:
        return spark.catalog.tableExists(tbl)

    def create_partitioned(self, df: DataFrame, tbl: str) -> None:
        (df.writeTo(tbl).using(self.table_format)
           .partitionedBy(F.col("_iteration")).create())

    def overwrite_partitions(self, df: DataFrame, tbl: str) -> None:
        # replaces ONLY the _iteration partitions present in df: an ACID
        # snapshot per superstep, prior iterations stay readable
        df.writeTo(tbl).overwritePartitions()

    def create_or_replace(self, df: DataFrame, tbl: str) -> None:
        df.writeTo(tbl).using(self.table_format).createOrReplace()

    def read(self, spark: SparkSession, tbl: str) -> DataFrame:
        return spark.read.table(tbl)


class CheckpointStore:
    def __init__(self, root: str, run_id: str, catalog: str | None = None,
                 table_format: str = "iceberg", table_io=None):
        """``catalog``: optional catalog (or ``catalog.namespace``) prefix;
        when set AND that catalog resolves in the session, state lives in
        ``<catalog>.<run_id>_<name>`` tables written as ``table_format``
        (Iceberg in production). Otherwise the parquet-dir backend is
        used. ``root`` always holds driver-side metrics/lineage jsonl.
        ``table_io``: physical verb implementation (tests inject a fake)."""
        self.root = root
        self.run_id = run_id
        self.catalog = catalog
        self.table_format = table_format
        self.table_io = table_io if table_io is not None else _CatalogTableIO(table_format)
        self.run_dir = os.path.join(root, run_id)
        os.makedirs(self.run_dir, exist_ok=True)

    # -- backend switch -----------------------------------------------------
    def _use_catalog(self, spark: SparkSession) -> bool:
        if self.catalog is None:
            return False
        if not isinstance(self.table_io, _CatalogTableIO):
            return True  # caller injected its own verbs — they chose the backend
        return _catalog_configured(spark, self.catalog)

    def _iter_dir(self, name: str, iteration: int) -> str:
        return os.path.join(self.run_dir, name, f"iter={iteration:05d}")

    def _table(self, name: str) -> str:
        return f"{self.catalog}.{self.run_id}_{name}"

    def _session(self) -> SparkSession:
        return SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()

    # -- state ------------------------------------------------------------
    def write_state(self, df: DataFrame, iteration: int, name: str = "state") -> DataFrame:
        """Materialize one superstep's state; returns the re-read DataFrame
        (fresh lineage). Catalog backend: create the ``_iteration``-
        partitioned table on first commit, then ``overwritePartitions()``
        per superstep — an ACID snapshot per iteration on Iceberg, with
        every prior iteration still readable for resume/debug. Parquet
        backend: one dir per iteration (_SUCCESS marker commit), re-read
        lazily with the written schema: the write is the one job."""
        spark = df.sparkSession
        if self._use_catalog(spark):
            tbl = self._table(name)
            staged = df.withColumn("_iteration", F.lit(iteration))
            if self.table_io.exists(spark, tbl):
                self.table_io.overwrite_partitions(staged, tbl)
            else:
                self.table_io.create_partitioned(staged, tbl)
            out = (self.table_io.read(spark, tbl)
                   .where(F.col("_iteration") == iteration).drop("_iteration"))
        else:
            path = self._iter_dir(name, iteration)
            df.write.mode("overwrite").parquet(path)
            out = spark.read.schema(df.schema).parquet(path)
        self.record_lineage(out, iteration, name=name)
        return out

    def read_state(self, spark: SparkSession, iteration: int, name: str = "state") -> DataFrame:
        if self._use_catalog(spark):
            return (self.table_io.read(spark, self._table(name))
                    .where(F.col("_iteration") == iteration).drop("_iteration"))
        return spark.read.parquet(self._iter_dir(name, iteration))

    def committed_iterations(self, name: str = "state") -> list[int]:
        spark = self._session()
        if self._use_catalog(spark):
            tbl = self._table(name)
            if not self.table_io.exists(spark, tbl):
                return []
            # partition-column DISTINCT: metadata-only on Iceberg/parquet
            rows = self.table_io.read(spark, tbl).select("_iteration").distinct().collect()
            return sorted(int(r[0]) for r in rows)
        base = os.path.join(self.run_dir, name)
        if not os.path.isdir(base):
            return []
        out = []
        for d in os.listdir(base):
            if d.startswith("iter=") and os.path.exists(os.path.join(base, d, "_SUCCESS")):
                out.append(int(d.split("=")[1]))
        return sorted(out)

    def latest_iteration(self, name: str = "state") -> int | None:
        its = self.committed_iterations(name)
        return its[-1] if its else None

    # -- convergence marker -------------------------------------------------
    # Resuming a run whose checkpointed state already converged must NOT
    # burn an extra superstep (the re-run would drift the result by < tol
    # and waste a full pass): algorithms mark convergence here and
    # short-circuit resume when the marker exists. Catalog backend: a
    # one-row meta table (visible to resumes from any driver host);
    # parquet backend: a driver-local json file.
    def _converged_path(self, name: str) -> str:
        return os.path.join(self.run_dir, f"{name}.converged.json")

    def mark_converged(self, iteration: int, name: str = "state") -> None:
        spark = self._session()
        if self._use_catalog(spark):
            tbl = self._table(f"{name}_meta")
            row = spark.createDataFrame(
                [Row(key="converged", iteration=iteration, wall_ts=float(time.time()))]
            )
            self.table_io.create_or_replace(row, tbl)
            return
        with open(self._converged_path(name), "w") as f:
            json.dump({"iteration": iteration, "wall_ts": time.time()}, f)

    def converged_iteration(self, name: str = "state") -> int | None:
        spark = self._session()
        if self._use_catalog(spark):
            tbl = self._table(f"{name}_meta")
            if not self.table_io.exists(spark, tbl):
                return None
            rows = (self.table_io.read(spark, tbl)
                    .where(F.col("key") == "converged").select("iteration").collect())
            return int(rows[0][0]) if rows else None
        p = self._converged_path(name)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)["iteration"]

    # -- metrics / lineage --------------------------------------------------
    def append_metrics(self, iteration: int, metrics: dict) -> None:
        rec = {"run_id": self.run_id, "iteration": iteration,
               "wall_ts": time.time(), **metrics}
        with open(os.path.join(self.run_dir, "metrics.jsonl"), "a") as f:
            f.write(json.dumps(rec) + "\n")

    def read_metrics(self) -> list[dict]:
        p = os.path.join(self.run_dir, "metrics.jsonl")
        if not os.path.exists(p):
            return []
        with open(p) as f:
            return [json.loads(line) for line in f if line.strip()]

    def record_lineage(self, df: DataFrame, iteration: int, name: str = "state") -> None:
        """Append the committed state's rows per written partition to
        ``lineage.jsonl``. Parquet backend: read from the footers of the
        iteration's part files (one entry per task that wrote a file,
        keyed by its partition id; no Spark job). Catalog backend: one
        narrow count over ``df``, the re-read state."""
        if self._use_catalog(df.sparkSession):
            parts = {
                str(r["partition_id"]): r["rows"] for r in
                df.groupBy(F.spark_partition_id().alias("partition_id"))
                .agg(F.count("*").alias("rows")).collect()
            }
        else:
            parts = {}
            path = self._iter_dir(name, iteration)
            for f in sorted(os.listdir(path)):
                if f.startswith("part-"):
                    # part-<partition id>-<job uuid>-c<file no>.<codec>.parquet
                    pid = str(int(f.split("-")[1]))
                    rows = pq.read_metadata(os.path.join(path, f)).num_rows
                    parts[pid] = parts.get(pid, 0) + rows
        rec = {
            "run_id": self.run_id, "name": name, "iteration": iteration,
            "partitions": parts,
        }
        with open(os.path.join(self.run_dir, "lineage.jsonl"), "a") as f:
            f.write(json.dumps(rec) + "\n")
