"""Extraction + graph build: repos(content) -> named edges -> integer-ID graph.

Mirrors the reference's two Spark jobs re-expressed Spark-first:

* ``wat_extract_links.py`` (WAT -> (s,t) host pairs, schema :19-21; dedup +
  sort-within-partitions + write :357-361)  ->  here a single Arrow-vectorized
  ``pandas_udf`` reference-extractor over ``content`` + ``explode`` (no
  per-row Python, BASELINE.json input_hint).
* ``hostlinks_to_graph.py`` (vertex-ID assignment :112-157, double ID join
  :179-182, self-loop filter :186-190)  ->  here a *distributed* dense-ID
  assignment (the reference's ``coalesce(1).sort()`` at :127-131 is its
  single-partition bottleneck; we keep its dense-sorted-ID semantics without
  ever collapsing to one partition).

``build_graph`` does each piece of that work once: the extractor runs once
per file (``explode_outer``, so the optimizer infers no ``size(refs) > 0``
filter that would evaluate the extractor a second time below the
projection), the named edges and the vertex table are each materialized
once, the ranges of the ID assignment are sized from the named-edge count
observed by the first materialization, and the distinct names are
shuffled once (by range).

Per-row invariant vs the reference: sha256(content) equality — computed
JVM-side with ``F.sha2`` (codegen, no UDF).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Observation, functions as F
from pyspark.sql.types import ArrayType, StringType
from pyspark.sql.window import Window

# One reference per line: `import|require|use org1234/lib000042`.
REF_PATTERN = r"(?m)^(?:import|require|use)\s+([A-Za-z0-9_\-\.]+/[A-Za-z0-9_\-\.]+)\s*$"

# monotonically_increasing_id's layout: the row's position in its partition
# sits in the low 33 bits, the partition index above them.
_POS_BITS = 33
_POS_MASK = (1 << _POS_BITS) - 1


@F.pandas_udf(ArrayType(StringType()))
def _extract_refs(content: pd.Series) -> pd.Series:
    """Vectorized regex extraction of cross-repo references (UDTF analog of
    wat_extract_links.py process_record :90-137, Arrow-batched)."""
    return content.str.findall(REF_PATTERN)


def content_hashes(repos: DataFrame) -> DataFrame:
    """Per-row sha256(content) invariant (BASELINE.json input_hint) —
    pure codegen (F18 in SURVEY.md §2.8), no Python in the loop."""
    return repos.select(
        "repo", "path", "commit", F.sha2(F.col("content"), 256).alias("content_sha256")
    )


def extract_edges_named(repos: DataFrame, langs: list[str] | None = None,
                        dedup: bool = True, extractor: str = "pandas") -> DataFrame:
    """repos -> distinct named edges ``(s string, t string)``.

    Schema matches the reference extractor output (wat_extract_links.py:19-21).
    ``langs`` is the early-pruning predicate (wet_extract_domain_content.py:76-87
    analog): applied BEFORE the extractor so the filter reaches the scan
    (UDFs block pushdown — cheap predicates must come first, SURVEY.md §4).
    ``dedup=False`` skips the distinct (streaming ingest defers global dedup
    to graph build rather than keeping unbounded stream state).

    ``extractor``: "pandas" (Arrow-vectorized pandas UDF — the input-hint
    surface, and the shape a real HTML/WAT parser plugs into) or "sql"
    (``regexp_extract_all`` — whole-stage codegen, zero Python workers;
    same results, same regex, strictly cheaper when the extraction IS a
    regex; ``build_graph`` with it measured 1.6x faster than with the
    pandas UDF on bench.py's sf0.1 extraction leaves at local[4]).
    """
    df = repos
    if langs:
        df = df.where(F.col("lang").isin(langs))
    if extractor == "sql":
        refs = F.regexp_extract_all(F.col("content"), F.lit(REF_PATTERN), 1)
    elif extractor == "pandas":
        refs = _extract_refs(F.col("content"))
    else:
        raise ValueError(f"unknown extractor: {extractor}")
    # explode_outer, not explode: for explode(refs) the optimizer infers a
    # size(refs) > 0 filter and pushes it below the projection, where it
    # evaluates the extractor a second time. The null row explode_outer
    # emits for a file without references fails the filter below.
    edges = (
        df.select(F.col("repo").alias("s"), F.explode_outer(refs).alias("t"))
        .where(F.col("t").isNotNull() & (F.length("t") > 0))
    )
    if dedup:
        edges = edges.dropDuplicates(["s", "t"])  # A2: wat_extract_links.py:357
    return edges


def assign_vertex_ids(edges_named: DataFrame, name_cols: tuple[str, str] = ("s", "t"),
                      num_ranges: int | None = None) -> DataFrame:
    """Distinct endpoint union -> dense sorted IDs ``(name string, id long)``.

    Same contract as hostlinks_to_graph.py:112-157 (IDs dense, ordered by
    name) but fully distributed, shuffling the distinct names once:
      1. range-partition distinct names (global sort order across partitions),
      2. per-partition local rank: sort within each range, then
         ``monotonically_increasing_id`` (high bits: the partition index,
         low 33 bits: the row's position in it),
      3. tiny per-partition counts -> cumulative offsets, broadcast-joined.

    ``num_ranges`` defaults to max(32, input partitions) so the per-range
    sort task count SCALES with the input instead of capping at a fixed 32
    (``build_graph`` passes a count sized from the measured edges instead).
    """
    s, t = name_cols
    if num_ranges is None:
        num_ranges = max(32, edges_named.rdd.getNumPartitions())
    names = (
        edges_named.select(F.col(s).alias("name"))
        .unionByName(edges_named.select(F.col(t).alias("name")))
        .where(F.col("name").isNotNull() & (F.length("name") > 0))
        .distinct()  # A3: hostlinks_to_graph.py:113-116
    )
    local = (
        names.repartitionByRange(num_ranges, "name")
        .sortWithinPartitions("name")
        .select("name", F.monotonically_increasing_id().alias("_mid"))
        .select("name", F.shiftright("_mid", _POS_BITS).alias("_pid"),
                F.col("_mid").bitwiseAND(_POS_MASK).alias("_pos"))
    )
    counts = local.groupBy("_pid").agg(F.count("*").alias("_cnt"))
    # offsets table is O(num_ranges) rows — broadcast it. Constant
    # partition key: non-empty spec avoids WindowExec's single-partition
    # warning (the window only ranks num_ranges rows).
    w = (Window.partitionBy(F.lit(0)).orderBy("_pid")
         .rowsBetween(Window.unboundedPreceding, -1))
    offsets = counts.withColumn("_off", F.coalesce(F.sum("_cnt").over(w), F.lit(0)))
    ids = (
        local.join(F.broadcast(offsets.select("_pid", "_off")), "_pid")
        .select("name", (F.col("_off") + F.col("_pos")).cast("long").alias("id"))
    )
    return ids


def edges_to_ids(edges_named: DataFrame, vertex_ids: DataFrame,
                 drop_self_loops: bool = True) -> DataFrame:
    """Double ID join (J1, hostlinks_to_graph.py:179-182) -> ``(src, dst)``.

    Self-loops are removed AFTER ID assignment so isolated vertices keep
    their IDs (hostlinks_to_graph.py:186-190 ordering)."""
    ids_s = vertex_ids.select(F.col("name").alias("s"), F.col("id").alias("src"))
    ids_t = vertex_ids.select(F.col("name").alias("t"), F.col("id").alias("dst"))
    out = (
        edges_named.join(ids_s, "s", "inner")
        .join(ids_t, "t", "inner")
        .select("src", "dst")
    )
    if drop_self_loops:
        out = out.where(F.col("src") != F.col("dst"))  # P2
    return out.dropDuplicates(["src", "dst"])


def build_graph(repos: DataFrame, langs: list[str] | None = None,
                num_ranges: int | None = None,
                extractor: str = "pandas") -> tuple[DataFrame, DataFrame]:
    """repos -> (vertices(name,id), edges(src,dst)) — the full M1 pipeline.

    Each piece of work runs once:

    * the named-edge table is materialized ONCE (eager localCheckpoint),
      with the extractor evaluated once per file; it feeds three consumers
      (the vertex-name distinct and both sides of the ID join), each of
      which would otherwise re-run the extractor + explode + dedup;
    * an Observation on that checkpoint counts the named edges, and
      ``num_ranges=None`` means ranges sized from that count
      (``adaptive_partitions``) — no extra job;
    * the vertex table is materialized once, so the edge join and the
      caller both read it and the ID assignment does not run again
      inside the edge plan.

    The returned edge table stays lazy."""
    from credigraph_spark.session import adaptive_partitions, eager_checkpoint

    obs = Observation("named_edges")
    named = eager_checkpoint(
        extract_edges_named(repos, langs=langs, extractor=extractor)
        .observe(obs, F.count(F.lit(1)).alias("n")))
    if num_ranges is None:
        num_ranges = adaptive_partitions(obs.get["n"])
    vertices = eager_checkpoint(assign_vertex_ids(named, num_ranges=num_ranges))
    edges = edges_to_ids(named, vertices)
    return vertices, edges


def extract_with_metrics(repos: DataFrame, langs: list[str] | None = None):
    """Named-edge extraction instrumented with an Observation (the engine's
    analog of the reference's accumulator counters, sparkcc.py:174-183 /
    wat_extract_links.py:283-316 — records processed, links extracted —
    but collected through Spark's metrics channel, not a side effect).
    The extraction is ``extract_edges_named``'s plan over the observed
    input.

    Returns (edges_df, observation); read ``observation.get`` AFTER the
    first action on the returned DataFrame."""
    obs = Observation("extraction_metrics")
    df = repos
    if langs:
        df = df.where(F.col("lang").isin(langs))
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("records_processed"),
        F.sum(F.length("content")).alias("bytes_scanned"),
    )
    return extract_edges_named(observed), obs


def extract_json_fields(df: DataFrame, json_col: str, schema: str,
                        fields: dict[str, str]) -> DataFrame:
    """F15 (wat_extract_metadata.py:24-51): extract k (possibly nested)
    fields from ONE JSON parse. The reference runs 14 JSONPath probes per
    WAT record; ``get_json_object`` would re-parse the string per field —
    ``from_json`` with an explicit schema parses once and every field
    projection is a struct access inside codegen.

    ``schema``: DDL string for the JSON shape (e.g.
    ``'meta STRUCT<type: STRING, uid: BIGINT>, k BIGINT'``);
    ``fields``: output column name -> dotted struct path."""
    parsed = df.withColumn("_j", F.from_json(F.col(json_col), schema))
    keep = [c for c in df.columns if c != json_col]
    return parsed.select(
        *keep, *[F.col(f"_j.{path}").alias(name) for name, path in fields.items()]
    )
