"""Seeded input generators of the benchmark.

The program under test receives only the tables written here.

* ``rmat_edges`` is a vectorized numpy R-MAT with the quadrant rule of
  ``credigraph_spark.graph.generate.rmat_edges``: per level a uniform u picks
  quadrant 0 if u < a, 1 if u < a+b, 2 if u < a+b+c, else 3; the quadrant's
  high bit goes to src and its low bit to dst. Self-loops and duplicate
  edges are kept, as there. The uniforms come from numpy's PCG64 instead of
  md5, so the graphs differ edge by edge, not in distribution; the in-Spark
  md5 version takes minutes at the sizes used here.
* ``write_corpus`` writes ``credigraph_spark.corpus.repos_df``, whose ground
  truth ``corpus.expected_edges`` is known by construction.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def rmat_edges(seed: int, scale: int, n_edges: int, a: float = 0.57,
               b: float = 0.19, c: float = 0.19) -> tuple[np.ndarray, np.ndarray]:
    """(src, dst) int64 arrays of ``n_edges`` R-MAT edges on 2**scale vertices."""
    rng = np.random.default_rng(seed)
    thresholds = np.array([a, a + b, a + b + c])
    src = np.zeros(n_edges, dtype=np.int64)
    dst = np.zeros(n_edges, dtype=np.int64)
    for _ in range(scale):
        quad = np.searchsorted(thresholds, rng.random(n_edges), side="right")
        src = src * 2 + (quad >> 1)
        dst = dst * 2 + (quad & 1)
    return src, dst


def write_edges(path: str, src: np.ndarray, dst: np.ndarray) -> None:
    pq.write_table(pa.table({"src": src, "dst": dst}), path)


def write_corpus(spark, path: str, seed: int, n_repos: int,
                 files_per_repo: int) -> None:
    from credigraph_spark import corpus

    (corpus.repos_df(spark, seed, n_repos=n_repos, files_per_repo=files_per_repo)
     .write.mode("overwrite").parquet(path))
