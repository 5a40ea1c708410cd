"""The superstep driver: one protocol for every single-state iterative loop.

An operator keeps its setup and its step plan; ``SuperstepLoop`` owns the
rest, so the rules below hold in one place instead of one copy per loop:

* **tuning**: ``with loop:`` runs the loop under ``session.loop_tuning``
  at the loop's partition count (AQE paused, every superstep exchange
  sized to the measured data). The operator enters it where its loop
  setup begins; what runs before stays on the session's settings, and a
  loop that is never entered runs on the session's settings throughout.
* **exactly ONE driver action per superstep**: ``commit(plan)`` eager-
  localCheckpoints the step's plan. Every per-round scalar the loop needs
  (changed count, L1 delta, dangling mass, frontier size) rides an
  ``Observation`` that ``observe`` attaches anywhere inside that plan, so
  the checkpoint job fills them and no separate compare-join/count job
  runs; ``commit`` returns them. The checkpoint also truncates the plan,
  so lineage never grows across supersteps: a step that reads its state
  twice (a self-join, a keep-own fallback) would otherwise double its
  plan every round.
* **release**: once the new state is materialized, ``commit`` marks the
  superseded state and the scratch caches registered with ``cache``, and
  the end of the round frees them through ``session.release`` (a plain
  ``unpersist`` never frees a local checkpoint). A round may still read
  them after its commit (hits compares each new state with the previous
  one; scc restricts its edges to the phase's survivors after the phase's
  commit). A loop therefore holds one state whatever its iteration
  count. ``finish`` materializes the operator's result from the final
  state and frees the rest.
* **setup tables**: a table the rounds or the result read but no round
  replaces (a vertex table, a static coefficient vector, seed rows) is
  materialized with ``setup`` and released by ``finish``, after the
  result that may read it is materialized. Per-round tables that the
  result unions (walk steps, MIS winners, betweenness levels) are kept
  with ``setup`` too. ``keep`` is ``setup`` that also returns the values
  observed on the table, so a round with nothing new says so on that
  action and no ``isEmpty``/``take(1)`` job runs. A result that IS a
  table the loop holds (its state, a part made with ``checkpoint``, a
  setup table) is returned as is: ``finish(loop.state)`` frees
  everything else and keeps the state, so a result that is a projection
  of the state stays lazy. ``finish()`` with no plan only releases, for
  a result that reads no loop table.
* **nesting**: one ``SuperstepLoop`` per fixpoint. An inner fixpoint
  (scc's trim, coloring and backward floods inside its phase loop) is
  its own loop; ``loop_tuning`` restores the settings it found, so the
  inner ``with`` hands the outer loop its tuning back. An inner loop has
  no ``finish``: it releases each superseded state at the end of its
  round and keeps its final one, which the outer loop adopts with
  ``cache`` and releases with its own round. An inner loop that keeps
  per-round tables (coloring's Luby rounds per color) calls ``finish()``
  once the outer loop has materialized what it read from them.
* **the CheckpointStore protocol**: ``converged_state`` is the resume
  short-circuit (a run already marked converged returns its converged
  state verbatim; an extra superstep would drift the result by < tol and
  burn a full pass), ``resumed_state`` restarts from the latest committed
  iteration, and ``end_round`` writes the state on the
  ``checkpoint_every`` cadence (and on convergence and the last round),
  appends the round's metrics and marks convergence. The write is for
  durability and resume only: the loop keeps its in-memory state, whose
  plan the eager checkpoint has already truncated (a parquet round trip
  changes no value, so a re-read would change nothing).

Shape of a loop::

    loop = SuperstepLoop(spark, "cc", shuffle_n, max_iter, ckpt=ckpt, info=info)
    with loop:
        for it in loop:
            plan = ...  # the step, reading the current state
            state, m = loop.commit(loop.observe(plan, changed_expr))
            loop.end_round(m["changed"] == 0, changed=m["changed"])
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Observation, SparkSession

from credigraph_spark.checkpoint import CheckpointStore
from credigraph_spark.session import eager_checkpoint, loop_tuning, release


class SuperstepLoop:
    """Drives rounds ``0 .. max_iter-1`` (or from a resumed iteration on)
    until ``end_round`` reports convergence.

    ``partitions``: the loop's shuffle-partition count (None keeps the
    session's). ``info``: the operator's info dict; the driver keeps its
    ``iterations``, ``converged`` and ``resumed_from`` keys. ``algo`` names
    the loop's observations and its store metrics. ``partitions`` is read
    on ``with loop:``, so an operator whose loop is sized by a count over
    its own ``setup`` tables sets it once that count is known."""

    def __init__(self, spark: SparkSession, algo: str, partitions: int | None,
                 max_iter: int, ckpt: CheckpointStore | None = None,
                 checkpoint_every: int = 5, resume: bool = True,
                 info: dict | None = None):
        self.spark = spark
        self.algo = algo
        self.partitions = partitions
        self.max_iter = max_iter
        self.ckpt = ckpt
        self.checkpoint_every = checkpoint_every
        self.resume = resume and ckpt is not None
        self.info = info if info is not None else {}
        self.it = 0
        self.converged = bool(self.info.get("converged", False))
        self.state: DataFrame | None = None
        self._held: list[DataFrame] = []     # the current state
        self._next: list[DataFrame] = []     # parts of the next state
        self._scratch: list[DataFrame] = []  # caches freed with the next commit
        self._setup: list[DataFrame] = []    # tables freed by finish
        self._done: list[DataFrame] = []     # superseded, freed at round end
        self._committed = False              # this round has committed
        self._obs: list[Observation] = []
        self._n_obs = 0
        self._tuning = None
        self._t0 = 0.0

    # -- the store protocol before the first round --------------------------
    def converged_state(self) -> DataFrame | None:
        """The stored converged state when resuming a run already marked
        converged (``info`` updated as if it had just run), else None."""
        if not self.resume:
            return None
        done = self.ckpt.converged_iteration()
        if done is None:
            return None
        self.info.update(iterations=done + 1, converged=True, resumed_from=done)
        return self.ckpt.read_state(self.spark, done)

    def resumed_state(self) -> DataFrame | None:
        """The latest committed state, the loop then continuing after its
        iteration; None on a fresh run."""
        last = self.ckpt.latest_iteration() if self.resume else None
        if last is None:
            return None
        self.it = last + 1
        self.info["resumed_from"] = last
        return self.ckpt.read_state(self.spark, last)

    # -- the loop ----------------------------------------------------------
    def __enter__(self) -> SuperstepLoop:
        self._tuning = loop_tuning(self.spark, self.partitions)
        self._tuning.__enter__()
        return self

    def __exit__(self, *exc) -> None:
        self._tuning.__exit__(*exc)

    def __iter__(self):
        while self.it < self.max_iter and not self.converged:
            self._t0 = time.time()
            self._committed = False
            yield self.it
            for df in self._done:
                release(df)
            self._done = []
            self.it += 1
            self.info["iterations"] = self.it
        self.info["converged"] = self.converged

    def observe(self, df: DataFrame, *exprs) -> DataFrame:
        """``df`` observing ``exprs``; their values come back from the
        next ``commit`` or ``keep``."""
        self._n_obs += 1
        obs = Observation(f"{self.algo}_{self.it}_{self._n_obs}")
        self._obs.append(obs)
        return df.observe(obs, *exprs)

    def cache(self, df: DataFrame) -> DataFrame:
        """``df`` persisted until the state current when it is made is
        superseded. Made before the round's ``commit`` (a round's scratch,
        a not-yet-checkpointed first state), it is released when that
        commit's round ends; made after it (a lazy table the next round's
        commit reads, a table an inner loop hands to this one), it belongs
        to the next state and is released one commit later."""
        out = df.persist()
        (self._next if self._committed else self._scratch).append(out)
        return out

    def setup(self, plan: DataFrame) -> DataFrame:
        """Materialize a setup table that the rounds or the result read;
        ``finish`` releases it."""
        out = eager_checkpoint(plan)
        self._setup.append(out)
        return out

    def keep(self, plan: DataFrame) -> tuple[DataFrame, dict]:
        """``setup`` that also returns every value observed since the last
        ``commit`` or ``keep``: a setup table's measured size, or the
        count of a per-round table that the result reads (a walk step, a
        BFS level, a round's matches), the round's "nothing new" test."""
        return self.setup(plan), self._observed()

    def checkpoint(self, plan: DataFrame) -> DataFrame:
        """Materialize a part of the NEXT state that the round's ``commit``
        plan reads together with the current state; it is released with
        the state it belongs to, one commit later."""
        out = eager_checkpoint(plan)
        self._next.append(out)
        return out

    def commit(self, plan: DataFrame) -> tuple[DataFrame, dict]:
        """The round's one action: materialize the new state; the
        superseded state and the scratch caches are released when the
        round ends. Returns the new state and every value observed since
        the last ``commit`` or ``keep``."""
        new = eager_checkpoint(plan)
        metrics = self._observed()
        self._done += self._held + self._scratch
        self._held, self._next, self._scratch = self._next + [new], [], []
        self._committed = True
        self.state = new
        return new, metrics

    def _observed(self) -> dict:
        metrics: dict = {}
        for obs in self._obs:
            metrics.update(obs.get)
        self._obs = []
        return metrics

    def end_round(self, converged: bool, write: DataFrame | None = None,
                  **metrics) -> None:
        """Close the round: the loop stops after it when ``converged``. On
        the store's cadence, and on convergence and the last round, write
        ``write`` (default: the state) with ``metrics`` and mark
        convergence."""
        self.converged = bool(converged)
        done = self.it + 1
        if self.ckpt is None or not (converged or done % self.checkpoint_every == 0
                                     or done >= self.max_iter):
            return
        self.ckpt.write_state(self.state if write is None else write, self.it)
        self.ckpt.append_metrics(
            self.it, {"algo": self.algo, **metrics,
                      "wall_ms": (time.time() - self._t0) * 1e3,
                      "converged": self.converged})
        if self.converged:
            self.ckpt.mark_converged(self.it)

    def finish(self, plan: DataFrame | None = None) -> DataFrame | None:
        """Materialize the operator's result from the final state, then
        release everything the loop still holds, setup tables included.
        A ``plan`` the loop already holds materialized is returned as is
        and kept; with no ``plan``, nothing is materialized."""
        held = self._held + self._next + self._setup
        out = plan if plan is None or any(plan is df for df in held) \
            else eager_checkpoint(plan)
        for df in held + self._scratch + self._done:
            if df is not out:
                release(df)
        self._held, self._next, self._scratch, self._setup, self._done = [], [], [], [], []
        return out
