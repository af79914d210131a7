"""Driver-side fixpoint loops: the plumbing shared by the iterative
operators (``graph.pagerank``, ``graph.label_propagation``,
``graph.tree_root_depth`` and ``dedup.connected_components``).

Each of them runs rounds of parsed ``spark.sql`` statements over temp
views of the previous round's frame (one statement instead of dozens of
py4j Column/DataFrame calls per round).  The operators keep their
set-up, their round SQL and their final projection; a :class:`Fixpoint`
scope owns the rest:

* **Checkpoint policy** (:meth:`Fixpoint.checkpoint`).  Every round
  frame is checkpointed: an iterative self-referencing plan otherwise
  grows its lineage every round and re-executes round 1 under round N,
  and a self-join over deep lineage trips Spark's attribute
  disambiguation.  ``checkpoint_dir=None`` uses ``localCheckpoint``:
  correct in local mode, but executor loss invalidates the blocks and
  kills the job.  A reliable ``checkpoint_dir`` (HDFS/S3 path) lets the
  rounds survive executor loss, and is always eager: a lazy reliable
  checkpoint computes the frame once for the action and again for the
  write.  A local checkpoint is lazy only where one full-scan action is
  the frame's single consumer when it materializes (a set-up frame's
  sizing count, a round frame's convergence probe): that action caches
  every partition in the same job.  Every other round frame is eager —
  pagerank's round frame feeds both the next round's dangling-mass
  broadcast and its contribs join, and lazily those concurrent stages
  would race to compute it twice.  The plan is truncated to a
  ``LogicalRDD`` immediately either way.
* **Temp-view lifetime** (:func:`temp_views`).  Names are unique per
  process, also across threads (streaming batches and tests run the
  operators concurrently in one session), and every registered view is
  dropped when the scope exits, error or not.
* **The shuffle-partition pin** (:meth:`Fixpoint.pin`) around the
  loop, from ``functions.sizing``, held until the scope exits.
* **The convergence probe** (:meth:`Fixpoint.run`): a FULL count of
  the round frame's rows matching a SQL predicate, not a ``limit(1)`` —
  a limit over a lazy checkpoint would leave its unscanned partitions
  to a backfill job.  A count of 0 ends the loop; running out of rounds
  raises ``RuntimeError``.
"""

from __future__ import annotations

import itertools
from collections.abc import Callable, Iterator
from contextlib import ExitStack, contextmanager

from pyspark.sql import DataFrame, SparkSession

from sap_data_pipeline_spark.functions.sizing import shuffle_partitions

# next() on a count is atomic under the GIL, so no two threads ever
# mint the same view name.
_VIEW_SEQ = itertools.count(1)


@contextmanager
def temp_views(spark: SparkSession) -> Iterator[Callable[[DataFrame, str], str]]:
    """Yield ``view(df, prefix)``, which registers ``df`` as a temp view
    named ``_{prefix}{n}`` (unique per process) and returns the name.
    Every view registered in the block is dropped on exit.
    ``dropTempView`` returns ``False`` for a missing view, never raises."""
    names: list[str] = []

    def view(df: DataFrame, prefix: str) -> str:
        name = f"_{prefix}{next(_VIEW_SEQ)}"
        names.append(name)
        df.createOrReplaceTempView(name)
        return name

    try:
        yield view
    finally:
        for name in names:
            spark.catalog.dropTempView(name)


class Fixpoint(ExitStack):
    """One iterative operator's scope: use as ``with Fixpoint(...) as fp``.

    Views registered through ``fp.view``, frames persisted through
    ``fp.persist`` and the pin set by ``fp.pin`` all last until the
    scope exits.  ``fp.checkpoint`` keeps working after it exits."""

    def __init__(self, spark: SparkSession, checkpoint_dir: str | None = None):
        super().__init__()
        self.spark = spark
        self.checkpoint_dir = checkpoint_dir
        if checkpoint_dir is not None:
            spark.sparkContext.setCheckpointDir(checkpoint_dir)
        self.view = self.enter_context(temp_views(spark))

    def checkpoint(self, df: DataFrame, *, lazy: bool = False) -> DataFrame:
        """Cut ``df``'s lineage.  ``lazy`` leaves materialization to the
        caller's next full-scan action; reliable checkpoints stay eager."""
        if self.checkpoint_dir is not None:
            return df.checkpoint(eager=True)
        return df.localCheckpoint(eager=not lazy)

    def persist(self, df: DataFrame) -> DataFrame:
        """``df.persist()``, unpersisted when the scope exits."""
        self.callback(df.unpersist)
        return df.persist()

    def pin(self, parts: int) -> None:
        """Pin ``spark.sql.shuffle.partitions`` until the scope exits."""
        self.enter_context(shuffle_partitions(self.spark, parts))

    def run(self, state: DataFrame | None,
            step: Callable[[str | None], DataFrame], *, rounds: int,
            probe: str | None = None, error: str = "") -> DataFrame:
        """Up to ``rounds`` rounds of ``state = step(view of state)``;
        ``step`` gets ``None`` while ``state`` is ``None``.

        Without ``probe`` every round runs and each round frame is
        checkpointed eagerly.  With it, each round frame is checkpointed
        lazily and materialized by the count of its rows matching the
        SQL predicate ``probe``; the first round counting 0 is returned,
        and ``RuntimeError(error)`` is raised if none does."""
        for _ in range(rounds):
            prev = None if state is None else self.view(state, "round")
            state = self.checkpoint(step(prev), lazy=probe is not None)
            if probe is not None and state.filter(probe).count() == 0:
                return state
        if probe is not None:
            raise RuntimeError(error)
        return state
