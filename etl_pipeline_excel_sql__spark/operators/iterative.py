"""Lineage truncation for iterative DataFrame algorithms, with bounded
storage and an opt-in fault-tolerant mode.

Iterative operators (connected components in ``clusters.py``, PageRank in
``graph.py``) must cut their logical plan every round or plan analysis
doubles per iteration. The cut has two flavors:

* ``localCheckpoint`` (default) — blocks in the executor block manager.
  Fast, but (a) NOT fault-tolerant: losing an executor mid-loop loses
  blocks with no lineage to recompute them, failing a multi-hour job at
  real scale; and (b) blocks accumulate unless the previous iteration's
  are explicitly unpersisted (Spark's ContextCleaner frees them only on
  JVM GC, which is nondeterministic).
* reliable ``checkpoint`` — files under a checkpoint directory (HDFS/S3 on
  a cluster). Survives executor loss; the right mode for 100-TB runs.

``LineageTruncator`` wraps both behind one call and bounds storage either
way: each ``truncate`` unpersists the previous iteration's blocks (local
mode) or deletes its checkpoint files (reliable mode) once the new
iteration has materialized. The caller must therefore only ever read the
MOST RECENT truncated DataFrame — exactly the shape of a fixpoint loop.

``truncate_with`` additionally lets the convergence check BE the
materializing action: a non-eager checkpoint is marked and the caller's
action (e.g. "count changed labels") runs as the one job that both
materializes the checkpoint and answers convergence — one job per round
instead of an eager-checkpoint job plus a separate count job.

Call-spanning slots — the one lifetime rule
-------------------------------------------
Some operators must leave storage behind when they return, because the
lazy result they hand back reads it: a persisted frame (held by a
:class:`SignatureCache`) or a lineage cut (held by a
:class:`LineageTruncator`). Each such operator takes a caller-owned
``cache=`` or ``truncator=``; without one it uses a default slot from
:func:`shared_slot`, which owns every default slot in the package: one
slot per name per session, replaced when the session changes.

Every slot follows the same rule. Each call through a slot frees what
that slot's previous call left behind, so a loop holds at most one
lingering table per slot. Only the most recent result through a slot may
still be read lazily: an older persisted result stays correct but
recomputes, and an older checkpointed result has no lineage left and
fails block-not-found. Callers that interleave calls, or make them from
several threads, pass their own slot so each call sequence owns its
lifetime (see tests/test_iterative.py).
"""

from __future__ import annotations

import threading
from typing import Callable, TypeVar

from pyspark.sql import DataFrame, SparkSession

T = TypeVar("T")
S = TypeVar("S")


def _persisted_rdd_ids(spark: SparkSession) -> set[int]:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(i) for i in jmap.keySet().toArray()}


def _unpersist_rdd_ids(spark: SparkSession, ids: set[int]) -> None:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in ids:
        jrdd = jmap.get(rid)
        if jrdd is not None:
            jrdd.unpersist(False)


def release_persisted(spark: SparkSession) -> None:
    """Free everything ``spark`` holds persisted: every persisted RDD
    (localCheckpoint blocks included, which ``unpersist`` cannot reach)
    and every CacheManager entry. Harness bookkeeping between
    independent queries. The RDD sweep alone leaves the cache entries
    behind, and a later ``persist()`` of an identical plan then lands on
    a stale entry and caches nothing."""
    _unpersist_rdd_ids(spark, _persisted_rdd_ids(spark))
    spark.catalog.clearCache()


#: The default slots: name -> (session, slot). Only shared_slot reads it.
_SLOTS: dict[str, tuple[SparkSession, object]] = {}
_SLOTS_LOCK = threading.Lock()


def shared_slot(spark: SparkSession, name: str, factory: Callable[[], S]) -> S:
    """The default slot ``name`` of session ``spark`` (see "Call-spanning
    slots" above). ``factory()`` makes it on first use, and again when the
    session changes: a slot from another session holds storage this one
    cannot see."""
    with _SLOTS_LOCK:
        held = _SLOTS.get(name)
        if held is None or held[0] is not spark:
            held = _SLOTS[name] = (spark, factory())
        return held[1]


class SignatureCache:
    """Persist slot: holds at most ONE persisted DataFrame, swapped per
    call (the lifetime rule is in the module docstring)."""

    def __init__(self) -> None:
        self._df: DataFrame | None = None

    def swap(self, df: DataFrame) -> DataFrame:
        """Release the held table, then persist and hold ``df``.

        The release comes first. A repeat call builds an identical plan,
        the CacheManager folds its ``persist()`` onto the held entry, and
        unpersisting the held frame afterwards would drop that entry and
        leave ``df`` uncached (``perceptron_scores`` then rebuilt its
        feature table every training round: 16 s vs 7 s at sf0.1).
        """
        if self._df is not None:
            self._df.unpersist()
        self._df = df.persist()
        return self._df


class LineageTruncator:
    """Per-iteration plan truncation with previous-iteration cleanup.

    One instance per loop variable. ``checkpoint_dir=None`` (default)
    keeps the sandbox-friendly ``localCheckpoint``; passing a directory
    (e.g. an HDFS/S3 URI on a cluster) switches every cut to a reliable
    ``checkpoint`` so executor loss cannot kill the loop. Results are
    identical either way — only the storage substrate changes.
    """

    def __init__(
        self, spark: SparkSession, checkpoint_dir: str | None = None
    ) -> None:
        self._spark = spark
        self._reliable = checkpoint_dir is not None
        self._prior_rdd_ids: set[int] = set()
        self._prior_files: set[str] = set()
        if self._reliable:
            spark.sparkContext.setCheckpointDir(checkpoint_dir)
            self._ckpt_root = checkpoint_dir

    # -- reliable-mode file tracking ------------------------------------
    def _rdd_dirs(self) -> set[str]:
        """Glob rdd-* checkpoint dirs under the root, any filesystem."""
        sc = self._spark.sparkContext
        jvm = sc._jvm
        path = jvm.org.apache.hadoop.fs.Path(self._ckpt_root + "/*/rdd-*")
        fs = path.getFileSystem(sc._jsc.hadoopConfiguration())
        statuses = fs.globStatus(path)
        if statuses is None:
            return set()
        return {str(s.getPath()) for s in statuses}

    def _delete_files(self, paths: set[str]) -> None:
        sc = self._spark.sparkContext
        jvm = sc._jvm
        for p in paths:
            jpath = jvm.org.apache.hadoop.fs.Path(p)
            fs = jpath.getFileSystem(sc._jsc.hadoopConfiguration())
            fs.delete(jpath, True)

    # -- public API ------------------------------------------------------
    def truncate(self, df: DataFrame) -> DataFrame:
        """Eagerly materialize a lineage cut of ``df``; free the prior one.

        Uses Spark's own eager checkpoint (which counts the INTERNAL row
        RDD) rather than ``truncate_with(df, count)``: a DataFrame-level
        count would analyze + codegen a fresh aggregate plan every
        iteration — measured ~0.1 s/iteration of pure driver overhead in
        the PageRank loop.
        """
        before_ids = _persisted_rdd_ids(self._spark)
        before_files = self._rdd_dirs() if self._reliable else set()
        if self._reliable:
            # Reliable checkpoint runs TWO jobs (the materializing action,
            # then the file write recomputing all partitions from lineage)
            # unless the plan is cached between them — persist around the
            # cut keeps each round to one computation.
            cached = df.persist()
            try:
                cut = cached.checkpoint(eager=True)
            finally:
                # unpersist even when checkpoint() raises — otherwise the
                # cached blocks leak for the rest of the session
                cached.unpersist()
        else:
            cut = df.localCheckpoint(eager=True)
        self._retire_prior(before_ids, before_files)
        return cut

    def truncate_with(
        self, df: DataFrame, action: Callable[[DataFrame], T]
    ) -> tuple[DataFrame, T]:
        """Mark a lineage cut, run ``action`` as the materializing job.

        ``action`` MUST compute every partition (a full ``count()`` /
        aggregate — never ``limit``), otherwise unvisited partitions stay
        unmaterialized and the cut is partial. Returns the truncated
        DataFrame and the action's result. The previous iteration's
        storage is freed only after the new cut has fully materialized,
        so a failure mid-action never strands the loop without its input.
        """
        before_ids = _persisted_rdd_ids(self._spark)
        before_files = self._rdd_dirs() if self._reliable else set()
        if self._reliable:
            # same persist-around-the-cut as truncate(): the deferred
            # file write replays the plan from the cache, not from
            # scratch, keeping "one computation per round" true in
            # reliable mode too
            cached = df.persist()
            try:
                cut = cached.checkpoint(eager=False)
                result = action(cut)
            finally:
                # runs even when the caller's action raises — the persisted
                # blocks must never outlive the round that created them
                cached.unpersist()
        else:
            cut = df.localCheckpoint(eager=False)
            result = action(cut)
        self._retire_prior(before_ids, before_files)
        return cut, result

    def _retire_prior(
        self, before_ids: set[int], before_files: set[str]
    ) -> None:
        """The new cut is fully materialized: free the previous round's
        storage and remember the new round's for next time."""
        _unpersist_rdd_ids(self._spark, self._prior_rdd_ids)
        self._prior_rdd_ids = _persisted_rdd_ids(self._spark) - before_ids
        if self._reliable:
            self._delete_files(self._prior_files)
            self._prior_files = self._rdd_dirs() - before_files
