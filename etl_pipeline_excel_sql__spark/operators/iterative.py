"""Lineage truncation for iterative DataFrame algorithms, with bounded
block storage.

Iterative operators (connected components in ``clusters.py``, PageRank in
``graph.py``) must cut their logical plan every round or plan analysis
doubles per iteration. The cut is ``localCheckpoint``: the round's rows
stored as blocks in the block manager, with no lineage behind them.
Those blocks accumulate unless the previous round's are explicitly
unpersisted (Spark's ContextCleaner frees them only on JVM GC, which is
nondeterministic).

``LineageTruncator`` makes the cut and bounds storage: each ``truncate``
unpersists the previous round's blocks once the new round has
materialized. The caller must therefore only ever read the MOST RECENT
truncated DataFrame — exactly the shape of a fixpoint loop. A frame cut
once and never again needs no truncator: a plain ``localCheckpoint`` has
no prior cut to retire.

``truncate_with`` additionally lets the convergence check BE the
materializing action: a non-eager cut is marked and the caller's
action (e.g. "count changed labels") runs as the one job that both
materializes the cut and answers convergence — one job per round
instead of an eager-checkpoint job plus a separate count job.

Call-spanning slots — the one lifetime rule
-------------------------------------------
Some operators must leave storage behind when they return, because the
lazy result they hand back reads it: a persisted frame (held by a
:class:`SignatureCache`) or a lineage cut (held by a
:class:`LineageTruncator`). Three of them take a caller-owned slot:
``minhash_lsh_pairs(cache=)``, ``kmeans_train_assign(truncator=)`` and
``triangle_participation(truncator=)``. Without one, and in every other
such operator, the slot is a default from :func:`shared_slot`, which
owns every default slot in the package: one slot per name per session,
replaced when the session changes.

Every slot follows the same rule. Each call through a slot frees what
that slot's previous call left behind, so a loop holds at most one
lingering table per slot. Only the most recent result through a slot may
still be read lazily: an older persisted result stays correct but
recomputes, and an older cut result has no lineage left and fails
block-not-found. Callers that interleave calls, or make them from
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
    """Per-iteration ``localCheckpoint`` with previous-iteration cleanup.

    One instance per loop variable: each cut retires the blocks of the
    instance's previous cut once the new one has materialized.
    """

    def __init__(self, spark: SparkSession) -> None:
        self._spark = spark
        self._prior_rdd_ids: set[int] = set()

    def truncate(self, df: DataFrame) -> DataFrame:
        """Eagerly materialize a lineage cut of ``df``; free the prior one.

        Uses Spark's own eager checkpoint (which counts the INTERNAL row
        RDD) rather than ``truncate_with(df, count)``: a DataFrame-level
        count would analyze + codegen a fresh aggregate plan every
        iteration — measured ~0.1 s/iteration of pure driver overhead in
        the PageRank loop.
        """
        before = _persisted_rdd_ids(self._spark)
        cut = df.localCheckpoint(eager=True)
        self._retire_prior(before)
        return cut

    def truncate_with(
        self, df: DataFrame, action: Callable[[DataFrame], T]
    ) -> tuple[DataFrame, T]:
        """Mark a lineage cut, run ``action`` as the materializing job.

        ``action`` MUST compute every partition (a full ``count()`` /
        aggregate — never ``limit``), otherwise unvisited partitions stay
        unmaterialized and the cut is partial. Returns the truncated
        DataFrame and the action's result. The previous iteration's
        blocks are freed only after the new cut has fully materialized,
        so a failure mid-action never strands the loop without its input.
        """
        before = _persisted_rdd_ids(self._spark)
        cut = df.localCheckpoint(eager=False)
        result = action(cut)
        self._retire_prior(before)
        return cut, result

    def _retire_prior(self, before: set[int]) -> None:
        """The new cut is fully materialized: free the previous round's
        blocks and remember the new round's for next time."""
        _unpersist_rdd_ids(self._spark, self._prior_rdd_ids)
        self._prior_rdd_ids = _persisted_rdd_ids(self._spark) - before
