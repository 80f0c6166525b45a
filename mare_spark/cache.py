"""Scoped lifetimes for persisted intermediates.

An operator that caches an intermediate calls :func:`persist`; the cache
lives until the innermost enclosing :func:`cache_scope` exits — MaRe's
``collectReduce`` lifetime (persist, run, unpersist; MaRe.scala:205-208)
lifted to any block of code. Scopes nest and are tracked in a
``ContextVar``, so each thread sees its own innermost scope. Outside any
scope, caches land in a root scope that :func:`release_caches` empties.

Exit a scope only once nothing built inside it is still to be read: a
DataFrame that outlives its scope stays correct but recomputes the
released subtrees on its next action.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager
from contextvars import ContextVar

from pyspark import StorageLevel
from pyspark.sql import DataFrame

_ROOT: list = []
_SCOPE: ContextVar[list] = ContextVar("mare_cache_scope", default=_ROOT)
# the root registry is shared by every thread
_LOCK = threading.Lock()


def persist(obj, level: StorageLevel = StorageLevel.MEMORY_AND_DISK_DESER):
    """Persist DataFrame ``obj`` at ``level`` and register it in the
    innermost active scope; any other object with ``unpersist()`` (a
    ``Broadcast``) is only registered. Returns ``obj``.

    A DataFrame whose plan is already cached is returned unregistered: the
    cache belongs to whoever created it, and releasing it is theirs."""
    if isinstance(obj, DataFrame):
        if obj.storageLevel != StorageLevel.NONE:
            return obj
        obj = obj.persist(level)
    with _LOCK:
        _SCOPE.get().append(obj)
    return obj


def materialize(
    df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK_DESER
) -> DataFrame:
    """:func:`persist` ``df`` at ``level`` and build its cache NOW (one
    ``count()`` job). Returns the persisted DataFrame.

    A lazy persist is built by whichever consumer reads it first, but AQE
    submits the shuffle-stage jobs of a downstream join's two sides
    concurrently: when both read the same cold cache, each races through
    the full upstream compute before any cache block exists (measured on
    the jaccard path: the shingle UDF subtree ran 2-3x per invocation).
    The barrier costs one cheap job and makes every consumer, concurrent
    or not, read warm blocks — on a cluster as much as in local mode."""
    df = persist(df, level)
    df.count()
    return df


def _release(held: list) -> None:
    with _LOCK:
        # newest first: dependents drop before the caches they were built from
        objs = held[::-1]
        held.clear()
    for obj in objs:
        obj.unpersist()


@contextmanager
def cache_scope():
    """Unpersist everything registered inside the block when it exits,
    normally or by an exception. Yields the scope's registry (a list, in
    registration order)."""
    held: list = []
    token = _SCOPE.set(held)
    try:
        yield held
    finally:
        _SCOPE.reset(token)
        _release(held)


def release_caches(df: DataFrame | None = None) -> None:
    """Unpersist everything registered outside any scope. ``df`` is
    ignored: the root scope holds the caches of every result built
    outside a scope, so releasing after one result releases them all."""
    _release(_ROOT)
