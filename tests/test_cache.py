"""Cache-scope registry contract: ``persist`` registers anything with
``unpersist()`` in the innermost scope, and a scope releases only what was
registered in it."""

from __future__ import annotations

import sys
import threading

import pytest

from mare_spark.cache import cache_scope, persist, release_caches


class _Held:
    def __init__(self, log: list | None = None):
        self.released = 0
        self.log = log

    def unpersist(self):
        self.released += 1
        if self.log is not None:
            self.log.append(self)


def test_scopes_nest_and_release_on_exit_and_error():
    log: list = []
    a, b, c = _Held(log), _Held(log), _Held(log)
    with cache_scope() as outer:
        persist(a)
        with pytest.raises(RuntimeError):
            with cache_scope() as inner:
                persist(b)
                persist(c)
                raise RuntimeError("boom")
        assert log == [c, b]  # inner only, newest first
        assert inner == [] and outer == [a]
    assert log == [c, b, a]


def test_root_release_from_many_threads_releases_each_once():
    """Threads register into and release the shared root registry at
    once; every object must be released exactly once."""
    release_caches()
    objs = [_Held() for _ in range(4000)]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        def work(chunk):
            for o in chunk:
                persist(o)
                release_caches()

        threads = [
            threading.Thread(target=work, args=(objs[i::8],)) for i in range(8)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)
    release_caches()
    assert [o.released for o in objs] == [1] * len(objs)


def test_scope_leaves_a_cache_it_did_not_create(spark):
    """Persisting a plan someone else already cached registers nothing, so
    the scope's exit cannot release the other owner's cache."""
    from pyspark import StorageLevel

    owned = spark.range(7).persist()
    try:
        with cache_scope() as held:
            persist(spark.range(7))
            assert held == []
        assert spark.range(7).storageLevel != StorageLevel.NONE
    finally:
        owned.unpersist()
