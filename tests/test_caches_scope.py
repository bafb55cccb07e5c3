"""Ownership semantics of the cache registry (round-3 verdict item 7).

caches.LIVE is a single-threaded session-global; composite jobs (curate,
the streaming frontier handlers) must use caches.scope() so they never
retire a pending query's checkpoint.  No Spark needed — the
registry only requires handles with .unpersist().
"""

from extractor_spark.spark import caches


class _Handle:
    def __init__(self):
        self.retired = 0

    def unpersist(self):
        self.retired += 1


class _ExplodingHandle(_Handle):
    def unpersist(self):
        super().unpersist()
        raise RuntimeError("unpersist failure must not break retirement")


def setup_function(_fn):
    caches.LIVE.clear()


def test_scope_retires_only_inner_registrations():
    outer = _Handle()
    caches.register(outer)
    inner1, inner2 = _Handle(), _Handle()
    with caches.scope():
        caches.register(inner1)
        caches.register(inner2)
    assert inner1.retired == 1 and inner2.retired == 1
    assert outer.retired == 0 and caches.LIVE == [outer]
    caches.retire_all()
    assert outer.retired == 1 and caches.LIVE == []


def test_scope_retires_on_error_and_tolerates_unpersist_failure():
    outer = _Handle()
    caches.register(outer)
    inner = _ExplodingHandle()
    try:
        with caches.scope():
            caches.register(inner)
            raise ValueError("job failed mid-scope")
    except ValueError:
        pass
    assert inner.retired == 1  # retired despite the raising unpersist
    assert outer.retired == 0 and caches.LIVE == [outer]


def test_nested_scopes_unwind_innermost_first():
    with caches.scope():
        a = _Handle()
        caches.register(a)
        with caches.scope():
            b = _Handle()
            caches.register(b)
        assert b.retired == 1 and a.retired == 0
    assert a.retired == 1
    assert caches.LIVE == []
