"""The driver-contract module (``__spark_entry__``) as a library."""

import sys


def test_registry_calls_leave_sys_path_alone():
    """Building the query registry and the oracle SQL any number of
    times must not grow ``sys.path``: the repo root goes on it once,
    at import, and only when it is missing."""
    import __spark_entry__ as e
    e.queries()
    e.oracle_sql()
    n = len(sys.path)
    for _ in range(2):
        assert list(e.queries())[:3] == [
            "extract_spans", "extract_spans_lattice", "extract_spans_stream"]
        e.oracle_sql()
    assert len(sys.path) == n


def test_oracles_follow_the_query_registry():
    """One oracle per query, keyed and ordered as ``queries()``."""
    import __spark_entry__ as e
    assert list(e.oracle_sql()) == list(e.queries())


class _Handle:
    """Stands in for a DataFrame; weak-referenceable."""


class _StubSession:
    """Just what the read helper touches: the application id and a
    ``read.parquet`` that returns a fresh handle on every call."""

    def __init__(self, app_id, delay=0.0):
        import time
        from types import SimpleNamespace

        def parquet(path):
            time.sleep(delay)
            return _Handle()
        self.sparkContext = SimpleNamespace(applicationId=app_id)
        self.read = SimpleNamespace(parquet=parquet)


def test_read_memo_is_per_session_and_first_handle_wins():
    """A new application id releases the previous session's handles,
    and threads racing on one path under one session all receive the
    same (first stored) handle."""
    import gc
    import threading
    import weakref
    from concurrent.futures import ThreadPoolExecutor

    import __spark_entry__ as e
    path = "/fixtures/sf0.01/documents.parquet"
    a, b = _StubSession("app-a"), _StubSession("app-b", delay=0.05)
    h = e._read_pq(a, path)
    assert e._read_pq(a, path) is h
    old = weakref.ref(h)
    del h
    e._read_pq(b, path)
    gc.collect()
    assert old() is None

    other = "/fixtures/sf0.01/embeddings.parquet"
    gate = threading.Barrier(8, timeout=30)

    def read(_):
        gate.wait()
        return e._read_pq(b, other)
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            got = list(pool.map(read, range(8), timeout=60))
    finally:
        sys.setswitchinterval(interval)
    assert len(got) == 8 and all(g is got[0] for g in got)
    assert e._read_pq(b, other) is got[0]
