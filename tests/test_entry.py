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
