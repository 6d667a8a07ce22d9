"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)``   — flagship extraction run on the sf0.001 fixture
                     corpus (interleaved spans → ordered output spans).
``queries()``      — one entry per implemented operator family
                     (SURVEY.md §2 + the training-data ops).
``oracle_sql()``   — DuckDB twins, keyed and ordered as ``queries()``.
                     Extraction queries are checked against the
                     committed golden parquet (computed by the
                     single-process reference implementation of the
                     same decoders — the span-sequence-equality gate);
                     ops queries are re-derived in pure SQL from the
                     same md5-based hash formulas so values match
                     bit-for-bit.

Both dicts are built from the one ordered registry,
``pdf_table_spark.queries.records()``; this module only adapts it.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

REPO = os.path.dirname(os.path.abspath(__file__))
if REPO not in sys.path:  # the package imports below resolve from here
    sys.path.insert(0, REPO)

# _fixture_dir, _read_pq and _spans_df are re-exported for bench.py and
# the tests
from pdf_table_spark.queries.common import (  # noqa: E402,F401
    _extract_flat, _fixture_dir, _read_pq, _spans_df)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full extraction pipeline on the sf0.001 fixtures."""
    return _extract_flat(spark, "sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from pdf_table_spark.queries import records
    return {q.name: q.build for q in records()}


def oracle_sql() -> dict[str, str]:
    """One DuckDB twin per query (over the sf0.01 views that
    ``scripts/check_correctness.py`` registers), keyed and ordered as
    ``queries()``."""
    from pdf_table_spark.queries import records
    return {q.name: q.oracle if isinstance(q.oracle, str) else q.oracle()
            for q in records()}
