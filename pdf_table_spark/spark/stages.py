"""Arrow (mapInArrow) stages — the Python compute islands.

:func:`map_rows` is the one Python boundary for every per-row operator:
span extraction (below), table export (``ops.export``) and the media
decode / sampling stages (``ops.multimodal``); the model heads
(``spark.model_stage.run_head``) share its schema parse and batch
build. Batches arrive as raw ``pyarrow.RecordBatch`` (``mapInArrow``),
NOT pandas — profiling showed the pandas block-manager round trip
(Arrow→pandas object columns → pandas→Arrow) cost ~2-3x the actual
page-decode CPU at 32 cores, and was the scaling bottleneck between
local[8] and local[32]. Inside a batch the rows are looped as Python
values — the sanctioned vectorization pattern (SURVEY §1.3); the
per-span work (json decode, numpy sweeps) is exactly
``pdf_table_spark.core.page.extract_span``, shared with the golden
oracle.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterable, Iterator
from dataclasses import dataclass

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType, _parse_datatype_string

from ..core.page import extract_span

FRAG_SCHEMA = ("doc_id string, offset int, frag_idx int, kind string, "
               "text string, media_ref string, accuracy double, "
               "whitespace double")


def parse_schema(ddl: str) -> tuple[StructType, pa.Schema]:
    """DDL string → (Spark struct, Arrow schema) of one stage output."""
    struct = _parse_datatype_string(ddl)
    return struct, to_arrow_schema(struct)


def batch_from_rows(rows: list[tuple],
                    schema: pa.Schema) -> pa.RecordBatch:
    """Row tuples in schema order → one batch typed by ``schema``
    (zero rows → a typed, empty batch)."""
    cols = list(zip(*rows)) if rows else [()] * len(schema)
    return pa.RecordBatch.from_arrays(
        [pa.array(c, f.type) for c, f in zip(cols, schema)], schema=schema)


def map_rows(df: DataFrame, fn: Callable[..., Iterable[tuple]],
             schema: str) -> DataFrame:
    """One ``mapInArrow`` stage: ``fn(*row)`` per input row (columns
    in ``df`` order, Arrow nulls as ``None``) returns any number of
    output tuples in the order of ``schema`` (a DDL string)."""
    struct, arrow = parse_schema(schema)

    def stage(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            out: list[tuple] = []
            extend = out.extend
            for row in zip(*(c.to_pylist() for c in batch.columns)):
                extend(fn(*row))
            yield batch_from_rows(out, arrow)

    return df.mapInArrow(stage, schema=struct)


@dataclass
class ExtractionMetrics:
    """Executor-side counters for the Arrow stage — the distributed
    form of the reference's per-stage timing dict
    (``ocr_system_task.py:646-660``). Spark accumulators: incremented
    inside workers, merged on the driver, readable after any action."""

    spans_in: object
    frags_out: object
    errors: object
    decode_ms: object

    @classmethod
    def create(cls, spark: SparkSession) -> "ExtractionMetrics":
        sc = spark.sparkContext
        return cls(sc.accumulator(0), sc.accumulator(0),
                   sc.accumulator(0), sc.accumulator(0.0))

    def snapshot(self) -> dict:
        return {
            "spans_in": self.spans_in.value,
            "frags_out": self.frags_out.value,
            "errors": self.errors.value,
            "decode_ms": round(self.decode_ms.value, 1),
        }


EMPTY_SENTINEL = "__empty__"


def run_extract_stage(span_rows: DataFrame,
                      metrics: ExtractionMetrics | None = None,
                      flavor: str = "auto") -> DataFrame:
    """span rows (doc_id, offset, kind, text, media_ref) → fragment rows
    (doc_id, offset, frag_idx, kind, text, media_ref, accuracy,
    whitespace). ``flavor`` selects the pdf_page table decoder."""

    def fragments(doc_id, offset, kind, text, media_ref):
        frags = [] if kind is None else extract_span(
            kind, text or "", media_ref or "", flavor)
        if not frags:
            # sentinel keeps the doc alive through the groupBy —
            # covers zero-span docs (explode_outer null row),
            # unknown kinds, and pages that decode to nothing;
            # filtered out JVM-side during reassembly. Avoids the
            # alternative (a join back to all doc_ids) which would
            # broadcast/shuffle every doc_id at 10^12 scale.
            frags = [(EMPTY_SENTINEL, "", "", None, None)]
        if offset is None:
            offset = -1
        return [(doc_id, offset, i, *f) for i, f in enumerate(frags)]

    if metrics is None:
        return map_rows(span_rows, fragments, FRAG_SCHEMA)

    def counted(*span):
        t0 = time.perf_counter()
        out = fragments(*span)
        metrics.spans_in.add(1)
        metrics.frags_out.add(len(out))
        if out[0][3] == "error":
            metrics.errors.add(1)
        metrics.decode_ms.add((time.perf_counter() - t0) * 1000.0)
        return out

    return map_rows(span_rows, counted, FRAG_SCHEMA)
