"""Arrow (mapInArrow) stages — the Python compute islands.

One stage: per-span extraction. Batches arrive as raw
``pyarrow.RecordBatch`` (``mapInArrow``), NOT pandas — profiling showed
the pandas block-manager round trip (Arrow→pandas object columns →
pandas→Arrow) cost ~2-3x the actual page-decode CPU at 32 cores, and
was the scaling bottleneck between local[8] and local[32]. Inside a
batch we loop the documents' spans — the sanctioned vectorization
pattern (SURVEY §1.3); the per-span work (json decode, numpy sweeps) is
exactly ``pdf_table_spark.core.page.extract_span``, shared with the
golden oracle.
"""

from __future__ import annotations

import time
from collections.abc import Iterator
from dataclasses import dataclass

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema

from ..core.page import extract_span

ARROW_SCHEMA = pa.schema([
    ("doc_id", pa.string()), ("offset", pa.int32()),
    ("frag_idx", pa.int32()), ("kind", pa.string()),
    ("text", pa.string()), ("media_ref", pa.string()),
    ("accuracy", pa.float64()), ("whitespace", pa.float64())])

FRAG_SCHEMA = from_arrow_schema(ARROW_SCHEMA)


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


def _make_extract_batches(metrics: ExtractionMetrics | None,
                          flavor: str = "auto"):
    def _extract_batches(
            batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            t0 = time.perf_counter()
            out = _process_batch(batch, metrics, flavor)
            if metrics is not None:
                metrics.spans_in.add(batch.num_rows)
                metrics.frags_out.add(out.num_rows)
                metrics.decode_ms.add(
                    (time.perf_counter() - t0) * 1000.0)
            yield out
    return _extract_batches


def _process_batch(batch: pa.RecordBatch,
                   metrics: ExtractionMetrics | None,
                   flavor: str = "auto") -> pa.RecordBatch:
    cols = {name: batch.column(i).to_pylist()
            for i, name in enumerate(batch.schema.names)}
    out = ([], [], [], [], [], [], [], [])
    doc_ids, offsets, frag_idxs, *frag_cols = out
    for doc_id, offset, kind, text, ref in zip(
            cols["doc_id"], cols["offset"], cols["kind"],
            cols["text"], cols["media_ref"]):
        frags = [] if kind is None else extract_span(
            kind, text or "", ref or "", flavor)
        if metrics is not None and frags and frags[0][0] == "error":
            metrics.errors.add(1)
        if not frags:
            # sentinel keeps the doc alive through the groupBy —
            # covers zero-span docs (explode_outer null row),
            # unknown kinds, and pages that decode to nothing;
            # filtered out JVM-side during reassembly. Avoids the
            # alternative (a join back to all doc_ids) which would
            # broadcast/shuffle every doc_id at 10^12 scale.
            frags = [(EMPTY_SENTINEL, "", "", None, None)]
        n = len(frags)
        doc_ids += [doc_id] * n
        offsets += [-1 if offset is None else offset] * n
        frag_idxs += range(n)
        # (kind, text, media_ref, accuracy, whitespace) columns
        for col, vals in zip(frag_cols, zip(*frags)):
            col += vals
    return pa.RecordBatch.from_arrays(
        [pa.array(c, f.type) for c, f in zip(out, ARROW_SCHEMA)],
        schema=ARROW_SCHEMA)


def run_extract_stage(span_rows: DataFrame,
                      metrics: ExtractionMetrics | None = None,
                      flavor: str = "auto") -> DataFrame:
    """span rows (doc_id, offset, kind, text, media_ref) → fragment rows
    (doc_id, offset, frag_idx, kind, text, media_ref, accuracy,
    whitespace). ``flavor`` selects the pdf_page table decoder."""
    return span_rows.mapInArrow(
        _make_extract_batches(metrics, flavor), schema=FRAG_SCHEMA)
