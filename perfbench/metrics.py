"""Metric registry: every name the benchmark prints, with its unit and
better direction. ``BENCHMARK.json`` at the repository root mirrors it
(``perfbench/tests`` keeps the two in step); ``perfbench/LAYERS.md``
maps each layer to its metrics and workloads."""

from __future__ import annotations

import re

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

WORKLOADS = {
    "extract": "production extraction path (extract_documents, "
               "flatten_output, parquet) over a seeded mixed span corpus: "
               "scan, Arrow boundary, per-kind decode, reassembly, sink",
    "assemble": "production assembly path (assemble_training_set, "
                "provenance and assembled writes) over the ground-truth "
                "text corpus: dedup and gates, no page decode",
}

# name -> (unit, better, bound)
END_TO_END = {
    # CPU seconds of set-up, the median over cycles
    "setup_s": ("s", "lower", 0.25),
    # CPU of the driver JVM, the Python workers and the Python driver
    # per doc. Walls are per-layer: on a 4-vCPU virtual machine the
    # hypervisor lends the CPUs to other guests in bursts (up to 26 of
    # an assemble pass's ~90 CPU-seconds were stolen), which spreads
    # the wall of a run far more than its CPU time.
    "cpu_ms_per_doc": ("ms", "lower", 0.25),
    "peak_rss_mb": ("MB", "lower", 0.25),
}

_S, _N, _B, _MS = "s", "count", "bytes", "ms"
DECODE_KINDS = ("pdf_page", "pdf_page.lattice", "pdf_page.stream",
                "ocr_page", "html_page", "html_table", "text", "image")

# name -> (unit, better)
PER_LAYER = {
    "pass.wall_s": (_S, "lower"),
    "pass.docs_per_s": ("1/s", "higher"),
    "pass.steal_s": (_S, "lower"),
    "build.s": (_S, "lower"),
    "scan.tasks": (_N, "lower"),
    "ladder.scan_s": (_S, "lower"),
    "ladder.explode_s": (_S, "lower"),
    "ladder.arrow_s": (_S, "lower"),
    "ladder.decode_s": (_S, "lower"),
    "ladder.reassemble_s": (_S, "lower"),
    "ladder.sink_s": (_S, "lower"),
    "python.rows_in": (_N, "lower"),
    "python.rows_out": (_N, "lower"),
    "python.bytes_in": (_B, "lower"),
    "python.bytes_out": (_B, "lower"),
    "python.run_s": (_S, "lower"),
    "python.task_p50_s": (_S, "lower"),
    "python.task_max_s": (_S, "lower"),
    **{f"decode.{k}.ms_per_span": (_MS, "lower") for k in DECODE_KINDS},
    "decode.pdf_page.ms_p99": (_MS, "lower"),
    "decode.cpu_s": (_S, "lower"),
    "decode.spans": (_N, "lower"),
    "decode.frags_out": (_N, "lower"),
    "decode.error_spans": (_N, "lower"),
    "spark.stages": (_N, "lower"),
    "spark.tasks": (_N, "lower"),
    "spark.executor_run_s": (_S, "lower"),
    "spark.executor_cpu_s": (_S, "lower"),
    "spark.task_p50_s": (_S, "lower"),
    "spark.task_max_s": (_S, "lower"),
    "spark.shuffle_write_bytes": (_B, "lower"),
    "spark.shuffle_read_bytes": (_B, "lower"),
    "spark.spill_bytes": (_B, "lower"),
    "extract.pages_per_s": ("1/s", "higher"),
    "heads.tsr_s": (_S, "lower"),
    "heads.det_cnn_s": (_S, "lower"),
    "heads.ocr_cnn_s": (_S, "lower"),
    "assemble.provenance_write_s": (_S, "lower"),
    "assemble.assembled_write_s": (_S, "lower"),
    "stream.bulk_s": (_S, "lower"),
    "stream.delta_s": (_S, "lower"),
    "stream.resume_s": (_S, "lower"),
    "stream.sessionize_s": (_S, "lower"),
    "stream.docs_per_s": ("1/s", "higher"),
    "stream.events_per_s": ("1/s", "higher"),
    "stream.micro_batches": (_N, "lower"),
    "stream.add_batch_s": (_S, "lower"),
    "stream.trigger_overhead_s": (_S, "lower"),
    "stream.state_rows": (_N, "lower"),
    "stream.state_memory_bytes": (_B, "lower"),
    "trace.overhead_s": (_S, "lower"),
    "host.cpu_probe": ("1/s", "higher"),
}


def benchmark_metrics() -> tuple[list[dict], list[dict]]:
    """The ``end_to_end`` and ``per_layer`` lists of BENCHMARK.json."""
    e2e = [{"name": n, "unit": u, "better": b, "bound": bound}
           for n, (u, b, bound) in END_TO_END.items()]
    layer = [{"name": n, "unit": u, "better": b}
             for n, (u, b) in PER_LAYER.items()]
    return e2e, layer


def result_metrics(values: dict, trace: bool) -> dict:
    """The ``metrics`` object of the result line: every registered
    name of the mode, each with its unit. A per-layer metric the
    workload does not reach reads 0 (the layer is bypassed)."""
    table = PER_LAYER if trace else END_TO_END
    return {n: {"value": float(values.get(n, 0.0) if trace else values[n]),
                "unit": spec[0]}
            for n, spec in table.items()}
