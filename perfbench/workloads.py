"""The workloads. Each one prepares its seeded inputs, warms a fresh
session up, runs timed passes of a production path (one closed-loop
client: the next pass starts when the last one has written its
result), checks what each pass wrote, and in a traced run adds the
probes of the layers it exercises."""

from __future__ import annotations

import itertools
import json
import os
import random
import statistics
import time
from datetime import datetime

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from . import checks, inputs

GOLDEN_SEED = 42
GOLDEN_DIR = os.path.join("fixtures", "sf0.1")


def _read(path: str, columns=None):
    return pq.read_table(path, columns=columns)


def _listing(path: str) -> list[tuple[str, int]]:
    """(relative file, size) of every data file under ``path``."""
    out = []
    for d, _, files in os.walk(path):
        out += [(os.path.relpath(os.path.join(d, f), path),
                 os.path.getsize(os.path.join(d, f)))
                for f in files if f.endswith(".parquet")]
    return sorted(out)


def _epoch(iso: str) -> float:
    """Epoch seconds of a streaming progress timestamp (UTC, 'Z')."""
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def identity_batches(batches):
    """The Arrow boundary with no work on either side of it."""
    yield from batches


class Workload:
    """Base: ``run_pass`` returns a dict with at least ``wall_s`` and
    ``docs``; ``check_pass`` returns mismatch descriptions."""

    name = ""
    docs_per_pass = 0
    # set-ups per untraced run; the first one also launches the JVM
    setup_cycles = 2
    min_passes = 1

    def __init__(self, ctx):
        self.ctx = ctx
        self.work = os.path.join(ctx.work, self.name)
        os.makedirs(self.work, exist_ok=True)

    def prepare(self) -> None:
        raise NotImplementedError

    def warm_up(self, spark) -> None:
        raise NotImplementedError

    def run_pass(self, spark, i: int) -> dict:
        raise NotImplementedError

    def check_pass(self, spark, result: dict, last: bool) -> list[str]:
        raise NotImplementedError

    def end_to_end(self, passes: list[dict]) -> dict:
        """The end-to-end numbers of untraced passes, and their walls."""
        med = statistics.median
        wall = med(p["wall_s"] for p in passes)
        cpu = med(p["cpu_s"] for p in passes)
        return {"cpu_ms_per_doc": 1e3 * cpu / self.docs_per_pass,
                "pass.wall_s": wall,
                "pass.docs_per_s": self.docs_per_pass / wall,
                "pass.steal_s": med(p["steal_s"] for p in passes)}

    def traced(self, spark, passes: list[dict]) -> dict:
        """Per-layer numbers this workload measures beyond the event
        log, from its traced passes and extra probes."""
        return {}


# ------------------------------------------------------------------ extract

def decode_probe(spans_by_kind: dict[str, list[dict]]) -> dict:
    """Single-process timed ``core.page.extract_span`` calls, per kind;
    the pdf_page spans again with each table flavor forced."""
    from pdf_table_spark.core.page import extract_span
    out, n = {}, 0
    cpu0 = time.process_time()
    runs = [(k, k, "auto") for k in spans_by_kind]
    runs += [(f"pdf_page.{fl}", "pdf_page", fl)
             for fl in ("lattice", "stream") if "pdf_page" in spans_by_kind]
    for label, kind, flavor in runs:
        times = []
        for s in spans_by_kind[kind]:
            t0 = time.perf_counter()
            extract_span(kind, s["text"] or "", s["media_ref"] or "", flavor)
            times.append((time.perf_counter() - t0) * 1e3)
        n += len(times)
        if times:
            out[f"decode.{label}.ms_per_span"] = sum(times) / len(times)
        if label == "pdf_page" and times:
            times.sort()
            out["decode.pdf_page.ms_p99"] = times[int(0.99 * (len(times) - 1))]
    out["decode.cpu_s"] = time.process_time() - cpu0
    out["decode.spans"] = n
    return out


def sample_spans(corpus: str, seed: int, per_kind: int) -> dict:
    by_kind: dict[str, list[dict]] = {}
    for doc in _read(corpus, ["spans"]).column("spans").to_pylist():
        for s in doc:
            by_kind.setdefault(s["kind"], []).append(s)
    rng = random.Random(seed)
    return {k: rng.sample(v, min(per_kind, len(v)))
            for k, v in sorted(by_kind.items())}


class Extract(Workload):
    """``extract_documents`` -> ``flatten_output`` -> parquet over the
    seeded span corpus, as ``scripts/run_extract.py`` runs it."""

    name = "extract"
    docs_per_pass = 5000
    # enough files for one scan split per core, so the warm-up starts
    # every Python worker a pass uses; with 8 the first timed pass still
    # measured 10-20% slower in wall and CPU than the ones after it
    warm_files = 16
    # the first pass still uses 10-20% more CPU than the next ones; with
    # two passes ten seeds spread 0.155 in CPU per doc, with three 0.10.
    # A fourth pass spread no less under host load and costs 5 s a run.
    min_passes = 3
    sample_docs = 40
    probe_spans = 400

    def prepare(self):
        c = self.ctx
        self.corpus = inputs.span_corpus(c.cache, self.docs_per_pass, c.seed)
        self.warm = [os.path.join(self.corpus, f"part-{k:05d}.parquet")
                     for k in range(self.warm_files)]
        self.out = os.path.join(self.work, "out")
        spans = _read(self.corpus, ["spans"]).column("spans")
        kinds = pc.struct_field(pc.list_flatten(spans), "kind")
        self.pages = pc.sum(pc.equal(kinds, "pdf_page")).as_py()
        rows = random.Random(c.seed).sample(
            range(self.docs_per_pass), self.sample_docs)
        sample = _read(self.corpus).take(rows).to_pylist()
        self.sample_ids = [d["doc_id"] for d in sample]
        self.sample_want = checks.sample_reference(
            {d["doc_id"]: d["spans"] for d in sample})

    def _extract(self, spark, *paths):
        from pdf_table_spark.spark.pipeline import (extract_documents,
                                                    flatten_output)
        return flatten_output(extract_documents(spark.read.parquet(*paths)))

    def warm_up(self, spark):
        self._extract(spark, *self.warm).write.mode("overwrite").parquet(
            os.path.join(self.work, "warm"))

    def run_pass(self, spark, i):
        tr = self.ctx.tracer
        with tr.span("pass", i=i) as sp:
            with tr.span("build") as b:
                df = self._extract(spark, self.corpus)
            df.write.mode("overwrite").parquet(self.out)
        return {"wall_s": sp["dur_s"], "build": (b["start"], b["end"]),
                "docs": self.docs_per_pass}

    def check_pass(self, spark, result, last):
        """Every pass writes as many rows as the first, and the rows of
        the seeded sample docs equal the oracle's; the last pass's whole
        output is kept for the probes and, with seed 42, checked
        against the golden."""
        rows = pq.ParquetDataset(self.out).read(columns=[]).num_rows
        self.rows = getattr(self, "rows", rows)
        errs = ([] if rows == self.rows else
                [f"pass wrote {rows} rows, first {self.rows}"])
        if not last:
            sample = pq.read_table(self.out, filters=[
                ("doc_id", "in", self.sample_ids)])
            return errs + checks.check_extract_sample(
                sample, self.sample_ids, self.sample_want)
        out = _read(self.out)
        errs += checks.check_extract_sample(out, self.sample_ids,
                                            self.sample_want)
        if self.ctx.seed == GOLDEN_SEED:
            golden_root = os.path.join(self.ctx.root, GOLDEN_DIR)
            errs += checks.check_golden(
                out, _read(os.path.join(golden_root, "golden_flat.parquet")))
        self.last_output = out
        return errs

    def traced(self, spark, passes):
        from pdf_table_spark.spark.pipeline import (explode_spans,
                                                    extract_documents)
        from pdf_table_spark.spark.stages import run_extract_stage
        tr = self.ctx.tracer
        docs = spark.read.parquet(self.corpus)
        span_schema = explode_spans(docs).schema
        rungs = [
            ("scan", lambda: _noop(docs)),
            ("explode", lambda: _noop(explode_spans(docs))),
            ("arrow", lambda: _noop(explode_spans(docs).mapInArrow(
                identity_batches, schema=span_schema))),
            ("decode", lambda: _noop(run_extract_stage(explode_spans(docs)))),
            ("reassemble", lambda: _noop(extract_documents(docs))),
            ("sink", lambda: self._extract(spark, self.corpus).write.mode(
                "overwrite").parquet(os.path.join(self.work, "ladder"))),
        ]
        out = {"scan.tasks": docs.rdd.getNumPartitions()}
        for name, run in rungs:
            with tr.span(f"rung.{name}") as sp:
                run()
            out[f"ladder.{name}_s"] = sp["dur_s"]
        out.update(decode_probe(
            sample_spans(self.corpus, self.ctx.seed, self.probe_spans)))
        kinds = self.last_output.column("kind")
        out["decode.frags_out"] = len(kinds)
        out["decode.error_spans"] = pc.sum(pc.equal(kinds, "error")).as_py()
        wall = statistics.median(p["wall_s"] for p in passes)
        out["extract.pages_per_s"] = self.pages / wall
        stream, errs = StreamProbe(self.ctx, self.corpus, self.work).run(
            spark, self.last_output)
        passes[-1]["errors"] += errs
        out.update(stream)
        return out


# ------------------------------------------------------------ model heads

HEAD_ROUNDS = 2


def heads_probe(spark, root: str) -> tuple[dict, list[str]]:
    """The ``spark.model_stage`` heads over the committed sf0.1 inputs
    and weights: the TSR head over the span fixture, the det-CNN over
    the scan pages and the full OCR path over the OCR scan pages. Each
    round builds and collects every head; a head's time is its last
    round's (the first one loads the weights into the workers), and
    every round's rows must equal its golden."""
    from pyspark.sql import functions as F

    from pdf_table_spark.spark.model_stage import (score_det_cnn,
                                                   score_ocr_cnn,
                                                   score_table_structure)
    fx = os.path.join(root, GOLDEN_DIR)

    def scan(name):
        return spark.read.parquet(os.path.join(fx, name))

    heads = {
        "tsr": (lambda: score_table_structure(
            scan("documents_spans.parquet"),
            weights_path=os.path.join(fx, "tsr_head.npz")),
            "golden_model_tsr.parquet"),
        "det_cnn": (lambda: score_det_cnn(
            scan("scan_pages.parquet"),
            weights_path=os.path.join(fx, "det_cnn.npz")).select(
            F.col("media_ref").alias("doc_id"),
            F.col("box_idx").alias("offset"), "kind", "text"),
            "golden_scan_boxes.parquet"),
        "ocr_cnn": (lambda: score_ocr_cnn(
            scan("ocr_scan_pages.parquet"),
            weights_path=os.path.join(fx, "ocr_cnn.npz")).select(
            F.col("media_ref").alias("doc_id"), "offset", "kind", "text"),
            "golden_ocr_scan.parquet"),
    }
    times = {name: [] for name in heads}
    errs = []
    for _ in range(HEAD_ROUNDS):
        for name, (build, golden) in heads.items():
            t0 = time.perf_counter()
            got = [tuple(r) for r in build().select(*checks.HEAD_COLUMNS)
                   .collect()]
            times[name].append(time.perf_counter() - t0)
            errs += checks.check_head(
                name, got, _read(os.path.join(fx, golden)))
    return {f"heads.{n}_s": t[-1] for n, t in times.items()}, errs


# ------------------------------------------------------------------ assemble

MIXTURE = {"web": 1.0, "books": 2.0, "code": 0.5, "wiki": 1.5}


class Assemble(Workload):
    """``ops.prepare.assemble_training_set`` -> provenance and assembled
    parquet writes, as ``scripts/run_assemble.py`` runs it."""

    name = "assemble"
    # the smallest corpus on which every provenance stage drops docs
    docs_per_pass = 10000
    bench_docs = 1000
    warm_docs = 500
    # a further set-up repeats the stage-bound warm-up, 13 to 16 s even
    # with a warm JVM on a 4-vCPU virtual machine, in every run
    setup_cycles = 1

    def prepare(self):
        c = self.ctx
        self.corpus, self.bench = inputs.text_corpus(
            c.cache, self.docs_per_pass, self.bench_docs, c.seed)
        self.warm = inputs.text_corpus(
            c.cache, self.warm_docs, self.bench_docs // 10, c.seed)

    def _assemble(self, spark, corpus, bench):
        from pdf_table_spark.ops.prepare import assemble_training_set
        return assemble_training_set(
            spark.read.parquet(corpus), benchmark=spark.read.parquet(bench),
            mixture=MIXTURE, min_words=15)

    def warm_up(self, spark):
        from pdf_table_spark.ops import dedup
        out = self._assemble(spark, *self.warm)
        _noop(out["provenance"])
        _noop(out["assembled"])
        dedup.release_caches()

    def run_pass(self, spark, i):
        from pdf_table_spark.ops import dedup
        tr = self.ctx.tracer
        prov = os.path.join(self.work, "provenance")
        asm = os.path.join(self.work, "assembled")
        with tr.span("pass", i=i) as sp:
            with tr.span("build") as b:
                out = self._assemble(spark, self.corpus, self.bench)
            with tr.span("provenance_write") as pw:
                (out["provenance"].write.mode("overwrite")
                 .partitionBy("stage").parquet(prov))
            with tr.span("assembled_write") as aw:
                (out["assembled"].write.mode("overwrite")
                 .partitionBy("split").parquet(asm))
            dedup.release_caches()
        return {"wall_s": sp["dur_s"], "build": (b["start"], b["end"]),
                "provenance_write_s": pw["dur_s"],
                "assembled_write_s": aw["dur_s"],
                "docs": self.docs_per_pass, "prov": prov, "asm": asm}

    def check_pass(self, spark, result, last):
        from pdf_table_spark.fixtures.text_gen import expected_stages
        stages = _read(result["prov"], ["stage"]).column("stage")
        got = {r["values"]: r["counts"] for r in
               pc.value_counts(stages.cast(pa.string())).to_pylist()}
        errs = checks.check_stage_histogram(
            got, expected_stages(self.docs_per_pass))
        n_asm = pq.ParquetDataset(result["asm"]).read(columns=[]).num_rows
        if n_asm <= got.get("kept", 0):
            errs.append(f"assembled rows {n_asm} <= kept {got.get('kept')}")
        return errs

    def traced(self, spark, passes):
        med = statistics.median
        out = {f"assemble.{k}": med(p[k] for p in passes)
               for k in ("provenance_write_s", "assembled_write_s")}
        heads, errs = heads_probe(spark, self.ctx.root)
        passes[-1]["errors"] += errs
        out.update(heads)
        return out


# ------------------------------------------------------------ streaming

class _Progress:
    """Collects ``StreamingQueryProgress`` JSON from a query listener."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener
        records = self.records = []

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                records.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(Listener())


class StreamProbe:
    """The streaming layer, run once in the traced extract session:
    ``streaming.incremental.extract_stream`` (availableNow) ingests the
    first corpus files as they land (a bulk catch-up, a delta, a no-op
    resume), then ``streaming.windowed.sessionize_stream`` sessionizes a
    seeded click stream. Checks: the resume leaves the sink unchanged,
    the streamed rows equal the batch extraction of the same docs, and
    the session count equals the batch twin's closed sessions."""

    bulk_files = 3
    delta_files = 1
    n_events = 20000
    warm_events = 500

    def __init__(self, ctx, corpus: str, work: str):
        self.corpus, self.work = corpus, work
        self.events = inputs.events(ctx.cache, self.n_events, ctx.seed)
        self.warm = inputs.events(ctx.cache, self.warm_events, ctx.seed)
        self.files = sorted(f for f in os.listdir(corpus)
                            if f.endswith(".parquet"))
        self.tracer = ctx.tracer
        self._seq = itertools.count()

    def _dirs(self):
        base = os.path.join(self.work, f"stream{next(self._seq)}")
        d = {k: os.path.join(base, k)
             for k in ("in", "out", "ckpt", "sess_out", "sess_ckpt")}
        os.makedirs(d["in"])
        return d

    def _land(self, d, files):
        for f in files:
            os.link(os.path.join(self.corpus, f), os.path.join(d["in"], f))

    def _ingest(self, spark, d):
        from pdf_table_spark.streaming.incremental import extract_stream
        (extract_stream(spark, d["in"], d["out"], d["ckpt"],
                        max_files_per_trigger=1)
         .trigger(availableNow=True).start().awaitTermination())

    def run(self, spark, batch_output) -> tuple[dict, list[str]]:
        from pdf_table_spark.streaming.windowed import sessionize_stream
        from .eventlog import progress_metrics
        progress = _Progress(spark)
        warm = self._dirs()
        self._land(warm, self.files[:1])
        self._ingest(spark, warm)
        sessionize_stream(spark, self.warm, warm["sess_out"],
                          warm["sess_ckpt"])

        d, t = self._dirs(), {}
        landed = self.files[:self.bulk_files + self.delta_files]
        bulk = landed[:self.bulk_files]

        def phase(name, run):
            with self.tracer.span(name) as sp:
                run()
            t[name] = sp["dur_s"]

        with self.tracer.span("stream") as whole:
            self._land(d, bulk)
            phase("bulk", lambda: self._ingest(spark, d))
            self._land(d, landed[self.bulk_files:])
            phase("delta", lambda: self._ingest(spark, d))
            before = _listing(d["out"])
            phase("resume", lambda: self._ingest(spark, d))
            errs = checks.check_unchanged("no-op resume", before,
                                          _listing(d["out"]))
            phase("sessionize", lambda: sessionize_stream(
                spark, self.events, d["sess_out"], d["sess_ckpt"]))
        ids = pq.ParquetDataset(
            [os.path.join(self.corpus, f) for f in landed]).read(
            columns=["doc_id"]).column("doc_id")
        errs += checks.check_same_rows(
            "streamed vs batch",
            _read(d["out"]).drop_columns(["batch_id"]),
            batch_output.filter(pc.is_in(batch_output.column("doc_id"),
                                         value_set=ids.combine_chunks())))
        n_sessions = pq.ParquetDataset(d["sess_out"]).read(
            columns=[]).num_rows
        errs += checks.check_sessions(n_sessions, _read(self.events))

        bulk_docs = sum(pq.ParquetFile(os.path.join(self.corpus, f))
                        .metadata.num_rows for f in bulk)
        # the listener delivers the last progress events asynchronously
        time.sleep(1.0)
        out = progress_metrics(
            [r for r in progress.records
             if whole["start"] <= _epoch(r["timestamp"]) <= whole["end"]])
        out.update({f"stream.{k}_s": v for k, v in t.items()})
        out["stream.docs_per_s"] = bulk_docs / t["bulk"]
        out["stream.events_per_s"] = self.n_events / t["sessionize"]
        return out, errs


WORKLOADS = {w.name: w for w in (Extract, Assemble)}
