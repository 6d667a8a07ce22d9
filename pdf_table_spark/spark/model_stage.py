"""Broadcast-weights model heads — the M-family plug point (SURVEY
§2.9: the reference's layout / TSR / OCR models M1-M10 share one
contract, ``_preprocess → _run_model → _postprocess`` over page
batches, ``base_infer_task.py:96-126``).

A head is data, a :class:`Head`: its name and version, its default
tensors (the same ``{name: array}`` dict an ``.npz`` artifact loads
to), ``materialise(tensors) → model``, the input projection it reads,
``decode_batch(model, batch) → output rows`` and its output schema.
:func:`run_head` is the one Spark runner every head shares:

  * tensors come from ``weights_path`` (an ``.npz`` written by
    ``save_weights`` / ``save_weights_dict``, version embedded) or
    the head's literal defaults, loaded ONCE on the driver and shipped
    via ``spark.sparkContext.broadcast`` — never captured per task;
  * each Python worker materialises a head ONCE per (head name,
    version) in a module-level singleton — the executor-side lazy
    init the reference does per process (``ocr_system_task.py:72-75``).
    The key is explicit: each task deserialises a fresh Broadcast
    wrapper, so an id()-based key would re-materialise (and leak) the
    model on every task, and a version-only key would hand one head
    another head's model when two artifacts share a version string;
  * ONE ``mapInArrow`` per head: a narrow plan with a single Python
    boundary; the linear heads run one matmul per Arrow batch. The
    output schema parse and the row-tuple batch build are
    ``spark.stages``' (the ones ``map_rows`` uses).

The heads are deterministic stand-ins (linear heads over page-geometry
or text features, parameter vectors for the glyph and postprocess
decoders, hand-constructed CNN tensors), so the DuckDB oracle can embed
the literal weights; a trained checkpoint is a new artifact, not new
plumbing. Each head keeps its own quarantine rule for a bad payload:
layout and orientation emit zeroed ``error`` / ``-1`` rows, TSR emits
``""``, the glyph and postprocess decoders drop the page, and the
scan-CNN heads drop only undecodable images (``ValueError``).
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterator
from dataclasses import dataclass
from typing import Any

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.dethead import DET_VERSION, DET_WEIGHTS
from ..core.nn import (DET_CNN, DETCNN_VERSION, OCR_DET_CNN, OCRCNN_VERSION,
                       REC_CNN)
from ..core.tsrhead import TSR_VERSION, TSR_WEIGHTS
from .stages import batch_from_rows, parse_schema


@dataclass(frozen=True)
class Head:
    """One broadcast-weights model head. ``schema`` is a Spark DDL
    string; a ``{col}`` placeholder takes that input column's type
    (the quality head passes ``doc_id`` through with the input's
    type). ``decode_batch`` returns either a dict of output columns
    or a list of row tuples in schema order."""
    name: str
    version: str
    tensors: Callable[[], dict]
    materialise: Callable[[dict], Any]
    project: Callable[[DataFrame], DataFrame]
    decode_batch: Callable[[Any, pa.RecordBatch], dict | list]
    schema: str


def save_weights_dict(path: str, tensors: dict, version: str) -> None:
    """Serialize a head to ``.npz``: one named float64 array per
    tensor + the version string — the artifact ``run_head`` loads on
    the driver and broadcasts."""
    np.savez(path, version=np.array(version),
             **{k: np.asarray(v, dtype=np.float64)
                for k, v in tensors.items()})


def save_weights(path: str, weights, version: str) -> None:
    """Serialize a single-matrix head: the ``{"weights": matrix}``
    case of ``save_weights_dict``."""
    save_weights_dict(path, {"weights": weights}, version)


def load_artifact(path: str) -> tuple[dict, str]:
    """Load an ``.npz`` head → (dict of ndarrays, version str)."""
    with np.load(path) as npz:
        return ({k: npz[k] for k in npz.files if k != "version"},
                str(npz["version"]))


_MODEL_SINGLETON: dict = {}


def _model(key: tuple[str, str], tensors_bc, materialise,
           mat_counter=None):
    """Executor-side lazy singleton: one materialised model per Python
    worker per (head name, version). Module-level so the closure that
    calls it resolves THIS module's dict on the worker, not a pickled
    copy. ``mat_counter`` (an Accumulator) counts materialisations so
    tests can assert once-per-worker-per-version."""
    model = _MODEL_SINGLETON.get(key)
    if model is None:
        model = _MODEL_SINGLETON[key] = materialise(tensors_bc.value)
        if mat_counter is not None:
            mat_counter.add(1)
    return model


def run_head(df: DataFrame, head: Head, weights_path: str | None = None,
             _mat_counter=None) -> DataFrame:
    """Project ``df`` for ``head`` and score it through one
    broadcast-weights Arrow stage. ``weights_path``: an ``.npz``
    artifact whose embedded version keys the worker singleton, so two
    artifacts coexist in one long-lived worker without re-materialising
    either; omitted → the head's literal tensors and version (what the
    DuckDB oracle embeds)."""
    if weights_path is not None:
        tensors, version = load_artifact(weights_path)
    else:
        tensors, version = head.tensors(), head.version
    tensors_bc = df.sparkSession.sparkContext.broadcast(
        {k: np.asarray(v, dtype=np.float64) for k, v in tensors.items()})
    rows = head.project(df)
    schema = head.schema
    if "{" in schema:
        schema = schema.format(**dict(rows.dtypes))
    struct, arrow_schema = parse_schema(schema)
    key = (head.name, version)
    materialise, decode = head.materialise, head.decode_batch

    def stage(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        model = _model(key, tensors_bc, materialise, _mat_counter)
        for batch in batches:
            out = decode(model, batch)
            if isinstance(out, list):  # row tuples
                yield batch_from_rows(out, arrow_schema)
            else:
                yield pa.RecordBatch.from_pydict(out, schema=arrow_schema)

    return rows.mapInArrow(stage, schema=struct)


# ---------------------------------------------------- shared pieces


def _pages(kind: str) -> Callable[[DataFrame], DataFrame]:
    """documents(doc_id, spans) → (doc_id, offset, text) per span of
    ``kind`` (explode + codegen filter, ahead of the Arrow stage)."""
    def project(docs: DataFrame) -> DataFrame:
        return (docs.select("doc_id", F.explode("spans").alias("s"))
                .filter(F.col("s.kind") == kind)
                .select("doc_id", F.col("s.offset").alias("offset"),
                        F.col("s.text").alias("text")))
    return project


def _scans(scans: DataFrame) -> DataFrame:
    """(media_ref, payload) scan images, widened for the CPU-bound CNN
    forwards (``sources.corpus.fan_cpu_bound``)."""
    from ..sources.corpus import fan_cpu_bound
    return fan_cpu_bound(scans.select("media_ref", "payload"))


def _rows(batch: pa.RecordBatch):
    return zip(*(c.to_pylist() for c in batch.columns))


def _matrix(tensors: dict) -> np.ndarray:
    return tensors["weights"]


def _nested(tensors: dict) -> list:
    return tensors["weights"].tolist()


def _split(*prefixes: str) -> Callable[[dict], tuple]:
    """Combined scan-CNN artifact → one tensor dict per prefix (None
    when the artifact carries none, so the built-in tensors apply)."""
    def materialise(tensors: dict) -> tuple:
        return tuple({k[len(p):]: v for k, v in tensors.items()
                      if k.startswith(p)} or None for p in prefixes)
    return materialise


def _prefixed(**parts: dict) -> dict:
    return {f"{p}_{k}": v for p, ts in parts.items() for k, v in ts.items()}


# ------------------------------------------------------- page layout

# fixed 4x3 linear head: rows = (n_text_lines, n_rects, n_images, bias),
# cols = (table, text, figure). Literal so the DuckDB oracle can embed
# the identical values; production loads a .npz via ``weights_path``
# (the reference's weights come off disk too, base_infer_task.py:171-303).
WEIGHTS = [
    [0.05, 0.40, -0.10],
    [0.80, -0.20, 0.05],
    [-0.30, -0.10, 2.00],
    [0.10, 0.50, 0.20],
]

CLASSES = ["table", "text", "figure"]


def _layout_decode(w: np.ndarray, batch: pa.RecordBatch) -> dict:
    texts = batch.column("text").to_pylist()
    feats = np.zeros((len(texts), 4), dtype=np.float64)
    poisoned = np.zeros(len(texts), dtype=bool)
    for i, text in enumerate(texts):
        try:
            page = json.loads(text)
            feats[i] = (len(page.get("text_lines") or ()),
                        len(page.get("rects") or ()),
                        len(page.get("images") or ()), 1.0)
        except Exception:  # noqa: BLE001 — quarantine, don't
            poisoned[i] = True  # crash the job on one bad page
    scores = feats @ w                    # one matmul per batch
    cls = np.argmax(scores, axis=1)
    scores = np.round(scores, 6)
    scores[poisoned] = 0.0
    return {"doc_id": batch.column("doc_id"),
            "offset": batch.column("offset"),
            "score_table": scores[:, 0], "score_text": scores[:, 1],
            "score_figure": scores[:, 2],
            "layout_class": ["error" if p else CLASSES[c]
                             for p, c in zip(poisoned, cls)]}


LAYOUT_HEAD = Head(
    name="layout",
    version="layout-linear-v1",
    tensors=lambda: {"weights": WEIGHTS},
    materialise=_matrix,
    project=_pages("pdf_page"),
    decode_batch=_layout_decode,
    schema=("doc_id string, offset int, score_table double, "
            "score_text double, score_figure double, layout_class string"))


# ------------------------------------------------------- doc quality

# 5x2 linear head over integer text features:
# rows = (n_words, word_chars, n_alpha_words, stopword_hits, bias),
# cols = (keep, drop) — the fastText-style quality classifier a corpus
# pipeline runs at ingest (linear over cheap text features).
QUALITY_WEIGHTS = [
    [0.015, 0.010],
    [0.001, 0.001],
    [0.005, 0.000],
    [1.000, 0.000],
    [0.000, 1.400],
]

QUALITY_CLASSES = ["keep", "drop"]


def _quality_features(texts) -> "np.ndarray":
    """Integer text features per doc (mirrored verbatim in the oracle
    SQL): whitespace tokens, their total chars, alpha-bearing tokens,
    distinct Gopher-stopword hits, bias. Integers keep the downstream
    matmul bit-identical across engines."""
    import re
    from ..ops.textfilters import GOPHER_STOPWORDS
    stopset = set(GOPHER_STOPWORDS)
    feats = np.zeros((len(texts), 5), dtype=np.float64)
    for i, text in enumerate(texts):
        toks = [t for t in re.split(r"\s+", text or "") if t]
        feats[i] = (len(toks),
                    sum(len(t) for t in toks),
                    sum(1 for t in toks if re.search("[A-Za-z]", t)),
                    len({t.lower() for t in toks} & stopset),
                    1.0)
    return feats


def _quality_decode(w: np.ndarray, batch: pa.RecordBatch) -> dict:
    scores = np.round(
        _quality_features(batch.column("text").to_pylist()) @ w, 6)
    # argmax over the ROUNDED scores, first index wins ties —
    # mirrored by the oracle's `score_keep >= score_drop`
    cls = np.argmax(scores, axis=1)
    return {"doc_id": batch.column("doc_id"),
            "score_keep": scores[:, 0], "score_drop": scores[:, 1],
            "pred": [QUALITY_CLASSES[c] for c in cls]}


QUALITY_HEAD = Head(
    name="quality",
    version="doc-quality-linear-v1",
    tensors=lambda: {"weights": QUALITY_WEIGHTS},
    materialise=_matrix,
    project=lambda docs: docs.select("doc_id", "text"),
    decode_batch=_quality_decode,
    schema=("doc_id {doc_id}, score_keep double, score_drop double, "
            "pred string"))


# ---------------------------------------------- table structure (TSR)

# the literal weights/version live in core.tsrhead (shared with the
# single-process fixture oracle); decode is the reference's
# base_infer_task dispatch (base_infer_task.py:311-315) feeding
# lineless_table_process


def _tsr_decode(w: list, batch: pa.RecordBatch) -> dict:
    from ..core.tsrhead import extract_page_from_model
    htmls = []
    for p in batch.column("text").to_pylist():
        try:
            htmls.append(extract_page_from_model(json.loads(p), w))
        except Exception:  # noqa: BLE001 — quarantine bad pages
            htmls.append("")
    return {"doc_id": batch.column("doc_id"),
            "offset": batch.column("offset"),
            "kind": ["table_html"] * len(htmls), "text": htmls}


TSR_HEAD = Head(
    name="tsr",
    version=TSR_VERSION,
    tensors=lambda: {"weights": TSR_WEIGHTS},
    materialise=_nested,
    project=_pages("ocr_page"),
    decode_batch=_tsr_decode,
    schema="doc_id string, offset int, kind string, text string")


# -------------------------------------------------- page orientation

# 4x4 linear head over page-geometry features, rows = (first-line-is-
# vertical, first-line center x / width, center y / height, bias),
# cols = (rot0, rot90, rot180, rot270). The reference runs a PULC
# image classifier for this decision and rotates the raster before
# OCR (ocr_table_preprocess_task.py:27-206); this data model carries
# vector geometry, where the same decision falls out of where content
# STARTS and whether line direction flipped h->v. The page model is
# PDF-coordinate (origin bottom-left, y up), so an upright page's
# first content line sits at LARGE y; the 90-cw point map
# (x,y)->(y,W-x) then sends it to the right edge, 180 to the bottom,
# 270 to the left.
ORIENT_WEIGHTS = [
    [-2.0, 2.0, -2.0, 2.0],
    [0.0, 2.0, 0.0, -2.0],
    [2.0, 0.0, -2.0, 0.0],
    [0.0, -2.0, 2.0, 0.0],
]


def _orient_features(page: dict) -> tuple[float, float, float]:
    """(is_v, cx, cy) of the FIRST text line in content order —
    scalar-JSON-path extractable, so the oracle mirrors it verbatim.
    A page with no text lines gets the neutral (0, 0.5, 0.5), which
    the head maps to rot0 (ties break toward the lower class)."""
    lines = page.get("text_lines") or []
    if not lines:
        return 0.0, 0.5, 0.5
    t = lines[0]
    w = float(page.get("width") or 1.0) or 1.0
    h = float(page.get("height") or 1.0) or 1.0
    return (1.0 if t.get("dir", "h") == "v" else 0.0,
            (float(t["x0"]) + float(t["x1"])) / 2.0 / w,
            (float(t["y0"]) + float(t["y1"])) / 2.0 / h)


def _orient_decode(w: np.ndarray, batch: pa.RecordBatch) -> dict:
    payloads = batch.column("text").to_pylist()
    n = len(payloads)
    feats = np.zeros((n, 4), dtype=np.float64)
    feats[:, 3] = 1.0
    declared = np.zeros(n, dtype=np.int32)
    poisoned = np.zeros(n, dtype=bool)
    for i, p in enumerate(payloads):
        try:
            page = json.loads(p)
            feats[i, :3] = _orient_features(page)
            declared[i] = int(page.get("rotation") or 0)
        except Exception:  # noqa: BLE001 — quarantine bad pages
            poisoned[i] = True
    scores = np.round(feats @ w, 6)
    cls = np.argmax(scores, axis=1)
    scores[poisoned] = 0.0
    declared[poisoned] = -1
    return {"doc_id": batch.column("doc_id"),
            "offset": batch.column("offset"),
            **{f"score_rot{90 * j}": scores[:, j] for j in range(4)},
            "pred_rot": np.where(poisoned, -1, cls * 90),
            "declared_rot": declared}


ORIENT_HEAD = Head(
    name="orient",
    version="page-orient-linear-v1",
    tensors=lambda: {"weights": ORIENT_WEIGHTS},
    materialise=_matrix,
    project=_pages("pdf_page"),
    decode_batch=_orient_decode,
    schema=("doc_id string, offset int, score_rot0 double, "
            "score_rot90 double, score_rot180 double, score_rot270 double, "
            "pred_rot int, declared_rot int"))


# ----------------------------------- det/rec + contours (core.dethead)


def _det_contours_decode(w: list, batch: pa.RecordBatch) -> list:
    from ..core.dethead import (contour_blobs, detect_lines,
                                format_contour, format_det)
    out = []
    for did, off, p in _rows(batch):
        try:
            lines = detect_lines(json.loads(p), w)
        except Exception:  # noqa: BLE001 — quarantine bad pages
            continue
        out += [(did, off, "det_cell", format_det(d)) for d in lines]
        out += [(did, off, "contour", format_contour(b))
                for b in contour_blobs(lines)]
    return out


DET_CONTOURS_HEAD = Head(
    name="det_contours",
    version=DET_VERSION,
    tensors=lambda: {"weights": DET_WEIGHTS},
    materialise=_nested,
    project=_pages("ocr_page"),
    decode_batch=_det_contours_decode,
    schema="doc_id string, offset int, kind string, text string")


# ------------------------------------------- neural postprocess decoders

# DBPostProcess parameter vector shipped as the .npz "weights":
# (thresh, box_thresh, max_candidates, unclip_ratio, min_size) —
# the reference's constructor args (processor_ocr_db_pp.py:153-160)
DB_PARAM_VECTOR = [[0.3], [0.7], [1000.0], [2.0], [3.0]]

NEURAL_VERSION = "neural-postprocess-v1"


def _db_params(tensors: dict) -> dict:
    thresh, box_thresh, max_cand, ratio, min_size = \
        tensors["weights"].ravel()
    return {"thresh": thresh, "box_thresh": box_thresh,
            "max_candidates": int(max_cand),
            "unclip_ratio": ratio, "min_size": int(min_size)}


def _neural_decode(db_params: dict, batch: pa.RecordBatch) -> list:
    from ..core import picodet as pico
    from ..core.centernet import decode_payload, format_cn_poly
    from ..core.ctchead import ctc_decode, format_rec
    from ..core.dbnet import (db_postprocess, format_db_box,
                              prob_map_from_payload)
    from ..core.masterhead import master_output
    from ..core.slanethead import format_slanet, slanet_decode
    out = []
    for did, off, p in _rows(batch):
        def emit(kind, text):
            out.append((did, off, kind, text))

        try:
            page = json.loads(p)
        except Exception:  # noqa: BLE001 — quarantine bad pages
            continue
        db = page.get("db_prob")
        if db:
            boxes, scores = db_postprocess(
                prob_map_from_payload(db),
                int(db["dest_w"]), int(db["dest_h"]), db_params)
            for b, s in zip(boxes, scores):
                emit("db_box", format_db_box(b, s))
        for line in page.get("rec_lines") or ():
            text, conf = ctc_decode(
                line["path"], [0.9] * len(line["path"]))
            emit("rec_text", format_rec(text, conf))
        sl = page.get("slanet")
        if sl:
            tokens, cells = slanet_decode(
                sl["ids"], sl["bboxes"], sl["shape"])
            emit("slanet", format_slanet(tokens, cells))
        cnp = page.get("centernet")
        if cnp:
            for poly, score in decode_payload(cnp):
                emit("cn_poly", format_cn_poly(poly, score))
        pdp = page.get("picodet")
        if pdp:
            for label, clsid, score, box in pico.decode_payload(pdp):
                emit("layout_box",
                     pico.format_layout_box(label, clsid, score, box))
        ms = page.get("master")
        if ms:
            try:
                html_wire, box_wires = master_output(ms)
            except Exception:  # noqa: BLE001 — a degenerate stream
                # (e.g. decoding to a single token) IndexErrors in the
                # reference's own text_to_list; quarantine the page
                # instead of failing every page in the partition
                continue
            emit("master_html", html_wire)
            for bw in box_wires:
                emit("master_box", bw)
    return out


NEURAL_HEAD = Head(
    name="neural",
    version=NEURAL_VERSION,
    tensors=lambda: {"weights": DB_PARAM_VECTOR},
    materialise=_db_params,
    project=_pages("ocr_page"),
    decode_batch=_neural_decode,
    schema="doc_id string, offset int, kind string, text string")


# ------------------------------------------------ scan-image CNN heads


def _det_cnn_decode(w: dict, batch: pa.RecordBatch) -> list:
    from ..core import codecs, nn
    from ..core.dbnet import DB_PARAMS, db_postprocess, format_db_box
    out = []
    for ref, payload in _rows(batch):
        try:
            scan, _fmt = codecs.decode_image(bytes(payload))
        except ValueError:
            continue  # undecodable page → quarantine
        prob = nn.det_forward(nn.ink_from_scan(codecs.to_gray(scan)), w)
        h, wd = prob.shape
        boxes, scores = db_postprocess(prob, wd, h, DB_PARAMS)
        out += [(ref, j, "db_cnn_box", format_db_box(b, s))
                for j, (b, s) in enumerate(zip(boxes, scores))]
    return out


DET_CNN_HEAD = Head(
    name="det_cnn",
    version=DETCNN_VERSION,
    tensors=lambda: DET_CNN,
    materialise=dict,
    project=_scans,
    decode_batch=_det_cnn_decode,
    schema="media_ref string, box_idx int, kind string, text string")


def _ocr_cnn_decode(w: tuple, batch: pa.RecordBatch) -> list:
    from ..core import codecs
    from ..core.ocrpage import ocr_scan_page
    det_w, rec_w = w
    out = []
    for ref, payload in _rows(batch):
        try:
            img, _fmt = codecs.decode_image(bytes(payload))
        except ValueError:
            continue  # undecodable page → quarantine
        res = ocr_scan_page(codecs.to_gray(img), det_weights=det_w,
                            rec_weights=rec_w)
        wire = []
        for t in res["tables"]:
            wire.append(("ocr_shape", f"{t['n_rows']}x{t['n_cols']}"))
            wire += [("ocr_cell", f"{r},{c}|{text}")
                     for (r, c, _rs, _cs, text) in t["cells"]]
            wire.append(("ocr_html", t["html"]))
        wire += [("ocr_line", ln["text"]) for ln in res["remainder"]]
        out += [(ref, off, kind, text)
                for off, (kind, text) in enumerate(wire)]
    return out


def _det_rec_tensors() -> dict:
    return _prefixed(det=OCR_DET_CNN, rec=REC_CNN)


OCR_CNN_HEAD = Head(
    name="ocr_cnn",
    version=OCRCNN_VERSION,
    tensors=_det_rec_tensors,
    materialise=_split("det_", "rec_"),
    project=_scans,
    decode_batch=_ocr_cnn_decode,
    schema="media_ref string, offset int, kind string, text string")


def _layout_cnn_decode(w: tuple, batch: pa.RecordBatch) -> list:
    from ..core import codecs
    from ..core.ocrpage import layout_regions
    det_w, lay_w = w
    out = []
    for ref, payload in _rows(batch):
        try:
            img, _fmt = codecs.decode_image(bytes(payload))
        except ValueError:
            continue
        out += [(ref, j, *reg["scores"][:3],
                 f"{reg['label']}|{reg['x0']},{reg['y0']},"
                 f"{reg['x1']},{reg['y1']}")
                for j, reg in enumerate(layout_regions(
                    codecs.to_gray(img), weights=lay_w,
                    det_weights=det_w))]
    return out


def _det_layout_tensors() -> dict:
    from ..core.ocrpage import LAYOUT_CNN
    return _prefixed(det=OCR_DET_CNN, layout=LAYOUT_CNN)


LAYOUT_CNN_HEAD = Head(
    name="layout_cnn",
    version=OCRCNN_VERSION,
    tensors=_det_layout_tensors,
    materialise=_split("det_", "layout_"),
    project=_scans,
    decode_batch=_layout_cnn_decode,
    schema=("media_ref string, offset int, score_table double, "
            "score_text double, score_figure double, label string"))


def _orient_cnn_decode(w: tuple, batch: pa.RecordBatch) -> list:
    from ..core import codecs
    from ..core.ocrpage import orient_scan_page
    det_w, rec_w = w
    out = []
    for ref, payload in _rows(batch):
        try:
            img, _fmt = codecs.decode_image(bytes(payload))
        except ValueError:
            continue
        pred, votes = orient_scan_page(codecs.to_gray(img),
                                       det_weights=det_w,
                                       rec_weights=rec_w)
        out.append((ref, *(float(v) for v in votes[:4]), pred))
    return out


ORIENT_CNN_HEAD = Head(
    name="orient_cnn",
    version=OCRCNN_VERSION,
    tensors=_det_rec_tensors,
    materialise=_split("det_", "rec_"),
    project=_scans,
    decode_batch=_orient_cnn_decode,
    schema=("media_ref string, score_rot0 double, score_rot90 double, "
            "score_rot180 double, score_rot270 double, pred_rot int"))


# ------------------------------------------------------ public heads


def score_page_layout(docs_spans: DataFrame, weights_path: str | None = None,
                      _mat_counter=None) -> DataFrame:
    """documents(doc_id, spans) → one (scores over table / text /
    figure, class) row per pdf_page span; a poisoned payload comes
    back as a zeroed ``error`` row."""
    return run_head(docs_spans, LAYOUT_HEAD, weights_path, _mat_counter)


def score_doc_quality(docs: DataFrame,
                      weights_path: str | None = None) -> DataFrame:
    """documents(doc_id, text) → (doc_id, score_keep, score_drop,
    pred). Narrow — no shuffle; at 100 TB this runs at scan speed."""
    return run_head(docs, QUALITY_HEAD, weights_path)


def score_table_structure(docs_spans: DataFrame,
                          weights_path: str | None = None) -> DataFrame:
    """documents(doc_id, spans) → one (doc_id, offset, 'table_html',
    html) row per ocr_page span, the STRUCTURE inferred at runtime
    (core.tsrhead: grid clustering + linear axis head) and decoded
    through core.logicell — no pre-filled fixture structure anywhere
    on the path."""
    return run_head(docs_spans, TSR_HEAD, weights_path)


def score_page_orientation(docs_spans: DataFrame,
                           weights_path: str | None = None) -> DataFrame:
    """documents(doc_id, spans) → one orientation prediction per
    pdf_page span: (scores over rot0/90/180/270, pred_rot in degrees,
    declared_rot from the payload for parity checks; -1 on a poisoned
    payload)."""
    return run_head(docs_spans, ORIENT_HEAD, weights_path)


def score_det_contours(docs_spans: DataFrame,
                       weights_path: str | None = None) -> DataFrame:
    """Det/rec + O4 contour proposals per ocr_page span: the text
    lines recovered from the page's per-character ``glyphs`` with NO
    access to the planted det_cells (``det_cell`` rows,
    ``core.dethead.detect_lines``) and the page's top-10 ink-blob
    region proposals (``contour`` rows) in the driver wire format."""
    return run_head(docs_spans, DET_CONTOURS_HEAD, weights_path)


def score_neural_decoders(docs_spans: DataFrame,
                          weights_path: str | None = None) -> DataFrame:
    """The deterministic postprocess decoders over one scan and ONE
    Python boundary: DBNet probability map → text boxes
    (``core.dbnet``, M3's postprocess half — NO planted det_cells on
    this path), CTC greedy label decode (``core.ctchead``, M5), SLANet
    structure-token decode (``core.slanethead``, M7), the
    Cycle-CenterNet paired-keypoint TSR decode (``core.centernet``,
    M6), the PicoDet DFL layout decode (``core.picodet``, M2) and the
    TableMaster structure+bbox decode with the deal_bb repair passes
    (``core.masterhead``, M10). Each ocr_page span emits ``db_box`` /
    ``rec_text`` / ``slanet`` / ``cn_poly`` / ``layout_box`` /
    ``master_html`` / ``master_box`` rows for whichever contracts its
    payload carries. The weights are the DBPostProcess parameter
    vector; the per-step rec probability is the contract constant 0.9
    (fixtures plant the argmax path)."""
    return run_head(docs_spans, NEURAL_HEAD, weights_path)


def score_det_cnn(scans: DataFrame,
                  weights_path: str | None = None) -> DataFrame:
    """Scan-page image (PNG/BMP/PNM, ``core.codecs``) → text boxes
    through the REAL forward pass: ``core.nn.det_forward`` (conv →
    relu → max-pool dilation → conv → sigmoid) feeding the same
    ``core.dbnet`` postprocess the contract path uses — the
    reference's image→boxes dispatch
    (``model/ocr_pdf/base_infer_task.py:317-381``). Defaults to the
    hand-constructed ``core.nn.DET_CNN`` tensors (the swap point for a
    trained checkpoint)."""
    return run_head(scans, DET_CNN_HEAD, weights_path)


def score_ocr_cnn(scans: DataFrame,
                  weights_path: str | None = None) -> DataFrame:
    """The complete imaged-page OCR path: pixel decode → ruling
    extraction → det-CNN forward → DBNet postprocess → rec-CNN forward
    + CTC decode → lattice grid / logical-cell merge / text placement
    → wire rows (table shape, cells, HTML, free lines), the
    reference's imaged-PDF dispatch
    (``model/ocr_pdf/base_infer_task.py:317-381`` +
    ``table/table_extractor_lattice.py``). ``weights_path``: a
    ``save_weights_dict`` artifact with ``det_*`` and ``rec_*``
    tensors."""
    return run_head(scans, OCR_CNN_HEAD, weights_path)


def score_layout_cnn(scans: DataFrame,
                     weights_path: str | None = None) -> DataFrame:
    """Layout analysis from pixels (M2's PicoDet/DocXLayout half):
    coarse-ink region proposals, each classified table / text / figure
    from conv-derived features through a linear head
    (``core.ocrpage.layout_regions``); ``layout_*`` tensors ride the
    same artifact as the ``det_*`` ones."""
    return run_head(scans, LAYOUT_CNN_HEAD, weights_path)


def score_orient_cnn(scans: DataFrame,
                     weights_path: str | None = None) -> DataFrame:
    """Image-based page orientation (M1's PULC text-image-orientation
    model): try all four 90° corrections and score each by how much
    text the det+rec forwards decode (``core.ocrpage.orient_scan_page``);
    the argmax is the predicted counter-clockwise correction."""
    return run_head(scans, ORIENT_CNN_HEAD, weights_path)
