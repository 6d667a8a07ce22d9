"""Build fixture parquet: interleaved documents corpus + golden outputs.

Written with pyarrow directly (no Spark needed) so the DuckDB oracle
and pytest can consume the same files. ``OUTPUTS`` lists the 22 names
written under ``<root>/sf<SF>/``: the ``documents_spans.parquet``
directory of (doc_id, spans[]) shards, the goldens, the media and scan
corpora and the ``.npz`` head artifacts.

Scale knobs per FIXTURES.md §3: sf0.001→50 docs, sf0.01→500,
sf0.1→5000. Deterministic (seed 42): a scale whose files all exist is
skipped; delete its directory to rebuild it.

Usage: python -m pdf_table_spark.fixtures.build [root] [sf ...]
"""

from __future__ import annotations

import json
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq

from ..core import codecs, nn
from ..core.dbnet import DB_PARAMS, db_postprocess, format_db_box
from ..core.dethead import DET_VERSION, DET_WEIGHTS
from ..core.export_render import render_table_html
from ..core.ocrpage import LAYOUT_CNN, layout_regions, orient_scan_page
from ..core.page import extract_document
from ..core.tsrhead import TSR_VERSION, TSR_WEIGHTS, extract_page_from_model
from ..spark.model_stage import (DB_PARAM_VECTOR, NEURAL_VERSION, _prefixed,
                                 _split, save_weights, save_weights_dict)
from . import media_gen
from .generator import gen_corpus

DOC_COUNTS = {"0.001": 50, "0.01": 500, "0.1": 5000}


def _doc_count(sf: str) -> int:
    """Docs for a scale factor: the committed table for the known
    SFs (their goldens are committed), 50,000 x sf for anything else
    (the same linear rule the table encodes) — so a driver-chosen
    larger SF generates a proportionally larger corpus instead of
    KeyError-ing the whole bench."""
    if sf in DOC_COUNTS:
        return DOC_COUNTS[sf]
    return max(int(round(50_000 * float(sf))), 1)

# documents_spans.parquet is a DIRECTORY of part files: a 100 TB corpus
# is thousands of files, and Spark's scan parallelism comes from file
# splits — a single small file caps the scan at one task no matter the
# cluster size, which poisons the N→4N scaling measurement.
N_SHARDS = {"0.001": 8, "0.01": 16, "0.1": 64}

OUTPUTS = (
    "documents_spans.parquet", "golden_flat.parquet",
    "golden_flat_lattice.parquet", "golden_flat_stream.parquet",
    "golden_exports.parquet", "tsr_head.npz", "det_head.npz",
    "neural_head.npz", "golden_model_tsr.parquet",
    "media_payloads.parquet", "golden_media_meta.parquet",
    "golden_wav_meta.parquet", "scan_pages.parquet",
    "golden_scan_boxes.parquet", "det_cnn.npz", "ocr_scan_pages.parquet",
    "golden_ocr_scan.parquet", "ocr_cnn.npz", "layout_scan_pages.parquet",
    "golden_layout_cnn.parquet", "orient_scan_pages.parquet",
    "golden_orient_cnn.parquet")

SPAN_TYPE = pa.struct([
    ("kind", pa.string()), ("text", pa.string()),
    ("media_ref", pa.string()), ("offset", pa.int32())])

DOCS_SCHEMA = pa.schema([
    ("doc_id", pa.string()), ("spans", pa.list_(SPAN_TYPE))])

GOLDEN_SCHEMA = pa.schema([
    ("doc_id", pa.string()), ("offset", pa.int32()), ("kind", pa.string()),
    ("text", pa.string()), ("media_ref", pa.string()),
    ("src_offset", pa.int32()),
    ("accuracy", pa.float64()), ("whitespace", pa.float64())])

EXPORTS_SCHEMA = pa.schema([
    ("doc_id", pa.string()), ("offset", pa.int32()),
    ("n_rows", pa.int32()), ("n_cols", pa.int32()),
    ("csv", pa.string()), ("markdown", pa.string()),
    ("json_rows", pa.string()), ("sqlite_sql", pa.string()),
    ("excel_xml", pa.string()), ("html_db", pa.string())])

# the (media_ref, payload) corpora and the (doc_id, offset, kind, text)
# wire goldens
PAYLOAD_SCHEMA = pa.schema([("media_ref", pa.string()),
                            ("payload", pa.binary())])
WIRE_SCHEMA = pa.schema([
    ("doc_id", pa.string()), ("offset", pa.int32()),
    ("kind", pa.string()), ("text", pa.string())])

MEDIA_SCHEMA = pa.schema([
    ("media_ref", pa.string()), ("src_width", pa.int32()),
    ("src_height", pa.int32()), ("format", pa.string()),
    ("n_bytes", pa.int64()), ("px_sum", pa.int64())])
WAV_SCHEMA = pa.schema([
    ("media_ref", pa.string()), ("sample_rate", pa.int32()),
    ("n_channels", pa.int32()), ("n_frames", pa.int64()),
    ("duration_ms", pa.int64()), ("peak", pa.int32())])
LAYOUT_SCHEMA = pa.schema([
    ("doc_id", pa.string()), ("offset", pa.int32()),
    ("score_table", pa.float64()), ("score_text", pa.float64()),
    ("score_figure", pa.float64()), ("label", pa.string())])
ORIENT_SCHEMA = pa.schema([
    ("doc_id", pa.string()), ("score_rot0", pa.float64()),
    ("score_rot90", pa.float64()), ("score_rot180", pa.float64()),
    ("score_rot270", pa.float64()), ("pred_rot", pa.int32())])


def fixture_dir(root: str, sf: str) -> str:
    return os.path.join(root, f"sf{sf}")


def _write(path: str, rows: list[dict], schema: pa.Schema) -> None:
    """One parquet file from dict rows; keys outside ``schema`` are
    ignored."""
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), path)


def _golden(corpus: list, flavor: str) -> list[dict]:
    """The single-process extraction oracle over the whole corpus."""
    return [{"doc_id": doc_id, **o} for doc_id, spans in corpus
            for o in extract_document(spans, flavor=flavor)]


def _gray(payload: bytes):
    img, _fmt = codecs.decode_image(payload)
    return codecs.to_gray(img)


def build_sf(root: str, sf: str) -> dict:
    out_dir = fixture_dir(root, sf)
    path = {name: os.path.join(out_dir, name) for name in OUTPUTS}
    if all(os.path.exists(p) for p in path.values()):
        return {"sf": sf, "skipped": True}
    docs_dir = path["documents_spans.parquet"]
    os.makedirs(docs_dir, exist_ok=True)

    n_docs = _doc_count(sf)
    corpus = [(doc_id, spans) for doc_id, spans, _ in gen_corpus(n_docs)]
    # unknown SFs shard by the same ~78-docs-per-shard density the
    # committed table encodes (0.1 -> 64), clamped to [8, 256]
    n_shards = N_SHARDS.get(sf, min(max(n_docs // 78, 8), 256))
    per = (n_docs + n_shards - 1) // n_shards
    for shard, lo in enumerate(range(0, n_docs, per)):
        _write(os.path.join(docs_dir, f"part-{shard:05d}.parquet"),
               [{"doc_id": d, "spans": s} for d, s in corpus[lo:lo + per]],
               DOCS_SCHEMA)
    flat = _golden(corpus, "auto")
    _write(path["golden_flat.parquet"], flat, GOLDEN_SCHEMA)
    # flavor-forced goldens (the read_pdf flavor kwarg surface)
    for fl in ("lattice", "stream"):
        _write(path[f"golden_flat_{fl}.parquet"], _golden(corpus, fl),
               GOLDEN_SCHEMA)

    # S7 export oracle: every golden table through the same renderer
    # the Spark stage uses (core.export_render)
    exports = [{"doc_id": r["doc_id"], "offset": r["offset"],
                **dict(zip(EXPORTS_SCHEMA.names[2:],
                           render_table_html(r["text"] or "")))}
               for r in flat if r["kind"] == "table_html"]
    _write(path["golden_exports.parquet"], exports, EXPORTS_SCHEMA)

    # from-model TSR oracle: the .npz head artifacts, then every
    # ocr_page payload through the SAME deterministic head + logicell
    # decode single-process (core.tsrhead) — what
    # spark.model_stage.score_table_structure(weights_path=…) must
    # reproduce distributed
    save_weights(path["tsr_head.npz"], TSR_WEIGHTS, TSR_VERSION)
    save_weights(path["det_head.npz"], DET_WEIGHTS, DET_VERSION)
    save_weights(path["neural_head.npz"], DB_PARAM_VECTOR, NEURAL_VERSION)
    _write(path["golden_model_tsr.parquet"],
           [{"doc_id": doc_id, "offset": s["offset"], "kind": "table_html",
             "text": extract_page_from_model(json.loads(s["text"]),
                                             TSR_WEIGHTS)}
            for doc_id, spans in corpus for s in spans
            if s["kind"] == "ocr_page"], WIRE_SCHEMA)

    # planted REAL media corpus (core.codecs encoders) + encode-side
    # truth: the S4 decode gate — the Spark decode stage must reproduce
    # dims/format/n_bytes recorded here BEFORE encoding
    _write(path["media_payloads.parquet"], media_gen.media_payloads(),
           PAYLOAD_SCHEMA)
    _write(path["golden_media_meta.parquet"], media_gen.media_truth(),
           MEDIA_SCHEMA)
    _write(path["golden_wav_meta.parquet"], media_gen.wav_truth(),
           WAV_SCHEMA)

    # scan-page corpus (REAL PNG pages) + det-CNN artifact + golden:
    # the image → CNN forward → DBNet postprocess path, run here
    # single-process through the SAME .npz weights the distributed
    # score_det_cnn stage loads (the golden_model_tsr pattern)
    scans = media_gen.scan_payloads()
    _write(path["scan_pages.parquet"], scans, PAYLOAD_SCHEMA)
    save_weights_dict(path["det_cnn.npz"], nn.DET_CNN, nn.DETCNN_VERSION)
    db_boxes = []
    for r in scans:
        prob = nn.det_forward(nn.ink_from_scan(_gray(r["payload"])),
                              nn.DET_CNN)
        db_boxes += [{"doc_id": r["media_ref"], "offset": j,
                      "kind": "db_cnn_box", "text": format_db_box(b, s)}
                     for j, (b, s) in enumerate(zip(*db_postprocess(
                         prob, prob.shape[1], prob.shape[0], DB_PARAMS)))]
    _write(path["golden_scan_boxes.parquet"], db_boxes, WIRE_SCHEMA)

    # full-OCR scan corpus (ruled tables + free text rendered with the
    # core.font glyphs, real PNG) + combined det/rec/layout artifact +
    # PLANTED-TRUTH golden: these rows come from the plants alone
    # (media_gen.ocr_scan_truth), so the oracle is an independent
    # inverse of the whole pixel pipeline, not a same-code twin
    _write(path["ocr_scan_pages.parquet"], media_gen.ocr_scan_payloads(),
           PAYLOAD_SCHEMA)
    ocr_tensors = _prefixed(det=nn.OCR_DET_CNN, rec=nn.REC_CNN,
                            layout=LAYOUT_CNN)
    save_weights_dict(path["ocr_cnn.npz"], ocr_tensors, nn.OCRCNN_VERSION)
    _write(path["golden_ocr_scan.parquet"],
           [{"doc_id": r["media_ref"], **r}
            for r in media_gen.ocr_scan_truth()], WIRE_SCHEMA)

    # layout corpus + golden: label (class + tight bbox) is PLANTED
    # truth — a wrong distributed region, class or geometry fails the
    # gate; the three scores are the same-artifact single-process twin
    layouts = media_gen.layout_scan_payloads()
    _write(path["layout_scan_pages.parquet"], layouts, PAYLOAD_SCHEMA)
    det_w, lay_w = _split("det_", "layout_")(ocr_tensors)
    label = {(r["media_ref"], r["offset"]): r["label"]
             for r in media_gen.layout_scan_truth()}
    _write(path["golden_layout_cnn.parquet"],
           [{"doc_id": r["media_ref"], "offset": j,
             **dict(zip(LAYOUT_SCHEMA.names[2:5], reg["scores"])),
             "label": label[(r["media_ref"], j)]}
            for r in layouts for j, reg in enumerate(layout_regions(
                _gray(r["payload"]), weights=lay_w, det_weights=det_w))],
           LAYOUT_SCHEMA)

    # orientation corpus + golden: pred_rot is the PLANTED correction
    # angle (encode-side truth — a wrong distributed prediction fails
    # the gate), the four vote scores are the same-artifact
    # single-process run (the det-CNN golden pattern)
    turned = media_gen.orient_scan_payloads()
    _write(path["orient_scan_pages.parquet"], turned, PAYLOAD_SCHEMA)
    det_w, rec_w = _split("det_", "rec_")(ocr_tensors)
    orient = []
    for r, truth in zip(turned, media_gen.orient_scan_truth()):
        _pred, votes = orient_scan_page(_gray(r["payload"]),
                                        det_weights=det_w,
                                        rec_weights=rec_w)
        orient.append({"doc_id": r["media_ref"],
                       **{c: float(v) for c, v in
                          zip(ORIENT_SCHEMA.names[1:5], votes)},
                       "pred_rot": truth["angle"]})
    _write(path["golden_orient_cnn.parquet"], orient, ORIENT_SCHEMA)
    return {"sf": sf, "docs": n_docs,
            "pages": sum(s["kind"] == "pdf_page"
                         for _, spans in corpus for s in spans),
            "golden_rows": len(flat), "export_rows": len(exports),
            "skipped": False}


def ensure_fixtures(root: str, sfs=("0.001", "0.01", "0.1")):
    return [build_sf(root, sf) for sf in sfs]


DEFAULT_ROOT = os.path.join(os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))), "fixtures")


if __name__ == "__main__":
    root = sys.argv[1] if len(sys.argv) > 1 else DEFAULT_ROOT
    sfs = sys.argv[2:] or ["0.001", "0.01", "0.1"]
    for info in ensure_fixtures(root, sfs):
        print(info)
