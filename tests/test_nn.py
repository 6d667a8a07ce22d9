"""The numpy CNN forward pass (core.nn) + the image→boxes det path.

Checks, in order of independence: the conv/pool primitives against
naive loop twins written here (code-disjoint), the forward pass's
bit-determinism, the end-to-end semantic contract on the planted scan
corpus (every planted text line is recovered as exactly one box that
contains it — word gaps bridged, lines never merged), the .npz
multi-tensor seam roundtrip, and the distributed stage against the
single-process golden.
"""

import numpy as np
import pytest

from pdf_table_spark.core import codecs, nn
from pdf_table_spark.core.dbnet import DB_PARAMS, db_postprocess


def naive_conv2d(x, w, b):
    c_in, h, wd = x.shape
    c_out, _, kh, kw = w.shape
    ph, pw = kh // 2, kw // 2
    xp = np.zeros((c_in, h + 2 * ph, wd + 2 * pw))
    xp[:, ph:ph + h, pw:pw + wd] = x
    out = np.zeros((c_out, h, wd))
    for o in range(c_out):
        for y in range(h):
            for xx in range(wd):
                acc = 0.0
                for i in range(c_in):
                    for dy in range(kh):
                        for dx in range(kw):
                            acc += w[o, i, dy, dx] * xp[i, y + dy,
                                                        xx + dx]
                out[o, y, xx] = acc + (b[o] if b is not None else 0.0)
    return out


def naive_maxpool(x, kh, kw):
    c, h, wd = x.shape
    ph, pw = kh // 2, kw // 2
    xp = np.full((c, h + 2 * ph, wd + 2 * pw), -np.inf)
    xp[:, ph:ph + h, pw:pw + wd] = x
    out = np.zeros_like(x)
    for i in range(c):
        for y in range(h):
            for xx in range(wd):
                out[i, y, xx] = xp[i, y:y + kh, xx:xx + kw].max()
    return out


def test_conv2d_matches_naive():
    rng = np.random.default_rng(11)
    x = rng.normal(size=(3, 9, 7))
    w = rng.normal(size=(4, 3, 3, 3))
    b = rng.normal(size=4)
    got = nn.conv2d(x, w, b)
    assert np.allclose(got, naive_conv2d(x, w, b), atol=1e-12)
    # 1x1 kernel degenerates to a channel mix
    w1 = rng.normal(size=(2, 3, 1, 1))
    assert np.allclose(nn.conv2d(x, w1),
                       np.einsum("oi,ihw->ohw", w1[:, :, 0, 0], x))


def test_maxpool_matches_naive():
    rng = np.random.default_rng(12)
    x = rng.normal(size=(2, 6, 11))
    for kh, kw in [(1, 5), (3, 3), (1, 1)]:
        assert np.allclose(nn.maxpool2d(x, kh, kw),
                           naive_maxpool(x, kh, kw))
    with pytest.raises(ValueError):
        nn.maxpool2d(x, 2, 2)


def test_activations():
    x = np.array([-800.0, -1.0, 0.0, 1.0, 800.0])
    s = nn.sigmoid(x)
    assert s[0] == 0.0 and s[4] == 1.0  # no overflow at extremes
    assert abs(s[2] - 0.5) < 1e-15
    assert np.allclose(s + nn.sigmoid(-x), 1.0)
    assert (nn.relu(x) == [0, 0, 0, 1, 800]).all()


def test_det_forward_deterministic_and_bounded():
    scan = nn.render_lines(
        [{"x0": 5, "y0": 5, "x1": 60, "y1": 11, "gaps": [20, 40]}],
        40, 70)
    ink = nn.ink_from_scan(scan)
    p1, p2 = nn.det_forward(ink), nn.det_forward(ink)
    assert (p1 == p2).all()  # bit-identical
    assert p1.shape == ink.shape
    assert p1.min() >= 0.0 and p1.max() <= 1.0
    # blank page → probability nowhere near threshold
    blank = nn.det_forward(np.zeros((30, 30)))
    assert blank.max() < DB_PARAMS["thresh"]


def test_planted_lines_recovered_one_to_one():
    # the semantic contract: word gaps (3 px) bridge, lines (>=10 px
    # apart) never merge; every planted line sits inside exactly one
    # detected box
    from pdf_table_spark.fixtures.media_gen import (_scan_lines_for,
                                                    scan_payloads)
    for i, row in enumerate(scan_payloads()):
        lines = _scan_lines_for(i)
        scan, _ = codecs.decode_image(row["payload"])
        prob = nn.det_forward(nn.ink_from_scan(codecs.to_gray(scan)))
        boxes, scores = db_postprocess(prob, prob.shape[1],
                                       prob.shape[0], DB_PARAMS)
        assert len(boxes) == len(lines), (row["media_ref"],
                                          len(boxes), len(lines))
        rects = [(min(b[0::2]), min(b[1::2]), max(b[0::2]),
                  max(b[1::2])) for b in boxes]
        for ln in lines:
            inside = [r for r in rects
                      if r[0] <= ln["x0"] and r[1] <= ln["y0"]
                      and r[2] >= ln["x1"] and r[3] >= ln["y1"]]
            assert len(inside) == 1, (row["media_ref"], ln, rects)
        assert all(s >= DB_PARAMS["box_thresh"] for s in scores)


def test_weights_dict_seam_roundtrip(tmp_path):
    from pdf_table_spark.spark.model_stage import (load_artifact,
                                                   save_weights_dict)
    path = str(tmp_path / "det_cnn.npz")
    save_weights_dict(path, nn.DET_CNN, nn.DETCNN_VERSION)
    tensors, version = load_artifact(path)
    assert version == nn.DETCNN_VERSION
    assert set(tensors) == set(nn.DET_CNN)
    for k in tensors:
        assert np.array_equal(tensors[k], np.asarray(nn.DET_CNN[k],
                                                     dtype=np.float64))
    # a forward pass through the loaded tensors is bit-identical
    scan = nn.render_lines(
        [{"x0": 4, "y0": 4, "x1": 40, "y1": 9, "gaps": [15]}], 24, 50)
    ink = nn.ink_from_scan(scan)
    assert (nn.det_forward(ink, tensors) == nn.det_forward(ink)).all()


def test_score_det_cnn_matches_golden(spark, fixture_root):
    import os

    from pdf_table_spark.spark.model_stage import score_det_cnn
    fx = os.path.join(fixture_root, "sf0.001")
    scans = spark.read.parquet(os.path.join(fx, "scan_pages.parquet"))
    got = sorted(
        (r["media_ref"], r["box_idx"], r["kind"], r["text"])
        for r in score_det_cnn(
            scans, weights_path=os.path.join(fx, "det_cnn.npz")
        ).collect())
    import pyarrow.parquet as pq
    g = pq.read_table(os.path.join(fx, "golden_scan_boxes.parquet"))
    want = sorted(zip(g["doc_id"].to_pylist(), g["offset"].to_pylist(),
                      g["kind"].to_pylist(), g["text"].to_pylist()))
    assert got == want  # distributed forward == single-process golden
    assert len(got) > 0
