"""CTC greedy label decode — the deterministic half of the
reference's text-recognition model (M5).

The reference's CRNN/SVTR recognizer emits per-timestep class logits;
everything after the forward pass is deterministic: argmax over
classes, collapse repeated indices, drop the blank (class 0), map the
surviving indices through the character dict, average the surviving
probabilities into a confidence
(``model/ocr_rec_pp/rec_postprocess.py:126-195`` CTCLabelDecode /
BaseRecLabelDecode.decode). This module re-derives that decode
clean-room over the model seam's payload contract:

  * the fixture payload carries the greedy PATH (per-timestep argmax
    index) + a per-step probability — what ``preds.argmax(axis=2)`` /
    ``preds.max(axis=2)`` produce from the logit tensor; the decode
    below is the reference's ``is_remove_duplicate=True`` branch
    verbatim: keep step t iff idx[t] != idx[t-1], then drop blanks;
  * the charset is the blank-prepended character list
    (``add_special_char``: ``['blank'] + chars``); the default here
    is the reference's built-in digits+lowercase set extended with
    the space/punctuation the fixtures use.

Pure functions shared by the Spark Arrow stage and tests.
"""

from __future__ import annotations

# blank + the reference's default "0123456789abcdefghijklmnopqrstuvwxyz"
# + space and the fixture punctuation (use_space_char-style extension)
CTC_CHARSET = ["blank"] + list("0123456789abcdefghijklmnopqrstuvwxyz .-%")


def ctc_decode(path, probs=None, charset=None):
    """Greedy CTC decode of one index path → (text, confidence).

    ``path``: per-timestep argmax class indices; ``probs``: matching
    per-timestep max probabilities (defaults to 1.0 each, like the
    reference when ``text_prob`` is None). Steps are kept when they
    differ from their predecessor (dedup), then blank (index 0) steps
    are dropped; confidence is the mean probability over the kept
    steps (0.0 when nothing survives — the reference's
    ``conf_list = [0]``)."""
    chars = charset if charset is not None else CTC_CHARSET
    n = len(path)
    if probs is None:
        probs = [1.0] * n
    kept_chars, kept_probs = [], []
    prev = None
    for t in range(n):
        idx = int(path[t])
        dup = prev is not None and idx == prev
        prev = idx
        if dup or idx == 0:
            continue
        kept_chars.append(chars[idx])
        kept_probs.append(float(probs[t]))
    if not kept_probs:
        return "", 0.0
    return "".join(kept_chars), sum(kept_probs) / len(kept_probs)


def ctc_encode(text: str, charset=None):
    """Inverse used by the FIXTURE GENERATOR (not the engine): text →
    a greedy path that ctc_decode must invert. Each char index is
    emitted twice (exercising the dedup collapse) and a blank
    separates repeated characters (the only lossless encoding of a
    double letter under CTC)."""
    chars = charset if charset is not None else CTC_CHARSET
    lut = {c: i for i, c in enumerate(chars)}
    path = []
    prev = None
    for ch in text:
        idx = lut[ch]
        if prev == idx:
            path.append(0)
        path.extend((idx, idx))
        prev = idx
    return path


def format_rec(text: str, conf: float) -> str:
    """Stable wire format (mirrored by the DuckDB oracle printf)."""
    return f"{text}|{conf:.4f}"
