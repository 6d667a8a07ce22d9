"""Output checks. Each returns a list of mismatch descriptions; an empty
list means the output is correct. They read what the program wrote
(pyarrow tables of its parquet output), never the program's own
counters."""

from __future__ import annotations

import math
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

FLAT_COLUMNS = ("doc_id", "offset", "kind", "text", "media_ref",
                "src_offset", "accuracy", "whitespace")
MAX_REPORTED = 5


def _norm(v):
    # NaN != NaN would fail an identical row; compare it by name
    return "nan" if isinstance(v, float) and math.isnan(v) else v


def flat_rows(table: pa.Table) -> list[tuple]:
    """Rows of a flat extraction output, in (doc_id, offset) order."""
    cols = [table.column(c).to_pylist() for c in FLAT_COLUMNS]
    return sorted(tuple(_norm(v) for v in row) for row in zip(*cols))


def reference_rows(doc_id: str, spans: list[dict]) -> list[tuple]:
    """The single-process oracle (``core.page.extract_document``) for
    one document, in the flat output's row shape."""
    from pdf_table_spark.core.page import extract_document
    return [tuple(_norm(v) for v in (
        doc_id, o["offset"], o["kind"], o["text"], o["media_ref"],
        o["src_offset"], o["accuracy"], o["whitespace"]))
        for o in extract_document(spans)]


def _diff(label: str, got: list[tuple], want: list[tuple]) -> list[str]:
    if got == want:
        return []
    missing = Counter(want) - Counter(got)
    extra = Counter(got) - Counter(want)
    out = [f"{label}: {len(got)} rows, want {len(want)}; "
           f"{sum(missing.values())} missing, {sum(extra.values())} extra"]
    out += [f"  missing {r[:3]}" for r in list(missing)[:MAX_REPORTED]]
    out += [f"  extra {r[:3]}" for r in list(extra)[:MAX_REPORTED]]
    if not missing and not extra:
        out.append(f"{label}: same rows in another order")
    return out


def sample_reference(docs: dict[str, list[dict]]) -> list[tuple]:
    """The oracle rows of sampled docs, in ``flat_rows`` order."""
    return sorted(r for d, spans in docs.items()
                  for r in reference_rows(d, spans))


def check_extract_sample(output: pa.Table, doc_ids: list[str],
                         want: list[tuple]) -> list[str]:
    """Span-sequence equality: the output rows of the sampled docs
    equal ``want``, their single-process extraction
    (``sample_reference``)."""
    mask = pc.is_in(output.column("doc_id"), value_set=pa.array(doc_ids))
    return _diff("extract sample", flat_rows(output.filter(mask)), want)


def check_golden(output: pa.Table, golden: pa.Table) -> list[str]:
    """Exact equality with a committed golden on the golden's docs."""
    mask = pc.is_in(output.column("doc_id"),
                    value_set=pc.unique(golden.column("doc_id")))
    return _diff("golden", flat_rows(output.filter(mask)),
                 flat_rows(golden))


HEAD_COLUMNS = ("doc_id", "offset", "kind", "text")


def check_head(label: str, got: list[tuple], golden: pa.Table) -> list[str]:
    """A model head's ``HEAD_COLUMNS`` rows equal its committed golden,
    as multisets."""
    want = zip(*(golden.column(c).to_pylist() for c in HEAD_COLUMNS))
    return _diff(f"head {label}", sorted(got), sorted(want))


def check_stage_histogram(got: dict[str, int],
                          want: dict[str, int]) -> list[str]:
    """Assembly provenance: stage -> doc count equals the ground truth
    of ``fixtures.text_gen.expected_stages``. A stage that drops no
    doc has no provenance row, so zero counts compare as absent."""
    got = {k: v for k, v in got.items() if v}
    want = {k: v for k, v in want.items() if v}
    if got == want:
        return []
    keys = sorted(set(got) | set(want))
    return ["stage histogram: " + ", ".join(
        f"{k} {got.get(k, 0)} want {want.get(k, 0)}"
        for k in keys if got.get(k, 0) != want.get(k, 0))]


def check_same_rows(label: str, got: pa.Table,
                    want: pa.Table) -> list[str]:
    """Multiset equality of two flat outputs (e.g. streamed vs batch)."""
    return _diff(label, flat_rows(got), flat_rows(want))


def closed_sessions(events: pa.Table, gap_s: int = 1800) -> int:
    """Batch twin of the streaming sessionizer: sessions split where a
    user's consecutive events are more than ``gap_s`` apart, counting
    those whose timeout (last event + gap) falls before the final
    watermark (the latest event time)."""
    users = events.column("user_id").to_numpy()
    ts = events.column("ts").cast(pa.int64()).to_numpy() // 1_000_000
    order = np.lexsort((ts, users))
    u, s = users[order], ts[order]
    new = np.r_[True, (u[1:] != u[:-1]) | (s[1:] - s[:-1] > gap_s)]
    last = s[np.r_[new[1:], True]]
    return int(np.sum(last + gap_s < s.max()))


def check_sessions(got: int, events: pa.Table) -> list[str]:
    want = closed_sessions(events)
    return [] if got == want else [f"sessions: {got}, want {want}"]


def check_unchanged(label: str, before, after) -> list[str]:
    return [] if before == after else [f"{label}: sink changed"]
