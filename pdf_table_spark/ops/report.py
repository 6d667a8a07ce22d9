"""Dataset datasheet — the summary artifact a training-set assembly
run ships with its output (counts per pipeline stage, per source, per
split; token mass; dedup/contamination rates). Follows the "Datasheets
for Datasets" practice (Gebru et al. 2021, arXiv:1803.09010) reduced
to the quantitative section a loader/auditor consumes.

Everything is computed as a handful of small aggregations over the
frames `assemble_training_set` already returns — no extra corpus
passes beyond one token count over the KEPT docs (narrow; skipped when
``docs`` is None). All outputs are exact counts, not samples."""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import grams

_TOKENS = f"size({grams.tokens()})"


def dataset_card(provenance: DataFrame, assembled: DataFrame,
                 docs: DataFrame | None = None) -> dict:
    """{"stages": {stage: docs}, "kept_frac", "sources": {source:
    rows}, "splits": {split: rows}, "epoch_rows", "kept_docs",
    "kept_tokens" (when ``docs`` given)} — exact, driver-side (every
    aggregate is a ≤cardinality(stage|source|split)-row collect)."""
    stages = {r.stage: r.n for r in provenance.groupBy("stage")
              .agg(F.count("*").alias("n")).collect()}
    total = sum(stages.values())
    card = {
        "stages": dict(sorted(stages.items())),
        "total_docs": total,
        "kept_docs": stages.get("kept", 0),
        "kept_frac": round(stages.get("kept", 0) / total, 6)
        if total else 0.0,
    }
    src_col = [c for c in assembled.columns
               if c not in ("doc_id", "copy", "split")]
    agg = (assembled.groupBy(*src_col[:1]).agg(F.count("*").alias("n"))
           .collect())
    card["sources"] = dict(sorted((r[0], r.n) for r in agg))
    card["splits"] = dict(sorted(
        (r.split, r.n) for r in assembled.groupBy("split")
        .agg(F.count("*").alias("n")).collect()))
    card["epoch_rows"] = sum(card["splits"].values())
    if docs is not None:
        kept = provenance.filter("kept").select("doc_id")
        card["kept_tokens"] = (
            docs.join(kept, "doc_id")
            .agg(F.sum(F.expr(_TOKENS)).alias("t")).first().t or 0)
    return card


def write_dataset_card(card: dict, path: str) -> str:
    """One JSON file next to the assembled table (local or any
    fsspec-less path a driver can open)."""
    with open(path, "w") as f:
        json.dump(card, f, indent=1, sort_keys=True)
    return path
