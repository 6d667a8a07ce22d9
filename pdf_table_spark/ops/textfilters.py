"""Training-corpus filter ops over ``documents(doc_id, text, ...)``.

The classic web-scale pipeline gates, re-expressed as JVM-side column
expressions (published heuristics: Rae et al. 2021 "Scaling Language
Models" App. A (Gopher/MassiveText rules); Raffel et al. 2020 "T5"
§2.2 (C4 line filters)):

  * repetition signals   — duplicate-line / duplicate-n-gram fractions
  * Gopher quality rules — word count, word length, symbol/bullet/
                           ellipsis ratios, alpha-word + stopword gates
  * C4 line filter       — terminal-punctuation + min-words line keep,
                           >=3-sentence / lorem-ipsum / brace doc gate
  * PII redaction        — email / IPv4 / phone regex scrubbing
  * corpus_clean         — the composed gate: exact dedup -> Gopher ->
                           C4 -> PII, with per-doc drop provenance

Scale notes: every per-doc op is a narrow map over the scan (no
shuffle, no Python) — at 100 TB these run at parquet-scan speed with
column pruning. ``corpus_clean`` is ONE scan and exactly ONE shuffle
(the content-hash window for exact dedup); all gates are appended
columns on that pass, and the PII regexes sit inside a ``when`` so
they only evaluate for rows that survived every earlier gate.

Cross-engine float discipline: every signal keeps its intermediate
aggregations integer-valued (char counts, occurrence counts) and does
ONE float division at the end, so Spark and the DuckDB oracle produce
bit-identical doubles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from . import grams

__all__ = [
    "repetition_signals",
    "gopher_quality",
    "c4_line_filter",
    "pii_redact",
    "corpus_clean",
    "c4_span_dedup",
    "GOPHER_STOPWORDS",
    "PII_PATTERNS",
]

# Gopher rule: a doc must contain >= 2 distinct words of this list
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have",
                    "with")

# patterns restricted to syntax Java regex and RE2 (DuckDB) agree on
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ip": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "phone": r"\+?\d[\d() -]{6,}\d",
}

# the published Gopher quality thresholds (Rae et al. 2021 App. A) and
# C4 line rules (Raffel et al. 2020 §2.2) — one copy, shared by
# gopher_quality, c4_line_filter, corpus_clean and the streaming gate.
# Callers may override only min words, min stopword hits and min
# sentences; the constants are those parameters' defaults.
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MAX_SYMBOL_WORD_RATIO = 0.1
GOPHER_MAX_BULLET_LINE_FRAC = 0.9
GOPHER_MAX_ELLIPSIS_LINE_FRAC = 0.3
GOPHER_MIN_ALPHA_WORD_FRAC = 0.8
GOPHER_MIN_STOPWORD_HITS = 2
C4_MIN_LINE_WORDS = 5
C4_MIN_SENTENCES = 3
C4_SPAN_SENTENCES = 3   # span length of the cross-document dedup

_WORDS = grams.tokens(lower=False)


def _lines(line_sep: str) -> str:
    return f"split(text, '{line_sep}')"


# --------------------------------------------------------------------
# repetition signals
# --------------------------------------------------------------------


# the full published repetition-rule family (Rae et al. 2021 App. A1,
# Table A1): a doc passes when EVERY fraction is at or under its
# threshold. Keys are this module's output column names.
GOPHER_REPETITION_THRESHOLDS = {
    "dup_line_frac": 0.30,
    "dup_line_char_frac": 0.20,
    "top_2gram_char_frac": 0.20,
    "top_3gram_char_frac": 0.18,
    "top_4gram_char_frac": 0.16,
    "dup_5gram_char_frac": 0.15,
    "dup_6gram_char_frac": 0.14,
    "dup_7gram_char_frac": 0.13,
    "dup_8gram_char_frac": 0.12,
    "dup_9gram_char_frac": 0.11,
    "dup_10gram_char_frac": 0.10,
}

_TOP_NS = (2, 3, 4)       # single most-frequent n-gram coverage
_DUP_NS = (5, 6, 7, 8, 9, 10)  # all repeated n-grams coverage


def repetition_signals(docs: DataFrame,
                       line_sep: str = "\\n",
                       impl: str = "narrow") -> DataFrame:
    """Per-doc repetition fractions — the FULL Gopher App. A1 rule set
    (published thresholds in ``GOPHER_REPETITION_THRESHOLDS``).

    * ``dup_line_frac``        — lines that repeat an earlier line,
                                 over all lines
    * ``dup_line_char_frac``   — chars of those repeat occurrences,
                                 over chars of all lines
    * ``top_{2,3,4}gram_char_frac`` — chars covered by the single most
                                 frequent word n-gram (count x gram
                                 length, ties broken by gram desc),
                                 over all text chars
    * ``dup_{5..10}gram_char_frac`` — chars covered by word n-grams
                                 that occur more than once (count x
                                 length, overlaps counted per
                                 occurrence — can exceed 1 by
                                 construction), over all text chars
    * ``pass_repetition``      — every fraction at/under its published
                                 threshold

    Two plans, identical results (equality pytest-pinned):

    ``impl='narrow'`` (default) — one narrow projection; the n-gram
    counting is per-doc O(distinct x n) array lambdas in the JVM.
    Fastest for web-page-sized docs (no shuffle at all), but a single
    million-token outlier doc costs O(n²) inside one task.

    ``impl='agg'`` — the 100-TB straggler-proof path: all nine gram
    sets explode through ONE (doc_id, k, gram) groupBy (count), then
    one per-doc aggregate derives every top-gram struct max and
    dup-gram char sum; line metrics stay narrow and join back on
    doc_id. Linear in doc length; the shuffle key includes the gram,
    so a pathological doc spreads over the cluster instead of pinning
    one task.

    All counts are integers; each fraction is one division — the two
    impls (and the DuckDB oracle) produce bit-identical doubles.
    """
    lines = _lines(line_sep)
    n_lines = f"size({lines})"
    dup_lines = f"(size({lines}) - size(array_distinct({lines})))"
    # chars of repeat occurrences: (count-1) * length per distinct line
    dup_line_chars = (
        f"aggregate(array_distinct({lines}), 0L, (a, l) -> a + "
        f"(size(filter({lines}, x -> x = l)) - 1) * length(l))"
    )
    line_chars = f"aggregate({lines}, 0L, (a, l) -> a + length(l))"

    def ngrams(n: int) -> str:
        return grams.windows("ws", n, whole_doc=True)

    # (count, gram) struct max = max count, ties to lexicographically
    # greatest gram — deterministic in both engines
    def top_expr(n: int) -> str:
        return (
            f"array_max(transform(array_distinct(g{n}), g -> "
            f"struct(size(filter(g{n}, x -> x = g)) as c, g as g)))"
        )

    def dup_expr(n: int) -> str:
        return (
            f"aggregate(array_distinct(g{n}), 0L, (a, g) -> a + if("
            f"size(filter(g{n}, x -> x = g)) > 1, "
            f"size(filter(g{n}, x -> x = g)) * length(g), 0L))"
        )

    def pass_col() -> Column:
        cond = None
        for name, thr in GOPHER_REPETITION_THRESHOLDS.items():
            c = F.col(name) <= thr
            cond = c if cond is None else (cond & c)
        return cond.alias("pass_repetition")

    line_cols = [
        F.expr(n_lines).alias("n_lines"),
        F.expr(f"{dup_lines} / greatest({n_lines}, 1)")
        .alias("dup_line_frac"),
        F.expr(f"{dup_line_chars} / greatest({line_chars}, 1L)")
        .alias("dup_line_char_frac"),
    ]
    if impl == "narrow":
        staged = (
            docs.select("doc_id", "text", F.expr(_WORDS).alias("ws"))
            .select("doc_id", "text", "ws",
                    *[F.expr(ngrams(n)).alias(f"g{n}")
                      for n in (*_TOP_NS, *_DUP_NS)])
            .select("doc_id", "text", "ws",
                    *[F.col(f"g{n}") for n in _DUP_NS],
                    *[F.expr(top_expr(n)).alias(f"t{n}")
                      for n in _TOP_NS])
        )
        sig = staged.select(
            "doc_id", *line_cols,
            *[F.expr(
                f"if(size(ws) < {n}, cast(0.0 as double), "
                f"t{n}.c * length(t{n}.g) / greatest(length(text), 1))"
            ).alias(f"top_{n}gram_char_frac") for n in _TOP_NS],
            *[F.expr(
                f"if(size(ws) < {n}, cast(0.0 as double), "
                f"{dup_expr(n)} / greatest(length(text), 1))"
            ).alias(f"dup_{n}gram_char_frac") for n in _DUP_NS],
        )
        return sig.select("*", pass_col())
    if impl != "agg":
        raise ValueError(f"unknown impl {impl!r}; one of 'narrow', 'agg'")

    # the shuffle path: identical gram GENERATION (the exprs above),
    # distributed COUNTING. One explode carries every gram size tagged
    # by k, so there is one gram shuffle + one per-doc aggregate.
    metrics = docs.select(
        "doc_id", *line_cols,
        F.expr(f"size({_WORDS})").alias("n_ws"),
        F.length("text").alias("text_len"),
    )
    tagged_arr = "concat(" + ", ".join(
        f"transform({ngrams(n)}, g -> struct({n} as k, g as g))"
        for n in (*_TOP_NS, *_DUP_NS)) + ")"
    tagged = (
        docs.select("doc_id", F.expr(_WORDS).alias("ws"))
        .select("doc_id", F.explode(F.expr(tagged_arr)).alias("tg"))
        .select("doc_id", F.col("tg.k").alias("k"),
                F.col("tg.g").alias("g"))
    )
    counts = tagged.groupBy("doc_id", "k", "g").agg(
        F.count("*").alias("c"))
    peragg = counts.groupBy("doc_id").agg(
        *[F.max(F.when(F.col("k") == n,
                       F.struct(F.col("c").alias("c"),
                                F.col("g").alias("g"))))
          .alias(f"t{n}") for n in _TOP_NS],
        *[F.sum(F.when((F.col("k") == n) & (F.col("c") > 1),
                       F.col("c") * F.length("g"))
                .otherwise(F.lit(0).cast("long")))
          .alias(f"dup{n}_chars") for n in _DUP_NS],
    )
    sig = metrics.join(peragg, "doc_id").select(
        "doc_id", "n_lines", "dup_line_frac", "dup_line_char_frac",
        *[F.expr(
            f"if(n_ws < {n}, cast(0.0 as double), "
            f"t{n}.c * length(t{n}.g) / greatest(text_len, 1))"
        ).alias(f"top_{n}gram_char_frac") for n in _TOP_NS],
        *[F.expr(
            f"if(n_ws < {n}, cast(0.0 as double), "
            f"dup{n}_chars / greatest(text_len, 1))"
        ).alias(f"dup_{n}gram_char_frac") for n in _DUP_NS],
    )
    return sig.select("*", pass_col())


# --------------------------------------------------------------------
# Gopher quality rules
# --------------------------------------------------------------------


def _with_gopher(df: DataFrame,
                 min_words: int = GOPHER_MIN_WORDS,
                 max_words: int = GOPHER_MAX_WORDS,
                 min_mean_word_len: float = GOPHER_MIN_MEAN_WORD_LEN,
                 max_mean_word_len: float = GOPHER_MAX_MEAN_WORD_LEN,
                 max_symbol_word_ratio: float = GOPHER_MAX_SYMBOL_WORD_RATIO,
                 max_bullet_line_frac: float = GOPHER_MAX_BULLET_LINE_FRAC,
                 max_ellipsis_line_frac: float = GOPHER_MAX_ELLIPSIS_LINE_FRAC,
                 min_alpha_word_frac: float = GOPHER_MIN_ALPHA_WORD_FRAC,
                 min_stopword_hits: int = GOPHER_MIN_STOPWORD_HITS,
                 line_sep: str = "\\n") -> DataFrame:
    """Append the Gopher signal + ``pass_gopher`` columns (needs a
    ``text`` column; preserves every existing column). Every threshold
    defaults to its published value."""
    lines = _lines(line_sep)
    n_words = f"size({_WORDS})"
    word_chars = f"aggregate({_WORDS}, 0L, (a, w) -> a + length(w))"
    # '#' count + '...' count + unicode-ellipsis count (replace-based,
    # non-overlapping leftmost — identical in Java and RE2 engines)
    symbols = (
        "(length(text) - length(replace(text, '#', ''))) + "
        "(length(text) - length(replace(text, '...', ''))) div 3 + "
        "(length(text) - length(replace(text, '…', '')))"
    )
    bullet_lines = (
        f"size(filter({lines}, l -> "
        "startswith(ltrim(l), '- ') or startswith(ltrim(l), '* ') "
        "or startswith(ltrim(l), '•')))"
    )
    ellipsis_lines = (
        f"size(filter({lines}, l -> "
        "endswith(rtrim(l), '...') or endswith(rtrim(l), '…')))"
    )
    alpha_words = f"size(filter({_WORDS}, w -> w rlike '[A-Za-z]'))"
    stop_arr = ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS)
    stop_hits = (
        f"size(array_intersect(array_distinct({grams.tokens()}),"
        f" array({stop_arr})))"
    )
    df = df.withColumns({
        "n_words": F.expr(n_words),
        "mean_word_len": F.expr(
            f"{word_chars} / greatest({n_words}, 1)"),
        "symbol_word_ratio": F.expr(
            f"({symbols}) / greatest({n_words}, 1)"),
        "bullet_line_frac": F.expr(
            f"{bullet_lines} / greatest(size({lines}), 1)"),
        "ellipsis_line_frac": F.expr(
            f"{ellipsis_lines} / greatest(size({lines}), 1)"),
        "alpha_word_frac": F.expr(
            f"{alpha_words} / greatest({n_words}, 1)"),
        "stopword_hits": F.expr(stop_hits),
    })
    return df.withColumn(
        "pass_gopher",
        (F.col("n_words") >= min_words)
        & (F.col("n_words") <= max_words)
        & (F.col("mean_word_len") >= min_mean_word_len)
        & (F.col("mean_word_len") <= max_mean_word_len)
        & (F.col("symbol_word_ratio") <= max_symbol_word_ratio)
        & (F.col("bullet_line_frac") <= max_bullet_line_frac)
        & (F.col("ellipsis_line_frac") <= max_ellipsis_line_frac)
        & (F.col("alpha_word_frac") >= min_alpha_word_frac)
        & (F.col("stopword_hits") >= min_stopword_hits),
    )


def gopher_quality(docs: DataFrame,
                   min_words: int = GOPHER_MIN_WORDS,
                   min_stopword_hits: int = GOPHER_MIN_STOPWORD_HITS
                   ) -> DataFrame:
    """Gopher / MassiveText document quality rules (Rae et al. 2021
    App. A): each signal as a column plus the conjunction
    ``pass_gopher``. The thresholds are the published values (the
    ``GOPHER_*`` constants); ``min_words`` and ``min_stopword_hits``
    default to theirs.

    Narrow map, integer counts, one division per ratio.
    """
    return _with_gopher(docs.select("doc_id", "text"), min_words,
                        min_stopword_hits=min_stopword_hits).drop("text")


# --------------------------------------------------------------------
# C4 line filter
# --------------------------------------------------------------------


def _with_c4(df: DataFrame,
             min_line_words: int = C4_MIN_LINE_WORDS,
             min_sentences: int = C4_MIN_SENTENCES,
             line_sep: str = "\\n") -> DataFrame:
    """Append ``clean_text``, ``n_lines_kept``, ``n_sentences``,
    ``has_lorem``, ``has_brace``, ``keep_c4`` (needs ``text``)."""
    lines = _lines(line_sep)
    # C4 line rules (Raffel et al. 2020 §2.2): terminal punctuation,
    # minimum words, and no line containing the word 'javascript'
    kept = (
        f"filter({lines}, l -> ("
        "endswith(rtrim(l), '.') or endswith(rtrim(l), '!') or "
        "endswith(rtrim(l), '?') or endswith(rtrim(l), '\"')) and "
        f"size(filter(split(l, '\\\\s+'), w -> w <> ''))"
        f" >= {min_line_words} "
        "and not contains(lower(l), 'javascript'))"
    )
    n_sentences = (
        "(length(clean_text) - length(replace(clean_text, '.', '')))"
        " + "
        "(length(clean_text) - length(replace(clean_text, '!', '')))"
        " + "
        "(length(clean_text) - length(replace(clean_text, '?', '')))"
    )
    return (
        df.withColumn("_kl", F.expr(kept))
        .withColumns({
            "clean_text": F.expr("array_join(_kl, '\\n')"),
            "n_lines_kept": F.size("_kl"),
        })
        .drop("_kl")
        .withColumns({
            "n_sentences": F.expr(n_sentences),
            "has_lorem": F.expr(
                "contains(lower(text), 'lorem ipsum')"),
            "has_brace": F.expr("contains(text, '{')"),
        })
        .withColumn(
            "keep_c4",
            (F.col("n_sentences") >= min_sentences)
            & ~F.col("has_lorem") & ~F.col("has_brace"))
    )


def c4_line_filter(docs: DataFrame) -> DataFrame:
    """C4's line-level clean + document gate (Raffel et al. 2020
    §2.2): keep lines that end in terminal punctuation ('.', '!',
    '?', '\"') and have >= ``C4_MIN_LINE_WORDS`` words; keep the doc
    when the cleaned text still has >= ``C4_MIN_SENTENCES`` sentence
    enders and contains neither 'lorem ipsum' nor '{'.

    Returns doc_id, clean_text (kept lines re-joined), n_lines_kept,
    n_sentences, has_lorem, has_brace, keep_c4. Narrow map.
    """
    return _with_c4(docs.select("doc_id", "text")).drop("text")


# --------------------------------------------------------------------
# PII redaction
# --------------------------------------------------------------------


def _redact_col(t: Column) -> Column:
    """emails -> [EMAIL], then IPv4 -> [IP], then phone-like digit
    runs -> [PHONE] (emails first so their digits never feed the
    phone pattern; IPs contain dots the phone class excludes)."""
    return F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, PII_PATTERNS["email"], "[EMAIL]"),
            PII_PATTERNS["ip"], "[IP]"),
        PII_PATTERNS["phone"], "[PHONE]")


def pii_redact(docs: DataFrame) -> DataFrame:
    """Regex PII scrub over ``text``; counts are measured per
    pattern on the ORIGINAL text. Patterns restricted to the
    Java-regex/RE2 common subset so the DuckDB oracle matches
    byte-for-byte. Narrow map.
    """
    t = F.col("text")
    return docs.select(
        "doc_id",
        F.regexp_count(t, F.lit(PII_PATTERNS["email"]))
        .alias("n_emails"),
        F.regexp_count(t, F.lit(PII_PATTERNS["ip"])).alias("n_ips"),
        F.regexp_count(t, F.lit(PII_PATTERNS["phone"]))
        .alias("n_phones"),
        _redact_col(t).alias("redacted"),
    )


# --------------------------------------------------------------------
# the composed gate
# --------------------------------------------------------------------


def corpus_clean(docs: DataFrame,
                 min_words: int = GOPHER_MIN_WORDS,
                 min_sentences: int = C4_MIN_SENTENCES,
                 min_stopword_hits: int = GOPHER_MIN_STOPWORD_HITS,
                 line_sep: str = "\\n") -> DataFrame:
    """The composed training-corpus gate — the op a 100 TB ingest
    actually runs:

      1. exact dedup   — md5(text) content key, min doc_id survives
      2. Gopher rules  — published thresholds (word count and
                         stopword hits overridable)
      3. C4 line gate  — cleaned text must keep >= min_sentences
                         (the whole stage, lorem/brace included, is
                         skipped when min_sentences <= 0)
      4. PII redaction — survivors only (the regexes sit inside the
                         ``when``, so they evaluate just for rows
                         every earlier gate passed)

    Returns one row per input doc: (doc_id, stage, kept, clean_fp)
    where stage is the first gate that dropped it ('dup', 'gopher',
    'c4') or 'kept', and clean_fp is md5 of the redacted clean text
    for survivors (null otherwise) — a stable content receipt.

    The full repetition rule set (``repetition_signals`` /
    ``pass_repetition``) is deliberately NOT composed here: the
    published top-n-gram coverage thresholds assume web-scale document
    lengths (a single occurrence in a short doc already exceeds 20%
    coverage), so at real scale chain it explicitly AFTER the word
    count gate: ``clean.join(repetition_signals(docs).filter(
    'pass_repetition'), 'doc_id')``.

    Scale: ONE scan, exactly ONE shuffle (the md5-key window for
    dedup); every gate is an appended column on that pass. At 10^12
    docs the window key is a 32-byte content hash — uniform,
    skew-free.
    """
    w = Window.partitionBy("fp").orderBy("doc_id")
    staged = (
        docs.select("doc_id", "text", F.md5("text").alias("fp"))
        .withColumn("rn", F.row_number().over(w))
    )
    staged = _with_gopher(staged, min_words,
                          min_stopword_hits=min_stopword_hits,
                          line_sep=line_sep)
    if min_sentences > 0:
        staged = _with_c4(staged, min_sentences=min_sentences,
                          line_sep=line_sep)
    else:
        # C4 stage OFF entirely (including the lorem/brace sub-gates):
        # the clean text is the input text and no doc can land in the
        # 'c4' stage — callers composing over corpora without sentence
        # structure (e.g. assemble_training_set(min_sentences=0)) get
        # exactly the gate set their oracle mirrors
        staged = staged.withColumns({
            "clean_text": F.col("text"),
            "keep_c4": F.lit(True),
        })
    stage = (
        F.when(F.col("rn") > 1, F.lit("dup"))
        .when(~F.col("pass_gopher"), F.lit("gopher"))
        .when(~F.col("keep_c4"), F.lit("c4"))
        .otherwise(F.lit("kept"))
    )
    return staged.select(
        "doc_id",
        stage.alias("stage"),
        (stage == "kept").alias("kept"),
        F.when(stage == "kept",
               F.md5(_redact_col(F.col("clean_text"))))
        .alias("clean_fp"),
    )


# --------------------------------------------------------------------
# C4 three-sentence span dedup (cross-document)
# --------------------------------------------------------------------


def c4_span_dedup(docs: DataFrame) -> DataFrame:
    """C4's corpus-level span dedup (Raffel et al. 2020 §2.2):
    "discard all but one of any three-sentence span of text occurring
    more than once".

    Sentences are the non-empty trimmed segments split on ``[.!?]``
    (the RE2/Java-regex common subset — no lookbehind, so both engines
    segment identically). Every ``C4_SPAN_SENTENCES``-sentence
    sliding span is hashed; the canonical occurrence of a repeated
    span is the smallest (doc_id, start_idx); every sentence covered
    by a NON-canonical repeated span is dropped from its doc.

    Returns (doc_id, n_sentences, n_dropped, clean_text) with
    clean_text = surviving sentences in order, joined by ' '.

    Scale shape: window spans O(corpus) keyed by an md5 span hash
    (uniform, skew-free), one groupBy for the canonical pick + the
    join back, one keyed groupBy collecting each doc's drop-index
    set, then ONE JVM projection over a left join applies the drops —
    the sorted drop indexes split the sentence array into gap slices
    whose concatenation is the clean text, O(n_sentences + |drops|)
    per doc (the ExactSubstr gap-slice shape; the previous
    sentence-explode → anti-join → collect_list → re-join chain spent
    four more exchanges rebuilding per-doc order that the sentence
    array already had). Never all-pairs.
    """
    ss = docs.select(
        "doc_id",
        F.expr(
            "filter(transform(split(text, '[.!?]'), s -> trim(s)),"
            " s -> s <> '')").alias("ss"))
    spans = grams.gram_rows(ss, "ss", C4_SPAN_SENTENCES, "md5", form="hex",
                            start=True, out="h")
    dup_occurrences = (
        spans.groupBy("h").agg(
            F.count("*").alias("n"),
            F.min(F.struct("doc_id", "start")).alias("canon"))
        .filter(F.col("n") > 1)
        .join(spans, "h")
        .filter((F.col("doc_id") != F.col("canon.doc_id"))
                | (F.col("start") != F.col("canon.start")))
    )
    drops = (
        dup_occurrences.select(
            "doc_id", F.explode(F.expr(
                f"sequence(start, start + {C4_SPAN_SENTENCES - 1})"))
            .alias("idx"))
        .distinct()
        .groupBy("doc_id").agg(F.collect_set("idx").alias("drop_idx"))
    )
    gaps = (
        "transform(sequence(1, size(cs) + 1), j -> "
        "slice(ss, "
        "if(j = 1, 1, element_at(cs, j - 1) + 2), "
        "greatest(if(j = size(cs) + 1, size(ss), element_at(cs, j)) "
        "- if(j = 1, 0, element_at(cs, j - 1) + 1), 0)))"
    )
    return (
        ss.join(drops, "doc_id", "left")
        .select("doc_id", "ss", F.expr(
            "array_sort(coalesce(drop_idx, cast(array() as array<int>)))"
        ).alias("cs"))
        .select(
            "doc_id",
            F.size("ss").cast("long").alias("n_sentences"),
            F.size("cs").cast("long").alias("n_dropped"),
            F.expr(f"concat_ws(' ', flatten({gaps}))")
            .alias("clean_text"),
        )
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination (GPT-3 style n-gram overlap)
# ---------------------------------------------------------------------------

def _ngram_hash_rows(docs: DataFrame, n: int,
                     hash_fn: str = "md5") -> DataFrame:
    """Distinct hashes of every lowercase whitespace-token n-gram per
    doc (one row per (doc_id, gram); docs shorter than n tokens
    contribute none).

    ``hash_fn``: 'md5' (32-char string, DuckDB-replicable — the oracle
    contract) or 'xxhash64' (8-byte bigint — the production path: the
    corpus gram side is n_docs x n_grams rows, and the narrow key
    shrinks both the shuffle and the broadcast set ~6x). Contamination
    is an equality test on grams, so any injective-enough hash yields
    the same flagged set."""
    return grams.gram_rows(grams.tokenized(docs), "tk", n, hash_fn,
                           form="hex", distinct=True)


def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                  n: int = 13, broadcast_bench: bool | None = None,
                  broadcast_limit: int | None = None,
                  hash_fn: str = "md5") -> dict:
    """Benchmark decontamination a la GPT-3 (Brown et al. 2020,
    App. C): flag every training document that shares at least one
    token ``n``-gram (default 13) with the benchmark/eval set, so eval
    answers can't leak into training data.

    Both sides reduce to distinct md5 n-gram hashes — the join runs on
    32-byte uniform keys (skew-free), NEVER on text. With
    ``broadcast_bench`` True the benchmark gram set is broadcast: eval
    suites are small next to a training corpus, so the corpus-side
    scan never shuffles. False degrades to a shuffled semi-join on the
    same uniform keys — the safe shape when the bench side outgrows
    executor memory. The default (None) decides automatically: one
    count over the (small) bench gram side, broadcast iff it holds at
    most ``broadcast_limit`` distinct grams — the corpus side is never
    scanned to decide. ``broadcast_limit`` defaults by key width
    (None -> 5M md5-string grams / 30M bigint grams, ~250 MB of
    broadcast either way): the flip guards executor memory, so the
    limit is a byte budget, not a row count.

    ``hash_fn``: 'md5' grams (DuckDB-replicable, the oracle contract)
    or 'xxhash64' (production: 8-byte keys instead of 32-char strings;
    same flagged set — contamination is a gram-equality test).

    Returns {"contaminated": (doc_id, n_hits) — distinct shared grams
    per flagged doc, "keep": doc_ids of clean corpus docs}.
    """
    if broadcast_limit is None:
        broadcast_limit = 30_000_000 if hash_fn == "xxhash64" else 5_000_000
    bench = (_ngram_hash_rows(benchmark, n, hash_fn=hash_fn)
             .select("g").distinct())
    if broadcast_bench is None:
        broadcast_bench = bench.count() <= broadcast_limit
    if broadcast_bench:
        bench = F.broadcast(bench)
    hits = (_ngram_hash_rows(corpus, n, hash_fn=hash_fn)
            .join(bench, "g")
            .groupBy("doc_id").agg(F.count("*").alias("n_hits")))
    keep = (corpus.join(hits.select("doc_id"), "doc_id", "left_anti")
            .select("doc_id"))
    return {"contaminated": hits, "keep": keep}
