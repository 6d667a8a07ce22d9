"""Text-analysis ops over a plain ``documents(doc_id, text, ...)`` table.

All JVM-side (built-in functions; no Python in the hot path):
  * token counting      — whitespace split (+ a BPE-ish subword count)
  * quality scoring     — length / punctuation / stopword / repetition
  * language ID         — stopword-hit n-gram heuristic
  * document fingerprint— md5 of the normalized token stream

Scale notes: every op is a narrow map over the scan (no shuffle); the
expressions push column pruning down to the parquet reader — at 100 TB
these run at scan speed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import grams

# language-ID profiles as DATA: per-language stopword lists (78
# whitespace-tokenized languages) and ranked ASCII letter-trigram
# profiles (40 Latin-script languages) live in lang_profiles.json —
# swapping in corpus-derived profiles is a data change, not a code
# change. CJK (ch/chinese_cht/japan/korean) is resolved by the
# script-range tier below, not by profile data.
import json as _json
import os as _os

with open(_os.path.join(_os.path.dirname(_os.path.abspath(__file__)),
                        "lang_profiles.json")) as _f:
    _PROFILES = _json.load(_f)
LANG_STOPWORDS = _PROFILES["stopwords"]
LANG_TRIGRAM_PROFILES = _PROFILES["trigrams"]

_TOKENS = grams.tokens(lower=False)

# CJK script ranges for the lang_id script tier (ch / chinese_cht /
# japan / korean are not whitespace-tokenized, so stopword lists can't
# see them; character-class counts can). Literal-codepoint ranges so
# the same pattern string works verbatim in Java regex (Spark) and RE2
# (the DuckDB oracle). Kana includes the half-width forms (common in
# OCR output); Han includes Extension A.
KANA_RANGE = "぀-ヿｦ-ﾝ"
HANGUL_RANGE = "ᄀ-ᇿ㄰-㆏가-힣"
HAN_RANGE = "㐀-䶿一-鿿"
# 23 unambiguous simplified/traditional codepoint pairs: the probe
# that splits 'ch' from 'chinese_cht' once Han is the winning script.
SIMP_ONLY_CHARS = "国学说对时实发经会这来为样点现业动电头难马风龙"
TRAD_ONLY_CHARS = "國學說對時實發經會這來為樣點現業動電頭難馬風龍"


def cjk_gate_expr(matcher: str = "text rlike '[{cls}]'") -> str:
    """ONE cheap existence scan over the union CJK class — the gate
    for the five counting scans. Stage it as its own column so it's
    evaluated once per doc, not once per count (no cross-column CSE in
    either engine); a pure-Latin doc (the overwhelming web-scale
    common case) then pays a single automaton pass and never
    materializes the five stripped copies. A no-CJK doc's real counts
    are all zero anyway, so the gate is exactly equivalent."""
    return matcher.format(cls=KANA_RANGE + HANGUL_RANGE + HAN_RANGE)


def cjk_count_exprs(global_flag: str = "") -> dict[str, str]:
    """SQL count-of-chars-in-class expressions shared by the Spark
    query and the DuckDB oracle (identical literal-codepoint character
    classes; DuckDB needs the ``'g'`` regexp_replace flag, Spark's is
    global already — pass ``global_flag=", 'g'"`` for DuckDB). Each
    counts only where the staged boolean column ``_cjk`` (from
    :func:`cjk_gate_expr`) holds."""
    def cnt(cls: str) -> str:
        return (f"case when _cjk then "
                f"length(regexp_replace(text, '[^{cls}]', ''"
                f"{global_flag})) else 0 end")
    return {
        "n_kana": cnt(KANA_RANGE),
        "n_hangul": cnt(HANGUL_RANGE),
        "n_han": cnt(HAN_RANGE),
        "n_trad": cnt(TRAD_ONLY_CHARS),
        "n_simp": cnt(SIMP_ONLY_CHARS),
    }


def token_stats(docs: DataFrame) -> DataFrame:
    """Tokens, distinct tokens, chars, mean token length, and a BPE-ish
    subword-unit estimate (tokens + extra units for long words: a word
    of length L costs ceil(L/4) units, the classic ~4-chars/token
    heuristic)."""
    toks = F.expr(_TOKENS)
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.length("text").alias("n_chars_seen"),
        F.round(
            F.expr(
                f"aggregate({_TOKENS}, 0L, (a, t) -> a + length(t))"
                f" / greatest(size({_TOKENS}), 1)"), 4
        ).alias("mean_token_len"),
        F.expr(
            f"aggregate({_TOKENS}, 0L,"
            f" (a, t) -> a + cast(ceil(length(t) / 4.0) as bigint))"
        ).alias("n_subword_units"),
    )


def quality_score(docs: DataFrame) -> DataFrame:
    """Heuristic quality features + a composite score in [0, 1]:
    penalize very short docs, high punctuation density, low lexical
    diversity, and heavy single-token repetition."""
    toks = F.expr(_TOKENS)
    n_tok = F.size(toks)
    punct = F.length(F.regexp_replace("text", "[^!-/:-@\\[-`{-~]", ""))
    diversity = F.size(F.array_distinct(toks)) / F.greatest(n_tok, F.lit(1))
    length_ok = F.least(n_tok / F.lit(20.0), F.lit(1.0))
    punct_ratio = punct / F.greatest(F.length("text"), F.lit(1))
    return docs.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.round(punct_ratio, 4).alias("punct_ratio"),
        F.round(diversity, 4).alias("lexical_diversity"),
        F.round(
            length_ok * (1 - punct_ratio) * (0.5 + diversity / 2), 4
        ).alias("quality"),
    )


def lang_id(docs: DataFrame) -> DataFrame:
    """Two-tier language ID covering the reference's full
    docs/language.md surface (82 languages; reference
    ``/root/reference/docs/language.md:3-40``):

    * stopword tier — hit counts over the 78 data-file profiles
      (whitespace-tokenized scripts: Latin, Cyrillic, Arabic,
      Devanagari, Tamil, Telugu); winner by (score desc, lang asc).
    * CJK script tier — ch / chinese_cht / japan / korean have no
      whitespace tokens, so they're resolved by character-class
      counts: the tier wins when the doc's CJK char count exceeds the
      best stopword score, then kana ⇒ japan (kana is unique to
      Japanese; Han-majority Japanese text still carries it), else
      hangul ⇒ korean, else the 23-pair traditional/simplified probe
      splits chinese_cht from ch.

    'und' when both tiers score zero. Emits (pred_lang, top_score,
    margin): on the stopword tier score = hits and margin = winner −
    runner-up; on the CJK tier score = total CJK chars and margin =
    that total minus the best stopword score (how decisively the
    script tier won). Schema is profile-count-independent. Narrow
    map — five character-class counts plus one constant-map token
    pass per doc."""
    toks = grams.tokens()
    langs = sorted(LANG_STOPWORDS)
    # ONE interpreted pass per doc, not one per language: a constant
    # token -> matched-language-index array map (compact — stopword
    # lists overlap only a little, so values average ~1 index), folded
    # once by Catalyst. Non-stopword tokens cost a single hash probe.
    # Scoring then touches only the PRESENT languages: flatten the
    # matched indices, sort, run-length encode — O(hits log hits) per
    # doc, independent of the 78-profile width. (The earlier shape — a
    # 78-slot indicator array per vocab entry + a 78-wide zip_with per
    # hit — built a ~62k-literal expression tree / 1.3 MiB task binary
    # and cost +0.6 s at sf0.1.) Hit counts are bit-identical: every
    # token occurrence still scores every list it appears in, and
    # absent languages score 0 exactly as before.
    vocab: dict[str, list[int]] = {}
    for li, lang in enumerate(langs, start=1):
        for w in LANG_STOPWORDS[lang]:
            vocab.setdefault(w, []).append(li)
    entries = ", ".join(
        f"'{w}', array({', '.join(map(str, sorted(v)))})"
        for w, v in sorted(vocab.items()))
    names = ", ".join(f"'{la}'" for la in langs)
    matched = (f"flatten(transform({toks}, "
               f"t -> coalesce(try_element_at(_m, t), "
               f"cast(array() as array<int>))))")
    # run starts in the sorted index array; run length = gap to the
    # next start. runs = (−count, lang) structs sorted ascending ==
    # (count desc, lang asc): [1] = winner, [2] = runner-up (absent ⇒
    # score 0, same as the old all-languages ranking).
    starts = ("if(size(st) = 0, array(), "
              "filter(sequence(1, size(st)), i -> i = 1 or "
              "element_at(st, i) != element_at(st, i - 1)))")
    runs = (
        f"if(size(st) = 0, "
        f"cast(array() as array<struct<neg: bigint, lang: string>>), "
        f"array_sort(transform(sequence(1, size(starts)), j -> "
        f"struct(cast(-(if(j = size(starts), size(st) + 1, "
        f"element_at(starts, j + 1)) - element_at(starts, j)) "
        f"as bigint) as neg, "
        f"element_at(_names, element_at(st, element_at(starts, j))) "
        f"as lang))))")
    cjk = cjk_count_exprs()
    scored = (
        docs.select("doc_id", F.expr(f"map({entries})").alias("_m"),
                    F.col("text"))
        .select("doc_id", "text", F.expr(f"array_sort({matched})").alias("st"),
                F.expr(cjk_gate_expr()).alias("_cjk"))
        .select("doc_id", "st",
                *[F.expr(e).alias(n) for n, e in cjk.items()])
        .select("doc_id", "n_kana", "n_hangul", "n_han", "n_trad",
                "n_simp", "st", F.expr(starts).alias("starts"),
                F.expr(f"array({names})").alias("_names"))
        .select("doc_id", "n_kana", "n_hangul", "n_han", "n_trad",
                "n_simp", F.expr(runs).alias("runs")))
    g = "coalesce(-try_element_at(runs, 1).neg, 0L)"
    runner = "coalesce(-try_element_at(runs, 2).neg, 0L)"
    cjk_total = "(n_kana + n_hangul + n_han)"
    cjk_lang = ("case when n_kana > 0 then 'japan' "
                "when n_hangul > 0 then 'korean' "
                "when n_trad > n_simp then 'chinese_cht' "
                "else 'ch' end")
    return scored.select(
        "doc_id",
        F.expr(
            f"case when {cjk_total} > {g} then {cjk_lang} "
            f"when {g} = 0 then 'und' "
            f"else element_at(runs, 1).lang end"
        ).alias("pred_lang"),
        F.expr(f"cast(case when {cjk_total} > {g} then {cjk_total} "
               f"else {g} end as bigint)")
        .alias("top_score"),
        F.expr(f"cast(case when {cjk_total} > {g} "
               f"then {cjk_total} - {g} "
               f"else {g} - {runner} end as bigint)")
        .alias("margin"),
    )


def fingerprint(docs: DataFrame) -> DataFrame:
    """Deterministic document fingerprint: md5 over the space-joined
    lowercase token stream (normalization-stable content hash)."""
    return docs.select(
        "doc_id",
        F.expr(f"md5(array_join({grams.tokens()}, ' '))")
        .alias("fingerprint"),
    )


# winnowing: char k-gram length and window width (k-grams per window)
WINNOW_K = 8
WINNOW_W = 4


def winnow_fingerprints(docs: DataFrame) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al.'s local
    algorithm, the rolling-hash dedup classic): hash every char k-gram
    (k = ``WINNOW_K``) of the whitespace-normalized text, keep the
    minimum hash of each window of w = ``WINNOW_W`` consecutive
    k-grams, distinct per doc. Guarantee: two docs sharing a substring
    of >= k+w-1 chars share a fingerprint.

    All JVM array expressions — grams via substring (O(n·k) hashing; a
    true rolling recurrence only changes the constant, not the plan).
    Returns a per-doc multiset summary (count / min / max / bit_xor of
    the fingerprint set) so the result stays one row per doc at any
    scale; use ``winnow_fingerprint_rows`` for the exploded set.
    """
    rows = winnow_fingerprint_rows(docs)
    return (
        rows.groupBy("doc_id")
        .agg(F.count("*").alias("n_fps"),
             F.min("fp").alias("min_fp"),
             F.max("fp").alias("max_fp"),
             F.expr("bit_xor(fp)").alias("xor_fp"))
    )


def winnow_fingerprint_rows(docs: DataFrame,
                            hash_fn: str = "md5") -> DataFrame:
    """(doc_id, fp) — the distinct winnowing fingerprints themselves
    (the join key layout for fingerprint-overlap dedup).

    ``hash_fn``: the winnowing guarantee holds for ANY deterministic
    k-gram hash, so production uses ``'xxhash64'`` (one native JVM hash
    per gram); ``'md5'`` (default) is the ORACLE CONTRACT — DuckDB has
    no xxhash64, so the driver-checked query pays md5 + hex-string
    conversion per gram purely for cross-engine comparability. The cost
    is per-gram CPU only; the plan is identical.
    """
    norm = "regexp_replace(lower(text), '\\\\s+', ' ')"
    k, w = WINNOW_K, WINNOW_W
    h = grams.hash_sql(hash_fn, f"substring(t, i, {k})")
    expr = f"""
        array_distinct(transform(
          sequence(1, greatest(size(hs) - {w - 1}, 1)),
          i -> array_min(slice(hs, i, {w}))))
    """
    return (
        docs.select("doc_id", F.expr(norm).alias("t"))
        .select("doc_id", F.expr(
            f"transform(sequence(1, greatest(length(t) - {k - 1}, 1)),"
            f" i -> {h})").alias("hs"))
        .select("doc_id", F.explode(F.expr(expr)).alias("fp"))
    )


# Cavnar-Trenkle (1994) out-of-place profiles: tiny ORDERED char-
# trigram profiles per language (hand-derived from each language's
# most frequent words; rank order is the signal). Deterministic
# literals so the DuckDB oracle embeds identical values.
OOP_MAX = 20  # out-of-place penalty for grams absent from a profile
TOP_N = 20    # doc trigrams scored against the profiles


def lang_id_ngram(docs: DataFrame) -> DataFrame:
    """Character-n-gram language ID (Cavnar-Trenkle out-of-place):
    rank the doc's letter trigrams by (count desc, gram asc), keep the
    top ``TOP_N``, and score each language profile by the summed
    rank displacement (absent grams cost ``OOP_MAX``). Winner = min
    (score, language); 'und' when the doc has no letter trigrams.

    Narrow map; the trigram counting is sort + run-length encoding —
    O(n log n) per doc instead of the naive O(distinct x n) lambda
    scan (higher-order functions evaluate interpreted, so the
    quadratic form measured 7 s at sf0.1 vs ~1 s for this one; the
    produced (count, gram) set is identical, so the oracle needs no
    structural mirror). Integer scores so values match exactly."""
    # ONE regex pass per doc (non-letter runs → single space,
    # materialized as a column so the lambda never re-evaluates it),
    # then a cheap per-gram space check — the letter-only trigram
    # multiset is identical to filtering each raw window with
    # '^[a-z]{3}$', but avoids ~n interpreted regex evals per doc
    txt = "regexp_replace(lower(text), '[^a-z]+', ' ')"
    tri = ("filter(transform(sequence(1, greatest(length(t) - 2, 1)),"
           " i -> substring(t, i, 3)),"
           " g -> length(g) = 3 and not contains(g, ' '))")
    # run starts in the sorted gram array; run length = gap to the
    # next start (sequence(1, 0) would generate a DESCENDING [1, 0] in
    # Spark, hence the empty-array guards)
    starts = ("if(size(st) = 0, array(), "
              "filter(sequence(1, size(st)), i -> i = 1 or "
              "element_at(st, i) != element_at(st, i - 1)))")
    top = (
        f"if(size(st) = 0, "
        f"cast(array() as array<struct<nc: bigint, g: string>>), "
        f"slice(array_sort(transform(sequence(1, size(starts)), j -> "
        f"struct(cast(-(if(j = size(starts), size(st) + 1, "
        f"element_at(starts, j + 1)) - element_at(starts, j)) "
        f"as bigint) as nc, "
        f"element_at(st, element_at(starts, j)) as g))), 1, {TOP_N}))"
    )
    staged = (
        docs.select("doc_id", F.expr(txt).alias("t"))
        .select("doc_id", F.expr(f"array_sort({tri})").alias("st"))
        .select("doc_id", "st", F.expr(starts).alias("starts"))
        .select("doc_id", F.expr(top).alias("top"))
    )
    langs = sorted(LANG_TRIGRAM_PROFILES)
    # ONE displacement pass per doc over a constant
    # gram -> per-language rank map (0 = absent from that profile),
    # instead of one aggregate+array_position scan per language: the
    # old shape cost |langs| x TOP_N x profile-length interpreted ops
    # per doc (~16k at 40 profiles); this one costs TOP_N map probes
    # + TOP_N x |langs| integer ops (~480). Scores are bit-identical:
    # rank displacement per gram, OOP_MAX when absent.
    ranks: dict[str, list[int]] = {}
    for li, lang in enumerate(langs):
        for pos, g in enumerate(LANG_TRIGRAM_PROFILES[lang], start=1):
            ranks.setdefault(g, [0] * len(langs))[li] = pos
    entries = ", ".join(
        f"'{g}', array({', '.join(map(str, v))})"
        for g, v in sorted(ranks.items()))
    absent = f"array_repeat(0, {len(langs)})"
    scores_arr = (
        f"if(size(top) = 0, "
        f"array_repeat({OOP_MAX * TOP_N}L, {len(langs)}), "
        f"aggregate(sequence(1, size(top)), "
        f"array_repeat(0L, {len(langs)}), (acc, i) -> "
        f"zip_with(acc, coalesce("
        f"try_element_at(_r, element_at(top, i).g), {absent}), "
        f"(a, r) -> a + if(r = 0, {OOP_MAX}L, "
        f"cast(abs(i - r) as bigint)))))")
    scored = (
        staged.select("doc_id", "top",
                      F.expr(f"map({entries})").alias("_r"))
        .select("doc_id", F.size("top").alias("n_grams"),
                F.expr(scores_arr).alias("_s"))
        .select("doc_id", "n_grams",
                *[F.expr(f"element_at(_s, {i + 1})").alias(f"score_{la}")
                  for i, la in enumerate(langs)]))
    # ascending (penalty, lang) structs: [0] = winner, [1] = runner-up;
    # margin = runner-up − winner penalty (the confidence gap)
    pairs = ", ".join(
        f"struct(score_{la} as s, '{la}' as lang)" for la in langs)
    ranked = f"array_sort(array({pairs}))"
    return scored.select(
        "doc_id",
        F.expr(f"if(n_grams = 0, 'und', element_at({ranked}, 1).lang)"
               ).alias("pred_lang"),
        F.expr(f"element_at({ranked}, 1).s").alias("top_score"),
        F.expr(f"if(n_grams = 0, 0L, element_at({ranked}, 2).s "
               f"- element_at({ranked}, 1).s)").alias("margin"),
    )


def corpus_stats(docs: DataFrame) -> DataFrame:
    """Corpus-level dataset-card rollup — ONE row: doc count, token and
    char totals, token-length distribution (min / p25 / median / p75 /
    max, exact linear-interpolation percentiles over the per-doc token
    counts), and mean tokens per doc.

    Scale: one narrow per-doc projection + one global aggregate (all
    map-side combinable except the exact percentiles, which Spark
    computes with a single-pass sort-based exact algorithm — at 10^12
    docs switch to percentile_approx and accept the documented error).
    """
    per_doc = docs.select(
        F.expr(f"size({_TOKENS})").alias("n_tokens"),
        F.length("text").alias("n_chars"))
    return per_doc.agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("n_chars").alias("total_chars"),
        F.min("n_tokens").alias("min_tokens"),
        F.expr("percentile(n_tokens, 0.25)").alias("p25_tokens"),
        F.expr("percentile(n_tokens, 0.5)").alias("median_tokens"),
        F.expr("percentile(n_tokens, 0.75)").alias("p75_tokens"),
        F.max("n_tokens").alias("max_tokens"),
        (F.sum("n_tokens") / F.count("*")).alias("mean_tokens"),
    )


def top_ngrams(docs: DataFrame, n: int = 2, k: int = 20) -> DataFrame:
    """Corpus-wide heavy hitters: the ``k`` most frequent lowercase
    token ``n``-grams, with total occurrences and how many docs
    contain each. The dataset-card / contamination-triage query.

    Shape: explode grams (narrow) → ONE partial-aggregating groupBy on
    the gram string → global top-k via TakeOrderedAndProject (no full
    sort). Ties break on the gram string so the result is total-
    ordered and rerun-stable.
    """
    return (grams.gram_rows(grams.tokenized(docs), "tk", n, out="gram")
            .groupBy("gram")
            .agg(F.count("*").alias("occurrences"),
                 F.countDistinct("doc_id").alias("n_docs"))
            .orderBy(F.desc("occurrences"), F.asc("gram"))
            .limit(k))


def corpus_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """Version diff between two corpus snapshots (crawls): per doc_id,
    status ∈ added | removed | changed | unchanged, by comparing
    normalized content fingerprints. The audit query run before
    re-training on a refreshed corpus ("what actually moved?").

    One fingerprint projection per side + one full outer join on
    doc_id — both sides reduce to (id, 32-byte hash) before any
    shuffle, so the join never moves text.
    """
    a = fingerprint(old).withColumnRenamed("fingerprint", "old_fp")
    b = fingerprint(new).withColumnRenamed("fingerprint", "new_fp")
    return (a.join(b, "doc_id", "full_outer")
            .select("doc_id", F.when(F.col("old_fp").isNull(),
                                     F.lit("added"))
                    .when(F.col("new_fp").isNull(), F.lit("removed"))
                    .when(F.col("old_fp") != F.col("new_fp"),
                          F.lit("changed"))
                    .otherwise(F.lit("unchanged")).alias("status")))
