"""Training-data ops over the plain-text corpus table (text stats,
language ID, fingerprints, the Gopher / C4 / PII gates, span dedup,
decontamination, sampling and selection, and the composed prepare and
assemble programs) with their DuckDB twins. The twins are re-derived
in pure SQL from the same md5-based hash formulas, so values match
bit-for-bit.

The correctness gate checks at most the first 50 queries, so sibling
operators are merged — union-with-tag for same-shape
pairs, doc_id joins for per-doc stat families — keeping every
operator oracle-checked while staying under the cap. A merged twin is
a UNION ALL or join of the single-operator bodies defined next to it,
so merging changes no per-operator semantics."""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdf_table_spark.ops import dedup, dsir, sampling, text, textfilters

from .common import DK_TOKENS, DK_TOKENS_CASED, _overlap, _t
from .duplicates import components_cte, dedup_corpus_cte


def doc_text_stats(spark, sf_dir):
    # token_stats + quality_score + text_normalize, one row per doc.
    # text_normalize is the X1/X2 scalar family: punct strip +
    # numberish/OCR-zero token classification, all JVM-side regexes
    d = _t(spark, sf_dir, "documents")
    t = text.token_stats(d)
    q = text.quality_score(d).drop("n_tokens")
    toks = "filter(split(text, '\\\\s+'), t -> t <> '')"
    n = d.select(
        "doc_id",
        F.length(F.regexp_replace("text", "[!-/:-@\\[-`{-~]", ""))
        .alias("n_chars_no_punct"),
        F.expr(
            f"size(filter({toks}, t -> t rlike '^[0-9.,%+-]+$' "
            f"and t rlike '[0-9]'))").alias("n_numberish_tokens"),
        F.expr(
            f"size(filter({toks}, t -> t in ('O', 'o')))"
        ).alias("n_ocr_zero_tokens"),
    )
    return t.join(q, "doc_id").join(n, "doc_id")


_TOKEN_STATS = f"""
            select doc_id,
                   len(toks) as n_tokens,
                   len(list_distinct(toks)) as n_distinct_tokens,
                   length(text) as n_chars_seen,
                   round(list_sum(list_transform(toks, t -> length(t)))
                         / greatest(len(toks), 1), 4) as mean_token_len,
                   cast(list_sum(list_transform(toks,
                        t -> ceil(length(t) / 4.0))) as bigint)
                     as n_subword_units
            from (select doc_id, text, {DK_TOKENS_CASED} as toks
                  from documents)
        """
_QUALITY_SCORE = f"""
            with base as (
              select doc_id, text, {DK_TOKENS_CASED} as toks,
                     length(regexp_replace(text, '[^!-/:-@\\[-`{{-~]', '', 'g'))
                       as punct
              from documents
            ), m as (
              select doc_id,
                     len(toks) as n_tokens,
                     punct / greatest(length(text), 1) as punct_ratio,
                     len(list_distinct(toks)) / greatest(len(toks), 1)
                       as diversity,
                     least(len(toks) / 20.0, 1.0) as length_ok
              from base
            )
            select doc_id, n_tokens,
                   round(punct_ratio, 4) as punct_ratio,
                   round(diversity, 4) as lexical_diversity,
                   round(length_ok * (1 - punct_ratio) * (0.5 + diversity / 2),
                         4) as quality
            from m
        """
_TEXT_NORMALIZE = f"""
            select doc_id,
                   length(regexp_replace(text, '[!-/:-@\\[-`{{-~]', '', 'g'))
                     as n_chars_no_punct,
                   len(list_filter({DK_TOKENS_CASED},
                       t -> regexp_matches(t, '^[0-9.,%+-]+$')
                        and regexp_matches(t, '[0-9]')))
                     as n_numberish_tokens,
                   len(list_filter({DK_TOKENS_CASED},
                       t -> t in ('O', 'o'))) as n_ocr_zero_tokens
            from documents
        """
DOC_TEXT_STATS_SQL = f"""
        with t as ({_TOKEN_STATS}),
             q as ({_QUALITY_SCORE}),
             n as ({_TEXT_NORMALIZE})
        select t.*, q.punct_ratio, q.lexical_diversity, q.quality,
               n.n_chars_no_punct, n.n_numberish_tokens,
               n.n_ocr_zero_tokens
        from t join q using (doc_id) join n using (doc_id)
    """


def corpus_stats(spark, sf_dir):
    # one-row dataset-card rollup (totals + exact token-count
    # percentiles)
    return text.corpus_stats(_t(spark, sf_dir, "documents", fan=False))


CORPUS_STATS_SQL = f"""
            with per_doc as (
              select len({DK_TOKENS_CASED}) as n_tokens,
                     length(text) as n_chars
              from documents
            )
            select count(*) as n_docs,
                   cast(sum(n_tokens) as bigint) as total_tokens,
                   cast(sum(n_chars) as bigint) as total_chars,
                   min(n_tokens) as min_tokens,
                   quantile_cont(n_tokens, 0.25) as p25_tokens,
                   quantile_cont(n_tokens, 0.5) as median_tokens,
                   quantile_cont(n_tokens, 0.75) as p75_tokens,
                   max(n_tokens) as max_tokens,
                   cast(sum(n_tokens) as double) / count(*) as mean_tokens
            from per_doc
        """


def lang_id(spark, sf_dir):
    # stopword-hit and char-trigram language ID over the 40
    # data-file profiles, tagged by method; each row carries the
    # winner's score and the confidence margin vs the runner-up.
    # Each arm's build is dominated by the JVM parse of its large
    # constant-profile expression (~0.3 s each); the two parses
    # are independent, so they run from two driver threads
    # (py4j serves each Python thread on its own connection, so
    # the parses overlap)
    d = _t(spark, sf_dir, "documents")
    cols = ["pred_lang", "top_score", "margin"]
    return reduce(DataFrame.unionByName, _overlap(
        lambda: text.lang_id(d).select(
            "doc_id", F.lit("stopword").alias("method"), *cols),
        lambda: text.lang_id_ngram(d).select(
            "doc_id", F.lit("trigram").alias("method"), *cols)))


def _lang_stopword_sql() -> str:
    langs = sorted(text.LANG_STOPWORDS)
    lang_scores = ", ".join(
        "len(list_filter(toks, t -> list_contains([{w}], t))) as score_{la}"
        .format(w=", ".join(f"'{x}'" for x in text.LANG_STOPWORDS[la]),
                la=la)
        for la in langs)
    # winner by (score desc, lang asc) == ascending sort of
    # (-score, lang) structs; duckdb compares structs field-by-field
    # like spark. [1] = winner, [2] = runner-up → margin.
    pairs = ", ".join(
        f"{{'neg': -score_{la}, 'lang': '{la}'}}" for la in langs)
    gs = ", ".join(f"score_{la}" for la in langs)
    # CJK script tier mirrored exactly: same literal-codepoint
    # character classes as ops.text (duckdb regexp_replace needs the
    # explicit 'g' flag; spark's is global already)
    cjk = text.cjk_count_exprs(global_flag=", 'g'")
    cjk_cols = ", ".join(f"{e} as {n}" for n, e in cjk.items())
    cjk_gate = text.cjk_gate_expr(
        matcher="regexp_matches(text, '[{cls}]')")
    return f"""
        with scored as (
          select doc_id, {cjk_cols}, {lang_scores}
          from (select doc_id, text, {cjk_gate} as _cjk,
                       {DK_TOKENS} as toks
                from documents)
        ), ranked as (
          select doc_id, greatest({gs}) as g,
                 n_kana + n_hangul + n_han as cjk_total,
                 case when n_kana > 0 then 'japan'
                      when n_hangul > 0 then 'korean'
                      when n_trad > n_simp then 'chinese_cht'
                      else 'ch' end as cjk_lang,
                 list_sort([{pairs}]) as r
          from scored
        )
        select doc_id,
               case when cjk_total > g then cjk_lang
                    when g = 0 then 'und'
                    else r[1].lang end as pred_lang,
               cast(case when cjk_total > g then cjk_total
                    else -r[1].neg end as bigint) as top_score,
               cast(case when cjk_total > g then cjk_total - g
                    else r[2].neg - r[1].neg end as bigint) as margin
        from ranked
    """


def _lang_ngram_sql(top_n: int = 20) -> str:
    """DuckDB twin of ``ops.text.lang_id_ngram`` over the 40 data-file
    trigram profiles: Cavnar-Trenkle out-of-place scores per language,
    ascending (penalty, lang) rank, winner + confidence margin."""
    profiles, oop_max = text.LANG_TRIGRAM_PROFILES, text.OOP_MAX
    langs = sorted(profiles)

    def score(la: str) -> str:
        prof = ", ".join(f"'{g}'" for g in profiles[la])
        return (
            f"cast(case when len(top) = 0 then {oop_max * top_n} "
            f"else coalesce(list_sum(list_transform("
            f"generate_series(1, len(top)), i -> "
            f"case when coalesce(list_position([{prof}], top[i].g), 0)"
            f" = 0 then {oop_max} "
            f"else abs(i - list_position([{prof}], top[i].g)) end)), 0)"
            f" end as bigint) as score_{la}")

    scores = ",\n".join(score(la) for la in langs)
    pairs = ", ".join(
        f"{{'s': score_{la}, 'lang': '{la}'}}" for la in langs)
    return f"""
        with tri as (
          select doc_id, list_filter(list_transform(
            generate_series(1, greatest(length(lower(text)) - 2, 1)),
            i -> substr(lower(text), i, 3)),
            g -> regexp_matches(g, '^[a-z][a-z][a-z]$')) as tri
          from documents
        ), tops as (
          select doc_id, list_slice(list_sort(list_transform(
            list_distinct(tri),
            g -> {{'nc': -len(list_filter(tri, x -> x = g)),
                  'g': g}})), 1, {top_n}) as top
          from tri
        ), scored as (
          select doc_id, len(top) as n_grams,
          {scores}
          from tops
        ), ranked as (
          select doc_id, n_grams, list_sort([{pairs}]) as r
          from scored
        )
        select doc_id,
               case when n_grams = 0 then 'und' else r[1].lang end
                 as pred_lang,
               r[1].s as top_score,
               case when n_grams = 0 then cast(0 as bigint)
                    else r[2].s - r[1].s end as margin
        from ranked
    """


LANG_ID_SQL = f"""
        with sw as ({_lang_stopword_sql()}), ng as ({_lang_ngram_sql()})
        select doc_id, 'stopword' as method, pred_lang, top_score,
               margin
        from sw
        union all
        select doc_id, 'trigram', pred_lang, top_score, margin
        from ng
    """


def fingerprint(spark, sf_dir):
    # md5 content fingerprint + winnowing fingerprint summary
    d = _t(spark, sf_dir, "documents")
    md = text.fingerprint(d).select(
        "doc_id", F.lit("md5").alias("method"),
        F.col("fingerprint").alias("fp"))
    wn = text.winnow_fingerprints(d).select(
        "doc_id", F.lit("winnow").alias("method"),
        F.concat_ws(
            ":", F.col("n_fps").cast("string"),
            F.col("min_fp").cast("string"),
            F.col("max_fp").cast("string"),
            F.col("xor_fp").cast("string")).alias("fp"))
    return md.unionByName(wn)


_MD5_FP = f"""
            select doc_id,
                   md5(array_to_string({DK_TOKENS}, ' ')) as fingerprint
            from documents
        """
# winnowing: k=8 char-gram h60 hashes, min per window of 4,
# distinct; summarized per doc (count/min/max/xor of the set)
_WINNOW_FP = """
            with norm as (
              select doc_id,
                     regexp_replace(lower(text), '\\s+', ' ', 'g') as t
              from documents
            ), grams as (
              select doc_id, list_transform(
                generate_series(1, greatest(length(t) - 7, 1)),
                i -> cast('0x' || substr(md5(substr(t, i, 8)), 1, 15)
                     as bigint)) as hs
              from norm
            ), wins as (
              select doc_id, unnest(list_distinct(list_transform(
                generate_series(1, greatest(len(hs) - 3, 1)),
                i -> list_min(list_slice(hs, i, i + 3))))) as fp
              from grams
            )
            select doc_id, count(*) as n_fps,
                   min(fp) as min_fp, max(fp) as max_fp,
                   bit_xor(fp) as xor_fp
            from wins group by doc_id
        """
FINGERPRINT_SQL = f"""
        with md as ({_MD5_FP}),
             wn as ({_WINNOW_FP})
        select doc_id, 'md5' as method, fingerprint as fp from md
        union all
        select doc_id, 'winnow',
               cast(n_fps as varchar) || ':' || cast(min_fp as varchar)
               || ':' || cast(max_fp as varchar) || ':'
               || cast(xor_fp as varchar)
        from wn
    """


# ---- corpus filter gates (Gopher / C4 / PII / composed) ----
# the corpus text is single-line word salad, so the line-based
# signals get a deterministic line synthesis (every 'table ' ends
# a sentence) mirrored verbatim in the oracle SQL
_LINED = "replace(text, 'table ', 'table.' || chr(10))"


def _lined_docs(spark, sf_dir, fan=True):
    return _t(spark, sf_dir, "documents", fan=fan).select(
        "doc_id", F.expr(_LINED).alias("text"))


def _lined_with_dups(spark, sf_dir, fan=True):
    # 20 injected exact duplicates so the 'dup' stage is
    # oracle-visible (the synthetic corpus has no exact dups)
    base = _lined_docs(spark, sf_dir, fan=fan)
    dups = (base.orderBy("doc_id").limit(20)
            .select(F.concat(F.lit("dup_"),
                             F.col("doc_id").cast("string"))
                    .alias("doc_id"), "text"))
    return base.select(F.col("doc_id").cast("string")
                       .alias("doc_id"), "text").unionByName(dups)


# The gate snippets every twin that embeds the gate formulas shares,
# so the filter twins and the prepare/assemble twins cannot drift
# apart. Float discipline mirrors the Spark side: integer counts, one
# final division — so the doubles are bit-identical across engines.
LINED_SQL = ("select doc_id, replace(text, 'table ', 'table.' || "
             "chr(10)) as text from documents")
LINES = "string_split(text, chr(10))"
STOP_ARR = ", ".join(f"'{w}'" for w in textfilters.GOPHER_STOPWORDS)
EMAIL, IP, PHONE = (textfilters.PII_PATTERNS[k]
                    for k in ("email", "ip", "phone"))


def redact_sql(col):
    return (
        f"regexp_replace(regexp_replace(regexp_replace({col}, "
        f"'{EMAIL}', '[EMAIL]', 'g'), "
        f"'{IP}', '[IP]', 'g'), "
        f"'{PHONE}', '[PHONE]', 'g')"
    )


# the seven Gopher signals over (text, lines, ws, wsl) columns
GOPHER_SIG = f"""
          len(ws) as n_words,
          coalesce(list_sum(list_transform(ws, w -> length(w))), 0)
            / greatest(len(ws), 1) as mean_word_len,
          ((length(text) - length(replace(text, '#', ''))) +
           (length(text) - length(replace(text, '...', ''))) // 3 +
           (length(text) - length(replace(text, '…', ''))))
            / greatest(len(ws), 1) as symbol_word_ratio,
          len(list_filter(lines, l -> starts_with(ltrim(l), '- ')
              or starts_with(ltrim(l), '* ')
              or starts_with(ltrim(l), '•')))
            / greatest(len(lines), 1) as bullet_line_frac,
          len(list_filter(lines, l -> ends_with(rtrim(l), '...')
              or ends_with(rtrim(l), '…')))
            / greatest(len(lines), 1) as ellipsis_line_frac,
          len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]')))
            / greatest(len(ws), 1) as alpha_word_frac,
          len(list_intersect(list_distinct(wsl), [{STOP_ARR}]))
            as stopword_hits"""
PASS_GOPHER = (
    "(n_words >= 10 and n_words <= 100000 and "
    "mean_word_len >= 3.0 and mean_word_len <= 10.0 and "
    "symbol_word_ratio <= 0.1 and bullet_line_frac <= 0.9 and "
    "ellipsis_line_frac <= 0.3 and alpha_word_frac >= 0.8 and "
    "stopword_hits >= 1)"
)
# C4 kept-lines filter over a `lines` column (min 5 words, line
# ends with terminal punctuation, no 'javascript' line)
C4_KEPT = """list_filter(lines, l -> (ends_with(rtrim(l), '.')
          or ends_with(rtrim(l), '!') or ends_with(rtrim(l), '?')
          or ends_with(rtrim(l), '"')) and
          len(list_filter(string_split_regex(l, '\\s+'),
              w -> w <> '')) >= 5
          and not contains(lower(l), 'javascript'))"""
N_SENTENCES = (
    "(length(clean_text) - length(replace(clean_text, '.', '')))"
    " + (length(clean_text) - length(replace(clean_text, '!', '')))"
    " + (length(clean_text) - length(replace(clean_text, '?', '')))"
)
KEEP_C4 = (
    "(n_sentences >= 3 and not contains(lower(text), 'lorem ipsum')"
    " and not contains(text, '{'))"
)
# the lined corpus plus 20 injected exact dups (_lined_with_dups)
ALLDOCS_SQL = f"""with lined as ({LINED_SQL}),
        alldocs as (
          select cast(doc_id as varchar) as doc_id, text from lined
          union all
          (select 'dup_' || doc_id as doc_id, text from
           (select * from lined order by doc_id limit 20))
        )"""
# exact-dup rank + Gopher signals + C4 kept lines + sentence count
# over alldocs (corpus_clean, prepare_corpus)
CLEAN_GATES_SQL = f""", ranked as (
          select doc_id, text, row_number() over (
            partition by md5(text) order by doc_id) as rn
          from alldocs
        ), base as (
          select doc_id, text, rn, {LINES} as lines,
                 {DK_TOKENS_CASED} as ws, {DK_TOKENS} as wsl
          from ranked
        ), gop as (
          select doc_id, text, rn, lines, {GOPHER_SIG}
          from base
        ), ct as (
          select *, coalesce(array_to_string(kl, chr(10)), '') as clean_text
          from (select *, {C4_KEPT} as kl from gop)
        ), sent as (
          select *, {N_SENTENCES} as n_sentences from ct
        )"""
CLEAN_STAGE = f"""case when rn > 1 then 'dup'
                 when not {PASS_GOPHER} then 'gopher'
                 when not {KEEP_C4} then 'c4'
                 else 'kept' end as stage"""


def gopher_quality(spark, sf_dir):
    # the 7 Gopher gates + the full repetition rule family
    lined = _lined_docs(spark, sf_dir)
    gop = textfilters.gopher_quality(
        lined, min_words=10, min_stopword_hits=1)
    rep = textfilters.repetition_signals(lined)
    return gop.join(rep, "doc_id")


_GOPHER = f"""
        with lined as ({LINED_SQL}),
        base as (
          select doc_id, text, {LINES} as lines,
                 {DK_TOKENS_CASED} as ws, {DK_TOKENS} as wsl
          from lined
        ), sig as (
          select doc_id, {GOPHER_SIG}
          from base
        )
        select *, {PASS_GOPHER} as pass_gopher from sig
    """
_NGRAM_WINDOWS = ",\n".join(
    f"            list_transform(generate_series(1, greatest(len(ws) - "
    f"{n - 1}, 1)),\n              i -> array_to_string(list_slice(ws, "
    f"i, i + {n - 1}), ' ')) as g{n}" for n in range(2, 11))
_TOP_GRAMS = ",\n".join(
    f"            list_max(list_transform(list_distinct(g{n}),\n"
    f"              g -> {{'c': len(list_filter(g{n}, x -> x = g)), "
    f"'g': g}})) as t{n}" for n in range(2, 5))
_TOP_FRACS = "".join(f"""
          case when len(ws) < {n} then cast(0.0 as double)
               else t{n}.c * length(t{n}.g) / greatest(length(text), 1)
          end as top_{n}gram_char_frac,""" for n in range(2, 5))
_DUP_FRACS = ",".join(f"""
          case when len(ws) < {n} then cast(0.0 as double)
               else coalesce(list_sum(list_transform(list_distinct(g{n}),
                 g -> case when len(list_filter(g{n}, x -> x = g)) > 1
                      then len(list_filter(g{n}, x -> x = g)) * length(g)
                      else 0 end)), 0) / greatest(length(text), 1)
          end as dup_{n}gram_char_frac""" for n in range(5, 11))
_PASS_REPETITION = " and ".join(
    ["dup_line_frac <= 0.3", "dup_line_char_frac <= 0.2",
     "top_2gram_char_frac <= 0.2", "top_3gram_char_frac <= 0.18",
     "top_4gram_char_frac <= 0.16"]
    + [f"dup_{n}gram_char_frac <= 0.{20 - n}" for n in range(5, 10)]
    + ["dup_10gram_char_frac <= 0.1"])
_REPETITION = f"""
        with lined as ({LINED_SQL}),
        base as (
          select doc_id, text, {LINES} as lines,
                 {DK_TOKENS_CASED} as ws
          from lined
        ), grams as (
          select *,
{_NGRAM_WINDOWS}
          from base
        ), tops as (
          select *,
{_TOP_GRAMS}
          from grams
        ), sig as (
        select doc_id,
          len(lines) as n_lines,
          (len(lines) - len(list_distinct(lines)))
            / greatest(len(lines), 1) as dup_line_frac,
          coalesce(list_sum(list_transform(list_distinct(lines),
              l -> (len(list_filter(lines, x -> x = l)) - 1)
                   * length(l))), 0)
            / greatest(coalesce(list_sum(list_transform(lines,
              l -> length(l))), 0), 1) as dup_line_char_frac,{_TOP_FRACS}{_DUP_FRACS}
        from tops
        )
        select *, ({_PASS_REPETITION}) as pass_repetition from sig
    """
GOPHER_QUALITY_SQL = f"""
        with g as ({_GOPHER}),
             r as ({_REPETITION})
        select g.*, r.* exclude (doc_id)
        from g join r using (doc_id)
    """


def c4_filters(spark, sf_dir):
    # C4 line gate + PII redaction, one row per doc. Deterministic PII
    # injection so the redaction logic is actually exercised by the
    # oracle compare
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(
            "text || ' contact ' || doc_id || '@example.com "
            "tel +44 20 7946 0958 at 192.168.1.77.'").alias("text"))
    return textfilters.c4_line_filter(_lined_docs(spark, sf_dir)).join(
        textfilters.pii_redact(docs), "doc_id")


_C4 = f"""
        with lined as ({LINED_SQL}),
        base as (
          select doc_id, text, {C4_KEPT} as kl
          from (select doc_id, text, {LINES} as lines from lined)
        ), ct as (
          select doc_id, text,
                 coalesce(array_to_string(kl, chr(10)), '') as clean_text,
                 len(kl) as n_lines_kept
          from base
        ), sent as (
          select *, {N_SENTENCES} as n_sentences from ct
        )
        select doc_id, clean_text, n_lines_kept, n_sentences,
               contains(lower(text), 'lorem ipsum') as has_lorem,
               contains(text, '{{') as has_brace,
               {KEEP_C4} as keep_c4
        from sent
    """
_PII = f"""
        with injected as (
          select doc_id, text || ' contact ' || doc_id ||
                 '@example.com tel +44 20 7946 0958 at 192.168.1.77.'
                 as text
          from documents
        )
        select doc_id,
               cast(len(regexp_extract_all(text, '{EMAIL}')) as int)
                 as n_emails,
               cast(len(regexp_extract_all(text, '{IP}')) as int)
                 as n_ips,
               cast(len(regexp_extract_all(text, '{PHONE}')) as int)
                 as n_phones,
               {redact_sql('text')} as redacted
        from injected
    """
C4_FILTERS_SQL = f"""
        with c as ({_C4}), p as ({_PII})
        select c.*, p.* exclude (doc_id)
        from c join p using (doc_id)
    """


def corpus_clean(spark, sf_dir):
    return textfilters.corpus_clean(
        _lined_with_dups(spark, sf_dir, fan=False),
        min_words=10, min_stopword_hits=1)


CORPUS_CLEAN_SQL = f"""
        {ALLDOCS_SQL}{CLEAN_GATES_SQL}, staged as (
          select doc_id, clean_text,
            {CLEAN_STAGE}
          from sent
        )
        select doc_id, stage, stage = 'kept' as kept,
               case when stage = 'kept'
                    then md5({redact_sql('clean_text')}) end as clean_fp
        from staged
    """


def span_dedup(spark, sf_dir):
    # cross-document span dedup, both granularities union-tagged:
    # C4's three-sentence spans AND Lee-et-al. ExactSubstr 20-token
    # spans, over the lined corpus with the 20 injected full-copy
    # docs as the planted duplicates (every span resolves to its
    # original as the canonical occurrence). Persisted: the union's
    # arms reference this frame five times, and its orderBy+limit
    # dup-injection subtree would re-execute per reference
    docs = dedup.persist(_lined_with_dups(spark, sf_dir))
    c4 = (textfilters.c4_span_dedup(docs)
          .select("doc_id", F.lit("c4_sent3").alias("method"),
                  F.col("n_sentences").alias("n_units"),
                  "n_dropped", "clean_text"))
    # xxhash64 internally: the oracle compares OUTPUT rows, and the
    # hash only decides the duplicate set (md5==xxhash64 pinned by
    # the parity test), so the narrow production key is safe here
    ex = (dedup.exact_substring_dedup(docs, n=20,
                                      hash_fn="xxhash64")
          .select("doc_id", F.lit("exact_substr20").alias("method"),
                  F.col("n_tokens").alias("n_units"),
                  F.col("n_removed").alias("n_dropped"),
                  "clean_text"))
    return c4.unionByName(ex)


def _span_dedup_ctes(p, units, arr, src, n, col):
    """One granularity of the span dedup twin: ``units`` explodes the
    per-doc ``arr`` lists of ``src`` into (doc_id, idx, ``col``) rows;
    every ``n``-unit span hashes to ``h``; each non-canonical
    occurrence of a repeated span drops its units; ``{p}perdoc`` joins
    the kept units back per doc. CTE names carry the prefix ``p``."""
    return f"""), {units} as (
          select doc_id, u.i - 1 as idx, {arr}[u.i] as {col}
          from {src} cross join
               unnest(generate_series(1, len({arr}))) as u(i)
        ), {p}spans as (
          select doc_id, u.i - 1 as start,
                 md5(array_to_string(
                   list_slice({arr}, u.i, u.i + {n - 1}), ' ')) as h
          from {src} cross join
               unnest(generate_series(1, len({arr}) - {n - 1})) as u(i)
          where len({arr}) >= {n}
        ), {p}dup as (
          select h, min({{'d': doc_id, 'st': start}}) as canon
          from {p}spans group by h having count(*) > 1
        ), {p}noncanon as (
          select s.doc_id, s.start from {p}spans s join {p}dup d using (h)
          where s.doc_id <> d.canon.d or s.start <> d.canon.st
        ), {p}dropped as (
          select distinct doc_id, start + u.i as idx
          from {p}noncanon cross join
               unnest(generate_series(0, {n - 1})) as u(i)
        ), {p}kept as (
          select s.doc_id, s.idx, s.{col} from {units} s
          left join {p}dropped dr
            on s.doc_id = dr.doc_id and s.idx = dr.idx
          where dr.idx is null
        ), {p}perdoc as (
          select doc_id, count(*) as n_kept,
                 string_agg({col}, ' ' order by idx) as clean_text
          from {p}kept group by doc_id"""


SPAN_DEDUP_SQL = f"""
        {ALLDOCS_SQL}, sents0 as (
          select doc_id, list_filter(list_transform(
            string_split_regex(text, '[.!?]'), s -> trim(s)),
            s -> s <> '') as ss
          from alldocs
        {_span_dedup_ctes("", "sents", "ss", "sents0", 3, "s")}
        ), totals as (
          select doc_id, count(*) as n_sentences
          from sents group by doc_id
        ), tk0 as (
          select doc_id, list_filter(string_split_regex(
            lower(text), '\\s+'), t -> t <> '') as tk
          from alldocs
        {_span_dedup_ctes("t", "tks", "tk", "tk0", 20, "t")}
        )
        select a.doc_id, 'c4_sent3' as method,
               coalesce(t.n_sentences, 0) as n_units,
               coalesce(t.n_sentences, 0) - coalesce(p.n_kept, 0)
                 as n_dropped,
               coalesce(p.clean_text, '') as clean_text
        from alldocs a
        left join totals t using (doc_id)
        left join perdoc p using (doc_id)
        union all
        select k.doc_id, 'exact_substr20' as method,
               len(k.tk) as n_units,
               len(k.tk) - coalesce(tp.n_kept, 0) as n_dropped,
               coalesce(tp.clean_text, '') as clean_text
        from tk0 k
        left join tperdoc tp using (doc_id)
    """


def decontaminate(spark, sf_dir):
    # src0 plays the benchmark/eval suite; every other source is
    # the training corpus. Flag train docs sharing any 13-gram.
    # broadcast_bench=True: the eval side is an eval suite (small
    # by construction), so the auto-decide's eager count job is
    # skipped. xxhash64 internally: the oracle compares OUTPUT
    # rows, and the gram hash only decides equality (n_hits is
    # hash-independent — the same narrow-production-key argument
    # as span_dedup's ExactSubstr arm).
    docs = _t(spark, sf_dir, "documents", fan=False)
    return textfilters.decontaminate(
        docs.filter("source <> 'src0'"),
        docs.filter("source = 'src0'"),
        broadcast_bench=True, hash_fn="xxhash64")["contaminated"]


DECONTAMINATE_SQL = r"""
            with toks as (
              select doc_id, source,
                     list_filter(string_split_regex(lower(text), '\s+'),
                                 t -> t <> '') as tk
              from documents
            ), grams as (
              select doc_id, source, unnest(list_distinct(list_transform(
                       generate_series(1, greatest(len(tk) - 12, 0)),
                       i -> md5(array_to_string(
                              list_slice(tk, i, i + 12), ' '))))) as g
              from toks where len(tk) >= 13
            ), bench as (
              select distinct g from grams where source = 'src0'
            )
            select t.doc_id, count(*) as n_hits
            from grams t join bench using (g)
            where t.source <> 'src0'
            group by t.doc_id
        """


def assemble(spark, sf_dir):
    # the full assembly program on the raw (non-benchmark) corpus
    # with 20 injected exact dups; src0 plays the eval suite.
    # C4 off (min_sentences=0): the word-salad corpus has no
    # sentence structure, and the C4 gate is oracled elsewhere.
    # fan=False: the assembly program references this frame many
    # times and each reference would re-plan the fan exchange;
    # composed programs materialize stage boundaries instead.
    # Provenance + the assembled rows rolled up per doc.
    d = _t(spark, sf_dir, "documents", fan=False)
    base = d.filter("source <> 'src0'").select(
        "doc_id", "text", "source")
    dups = (base.orderBy("doc_id").limit(20)
            .select((F.col("doc_id") + 1000000).alias("doc_id"),
                    "text", "source"))
    dedup.release_caches()
    from pdf_table_spark.ops.prepare import assemble_training_set
    a = assemble_training_set(
        base.unionByName(dups),
        benchmark=d.filter("source = 'src0'"),
        mixture={"src1": 2.0, "src2": 0.5},
        min_words=10, min_stopword_hits=1, min_sentences=0,
        neardup_threshold=0.5, max_df=20, max_bucket=10,
        hash_fn="md5")
    agg = (a["assembled"].groupBy("doc_id")
           .agg(F.max("source").alias("source"),
                F.count("*").alias("n_copies"),
                F.max("split").alias("split")))
    return a["provenance"].join(agg, "doc_id", "left")


# DuckDB twin of ``ops.prepare.assemble_training_set`` at the query's
# knobs: injected-dup corpus (source <> src0) -> exact-dup rank +
# Gopher(10,1) (C4 off via min_sentences=0) -> capped near-dedup +
# recursive-CTE connected components (one canonical per cluster) ->
# 13-gram decontamination vs src0 -> mixture (src1 x2, src2 x0.5,
# default 1) -> 90/5/5 split; provenance joined with the assembled
# rows rolled up per doc.
_ASSEMBLED_PER_DOC = """
        select f.doc_id, f.stage, f.stage = 'kept' as kept,
               a.source, a.n_copies, a.split
        from final f left join (
          select doc_id, max(source) as source,
                 count(*) as n_copies, max(split) as split
          from assembled group by doc_id) a using (doc_id)
    """
_GRAMS13 = ("list_distinct(list_transform("
            "generate_series(1, greatest(len(tk) - 12, 0)), "
            "i -> md5(array_to_string(list_slice(tk, i, i + 12), "
            "' '))))")
ASSEMBLE_SQL = f"""
        with recursive corpus as (
          select doc_id, source, text from documents
          where source <> 'src0'
          union all
          select doc_id + 1000000 as doc_id, source, text from
            (select * from documents where source <> 'src0'
             order by doc_id limit 20)
        ), ranked as (
          select doc_id, source, text, row_number() over (
            partition by md5(text) order by doc_id) as rn
          from corpus
        ), base as (
          select doc_id, source, text, rn, {LINES} as lines,
                 {DK_TOKENS_CASED} as ws, {DK_TOKENS} as wsl
          from ranked
        ), gop as (
          select doc_id, source, text, rn, lines, {GOPHER_SIG}
          from base
        ), cstage as (
          select doc_id, source, text,
            case when rn > 1 then 'dup'
                 when not {PASS_GOPHER} then 'gopher'
                 else 'kept' end as cst
          from gop
        ), survivors as (
          select doc_id, text from cstage where cst = 'kept'
        ), {dedup_corpus_cte(src="survivors", lead="")}{
            components_cte("doc_a", "doc_b", "doc_id")}, nddrop as (
          select doc_id from comp where doc_id <> component
        ), decon_in as (
          select s.doc_id, s.text from survivors s
            left join nddrop n using (doc_id)
          where n.doc_id is null
        ), tgrams as (
          select doc_id, unnest({_GRAMS13}) as gg
          from (select doc_id,
                  list_filter(string_split_regex(lower(text), '\\s+'),
                              t -> t <> '') as tk
                from decon_in)
          where len(tk) >= 13
        ), bgrams as (
          select distinct unnest({_GRAMS13}) as gg
          from (select list_filter(string_split_regex(lower(text),
                       '\\s+'), t -> t <> '') as tk
                from documents where source = 'src0')
          where len(tk) >= 13
        ), cont as (
          select distinct t.doc_id from tgrams t join bgrams using (gg)
        -- materialized: the merged oracle reads final AND assembled
        -- (which re-derives from final); without the hint DuckDB
        -- inlines the whole recursive chain twice and runs out of
        -- memory
        ), final as materialized (
          select c.doc_id, c.source,
            case when c.cst <> 'kept' then c.cst
                 when n.doc_id is not null then 'neardup'
                 when ct.doc_id is not null then 'contaminated'
                 else 'kept' end as stage
          from cstage c
            left join nddrop n using (doc_id)
            left join cont ct using (doc_id)
        ), kept as (
          select doc_id, source from final where stage = 'kept'
        ), assembled as (
          -- mixture AND split in one pass over kept: a second
          -- reference to the recursive chain would re-execute it
          select doc_id, source,
                 unnest(generate_series(0, nc - 1)) as copy, split
          from (select doc_id, source,
                  cast(floor(wt) + (case when b < (wt - floor(wt))
                       * 10000 then 1 else 0 end) as bigint) as nc,
                  case when sb < 9000 then 'train'
                       when sb < 9500 then 'val'
                       else 'test' end as split
                from (select doc_id, source,
                        (case source when 'src1' then 2.0
                                     when 'src2' then 0.5
                                     else 1.0 end) as wt,
                        cast('0x' || substr(md5(cast(doc_id as varchar)
                             || 'assemble-v1-mix'), 1, 15) as bigint)
                          % 10000 as b,
                        cast('0x' || substr(md5(cast(doc_id as varchar)
                             || 'assemble-v1-split'), 1, 15) as bigint)
                          % 10000 as sb
                      from kept))
          where nc >= 1
        )
        {_ASSEMBLED_PER_DOC}
    """


def resample_mixture(spark, sf_dir):
    # epoch-weighted mixture: 2.4 copies of src1, a quarter of
    # src2, src3 dropped, everything else 1 epoch
    return sampling.resample_mixture(
        _t(spark, sf_dir, "documents", fan=False),
        {"src1": 2.4, "src2": 0.25, "src3": 0.0}
    ).select("doc_id", "source", "copy")


RESAMPLE_MIXTURE_SQL = """
            with w as (
              select doc_id, source,
                     (case source when 'src1' then 2.4
                                  when 'src2' then 0.25
                                  when 'src3' then 0.0
                                  else 1.0 end) as wt,
                     cast('0x' || substr(md5(cast(doc_id as varchar)
                          || 'mix-v1'), 1, 15) as bigint) % 10000 as b
              from documents
            ), n as (
              select doc_id, source,
                     cast(floor(wt) + (case when b < (wt - floor(wt))
                          * 10000 then 1 else 0 end) as bigint) as nc
              from w
            )
            select doc_id, source,
                   unnest(generate_series(0, nc - 1)) as copy
            from n where nc >= 1
        """


def data_selection(spark, sf_dir):
    # merged selection family, union-with-tag (arm, doc_id,
    # score, aux, aux2):
    #   budget      — best docs (by n_chars) until a 10k-token
    #                 budget (aux = n_tok, aux2 = cum_before)
    #   dsir        — DSIR top-50 by hashed-ngram importance
    #                 weight, target = src1 (aux = score_e6,
    #                 aux2 = ranking key)
    #   dsir_gumbel — DSIR Gumbel-resampled top-50 (the paper's
    #                 softmax draw, hash-deterministic noise)
    # the two arms' eager driver-side jobs (the budget arm's
    # approxQuantile, the DSIR fit's tagged bucket collect) are
    # independent — submit them from two driver threads so the
    # jobs overlap instead of running back-to-back;
    # job descriptions/FIFO scheduling make this safe. The DSIR
    # fit is the one-scan tagged fit (identical integers to the
    # two-frame fit) + a shared persisted scored frame so the
    # topk and gumbel arms rank the same scoring pass instead of
    # re-hashing every gram per arm (released by
    # dedup.release_caches())
    d = _t(spark, sf_dir, "documents")
    budget, lr = _overlap(
        lambda: sampling.select_token_budget(
            _t(spark, sf_dir, "documents", fan=False), 10_000,
            score_col="n_chars")
        .select(F.lit("budget").alias("arm"), "doc_id", "score",
                F.col("n_tok").alias("aux"),
                F.col("cum_before").alias("aux2")),
        lambda: dsir.fit_logratio_e6_tagged(d, "source = 'src1'"))
    raw = d.filter("source <> 'src1'")
    scored = dedup.persist(
        dsir.score_e6(raw, lr).select("doc_id", "score_e6"))

    def dsir_arm(mode, name):
        return (dsir.dsir_select(raw, lr, 50, mode=mode,
                                 scored=scored)
                .select(F.lit(name).alias("arm"), "doc_id",
                        (F.col("score_e6").cast("double")
                         / F.lit(1e6)).alias("score"),
                        F.col("score_e6").alias("aux"),
                        F.col("key_e6").alias("aux2")))
    return (budget
            .unionByName(dsir_arm("topk", "dsir"))
            .unionByName(dsir_arm("gumbel", "dsir_gumbel")))


DATA_SELECTION_SQL = r"""
            with t as (
              select doc_id, cast(n_chars as double) as score,
                     cast(len(list_filter(string_split_regex(
                       lower(text), '\s+'), x -> x <> '')) as bigint)
                       as n_tok
              from documents
            ), o as (
              select doc_id, score, n_tok,
                     cast(coalesce(sum(n_tok) over (
                       order by score desc, doc_id asc
                       rows between unbounded preceding and 1
                       preceding), 0) as bigint) as cum_before
              from t
            ),
            -- DSIR arms (Xie et al. 2023): hashed unigram+bigram
            -- buckets (md5 60-bit % 512), add-1-smoothed log ratio
            -- quantized to integer micro-nats, per-doc BIGINT sum
            tok as (
              select doc_id, source,
                     list_filter(string_split_regex(lower(text),
                       '\s+'), x -> x <> '') as tk
              from documents
            ), g as (
              select doc_id, source,
                     list_concat(tk, case when len(tk) < 2 then []
                       else list_transform(range(1, len(tk)),
                         i -> tk[i] || ' ' || tk[i+1]) end) as grams
              from tok
            ), bk as (
              select doc_id, source,
                     cast('0x' || substr(md5(gr), 1, 15) as bigint)
                       % 512 as bk
              from (select doc_id, source, unnest(grams) as gr from g)
            ), tc as (select bk, count(*) as c from bk
                      where source = 'src1' group by bk),
               rc as (select bk, count(*) as c from bk
                      where source <> 'src1' group by bk),
               tot as (select
                 (select count(*) from bk where source = 'src1')
                   as tt,
                 (select count(*) from bk where source <> 'src1')
                   as rr),
               lr as (
                 select u.bk,
                        cast(floor((ln((coalesce(tc.c, 0) + 1.0)
                             / (tot.tt + 512.0))
                          - ln((coalesce(rc.c, 0) + 1.0)
                             / (tot.rr + 512.0))) * 1e6 + 0.5)
                          as bigint) as lre6
                 from (select distinct bk from bk) u
                 cross join tot
                 left join tc using (bk) left join rc using (bk)),
               sc as (
                 select bk.doc_id,
                        cast(sum(lr.lre6) as bigint) as score_e6
                 from bk join lr using (bk)
                 where bk.source <> 'src1'
                 group by bk.doc_id)
            select 'budget' as arm, doc_id, score,
                   n_tok as aux, cum_before as aux2
            from o where cum_before + n_tok <= 10000
            union all
            select 'dsir' as arm, doc_id,
                   cast(score_e6 as double) / 1e6 as score,
                   score_e6 as aux, score_e6 as aux2
            from (select * from sc
                  order by score_e6 desc, doc_id asc limit 50)
            union all
            select 'dsir_gumbel' as arm, doc_id,
                   cast(score_e6 as double) / 1e6 as score,
                   score_e6 as aux, key_e6 as aux2
            from (select doc_id, score_e6,
                         score_e6 + cast(floor(-ln(-ln(
                           (cast('0x' || substr(md5(cast(doc_id as
                              varchar) || 'dsir-v1'), 1, 15)
                            as bigint) + 0.5)
                           / 1152921504606846976.0)) * 1e6 + 0.5)
                           as bigint) as key_e6
                  from sc
                  order by key_e6 desc, doc_id asc limit 50)
        """


def corpus_diff(spark, sf_dir):
    # old = the corpus; new = drop doc_id%50==0, perturb %50==1
    d = _t(spark, sf_dir, "documents", fan=False)
    new = (d.filter("doc_id % 50 != 0")
           .selectExpr("doc_id",
                       "if(doc_id % 50 = 1, concat(text, ' v2'), "
                       "text) as text"))
    return text.corpus_diff(d, new)


CORPUS_DIFF_SQL = """
            with fp as (
              select doc_id, md5(array_to_string(list_filter(
                string_split_regex(lower(text), '\\s+'),
                t -> t <> ''), ' ')) as f
              from documents
            ), newdocs as (
              select doc_id,
                     case when doc_id % 50 = 1 then text || ' v2'
                          else text end as text
              from documents where doc_id % 50 != 0
            ), nfp as (
              select doc_id, md5(array_to_string(list_filter(
                string_split_regex(lower(text), '\\s+'),
                t -> t <> ''), ' ')) as f
              from newdocs
            )
            select coalesce(a.doc_id, b.doc_id) as doc_id,
                   case when a.doc_id is null then 'added'
                        when b.doc_id is null then 'removed'
                        when a.f <> b.f then 'changed'
                        else 'unchanged' end as status
            from fp a full outer join nfp b on a.doc_id = b.doc_id
        """


def top_ngrams(spark, sf_dir):
    return text.top_ngrams(_t(spark, sf_dir, "documents"), 2, 20)


TOP_NGRAMS_SQL = """
            with toks as (
              select doc_id,
                     list_filter(string_split_regex(lower(text), '\\s+'),
                                 t -> t <> '') as tk
              from documents
            ), grams as (
              select doc_id, unnest(list_transform(
                       generate_series(1, greatest(len(tk) - 1, 0)),
                       i -> array_to_string(
                              list_slice(tk, i, i + 1), ' '))) as gram
              from toks where len(tk) >= 2
            )
            select gram, count(*) as occurrences,
                   count(distinct doc_id) as n_docs
            from grams group by gram
            order by occurrences desc, gram asc limit 20
        """


def corpus_split(spark, sf_dir):
    return sampling.split_corpus(
        _t(spark, sf_dir, "documents", fan=False))


CORPUS_SPLIT_SQL = """
            select doc_id,
                   case when b < 9000 then 'train'
                        when b < 9500 then 'val'
                        else 'test' end as split
            from (select doc_id,
                    cast('0x' || substr(md5(cast(doc_id as varchar)
                         || 'split-v1'), 1, 15) as bigint) % 10000 as b
                  from documents)
        """


def stratified_sample(spark, sf_dir):
    return sampling.sample_stratified(
        _t(spark, sf_dir, "documents", fan=False),
        {"en": 0.5, "de": 1.0}, default=0.1).select("doc_id", "lang")


STRATIFIED_SAMPLE_SQL = """
            select doc_id, lang
            from (select doc_id, lang,
                    cast('0x' || substr(md5(cast(doc_id as varchar)
                         || 'sample-v1'), 1, 15) as bigint) % 10000 as b
                  from documents)
            where b < (case lang when 'en' then 0.5
                                 when 'de' then 1.0
                                 else 0.1 end) * 10000
        """


def pack_chunks(spark, sf_dir):
    return sampling.pack_chunks(
        _t(spark, sf_dir, "documents", fan=False), 512)


PACK_CHUNKS_SQL = r"""
            with toks as (
              select doc_id,
                     len(list_filter(string_split_regex(lower(text),
                         '\s+'), t -> t <> '')) as n_tok
              from documents
            ), offs as (
              select doc_id, n_tok,
                     coalesce(sum(n_tok) over (order by doc_id
                       rows between unbounded preceding and 1 preceding),
                       0)::bigint as off
              from toks
            ), spans as (
              select doc_id, n_tok, off,
                     unnest(generate_series(cast(off // 512 as bigint),
                            cast((off + n_tok - 1) // 512 as bigint)))
                       as chunk_id
              from offs where n_tok > 0
            )
            select chunk_id, count(*) as n_docs,
                   cast(sum(least(off + n_tok, (chunk_id + 1) * 512)
                        - greatest(off, chunk_id * 512)) as bigint)
                     as n_tokens,
                   min(doc_id) as first_doc, max(doc_id) as last_doc
            from spans group by chunk_id
        """


def prepare_corpus(spark, sf_dir):
    # the END-TO-END ingest program: clean gates -> capped
    # near-dedup among survivors -> model gate, one provenance row
    # per doc; every knob scaled so each stage fires at sf0.01
    from pdf_table_spark.ops.prepare import prepare_corpus
    dedup.release_caches()   # bound cache growth across reruns
    return prepare_corpus(
        _lined_with_dups(spark, sf_dir, fan=False),
        min_words=10, min_stopword_hits=1,
        neardup_threshold=0.5, max_df=20, max_bucket=10,
        hash_fn="md5")


# the quality-model head's features over (ws, wsl) token columns
QUALITY_FEATS = f"""select doc_id,
            len(ws)::double as f0,
            coalesce(list_sum(list_transform(ws, t -> length(t))),
                     0)::double as f1,
            len(list_filter(ws, t -> regexp_matches(t, '[A-Za-z]')))
              ::double as f2,
            len(list_intersect(list_distinct(wsl), [{STOP_ARR}]))
              ::double as f3"""


def quality_score_sql(j):
    """Class ``j``'s score of the literal QUALITY_WEIGHTS head,
    rounded as the Arrow stage rounds it."""
    from pdf_table_spark.spark.model_stage import QUALITY_WEIGHTS as w
    return (f"round(f0 * {w[0][j]} + f1 * {w[1][j]} + "
            f"f2 * {w[2][j]} + f3 * {w[3][j]} + {w[4][j]}, 6)")


def prepare_corpus_sql() -> str:
    """DuckDB twin of ``ops.prepare.prepare_corpus`` at the query's
    knobs — the full ingest program: clean gates -> capped near-dedup
    among survivors (dedup_corpus_cte over the survivors CTE) ->
    quality-model gate (literal QUALITY_WEIGHTS) -> first-failing-stage
    provenance."""
    return f"""
        {ALLDOCS_SQL}{CLEAN_GATES_SQL}, cstage as (
          select doc_id, text, clean_text,
            {CLEAN_STAGE}
          from sent
        ), survivors as (
          select doc_id, text from cstage where stage = 'kept'
        ), {dedup_corpus_cte(src="survivors", lead="")}
        , nddrop as (
          select distinct doc_b as doc_id from pairs
        ), qbase as (
          select s.doc_id, {DK_TOKENS_CASED} as ws, {DK_TOKENS} as wsl
          from survivors s
          left join nddrop n using (doc_id)
          where n.doc_id is null
        ), qfeats as (
          {QUALITY_FEATS}
          from qbase
        ), qpred as (
          select doc_id,
                 case when {quality_score_sql(0)} >= {quality_score_sql(1)} then 'keep'
                      else 'drop' end as pred
          from qfeats
        ), final as (
          select c.doc_id, c.clean_text,
            case when c.stage <> 'kept' then c.stage
                 when n.doc_id is not null then 'neardup'
                 when q.pred = 'drop' then 'model'
                 else 'kept' end as stage
          from cstage c
          left join nddrop n using (doc_id)
          left join qpred q using (doc_id)
        )
        select doc_id, stage, stage = 'kept' as kept,
               case when stage = 'kept'
                    then md5({redact_sql('clean_text')}) end as clean_fp
        from final
    """
