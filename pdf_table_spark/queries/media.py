"""Media and model-head queries — audio/video sampling enumeration,
media decode metadata, the broadcast-weights model heads and the
artifact-to-output OCR heads — with their DuckDB twins. Twins of heads
whose output is a real forward pass read the golden that the same
.npz artifact produced single-process at fixture build, or the
encode-side truth planted before encoding."""

from __future__ import annotations

import os
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .common import (DK_H60, DK_TOKENS, DK_TOKENS_CASED, SPANS,
                     _fixture_dir, _overlap, _read_pq, _spans_df, _t,
                     sf001)
from .corpus import QUALITY_FEATS, quality_score_sql


def media_sampling(spark, sf_dir):
    # audio 30s chunk windows + every-5th video frames, tagged.
    # Both arms derive from the same media-ref table (explode +
    # distinct over the spans scan); persisted within the query so
    # that shuffle runs once (released by dedup.release_caches()).
    # Only kept windows / sampled frames would reach a decoder: the
    # enumeration is JVM-side sequence/explode. Media metadata is
    # hash-derived from the refs (no audio/video table in the corpus):
    # audio lasts 1-90 s at 16 kHz; video has 1-240 frames at 1-30 fps.
    from pdf_table_spark.ops.dedup import H60_SPARK
    from pdf_table_spark.ops.multimodal import (
        chunk_audio, media_refs_with_payloads, sample_frames)
    refs = media_refs_with_payloads(
        _spans_df(spark, sf_dir)).select("media_ref")
    h = H60_SPARK.format(s="media_ref")
    hf = H60_SPARK.format(s="media_ref || 'f'")
    audio = refs.select(
        "media_ref",
        F.expr(f"(({h} % 90) + 1) * 16000").alias("n_samples"),
        F.lit(16000).alias("sample_rate"))
    au = chunk_audio(audio, window_sec=30.0, hop_sec=30.0).select(
        "media_ref", F.lit("audio").alias("modality"),
        F.col("chunk_idx").alias("idx"),
        F.col("start_sec").alias("t0"),
        F.col("end_sec").alias("t1"))
    videos = refs.select(
        "media_ref",
        F.expr(f"cast(({h} % 240) + 1 as int)").alias("n_frames"),
        F.expr(f"cast(({hf} % 30) + 1 as double)").alias("fps"))
    vi = sample_frames(videos, every_n=5).select(
        "media_ref", F.lit("video").alias("modality"),
        F.col("frame_idx").alias("idx"),
        F.col("ts_sec").alias("t0"),
        F.lit(None).cast("double").alias("t1"))
    return au.unionByName(vi)


_IMAGE_REFS = f"""
            with refs as (
              select distinct s.media_ref as media_ref
              from (select unnest(spans) as s from {SPANS})
              where s.kind = 'image'
            )"""
_VIDEO_FRAMES = f"""{_IMAGE_REFS}, videos as (
              select media_ref,
                     cast((cast('0x' || substr(md5(media_ref), 1, 15) as bigint) % 240) + 1 as int) as n_frames,
                     cast((cast('0x' || substr(md5(media_ref || 'f'), 1, 15) as bigint) % 30) + 1 as double) as fps
              from refs
            )
            select media_ref, cast(frame_idx as int) as frame_idx,
                   frame_idx / fps as ts_sec
            from (select media_ref, fps,
                         unnest(generate_series(0, n_frames - 1, 5))
                           as frame_idx
                  from videos where n_frames > 0)
        """
_AUDIO_CHUNKS = f"""{_IMAGE_REFS}, audio as (
              select media_ref,
                     cast(({DK_H60.format(s='media_ref')} % 90) + 1
                          as double) as dur
              from refs
            ), chunks as (
              select media_ref, dur,
                     unnest(generate_series(0,
                       greatest(cast(ceil((dur - 30.0) / 30.0) as int),
                                0), 1)) as chunk_idx
              from audio
            )
            select media_ref, cast(chunk_idx as int) as chunk_idx,
                   cast(chunk_idx * 30.0 as double) as start_sec,
                   cast(least(chunk_idx * 30.0 + 30.0, dur) as double)
                     as end_sec
            from chunks where chunk_idx * 30.0 < dur
        """
MEDIA_SAMPLING_SQL = f"""
        with au as ({_AUDIO_CHUNKS}),
             vi as ({_VIDEO_FRAMES})
        select media_ref, 'audio' as modality, chunk_idx as idx,
               start_sec as t0, end_sec as t1 from au
        union all
        select media_ref, 'video', frame_idx, ts_sec,
               cast(null as double) from vi
    """


def media_meta(spark, sf_dir):
    # decode metadata (n_bytes) + aspect-preserving thumbnail fit.
    # Two arms: the utf8-ref pseudo-payloads (deterministic stub
    # decode, md5 oracle twin) AND the planted REAL PNG/BMP/PNM
    # corpus — genuine codec bytes pixel-decoded distributed
    # (core.codecs); the oracle twin for that arm is encode-side
    # truth recorded in golden_media_meta.parquet BEFORE encoding,
    # so agreement is a real encoder↔decoder inverse check
    from pdf_table_spark.ops.multimodal import (
        describe_media, media_refs_with_payloads)
    refs = media_refs_with_payloads(_spans_df(spark, sf_dir))
    fake = describe_media(refs)
    planted = _read_pq(spark, os.path.join(
        _fixture_dir(sf_dir), "media_payloads.parquet")).filter(
        F.col("media_ref").startswith("media://img/"))
    real = describe_media(planted)
    return fake.unionByName(real)


_MEDIA_RESIZE = f"""{_IMAGE_REFS}, dims as (
              select media_ref,
                64 + cast('0x' || substr(md5(media_ref), 1, 2) as int) * 8
                  as sw,
                64 + cast('0x' || substr(md5(media_ref), 3, 2) as int) * 8
                  as sh,
                (['png', 'jpeg', 'webp'])[
                  cast('0x' || substr(md5(media_ref), 5, 2) as int) % 3 + 1]
                  as format
              from refs
            )
            select media_ref,
                   cast(floor(sw * least(256.0 / sw, 256.0 / sh, 1.0))
                        as int) as width,
                   cast(floor(sh * least(256.0 / sw, 256.0 / sh, 1.0))
                        as int) as height,
                   sw as src_width, sh as src_height, format
            from dims
        """
# second arm: encode-side truth for the planted REAL media corpus
# (dims/format/n_bytes recorded before core.codecs encoding; the
# thumbnail fit is recomputed here independently in SQL)
MEDIA_META_SQL = f"""
        with r as ({_MEDIA_RESIZE}),
             g as (select * from read_parquet('{sf001("golden_media_meta.parquet")}'))
        select media_ref, width, height, src_width, src_height, format,
               cast(length(media_ref) as bigint) as n_bytes
        from r
        union all
        select media_ref,
               cast(floor(src_width * least(256.0 / src_width,
                    256.0 / src_height, 1.0)) as int) as width,
               cast(floor(src_height * least(256.0 / src_width,
                    256.0 / src_height, 1.0)) as int) as height,
               src_width, src_height, format, n_bytes
        from g
    """


def model_scores(spark, sf_dir):
    # all three broadcast-weights heads: page layout + doc quality
    # + page orientation (M1/M4's PULC classifier half)
    from pdf_table_spark.spark.model_stage import (
        score_doc_quality, score_layout_cnn, score_orient_cnn,
        score_page_layout, score_page_orientation)
    # selectExpr strings: each arm's ~9-column Column-object select
    # cost ~20 py4j round trips of driver chatter per build —
    # ONE parsed string per arm is plan-identical. The five arm
    # builders (weight loads + broadcasts + scans) run from a
    # thread pool so their eager driver work overlaps.
    sp_df = _spans_df(spark, sf_dir)
    docs_df = _t(spark, sf_dir, "documents")
    fx = _fixture_dir(sf_dir)
    cnn_npz = os.path.join(fx, "ocr_cnn.npz")

    def scans(name):
        return _read_pq(spark, os.path.join(fx, name))

    return reduce(DataFrame.unionByName, _overlap(
        lambda: score_page_layout(sp_df).selectExpr(
            "'layout' as head", "doc_id", "offset",
            "score_table as score_a", "score_text as score_b",
            "score_figure as score_c",
            "cast(null as double) as score_d",
            "layout_class as label"),
        lambda: score_doc_quality(docs_df).selectExpr(
            "'quality' as head",
            "cast(doc_id as string) as doc_id",
            "cast(-1 as int) as offset",
            "score_keep as score_a", "score_drop as score_b",
            "cast(null as double) as score_c",
            "cast(null as double) as score_d",
            "pred as label"),
        lambda: score_page_orientation(sp_df).selectExpr(
            "'orient' as head", "doc_id", "offset",
            "score_rot0 as score_a", "score_rot90 as score_b",
            "score_rot180 as score_c", "score_rot270 as score_d",
            "concat_ws(':', pred_rot, declared_rot) as label"),
        # orient-CNN arm: REAL image-based vote —
        # rotate the scan 4 ways, det+rec forward each, argmax of
        # decoded confidence mass. The oracle's pred_rot column is
        # the PLANTED angle (encode-side), so a wrong distributed
        # prediction fails the hash gate; vote scores are the
        # same-artifact single-process twin.
        lambda: score_orient_cnn(
            scans("orient_scan_pages.parquet"), weights_path=cnn_npz
        ).selectExpr(
            "'orient_cnn' as head", "media_ref as doc_id",
            "cast(-1 as int) as offset",
            "score_rot0 as score_a", "score_rot90 as score_b",
            "score_rot180 as score_c", "score_rot270 as score_d",
            "cast(pred_rot as string) as label"),
        # layout-CNN arm: REAL image-based layout
        # analysis — coarse-ink region proposals classified
        # table/text/figure from conv-derived features via a
        # broadcast linear head. The oracle's label column (class
        # + tight bbox) is the PLANTED truth; scores are the
        # single-process same-artifact twin.
        lambda: score_layout_cnn(
            scans("layout_scan_pages.parquet"), weights_path=cnn_npz
        ).selectExpr(
            "'layout_cnn' as head", "media_ref as doc_id",
            "offset",
            "score_table as score_a", "score_text as score_b",
            "score_figure as score_c",
            "cast(null as double) as score_d", "label")))


def _layout_scores_sql() -> str:
    from pdf_table_spark.spark.model_stage import WEIGHTS
    w = WEIGHTS
    score = ("(f0 * {a} + f1 * {b} + f2 * {c} + {d})")
    s_tab = score.format(a=w[0][0], b=w[1][0], c=w[2][0], d=w[3][0])
    s_txt = score.format(a=w[0][1], b=w[1][1], c=w[2][1], d=w[3][1])
    s_fig = score.format(a=w[0][2], b=w[1][2], c=w[2][2], d=w[3][2])
    return f"""
        with pages as (
          select doc_id, s."offset" as "offset", s.text as text
          from (select doc_id, unnest(spans) as s from {SPANS})
          where s.kind = 'pdf_page'
        ), feats as (
          select doc_id, "offset", json_valid(text) as ok,
                 case when json_valid(text) then coalesce(
                   json_array_length(text, '$.text_lines'), 0)::double
                   else 0 end as f0,
                 case when json_valid(text) then coalesce(
                   json_array_length(text, '$.rects'), 0)::double
                   else 0 end as f1,
                 case when json_valid(text) then coalesce(
                   json_array_length(text, '$.images'), 0)::double
                   else 0 end as f2
          from pages
        )
        select doc_id, "offset" as offset,
               case when ok then round({s_tab}, 6) else 0.0 end
                 as score_table,
               case when ok then round({s_txt}, 6) else 0.0 end
                 as score_text,
               case when ok then round({s_fig}, 6) else 0.0 end
                 as score_figure,
               case when not ok then 'error'
                    when {s_tab} >= {s_txt} and {s_tab} >= {s_fig}
                      then 'table'
                    when {s_txt} >= {s_fig} then 'text'
                    else 'figure' end as layout_class
        from feats
    """


def _orient_sql() -> str:
    """DuckDB twin of ``model_stage.score_page_orientation``: same
    first-text-line features (is_vertical, cx/w, cy/h, bias), same 4x4
    literal matmul rounded to 6dp, argmax with ties toward the lower
    class, pred in degrees. Poison contract mirrored exactly for the
    fixture domain: invalid JSON OR a first line with a missing /
    non-numeric coordinate → scores 0, pred = declared = -1."""
    from pdf_table_spark.spark.model_stage import ORIENT_WEIGHTS
    w = ORIENT_WEIGHTS

    def score(j):
        return (f"round(f0 * {w[0][j]} + f1 * {w[1][j]} + "
                f"f2v * {w[2][j]} + {w[3][j]}, 6)")

    # Sanitize ONCE: DuckDB may reorder/vectorize CASE/AND conjuncts, so
    # a `case when json_valid(text) then json_extract(text, ...)` guard
    # can still evaluate json_extract on a poisoned (truncated) page
    # payload and abort the whole query. Substitute '{}' for invalid
    # JSON up front and run every extract on the sanitized column; the
    # jok flag preserves the poison contract downstream.
    coord = ("try_cast(json_extract(jtext, '$.text_lines[0].{c}') "
             "as double)")
    dim = ("coalesce(nullif(try_cast(json_extract(jtext, '$.{c}') "
           "as double), 0.0), 1.0)")
    return f"""
        with pages as (
          select doc_id, s."offset" as "offset",
                 json_valid(s.text) as jok,
                 case when json_valid(s.text) then s.text
                      else '{{}}' end as jtext
          from (select doc_id, unnest(spans) as s from {SPANS})
          where s.kind = 'pdf_page'
        ), feats as (
          select doc_id, "offset", jok,
                 coalesce(json_array_length(jtext, '$.text_lines'), 0)
                   as n_lines,
                 {coord.format(c='x0')} as x0,
                 {coord.format(c='x1')} as x1,
                 {coord.format(c='y0')} as y0,
                 {coord.format(c='y1')} as y1,
                 {dim.format(c='width')} as w,
                 {dim.format(c='height')} as h,
                 case when json_extract_string(
                   jtext, '$.text_lines[0].dir') = 'v'
                   then 1.0 else 0.0 end as isv,
                 coalesce(try_cast(
                   json_extract(jtext, '$.rotation') as int), 0)
                   as decl
          from pages
        ), f2 as (
          select doc_id, "offset",
                 (jok and (n_lines = 0 or (x0 is not null and
                   x1 is not null and y0 is not null and
                   y1 is not null))) as ok,
                 case when n_lines = 0 then 0.0 else isv end as f0,
                 case when n_lines = 0 then 0.5
                      else (x0 + x1) / 2 / w end as f1,
                 case when n_lines = 0 then 0.5
                      else (y0 + y1) / 2 / h end as f2v,
                 decl
          from feats
        ), sc as (
          select doc_id, "offset", ok, decl,
                 {score(0)} as s0, {score(1)} as s1,
                 {score(2)} as s2, {score(3)} as s3
          from f2
        )
        select doc_id, "offset" as offset,
               case when ok then s0 else 0.0 end as score_rot0,
               case when ok then s1 else 0.0 end as score_rot90,
               case when ok then s2 else 0.0 end as score_rot180,
               case when ok then s3 else 0.0 end as score_rot270,
               case when not ok then -1
                    when s0 >= s1 and s0 >= s2 and s0 >= s3 then 0
                    when s1 >= s2 and s1 >= s3 then 90
                    when s2 >= s3 then 180
                    else 270 end as pred_rot,
               case when ok then decl else -1 end as declared_rot
        from sc
    """


def _quality_model_sql() -> str:
    """DuckDB twin of ``model_stage.score_doc_quality`` (the literal
    QUALITY_WEIGHTS head): integer text features cast to double, the
    same 5x2 matmul, argmax over the ROUNDED scores with keep winning
    ties — exactly what the Arrow stage computes."""
    return f"""
        with base as (
          select doc_id, {DK_TOKENS_CASED} as ws, {DK_TOKENS} as wsl
          from documents
        ), feats as (
          {QUALITY_FEATS}
          from base
        ), scored as (
          select doc_id, {quality_score_sql(0)} as score_keep,
                 {quality_score_sql(1)} as score_drop
          from feats
        )
        select doc_id, score_keep, score_drop,
               case when score_keep >= score_drop then 'keep'
                    else 'drop' end as pred
        from scored
    """


def model_scores_sql():
    return f"""
        with l as ({_layout_scores_sql()}),
             q as ({_quality_model_sql()}),
             r as ({_orient_sql()})
        select 'layout' as head, doc_id, "offset" as offset,
               score_table as score_a, score_text as score_b,
               score_figure as score_c, cast(null as double) as score_d,
               layout_class as label
        from l
        union all
        select 'quality', cast(doc_id as varchar), cast(-1 as int),
               score_keep, score_drop, cast(null as double),
               cast(null as double), pred
        from q
        union all
        select 'orient', doc_id, "offset",
               score_rot0, score_rot90, score_rot180, score_rot270,
               cast(pred_rot as varchar) || ':' ||
                 cast(declared_rot as varchar)
        from r
        union all
        select 'orient_cnn', doc_id, cast(-1 as int),
               score_rot0, score_rot90, score_rot180, score_rot270,
               cast(pred_rot as varchar)
        from read_parquet('{sf001("golden_orient_cnn.parquet")}')
        union all
        select 'layout_cnn', doc_id, "offset",
               score_table, score_text, score_figure,
               cast(null as double), label
        from read_parquet('{sf001("golden_layout_cnn.parquet")}')
    """


def ocr_from_model(spark, sf_dir):
    # artifact → model output with NO pre-filled fixture payloads,
    # two heads (the reference's base_infer_task model dispatch,
    # base_infer_task.py:311-315):
    #  * TSR arm — the .npz TSR head infers (polygons, logi) from
    #    det boxes at runtime, decoded by core.logicell to HTML;
    #  * det/rec arm — the .npz det head recovers text-line boxes
    #    + text from per-character glyph EVIDENCE (core.dethead),
    #    never reading the planted det_cells; the oracle is an
    #    independent SQL interval-merge twin over the plants;
    #  * contour arm (O4) — top-10 ink-blob region proposals per
    #    page from the same detected lines, one shared boundary;
    #  * neural-postprocess arm — DBNet probability-map
    #    → boxes (core.dbnet: regions, min-area rect, score,
    #    unclip — NO planted det_cells on this path), CTC greedy
    #    label decode (core.ctchead), SLANet structure-token
    #    decode (core.slanethead), one shared boundary; the db
    #    oracle twin recomputes grow/scale/round_even from the
    #    planted blob coords in pure SQL.
    #  * det-CNN arm — REAL forward pass: scan-page
    #    PNGs (real codec decode) → numpy conv/pool/sigmoid CNN
    #    (.npz tensors, core.nn) → probability map → the same
    #    core.dbnet postprocess; no planted model output on the
    #    whole path. Golden twin = the same .npz run
    #    single-process at fixture build (the TSR pattern).
    #  * full-OCR arm — the COMPLETE imaged-page path:
    #    scan PNG → pixel decode → morphological rulings → det-CNN
    #    forward → DBNet postprocess → rec-CNN forward + CTC
    #    greedy decode → lattice grid/merge/placement → table
    #    shape/cells/HTML + free lines. The oracle twin is the
    #    PLANTED truth (encode-side, media_gen.ocr_scan_truth) —
    #    an independent inverse, not a same-code golden.
    from pdf_table_spark.spark.model_stage import (
        score_det_cnn, score_det_contours, score_neural_decoders,
        score_ocr_cnn, score_table_structure)
    fx = _fixture_dir(sf_dir)
    # the five arm builders each read an .npz from disk, broadcast
    # the tensors, and plan a scan — independent, driver-side
    # eager work; built from a small thread pool so the broadcasts
    # and parquet footer reads overlap
    sp_df = _spans_df(spark, sf_dir)

    def fxp(name):
        return os.path.join(fx, name)

    return reduce(DataFrame.unionByName, _overlap(
        lambda: score_table_structure(
            sp_df, weights_path=fxp("tsr_head.npz")),
        lambda: score_det_contours(
            sp_df, weights_path=fxp("det_head.npz")),
        lambda: score_neural_decoders(
            sp_df, weights_path=fxp("neural_head.npz")),
        lambda: score_det_cnn(
            _read_pq(spark, fxp("scan_pages.parquet")),
            weights_path=fxp("det_cnn.npz")
        ).select(F.col("media_ref").alias("doc_id"),
                 F.col("box_idx").alias("offset"), "kind", "text"),
        lambda: score_ocr_cnn(
            _read_pq(spark, fxp("ocr_scan_pages.parquet")),
            weights_path=fxp("ocr_cnn.npz")
        ).select(F.col("media_ref").alias("doc_id"), "offset",
                 "kind", "text")))


# from-model, two arms. TSR: checked against golden_model_tsr.parquet
# — written by fixtures/build.py from the SAME .npz artifact through
# the single-process core.tsrhead + core.logicell path (the
# extract_spans golden pattern applied to the model seam). det/rec: an
# INDEPENDENT pure-SQL twin — the head works from glyph evidence, the
# oracle merges the PLANTED det intervals (same visual line = same
# y-extent here; x-gaps >= 2x the median char width split detections,
# >= 0.5x insert the space) — code-disjoint ground truth, not a shared
# golden.
OCR_FROM_MODEL_SQL = (
    f'select doc_id, "offset" as offset, kind, text '
    f"from read_parquet('{sf001('golden_model_tsr.parquet')}')"
    + f"""
        union all
        select * from (
        with pages as materialized (
          -- materialized: DuckDB may otherwise evaluate a pushed-down
          -- json_extract before the kind/json_valid scan filter and
          -- throw on a non-JSON page payload (seen flaking)
          select doc_id, s."offset" as "offset", s.text as text
          from (select doc_id, unnest(spans) as s
                from {SPANS})
          where s.kind = 'ocr_page' and json_valid(s.text)
        ), dets as (
          select doc_id, "offset",
                 unnest(json_transform(json_extract(text,
                   '$.det_cells'),
                   '[{{"x0":"DOUBLE","y0":"DOUBLE","x1":"DOUBLE",'
                   '"y1":"DOUBLE","text":"VARCHAR"}}]'),
                   recursive := true)
          from pages
        ), mw as (
          select doc_id, "offset",
                 median((x1 - x0) / length(text)) as mw
          from dets group by 1, 2
        ), gapped as (
          select d.doc_id, d."offset", d.x0, d.y0, d.x1, d.y1,
                 d.text, m.mw, d.x0 - lag(d.x1) over w as gap
          from dets d join mw m using (doc_id, "offset")
          window w as (partition by d.doc_id, d."offset", d.y0, d.y1
                       order by d.x0)
        ), islands as (
          select *, sum(case when gap is null or gap >= 2 * mw
                             then 1 else 0 end)
                   over (partition by doc_id, "offset", y0, y1
                         order by x0) as isl
          from gapped
        ), lines as (
          select doc_id, "offset", min(x0) as x0, y0,
                 max(x1) as x1, y1,
                 string_agg(
                   case when gap is null or gap >= 2 * mw then ''
                        when gap >= 0.5 * mw then ' '
                        else '' end || text, '' order by x0) as text
          from islands
          group by doc_id, "offset", y0, y1, isl
        ), lh as (
          select doc_id, "offset", median(y1 - y0) as mh
          from lines group by 1, 2
        ), reach as (
          select l.*, h.mh,
                 max(l.y1) over (partition by l.doc_id, l."offset"
                   order by l.y0, l.x0
                   rows between unbounded preceding and 1 preceding)
                   as prev_reach
          from lines l join lh h using (doc_id, "offset")
        ), blob as (
          select *, sum(case when prev_reach is null
                              or y0 > prev_reach + 1.5 * mh
                             then 1 else 0 end)
                   over (partition by doc_id, "offset"
                         order by y0, x0) as bid
          from reach
        ), bb as (
          select doc_id, "offset", min(x0) as x0, min(y0) as y0,
                 max(x1) as x1, max(y1) as y1,
                 (max(x1) - min(x0)) * (max(y1) - min(y0)) as area
          from blob group by doc_id, "offset", bid
        ), ranked as (
          select *, row_number() over (partition by doc_id, "offset"
                   order by area desc, y0, x0) as rk
          from bb
        )
        select doc_id, "offset", 'det_cell',
               printf('%.1f,%.1f,%.1f,%.1f|%s', x0, y0, x1, y1, text)
        from lines
        union all
        select doc_id, "offset", 'contour',
               printf('%d|%.1f,%.1f,%.1f,%.1f|%.1f',
                      rk, x0, y0, x1, y1, area)
        from ranked where rk <= 10
        )
        union all
        -- round-5 neural-postprocess arms. db_box: an INDEPENDENT
        -- arithmetic twin — expected boxes recomputed from the
        -- planted blob coords (unclip distance d = w*h*ratio/(2(w+h))
        -- with ratio 2.0; grow by d; map->dest scale; banker's
        -- round_even mirrors np.round; clip AFTER rounding), applying
        -- the same gates the postprocess applies: binarize > 0.3,
        -- first sside >= 3, score (= blob value on the planted maps)
        -- >= 0.7, grown sside >= 5. rec_text / slanet: the planted
        -- ground truth the decoders must invert.
        select * from (
        with opages as materialized (
          -- materialized: see the pages CTE note — keeps json_extract
          -- from running ahead of the kind/json_valid filter
          select doc_id, s."offset" as "offset", s.text as text
          from (select doc_id, unnest(spans) as s
                from {SPANS})
          where s.kind = 'ocr_page' and json_valid(s.text)
        ), dblob as (
          select doc_id, "offset",
                 cast(json_extract(text, '$.db_prob.w') as double)
                   as mw,
                 cast(json_extract(text, '$.db_prob.h') as double)
                   as mh,
                 cast(json_extract(text, '$.db_prob.dest_w')
                   as double) as dw,
                 cast(json_extract(text, '$.db_prob.dest_h')
                   as double) as dh,
                 unnest(json_transform(
                   json_extract(text, '$.db_prob.blobs'),
                   '[["DOUBLE"]]')) as b
          from opages
          where json_extract(text, '$.db_prob') is not null
        ), dgeom as (
          select doc_id, "offset", mw, mh, dw, dh,
                 b[1] as x0, b[2] as y0, b[3] as x1, b[4] as y1,
                 b[5] as p, b[3] - b[1] as w, b[4] - b[2] as h,
                 (b[3] - b[1]) * (b[4] - b[2]) * 2.0
                   / (2.0 * ((b[3] - b[1]) + (b[4] - b[2]))) as d
          from dblob
        ), dbox as (
          select doc_id, "offset",
                 least(greatest(round_even((x0 - d) / mw * dw, 0),
                       0), dw) as gx0,
                 least(greatest(round_even((y0 - d) / mh * dh, 0),
                       0), dh) as gy0,
                 least(greatest(round_even((x1 + d) / mw * dw, 0),
                       0), dw) as gx1,
                 least(greatest(round_even((y1 + d) / mh * dh, 0),
                       0), dh) as gy1,
                 p
          from dgeom
          where p > 0.3 and least(w, h) >= 3 and p >= 0.7
                and least(w, h) + 2 * d >= 5
        ), rec as (
          select doc_id, "offset",
                 unnest(json_transform(
                   json_extract(text, '$.rec_lines'),
                   '[{{"gt": "VARCHAR"}}]')) as r
          from opages
          where json_extract(text, '$.rec_lines') is not null
        ), cnp as (
          -- Cycle-CenterNet twin (M6): recompute the cell polygons
          -- from the planted peak arrays alone — subpixel center =
          -- peak + reg, vertex_j = center - c2v_j, corner snap = the
          -- corner peak whose link equals this center replaces its
          -- nearest computed vertex, then the inverse preprocessing
          -- affine (x - out/2) * (s/out) + c. All planted values are
          -- exact dyadics so the float path is bit-identical to the
          -- decoder's.
          select doc_id, "offset",
                 cast(json_extract(text, '$.centernet.out_w')
                   as double) as ow,
                 cast(json_extract(text, '$.centernet.out_h')
                   as double) as oh,
                 cast(json_extract(text, '$.centernet.s')
                   as double) as sc,
                 json_transform(json_extract(text, '$.centernet.c'),
                   '["DOUBLE"]') as cc,
                 json_transform(
                   json_extract(text, '$.centernet.centers'),
                   '[["DOUBLE"]]') as centers,
                 json_transform(
                   json_extract(text, '$.centernet.corners'),
                   '[["DOUBLE"]]') as corners
          from opages
          where json_extract(text, '$.centernet') is not null
        ), cnc as (
          select doc_id, "offset", ow, oh, sc,
                 cc[1] as cx, cc[2] as cy, unnest(centers) as ctr
          from cnp
        ), cnv as (
          select doc_id, "offset", ow, oh, sc, cx, cy,
                 ctr[1] + ctr[4] as pcx, ctr[2] + ctr[5] as pcy,
                 ctr[3] as score, js.j as j,
                 ctr[1] + ctr[4] - ctr[6 + 2 * js.j] as vx,
                 ctr[2] + ctr[5] - ctr[7 + 2 * js.j] as vy
          from cnc cross join (values (0), (1), (2), (3)) js(j)
          where ctr[3] > 0.3
        ), cnl as (
          select doc_id, "offset",
                 cr[1] + cr[4] as gvx, cr[2] + cr[5] as gvy,
                 cr[1] + cr[4] - cr[6 + 2 * isq.i] as lx,
                 cr[2] + cr[5] - cr[7 + 2 * isq.i] as ly
          from (select doc_id, "offset", unnest(corners) as cr
                from cnp) c0
          cross join (values (0), (1), (2), (3)) isq(i)
          where cr[3] > 0.3
            and not (cr[6 + 2 * isq.i] = 0 and cr[7 + 2 * isq.i] = 0)
        ), cns as (
          select v.doc_id, v."offset", v.pcx, v.pcy, v.j,
                 l.gvx, l.gvy,
                 row_number() over (
                   partition by v.doc_id, v."offset", v.pcx, v.pcy,
                                l.gvx, l.gvy
                   order by (v.vx - l.gvx) * (v.vx - l.gvx)
                          + (v.vy - l.gvy) * (v.vy - l.gvy), v.j)
                   as rn
          from cnv v
          join cnl l on l.doc_id = v.doc_id
                    and l."offset" = v."offset"
                    and l.lx = v.pcx and l.ly = v.pcy
        ), cnf as (
          select v.doc_id, v."offset", v.pcx, v.pcy, v.score, v.j,
                 (coalesce(s.gvx, v.vx) - v.ow / 2) * (v.sc / v.ow)
                   + v.cx as ix,
                 (coalesce(s.gvy, v.vy) - v.oh / 2) * (v.sc / v.ow)
                   + v.cy as iy
          from cnv v
          left join (select * from cns where rn = 1) s
            on s.doc_id = v.doc_id and s."offset" = v."offset"
           and s.pcx = v.pcx and s.pcy = v.pcy and s.j = v.j
        ), plv as (
          -- PicoDet twin (M2): the planted DFL bin sets decode to
          -- their exact mean (equal-logit softmax), so box =
          -- anchor center ± mean·stride, clipped to the ORIGINAL
          -- shape before the scale division (warp_boxes quirk), and
          -- hard-NMS reduces to keep-max-score per identical
          -- (class, box) — the only planted overlaps are exact
          -- duplicates.
          select doc_id, "offset",
                 cast(json_extract(text, '$.picodet.org_shape[0]')
                   as double) as oh2,
                 cast(json_extract(text, '$.picodet.org_shape[1]')
                   as double) as ow2,
                 cast(json_extract(text, '$.picodet.scale_factor[0]')
                   as double) as sy,
                 cast(json_extract(text, '$.picodet.scale_factor[1]')
                   as double) as sx,
                 unnest(json_transform(
                   json_extract(text, '$.picodet.levels'),
                   '[{{"stride":"INTEGER","anchors":[{{"r":"INTEGER",
                      "c":"INTEGER","cls":"INTEGER","score":"DOUBLE",
                      "bl":["INTEGER"],"bt":["INTEGER"],
                      "br":["INTEGER"],"bb":["INTEGER"]}}]}}]')) as lv
          from opages
          where json_extract(text, '$.picodet') is not null
        ), panch as (
          select doc_id, "offset", oh2, ow2, sy, sx,
                 lv.stride as st, unnest(lv.anchors) as a
          from plv
        ), pbox as (
          select doc_id, "offset", a.cls as cls, a.score as score,
            least(greatest((a.c + 0.5) * st
              - st * list_aggregate(a.bl, 'avg'), 0), ow2) / sx as x0,
            least(greatest((a.r + 0.5) * st
              - st * list_aggregate(a.bt, 'avg'), 0), oh2) / sy as y0,
            least(greatest((a.c + 0.5) * st
              + st * list_aggregate(a.br, 'avg'), 0), ow2) / sx as x1,
            least(greatest((a.r + 0.5) * st
              + st * list_aggregate(a.bb, 'avg'), 0), oh2) / sy as y1
          from panch where a.score > 0.5
        ), pkept as (
          select doc_id, "offset", cls, x0, y0, x1, y1,
                 max(score) as score
          from pbox group by all
        ), mast as (
          -- TableMaster twin (M10): html rides on the planted gt;
          -- the BOX path is recomputed here from the planted rows +
          -- decoded token string alone — td-family mask, [0,1]
          -- validity, denormalize by pad_shape, divide by
          -- scale_factor, truncate to token count, sum>1 survivor
          -- filter, xywh → int-truncated xyxy
          select doc_id, "offset",
                 string_split(json_extract_string(text,
                   '$.master.gt_tokens'), ',') as toks,
                 json_transform(json_extract(text, '$.master.bboxes'),
                   '[["DOUBLE"]]') as bbs,
                 cast(json_extract(text, '$.master.pad_shape[0]')
                   as double) as mph,
                 cast(json_extract(text, '$.master.pad_shape[1]')
                   as double) as mpw,
                 cast(json_extract(text, '$.master.scale_factor[0]')
                   as double) as msy,
                 cast(json_extract(text, '$.master.scale_factor[1]')
                   as double) as msx
          from opages
          where json_extract(text, '$.master') is not null
        ), mrow as (
          select doc_id, "offset", mph, mpw, msy, msx, toks,
                 unnest(bbs) as bb, generate_subscripts(bbs, 1) as i
          from mast
        ), mbox as (
          select doc_id, "offset",
                 bb[1] * mpw / msx as mcx, bb[2] * mph / msy as mcy,
                 bb[3] * mpw / msx as mws, bb[4] * mph / msy as mhs
          from mrow
          where i <= len(toks)
            and toks[i] in ('<td></td>', '<td')
            and bb[1] between 0 and 1 and bb[2] between 0 and 1
            and bb[3] between 0 and 1 and bb[4] between 0 and 1
        )
        select doc_id, "offset", 'db_box' as kind,
               printf('%d,%d,%d,%d,%d,%d,%d,%d|%.4f',
                      cast(gx0 as bigint), cast(gy0 as bigint),
                      cast(gx1 as bigint), cast(gy0 as bigint),
                      cast(gx1 as bigint), cast(gy1 as bigint),
                      cast(gx0 as bigint), cast(gy1 as bigint),
                      p) as text
        from dbox
        union all
        select doc_id, "offset", 'rec_text', r.gt || '|0.9000'
        from rec
        union all
        select doc_id, "offset", 'slanet',
               json_extract_string(text, '$.slanet.gt')
        from opages
        where json_extract(text, '$.slanet') is not null
        union all
        select doc_id, "offset", 'cn_poly',
               printf('%.2f,%.2f,%.2f,%.2f,%.2f,%.2f,%.2f,%.2f|%.4f',
                      max(case when j = 0 then ix end),
                      max(case when j = 0 then iy end),
                      max(case when j = 1 then ix end),
                      max(case when j = 1 then iy end),
                      max(case when j = 2 then ix end),
                      max(case when j = 2 then iy end),
                      max(case when j = 3 then ix end),
                      max(case when j = 3 then iy end),
                      score)
        from cnf
        group by doc_id, "offset", pcx, pcy, score
        union all
        select doc_id, "offset", 'layout_box',
               printf('%s|%d|%.4f|%.2f,%.2f,%.2f,%.2f',
                      ['text', 'title', 'figure', 'figure_caption',
                       'table', 'table_caption', 'header', 'footer',
                       'reference', 'equation'][cls + 1],
                      cls, score, x0, y0, x1, y1)
        from pkept
        union all
        select doc_id, "offset", 'master_html',
               json_extract_string(text, '$.master.gt_html')
        from opages
        where json_extract(text, '$.master') is not null
        union all
        select doc_id, "offset", 'master_box',
               printf('%d,%d,%d,%d',
                      cast(trunc(mcx - mws / 2) as bigint),
                      cast(trunc(mcy - mhs / 2) as bigint),
                      cast(trunc(mcx + mws / 2) as bigint),
                      cast(trunc(mcy + mhs / 2) as bigint))
        from mbox where mcx + mcy + mws + mhs > 1
        )
        union all
        select doc_id, "offset" as offset, kind, text
        from read_parquet('"""
    + sf001("golden_scan_boxes.parquet") + """')
        union all
        select doc_id, "offset" as offset, kind, text
        from read_parquet('"""
    + sf001("golden_ocr_scan.parquet") + "')")
