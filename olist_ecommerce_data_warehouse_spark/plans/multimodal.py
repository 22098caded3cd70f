"""Multimodal-column plans (extension tier).

ALL plans here are oracle-checked — no rows-only registrations
(``test_every_plan_is_oracled`` enforces this repo-wide).
``multimodal_metadata`` is SQL-expressible binary plumbing plus one
codec kernel over ``operators.multimodal.CODECS`` whose integer sums
the oracle derives in closed form; the mapInPandas decode/frame-sample
kernels are oracle-checked too, because the stubbed decode is a pure
function of the payload bytes that the SQL oracle recomputes with
character ops (byte-identical on the ASCII-only fixture).  Exact-value kernel assertions additionally
live in tests/test_multimodal.py."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from olist_ecommerce_data_warehouse_spark.catalog import spread, table
from olist_ecommerce_data_warehouse_spark.operators.multimodal import (
    SYNTH_FIELDS_SQL,
    codec_skeleton,
    decode_media,
    measure_codecs,
    sample_frames,
    synthesize_media,
)
from olist_ecommerce_data_warehouse_spark.plans.registry import query


@query(
    "multimodal_metadata",
    oracle=f"""
    WITH media AS (
        SELECT doc_id AS media_id,
               CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                    ELSE 'video' END AS kind,
               encode(text) AS payload
        FROM documents
    ),
    bytes_agg AS (
        SELECT kind,
               CAST(COUNT(*) AS BIGINT) AS n_media,
               CAST(SUM(octet_length(payload)) AS BIGINT) AS total_bytes,
               CAST(MIN(octet_length(payload)) AS BIGINT) AS min_bytes,
               CAST(MAX(octet_length(payload)) AS BIGINT) AS max_bytes
        FROM media GROUP BY kind
    ),
    synth AS ({SYNTH_FIELDS_SQL}),
    probe_agg AS (
        SELECT 'probe:' || format AS kind,
               CAST(COUNT(*) AS BIGINT) AS n_media,
               CAST(SUM(width) AS BIGINT) AS sum_width,
               CAST(SUM(height) AS BIGINT) AS sum_height,
               CAST(SUM(n_channels) AS BIGINT) AS sum_channels,
               CAST(SUM(sample_rate) AS BIGINT) AS sum_rate,
               CAST(SUM(bit_depth) AS BIGINT) AS sum_depth,
               CAST(SUM(progressive) AS BIGINT) AS sum_progressive
        FROM synth GROUP BY format
    ),
    png_sums AS (
        SELECT doc_id, 3 * w * h AS npx,
               list_sum(flatten(list_transform(generate_series(0, h - 1), y ->
                   list_transform(generate_series(0, 3 * w - 1), i ->
                       (i + y) % 251)))) AS ps
        FROM (SELECT doc_id, 1 + doc_id % 7 AS w, 1 + doc_id % 5 AS h
              FROM documents WHERE doc_id % 4 = 0)
    ),
    decode_agg AS (
        SELECT 'decode:png' AS kind,
               CAST(COUNT(*) AS BIGINT) AS n_media,
               CAST(SUM(ps) AS BIGINT) AS sum_pixels,
               CAST(SUM(npx) AS BIGINT) AS sum_npixels
        FROM png_sums
    ),
    wav_sums AS (
        SELECT doc_id, ns * ch AS nsmp,
               list_sum(list_transform(generate_series(0, ns * ch - 1), j ->
                   ((j * 37) % 2048) - 1024)) AS ss
        FROM (SELECT doc_id, 16 + doc_id % 32 AS ns, 1 + doc_id % 2 AS ch
              FROM documents WHERE doc_id % 4 = 2)
    ),
    wavdec_agg AS (
        SELECT 'decode:wav' AS kind,
               CAST(COUNT(*) AS BIGINT) AS n_media,
               CAST(SUM(ss) AS BIGINT) AS sum_samples,
               CAST(SUM(nsmp) AS BIGINT) AS sum_nsamples
        FROM wav_sums
    ),
    gif_sums AS (
        SELECT doc_id, 3 * w * h AS nrgb,
               list_sum(list_transform(generate_series(0, w * h - 1), k ->
                   ((k % 4) * 37) % 256 + ((k % 4) * 37 + 5) % 256
                   + ((k % 4) * 37 + 11) % 256)) AS ss
        FROM (SELECT doc_id, 3 + doc_id % 6 AS w, 2 + doc_id % 4 AS h
              FROM documents WHERE doc_id % 4 = 1)
    ),
    gifdec_agg AS (
        SELECT 'decode:gif' AS kind,
               CAST(COUNT(*) AS BIGINT) AS n_media,
               CAST(SUM(ss) AS BIGINT) AS sum_rgb,
               CAST(SUM(nrgb) AS BIGINT) AS sum_nrgb
        FROM gif_sums
    ),
    bmp_sums AS (
        SELECT doc_id, 3 * w * h AS npxb,
               list_sum(flatten(list_transform(generate_series(0, h - 1), y ->
                   list_transform(generate_series(0, 3 * w - 1), i ->
                       (i * 5 + y * 11) % 256)))) AS ss
        FROM (SELECT doc_id, 2 + doc_id % 5 AS w, 1 + doc_id % 3 AS h
              FROM documents WHERE doc_id % 4 = 3)
    ),
    bmpdec_agg AS (
        SELECT 'decode:bmp' AS kind,
               CAST(COUNT(*) AS BIGINT) AS n_media,
               CAST(SUM(ss) AS BIGINT) AS sum_px,
               CAST(SUM(npxb) AS BIGINT) AS sum_npx
        FROM bmp_sums
    ),
    pngpal_sums AS (
        SELECT doc_id, 3 * w * h AS npx,
               list_sum(flatten(list_transform(generate_series(0, h - 1), y ->
                   list_transform(generate_series(0, w - 1), x ->
                       (((x + y) % 16) * 37) % 256
                       + (((x + y) % 16) * 37 + 5) % 256
                       + (((x + y) % 16) * 37 + 11) % 256)))) AS ps
        FROM (SELECT doc_id, 1 + doc_id % 7 AS w, 1 + doc_id % 5 AS h
              FROM documents WHERE doc_id % 4 = 2)
    ),
    pngpal_agg AS (
        SELECT 'decode:png-pal' AS kind,
               CAST(COUNT(*) AS BIGINT) AS n_media,
               CAST(SUM(ps) AS BIGINT) AS sum_pixels,
               CAST(SUM(npx) AS BIGINT) AS sum_npixels
        FROM pngpal_sums
    ),
    bmp8_sums AS (
        SELECT doc_id, 3 * w * h AS npxb,
               list_sum(flatten(list_transform(generate_series(0, h - 1), y ->
                   list_transform(generate_series(0, w - 1), x ->
                       (((x * 7 + y * 13) % 16) * 37) % 256
                       + (((x * 7 + y * 13) % 16) * 37 + 5) % 256
                       + (((x * 7 + y * 13) % 16) * 37 + 11) % 256)))) AS ss
        FROM (SELECT doc_id, 2 + doc_id % 5 AS w, 1 + doc_id % 3 AS h
              FROM documents WHERE doc_id % 4 = 0)
    ),
    bmp8_agg AS (
        SELECT 'decode:bmp8' AS kind,
               CAST(COUNT(*) AS BIGINT) AS n_media,
               CAST(SUM(ss) AS BIGINT) AS sum_px,
               CAST(SUM(npxb) AS BIGINT) AS sum_npx
        FROM bmp8_sums
    ),
    jpeg_sums AS (
        SELECT doc_id, 64 * bw * bh AS npx,
               64 * list_sum(flatten(list_transform(generate_series(0, bh - 1), by ->
                   list_transform(generate_series(0, bw - 1), bx ->
                       (bx * 7 + by * 13 + doc_id) % 256)))) AS ps
        FROM (SELECT doc_id, 1 + doc_id % 3 AS bw, 1 + doc_id % 2 AS bh
              FROM documents WHERE doc_id % 4 = 1)
    ),
    jpegdec_agg AS (
        SELECT 'decode:jpeg' AS kind,
               CAST(COUNT(*) AS BIGINT) AS n_media,
               CAST(SUM(ps) AS BIGINT) AS sum_pixels,
               CAST(SUM(npx) AS BIGINT) AS sum_npixels
        FROM jpeg_sums
    ),
    adam7_sums AS (
        SELECT doc_id, w * h AS npx,
               list_sum(flatten(list_transform(generate_series(0, h - 1), y ->
                   list_transform(generate_series(0, w - 1), x ->
                       (1 + x + w * y) * ((x * 5 + y * 7) % 251))))) AS ws
        FROM (SELECT doc_id, 3 + doc_id % 11 AS w, 2 + doc_id % 9 AS h
              FROM documents WHERE doc_id % 4 = 2)
    ),
    adam7_agg AS (
        SELECT 'decode:png-adam7' AS kind,
               CAST(COUNT(*) AS BIGINT) AS n_media,
               CAST(SUM(ws) AS BIGINT) AS sum_wpx,
               CAST(SUM(npx) AS BIGINT) AS sum_npixels
        FROM adam7_sums
    ),
    png16_sums AS (
        SELECT doc_id, w * h AS npx,
               list_sum(flatten(list_transform(generate_series(0, h - 1), y ->
                   list_transform(generate_series(0, w - 1), x ->
                       (1 + x + w * y) * (((x * 301 + y * 517) % 65536) // 256))))) AS ws
        FROM (SELECT doc_id, 2 + doc_id % 7 AS w, 1 + doc_id % 5 AS h
              FROM documents WHERE doc_id % 4 = 3)
    ),
    png16_agg AS (
        SELECT 'decode:png16' AS kind,
               CAST(COUNT(*) AS BIGINT) AS n_media,
               CAST(SUM(ws) AS BIGINT) AS sum_wpx,
               CAST(SUM(npx) AS BIGINT) AS sum_npixels
        FROM png16_sums
    ),
    jpeg420_sums AS (
        SELECT doc_id, 256 * cw * ch AS npx,
               64 * list_sum(flatten(list_transform(generate_series(0, 2 * ch - 1), by ->
                   list_transform(generate_series(0, 2 * cw - 1), bx ->
                       (bx * 7 + by * 13 + doc_id) % 256)))) AS ysum,
               256 * list_sum(flatten(list_transform(generate_series(0, ch - 1), cy ->
                   list_transform(generate_series(0, cw - 1), cx ->
                       (cx * 11 + cy * 3 + doc_id) % 256
                       + (cx * 5 + cy * 17 + 2 * doc_id) % 256)))) AS csum
        FROM (SELECT doc_id, 1 + doc_id % 2 AS cw, 1 + doc_id % 3 AS ch
              FROM documents WHERE doc_id % 4 = 3)
    ),
    jpeg420_agg AS (
        SELECT 'decode:jpeg420' AS kind,
               CAST(COUNT(*) AS BIGINT) AS n_media,
               CAST(SUM(ysum) AS BIGINT) AS sum_y,
               CAST(SUM(csum) AS BIGINT) AS sum_cbcr,
               CAST(SUM(npx) AS BIGINT) AS sum_npixels
        FROM jpeg420_sums
    ),
    jpegprog_sums AS (
        SELECT doc_id, 256 * cw * ch AS npx,
               64 * list_sum(flatten(list_transform(generate_series(0, 2 * ch - 1), by ->
                   list_transform(generate_series(0, 2 * cw - 1), bx ->
                       (bx * 7 + by * 13 + doc_id) % 256)))) AS ysum,
               256 * list_sum(flatten(list_transform(generate_series(0, ch - 1), cy ->
                   list_transform(generate_series(0, cw - 1), cx ->
                       (cx * 11 + cy * 3 + doc_id) % 256
                       + (cx * 5 + cy * 17 + 2 * doc_id) % 256)))) AS csum
        FROM (SELECT doc_id, 1 + doc_id % 3 AS cw, 1 + doc_id % 2 AS ch
              FROM documents WHERE doc_id % 8 = 1)
    ),
    jpegprog_agg AS (
        SELECT 'decode:jpegprog' AS kind,
               CAST(COUNT(*) AS BIGINT) AS n_media,
               CAST(SUM(ysum) AS BIGINT) AS sum_y,
               CAST(SUM(csum) AS BIGINT) AS sum_cbcr,
               CAST(SUM(npx) AS BIGINT) AS sum_npixels
        FROM jpegprog_sums
    ),
    sub8_sums AS (
        SELECT doc_id, w * h AS npx,
               list_sum(flatten(list_transform(generate_series(0, h - 1), y ->
                   list_transform(generate_series(0, w - 1), x ->
                       (1 + x + w * y)
                       * (((x * 3 + y * 5 + doc_id) % m) * sc))))) AS ws
        FROM (SELECT doc_id, 2 + doc_id % 9 AS w, 1 + doc_id % 6 AS h,
                     CASE doc_id % 3 WHEN 0 THEN 2 WHEN 1 THEN 4 ELSE 16 END AS m,
                     CASE doc_id % 3 WHEN 0 THEN 255 WHEN 1 THEN 85 ELSE 17 END AS sc
              FROM documents WHERE doc_id % 8 = 5)
    ),
    sub8_agg AS (
        SELECT 'decode:png-sub8' AS kind,
               CAST(COUNT(*) AS BIGINT) AS n_media,
               CAST(SUM(ws) AS BIGINT) AS sum_wpx,
               CAST(SUM(npx) AS BIGINT) AS sum_npixels
        FROM sub8_sums
    ),
    jpeg12_sums AS (
        SELECT doc_id, 64 * bw * bh AS npx,
               64 * list_sum(flatten(list_transform(generate_series(0, bh - 1), by ->
                   list_transform(generate_series(0, bw - 1), bx ->
                       CASE WHEN (doc_id // 8) % 2 = 0
                            THEN 2048 + 32 * (((bx * 7 + by * 13 + doc_id) % 64) - 32)
                            ELSE (709 * bx + 1301 * by + 37 * doc_id) % 4096
                       END)))) AS ps
        FROM (SELECT doc_id, 1 + doc_id % 3 AS bw, 1 + doc_id % 2 AS bh
              FROM documents WHERE doc_id % 8 = 3)
    ),
    jpeg12_agg AS (
        SELECT 'decode:jpeg12' AS kind,
               CAST(COUNT(*) AS BIGINT) AS n_media,
               CAST(SUM(ps) AS BIGINT) AS sum_pixels,
               CAST(SUM(npx) AS BIGINT) AS sum_npixels
        FROM jpeg12_sums
    ),
    tiff_sums AS (
        SELECT doc_id, w * h * spp AS npx,
               list_sum(flatten(list_transform(generate_series(0, h - 1), y ->
                   flatten(list_transform(generate_series(0, w - 1), x ->
                       list_transform(generate_series(0, spp - 1), c ->
                           ((x // 3) * 5 + y * 7 + doc_id + 91 * c) % 256)))))) AS ps
        FROM (SELECT doc_id, 3 + doc_id % 6 AS w, 2 + doc_id % 5 AS h,
                     1 + 2 * ((doc_id // 48) % 2) AS spp
              FROM documents WHERE doc_id % 8 = 6)
    ),
    tiff_agg AS (
        SELECT 'decode:tiff' AS kind,
               CAST(COUNT(*) AS BIGINT) AS n_media,
               CAST(SUM(ps) AS BIGINT) AS sum_pixels,
               CAST(SUM(npx) AS BIGINT) AS sum_npixels
        FROM tiff_sums
    ),
    flac_sums AS (
        SELECT doc_id, n * ch AS nsmp,
               CASE WHEN (doc_id // 8) % 4 = 3
                    THEN n * list_sum(list_transform(generate_series(0, ch - 1), c ->
                         ((doc_id * 37 + 100 * c) % 2048) - 1024))
                    ELSE list_sum(list_transform(generate_series(0, n - 1), j ->
                         ((j * 37) % 2048) - 1024))
                         + CASE WHEN ch = 2
                                THEN list_sum(list_transform(generate_series(0, n - 1), j ->
                                     ((j * 53) % 1024) - 512))
                                ELSE 0 END
               END AS ss
        FROM (SELECT doc_id, 16 + doc_id % 32 AS n, 1 + doc_id % 2 AS ch
              FROM documents WHERE doc_id % 8 = 2)
    ),
    flac_agg AS (
        SELECT 'decode:flac' AS kind,
               CAST(COUNT(*) AS BIGINT) AS n_media,
               CAST(SUM(ss) AS BIGINT) AS sum_samples,
               CAST(SUM(nsmp) AS BIGINT) AS sum_nsamples
        FROM flac_sums
    ),
    ogg_sums AS (
        SELECT doc_id,
               s0 + s1 + s2 AS pbytes,
               list_sum(list_transform(generate_series(0, s0 - 1), i ->
                   (i * 7 + doc_id) % 256))
               + list_sum(list_transform(generate_series(0, s1 - 1), i ->
                   (i * 7 + 13 + doc_id) % 256))
               + list_sum(list_transform(generate_series(0, s2 - 1), i ->
                   (i * 7 + 26 + doc_id) % 256)) AS psum
        FROM (SELECT doc_id,
                     20 + doc_id % 120 AS s0,
                     255 * (1 + doc_id % 2) + 40 + doc_id % 77 AS s1,
                     5 + doc_id % 90 AS s2
              FROM documents WHERE doc_id % 8 = 4)
    ),
    ogg_agg AS (
        SELECT 'probe:ogg' AS kind,
               CAST(COUNT(*) AS BIGINT) AS n_media,
               CAST(2 * COUNT(*) AS BIGINT) AS sum_pages,
               CAST(3 * COUNT(*) AS BIGINT) AS sum_packets,
               CAST(SUM(pbytes) AS BIGINT) AS sum_packet_bytes,
               CAST(SUM(psum) AS BIGINT) AS sum_payload
        FROM ogg_sums
    ),
    ulaw_sums AS (
        SELECT doc_id, n AS nsmp,
               CASE WHEN (doc_id // 8) % 2 = 0 THEN
                   list_sum(list_transform(
                       list_transform(generate_series(0, n - 1), j ->
                           255 - ((j * 11 + doc_id) % 256)),
                       u -> CASE WHEN u >= 128
                            THEN -(((u % 16) * 8 + 132) * (1 << ((u // 16) % 8)) - 132)
                            ELSE ((u % 16) * 8 + 132) * (1 << ((u // 16) % 8)) - 132
                       END))
               ELSE
                   list_sum(list_transform(
                       list_transform(generate_series(0, n - 1), j ->
                           xor((j * 11 + doc_id) % 256, 85)),
                       a -> CASE WHEN a >= 128 THEN 1 ELSE -1 END *
                            CASE WHEN (a // 16) % 8 = 0
                                 THEN (a % 16) * 16 + 8
                                 ELSE ((a % 16) * 16 + 264)
                                      * (1 << ((a // 16) % 8 - 1)) END))
               END AS ss
        FROM (SELECT doc_id, 24 + doc_id % 48 AS n
              FROM documents WHERE doc_id % 8 = 0)
    ),
    ulaw_agg AS (
        SELECT 'decode:wav-ulaw' AS kind,
               CAST(COUNT(*) AS BIGINT) AS n_media,
               CAST(SUM(ss) AS BIGINT) AS sum_samples,
               CAST(SUM(nsmp) AS BIGINT) AS sum_nsamples
        FROM ulaw_sums
    ),
    stbl_fields AS (
        SELECT doc_id, 3 + doc_id % 13 AS n, 1 + doc_id % 4 AS spc,
               10 + doc_id % 5 AS d1, 20 + doc_id % 7 AS d2,
               doc_id % 17 AS omod
        FROM documents WHERE doc_id % 8 = 7
    ),
    stbl_sums AS (
        SELECT doc_id, n,
               list_sum(list_transform(generate_series(0, n - 1), j ->
                   100 + (doc_id + 7 * j) % 64)) AS ssz,
               (n + spc - 1) // spc AS nc,
               (n // 2) * d1 + (n - n // 2) * d2 AS dur,
               list_sum(list_transform(
                   generate_series(0, (n + spc - 1) // spc - 1), k ->
                   1024 + 37 * k + omod)) AS soff
        FROM stbl_fields
    ),
    stbl_agg AS (
        SELECT 'probe:mp4-stbl' AS kind,
               CAST(COUNT(*) AS BIGINT) AS n_media,
               CAST(SUM(n) AS BIGINT) AS sum_samples,
               CAST(SUM(ssz) AS BIGINT) AS sum_sample_bytes,
               CAST(SUM(nc) AS BIGINT) AS sum_chunks,
               CAST(SUM(dur) AS BIGINT) AS sum_duration,
               CAST(SUM(soff) AS BIGINT) AS sum_offsets,
               CAST(SUM(n) AS BIGINT) AS sum_stsc_samples
        FROM stbl_sums
    )
    SELECT kind, metric, value FROM (
        SELECT kind, 'n_media' AS metric, n_media AS value FROM bytes_agg
        UNION ALL SELECT kind, 'total_bytes', total_bytes FROM bytes_agg
        UNION ALL SELECT kind, 'min_bytes', min_bytes FROM bytes_agg
        UNION ALL SELECT kind, 'max_bytes', max_bytes FROM bytes_agg
        UNION ALL SELECT kind, 'n_media', n_media FROM probe_agg
        UNION ALL SELECT kind, 'sum_width', sum_width FROM probe_agg
        UNION ALL SELECT kind, 'sum_height', sum_height FROM probe_agg
        UNION ALL SELECT kind, 'sum_channels', sum_channels FROM probe_agg
        UNION ALL SELECT kind, 'sum_rate', sum_rate FROM probe_agg
        UNION ALL SELECT kind, 'sum_depth', sum_depth FROM probe_agg
        UNION ALL SELECT kind, 'sum_progressive', sum_progressive FROM probe_agg
        UNION ALL SELECT kind, 'n_media', n_media FROM decode_agg
        UNION ALL SELECT kind, 'sum_pixels', sum_pixels FROM decode_agg
        UNION ALL SELECT kind, 'sum_npixels', sum_npixels FROM decode_agg
        UNION ALL SELECT kind, 'n_media', n_media FROM wavdec_agg
        UNION ALL SELECT kind, 'sum_samples', sum_samples FROM wavdec_agg
        UNION ALL SELECT kind, 'sum_nsamples', sum_nsamples FROM wavdec_agg
        UNION ALL SELECT kind, 'n_media', n_media FROM gifdec_agg
        UNION ALL SELECT kind, 'sum_rgb', sum_rgb FROM gifdec_agg
        UNION ALL SELECT kind, 'sum_nrgb', sum_nrgb FROM gifdec_agg
        UNION ALL SELECT kind, 'n_media', n_media FROM bmpdec_agg
        UNION ALL SELECT kind, 'sum_px', sum_px FROM bmpdec_agg
        UNION ALL SELECT kind, 'sum_npx', sum_npx FROM bmpdec_agg
        UNION ALL SELECT kind, 'n_media', n_media FROM pngpal_agg
        UNION ALL SELECT kind, 'sum_pixels', sum_pixels FROM pngpal_agg
        UNION ALL SELECT kind, 'sum_npixels', sum_npixels FROM pngpal_agg
        UNION ALL SELECT kind, 'n_media', n_media FROM bmp8_agg
        UNION ALL SELECT kind, 'sum_px', sum_px FROM bmp8_agg
        UNION ALL SELECT kind, 'sum_npx', sum_npx FROM bmp8_agg
        UNION ALL SELECT kind, 'n_media', n_media FROM jpegdec_agg
        UNION ALL SELECT kind, 'sum_pixels', sum_pixels FROM jpegdec_agg
        UNION ALL SELECT kind, 'sum_npixels', sum_npixels FROM jpegdec_agg
        UNION ALL SELECT kind, 'n_media', n_media FROM adam7_agg
        UNION ALL SELECT kind, 'sum_wpx', sum_wpx FROM adam7_agg
        UNION ALL SELECT kind, 'sum_npixels', sum_npixels FROM adam7_agg
        UNION ALL SELECT kind, 'n_media', n_media FROM png16_agg
        UNION ALL SELECT kind, 'sum_wpx', sum_wpx FROM png16_agg
        UNION ALL SELECT kind, 'sum_npixels', sum_npixels FROM png16_agg
        UNION ALL SELECT kind, 'n_media', n_media FROM jpeg420_agg
        UNION ALL SELECT kind, 'sum_y', sum_y FROM jpeg420_agg
        UNION ALL SELECT kind, 'sum_cbcr', sum_cbcr FROM jpeg420_agg
        UNION ALL SELECT kind, 'sum_npixels', sum_npixels FROM jpeg420_agg
        UNION ALL SELECT kind, 'n_media', n_media FROM jpegprog_agg
        UNION ALL SELECT kind, 'sum_y', sum_y FROM jpegprog_agg
        UNION ALL SELECT kind, 'sum_cbcr', sum_cbcr FROM jpegprog_agg
        UNION ALL SELECT kind, 'sum_npixels', sum_npixels FROM jpegprog_agg
        UNION ALL SELECT kind, 'n_media', n_media FROM sub8_agg
        UNION ALL SELECT kind, 'sum_wpx', sum_wpx FROM sub8_agg
        UNION ALL SELECT kind, 'sum_npixels', sum_npixels FROM sub8_agg
        UNION ALL SELECT kind, 'n_media', n_media FROM ulaw_agg
        UNION ALL SELECT kind, 'sum_samples', sum_samples FROM ulaw_agg
        UNION ALL SELECT kind, 'sum_nsamples', sum_nsamples FROM ulaw_agg
        UNION ALL SELECT kind, 'n_media', n_media FROM ogg_agg
        UNION ALL SELECT kind, 'sum_pages', sum_pages FROM ogg_agg
        UNION ALL SELECT kind, 'sum_packets', sum_packets FROM ogg_agg
        UNION ALL SELECT kind, 'sum_packet_bytes', sum_packet_bytes FROM ogg_agg
        UNION ALL SELECT kind, 'sum_payload', sum_payload FROM ogg_agg
        UNION ALL SELECT kind, 'n_media', n_media FROM flac_agg
        UNION ALL SELECT kind, 'sum_samples', sum_samples FROM flac_agg
        UNION ALL SELECT kind, 'sum_nsamples', sum_nsamples FROM flac_agg
        UNION ALL SELECT kind, 'n_media', n_media FROM tiff_agg
        UNION ALL SELECT kind, 'sum_pixels', sum_pixels FROM tiff_agg
        UNION ALL SELECT kind, 'sum_npixels', sum_npixels FROM tiff_agg
        UNION ALL SELECT kind, 'n_media', n_media FROM jpeg12_agg
        UNION ALL SELECT kind, 'sum_pixels', sum_pixels FROM jpeg12_agg
        UNION ALL SELECT kind, 'sum_npixels', sum_npixels FROM jpeg12_agg
        UNION ALL SELECT kind, 'n_media', n_media FROM stbl_agg
        UNION ALL SELECT kind, 'sum_samples', sum_samples FROM stbl_agg
        UNION ALL SELECT kind, 'sum_sample_bytes', sum_sample_bytes FROM stbl_agg
        UNION ALL SELECT kind, 'sum_chunks', sum_chunks FROM stbl_agg
        UNION ALL SELECT kind, 'sum_duration', sum_duration FROM stbl_agg
        UNION ALL SELECT kind, 'sum_offsets', sum_offsets FROM stbl_agg
        UNION ALL SELECT kind, 'sum_stsc_samples', sum_stsc_samples FROM stbl_agg
    )
    """,
)
def multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column metadata inventory, long format (kind, metric,
    value):

    kind='image|audio|video' — storage accounting over opaque
    payloads (count + octet-length stats), the rollup every
    multimodal corpus needs; payloads are never opened.

    kind='probe:<format>' — the HEADER-PROBE gate (round 4): every
    document gets a REAL container (PNG/JPEG/WAV/MP4, header fields
    derived arithmetically from its id — ``_synth_fields``), the
    bytes go through the header probe (real JPEG SOF walk, real
    ISO-BMFF box traversal, PNG/WAV header reads), and per-format
    SUMS of the parsed fields are compared against the oracle's
    CLOSED-FORM sums from the same id arithmetic.  The oracle never
    parses a byte — if the parser misreads any width/height/channel/
    rate/depth/progressive field in any container, the sums diverge
    and the driver hash fails.

    Every other kind is one entry of ``operators.multimodal.CODECS``
    (decode:png/wav/gif/bmp/png-pal/bmp8/jpeg/png-adam7/png16/
    jpeg420/jpegprog/png-sub8/jpeg12/tiff/flac/wav-ulaw, probe:ogg,
    probe:mp4-stbl): a residue class of ids whose containers carry
    KNOWN content, decoded through the shipped decoder to exact
    integer sums the oracle derives in closed form.  The entries
    document their own gate devices.

    Plan shape: one Arrow kernel (``measure_codecs``) over the spread
    doc ids synthesizes each container once, probes and measures it,
    and emits long rows; one (kind, metric) sum folds them.  The probe
    kinds group by the parsed format like the oracle's GROUP BY; the
    CODECS kinds keep the oracle's global-aggregate result for an
    empty residue class (n_media = 0, NULL sums) through the
    ``codec_skeleton`` rows unioned in before the sum."""
    docs = table(spark, sf_dir, "documents")
    media = synthesize_media(docs)
    n_bytes = F.octet_length("payload")
    bytes_agg = media.groupBy("kind").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_media"),
        F.sum(n_bytes).cast("bigint").alias("total_bytes"),
        F.min(n_bytes).cast("bigint").alias("min_bytes"),
        F.max(n_bytes).cast("bigint").alias("max_bytes"),
    )
    bytes_long = bytes_agg.selectExpr(
        "kind",
        "stack(4, 'n_media', n_media, 'total_bytes', total_bytes, "
        "'min_bytes', min_bytes, 'max_bytes', max_bytes) AS (metric, value)",
    )
    gated = (
        measure_codecs(spread(docs.select("doc_id")))
        .unionByName(codec_skeleton(spark))
        .groupBy("kind", "metric")
        .agg(F.sum("value").cast("bigint").alias("value"))
    )
    return bytes_long.unionByName(gated)


@query(
    "multimodal_decode_frames",
    oracle="""
    WITH media AS (
        SELECT doc_id AS media_id,
               CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                    ELSE 'video' END AS kind,
               text
        FROM documents
    ),
    decoded AS (
        SELECT media_id, kind,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               CAST(16 + CASE WHEN length(text) >= 1
                              THEN ascii(substr(text, 1, 1)) ELSE 0 END % 64 AS INT) AS width,
               CAST(16 + CASE WHEN length(text) >= 2
                              THEN ascii(substr(text, 2, 1)) ELSE 0 END % 64 AS INT) AS height,
               CAST(CASE kind WHEN 'audio' THEN 1 ELSE 3 END AS INT) AS n_channels
        FROM media
    ),
    vid AS (
        SELECT media_id, text,
               greatest(octet_length(encode(text)) // 4, 1) AS step
        FROM media WHERE kind = 'video'
    ),
    frames AS (
        SELECT media_id, i AS frame_no,
               substr(text, i * step + 1, step) AS chunk
        FROM vid CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i)
    )
    SELECT d.media_id, d.kind, d.n_bytes, d.width, d.height, d.n_channels,
           f.frame_no,
           CAST(octet_length(encode(f.chunk)) AS BIGINT) AS frame_len,
           md5(f.chunk) AS frame_md5
    FROM decoded d
    LEFT JOIN (SELECT * FROM frames WHERE chunk <> '') f
           ON d.media_id = f.media_id
    """,
)
def multimodal_decode_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched mapInPandas decode + video frame sampling in one
    inventory (merged registry slot — formerly ``multimodal_decode_
    stub`` + ``multimodal_frame_sample``; both kernels stay fully
    oracle-checked).

    Decode (stubbed kernel — see operators.multimodal): binary → typed
    (width, height, channels) metadata; the fake decode is a pure
    function of the payload bytes, so the oracle recomputes it with
    character ops (byte-identical on the ASCII-only fixture; the Spark
    kernel is byte-true for any input).  Frame sampling fans each
    video payload out to 4 evenly-spaced binary slices via
    mapInPandas; each frame projects to (byte length, md5) so slicing
    offsets and CONTENT are hash-verified.  The LEFT JOIN keeps one
    row per image/audio medium (frame columns NULL) and one row per
    sampled frame for video — the per-medium grain a multimodal
    training pipeline feeds downstream.  Exact-value kernel tests in
    tests/test_multimodal.py."""
    media = synthesize_media(table(spark, sf_dir, "documents"))
    decoded = decode_media(media)
    frames = sample_frames(media).select(
        F.col("media_id").alias("f_media_id"),
        "frame_no",
        F.octet_length("frame_bytes").cast("bigint").alias("frame_len"),
        F.md5("frame_bytes").alias("frame_md5"),
    )
    return decoded.join(
        frames, decoded.media_id == frames.f_media_id, "left"
    ).select(
        "media_id", "kind", "n_bytes", "width", "height", "n_channels",
        "frame_no", "frame_len", "frame_md5",
    )
