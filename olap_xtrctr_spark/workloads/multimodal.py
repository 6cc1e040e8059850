"""Multimodal entries: binary payloads through decode, resize, frame
and feature extraction — the synthetic codec plumbing and the real
WAV/PPM decoders.
"""
from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import multimodal as M
from ..operators.multimodal import extract_features, synthetic_media


# WAV fixture: id i -> 200 + (i%5)*40 PCM16 mono samples at
# 8000*(1+i%3) Hz, s(t) = ((i*2654435761 + t*69069) % 65536) - 32768.
_WAV_ORACLE = """WITH m AS (SELECT unnest(generate_series(0, 127)) AS i),
    p AS (SELECT i, 200 + (i % 5) * 40 AS n, 8000 * (1 + i % 3) AS rate
          FROM m),
    t AS (SELECT i, n, rate, unnest(generate_series(0, n - 1)) AS t
          FROM p),
    s AS (SELECT i, n, rate, t,
                 ((i * 2654435761 + t * 69069) % 65536) - 32768 AS v
          FROM t),
    z AS (SELECT i, n, rate, t, v,
                 lag(v) OVER (PARTITION BY i ORDER BY t) AS pv
          FROM s)
    SELECT CAST(i AS BIGINT) AS media_id,
           CAST(rate AS INTEGER) AS sample_rate,
           CAST(n AS BIGINT) AS n_samples,
           CAST(SUM(v) AS BIGINT) AS sum_amp,
           CAST(SUM(v * v) AS BIGINT) AS sum_sq,
           CAST(MIN(v) AS INTEGER) AS min_amp,
           CAST(MAX(v) AS INTEGER) AS max_amp,
           CAST(COUNT(*) FILTER (WHERE pv IS NOT NULL
                                   AND (pv < 0) <> (v < 0)) AS BIGINT)
               AS n_zero_cross
    FROM z GROUP BY i, n, rate"""

# PPM fixture: id i -> (16 + (i%4)*4) x (12 + (i%3)*4) RGB, pixel
# p(x,y,c) = (i*31 + x*7 + y*13 + c*101) % 256.  wsum_px is the
# position-weighted checksum: v * (1 + byte_offset % 97), byte_offset
# = (y*w + x)*3 + c — order-sensitive, catches axis/channel swaps.
_PPM_STATS = """SELECT CAST(i AS BIGINT) AS media_id,
           CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           CAST(SUM(v) FILTER (WHERE c = 0) AS BIGINT) AS sum_r,
           CAST(SUM(v) FILTER (WHERE c = 1) AS BIGINT) AS sum_g,
           CAST(SUM(v) FILTER (WHERE c = 2) AS BIGINT) AS sum_b,
           CAST(SUM(v * (1 + ((y * w + x) * 3 + c) % 97)) AS BIGINT)
               AS wsum_px
    FROM v GROUP BY i, w, h"""

_PPM_ORACLE = ("""WITH m AS (SELECT unnest(generate_series(0, 95)) AS i),
    d AS (SELECT i, 16 + (i % 4) * 4 AS w, 12 + (i % 3) * 4 AS h FROM m),
    yy AS (SELECT i, w, h, unnest(generate_series(0, h - 1)) AS y FROM d),
    xx AS (SELECT i, w, h, y, unnest(generate_series(0, w - 1)) AS x
           FROM yy),
    cc AS (SELECT i, w, h, y, x, unnest(generate_series(0, 2)) AS c
           FROM xx),
    v AS (SELECT i, w, h, y, x, c,
                 (i * 31 + x * 7 + y * 13 + c * 101) % 256 AS v
          FROM cc)
    """ + _PPM_STATS)

# Resized raster: out 8x8, src_x = (x*w)//8, src_y = (y*h)//8 (top-left
# nearest-neighbor) — the oracle evaluates the pixel formula at the
# mapped source coordinates and weights by the OUTPUT raster offset.
_PPM_RESIZE_ORACLE = """WITH m AS (
        SELECT unnest(generate_series(0, 95)) AS i),
    d AS (SELECT i, 16 + (i % 4) * 4 AS sw, 12 + (i % 3) * 4 AS sh FROM m),
    yy AS (SELECT i, sw, sh, unnest(generate_series(0, 7)) AS y FROM d),
    xx AS (SELECT i, sw, sh, y, unnest(generate_series(0, 7)) AS x
           FROM yy),
    cc AS (SELECT i, sw, sh, y, x, unnest(generate_series(0, 2)) AS c
           FROM xx),
    v AS (SELECT i, 8 AS w, 8 AS h, y, x, c,
                 (i * 31 + ((x * sw) // 8) * 7
                  + ((y * sh) // 8) * 13 + c * 101) % 256 AS v
          FROM cc)
    """ + _PPM_STATS


def register(add) -> None:
    # multimodal plumbing: binary payloads → mapInPandas feature extraction
    # (deterministic fake codec — no media libs in this container; the
    # Spark-side schema/batching/partitioning is the real thing under test)

    def multimodal_canon(spark, sf):
        # Library callers get the raw array<float> feature column from
        # extract_features; the harness entry serializes it (floor-
        # quantized to 1e-6, comma-joined) because the driver's
        # canonicalizer hashes cell values and an array cell is
        # unhashable.  floor (not round) so there is no tie-breaking
        # rule to disagree on cross-engine; the float32 -> double
        # promotion and the multiply are IEEE-exact on both.
        feats = extract_features(synthetic_media(spark, 256), dim=8)
        return feats.select(
            "media_id", "kind", "n_bytes", "digest",
            F.concat_ws(",", F.transform(
                F.col("feature"),
                lambda x: F.floor(x.cast("double") * F.lit(1000000.0))
                           .cast("bigint").cast("string")))
             .alias("feature_q"))

    def multimodal_resize(spark, sf):
        from ..operators.multimodal import resize_images, synthetic_media
        media = synthetic_media(spark, 256).filter(F.col("kind") == "image")
        return resize_images(media, 64, 64).select(
            "media_id", "kind", "target_w", "target_h", "digest")

    # resize: stub codec is a digest chain over (payload_hex, WxH), so
    # the oracle rebuilds the fixture and recomputes the chain
    add("multimodal_resize", multimodal_resize,
        """WITH m AS (SELECT unnest(generate_series(0, 255)) AS i),
        p AS (SELECT i, repeat(md5(CAST(i AS VARCHAR)), 1 + i % 4) AS ph
              FROM m WHERE i % 3 = 0)
        SELECT CAST(i AS BIGINT) AS media_id, 'image' AS kind,
               CAST(64 AS INTEGER) AS target_w,
               CAST(64 AS INTEGER) AS target_h,
               sha256(concat(ph, ':64x64')) AS digest
        FROM p""")

    def multimodal_frames(spark, sf):
        from ..operators.multimodal import sample_frames, synthetic_media
        return sample_frames(synthetic_media(spark, 256), stride=2)

    # frame sampling: 1->N fan-out; n_frames = 1 + n_bytes % 5 with
    # n_bytes = 16*(1+i%4), stride 2, frame digest chained off the
    # payload digest
    add("multimodal_frames", multimodal_frames,
        """WITH m AS (SELECT unnest(generate_series(0, 255)) AS i),
        p AS (SELECT i, repeat(md5(CAST(i AS VARCHAR)), 1 + i % 4) AS ph,
                     16 * (1 + i % 4) AS n_bytes
              FROM m WHERE i % 3 = 2),
        f AS (SELECT i, ph,
                     unnest(generate_series(0, n_bytes % 5, 2)) AS frame_idx
              FROM p)
        SELECT CAST(i AS BIGINT) AS media_id,
               CAST(frame_idx AS INTEGER) AS frame_idx,
               sha256(concat(sha256(ph), ':', CAST(frame_idx AS VARCHAR)))
                   AS frame_digest
        FROM f""")

    # Full oracle: the synthetic fixture and the fake codec are both
    # hex-string hash chains precisely so DuckDB (VARCHAR-only hash
    # functions) can recompute every column, including the per-element
    # float32 feature quantization.
    add("multimodal_features", multimodal_canon,
        """WITH m AS (SELECT unnest(generate_series(0, 255)) AS i),
        p AS (SELECT i,
                     repeat(md5(CAST(i AS VARCHAR)), 1 + i % 4) AS ph
              FROM m),
        d AS (SELECT i, ph, sha256(ph) AS dg, sha256(sha256(ph)) AS fd
              FROM p)
        SELECT CAST(i AS BIGINT) AS media_id,
               CASE CAST(i % 3 AS INTEGER) WHEN 0 THEN 'image'
                    WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
               CAST(length(ph) / 2 AS INTEGER) AS n_bytes,
               dg AS digest,
               array_to_string(list_transform(generate_series(0, 7), j ->
                 CAST(FLOOR(CAST(CAST(CAST(TRY_CAST(concat('0x',
                        substr(fd, 8*j+7, 2) || substr(fd, 8*j+5, 2) ||
                        substr(fd, 8*j+3, 2) || substr(fd, 8*j+1, 2))
                      AS BIGINT) AS DOUBLE) / 4294967296 AS REAL) AS DOUBLE)
                      * 1000000.0) AS BIGINT)), ',') AS feature_q
        FROM d""")

    add("multimodal_wav_decode_stats",
        lambda spark, sf: M.wav_decode_stats(
            M.synthetic_wav_media(spark, 128)),
        _WAV_ORACLE)

    add("multimodal_ppm_decode_stats",
        lambda spark, sf: M.ppm_decode_stats(
            M.synthetic_ppm_media(spark, 96)),
        _PPM_ORACLE)

    add("multimodal_ppm_resize_real",
        lambda spark, sf: M.ppm_resize_stats(
            M.synthetic_ppm_media(spark, 96), 8, 8),
        _PPM_RESIZE_ORACLE)
