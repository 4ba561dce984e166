"""Multimodal tests: real BMP/PNG/JPEG/WAV/RAWV codec round trips
through the Arrow mapInPandas operators — plus the strict gate for
formats that genuinely have no in-container codec (mp3/mp4)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from degdb_spark.functions import codecs as C
from degdb_spark.operators import multimodal as M


@pytest.fixture(scope="module")
def media(spark):
    return M.synthetic_media(spark, n=60)


def test_media_schema(media):
    assert media.schema == M.MEDIA_SCHEMA
    assert media.count() == 60
    kinds = {r.kind for r in media.select("kind").distinct().collect()}
    assert kinds == {"image", "audio", "video"}


def test_payloads_are_real_formats(media):
    rows = media.select("kind", "payload", "meta").limit(9).collect()
    for r in rows:
        magic = bytes(r.payload[:4])
        if r.kind == "image":
            assert magic[:2] == b"BM" and r.meta.format == "bmp"
        elif r.kind == "audio":
            assert magic == b"RIFF" and r.meta.format == "wav"
        else:
            assert magic == b"RAWV" and r.meta.format == "rawv"


def test_extract_features_shape_and_determinism(media):
    out = M.extract_features(media, batch_rows=16)
    rows = out.collect()
    assert len(rows) == 60
    assert all(len(r.features) == M.FEATURE_DIM for r in rows)
    assert all(r.n_bytes > 0 for r in rows)
    # deterministic across runs
    again = {r.media_id: r.features for r in M.extract_features(media).collect()}
    first = {r.media_id: r.features for r in rows}
    assert first == again


def test_strict_mode_works_on_native_formats(media):
    # BMP/WAV/RAWV have real in-container codecs — strict no longer raises
    assert M.extract_features(media, strict=True).count() == 60


def test_strict_mode_raises_for_foreign_formats():
    # mp3 (ID3 container) has no in-container codec
    mp3 = b"ID3\x04\x00\x00\x00\x00\x00\x00" + b"\x00" * 64
    with pytest.raises(NotImplementedError):
        M.decode_features(mp3, strict=True)
    # non-strict falls back to the marked fake
    assert len(M.decode_features(mp3)) == M.FEATURE_DIM
    # PNG and JPEG are NATIVE now: corrupt payloads are hard decode
    # errors in either mode, never a silent fake-feature fallback
    with pytest.raises(ValueError):
        M.decode_features(b"\x89PNG\r\n\x1a\n" + b"\x00" * 64, strict=True)
    with pytest.raises(ValueError):
        M.decode_features(b"\x89PNG\r\n\x1a\n" + b"\x00" * 64)
    with pytest.raises(ValueError):
        M.decode_features(b"\xff\xd8\xff\xe0" + b"\x00" * 64, strict=True)
    with pytest.raises(ValueError):
        M.decode_features(b"\xff\xd8\xff\xe0" + b"\x00" * 64)


def test_resize_real_pixels(media):
    out = M.resize_images(media, 128, 128).collect()
    n_images = media.filter(F.col("kind") == "image").count()
    assert len(out) == n_images
    for r in out:
        assert r.width == 128 and r.height == 128
        px = C.decode_bmp(bytes(r.payload))
        assert px.shape == (128, 128, 3)
    # nearest-neighbor pick is the exact floor(dst*src/out) pixel
    r0 = next(r for r in out if r.media_id == 0)
    w, h = M._image_dims(0)
    src = M._image_pixels(0, w, h)
    dst = C.decode_bmp(bytes(r0.payload))
    assert (dst[5, 17] == src[(5 * h) // 128, (17 * w) // 128]).all()


def test_video_frame_sampling(media):
    out = M.sample_video_frames(media, every_ms=250)
    df = out.groupBy("media_id").agg(
        F.count(F.lit(1)).alias("n"), F.max("frame_ts_ms").alias("mx")
    )
    meta = {
        r.media_id: r.duration_ms
        for r in media.filter(F.col("kind") == "video")
        .select("media_id", F.col("meta.duration_ms").alias("duration_ms"))
        .collect()
    }
    for r in df.collect():
        assert r.n == meta[r.media_id] // 250 + 1
        assert r.mx <= meta[r.media_id]


def test_extract_video_frames_real_decode(media):
    frames = M.extract_video_frames(media).collect()
    # every frame re-encodes as a valid standalone BMP at 32×24
    f = frames[0]
    px = C.decode_bmp(bytes(f.frame_bmp))
    assert px.shape == (M.VIDEO_FRAME_H, M.VIDEO_FRAME_W, 3)
    # frame pixel values match the generator arithmetic
    i, fi = f.media_id, f.frame_idx
    assert px[0, 0, 0] == (11 * fi + i) % 256
    # timestamps follow the container's frame interval
    assert all(r.frame_ts_ms == r.frame_idx * M.VIDEO_FRAME_INTERVAL_MS for r in frames)


def test_audio_stats_match_generator(media):
    stats = {r.media_id: r for r in M.audio_sample_stats(media).collect()}
    i = 1
    s = M._audio_samples(i, 1000 + 37 * i)
    r = stats[i]
    assert r.n_samples == s.size
    assert r.sample_sum == int(s.sum())
    assert (r.sample_min, r.sample_max) == (int(s.min()), int(s.max()))


def test_media_similarity_end_to_end(media):
    out = M.media_embedding_topk(media, k=3).collect()
    assert len(out) == 9  # 3 queries × top-3
    assert all(-1.0001 <= r.cosine_sim <= 1.0001 for r in out)


def test_image_ahash_bands(media):
    hashes = {r.media_id: (r.b0, r.b1, r.b2, r.b3) for r in M.image_ahash(media).collect()}
    # one hash per image, four 16-bit bands each
    n_images = media.filter(media.kind == "image").count()
    assert len(hashes) == n_images
    assert all(0 <= b <= 0xFFFF for bands in hashes.values() for b in bands)
    # aHash is computed from the REAL decoded payload: replay the
    # generator arithmetic independently for one image and compare
    import numpy as np

    i = 0
    w, h = M._image_dims(i)
    px = M._image_pixels(i, w, h).astype(np.int64)
    gs = px.sum(axis=2)
    blocks = gs.reshape(8, h // 8, 8, w // 8).sum(axis=(1, 3))
    bits = (blocks.reshape(64) * 64 > blocks.sum()).astype(int)
    expect = tuple(
        int(sum(int(b) << j for j, b in enumerate(bits[16 * k : 16 * k + 16])))
        for k in range(4)
    )
    assert hashes[0] == expect


def test_audio_ahash_bands(media):
    import numpy as np

    hashes = {r.media_id: (r.b0, r.b1, r.b2, r.b3) for r in M.audio_ahash(media).collect()}
    n_audio = media.filter(media.kind == "audio").count()
    assert len(hashes) == n_audio
    assert all(0 <= b <= 0xFFFF for bands in hashes.values() for b in bands)
    # replay the generator arithmetic for one clip
    i = 1
    s = M._audio_samples(i, 1000 + 37 * i).astype(np.int64)
    flen = s.size // 64
    en = (s[: flen * 64].reshape(64, flen) ** 2).sum(axis=1)
    bits = (en * 64 > en.sum()).astype(int)
    expect = tuple(
        int(sum(int(b) << j for j, b in enumerate(bits[16 * k : 16 * k + 16])))
        for k in range(4)
    )
    assert hashes[i] == expect


def test_audio_ahash_rejects_degenerate_clips(spark):
    """A clip shorter than 64 samples must raise, not fingerprint
    all-zero (which would spuriously near-dup every degenerate clip)."""
    import numpy as np

    from pyspark.sql import Row

    wav = C.encode_wav(np.arange(10, dtype=np.int16), 8000)
    df = spark.createDataFrame(
        [Row(media_id=0, kind="audio", payload=bytearray(wav))],
        "media_id long, kind string, payload binary",
    )
    with pytest.raises(Exception, match="64 samples"):
        M.audio_ahash(df).collect()


# ------------------------------------------------------------------ PNG


def test_png_media_pixel_stats_match_bmp(spark):
    """Same closed-form pixels through BOTH image codecs: the PNG path
    (inflate + unfilter) must land on identical integer stats as the
    BMP path — one oracle certifies two decoders."""
    bmp_media = M.synthetic_media(spark, 9)  # media_ids 0,3,6 are images
    png_media = M.synthetic_png_media(spark, 9)  # all 9 are images
    bmp_stats = {
        r.media_id: (r.width, r.height, r.n_pixels, r.pixel_sum, r.pixel_min, r.pixel_max)
        for r in M.image_pixel_stats(bmp_media).collect()
    }
    png_stats = {
        r.media_id: (r.width, r.height, r.n_pixels, r.pixel_sum, r.pixel_min, r.pixel_max)
        for r in M.image_pixel_stats(png_media).collect()
    }
    assert set(bmp_stats) == {0, 3, 6}
    assert len(png_stats) == 9
    for mid in bmp_stats:
        assert png_stats[mid] == bmp_stats[mid]


def test_png_strict_features(spark):
    out = M.extract_features(M.synthetic_png_media(spark, 6), strict=True).collect()
    assert len(out) == 6
    assert all(len(r.features) == M.FEATURE_DIM for r in out)


def test_ahash_neardup_over_png(spark):
    """aHash near-dup works over PNG inputs: a PNG re-encode of an image
    with a one-pixel nudge collides on all four 16-bit bands."""
    import numpy as np

    w, h = M._image_dims(2)
    px = M._image_pixels(2, w, h)
    tweaked = px.copy()
    tweaked[0, 0, 0] = (int(tweaked[0, 0, 0]) + 1) % 256
    rows = [
        (0, "image", bytearray(C.encode_png(px)), ("png", w, h, None, None)),
        (1, "image", bytearray(C.encode_png(tweaked)), ("png", w, h, None, None)),
        (2, "image", bytearray(C.encode_png(np.zeros((64, 64, 3), np.uint8))), ("png", 64, 64, None, None)),
    ]
    media = spark.createDataFrame(rows, schema=M.MEDIA_SCHEMA)
    hashes = {r.media_id: (r.b0, r.b1, r.b2, r.b3) for r in M.image_ahash(media).collect()}
    assert hashes[0] == hashes[1]  # near-identical images collide
    assert hashes[0] != hashes[2]


def test_jpeg_media_pixel_stats_match_closed_form(spark):
    """The quantization-exact JPEG fixture decodes BIT-EXACTLY (see
    functions/jpeg.py), so integer pixel stats through the full Arrow
    mapInPandas path must equal the closed-form pattern — the same
    contract media_jpeg_decode's DuckDB oracle checks."""
    import numpy as np

    n = 10
    media = M.synthetic_jpeg_media(spark, n)
    got = {
        r.media_id: (r.width, r.height, r.n_pixels, r.pixel_sum, r.pixel_min, r.pixel_max)
        for r in M.image_pixel_stats(media).collect()
    }
    assert len(got) == n
    for i in range(n):
        w = 56 + (i % 9) * 12
        h = 56 + (i % 7) * 12
        px = M.jpeg_exact_pixels(i, w, h)
        want = (w, h, px.size, int(px.sum(dtype=np.int64)), int(px.min()), int(px.max()))
        assert got[i] == want


def test_jpeg_strict_features(spark):
    out = M.extract_features(M.synthetic_jpeg_media(spark, 6), strict=True).collect()
    assert len(out) == 6
    assert all(len(r.features) == M.FEATURE_DIM for r in out)


def test_ahash_neardup_over_jpeg(spark):
    """aHash near-dup works across LOSSY re-encodes: the same smooth
    image as JPEG and as PNG must collide on all four 16-bit bands
    (that robustness is aHash's whole job), while a reversed gradient
    must not."""
    import numpy as np

    from degdb_spark.functions.jpeg import encode_jpeg

    ramp = np.linspace(20, 235, 64)
    px = np.clip(
        np.round(
            np.stack(
                [np.add.outer(ramp, ramp) / 2] * 3,
                axis=2,
            )
        ),
        0,
        255,
    ).astype(np.uint8)
    rows = [
        (0, "image", bytearray(encode_jpeg(px, quality=90, subsample=False)), ("jpeg", 64, 64, None, None)),
        (1, "image", bytearray(C.encode_png(px)), ("png", 64, 64, None, None)),
        (2, "image", bytearray(C.encode_png(px[::-1].copy())), ("png", 64, 64, None, None)),
    ]
    media = spark.createDataFrame(rows, schema=M.MEDIA_SCHEMA)
    hashes = {r.media_id: (r.b0, r.b1, r.b2, r.b3) for r in M.image_ahash(media).collect()}
    assert hashes[0] == hashes[1]  # lossy vs lossless of the SAME image
    assert hashes[0] != hashes[2]


def test_gif_media_pixel_stats_match_bmp(spark):
    """Same closed-form pixels through a THIRD compression: the GIF
    path (LZW + palette) must land on identical integer stats as the
    BMP and PNG paths — one oracle now certifies three decoders."""
    bmp_media = M.synthetic_media(spark, 9)  # media_ids 0,3,6 are images
    gif_media = M.synthetic_gif_media(spark, 9)
    bmp_stats = {
        r.media_id: (r.width, r.height, r.n_pixels, r.pixel_sum, r.pixel_min, r.pixel_max)
        for r in M.image_pixel_stats(bmp_media).collect()
    }
    gif_stats = {
        r.media_id: (r.width, r.height, r.n_pixels, r.pixel_sum, r.pixel_min, r.pixel_max)
        for r in M.image_pixel_stats(gif_media).collect()
    }
    assert len(gif_stats) == 9
    for mid in bmp_stats:
        assert gif_stats[mid] == bmp_stats[mid]


def test_gif_strict_features(spark):
    out = M.extract_features(M.synthetic_gif_media(spark, 6), strict=True).collect()
    assert len(out) == 6
    assert all(len(r.features) == M.FEATURE_DIM for r in out)


def test_gif_video_frames_match_rawv(spark):
    """Animated GIF through the video seam: the SAME closed-form frame
    stacks through the real container must produce byte-identical
    extracted frames (ts + re-encoded BMP) as the toy RAWV container —
    one oracle, two containers, and the real one carries its
    timestamps in graphic-control delays."""
    rawv = M.synthetic_media(spark, 9)  # media_ids 2,5,8 are video
    gifv = M.synthetic_gif_video_media(spark, 9)

    def frames_of(media, ids):
        return {
            (r.media_id, r.frame_idx): (r.frame_ts_ms, bytes(r.frame_bmp))
            for r in M.extract_video_frames(media).collect()
            if r.media_id in ids
        }

    got_rawv = frames_of(rawv, {2, 5, 8})
    got_gif = frames_of(gifv, {2, 5, 8})
    assert got_rawv and got_gif == got_rawv

    # feature path: animated GIF routes to the VIDEO features and they
    # equal the RAWV features for the same frames
    raw_feats = {
        r.media_id: tuple(r.features)
        for r in M.extract_features(rawv, strict=True).collect()
        if r.media_id in {2, 5, 8}
    }
    gif_feats = {
        r.media_id: tuple(r.features)
        for r in M.extract_features(gifv, strict=True).collect()
        if r.media_id in {2, 5, 8}
    }
    assert gif_feats == raw_feats


def test_incremental_pairs_match_full_under_random_splits(spark):
    """Definitional property of the incremental banded join: for
    RANDOM corpora and RANDOM batch boundaries, the union of
    sequential incremental emissions equals the full-corpus pair set
    exactly, each pair exactly once."""
    import numpy as np

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(st.randoms(use_true_random=False))
    def prop(rnd):
        rng = np.random.default_rng(rnd.randrange(2**31))
        n = int(rng.integers(4, 10))
        # random smooth images, some duplicated with a tiny nudge so
        # real collisions exist
        ramp = np.linspace(0, 255, 32)
        base_imgs = []
        for i in range(n):
            g = np.clip(
                np.round(np.add.outer(ramp, ramp * float(rng.uniform(0.3, 1.0))) / 2)
                + float(rng.integers(0, 60)),
                0,
                255,
            ).astype(np.uint8)
            base_imgs.append(np.repeat(g[:, :, None], 3, axis=2))
        hashes_rows = []
        for mid in range(n):
            src = base_imgs[mid if rng.random() < 0.5 else int(rng.integers(0, n))]
            px = src.copy()
            px[0, 0, 0] = (int(px[0, 0, 0]) + int(rng.integers(0, 3))) % 256
            hashes_rows.append((mid, px))
        media = spark.createDataFrame(
            [
                (mid, "image", bytearray(C.encode_png(px)), ("png", 32, 32, None, None))
                for mid, px in hashes_rows
            ],
            schema=M.MEDIA_SCHEMA,
        )
        hashes = M.image_ahash(media).localCheckpoint(eager=True)
        full = {
            (r.id_a, r.id_b): (r.hamming, r.near_dup)
            for r in M.banded_neardup_pairs(hashes).collect()
        }
        # random split into 1-3 sequential batches
        cuts = sorted(rng.choice(range(n + 1), size=int(rng.integers(0, 3))).tolist())
        bounds = [0, *cuts, n]
        got = {}
        emitted = 0
        for k in range(len(bounds) - 1):
            lo, hi = bounds[k], bounds[k + 1]
            new = hashes.filter(
                (F.col("media_id") >= lo) & (F.col("media_id") < hi)
            )
            old = hashes.filter(F.col("media_id") < lo)
            rows = M.incremental_banded_neardup_pairs(new, old).collect()
            emitted += len(rows)
            got.update({(r.id_a, r.id_b): (r.hamming, r.near_dup) for r in rows})
        assert got == full
        assert emitted == len(full)  # exactly once across batches

    prop()


def test_telephony_wav_through_feature_path(spark):
    """mu-law and A-law WAV payloads flow through the strict feature
    path (sniffed as wav, expanded to int16 by the same decode seam) —
    and their features approximate the PCM16 original's (bounded
    quantization error, not a fake-feature fallback)."""
    import numpy as np

    t = np.arange(16000)
    s = (((t * 5) % 4096) - 2048).astype(np.int16)
    rows = [
        (0, "audio", bytearray(C.encode_wav(s, 16000)), ("wav", None, None, 1000, 16000)),
        (1, "audio", bytearray(C.encode_wav_ulaw(s, 16000)), ("wav", None, None, 1000, 16000)),
        (2, "audio", bytearray(C.encode_wav_alaw(s, 16000)), ("wav", None, None, 1000, 16000)),
    ]
    media = spark.createDataFrame(rows, schema=M.MEDIA_SCHEMA)
    feats = {
        r.media_id: np.array(r.features)
        for r in M.extract_features(media, strict=True).collect()
    }
    assert len(feats) == 3
    for mid in (1, 2):
        # same signal through a telephony quantizer: close, not equal
        assert float(np.abs(feats[mid] - feats[0]).max()) < 0.05
        assert not np.array_equal(feats[mid], feats[0])


# ------------------------------------------------------------------ video


def test_video_ahash_bands(media):
    """video_ahash over the RAWV fixtures: replay the temporal-mean
    fingerprint arithmetic independently for one clip."""
    import numpy as np

    hashes = {r.media_id: (r.b0, r.b1, r.b2, r.b3) for r in M.video_ahash(media).collect()}
    n_video = media.filter(media.kind == "video").count()
    assert len(hashes) == n_video
    assert all(0 <= b <= 0xFFFF for bands in hashes.values() for b in bands)
    i = 2  # media_id 2 is a video
    fr = M._video_frames(i, 1000 + 37 * i).astype(np.int64)
    gs = fr.sum(axis=(0, 3))  # sum over frames and channels -> (H, W)
    h, w = gs.shape
    blocks = gs.reshape(8, h // 8, 8, w // 8).sum(axis=(1, 3))
    bits = (blocks.reshape(64) * 64 > blocks.sum()).astype(int)
    expect = tuple(
        int(sum(int(b) << j for j, b in enumerate(bits[16 * k : 16 * k + 16])))
        for k in range(4)
    )
    assert hashes[i] == expect


def test_video_ahash_identical_across_containers(spark):
    """The SAME frame stack through RAWV and MJPEG-AVI must produce the
    SAME fingerprint: the quantization-exact frames make the AVI's
    lossy JPEG path lossless, so the two containers are byte-equal at
    the frame level and hash-equal at the fingerprint level."""
    from degdb_spark.functions import avi as A

    from pyspark.sql import Row

    frames = M.avi_exact_frames(7, 56, 56, 3)
    rows = [
        Row(media_id=0, kind="video",
            payload=bytearray(C.encode_rawv(frames, 500)),
            meta=("rawv", 56, 56, 1000, None)),
        Row(media_id=1, kind="video",
            payload=bytearray(A.encode_avi_mjpeg(frames, 500)),
            meta=("avi", 56, 56, 1000, None)),
    ]
    df = spark.createDataFrame(rows, schema=M.MEDIA_SCHEMA)
    got = {r.media_id: (r.b0, r.b1, r.b2, r.b3) for r in M.video_ahash(df).collect()}
    assert got[0] == got[1]


def test_avi_frame_extract_matches_rawv_twin(spark):
    """Two-container byte-identity: extract_video_frames over an AVI
    and a RAWV of the SAME frames emits identical (frame_idx,
    frame_ts_ms, frame_bmp) rows — the container seam changes the
    bytes on disk, never the extracted frames."""
    from degdb_spark.functions import avi as A

    from pyspark.sql import Row

    frames = M.avi_exact_frames(4, 68, 56, 4)
    rows = [
        Row(media_id=0, kind="video",
            payload=bytearray(C.encode_rawv(frames, 500)),
            meta=("rawv", 68, 56, 1500, None)),
        Row(media_id=1, kind="video",
            payload=bytearray(A.encode_avi_mjpeg(frames, 500)),
            meta=("avi", 68, 56, 1500, None)),
    ]
    df = spark.createDataFrame(rows, schema=M.MEDIA_SCHEMA)
    out = M.extract_video_frames(df).collect()
    by_vid = {}
    for r in out:
        by_vid.setdefault(r.media_id, {})[r.frame_idx] = (r.frame_ts_ms, bytes(r.frame_bmp))
    assert set(by_vid[0]) == set(by_vid[1]) == {0, 1, 2, 3}
    for fi in range(4):
        assert by_vid[0][fi] == by_vid[1][fi]


def test_avi_strict_features(spark):
    """AVI is a NATIVE format: strict-mode feature extraction decodes
    it for real (no fake fallback), and corrupt AVI payloads raise."""
    media = M.synthetic_avi_media(spark, 6)
    out = M.extract_features(media, strict=True).collect()
    assert len(out) == 6
    assert all(len(r.features) == M.FEATURE_DIM for r in out)
    with pytest.raises(ValueError):
        M.decode_features(b"RIFF\x40\x00\x00\x00AVI " + b"\x00" * 64, strict=True)


def test_mp4_frame_extract_matches_avi_and_rawv_twins(spark):
    """Three-container byte-identity: extract_video_frames over an MP4,
    an AVI and a RAWV of the SAME quantization-exact frames emits
    identical (frame_idx, frame_ts_ms, frame_bmp) rows."""
    from degdb_spark.functions import avi as A
    from degdb_spark.functions import mp4 as M4

    from pyspark.sql import Row

    frames = M.avi_exact_frames(9, 68, 56, 4)
    rows = [
        Row(media_id=0, kind="video",
            payload=bytearray(C.encode_rawv(frames, 500)),
            meta=("rawv", 68, 56, 1500, None)),
        Row(media_id=1, kind="video",
            payload=bytearray(A.encode_avi_mjpeg(frames, 500)),
            meta=("avi", 68, 56, 1500, None)),
        Row(media_id=2, kind="video",
            payload=bytearray(M4.encode_mp4_mjpeg(frames, 500)),
            meta=("mp4", 68, 56, 1500, None)),
    ]
    df = spark.createDataFrame(rows, schema=M.MEDIA_SCHEMA)
    out = M.extract_video_frames(df).collect()
    by_vid = {}
    for r in out:
        by_vid.setdefault(r.media_id, {})[r.frame_idx] = (r.frame_ts_ms, bytes(r.frame_bmp))
    assert set(by_vid) == {0, 1, 2}
    for fi in range(4):
        assert by_vid[0][fi] == by_vid[1][fi] == by_vid[2][fi]
    # and the fingerprint is container-invariant too
    hashes = {r.media_id: (r.b0, r.b1, r.b2, r.b3) for r in M.video_ahash(df).collect()}
    assert hashes[0] == hashes[1] == hashes[2]


def test_mp4_strict_features(spark):
    """MJPEG-MP4 is native (strict decodes for real); an H.264 track in
    the same container raises in strict mode and falls back to the
    marked fake otherwise — the honest gate narrowed to the codec, not
    the container."""
    from degdb_spark.functions import mp4 as M4

    media = M.synthetic_mp4_media(spark, 6)
    out = M.extract_features(media, strict=True).collect()
    assert len(out) == 6
    assert all(len(r.features) == M.FEATURE_DIM for r in out)
    data = M4.encode_mp4_mjpeg(M.avi_exact_frames(1, 56, 56, 2), 500)
    avc = bytearray(data)
    off = bytes(data).index(b"jpeg", bytes(data).index(b"stsd"))
    avc[off : off + 4] = b"avc1"
    with pytest.raises(NotImplementedError):
        M.decode_features(bytes(avc), strict=True)
    assert len(M.decode_features(bytes(avc))) == M.FEATURE_DIM  # marked fake
    # truncated/corrupt MJPEG-mp4 is a hard ValueError in either mode
    with pytest.raises(ValueError):
        M.decode_features(data[:60], strict=True)
    with pytest.raises(ValueError):
        M.decode_features(data[:60])


# ------------------------------------------------------------------ DTMF


def test_dtmf_detector_all_digits_pcm():
    """Every keypad digit round-trips through synth -> detect on raw
    PCM, in one clip, in order."""
    import numpy as np

    from degdb_spark.functions import dsp

    digits = list(range(10))
    s = dsp.synth_dtmf(digits, sample_rate=8000)
    assert s.dtype == np.int16
    assert dsp.detect_dtmf(s, 8000) == "0123456789"


def test_dtmf_survives_mulaw_roundtrip():
    """The detector must read digits AFTER G.711 mu-law quantization —
    the real telephony path (encode_wav_ulaw -> decode_wav)."""
    from degdb_spark.functions import dsp

    for i in (0, 3, 17):
        digits = [(7 * i + 3 * k) % 10 for k in range(4 + i % 4)]
        wav = C.encode_wav_ulaw(dsp.synth_dtmf(digits, sample_rate=8000), 8000)
        rate, s = C.decode_wav(wav)
        assert rate == 8000
        assert dsp.detect_dtmf(s, rate) == "".join(map(str, digits))


def test_dtmf_talk_off_rejects_non_dtmf_tone():
    """A single 1000 Hz tone is energy but not a valid (row, col)
    pair: the twist check must emit '?' instead of hallucinating a
    digit (ITU-T Q.24 talk-off posture)."""
    import numpy as np

    from degdb_spark.functions import dsp

    t = np.arange(8000 * 80 // 1000) / 8000
    tone = np.round(9000 * np.sin(2 * np.pi * 1000.0 * t)).astype(np.int16)
    clip = np.concatenate([tone, np.zeros(320, dtype=np.int16)])
    assert dsp.detect_dtmf(clip, 8000) == "?"


def test_dtmf_probe_matches_planted(spark):
    """The Spark operator over the mu-law fixture table recovers the
    planted digit strings for every clip."""
    media = M.synthetic_dtmf_media(spark, 12)
    got = {r.media_id: (r.n_tones, r.digits) for r in M.dtmf_probe(media).collect()}
    assert len(got) == 12
    for i in range(12):
        want = "".join(str((7 * i + 3 * k) % 10) for k in range(4 + i % 4))
        assert got[i] == (len(want), want), i


def test_dtmf_empty_and_silence_clips():
    """No active segment -> empty digit string, not an error."""
    import numpy as np

    from degdb_spark.functions import dsp

    assert dsp.detect_dtmf(np.zeros(4000, dtype=np.int16), 8000) == ""
    assert dsp.detect_dtmf(np.zeros(0, dtype=np.int16), 8000) == ""


# ------------------------------------------------------------- scene cuts


def test_scene_cuts_match_planted(spark):
    """Planted scene boundaries recovered from real MJPEG-MP4 pixels:
    cuts at every multiple of the scene length, nothing in between."""
    media = M.synthetic_scene_mp4_media(spark, 9)
    got = {
        r.media_id: (r.n_frames, r.n_cuts, r.first_cut, r.last_cut, r.cut_sum)
        for r in M.video_scene_cuts(media).collect()
    }
    assert len(got) == 9
    for i in range(9):
        nf = (1000 + 37 * i) // 500 + 1
        sl = 2 + i % 3
        nc = (nf - 1) // sl
        want = (
            nf,
            nc,
            sl if nc else -1,
            sl * nc if nc else -1,
            sl * nc * (nc + 1) // 2,
        )
        assert got[i] == want, (i, got[i], want)


def test_scene_cuts_single_shot_sentinels(spark):
    """A clip whose frames are all one scene reports zero cuts and the
    -1 sentinels."""
    import numpy as np

    from pyspark.sql import Row

    frames = M.scene_exact_frames(2, 56, 56, 4, 100)  # scene_len > nf
    payload = C.encode_rawv(frames, 500)
    df = spark.createDataFrame(
        [Row(media_id=7, kind="video", payload=bytearray(payload))],
        "media_id long, kind string, payload binary",
    )
    [r] = M.video_scene_cuts(df).collect()
    assert (r.n_frames, r.n_cuts, r.first_cut, r.last_cut, r.cut_sum) == (4, 0, -1, -1, 0)


def test_scene_cuts_container_invariant(spark):
    """The same planted frames through MP4 and RAWV yield identical
    cut reports — the detector sees pixels, not containers."""
    import numpy as np

    from degdb_spark.functions import mp4 as M4
    from pyspark.sql import Row

    frames = M.scene_exact_frames(3, 56, 56, 5, 2)
    rows = [
        Row(media_id=0, kind="video",
            payload=bytearray(M4.encode_mp4_mjpeg(frames, 500, quality=50))),
        Row(media_id=1, kind="video", payload=bytearray(C.encode_rawv(frames, 500))),
    ]
    df = spark.createDataFrame(rows, "media_id long, kind string, payload binary")
    out = {r.media_id: (r.n_frames, r.n_cuts, r.first_cut, r.last_cut, r.cut_sum)
           for r in M.video_scene_cuts(df).collect()}
    assert out[0] == out[1] == (5, 2, 2, 4, 6)


def test_dtmf_probe_quarantines_bad_payload(spark):
    """ADVICE r9: one malformed audio payload in a general media table
    yields a sentinel row (non-strict default) instead of failing the
    whole stage; strict=True re-raises the codec ValueError."""
    from pyspark.sql import Row

    good = M.synthetic_dtmf_media(spark, 2).select("media_id", "kind", "payload")
    bad = spark.createDataFrame(
        [Row(media_id=99, kind="audio", payload=bytearray(b"RIFFgarbage-not-a-wav"))],
        "media_id long, kind string, payload binary",
    )
    table = good.unionByName(bad)
    got = {r.media_id: r for r in M.dtmf_probe(table).collect()}
    assert len(got) == 3
    assert (got[99].sample_rate, got[99].n_tones, got[99].digits) == (-1, -1, None)
    for i in range(2):  # the good clips still decode their planted digits
        want = "".join(str((7 * i + 3 * k) % 10) for k in range(4 + i % 4))
        assert got[i].digits == want
    with pytest.raises(Exception):
        M.dtmf_probe(table, strict=True).collect()


def test_scene_cuts_quarantine_bad_payload(spark):
    """ADVICE r9: video_scene_cuts mirrors the same seam — a malformed
    video payload quarantines as an all−1 sentinel row by default and
    raises under strict=True."""
    from pyspark.sql import Row

    frames = M.scene_exact_frames(1, 56, 56, 5, 2)
    rows = [
        Row(media_id=0, kind="video", payload=bytearray(C.encode_rawv(frames, 500))),
        Row(media_id=1, kind="video", payload=bytearray(b"\x00\x01garbage-video")),
    ]
    df = spark.createDataFrame(rows, "media_id long, kind string, payload binary")
    out = {r.media_id: (r.n_frames, r.n_cuts, r.first_cut, r.last_cut, r.cut_sum)
           for r in M.video_scene_cuts(df).collect()}
    assert out[0] == (5, 2, 2, 4, 6)
    assert out[1] == (-1, -1, -1, -1, -1)
    with pytest.raises(Exception):
        M.video_scene_cuts(df, strict=True).collect()


# ------------------------------------------------------- shot near-dups


def test_shot_fixture_boundaries_are_hard_cuts():
    """Deterministic pin of the fixture guarantee shot_scene_frame's
    docstring points here: over the WHOLE synthetic_shot_media grid
    (24 clips), every adjacent-scene mean |diff| exceeds the cut
    threshold 8, no two scenes of a clip share an aHash, and frames
    within a scene are identical by construction."""
    import numpy as np

    for i in range(24):
        g, s0 = i // 2, i % 2
        n_scenes = 3 + g % 2
        w, h = 64 + (g % 3) * 16, 56 + (g % 2) * 16
        prev, hashes = None, []
        for s in range(s0, n_scenes):
            fr = M.shot_scene_frame(g, w, h, s)
            if prev is not None:
                d = np.abs(fr.astype(np.int32) - prev.astype(np.int32)).mean()
                assert d > 8, (i, s, d)
            prev = fr
            hashes.append(tuple(M._grid_bands(fr.sum(axis=2, dtype=np.int64))))
        assert len(set(hashes)) == len(hashes), i


def test_shot_fingerprints_trim_invariance(spark):
    """The planted prefix-trim twin: the trimmed clip's shot k must
    carry the SAME fingerprint as its source's shot k+1 (the shots
    that survive a trim keep their hashes — the property the
    whole-video temporal-mean hash lacks)."""
    media = M.synthetic_shot_media(spark, 8)
    shots = {
        (r.media_id, r.shot_idx): (r.b0, r.b1, r.b2, r.b3, r.n_frames)
        for r in M.video_shot_fingerprints(media).collect()
    }
    for g in range(4):
        n_scenes = 3 + g % 2
        full, trimmed = 2 * g, 2 * g + 1
        n_full = sum(1 for k in shots if k[0] == full)
        n_trim = sum(1 for k in shots if k[0] == trimmed)
        assert (n_full, n_trim) == (n_scenes, n_scenes - 1)
        for k in range(n_trim):
            assert shots[(trimmed, k)] == shots[(full, k + 1)], (g, k)


def test_shot_overlap_pairs_exactly_the_planted_trims(spark):
    """Video-level shot overlap flags every planted trim pair as a
    near-dup (n_shared = surviving scene count) and NOTHING else —
    the whole-video temporal-mean hash (video_ahash) pairs none of
    them, demonstrating the trim-fragility the shot path fixes."""
    media = M.synthetic_shot_media(spark, 12)
    got = {
        (r.id_a, r.id_b): (r.n_shared, r.near_dup)
        for r in M.shot_overlap_neardups(M.video_shot_fingerprints(media)).collect()
    }
    want = {(2 * g, 2 * g + 1): (2 + g % 2, 1) for g in range(6)}
    assert got == want
    # contrast: the whole-video temporal-mean hash is trim-fragile —
    # it misses MOST of the planted pairs (a trimmed clip averages to
    # a different hash; one pair may still land inside hamming 16 by
    # coincidence), while the shot path above catches all six
    whole = M.banded_neardup_pairs(M.video_ahash(media))
    whole_pairs = {
        (r.id_a, r.id_b) for r in whole.collect() if r.near_dup == 1
    }
    assert len(whole_pairs & set(want)) < len(want) / 2, whole_pairs


def test_shot_fingerprints_quarantine_bad_payload(spark):
    """The strict/quarantine seam mirrors the other media operators:
    a malformed payload yields one all−1 sentinel row by default and
    raises under strict=True."""
    from pyspark.sql import Row

    good = M.synthetic_shot_media(spark, 2).select("media_id", "kind", "payload")
    bad = spark.createDataFrame(
        [Row(media_id=99, kind="video", payload=bytearray(b"\x00\x01not-a-video"))],
        "media_id long, kind string, payload binary",
    )
    table = good.unionByName(bad)
    rows = M.video_shot_fingerprints(table).collect()
    sentinel = [r for r in rows if r.media_id == 99]
    assert len(sentinel) == 1
    assert tuple(sentinel[0])[1:] == (-1, -1, -1, -1, -1, -1)
    assert sum(1 for r in rows if r.media_id != 99) == 3 + 2  # scenes of clips 0,1
    with pytest.raises(Exception):
        M.video_shot_fingerprints(table, strict=True).collect()


def test_incremental_shot_neardups_union_matches_full(spark):
    """Streaming-increment contract: splitting the corpus into two
    batches and unioning the per-batch emissions (new×new + new×old)
    reproduces exactly the full-corpus shot_overlap_neardups result,
    with no pair emitted twice."""
    media = M.synthetic_shot_media(spark, 12)
    shots = M.video_shot_fingerprints(media)
    full = {tuple(r) for r in M.shot_overlap_neardups(shots).collect()}
    first = shots.filter(F.col("media_id") < 6)
    second = shots.filter(F.col("media_id") >= 6)
    empty = spark.createDataFrame(
        [], "media_id long, shot_idx int, n_frames int, b0 long, b1 long, b2 long, b3 long"
    )
    e1 = {tuple(r) for r in M.incremental_shot_neardups(first, empty).collect()}
    e2 = {tuple(r) for r in M.incremental_shot_neardups(second, first).collect()}
    assert e1 | e2 == full
    assert not (e1 & e2)


def test_shot_fingerprints_random_scene_structures(spark):
    """Hypothesis tier for shot segmentation + per-shot hashing: for
    RANDOM scene counts, per-scene lengths, dims, and trim depths
    (content from shot_scene_frame so cuts stay guaranteed-hard), the
    operator must recover exactly one shot per surviving scene with
    the scene's frame count, and a trimmed clip's shots must carry the
    SAME hashes as the corresponding suffix of the full clip's — the
    trim-invariance property, under varying shot lengths this time
    (the aHash is frame-count-invariant by construction)."""
    import numpy as np

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from pyspark.sql import Row

    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(st.randoms(use_true_random=False))
    def prop(rnd):
        g = rnd.randrange(8)
        n_scenes = rnd.randrange(2, 5)
        lens_full = [rnd.randrange(1, 4) for _ in range(n_scenes)]
        s0 = rnd.randrange(1, n_scenes)  # trim depth: drop scenes [0, s0)
        # the trimmed twin may hold each scene a DIFFERENT number of
        # frames — hashes must still match (frame-count invariance)
        lens_trim = [rnd.randrange(1, 4) for _ in range(n_scenes - s0)]
        w = rnd.choice([56, 64])
        h = rnd.choice([56, 64])

        def clip(first_scene, lens):
            return np.stack(
                [
                    M.shot_scene_frame(g, w, h, s)
                    for k, s in enumerate(range(first_scene, n_scenes))
                    for _ in range(lens[k])
                ]
            )

        rows = [
            Row(media_id=0, kind="video",
                payload=bytearray(C.encode_rawv(clip(0, lens_full), 500))),
            Row(media_id=1, kind="video",
                payload=bytearray(C.encode_rawv(clip(s0, lens_trim), 500))),
        ]
        df = spark.createDataFrame(
            rows, "media_id long, kind string, payload binary"
        )
        shots = {
            (r.media_id, r.shot_idx): (r.n_frames, r.b0, r.b1, r.b2, r.b3)
            for r in M.video_shot_fingerprints(df).collect()
        }
        n0 = sum(1 for k in shots if k[0] == 0)
        n1 = sum(1 for k in shots if k[0] == 1)
        assert (n0, n1) == (n_scenes, n_scenes - s0)
        for si in range(n_scenes):
            assert shots[(0, si)][0] == lens_full[si]
        for k in range(n_scenes - s0):
            assert shots[(1, k)][0] == lens_trim[k]
            # trim invariance: hashes equal despite different lengths
            assert shots[(1, k)][1:] == shots[(0, k + s0)][1:], (g, k, s0)

    prop()


def test_validate_media_accepts_flac_and_quarantines_corrupt(spark):
    """FLAC rides the full ingest-validation stage through the
    decode_audio dispatch: a valid file validates ok=1, a
    payload-corrupted one lands as an ok=0 row naming the CRC/MD5
    failure instead of killing the stage."""
    import numpy as np

    from degdb_spark.functions import flac
    from degdb_spark.operators.multimodal import MEDIA_SCHEMA, validate_media

    s = ((np.arange(600) * 7) % 4096 - 2048).astype(np.int16)
    good = flac.encode_flac(s, 16000, block_size=256)
    bad = bytearray(good)
    bad[len(bad) // 2] ^= 0x20
    media = spark.createDataFrame(
        [
            (0, "audio", bytearray(good), ("flac", None, None, 37, 16000)),
            (1, "audio", bad, ("flac", None, None, 37, 16000)),
        ],
        schema=MEDIA_SCHEMA,
    )
    got = {r.media_id: (r.ok, r.error) for r in validate_media(media).collect()}
    assert got[0] == (1, None)
    assert got[1][0] == 0 and "FLAC" in got[1][1]


def test_transcode_audio_flac_cross_codec_parity(spark):
    """transcode_audio_flac is LOSSLESS across every audio container
    the seam decodes: mu-law, ADPCM-exact ramps, and stereo PCM in;
    the FLAC outputs decode to the identical mono samples (stats
    compared through the same operator), and the transcode reports
    honest byte counts."""
    import numpy as np

    from degdb_spark.functions import codecs as C
    from degdb_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        audio_sample_stats,
        transcode_audio_flac,
    )

    t = np.arange(2000, dtype=np.int64)
    mono = ((t * 13) % 4096 - 2048).astype(np.int16)
    left = (2 * ((t * 5) % 2048 - 1024)).astype(np.int16)
    right = (2 * ((t * 9) % 2048 - 1024)).astype(np.int16)
    rows = [
        (0, "audio", bytearray(C.encode_wav(mono, 16000)), ("wav", None, None, 125, 16000)),
        (1, "audio", bytearray(C.encode_wav_ulaw(mono, 8000)), ("wav", None, None, 250, 8000)),
        (2, "audio", bytearray(C.encode_wav_stereo(left, right, 16000)), ("wav", None, None, 125, 16000)),
    ]
    media = spark.createDataFrame(rows, schema=MEDIA_SCHEMA)
    before = {r.media_id: tuple(r)[1:] for r in audio_sample_stats(media).collect()}
    out = transcode_audio_flac(media)
    back = out.select(
        "media_id", F.lit("audio").alias("kind"), "payload"
    )
    after = {r.media_id: tuple(r)[1:] for r in audio_sample_stats(back).collect()}
    assert after == before and len(after) == 3
    sizes = {r.media_id: (r.n_bytes_in, r.n_bytes_out) for r in out.collect()}
    for mid, (nin, nout) in sizes.items():
        assert nin > 0 and nout > 0
    # PCM16 in particular should compress
    assert sizes[0][1] < sizes[0][0]


def test_image_phash_dct_bands(media):
    """DCT pHash (operators/multimodal.image_phash_dct): one hash per
    image in the shared four-16-bit-band layout, replayed for one
    image with a straight-numpy reference from the generator pixels —
    crop to the 32-divisible region, 32x32 block sums, integer DCT,
    median-of-63 threshold."""
    import numpy as np

    hashes = {
        r.media_id: (r.b0, r.b1, r.b2, r.b3)
        for r in M.image_phash_dct(media).collect()
    }
    n_images = media.filter(media.kind == "image").count()
    assert len(hashes) == n_images
    assert all(0 <= b <= 0xFFFF for bands in hashes.values() for b in bands)
    i = 0
    w, h = M._image_dims(i)
    px = M._image_pixels(i, w, h).astype(np.int64)
    h32, w32 = h // 32 * 32, w // 32 * 32
    gs = px[:h32, :w32].sum(axis=2)
    G = gs.reshape(32, h32 // 32, 32, w32 // 32).sum(axis=(1, 3))
    D = M._PHASH_DCT_C @ G @ M._PHASH_DCT_C.T
    low = D[:8, :8].reshape(64)
    med = int(np.sort(np.delete(low, 0))[31])
    bits = (low > med).astype(np.int64)
    assert hashes[0] == tuple(M._pack_bands(bits))
    # the DC bit is the structural constant: D[0,0] dominates
    assert all(b0 & 1 for (b0, _, _, _) in hashes.values())


def test_phash_dct_survives_jpeg_requantization_where_ahash_fails(spark):
    """THE reason industry perceptual dedup is DCT-based (PDQ and
    friends): JPEG requantization perturbs high frequencies and
    block means, not the low-frequency DCT structure. Fixture: a
    64x64 image synthesized in DCT space (all 63 non-DC low
    coefficients given well-separated spread values, seed-12
    permutation), then re-encoded through the REAL JPEG path at
    quality 10. aHash — 64 block means against one global threshold
    — flips >16 bits (NOT a near-dup pair); pHash stays <=16 (still
    pairs). Both hashes computed through the real operators over the
    real decode seam, and the pair decision through the real banded
    join."""
    import numpy as np

    from degdb_spark.functions import codecs as C_
    from degdb_spark.functions import jpeg

    k = np.arange(32)
    Cf = np.cos((2 * k[None, :] + 1) * k[:, None] * np.pi / 64)
    Cf[0, :] *= 1 / np.sqrt(2)
    Cf *= np.sqrt(2 / 32)
    idx = [(a, b) for a in range(8) for b in range(8) if not (a == 0 and b == 0)]
    vals = np.arange(63) - 31.0
    perm = np.random.default_rng(12).permutation(63)
    T = np.zeros((32, 32))
    for r, (a, b) in zip(perm, idx):
        T[a, b] = vals[r]
    g = Cf.T @ T @ Cf
    img32 = np.clip(np.round(128 + g), 0, 255).astype(np.uint8)
    img = np.repeat(np.repeat(img32, 2, axis=0), 2, axis=1)
    px = np.repeat(img[:, :, None], 3, axis=2)

    requant = C_.decode_image(jpeg.encode_jpeg(px, quality=10))
    rows = [
        (0, "image", bytearray(C_.encode_bmp(px)), ("bmp", 64, 64, None, None)),
        (1, "image", bytearray(jpeg.encode_jpeg(px, quality=10)),
         ("jpeg", 64, 64, None, None)),
    ]
    media = spark.createDataFrame(rows, schema=M.MEDIA_SCHEMA)
    assert (requant != px).any()  # the twin really was requantized

    from degdb_spark.operators.multimodal import banded_neardup_pairs

    a_pairs = {(r.id_a, r.id_b): (r.hamming, r.near_dup)
               for r in banded_neardup_pairs(M.image_ahash(media)).collect()}
    p_pairs = {(r.id_a, r.id_b): (r.hamming, r.near_dup)
               for r in banded_neardup_pairs(M.image_phash_dct(media)).collect()}
    # pHash: candidate surfaced AND near-dup
    assert (0, 1) in p_pairs
    ph, pnear = p_pairs[(0, 1)]
    assert ph <= 16 and pnear == 1
    # aHash: >16 differing bits — not a near-dup even if banded in
    if (0, 1) in a_pairs:
        ah, anear = a_pairs[(0, 1)]
        assert ah > 16 and anear == 0


def test_image_phash_dct_rejects_tiny_images(spark):
    import numpy as np

    from degdb_spark.functions import codecs as C_

    px = np.zeros((16, 16, 3), dtype=np.uint8)
    rows = [(0, "image", bytearray(C_.encode_bmp(px)), ("bmp", 16, 16, None, None))]
    media = spark.createDataFrame(rows, schema=M.MEDIA_SCHEMA)
    with pytest.raises(Exception, match="32x32"):
        M.image_phash_dct(media).collect()
