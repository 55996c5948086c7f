"""Multimodal plumbing (real Spark path, stubbed codec) and the
Structured Streaming window counts vs their batch oracle."""

import hashlib

import pytest
from pyspark.sql import functions as F

from etl_excel_to_hyper_tableau_spark.operators.multimodal import (
    MEDIA_SCHEMA, extract_features, repartition_by_bytes,
)
from etl_excel_to_hyper_tableau_spark.streaming.events import (
    run_dedup_stream_availablenow,
    run_session_windows_availablenow, run_windowed_counts_availablenow,
    sessionize_batch,
)


def _fake_media(spark, n):
    """``n`` image rows whose 256-byte payloads are seeded by id."""
    rows = [(i, "image", hashlib.sha256(f"image:{i}".encode()).digest() * 8,
             ("png", 32, 24, None, None)) for i in range(n)]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_extract_features_deterministic(spark):
    media = _fake_media(spark, n=8)
    out = extract_features(media, feature_dim=8)
    rows = {r["media_id"]: r for r in out.collect()}
    assert len(rows) == 8
    r0 = rows[0]
    payload = hashlib.sha256(b"image:0").digest() * 8
    assert r0["n_bytes"] == 256
    assert r0["digest"] == hashlib.sha256(payload).hexdigest()
    assert len(r0["features"]) == 8
    assert all(0.0 <= v < 1.0 for v in r0["features"])
    # determinism: same input → same features on re-run
    again = {r["media_id"]: r["features"]
             for r in extract_features(media, feature_dim=8).collect()}
    assert again[0] == r0["features"]


def test_repartition_by_bytes(spark):
    media = _fake_media(spark, n=64)  # 64 × 256 B
    out = repartition_by_bytes(media, target_partition_bytes=4096)
    assert out.rdd.getNumPartitions() == 5  # 16 KiB / 4 KiB + 1
    assert out.count() == 64


def test_png_codec_round_trip():
    """Stdlib PNG codec: encode→decode is pixel-exact for grey and RGB."""
    import numpy as np
    from etl_excel_to_hyper_tableau_spark.functions.png import (
        decode_png, encode_png,
    )

    rng = np.random.default_rng(42)
    grey = rng.integers(0, 256, size=(24, 32), dtype=np.uint8)
    assert (decode_png(encode_png(grey)) == grey).all()
    rgb = rng.integers(0, 256, size=(9, 7, 3), dtype=np.uint8)
    out = decode_png(encode_png(rgb))
    assert out.shape == (9, 7, 3) and (out == rgb).all()


def test_png_decoder_handles_all_filter_types():
    """Hand-filter scanlines with Sub/Up/Average/Paeth (the spec's
    forward transforms) and check the decoder reconstructs the image —
    exercises the filter paths our own encoder (filter 0) never emits."""
    import struct
    import zlib

    import numpy as np
    from etl_excel_to_hyper_tableau_spark.functions import png as P

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(5, 6), dtype=np.uint8)
    h, w = img.shape

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)

    filtered = b""
    for y, ftype in zip(range(h), [0, 1, 2, 3, 4]):
        line = bytearray()
        for x in range(w):
            cur = int(img[y, x])
            left = int(img[y, x - 1]) if x else 0
            up = int(img[y - 1, x]) if y else 0
            ul = int(img[y - 1, x - 1]) if (x and y) else 0
            if ftype == 0:
                v = cur
            elif ftype == 1:
                v = cur - left
            elif ftype == 2:
                v = cur - up
            elif ftype == 3:
                v = cur - ((left + up) >> 1)
            else:
                v = cur - paeth(left, up, ul)
            line.append(v & 0xFF)
        filtered += bytes([ftype]) + bytes(line)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    data = (P._MAGIC + P._chunk(b"IHDR", ihdr)
            + P._chunk(b"IDAT", zlib.compress(filtered))
            + P._chunk(b"IEND", b""))
    assert (P.decode_png(data) == img).all()


def test_funnel_ordered_chain(spark):
    from etl_excel_to_hyper_tableau_spark.streaming.events import funnel

    rows = [
        # user 1 completes in order
        (1, "view", "2024-01-01 10:00:00"),
        (1, "click", "2024-01-01 10:05:00"),
        (1, "purchase", "2024-01-01 10:20:00"),
        # user 2: purchase BEFORE click → only 2 steps
        (2, "view", "2024-01-01 09:00:00"),
        (2, "purchase", "2024-01-01 09:10:00"),
        (2, "click", "2024-01-01 09:30:00"),
        # user 3: click outside the window → 1 step
        (3, "view", "2024-01-01 08:00:00"),
        (3, "click", "2024-01-01 12:00:00"),
        # user 4 never starts the funnel → no row
        (4, "click", "2024-01-01 08:00:00"),
    ]
    ev = spark.createDataFrame(rows, "user_id long, event_type string, t string") \
        .select("user_id", "event_type", F.col("t").cast("timestamp").alias("ts"))
    out = {r["user_id"]: r for r in
           funnel(ev, ["view", "click", "purchase"],
                  within_minutes=60).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1]["steps_completed"] == 3
    assert out[2]["steps_completed"] == 2 and out[2]["t3"] is None
    assert out[3]["steps_completed"] == 1 and out[3]["t2"] is None


def test_sessionize_batch_gap_semantics(spark):
    rows = [
        (1, "2024-01-01 10:00:00"), (1, "2024-01-01 10:10:00"),  # session 1
        (1, "2024-01-01 11:30:00"),                              # gap>30m → s2
        (2, "2024-01-01 09:00:00"),                              # own session
    ]
    df = spark.createDataFrame(rows, "user_id long, ts string") \
        .withColumn("ts", F.to_timestamp("ts"))
    out = sessionize_batch(df, gap_minutes=30)
    got = {(r["user_id"], r["session_id"]): r["n_events"] for r in out.collect()}
    assert got == {(1, 1): 2, (1, 2): 1, (2, 1): 1}


def _batch_events(spark, sf_dir):
    from etl_excel_to_hyper_tableau_spark.functions.event_time import normalize_event_ts
    return normalize_event_ts(spark.read.parquet(f"{sf_dir}/events.parquet"))


def test_streaming_session_windows_match_batch(spark, sf_dir):
    stream = run_session_windows_availablenow(
        spark, f"{sf_dir}/events.parquet", gap="30 minutes")
    batch = (_batch_events(spark, sf_dir)
             .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
             .agg(F.count("*").alias("n_events"),
                  F.min("ts").alias("session_start"),
                  F.max("ts").alias("session_end"))
             .select("user_id", F.col("w.start").alias("session_start_w"),
                     F.col("w.end").alias("session_end_w"),
                     "n_events", "session_start", "session_end"))
    a = sorted(map(repr, stream.collect()))
    b = sorted(map(repr, batch.collect()))
    assert a == b and len(a) > 0
    # session count must also agree with the lag-based batch sessionizer
    n_lag = sessionize_batch(_batch_events(spark, sf_dir), 30).count()
    assert len(a) == n_lag


def test_streaming_dedup_within_watermark(spark, sf_dir):
    keys = ["user_id", "event_type", "value"]
    out = run_dedup_stream_availablenow(spark, f"{sf_dir}/events.parquet",
                                        keys=keys)
    n_distinct = _batch_events(spark, sf_dir).dropDuplicates(keys).count()
    # watermark-bounded dedup may keep extra rows whose duplicates were
    # separated by more than the watermark, never fewer
    assert n_distinct <= out.count() <= _batch_events(spark, sf_dir).count()
    # and per-key multiplicity within the watermark window is 1 for the
    # overwhelming majority: spot-check no key appears more than its
    # batch count
    assert (out.groupBy(keys).count().filter("count > 2").count() == 0)


def test_streaming_windowed_counts_match_batch(spark, sf_dir):
    stream_result = run_windowed_counts_availablenow(
        spark, f"{sf_dir}/events.parquet", window="1 hour")
    batch = (_batch_events(spark, sf_dir)
             .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
             .agg(F.count("*").alias("n"),
                  F.sum(F.col("value").cast("decimal(18,2)")).alias("total_value"))
             .select(F.col("w.start").alias("window_start"), "event_type", "n",
                     F.col("total_value").cast("double").alias("total_value")))
    a = sorted(map(repr, stream_result.collect()))
    b = sorted(map(repr, batch.collect()))
    assert a == b and len(a) > 0


def test_streaming_latest_state_matches_batch_cdc(spark, sf_dir):
    """Streaming latest-state (applyInPandasWithState) over the bounded
    source equals the batch CDC compaction."""
    from etl_excel_to_hyper_tableau_spark.operators.cdc import latest_snapshot
    from etl_excel_to_hyper_tableau_spark.streaming.events import (
        run_latest_state_availablenow,
    )
    stream = run_latest_state_availablenow(spark, f"{sf_dir}/events.parquet")
    batch = (latest_snapshot(_batch_events(spark, sf_dir),
                             key="user_id", ts="ts", tiebreak="event_id")
             .select("user_id", "ts", "event_id", "event_type", "value"))
    a = sorted(map(repr, stream.select("user_id", "ts", "event_id",
                                       "event_type", "value").collect()))
    b = sorted(map(repr, batch.collect()))
    assert a == b


def test_wav_roundtrip_exact():
    import numpy as np
    from etl_excel_to_hyper_tableau_spark.functions.wav import (
        decode_wav, encode_wav,
    )
    mono = (np.sin(np.linspace(0, 20, 400)) * 30000).astype(np.int16)
    arr, sr = decode_wav(encode_wav(mono, 16000))
    assert sr == 16000 and arr.shape == (400, 1)
    assert np.array_equal(arr[:, 0], mono)
    stereo = np.stack([mono, -mono], axis=1)
    arr2, sr2 = decode_wav(encode_wav(stereo, 44100))
    assert sr2 == 44100 and np.array_equal(arr2, stereo)


def test_wav_decoder_walks_extra_chunks():
    import struct
    import numpy as np
    from etl_excel_to_hyper_tableau_spark.functions.wav import (
        decode_wav, encode_wav,
    )
    base = encode_wav(np.arange(10, dtype=np.int16), 8000)
    # splice a LIST chunk between fmt and data (real files do this)
    fmt_end = 12 + 8 + 16
    extra = b"LIST" + struct.pack("<I", 4) + b"INFO"
    spliced = base[:fmt_end] + extra + base[fmt_end:]
    arr, sr = decode_wav(spliced)
    assert sr == 8000 and list(arr[:, 0]) == list(range(10))


def test_decode_image_falls_back_on_unsupported_png(spark):
    """An RGBA/corrupt PNG must degrade to the deterministic fake, not
    kill the task (quarantine-and-continue)."""
    from etl_excel_to_hyper_tableau_spark.operators.multimodal import (
        decode_image, _fake_decode_gray,
    )
    import numpy as np
    from etl_excel_to_hyper_tableau_spark.functions.png import _MAGIC
    bogus = _MAGIC + b"\x00" * 64  # PNG magic, garbage body
    out = decode_image(bogus, 8, 6)
    assert out.shape == (6, 8)
    assert np.array_equal(out, _fake_decode_gray(bogus, 8, 6))


def test_audio_features_quarantines_bad_bytes(spark):
    from etl_excel_to_hyper_tableau_spark.operators.multimodal import (
        audio_fingerprint,
    )
    rows = [(1, "audio", b"not a wav at all", ("wav", None, None, 8000, 1))]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = audio_fingerprint(df).collect()
    assert len(out) == 1
    assert out[0]["media_id"] == 1 and out[0]["afp"] is None


def test_audio_features_quarantines_truncated_fmt(spark):
    import struct
    from etl_excel_to_hyper_tableau_spark.operators.multimodal import (
        audio_fingerprint,
    )
    # RIFF/WAVE header with a fmt chunk cut off mid-struct
    bad = (b"RIFF" + struct.pack("<I", 20) + b"WAVE"
           + b"fmt " + struct.pack("<I", 16) + b"\x01\x00")
    rows = [(1, "audio", bad, ("wav", None, None, 8000, 1))]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = audio_fingerprint(df).collect()
    assert len(out) == 1 and out[0]["afp"] is None


# ---------------------------------------------------------------------------
# JPEG codec (functions/jpeg.py): real entropy-coded round trips
# ---------------------------------------------------------------------------

def _psnr(a, b):
    import numpy as np
    mse = np.mean((a.astype(float) - b.astype(float)) ** 2)
    return 99.0 if mse == 0 else 10 * np.log10(255 ** 2 / mse)


def test_jpeg_roundtrip_gray_and_rgb():
    """Baseline JPEG encode→decode: exact dims/channels, high PSNR on
    smooth content (lossy codec — pixel-exactness is not the contract),
    non-multiple-of-8 dims handled by pad/crop."""
    import numpy as np
    from etl_excel_to_hyper_tableau_spark.functions.jpeg import (
        decode_jpeg, encode_jpeg,
    )
    yy, xx = np.mgrid[0:24, 0:32]
    gray = (128 + 100 * np.sin(xx / 6.0) * np.cos(yy / 5.0)).astype(np.uint8)
    out = decode_jpeg(encode_jpeg(gray, quality=90))
    assert out.shape == gray.shape and out.dtype == np.uint8
    assert _psnr(gray, out) > 35.0

    rgb = np.zeros((13, 20, 3), np.uint8)   # 13×20: pad/crop path
    rgb[..., 0] = (xx[:13, :20] * 3) % 200
    rgb[..., 1] = (yy[:13, :20] * 5) % 200
    rgb[..., 2] = 128
    out3 = decode_jpeg(encode_jpeg(rgb, quality=95))
    assert out3.shape == rgb.shape
    assert _psnr(rgb, out3) > 30.0


def test_jpeg_constant_block_is_exact():
    """A constant image is DC-only — quantization cannot lose anything."""
    import numpy as np
    from etl_excel_to_hyper_tableau_spark.functions.jpeg import (
        decode_jpeg, encode_jpeg,
    )
    c = np.full((16, 16), 77, np.uint8)
    assert (decode_jpeg(encode_jpeg(c, quality=75)) == 77).all()


def test_jpeg_restart_markers_roundtrip_identically():
    """DRI/RSTn path: restart-coded bytes decode to EXACTLY the same
    pixels as the plain encoding (predictor resets are lossless)."""
    import numpy as np
    from etl_excel_to_hyper_tableau_spark.functions.jpeg import (
        decode_jpeg, encode_jpeg,
    )
    yy, xx = np.mgrid[0:40, 0:48]
    g = ((xx * 7 + yy * 13) % 256).astype(np.uint8)
    plain = decode_jpeg(encode_jpeg(g, 90, restart_interval=0))
    rst = decode_jpeg(encode_jpeg(g, 90, restart_interval=3))
    assert np.array_equal(plain, rst)


def test_jpeg_rejects_non_baseline():
    import numpy as np
    import pytest
    from etl_excel_to_hyper_tableau_spark.functions.jpeg import (
        decode_jpeg, encode_jpeg,
    )
    with pytest.raises(ValueError, match="signature"):
        decode_jpeg(b"\x89PNG\r\n")
    enc = bytearray(encode_jpeg(np.zeros((8, 8), np.uint8)))
    i = enc.find(b"\xff\xc0")
    enc[i + 1] = 0xC2  # flip SOF0 -> SOF2 (progressive)
    with pytest.raises(ValueError, match="baseline"):
        decode_jpeg(bytes(enc))


def test_decode_image_quarantines_truncated_jpeg(spark):
    """Truncated scan bytes degrade to the deterministic fake instead of
    failing the task — the quarantine-and-continue contract."""
    import numpy as np
    from etl_excel_to_hyper_tableau_spark.functions.jpeg import encode_jpeg
    from etl_excel_to_hyper_tableau_spark.operators.multimodal import (
        _fake_decode_gray, decode_image,
    )
    enc = encode_jpeg(np.full((16, 16), 50, np.uint8))
    cut = enc[:len(enc) // 2]
    out = decode_image(cut, 16, 16)
    ref = _fake_decode_gray(cut, 16, 16)
    assert np.array_equal(out, ref)


# ---------------------------------------------------------------------------
# IMA ADPCM (functions/wav.py): compressed-audio decode
# ---------------------------------------------------------------------------

def test_adpcm_decodes_a_literal_block():
    """Format 0x11 decode against values worked by hand from the IMA
    step and index tables; the fact chunk trims the sample count."""
    import struct
    from etl_excel_to_hyper_tableau_spark.functions.wav import decode_wav
    # predictor 1000, step index 0, then nibbles 4 4 0 12 0 0 0 0
    block = struct.pack("<hBB", 1000, 0, 0) + bytes([0x44, 0xC0, 0, 0])
    body = (b"WAVE"
            + b"fmt " + struct.pack("<IHHIIHH", 16, 0x11, 1, 8000, 4000,
                                    len(block), 4)
            + b"fact" + struct.pack("<II", 4, 7)
            + b"data" + struct.pack("<I", len(block)) + block)
    arr, sr = decode_wav(b"RIFF" + struct.pack("<I", len(body)) + body)
    assert sr == 8000
    assert list(arr[:, 0]) == [1000, 1007, 1017, 1018, 1007, 1008, 1009]



# ---------------------------------------------------------------------------
# AVI/MJPEG codec (functions/avi.py): real compressed-video round trips
# ---------------------------------------------------------------------------

def test_avi_mjpeg_roundtrip_and_tolerant_walker():
    """Encode→demux: frame count, fps, and high PSNR (MJPEG is lossy
    per-frame JPEG — pixel-exactness is not the contract); a JUNK chunk
    and a missing idx1 must not break the walker."""
    import numpy as np
    import struct as _s
    from etl_excel_to_hyper_tableau_spark.functions.avi import (
        decode_avi_mjpeg, encode_avi_mjpeg,
    )
    yy, xx = np.mgrid[0:24, 0:32]
    frames = np.stack([
        (128 + 100 * np.sin(xx / 6.0 + f) * np.cos(yy / 5.0)).astype(np.uint8)
        for f in range(6)])
    data = encode_avi_mjpeg(frames, fps=(30, 1), quality=90)
    out, fps = decode_avi_mjpeg(data)
    assert out.shape == frames.shape and fps == (30, 1)
    mse = ((out.astype(float) - frames.astype(float)) ** 2).mean()
    assert 10 * np.log10(255 ** 2 / mse) > 35.0
    # tolerant walker: inject a top-level JUNK chunk between hdrl and
    # the movi LIST, drop idx1
    movi_at = data.index(b"movi") - 8  # the movi LIST's 8-byte header
    junk = b"JUNK" + _s.pack("<I", 4) + b"\x00" * 4
    idx_at = data.rindex(b"idx1")
    mangled = data[:idx_at]  # no idx1
    mangled = mangled[:movi_at] + junk + mangled[movi_at:]
    mangled = (b"RIFF" + _s.pack("<I", len(mangled) - 8) + mangled[8:])
    out2, fps2 = decode_avi_mjpeg(mangled)
    assert np.array_equal(out2, out) and fps2 == (30, 1)


def test_avi_mjpeg_rejects_non_avi_and_empty():
    import numpy as np
    import pytest
    from etl_excel_to_hyper_tableau_spark.functions.avi import (
        decode_avi_mjpeg, encode_avi_mjpeg,
    )
    with pytest.raises(ValueError):
        decode_avi_mjpeg(b"RIFF\x00\x00\x00\x00WAVE")
    with pytest.raises(ValueError):
        decode_avi_mjpeg(b"short")
    data = encode_avi_mjpeg(
        np.zeros((2, 8, 8), np.uint8))
    with pytest.raises(ValueError):
        decode_avi_mjpeg(data[:40])  # headers only, no frames


def test_video_frame_phash_drops_bad_bytes(spark):
    import numpy as np
    from etl_excel_to_hyper_tableau_spark.functions.avi import (
        encode_avi_mjpeg,
    )
    from etl_excel_to_hyper_tableau_spark.operators.multimodal import (
        video_frame_phash,
    )
    good = encode_avi_mjpeg(np.full((3, 8, 8), 90, np.uint8))
    rows = [(1, "video", good, ("avi", 8, 8, None, 3)),
            (7, "video", b"not an avi", ("avi", 4, 4, None, 3))]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = sorted((r["media_id"], r["frame_idx"])
                 for r in video_frame_phash(df, every_n=2).collect())
    assert out == [(1, 0), (1, 2)]


# ---------------------------------------------------------------------------
# perceptual hash (pHash) + near-dup pairs
# ---------------------------------------------------------------------------

def _grad_img(seed: int, height: int = 24, width: int = 32):
    import numpy as np
    yy, xx = np.mgrid[0:height, 0:width]
    return np.clip(128 + 60 * np.sin((xx + seed * 5) / 6.0)
                   * np.cos((yy + seed * 3) / 5.0), 0, 255).astype(np.uint8)


def test_phash63_deterministic_and_discriminating():
    import numpy as np
    from etl_excel_to_hyper_tableau_spark.operators.multimodal import phash63

    a = _grad_img(1)
    noisy = a.copy()
    noisy[3, 7] = np.clip(int(noisy[3, 7]) + 4, 0, 255)  # 1-pixel nudge
    b = 255 - _grad_img(9).T[:24, :24]  # structurally different
    ha, hn, hb = phash63(a), phash63(noisy), phash63(b)
    assert ha == phash63(a)  # deterministic
    assert 0 <= ha < (1 << 63)
    assert bin(ha ^ hn).count("1") <= 4  # near-dup stays close
    assert bin(ha ^ hb).count("1") > 10  # different image is far


def test_phash_pairs_finds_near_dups(spark):
    import numpy as np
    from etl_excel_to_hyper_tableau_spark.functions.png import encode_png
    from etl_excel_to_hyper_tableau_spark.operators.multimodal import (
        MEDIA_SCHEMA, phash_pairs,
    )

    base = _grad_img(2)
    noisy = base.copy()
    noisy[5, 5] = np.clip(int(noisy[5, 5]) + 3, 0, 255)
    rows = [
        (0, "image", encode_png(base), ("png", 32, 24, None, None)),
        (1, "image", encode_png(noisy), ("png", 32, 24, None, None)),
    ] + [
        (i, "image", encode_png(_grad_img(i * 11 + 3)),
         ("png", 32, 24, None, None))
        for i in range(2, 6)
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in phash_pairs(df, max_hamming=6).collect()}
    assert (0, 1) in got and got[(0, 1)] <= 4
    # visually distinct gradients must not all collapse into dup pairs
    assert len(got) < 6


# ---------------------------------------------------------------------------
# audio fingerprint (Haitsma-Kalker bit rule) + near-dup pairs
# ---------------------------------------------------------------------------

def test_afp63_deterministic_robust_discriminating():
    import numpy as np
    from etl_excel_to_hyper_tableau_spark.functions.wav import (
        decode_wav, encode_wav,
    )
    from etl_excel_to_hyper_tableau_spark.operators.multimodal import afp63

    base = np.random.default_rng(7000).integers(
        -20000, 20000, size=1000).astype(np.int16)
    dec, _sr = decode_wav(encode_wav(base, 8000))
    h = afp63(dec)
    assert h == afp63(dec) and 0 <= h < (1 << 63)
    # codec round trip is PCM16-exact, so fingerprint survives encode
    assert h == afp63(base)
    # mild additive noise flips few bits; scaling flips none (sign rule)
    noisy = (base + np.random.default_rng(1).integers(
        -50, 50, size=1000)).astype(np.int16)
    assert bin(h ^ afp63(noisy)).count("1") <= 4
    assert afp63((base // 2).astype(np.int16)) == h
    other = np.random.default_rng(7031).integers(
        -20000, 20000, size=1000).astype(np.int16)
    assert bin(h ^ afp63(other)).count("1") > 10


def test_audio_fp_pairs_finds_dups(spark):
    from etl_excel_to_hyper_tableau_spark.operators.multimodal import (
        audio_fp_pairs, make_class_wav_media,
    )

    ids = spark.range(12).withColumnRenamed("id", "media_id")
    media = make_class_wav_media(ids, "media_id", n_classes=4)
    got = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in audio_fp_pairs(media, max_hamming=6).collect()}
    # ids 0,4,8 share class 0 etc. — every same-class pair at hamming 0
    expect = {(a, b) for a in range(12) for b in range(a + 1, 12)
              if a % 4 == b % 4}
    assert set(got) == expect
    assert all(v == 0 for v in got.values())


# ---------------------------------------------------------------------------
# Composed media pipeline (round 11): corpus margins + replay idempotency
# ---------------------------------------------------------------------------

def test_media_pipe_corpus_margins(spark):
    """The construction oracle of stream_media_pipeline rests on two
    measurable margins: (a) a +32 brightness shift on a [0,192) pixel
    field is an EXACT affine map, so the variant's 63-bit pHash is
    IDENTICAL (hamming 0 — far under the max_hamming=6 gate) while the
    PNG bytes differ; (b) distinct class fields sit far ABOVE the gate.
    Pin both against the real pHash kernel."""
    import __spark_entry__ as e
    from etl_excel_to_hyper_tableau_spark.operators.multimodal import (
        image_phash,
    )

    rows, labels = [], []
    for b in sorted(e._MEDIA_PIPE_BATCHES):
        for mid, k, sh in e._MEDIA_PIPE_BATCHES[b]:
            rows.append((mid, "image", bytearray(e._media_pipe_png(k, sh)),
                         {"format": "png", "width": 32, "height": 24,
                          "sample_rate": None, "n_frames": None}))
            labels.append((mid, k, sh))
    df = spark.createDataFrame(
        rows, "media_id long, kind string, content binary, "
              "meta struct<format:string,width:int,height:int,"
              "sample_rate:int,n_frames:int>")
    h = {r["media_id"]: r["phash"] for r in image_phash(df).collect()}
    by_id = {mid: (k, sh) for mid, k, sh in labels}
    # variant pairs: identical hash, different bytes
    assert h[10] == h[0] and e._media_pipe_png(0, 32) != e._media_pipe_png(0)
    assert h[14] == h[13]
    assert h[11] == h[2]
    # cross-class margins: every distinct-class pair far above the gate
    for a in h:
        for b in h:
            if a < b and by_id[a][0] != by_id[b][0]:
                d = bin(h[a] ^ h[b]).count("1")
                assert d > 12, (a, b, d)


def test_media_pipeline_replay_idempotent(spark, tmp_path):
    """Running the composed media pipeline twice over the SAME landing
    must produce byte-identical shards and an identical signature
    index — the dynamic-overwrite + index-append-LAST contract (the
    refreshByPath ordering trap gets a property, not just the
    construction oracle)."""
    import hashlib
    import os

    import __spark_entry__ as e
    from etl_excel_to_hyper_tableau_spark.streaming.ingest import (
        media_curation_pipeline,
    )

    landing = str(tmp_path / "landing")
    e._stage_media_pipe_landing(spark, landing)
    out = str(tmp_path / "wds")

    def run_and_digest():
        stats = media_curation_pipeline(spark, landing, out,
                                        kind="image", max_hamming=6,
                                        n_shards=2)
        shards = {}
        for root, _, files in os.walk(out):
            for fn in sorted(files):
                if fn.endswith(".tar"):
                    p = os.path.join(root, fn)
                    shards[os.path.relpath(p, out)] = hashlib.md5(
                        open(p, "rb").read()).hexdigest()
        idx = sorted(
            tuple(r) for r in spark.read.parquet(out + "__sigs")
            .select("media_id", "sig", "batch_id").collect())
        return stats, shards, idx

    s1, shards1, idx1 = run_and_digest()
    s2, shards2, idx2 = run_and_digest()
    assert s1 == s2 == {"batches": 2, "accepted": 7}
    assert shards1 and shards1 == shards2
    assert idx1 == idx2


def test_curation_pipeline_replay_idempotent(spark, tmp_path):
    """Same property for the TEXT pipeline: two runs over one landing
    -> identical shard bytes (the pipeline owns and clears its output,
    and every per-batch write is deterministic)."""
    import hashlib
    import json
    import os

    from etl_excel_to_hyper_tableau_spark.streaming.ingest import (
        curation_pipeline,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    texts = {i: f"unique document number {i} with twenty five distinct "
                f"informative words about topic {i % 3} written plainly "
                f"for the quality gate to admit without complaint"
             for i in range(8)}
    t0 = 1_000_000_000
    for b in range(2):
        p = landing / f"b{b}.jsonl"
        with open(p, "w") as f:
            for i in range(b * 4, b * 4 + 4):
                f.write(json.dumps({"doc_id": i, "text": texts[i],
                                    "lang": "en", "source": "s0"}) + "\n")
        os.utime(p, (t0 + b * 10, t0 + b * 10))
    out = str(tmp_path / "wds")

    def run_and_digest():
        stats = curation_pipeline(spark, str(landing), out,
                                  budget_per_source=10**9,
                                  min_quality=0.0, min_tokens=2,
                                  max_tokens=10_000, max_dup_bigram=1.0,
                                  n_shards=2)
        shards = {}
        for root, _, files in os.walk(out):
            for fn in sorted(files):
                if fn.endswith(".tar"):
                    p = os.path.join(root, fn)
                    shards[os.path.relpath(p, out)] = hashlib.md5(
                        open(p, "rb").read()).hexdigest()
        return stats, shards

    s1, d1 = run_and_digest()
    s2, d2 = run_and_digest()
    assert s1 == s2
    assert d1 and d1 == d2
