"""Multimodal tests: the Spark-side contract (schema, batch iteration, row
expansion) plus the real codecs — full BMP/PPM pixel round-trips, WAV and
AVI containers, the stub codec, and the explicit NotImplementedError for
every other codec."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from time_series_and_data_lakes_spark.operators.multimodal import (
    FEATURE_DIM,
    MEDIA_SCHEMA,
    decode_media,
    extract_features,
    frame_sample,
    pack_fake_payload,
)


def _media_df(spark):
    rows = [
        (1, "image", pack_fake_payload(640, 480, 1, b"imagebody"), ("s3", "tsdl-fake")),
        (2, "video", pack_fake_payload(1920, 1080, 7, b"vbody"), ("s3", "tsdl-fake")),
        (3, "audio", pack_fake_payload(0, 0, 0, b"abody"), ("s3", "tsdl-fake")),
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_decode_media_parses_header(spark):
    got = {r["media_id"]: r for r in decode_media(_media_df(spark)).collect()}
    assert (got[1]["width"], got[1]["height"], got[1]["n_frames"]) == (640, 480, 1)
    assert (got[2]["width"], got[2]["height"]) == (1920, 1080)
    assert got[1]["n_bytes"] == len(pack_fake_payload(640, 480, 1, b"imagebody"))


def test_unknown_codec_is_explicitly_stubbed(spark):
    # Compressed audio and compressed images (PNG/GIF/JPEG) have no decoder
    # here: every media op refuses them loudly under 'fail', drops them
    # under 'skip', and media_errors reports them as 'unsupported'. The
    # payloads carry each format's real magic bytes, so the refusal is by
    # codec, not by a failed parse.
    from time_series_and_data_lakes_spark.operators.multimodal import (
        extract_frames,
        media_errors,
        pixel_stats,
        resize_media,
    )

    rows = [
        (9, "audio", b"ID3\x04\x00mp3body", ("s3", "mp3")),
        (10, "image", b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\x0dIHDR" + bytes(13), ("s3", "png")),
        (11, "image", b"GIF89a" + b"\x02\x00\x02\x00\x00\x00\x00;", ("s3", "gif")),
        (12, "image", b"\xff\xd8\xff\xe0\x00\x10JFIF\x00" + bytes(9) + b"\xff\xd9", ("s3", "jpeg")),
        (13, "image", b"\xff\xd8\xff\xdb\x00\x43\x00" + bytes(64) + b"\xff\xd9", ("s3", "jpg")),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    ops = (decode_media, resize_media, pixel_stats, extract_frames)
    for mid, *_ in rows:
        one = df.filter(F.col("media_id") == mid)
        for op in ops:
            with pytest.raises(Exception, match="NotImplementedError"):
                op(one).collect()
    for op in ops:
        assert op(df, on_error="skip").count() == 0, op.__name__
    report = {r["media_id"]: r for r in media_errors(df).collect()}
    assert sorted(report) == [9, 10, 11, 12, 13]
    assert {r["error_kind"] for r in report.values()} == {"unsupported"}


def test_real_image_codecs_decode_dimensions(spark):
    # Header-only dims for the real codecs (BMP, PPM, AVI), through the same
    # Arrow mapInPandas path as the stub codec. A payload that is not the
    # declared image format degrades to (0, 0, 0): decode_media never reads
    # the raster, so it cannot tell a cut raster from a good one.
    import numpy as np

    from time_series_and_data_lakes_spark.operators.multimodal import (
        avi_encode,
        bmp_encode,
        ppm_encode,
    )

    rows = [
        (10, "image", bmp_encode(np.zeros((47, 321, 3), np.uint8)), ("s3", "bmp")),
        (11, "image", ppm_encode(np.zeros((72, 128, 3), np.uint8)), ("s3", "ppm")),
        (12, "video", avi_encode(np.zeros((1, 33, 64, 3), np.uint8), 25), ("s3", "avi")),
        (13, "image", b"not a bmp at all", ("s3", "bmp")),  # graceful (0,0)
        (14, "image", b"not a ppm at all", ("s3", "ppm")),  # graceful (0,0)
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {r["media_id"]: r for r in decode_media(df).collect()}
    assert (got[10]["width"], got[10]["height"], got[10]["n_frames"]) == (321, 47, 1)
    assert (got[11]["width"], got[11]["height"], got[11]["n_frames"]) == (128, 72, 1)
    assert (got[12]["width"], got[12]["height"], got[12]["n_frames"]) == (64, 33, 1)
    assert (got[13]["width"], got[13]["height"], got[13]["n_frames"]) == (0, 0, 0)
    assert (got[14]["width"], got[14]["height"], got[14]["n_frames"]) == (0, 0, 0)


def test_png_roundtrip_against_reference_decoder():
    # the header probes agree with what the encoders wrote, including a
    # 16-bit-wide extreme and a top-down BMP; short headers give (0, 0)
    import struct

    import numpy as np

    from time_series_and_data_lakes_spark.operators.multimodal import (
        bmp_dims,
        bmp_encode,
        ppm_dims,
        ppm_encode,
    )

    for enc, dims in ((bmp_encode, bmp_dims), (ppm_encode, ppm_dims)):
        assert dims(enc(np.zeros((3, 2, 3), np.uint8))) == (2, 3)
        assert dims(enc(np.zeros((1, 65535, 3), np.uint8))) == (65535, 1)
    top_down = bytearray(bmp_encode(np.zeros((4, 5, 3), np.uint8)))
    top_down[22:26] = struct.pack("<i", -4)
    assert bmp_dims(bytes(top_down)) == (5, 4)
    assert bmp_dims(b"BM" + b"short") == (0, 0)
    assert ppm_dims(b"P6\n12") == (0, 0)


def test_resize_non_pixel_codec_requires_transcoder(spark):
    # only bmp/ppm (pixels) and tsdl-fake (header) resize; compressed AV
    # codecs require a transcoder and raise
    df = spark.createDataFrame(
        [(14, "audio", b"ID3\x04\x00mp3body", ("s3", "mp3"))], MEDIA_SCHEMA
    )
    from time_series_and_data_lakes_spark.operators.multimodal import resize_media

    with pytest.raises(Exception, match="NotImplementedError|transcoder"):
        resize_media(df).collect()


def test_extract_features_shape_and_normalization(spark):
    rows = extract_features(_media_df(spark)).collect()
    assert len(rows) == 3
    for r in rows:
        assert len(r["features"]) == FEATURE_DIM
        assert abs(sum(r["features"]) - 1.0) < 1e-6


def test_frame_sample_expands_rows(spark):
    got = frame_sample(_media_df(spark), every_n=2).collect()
    frames = sorted((r["media_id"], r["frame_index"]) for r in got)
    # image: 1 frame -> [0]; video: 7 frames every 2 -> [0,2,4,6]; audio: 0
    assert frames == [(1, 0), (2, 0), (2, 2), (2, 4), (2, 6)]


def test_resize_media_aspect_fit_and_chains(spark):
    from time_series_and_data_lakes_spark.operators.multimodal import (
        _resize_dims,
        resize_media,
    )

    # integer aspect-fit math
    assert _resize_dims(1920, 1080, 640, 480) == (640, 360)
    assert _resize_dims(1080, 1920, 640, 480) == (270, 480)
    assert _resize_dims(320, 200, 640, 480) == (320, 200)  # already fits
    assert _resize_dims(0, 0, 640, 480) == (0, 0)  # invalid payload guard

    # header rewrite chains into decode; body length preserved
    resized = resize_media(_media_df(spark), max_width=640, max_height=480)
    got = {r["media_id"]: r for r in decode_media(resized).collect()}
    assert (got[2]["width"], got[2]["height"]) == (640, 360)
    assert got[2]["n_frames"] == 7  # frames untouched
    assert (got[1]["width"], got[1]["height"]) == (640, 480)  # exact fit kept


def test_jpeg_fill_bytes_and_terminal_markers(spark):
    # JPEG is refused by codec before any marker walk: a stream with 0xFF
    # fill bytes ahead of SOF0 and one with SOS before any SOF both come
    # back 'unsupported' — never misparsed into dims, never called corrupt
    import struct

    from time_series_and_data_lakes_spark.operators.multimodal import media_errors

    sof0 = (
        b"\xff\xc0" + struct.pack(">H", 11) + b"\x08"
        + struct.pack(">HH", 480, 640) + b"\x01\x01\x11\x00"
    )
    padded = b"\xff\xd8" + b"\xff\xff\xff" + sof0 + b"\xff\xd9"
    sos_first = b"\xff\xd8" + b"\xff\xda" + struct.pack(">H", 4) + b"\x01\x00" + b"\xff\xc0zz"
    df = spark.createDataFrame(
        [(1, "image", padded, ("s3", "jpeg")), (2, "image", sos_first, ("s3", "jpeg"))],
        MEDIA_SCHEMA,
    )
    with pytest.raises(Exception, match="requires an external decoder"):
        decode_media(df).collect()
    assert decode_media(df, on_error="skip").count() == 0
    report = {r["media_id"]: r for r in media_errors(df).collect()}
    assert {k: r["error_kind"] for k, r in report.items()} == {
        1: "unsupported",
        2: "unsupported",
    }


# ---------------------------------------------------------------------------
# Real pixel codecs (round 4): BMP/PPM decode-resize-encode with actual pixels.
# ---------------------------------------------------------------------------


def test_bmp_decode_hand_built_literal():
    # A complete 2x2 24-bpp BMP assembled BYTE BY BYTE from the format spec
    # (file header, BITMAPINFOHEADER, bottom-up BGR rows, 4-byte padding) --
    # independent of bmp_encode, so encoder and decoder can't share a bug.
    import struct

    import numpy as np

    from time_series_and_data_lakes_spark.operators.multimodal import bmp_decode

    body = (
        bytes([255, 0, 0]) + bytes([255, 255, 255]) + b"\x00\x00"  # bottom row: blue, white
        + bytes([0, 0, 255]) + bytes([0, 255, 0]) + b"\x00\x00"    # top row: red, green
    )
    payload = (
        b"BM" + struct.pack("<IHHI", 54 + len(body), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 24, 0, len(body), 2835, 2835, 0, 0)
        + body
    )
    arr = bmp_decode(payload)
    expected = np.array(
        [[[255, 0, 0], [0, 255, 0]], [[0, 0, 255], [255, 255, 255]]], dtype=np.uint8
    )
    assert (arr == expected).all()


def test_bmp_ppm_roundtrip_and_topdown():
    import struct

    import numpy as np

    from time_series_and_data_lakes_spark.operators.multimodal import (
        bmp_decode,
        bmp_encode,
        ppm_decode,
        ppm_encode,
    )

    rng = np.random.default_rng(11)
    for h, w in [(1, 1), (3, 5), (14, 16), (7, 10)]:
        arr = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        assert (bmp_decode(bmp_encode(arr)) == arr).all()
        assert (ppm_decode(ppm_encode(arr)) == arr).all()
    # top-down BMP (negative height) stores rows first-to-last
    arr = rng.integers(0, 256, size=(2, 2, 3), dtype=np.uint8)
    p = bytearray(bmp_encode(arr[::-1]))  # encoder wrote arr[::-1] bottom-up = arr top-down
    p[22:26] = struct.pack("<i", -2)
    assert (bmp_decode(bytes(p)) == arr).all()
    # PPM comments and multi-digit dims parse per the netpbm spec
    ppm = b"P6\n# a comment\n10 2\n255\n" + bytes(10 * 2 * 3)
    assert ppm_decode(ppm).shape == (2, 10, 3)


def test_nn_resize_matches_bruteforce():
    import numpy as np

    from time_series_and_data_lakes_spark.operators.multimodal import nn_resize

    rng = np.random.default_rng(13)
    arr = rng.integers(0, 256, size=(9, 14, 3), dtype=np.uint8)
    out = nn_resize(arr, 5, 4)
    assert out.shape == (4, 5, 3)
    for y in range(4):
        for x in range(5):
            assert (out[y, x] == arr[(y * 9) // 4, (x * 14) // 5]).all()
    assert (nn_resize(arr, 14, 9) == arr).all()  # identity


def test_resize_media_transcodes_real_pixels(spark):
    # End to end through Spark: bmp and ppm payloads come back RESIZED WITH
    # REAL PIXELS -- every output pixel equals the nearest-neighbor source
    # pixel, bit-exact, via the public media API.
    import numpy as np

    from time_series_and_data_lakes_spark.operators.multimodal import (
        bmp_decode,
        bmp_encode,
        nn_resize,
        pixel_stats,
        ppm_decode,
        ppm_encode,
        resize_media,
    )

    rng = np.random.default_rng(17)
    big = rng.integers(0, 256, size=(12, 16, 3), dtype=np.uint8)
    small = rng.integers(0, 256, size=(4, 6, 3), dtype=np.uint8)
    rows = [
        (1, "image", bmp_encode(big), ("s3", "bmp")),
        (2, "image", ppm_encode(big), ("s3", "ppm")),
        (3, "image", bmp_encode(small), ("s3", "bmp")),  # already fits: untouched
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {r["media_id"]: r for r in resize_media(df, max_width=8, max_height=8).collect()}
    # (16, 12) fit into (8, 8): w*mh=128 > h*mw=96 -> nw=8, nh=(12*8)//16=6
    expected = nn_resize(big, 8, 6)
    assert (bmp_decode(bytes(got[1]["payload"])) == expected).all()
    assert (ppm_decode(bytes(got[2]["payload"])) == expected).all()
    assert bytes(got[3]["payload"]) == bmp_encode(small)
    stats = {r["media_id"]: r for r in pixel_stats(resize_media(df, max_width=8, max_height=8)).collect()}
    assert (stats[1]["width"], stats[1]["height"]) == (8, 6)
    assert stats[1]["pixel_sum"] == int(expected.sum(dtype=np.int64))
    assert stats[2]["pixel_sum"] == int(expected.sum(dtype=np.int64))
    assert stats[3]["pixel_sum"] == int(small.sum(dtype=np.int64))


def test_codec_roundtrip_property_hypothesis():
    # Property form of the round-trip: ANY uint8 array survives both
    # codecs bit-exact, and the aspect-fit output always fits the box
    # while preserving aspect ratio to integer-floor precision.
    import numpy as np
    from hypothesis import given, settings, strategies as st

    from time_series_and_data_lakes_spark.operators.multimodal import (
        _resize_dims,
        bmp_decode,
        bmp_encode,
        nn_resize,
        ppm_decode,
        ppm_encode,
    )

    @settings(max_examples=60, deadline=None)
    @given(
        w=st.integers(1, 40),
        h=st.integers(1, 40),
        seed=st.integers(0, 2**31 - 1),
        max_w=st.integers(1, 24),
        max_h=st.integers(1, 24),
    )
    def check(w, h, seed, max_w, max_h):
        arr = np.random.default_rng(seed).integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        assert (bmp_decode(bmp_encode(arr)) == arr).all()
        assert (ppm_decode(ppm_encode(arr)) == arr).all()
        nw, nh = _resize_dims(w, h, max_w, max_h)
        # never upsizes; fits the box whenever a resize happened; and a
        # non-degenerate image NEVER collapses to a zero dimension (an
        # extreme aspect ratio used to floor the short axis to 0 and the
        # re-encode emitted a zero-pixel payload)
        assert nw <= w and nh <= h
        assert nw >= 1 and nh >= 1
        if (w, h) != (nw, nh):
            assert nw <= max_w and nh <= max_h
            # aspect preserved to floor precision on the driven axis,
            # clamped to the 1-pixel floor
            if w * max_h <= h * max_w:
                assert nh == max_h and nw == max(1, (w * max_h) // h)
            else:
                assert nw == max_w and nh == max(1, (h * max_w) // w)
        out = nn_resize(arr, nw, nh)
        assert out.shape == (nh, nw, 3)
        # every output pixel is a genuine source pixel
        ys = (np.arange(nh) * h) // nh
        xs = (np.arange(nw) * w) // nw
        assert (out == arr[ys][:, xs]).all()

    check()


def test_gif_frame_count_walks_block_structure():
    # Real container arithmetic in the header-only AVI probe: the frame
    # count and dims come from avih reached through the LIST nesting, past
    # an odd-sized (padded) JUNK chunk in front of hdrl; the full decoder
    # walks the same structure to the same frames.
    import struct

    import numpy as np

    from time_series_and_data_lakes_spark.operators.multimodal import (
        _avi_dims,
        avi_decode,
        avi_encode,
    )

    anim = avi_encode(np.zeros((7, 32, 32, 3), np.uint8), fps=12)
    still = avi_encode(np.zeros((1, 33, 64, 3), np.uint8), fps=12)
    assert _avi_dims(anim) == (32, 32, 7)
    assert _avi_dims(still) == (64, 33, 1)
    junk = b"JUNK" + struct.pack("<I", 3) + b"abc" + b"\x00"
    body = b"AVI " + junk + anim[12:]
    with_junk = b"RIFF" + struct.pack("<I", len(body)) + body
    assert _avi_dims(with_junk) == (32, 32, 7)
    assert avi_decode(with_junk)[1].shape == (7, 32, 32, 3)
    with pytest.raises(ValueError, match="not a RIFF/AVI"):
        _avi_dims(b"not an avi")


def test_gif_frames_flow_through_decode_media(spark):
    # multi-frame video reports its frame count through decode_media, and
    # the frames extract_frames emits flow back in as 1-frame images
    import numpy as np

    from time_series_and_data_lakes_spark.operators.multimodal import (
        avi_encode,
        extract_frames,
    )

    rows = [
        (20, "video", avi_encode(np.zeros((5, 8, 16, 3), np.uint8), 10), ("s3", "avi")),
        (21, "video", avi_encode(np.zeros((1, 9, 9, 3), np.uint8), 10), ("s3", "avi")),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {r["media_id"]: r for r in decode_media(df).collect()}
    assert (got[20]["width"], got[20]["height"], got[20]["n_frames"]) == (16, 8, 5)
    assert got[21]["n_frames"] == 1
    frames = decode_media(extract_frames(df.filter("media_id = 20"))).collect()
    assert len(frames) == 5
    assert {(r["width"], r["height"], r["n_frames"]) for r in frames} == {(16, 8, 1)}


def test_media_features_compose_with_ann_search(spark):
    # End-to-end multimodal retrieval chain: payload bytes -> deterministic
    # feature extraction -> cosine top-k over the feature vectors. Pins that
    # extract_features' output shape (media_id, features float array) drops
    # straight into the similarity stack with only column renames — the
    # "image dedup / media search" composition, with the byte-histogram
    # standing in for a real embedding model.
    from time_series_and_data_lakes_spark.operators.similarity import cosine_topk

    rows = [
        (i, "image", pack_fake_payload(64, 64, 1, bytes([i % 7] * 50 + [i] * 20)), ("s3", "tsdl-fake"))
        for i in range(1, 13)
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = extract_features(media).select(
        F.col("media_id").alias("vec_id"), F.col("features").alias("embedding")
    )
    queries = feats.filter(F.col("vec_id") <= 2)
    out = cosine_topk(feats, queries, k=3)
    got = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in out.collect()}
    # 3 neighbors per query, no self matches, deterministic
    assert len(got) == 6
    assert all(got[(q, r)] != q for (q, r) in got)
    # payloads built from the same byte pattern (i % 7 equal) are the
    # nearest non-self neighbors: 1's histogram matches 8's most closely
    assert got[(1, 1)] == 8
    assert got[(2, 1)] == 9


def test_wav_roundtrip_and_chunk_walk():
    import struct

    import numpy as np

    from time_series_and_data_lakes_spark.operators.multimodal import (
        wav_decode,
        wav_encode,
    )

    samples = np.array([0, 100, -100, 32767, -32768, 7], dtype=np.int16)
    payload = wav_encode(samples, 8000)
    rate, ch, got = wav_decode(payload)
    assert (rate, ch) == (8000, 1)
    assert np.array_equal(got, samples)

    # a LIST chunk between fmt and data (common in the wild): the parser
    # must walk past it, not assume the canonical 44-byte layout
    fmt = payload[12:36]
    data = payload[36:]
    extra = b"LIST" + struct.pack("<I", 4) + b"INFO"
    exotic = b"RIFF" + struct.pack("<I", 4 + len(fmt) + len(extra) + len(data)) + b"WAVE" + fmt + extra + data
    rate2, _ch2, got2 = wav_decode(exotic)
    assert rate2 == 8000 and np.array_equal(got2, samples)

    # a nonsensical encoding (float at 16 bits) raises honestly — the
    # real float widths (32/64) decode, see test_wav_decode_all_encodings
    import pytest as _pytest

    bad_fmt = payload[:20] + struct.pack("<H", 3) + payload[22:]
    with _pytest.raises(NotImplementedError):
        wav_decode(bad_fmt)


def test_wav_decode_all_encodings():
    """Every uncompressed WAV encoding decodes, normalized to int16
    (like the image codecs normalize to 8-bit): 8/24/32-bit PCM keep
    their top 16 bits, float clips to ±1 and scales, G.711 a-law/µ-law
    expand via the Sun formulas (validated bit-exactly against stdlib
    ``audioop`` when present — removed in Python 3.13, hence the gate),
    and WAVE_FORMAT_EXTENSIBLE unwraps to its SubFormat. Compressed
    encodings (ADPCM etc.) still raise."""
    import struct

    import numpy as np
    import pytest as _pytest

    from time_series_and_data_lakes_spark.operators.multimodal import (
        _alaw_to_linear,
        _mulaw_to_linear,
        wav_decode,
    )

    def wav(fmt, bits, data, ext=False):
        if ext:
            body = struct.pack(
                "<HHIIHH", 0xFFFE, 1, 8000, 8000 * (bits // 8), bits // 8, bits
            )
            body += (
                struct.pack("<HIH", 22, bits, 1)
                + struct.pack("<H", fmt)
                + b"\x00" * 14
            )
        else:
            body = struct.pack(
                "<HHIIHH", fmt, 1, 8000, 8000 * (bits // 8), bits // 8, bits
            )
        return (
            b"RIFF" + struct.pack("<I", 4 + 8 + len(body) + 8 + len(data))
            + b"WAVE" + b"fmt " + struct.pack("<I", len(body)) + body
            + b"data" + struct.pack("<I", len(data)) + data
        )

    # 8-bit unsigned PCM recenters at 0
    assert wav_decode(wav(1, 8, bytes([0, 128, 255])))[2].tolist() == [
        -32768, 0, 32512,
    ]
    # 24/32-bit PCM keep the top 16 bits, sign intact
    v = 0x123456
    d = v.to_bytes(3, "little", signed=True) + (-v).to_bytes(3, "little", signed=True)
    assert wav_decode(wav(1, 24, d))[2].tolist() == [v >> 8, -v >> 8]
    d = struct.pack("<ii", 0x12345678, -0x12345678)
    assert wav_decode(wav(1, 32, d))[2].tolist() == [0x1234, (-0x12345678) >> 16]
    # IEEE float32/float64: clip to +-1, scale to +-32767 with the
    # repo-wide half-up rounding floor(x + 0.5) — exact .5-LSB samples go
    # toward +inf (np.round's banker's rounding would give -16384 below)
    d = struct.pack("<4f", 0.5, -1.0, 2.0, 0.0)
    assert wav_decode(wav(3, 32, d))[2].tolist() == [16384, -32767, 32767, 0]
    d = struct.pack("<2d", 0.25, -0.5)
    assert wav_decode(wav(3, 64, d))[2].tolist() == [8192, -16383]
    # half-up vs half-even where they differ in the positive range:
    # 2.5/32767 scales back to exactly 2.5 -> 3 (banker's would pick 2)
    d = struct.pack("<2f", 2.5 / 32767.0, 4.5 / 32767.0)
    assert wav_decode(wav(3, 32, d))[2].tolist() == [3, 5]
    # EXTENSIBLE wrapper resolves its SubFormat
    d = struct.pack("<2f", 1.0, -1.0)
    assert wav_decode(wav(3, 32, d, ext=True))[2].tolist() == [32767, -32767]
    # G.711 through the container; the expansion formulas themselves are
    # pinned against the stdlib reference when it exists
    codes = np.arange(256, dtype=np.uint8)
    got_u = wav_decode(wav(7, 8, bytes(codes)))[2]
    got_a = wav_decode(wav(6, 8, bytes(codes)))[2]
    assert np.array_equal(got_u, _mulaw_to_linear(codes))
    assert np.array_equal(got_a, _alaw_to_linear(codes))
    import warnings

    try:
        with warnings.catch_warnings():
            # stdlib until 3.12; deprecation noise is not the test's problem
            warnings.simplefilter("ignore", DeprecationWarning)
            import audioop
    except ImportError:
        pass
    else:
        assert np.array_equal(
            got_u, np.frombuffer(audioop.ulaw2lin(bytes(codes), 2), "<i2")
        )
        assert np.array_equal(
            got_a, np.frombuffer(audioop.alaw2lin(bytes(codes), 2), "<i2")
        )
    # sign symmetry + monotone segment growth hold regardless of the
    # oracle being available
    assert np.array_equal(_mulaw_to_linear(codes[128:]), -_mulaw_to_linear(codes[:128]))
    # compressed encodings raise; short data is corrupt
    with _pytest.raises(NotImplementedError, match="format=2"):
        wav_decode(wav(2, 4, b"\x00\x00"))
    with _pytest.raises(ValueError, match="not a multiple"):
        wav_decode(wav(1, 32, b"\x00\x00\x00"))


def test_audio_resample_decimates_real_payloads(spark):
    import numpy as np

    from time_series_and_data_lakes_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        resample_audio,
        wav_decode,
        wav_encode,
    )

    samples = np.arange(-50, 50, dtype=np.int16)
    rows = [(1, "audio", wav_encode(samples, 16000), ("s3", "wav"))]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = resample_audio(df, factor=5).collect()[0]
    rate, _ch, got = wav_decode(out["payload"])
    assert rate == 3200
    assert np.array_equal(got, samples[::5])


def test_audio_stats_multichannel_interleaved_contract(spark):
    # ADVICE_r4: stats over multi-channel WAV are defined over the
    # INTERLEAVED stream — n_samples = frames x channels, peak/RMS pool
    # all channels — while resample_audio raises for the same payload.
    import math
    import struct

    import numpy as np

    from time_series_and_data_lakes_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        audio_stats,
        resample_audio,
    )

    # hand-packed stereo 16-bit PCM: L = [100, -300], R = [200, 50]
    interleaved = np.array([100, 200, -300, 50], dtype="<i2")
    pcm = interleaved.tobytes()
    rate = 8000
    payload = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF", 36 + len(pcm), b"WAVE", b"fmt ", 16,
        1, 2, rate, rate * 2 * 2, 4, 16, b"data", len(pcm),
    ) + pcm
    df = spark.createDataFrame([(1, "audio", payload, ("s3", "wav"))], MEDIA_SCHEMA)
    (row,) = audio_stats(df).collect()
    assert (row["n_channels"], row["n_samples"], row["peak"]) == (2, 4, 300)
    assert row["rms"] == math.sqrt((100**2 + 200**2 + 300**2 + 50**2) / 4)
    # stereo decimation keeps whole frames: factor 2 over 2 frames keeps
    # frame 0 — both its channels, at rate // 2
    from time_series_and_data_lakes_spark.operators.multimodal import wav_decode

    (res,) = resample_audio(df, factor=2).collect()
    rate2, ch2, kept = wav_decode(bytes(res["payload"]))
    assert (rate2, ch2) == (4000, 2)
    assert kept.tolist() == [100, 200]


def test_area_resize_exact_means_and_reference_parity():
    """The box-filter resampler is exact: integer shrink factors give
    half-up-rounded box means, and arbitrary rational factors match an
    INDEPENDENT Fraction-arithmetic reference pixel for pixel."""
    from fractions import Fraction

    import numpy as np

    from time_series_and_data_lakes_spark.operators.multimodal import area_resize

    rng = np.random.default_rng(31)
    # integer factor: every output pixel is the half-up mean of its box
    arr = rng.integers(0, 256, (6, 8, 3), dtype=np.uint8)
    got = area_resize(arr, 4, 3)
    boxes = arr.reshape(3, 2, 4, 2, 3).swapaxes(1, 2).reshape(3, 4, 4, 3)
    want = ((2 * boxes.astype(np.int64).sum(axis=2) + 4) // 8).astype(np.uint8)
    assert np.array_equal(got, want)
    # identity
    assert np.array_equal(area_resize(arr, 8, 6), arr)
    # rational factors vs a Fraction reference (independent arithmetic)
    arr = rng.integers(0, 256, (5, 7, 3), dtype=np.uint8)
    nw, nh = 3, 4
    got = area_resize(arr, nw, nh)
    h, w = 5, 7
    for y in range(nh):
        for x in range(nw):
            for ch in range(3):
                total = Fraction(0)
                y0, y1 = Fraction(y * h, nh), Fraction((y + 1) * h, nh)
                x0, x1 = Fraction(x * w, nw), Fraction((x + 1) * w, nw)
                for sy in range(h):
                    oy = min(y1, sy + 1) - max(y0, Fraction(sy))
                    if oy <= 0:
                        continue
                    for sx in range(w):
                        ox = min(x1, sx + 1) - max(x0, Fraction(sx))
                        if ox > 0:
                            total += oy * ox * int(arr[sy, sx, ch])
                mean = total / ((y1 - y0) * (x1 - x0))
                want_px = int(mean + Fraction(1, 2))  # floor(v + 1/2)
                assert got[y, x, ch] == want_px, (y, x, ch)


def test_resize_media_area_method(spark):
    import numpy as np
    import pytest as _pytest

    from time_series_and_data_lakes_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        area_resize,
        bmp_decode,
        bmp_encode,
        ppm_decode,
        ppm_encode,
        resize_media,
    )

    rng = np.random.default_rng(33)
    arr = rng.integers(0, 256, (96, 128, 3), dtype=np.uint8)
    df = spark.createDataFrame(
        [
            (7, "image", bmp_encode(arr), ("s3", "bmp")),
            (8, "image", ppm_encode(arr), ("s3", "ppm")),
        ],
        MEDIA_SCHEMA,
    )
    rows = {
        r["media_id"]: r["payload"]
        for r in resize_media(df, max_width=64, max_height=64, method="area").collect()
    }
    want = area_resize(arr, 64, 48)
    assert np.array_equal(bmp_decode(bytes(rows[7])), want)
    assert np.array_equal(ppm_decode(bytes(rows[8])), want)
    with _pytest.raises(ValueError, match="unknown resize method"):
        resize_media(df, method="bicubic")


def test_avi_roundtrip_extract_and_compressed_raises(spark):
    import struct

    import numpy as np

    from time_series_and_data_lakes_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        avi_decode,
        avi_encode,
        bmp_decode,
        extract_frames,
    )

    rng = np.random.default_rng(5)
    frames = rng.integers(0, 256, size=(5, 6, 8, 3), dtype=np.uint8)
    payload = avi_encode(frames, fps=10)
    fps, got = avi_decode(payload)
    assert fps == 10
    assert np.array_equal(got, frames)

    # an idx1 chunk after movi (the common layout) is walked past
    idx1 = b"idx1" + struct.pack("<I", 4) + b"\x00" * 4
    body = payload[8:] + idx1
    exotic = b"RIFF" + struct.pack("<I", len(body)) + body
    _fps2, got2 = avi_decode(exotic)
    assert np.array_equal(got2, frames)

    # a compressed stream (strf fourcc != 0) raises honestly
    import pytest as _pytest

    strf_at = payload.index(struct.pack("<IiiHHI", 40, 8, 6, 1, 24, 0))
    bad = (
        payload[: strf_at + 16]
        + struct.pack("<I", 0x34363248)  # 'H264'
        + payload[strf_at + 20 :]
    )
    with _pytest.raises(NotImplementedError):
        avi_decode(bad)

    # extract_frames: every 2nd frame, re-encoded as BMP, pixels intact
    df = spark.createDataFrame(
        [(7, "video", payload, ("s3", "avi"))], MEDIA_SCHEMA
    )
    rows = {r["frame_index"]: r for r in extract_frames(df, every_n=2).collect()}
    assert sorted(rows) == [0, 2, 4]
    for k, r in rows.items():
        assert r["meta"]["codec"] == "bmp"
        assert np.array_equal(bmp_decode(r["payload"]), frames[k])


def test_wav_avi_roundtrip_property_sweep():
    # Hypothesis sweep over shapes/contents: encode -> decode is the
    # identity for both new container codecs at any size.
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from time_series_and_data_lakes_spark.operators.multimodal import (
        avi_decode,
        avi_encode,
        wav_decode,
        wav_encode,
    )

    @settings(max_examples=40, deadline=None)
    @given(
        n=st.integers(min_value=0, max_value=400),
        rate=st.integers(min_value=1, max_value=192_000),
        seed=st.integers(min_value=0, max_value=2**31 - 1),
    )
    def wav_case(n, rate, seed):
        rng = np.random.default_rng(seed)
        samples = rng.integers(-32768, 32768, size=n, dtype=np.int16)
        got_rate, ch, got = wav_decode(wav_encode(samples, rate))
        assert (got_rate, ch) == (rate, 1)
        assert np.array_equal(got, samples)

    @settings(max_examples=25, deadline=None)
    @given(
        nf=st.integers(min_value=1, max_value=6),
        w=st.integers(min_value=1, max_value=17),
        h=st.integers(min_value=1, max_value=13),
        fps=st.integers(min_value=1, max_value=120),
        seed=st.integers(min_value=0, max_value=2**31 - 1),
    )
    def avi_case(nf, w, h, fps, seed):
        rng = np.random.default_rng(seed)
        frames = rng.integers(0, 256, size=(nf, h, w, 3), dtype=np.uint8)
        got_fps, got = avi_decode(avi_encode(frames, fps))
        assert got_fps == 1_000_000 // (1_000_000 // fps)
        assert np.array_equal(got, frames)

    wav_case()
    avi_case()


def test_png_resize_pipeline_end_to_end(spark):
    # A BMP rides the decode -> nn_resize -> re-encode path end to end:
    # resized pixels equal nn_resize of the original array, the rewritten
    # header reports the new dims, and pixel_stats reads the result.
    import numpy as np

    from time_series_and_data_lakes_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        bmp_decode,
        bmp_encode,
        nn_resize,
        pixel_stats,
        resize_media,
    )

    rng = np.random.default_rng(17)
    arr = rng.integers(0, 256, (96, 128, 3), dtype=np.uint8)
    df = spark.createDataFrame(
        [(21, "image", bmp_encode(arr), ("s3", "bmp"))], MEDIA_SCHEMA
    )
    resized = resize_media(df, max_width=64, max_height=64)
    (row,) = resized.collect()
    assert row["meta"]["codec"] == "bmp"
    assert np.array_equal(bmp_decode(bytes(row["payload"])), nn_resize(arr, 64, 48))
    (dims,) = decode_media(resized).collect()
    assert (dims["width"], dims["height"], dims["n_frames"]) == (64, 48, 1)
    (st,) = pixel_stats(resized).collect()
    assert (st["width"], st["height"]) == (64, 48)
    assert st["pixel_sum"] == int(nn_resize(arr, 64, 48).sum(dtype=np.int64))


def test_gif_codec_honest_boundaries(spark):
    # Legal-but-unimplemented layouts of the kept codecs raise
    # NotImplementedError — never garbage pixels, never 'corrupt' — and
    # media_errors routes them as 'unsupported'.
    import struct

    import numpy as np

    from time_series_and_data_lakes_spark.operators.multimodal import (
        bmp_decode,
        bmp_encode,
        media_errors,
        ppm_decode,
    )

    bmp32 = bytearray(bmp_encode(np.zeros((2, 2, 3), np.uint8)))
    bmp32[28:30] = struct.pack("<H", 32)  # 32-bpp
    rle = bytearray(bmp_encode(np.zeros((2, 2, 3), np.uint8)))
    rle[30:34] = struct.pack("<I", 1)  # BI_RLE8
    ppm16 = b"P6\n2 1\n65535\n" + bytes(12)  # 16-bit samples
    for bad in (bytes(bmp32), bytes(rle)):
        with pytest.raises(NotImplementedError, match="24-bpp"):
            bmp_decode(bad)
    with pytest.raises(NotImplementedError, match="maxval"):
        ppm_decode(ppm16)
    df = spark.createDataFrame(
        [
            (1, "image", bytes(bmp32), ("s3", "bmp")),
            (2, "image", bytes(rle), ("s3", "bmp")),
            (3, "image", ppm16, ("s3", "ppm")),
        ],
        MEDIA_SCHEMA,
    )
    report = {r["media_id"]: r["error_kind"] for r in media_errors(df).collect()}
    assert report == {1: "unsupported", 2: "unsupported", 3: "unsupported"}


def test_gif_resize_pipeline_end_to_end(spark):
    # A palette-limited image through the PPM pipeline: nearest resize
    # copies source pixels, so it introduces no color outside the palette,
    # and the chained pixel_stats agrees with nn_resize.
    import numpy as np

    from time_series_and_data_lakes_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        nn_resize,
        pixel_stats,
        ppm_decode,
        ppm_encode,
        resize_media,
    )

    rng = np.random.default_rng(37)
    pal = np.unique(rng.integers(0, 256, (50, 3), dtype=np.uint8), axis=0)
    arr = pal[rng.integers(0, len(pal), (96, 128))]
    df = spark.createDataFrame(
        [(22, "image", ppm_encode(arr), ("s3", "ppm"))], MEDIA_SCHEMA
    )
    (row,) = resize_media(df, max_width=64, max_height=64).collect()
    want = nn_resize(arr, 64, 48)
    got = ppm_decode(bytes(row["payload"]))
    assert np.array_equal(got, want)
    palette = {tuple(c) for c in pal.tolist()}
    assert {tuple(c) for c in got.reshape(-1, 3).tolist()} <= palette
    (st,) = pixel_stats(resize_media(df, max_width=64, max_height=64)).collect()
    assert (st["width"], st["height"]) == (64, 48)
    assert st["pixel_sum"] == int(want.sum(dtype=np.int64))


def test_gif_zero_frames_is_corrupt_data_not_unimplemented():
    # A container without its image header is corrupt DATA (ValueError),
    # not an unimplemented feature — callers route NotImplementedError as
    # "codec boundary", so the two must not be confused.
    import struct

    import numpy as np

    from time_series_and_data_lakes_spark.operators.multimodal import (
        _avi_dims,
        avi_decode,
        avi_encode,
    )

    empty = b"RIFF" + struct.pack("<I", 4) + b"AVI "
    for probe in (avi_decode, _avi_dims):
        with pytest.raises(ValueError, match="missing avih"):
            probe(empty)
    # an avih declaring a zero frame period has no frame rate to report
    p = bytearray(avi_encode(np.zeros((1, 2, 2, 3), np.uint8), fps=10))
    avih = p.index(b"avih") + 8
    p[avih : avih + 4] = struct.pack("<I", 0)
    with pytest.raises(ValueError, match="zero frame period"):
        avi_decode(bytes(p))


def test_extract_frames_from_animated_gif(spark):
    # An animated GIF has no decoder: the frame op refuses it by codec
    # (loud under 'fail', no frames under 'skip'). The frame op's own
    # contract — every frame by default, each an exact-pixel BMP row —
    # runs on an AVI of the same 3-frame 7x5 geometry.
    import struct

    import numpy as np

    from time_series_and_data_lakes_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        avi_encode,
        bmp_decode,
        extract_frames,
    )

    frame = b"\x2c" + struct.pack("<HHHH", 0, 0, 7, 5) + b"\x00\x02\x01\x44\x00"
    gif = b"GIF89a" + struct.pack("<HH", 7, 5) + b"\x00\x00\x00" + 3 * frame + b"\x3b"
    gdf = spark.createDataFrame([(30, "video", gif, ("s3", "gif"))], MEDIA_SCHEMA)
    with pytest.raises(Exception, match="frame extraction supports avi, got codec 'gif'"):
        extract_frames(gdf).collect()
    assert extract_frames(gdf, on_error="skip").count() == 0

    rng = np.random.default_rng(41)
    want = rng.integers(0, 256, (3, 5, 7, 3), dtype=np.uint8)
    df = spark.createDataFrame(
        [(31, "video", avi_encode(want, 10), ("s3", "avi"))], MEDIA_SCHEMA
    )
    rows = sorted(extract_frames(df).collect(), key=lambda r: r["frame_index"])
    assert [r["frame_index"] for r in rows] == [0, 1, 2]
    for r, expected in zip(rows, want):
        assert r["meta"]["codec"] == "bmp"
        assert np.array_equal(bmp_decode(bytes(r["payload"])), expected)


def test_gif_truncation_and_oversized_frame_are_valueerrors():
    # Corrupt structures raise the codec's ValueError contract, never raw
    # IndexError/numpy broadcasts: a stream cut inside avih, a last frame
    # cut short, and avih dims larger than the frames actually stored.
    import struct

    import numpy as np

    from time_series_and_data_lakes_spark.operators.multimodal import (
        _avi_dims,
        avi_decode,
        avi_encode,
    )

    good = avi_encode(np.zeros((2, 2, 2, 3), np.uint8), fps=10)
    avih = good.index(b"avih") + 8
    for probe in (avi_decode, _avi_dims):
        with pytest.raises(ValueError, match="truncated AVI avih"):
            probe(good[: avih + 10])
    with pytest.raises(ValueError, match="needs"):
        avi_decode(good[:-5])
    big = bytearray(good)
    big[avih + 32 : avih + 40] = struct.pack("<II", 640, 480)  # dwWidth/Height
    with pytest.raises(ValueError, match="needs"):
        avi_decode(bytes(big))


def test_on_error_skip_drops_only_bad_rows_and_media_errors_reports_them(spark):
    """At corpus scale some payloads WILL be corrupt; on_error='skip'
    costs one row per bad payload instead of the job, and media_errors
    reports exactly the rows skip drops (corrupt vs unsupported)."""
    import numpy as np

    from time_series_and_data_lakes_spark.operators.multimodal import (
        audio_stats,
        extract_frames,
        media_errors,
        bmp_encode,
        pixel_stats,
        resample_audio,
        resize_media,
        wav_encode,
    )

    img = np.random.RandomState(5).randint(0, 256, (8, 10, 3), dtype=np.uint8)
    good_bmp = bmp_encode(img)
    bad_bmp = good_bmp[:-7]  # raster cut short: header intact, pixels missing
    wav = wav_encode(
        np.random.RandomState(6).randint(-2000, 2000, 64).astype(np.int16), 8000
    )
    rows = [
        (1, "image", good_bmp, ("s3", "bmp")),
        (2, "image", bad_bmp, ("s3", "bmp")),
        (3, "audio", bytes(wav), ("s3", "wav")),
        (4, "audio", bytes(wav[:20]), ("s3", "wav")),  # truncated
        (5, "audio", b"ID3\x04mp3body", ("s3", "mp3")),  # unsupported
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    images = df.filter("media_id <= 2")
    audio = df.filter("media_id in (3, 4)")

    # default stays loud
    import pytest as _pytest

    with _pytest.raises(Exception, match="smaller than requested size"):
        pixel_stats(images).collect()
    for op in (
        lambda: pixel_stats(images, on_error="skip"),
        lambda: resize_media(images, 4, 4, on_error="skip"),
    ):
        got = op().collect()
        assert [r["media_id"] for r in got] == [1]
    # decode_media is header-only and its dims parsers deliberately
    # DEGRADE to zeros on corrupt bytes (tested elsewhere); its skip path
    # triggers on unsupported codecs — a mixed corpus keeps known rows
    mixed = spark.createDataFrame(
        [(1, "image", good_bmp, ("s3", "bmp")),
         (8, "audio", b"ID3\x04mp3body", ("s3", "mp3"))],
        MEDIA_SCHEMA,
    )
    got = decode_media(mixed, on_error="skip").collect()
    assert [r["media_id"] for r in got] == [1]
    for op in (
        lambda: audio_stats(audio, on_error="skip"),
        lambda: resample_audio(audio, 2, on_error="skip"),
    ):
        got = op().collect()
        assert [r["media_id"] for r in got] == [3]
    # row-expanding op: a bad media row emits no frames, good ones intact
    from time_series_and_data_lakes_spark.operators.multimodal import avi_encode

    avi = avi_encode(np.stack([img, img]), 5)
    vid = spark.createDataFrame(
        [(6, "video", bytes(avi), ("s3", "avi")),
         (7, "video", bytes(avi[:30]), ("s3", "avi"))],
        MEDIA_SCHEMA,
    )
    got = extract_frames(vid, on_error="skip").collect()
    assert sorted(set(r["media_id"] for r in got)) == [6]
    with _pytest.raises(ValueError, match="on_error"):
        extract_frames(vid, on_error="ignore")

    # the audit twin reports exactly the drops, typed
    report = {
        r["media_id"]: r for r in media_errors(df.unionByName(vid)).collect()
    }
    assert sorted(report) == [2, 4, 5, 7]
    assert report[2]["error_kind"] == "corrupt"
    assert report[4]["error_kind"] == "corrupt"
    assert report[5]["error_kind"] == "unsupported"
    assert report[7]["error_kind"] == "corrupt"
    assert "smaller than requested size" in report[2]["error"]


def test_null_meta_rows_skip_not_crash(spark):
    """meta is a nullable struct: one null-meta row used to TypeError out
    of the codec map — crashing every operator AND the media_errors audit
    under both policies. It is corrupt row metadata: skipped under
    'skip', reported by media_errors, loud ValueError under 'fail'."""
    import pytest as _pytest

    from time_series_and_data_lakes_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_media,
        media_errors,
        pack_fake_payload,
        resize_media,
    )

    rows = [
        (1, "image", pack_fake_payload(8, 6, 1, b"x"), ("s3", "tsdl-fake")),
        (2, "image", pack_fake_payload(8, 6, 1, b"y"), None),  # null meta
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = decode_media(df, on_error="skip").collect()
    assert [r["media_id"] for r in got] == [1]
    assert [r["media_id"] for r in resize_media(df, on_error="skip").collect()] == [1]
    with _pytest.raises(Exception, match="null meta"):
        decode_media(df, on_error="fail").collect()
    errs = {r["media_id"]: r for r in media_errors(df).collect()}
    assert 2 in errs  # the audit reports the row instead of dying


def test_corrupt_tsdl_magic_is_flagged_not_repaired(spark):
    """A tsdl-fake payload with the wrong magic used to decode as (0,0,0)
    — resize then fabricated a VALID zero-dim header from the corrupt
    bytes and media_errors never flagged the row."""
    from time_series_and_data_lakes_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        media_errors,
        resize_media,
    )

    df = spark.createDataFrame(
        [(1, "image", b"XXXX" + b"\x00" * 12, ("s3", "tsdl-fake"))], MEDIA_SCHEMA
    )
    assert resize_media(df, on_error="skip").count() == 0  # dropped, not repaired
    (err,) = media_errors(df).collect()
    assert err["media_id"] == 1 and "tsdl-fake" in err["error"]


def test_avi_deep_nesting_is_valueerror_not_recursion(spark):
    import struct as _struct

    import pytest as _pytest

    from time_series_and_data_lakes_spark.operators.multimodal import avi_decode

    # ~2000 nested LISTs: a recursive walk RecursionErrors out of the
    # ValueError contract; the iterative walk reports the real problem
    depth = 2000
    inner = b""
    body = inner
    for _ in range(depth):
        body = b"LIST" + _struct.pack("<I", len(body) + 4) + b"xxxx" + body
    payload = b"RIFF" + _struct.pack("<I", len(body) + 4) + b"AVI " + body
    with _pytest.raises(ValueError, match="avih"):
        avi_decode(payload)


def test_extreme_aspect_resize_keeps_one_pixel(spark):
    import numpy as np

    from time_series_and_data_lakes_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        bmp_decode,
        bmp_encode,
        resize_media,
    )

    arr = np.zeros((1, 1000, 3), np.uint8)  # 1000x1 banner
    df = spark.createDataFrame([(1, "image", bmp_encode(arr), ("s3", "bmp"))], MEDIA_SCHEMA)
    (row,) = resize_media(df, max_width=640, max_height=480).collect()
    out = bmp_decode(bytes(row["payload"]))
    assert out.shape == (1, 640, 3)  # clamped to 1 row, not destroyed to 0


def test_resample_audio_validates_factor(spark):
    import numpy as np

    import pytest as _pytest

    from time_series_and_data_lakes_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        resample_audio,
        wav_encode,
    )

    df = spark.createDataFrame(
        [(1, "audio", wav_encode(np.zeros(100, np.int16), 8000), ("s3", "wav"))],
        MEDIA_SCHEMA,
    )
    for bad in (0, -2):
        with _pytest.raises(ValueError, match="factor"):
            resample_audio(df, factor=bad, on_error="skip")
    with _pytest.raises(Exception, match="exceeds the payload"):
        resample_audio(df, factor=9000).collect()  # 0 Hz header otherwise


def test_extract_frames_rejects_single_image_codecs(spark):
    import numpy as np

    import pytest as _pytest

    from time_series_and_data_lakes_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        bmp_encode,
        extract_frames,
    )

    df = spark.createDataFrame(
        [(1, "image", bmp_encode(np.zeros((2, 2, 3), np.uint8)), ("s3", "bmp"))],
        MEDIA_SCHEMA,
    )
    # a VALID bmp fed to the frame op is 'unsupported', not corrupt RIFF
    with _pytest.raises(Exception, match="frame extraction supports avi,"):
        extract_frames(df).collect()
    assert extract_frames(df, on_error="skip").count() == 0


def test_decode_media_reports_avi_header_dims(spark):
    import numpy as np

    from time_series_and_data_lakes_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        avi_encode,
        decode_media,
    )

    frames = np.zeros((4, 6, 8, 3), np.uint8)
    df = spark.createDataFrame(
        [(1, "video", avi_encode(frames, fps=10), ("s3", "avi"))], MEDIA_SCHEMA
    )
    (row,) = decode_media(df).collect()
    assert (row["width"], row["height"], row["n_frames"]) == (8, 6, 4)


def test_media_docs_python_stage_partitions_are_row_bounded(spark, sf_dir):
    # r11: the multimodal fixture chains (2-3 mapInPandas stages) size their
    # task count by rows-per-task from parquet footer metadata, not by core
    # count — every Python stage task pays a worker round trip even when
    # near-empty, so the r10 core-count spread cost 64-96 handshakes for a
    # 5k-row fixture (the driver-measured decode_stats regression).
    import math

    from time_series_and_data_lakes_spark import queries_ext as QE
    from time_series_and_data_lakes_spark.sources.stats import parquet_footer_rows

    n = parquet_footer_rows(f"{sf_dir}/documents.parquet")
    assert n is not None and n > 0
    expect = max(
        1,
        min(
            spark.sparkContext.defaultParallelism,
            math.ceil(n / QE._PY_ROWS_PER_TASK),
        ),
    )
    assert QE._media_docs(spark, sf_dir).rdd.getNumPartitions() == expect


def test_parquet_footer_rows_conservative_none(tmp_path):
    from time_series_and_data_lakes_spark.sources.stats import parquet_footer_rows

    assert parquet_footer_rows(str(tmp_path / "missing.parquet")) is None
    assert parquet_footer_rows(str(tmp_path)) is None  # empty dir: no parts
