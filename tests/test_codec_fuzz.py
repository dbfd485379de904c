"""Codec robustness contract, fuzz-pinned: every decoder (BMP, PPM, WAV,
AVI) maps a corrupt or truncated stream to ValueError (corrupt data) or
NotImplementedError (honest feature boundary) — never a raw internal
error (struct.error, IndexError, OverflowError, ZeroDivisionError, a
corrupt-size allocation), which would crash an executor task
mid-`mapInPandas` instead of routing through the per-row error column.

Escapes found by fuzzing are pinned specifically below, plus a
deterministic seeded mutation sweep so the CLASS of bug stays covered.
"""

from __future__ import annotations

import random
import struct

import numpy as np
import pytest

from time_series_and_data_lakes_spark.operators.multimodal import (
    avi_decode,
    avi_encode,
    bmp_decode,
    bmp_encode,
    ppm_decode,
    ppm_encode,
    wav_decode,
    wav_encode,
)


def _wav_payload(_img):
    samples = np.random.RandomState(17).randint(-3000, 3000, (256, 2))
    return wav_encode(samples.astype(np.int16), 8000, 2)


def _wav_float_payload(_img):
    # float32 WAV in a WAVE_FORMAT_EXTENSIBLE wrapper: fuzzes the
    # SubFormat unwrap, the float decode path, and the length checks
    vals = np.linspace(-1.2, 1.2, 200, dtype="<f4").tobytes()
    body = struct.pack("<HHIIHH", 0xFFFE, 1, 8000, 32000, 4, 32)
    body += struct.pack("<HIH", 22, 32, 1) + struct.pack("<H", 3) + b"\x00" * 14
    return (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(body) + 8 + len(vals))
        + b"WAVE" + b"fmt " + struct.pack("<I", len(body)) + body
        + b"data" + struct.pack("<I", len(vals)) + vals
    )


def _avi_payload(img):
    return avi_encode(np.stack([img, 255 - img, img]), 5)


CODECS = {
    "bmp": (bmp_encode, bmp_decode),
    "ppm": (ppm_encode, ppm_decode),
    # media containers share the identical contract; their encode side
    # takes different inputs, so adapt through the image
    "wav": (_wav_payload, wav_decode),
    "wav_float": (_wav_float_payload, wav_decode),
    "avi": (_avi_payload, avi_decode),
}

CONTRACT = (ValueError, NotImplementedError)


def _img(seed: int, h: int = 9, w: int = 13) -> "np.ndarray":
    return np.random.RandomState(seed).randint(0, 256, (h, w, 3), dtype=np.uint8)


@pytest.mark.parametrize("name", sorted(CODECS))
def test_every_truncation_decodes_or_raises_contract_errors(name):
    # exhaustive prefix sweep: each cut either still decodes or raises
    # the contract errors — never an internal error. Covers every
    # container and raster boundary at once.
    enc, dec = CODECS[name]
    payload = enc(_img(3))
    for cut in range(len(payload)):
        try:
            dec(payload[:cut])
        except CONTRACT:
            pass


@pytest.mark.parametrize("name", sorted(CODECS))
def test_seeded_mutation_fuzz_keeps_error_contract(name):
    enc, dec = CODECS[name]
    payload = bytearray(enc(_img(11)))
    rng = random.Random(20260814)
    for _ in range(400):
        p = bytearray(payload)
        op = rng.random()
        if op < 0.5:  # single byte flip
            p[rng.randrange(len(p))] = rng.randrange(256)
        else:  # burst of flips
            for _ in range(rng.randint(2, 8)):
                p[rng.randrange(len(p))] = rng.randrange(256)
        try:
            dec(bytes(p))
        except CONTRACT:
            pass


def test_dims_parsers_keep_error_contract_under_mutation():
    # the header-only metadata parsers run in decode_media's hot path;
    # same contract, lighter sweep (they were fuzz-clean — this pins it)
    from time_series_and_data_lakes_spark.operators.multimodal import (
        _avi_dims,
        bmp_dims,
        ppm_dims,
    )

    img = _img(13)
    parsers = [
        (ppm_encode(img), ppm_dims),
        (bmp_encode(img), bmp_dims),
        (_avi_payload(img), _avi_dims),
    ]
    rng = random.Random(20260814)
    for payload, fn in parsers:
        payload = bytearray(payload)
        for cut in range(min(len(payload), 64)):  # headers sit up front
            try:
                fn(bytes(payload[:cut]))
            except CONTRACT:
                pass
        for _ in range(150):
            p = bytearray(payload)
            p[rng.randrange(len(p))] = rng.randrange(256)
            try:
                fn(bytes(p))
            except CONTRACT:
                pass


def test_avi_corrupt_dimensions_never_reach_the_output_allocation():
    # avih h/w are raw uint32; before the guard, a bit flip in them sized
    # a multi-hundred-GiB np.empty (executor OOM). Frame lengths are now
    # validated against h*stride BEFORE allocating.
    payload = bytearray(_avi_payload(_img(9)))
    avih = bytes(payload).find(b"avih") + 8  # chunk body
    for field, value in ((8, 1 << 24), (9, 1 << 24)):  # width, height dwords
        p = bytearray(payload)
        p[avih + 4 * field : avih + 4 * field + 4] = struct.pack("<I", value)
        with pytest.raises(ValueError, match="AVI frame 0 holds"):
            avi_decode(bytes(p))
    # zero frame period must not divide by zero computing fps
    p = bytearray(payload)
    p[avih : avih + 4] = struct.pack("<I", 0)
    with pytest.raises(ValueError, match="zero frame period"):
        avi_decode(bytes(p))


def test_wav_truncated_fmt_chunk_is_value_error():
    payload = bytes(_wav_payload(None))
    fmt_off = payload.find(b"fmt ")
    # keep RIFF/WAVE + the fmt header but cut inside the fmt body
    with pytest.raises(ValueError, match="truncated WAV fmt chunk"):
        wav_decode(payload[: fmt_off + 8 + 10])


def test_tsdl_fake_header_parse_keeps_error_contract():
    # review-found: a truncated tsdl-fake payload that keeps the magic
    # raised struct.error, escaping on_error='skip' and crashing
    # media_errors — the exact rows those features exist to absorb
    from time_series_and_data_lakes_spark.operators.multimodal import (
        _decode_payload,
        pack_fake_payload,
    )

    payload = pack_fake_payload(640, 480, 3, b"body")
    assert _decode_payload(payload, "tsdl-fake") == (640, 480, 3)
    # wrong magic is corrupt data, not a silent (0,0,0) degrade: the old
    # degrade let resize 'repair' corrupt payloads into valid zero-dim
    # headers that media_errors never flagged
    with pytest.raises(ValueError, match="not a tsdl-fake"):
        _decode_payload(b"nope", "tsdl-fake")
    for cut in range(4, 10):  # magic intact, header cut
        with pytest.raises(ValueError, match="truncated tsdl-fake"):
            _decode_payload(payload[:cut], "tsdl-fake")
    # and the generic sweeps
    rng = random.Random(99)
    for _ in range(300):
        p = bytearray(payload)
        p[rng.randrange(len(p))] = rng.randrange(256)
        try:
            _decode_payload(bytes(p[: rng.randrange(1, len(p))]), "tsdl-fake")
        except CONTRACT:
            pass
