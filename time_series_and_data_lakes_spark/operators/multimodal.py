"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, processed via Arrow-batched ``mapInPandas``.

The Spark-side architecture is real and tested — schema contract, typed
metadata struct, partition-preserving batch iteration, bounded batch sizes.
The codec layer:

- ``bmp`` / ``ppm``: REAL PIXEL codecs (:func:`bmp_decode` /
  :func:`bmp_encode` / :func:`ppm_decode` / :func:`ppm_encode` — 24-bpp
  BI_RGB BMP and binary P6 PPM, pure numpy/struct). :func:`resize_media`
  pixel-transcodes both via two exact integer resamplers:
  :func:`nn_resize` (nearest-neighbor, default) and :func:`area_resize`
  (box filter, exact rational coverage weights).
- ``wav``: REAL AUDIO codec (:func:`wav_encode` / :func:`wav_decode` —
  RIFF chunk walker, pure stdlib/numpy; 8/16/24/32-bit PCM, IEEE
  float32/64, G.711 a-law/µ-law, WAVE_FORMAT_EXTENSIBLE, normalized to
  int16; encode emits 16-bit PCM), plus :func:`audio_stats` (peak/RMS)
  and :func:`resample_audio` (integer decimation). Compressed audio
  (ADPCM/mp3/aac/...) raises.
- ``avi``: REAL VIDEO container codec (:func:`avi_encode` /
  :func:`avi_decode` — RIFF 'AVI ' with uncompressed 24-bpp DIB frames);
  :func:`extract_frames` expands one BMP row per kept frame.
- ``tsdl-fake``: deterministic fake header layout for oracle-gated tests.
- anything else (compressed images such as PNG/GIF/JPEG, compressed
  audio / video codecs): explicit ``NotImplementedError``, so
  ``on_error='skip'`` drops such rows.

Scale notes: ``mapInPandas`` streams Arrow record batches through Python
without materializing a partition; ``spark.sql.execution.arrow.
maxRecordsPerBatch`` bounds peak memory per batch, so executor memory sizing
is independent of blob sizes × partition row counts. Blobs stay opaque bytes
end-to-end (no JVM<->Python string copies).
"""

from __future__ import annotations

import math
import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("media_type", T.StringType()),  # image | audio | video
        T.StructField("payload", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("source", T.StringType()),
                    T.StructField("codec", T.StringType()),
                ]
            ),
        ),
    ]
)

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)

# Fake header layout for the deterministic stub codec: magic 'TSDL' +
# uint16 width + uint16 height + uint16 frames, big-endian.
_MAGIC = b"TSDL"
_HEADER = ">HHH"


def pack_fake_payload(width: int, height: int, frames: int, body: bytes = b"") -> bytes:
    """Test helper: build a payload in the stub codec's header layout."""
    return _MAGIC + struct.pack(_HEADER, width, height, frames) + body


# --------------------------------------------------------------------------
# Real pixel codecs: 24-bpp BI_RGB BMP and binary P6 PPM. Both formats are
# uncompressed rasters, so a complete, bit-exact implementation fits in pure
# numpy/struct — no PIL. Arrays are (height, width, 3) uint8 RGB, row 0 = top.
# --------------------------------------------------------------------------

_BMP_HEADER_BYTES = 54  # 14-byte file header + 40-byte BITMAPINFOHEADER


def _bmp_stride(width: int) -> int:
    """BMP rows are padded to 4-byte boundaries (24 bpp -> 3 bytes/px)."""
    return (width * 3 + 3) // 4 * 4


def bmp_encode(arr: "np.ndarray") -> bytes:
    """(h, w, 3) uint8 RGB -> 24-bpp uncompressed BMP (BITMAPINFOHEADER,
    bottom-up rows, BGR byte order, 4-byte row padding — the baseline
    layout every BMP reader accepts)."""
    h, w, _ = arr.shape
    stride = _bmp_stride(w)
    buf = np.zeros((h, stride), dtype=np.uint8)
    # bottom-up rows, RGB -> BGR
    buf[:, : w * 3] = arr[::-1, :, ::-1].reshape(h, w * 3)
    body = buf.tobytes()
    file_header = b"BM" + struct.pack("<IHHI", _BMP_HEADER_BYTES + len(body), 0, 0, _BMP_HEADER_BYTES)
    info_header = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0
    )
    return file_header + info_header + body


def bmp_decode(payload: bytes) -> "np.ndarray":
    """24-bpp uncompressed BMP -> (h, w, 3) uint8 RGB. Handles both
    bottom-up (positive height, the norm) and top-down (negative height)
    row orders; other bit depths / BI_RLE compression raise."""
    if payload[:2] != b"BM" or len(payload) < _BMP_HEADER_BYTES:
        raise ValueError("not a BMP payload")
    (pixel_off,) = struct.unpack("<I", payload[10:14])
    _, w, h, _, bpp, compression = struct.unpack("<IiiHHI", payload[14:34])
    if bpp != 24 or compression != 0:
        raise NotImplementedError(f"only 24-bpp BI_RGB supported (bpp={bpp}, compression={compression})")
    top_down = h < 0
    h = abs(h)
    stride = _bmp_stride(w)
    if len(payload) < pixel_off + h * stride:
        raise ValueError(
            f"BMP payload holds {len(payload)} bytes, its {h}x{w} raster at "
            f"offset {pixel_off} needs {pixel_off + h * stride}"
        )
    buf = np.frombuffer(payload, dtype=np.uint8, count=h * stride, offset=pixel_off)
    img = buf.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)[:, :, ::-1]  # BGR -> RGB
    if not top_down:
        img = img[::-1]
    return np.ascontiguousarray(img)


def ppm_encode(arr: "np.ndarray") -> bytes:
    """(h, w, 3) uint8 RGB -> binary P6 PPM, maxval 255."""
    h, w, _ = arr.shape
    return f"P6\n{w} {h}\n255\n".encode("ascii") + arr.tobytes()


def _ppm_header(payload: bytes) -> tuple[int, int, int, int]:
    """Parse the P6 header per the netpbm spec — magic, width, height,
    maxval as whitespace-separated tokens with '#' comments — WITHOUT
    touching the raster. Returns (width, height, maxval, raster_offset)."""
    if payload[:2] != b"P6":
        raise ValueError("not a P6 PPM payload")
    tokens: list[int] = []
    i = 2
    n = len(payload)
    while len(tokens) < 3 and i < n:
        c = payload[i : i + 1]
        if c == b"#":  # comment to end of line
            while i < n and payload[i] not in (0x0A, 0x0D):
                i += 1
        elif c.isspace():
            i += 1
        else:
            j = i
            while j < n and not payload[j : j + 1].isspace():
                j += 1
            tokens.append(int(payload[i:j]))
            i = j
    if len(tokens) < 3:
        raise ValueError("truncated P6 header")
    w, h, maxval = tokens
    return w, h, maxval, i + 1  # one whitespace byte after maxval, then raster


def ppm_decode(payload: bytes) -> "np.ndarray":
    """Binary P6 PPM -> (h, w, 3) uint8 RGB."""
    w, h, maxval, off = _ppm_header(payload)
    if maxval != 255:
        raise NotImplementedError("only maxval=255 PPM supported")
    if len(payload) < off + h * w * 3:
        raise ValueError(
            f"PPM payload holds {len(payload)} bytes, its {h}x{w} raster at "
            f"offset {off} needs {off + h * w * 3}"
        )
    return np.frombuffer(payload, dtype=np.uint8, count=h * w * 3, offset=off).reshape(h, w, 3).copy()


def ppm_dims(payload: bytes) -> tuple[int, int]:
    """Width/height from the P6 header only — O(header) like the other
    ``*_dims`` helpers, no raster read (so a truncated raster still reports
    its header dims, matching BMP behavior); (0, 0) on a non-PPM payload."""
    try:
        w, h, _, _ = _ppm_header(bytes(payload))
    except (ValueError, IndexError):
        return (0, 0)
    return (w, h)


def bmp_dims(payload: bytes) -> tuple[int, int]:
    """Width/height from the BITMAPINFOHEADER; (0, 0) on a non-BMP payload."""
    if payload[:2] != b"BM" or len(payload) < 32:
        return (0, 0)
    _, w, h = struct.unpack("<Iii", payload[14:26])
    return (w, abs(h))


def nn_resize(arr: "np.ndarray", new_w: int, new_h: int) -> "np.ndarray":
    """Nearest-neighbor resample with floor index mapping
    (``src = (dst * src_len) // dst_len``) — pure integer arithmetic, so a
    SQL oracle can reproduce every output pixel exactly. Identity when the
    target equals the source shape."""
    h, w = arr.shape[:2]
    ys = (np.arange(new_h) * h) // new_h
    xs = (np.arange(new_w) * w) // new_w
    return np.ascontiguousarray(arr[ys][:, xs])


def _area_weights(old: int, new: int) -> "np.ndarray":
    """(new, old) int64 coverage weights on the common grid of old*new
    units: output cell x spans [x*old, (x+1)*old), source cell j spans
    [j*new, (j+1)*new); each row sums to exactly ``old``."""
    j = np.arange(old, dtype=np.int64)
    x = np.arange(new, dtype=np.int64)
    lo = np.maximum(x[:, None] * old, j[None, :] * new)
    hi = np.minimum((x[:, None] + 1) * old, (j[None, :] + 1) * new)
    return np.maximum(hi - lo, 0)


def area_resize(arr: "np.ndarray", new_w: int, new_h: int) -> "np.ndarray":
    """Pixel-area (box-filter) resample — the anti-aliased downscale a
    training-data pipeline wants where nearest-neighbor drops whole
    source rows. EXACT integer arithmetic end-to-end: separable rational
    coverage weights (:func:`_area_weights`), one int64 accumulation per
    axis, one half-up division at the end — deterministic across
    platforms, no float accumulation. For integer shrink factors each
    output pixel is exactly the half-up-rounded mean of its source box;
    identity when the target equals the source shape."""
    h, w = arr.shape[:2]
    if (new_w, new_h) == (w, h):
        return np.ascontiguousarray(arr)
    wy = _area_weights(h, new_h)
    wx = _area_weights(w, new_w)
    a = arr.astype(np.int64)
    tmp = np.tensordot(wy, a, axes=(1, 0))  # (new_h, w, ch)
    acc = np.tensordot(tmp, wx, axes=(1, 1))  # (new_h, ch, new_w)
    acc = np.moveaxis(acc, 1, 2)
    denom = h * w  # per-output coverage: h units (rows) x w units (cols)
    return ((2 * acc + denom) // (2 * denom)).astype(np.uint8)


_PIXEL_CODECS = {
    "bmp": (bmp_decode, bmp_encode),
    "ppm": (ppm_decode, ppm_encode),
}


def _decode_payload(payload: bytes, codec: str) -> tuple[int, int, int]:
    """Container-header decode: BMP/PPM dimensions from their headers
    (:func:`bmp_dims` / :func:`ppm_dims`), AVI dimensions and frame count
    from ``avih``; 'tsdl-fake' is the deterministic test codec. Any other
    codec (compressed images such as PNG/GIF/JPEG, compressed audio/video)
    is explicitly not implemented. Still images report n_frames=1."""
    if codec is None:
        # a null meta struct carries no codec: corrupt ROW metadata (the
        # payload may be fine) — the contract ValueError, absorbed by
        # on_error='skip'
        raise ValueError("null meta struct: row carries no codec")
    if codec == "tsdl-fake":
        if payload[:4] != _MAGIC:
            # wrong magic is corrupt DATA — returning (0, 0, 0) here used
            # to let _transcode_resize 'repair' the payload into a valid
            # zero-dim header and no error policy ever saw the row
            raise ValueError(
                f"not a tsdl-fake payload (magic {bytes(payload[:4])!r})"
            )
        if len(payload) < 10:
            # magic present but header cut: corrupt data, and it must be
            # the contract ValueError — a struct.error here escapes
            # on_error='skip'
            raise ValueError(
                f"truncated tsdl-fake header ({len(payload)} of 10 bytes)"
            )
        w, h, f = struct.unpack(_HEADER, payload[4:10])
        return (w, h, f)
    if codec == "bmp":
        w, h = bmp_dims(bytes(payload))
        return (w, h, 1 if w else 0)
    if codec == "ppm":
        w, h = ppm_dims(bytes(payload))
        return (w, h, 1 if w else 0)
    if codec == "avi":
        return _avi_dims(bytes(payload))
    if codec == "wav":
        raise NotImplementedError(
            "codec 'wav' carries no pixel dimensions — use audio_stats/"
            "resample_audio for the audio pipeline"
        )
    raise NotImplementedError(
        f"codec {codec!r} requires an external decoder (compressed image "
        "and AV formats are out of the from-scratch codec scope)"
    )


def _avi_dims(b: bytes) -> tuple[int, int, int]:
    """Header-only AVI probe for :func:`decode_media`: width, height, and
    declared frame count from the ``avih`` chunk — no frame decoding, so
    the probe is metadata-cheap regardless of payload size. Same iterative
    RIFF walk (and corrupt-data taxonomy) as :func:`avi_decode`."""
    if b[:4] != b"RIFF" or b[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI payload")
    stack = [(12, len(b))]
    while stack:
        lo, hi = stack.pop()
        hi = min(hi, len(b))
        pos = lo
        while pos + 8 <= hi:
            cid = b[pos : pos + 4]
            size = struct.unpack("<I", b[pos + 4 : pos + 8])[0]
            body_lo, body_hi = pos + 8, pos + 8 + size
            if cid == b"LIST":
                stack.append((body_lo + 4, body_hi))
            elif cid == b"avih":
                if body_lo + 56 > len(b):
                    raise ValueError("truncated AVI avih header")
                vals = struct.unpack("<14I", b[body_lo : body_lo + 56])
                return (vals[8], vals[9], vals[4])  # dwWidth/Height/TotalFrames
            pos = body_hi + (size & 1)
    raise ValueError("missing avih header")


def _codec_of(m) -> str | None:
    """Null-safe codec extraction from the (nullable) meta struct: a bare
    ``m['codec']`` map raises TypeError on a null meta — which no error
    policy absorbs, so one such row crashed every operator. None
    propagates into the row function, whose decode raises the contract
    ValueError instead."""
    return m["codec"] if m is not None else None


def _check_on_error(on_error: str) -> None:
    if on_error not in ("fail", "skip"):
        raise ValueError(
            f"on_error must be 'fail' or 'skip', got {on_error!r}"
        )


def _row_attempt(on_error: str, fn, *args):
    """Run one row's decode under the op's error policy. 'fail' (the
    default everywhere) keeps the loud contract — one corrupt payload
    fails the task, which is what the oracle-gated queries and any
    correctness-first pipeline want. 'skip' drops the row instead: at
    corpus scale (the 100 TB posture) some payloads WILL be corrupt, and
    one bad image must cost one row, not the job. Only the decode
    contract's errors are absorbed (ValueError = corrupt data,
    NotImplementedError = unsupported feature); anything else is a real
    bug and still propagates.

    A NULL payload (always ``fn``'s first argument) is NO media — absence,
    not corruption: the row is skipped under BOTH policies, the same
    contract as a null measurement or a null document text; 'fail' stays
    reserved for bytes that exist but lie.

    Returns ``None`` for a skipped row (no decoder here returns None, so
    the sentinel is unambiguous — an ``object()`` sentinel would lose
    identity when cloudpickle re-creates the closure on the executor)."""
    if args and args[0] is None:
        return None
    if on_error == "fail":
        return fn(*args)
    try:
        return fn(*args)
    except (ValueError, NotImplementedError):
        return None


def _attempt_rows(pdf: "pd.DataFrame", on_error: str, fn, row_args):
    """Run ``fn`` once per row under the error policy. Returns
    ``(sub, results)`` — the surviving slice of ``pdf`` (index reset, so
    positional construction aligns) and ``fn``'s per-row results — or
    ``(None, None)`` when every row was skipped; the caller must then
    yield NOTHING, because an empty pandas frame degrades column dtypes
    to float64 and fails the Arrow struct/string conversion. One
    implementation so the five batch operators cannot drift apart."""
    keep, rows = [], []
    for j, args in enumerate(row_args):
        r = _row_attempt(on_error, fn, *args)
        if r is None:  # skipped: decode refused, or a NULL payload (no media)
            continue
        keep.append(j)
        rows.append(r)
    if not keep:
        return None, None
    sub = pdf if len(keep) == len(pdf) else pdf.iloc[keep].reset_index(drop=True)
    return sub, rows


def decode_media(
    df: DataFrame, batch_size_hint: int = 1024, on_error: str = "fail"
) -> DataFrame:
    """Decode payload headers into typed columns via mapInPandas (Arrow
    record-batch streaming; one output row per input row).
    ``on_error='skip'`` drops undecodable rows instead of failing the
    task (see :func:`_row_attempt`)."""
    _check_on_error(on_error)

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            sub, dims = _attempt_rows(
                pdf,
                on_error,
                _decode_payload,
                zip(pdf["payload"], pdf["meta"].map(_codec_of)),
            )
            if sub is None:
                continue
            yield pd.DataFrame(
                {
                    "media_id": sub["media_id"],
                    "media_type": sub["media_type"],
                    "width": pd.Series([d[0] for d in dims], dtype="int32"),
                    "height": pd.Series([d[1] for d in dims], dtype="int32"),
                    "n_frames": pd.Series([d[2] for d in dims], dtype="int32"),
                    "n_bytes": sub["payload"].map(len).astype("int64"),
                }
            )

    return df.mapInPandas(decode, schema=DECODED_SCHEMA)


def _resize_dims(w: int, h: int, max_w: int, max_h: int) -> tuple[int, int]:
    """Aspect-preserving fit in pure integer arithmetic (floor division),
    so the resize plan is reproducible in the SQL oracle bit-for-bit.
    Each computed dimension clamps to >= 1: an extreme aspect ratio
    (1000x1 into 640x480) otherwise floors the short axis to ZERO and the
    re-encode silently emits a zero-pixel payload — the image's whole
    content destroyed with no error under either policy."""
    if (w <= max_w and h <= max_h) or w == 0 or h == 0:
        return w, h
    if w * max_h <= h * max_w:  # height is the tighter axis
        return max(1, (w * max_h) // h), max_h
    return max_w, max(1, (h * max_w) // w)


_RESAMPLERS = {"nearest": nn_resize, "area": area_resize}


def _transcode_resize(
    payload: bytes,
    codec: str,
    max_width: int,
    max_height: int,
    method: str = "nearest",
) -> bytes:
    """One payload through the aspect-fit resize. ``bmp``/``ppm`` (the
    codecs in ``_PIXEL_CODECS``) get a REAL pixel transcode (decode ->
    resampler -> re-encode, same codec); ``tsdl-fake`` gets the header
    rewrite; every other codec raises."""
    if codec is None:
        raise ValueError("null meta struct: row carries no codec")
    if codec in _PIXEL_CODECS:
        decode, encode = _PIXEL_CODECS[codec]
        arr = decode(bytes(payload))
        h, w = arr.shape[:2]
        nw, nh = _resize_dims(w, h, max_width, max_height)
        if (nw, nh) == (w, h):
            return bytes(payload)
        return encode(_RESAMPLERS[method](arr, nw, nh))
    if codec == "tsdl-fake":
        w, h, f = _decode_payload(payload, codec)
        nw, nh = _resize_dims(w, h, max_width, max_height)
        return _MAGIC + struct.pack(_HEADER, nw, nh, f) + bytes(payload[10:])
    raise NotImplementedError(
        f"resize of codec {codec!r} requires a pixel transcoder"
    )


def resize_media(
    df: DataFrame,
    max_width: int = 640,
    max_height: int = 480,
    on_error: str = "fail",
    method: str = "nearest",
) -> DataFrame:
    """Aspect-fit resize over the media schema. For the pixel codecs
    (``_PIXEL_CODECS``: bmp/ppm) this is a real lossless transcode —
    pixels are decoded, resampled, and re-encoded; for ``tsdl-fake`` only
    the header is rewritten (body bytes pass through); any other codec
    raises NotImplementedError. ``method`` picks the resampler: ``'nearest'``
    (default — integer index mapping, oracle-reproducible) or ``'area'``
    (exact-integer box filter, the anti-aliased downscale for training
    corpora — :func:`area_resize`). Output is the same media schema, so
    resizes chain with decode/stats/frame ops. ``on_error='skip'``
    drops untranscodable rows (see :func:`_row_attempt`)."""
    _check_on_error(on_error)
    if method not in _RESAMPLERS:
        raise ValueError(
            f"unknown resize method {method!r} (choose from "
            f"{sorted(_RESAMPLERS)})"
        )

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            sub, payloads = _attempt_rows(
                pdf,
                on_error,
                _transcode_resize,
                (
                    (p, c, max_width, max_height, method)
                    for p, c in zip(
                        pdf["payload"], pdf["meta"].map(_codec_of)
                    )
                ),
            )
            if sub is None:
                continue
            out = sub.copy()
            out["payload"] = payloads
            yield out

    return df.mapInPandas(resize, schema=MEDIA_SCHEMA)


PIXEL_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("pixel_sum", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)


def pixel_stats(
    df: DataFrame, extra_cols: tuple[str, ...] = (), on_error: str = "fail"
) -> DataFrame:
    """Decode pixel-codec payloads (bmp/ppm) to pixels and emit per-media
    readouts (dimensions, uint8 pixel sum, encoded byte length). The pixel
    sum is a full-content check: any wrong byte anywhere in
    decode/resize/encode shifts it, and it is reproducible in a SQL oracle
    when the pixels are a pure function of the media id. ``extra_cols`` pass through unchanged
    (e.g. ``frame_index`` from :func:`extract_frames`).
    ``on_error='skip'`` drops undecodable rows (see :func:`_row_attempt`)."""
    _check_on_error(on_error)

    def one(p, c):
        if c not in _PIXEL_CODECS:
            raise NotImplementedError(
                f"pixel_stats needs a pixel codec "
                f"({'/'.join(sorted(_PIXEL_CODECS))}), got {c!r}"
            )
        arr = _PIXEL_CODECS[c][0](bytes(p))
        return arr.shape[1], arr.shape[0], int(arr.sum(dtype=np.int64)), len(p)

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            sub, rows = _attempt_rows(
                pdf,
                on_error,
                one,
                (
                    (p, c)
                    for p, c in zip(
                        pdf["payload"], pdf["meta"].map(_codec_of)
                    )
                ),
            )
            if sub is None:
                continue
            out = {
                "media_id": sub["media_id"],
                "width": pd.Series([r[0] for r in rows], dtype="int32"),
                "height": pd.Series([r[1] for r in rows], dtype="int32"),
                "pixel_sum": pd.Series([r[2] for r in rows], dtype="int64"),
                "n_bytes": pd.Series([r[3] for r in rows], dtype="int64"),
            }
            for c in extra_cols:
                out[c] = sub[c]
            yield pd.DataFrame(out)

    schema = T.StructType(
        PIXEL_STATS_SCHEMA.fields
        + [df.schema[c] for c in extra_cols]
    )
    return df.mapInPandas(stats, schema=schema)


def frame_sample(df: DataFrame, every_n: int = 2, on_error: str = "fail") -> DataFrame:
    """Video frame sampling (1 row per kept frame) — demonstrates the
    row-expanding mapInPandas shape; frame payloads are stub slices.
    ``on_error='skip'`` emits no frames for an undecodable media row
    (see :func:`_row_attempt`)."""
    _check_on_error(on_error)
    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("frame_index", T.IntegerType()),
        ]
    )

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_ids, out_idx = [], []
            for mid, p, c in zip(
                pdf["media_id"], pdf["payload"], pdf["meta"].map(_codec_of)
            ):
                d = _row_attempt(on_error, _decode_payload, p, c)
                if d is None:
                    continue
                frames = d[2]
                for i in range(0, frames, every_n):
                    out_ids.append(mid)
                    out_idx.append(i)
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(out_ids, dtype="int64"),
                    "frame_index": pd.Series(out_idx, dtype="int32"),
                }
            )

    return df.mapInPandas(sample, schema=schema)


# ---------------------------------------------------------------------------
# Audio: REAL WAV codec (RIFF container; PCM/float/G.711 decode → int16,
# 16-bit PCM encode, pure stdlib/numpy)
# ---------------------------------------------------------------------------

AUDIO_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("n_samples", T.IntegerType()),
        T.StructField("peak", T.IntegerType()),
        T.StructField("rms", T.DoubleType()),
    ]
)


def wav_encode(samples: "np.ndarray", sample_rate: int, channels: int = 1) -> bytes:
    """16-bit PCM → RIFF/WAVE bytes (canonical 44-byte header). ``samples``
    is the INTERLEAVED stream for ``channels`` > 1 (frame-major, the WAV
    data layout); its length must be a whole number of frames."""

    arr = np.asarray(samples, dtype="<i2")
    if channels > 1 and len(arr) % channels:
        raise ValueError(
            f"interleaved length {len(arr)} is not a multiple of {channels} channels"
        )
    pcm = arr.tobytes()
    block_align = 2 * channels
    hdr = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF",
        36 + len(pcm),
        b"WAVE",
        b"fmt ",
        16,
        1,  # PCM
        channels,
        sample_rate,
        sample_rate * block_align,
        block_align,
        16,
        b"data",
        len(pcm),
    )
    return hdr + pcm


def _mulaw_to_linear(codes: "np.ndarray") -> "np.ndarray":
    """G.711 µ-law bytes → int16 samples (the classic Sun ulaw2linear
    formula, vectorized; validated against stdlib ``audioop`` where
    present). Pure arithmetic — segment = biased exponent, 4-bit
    mantissa, 0x84 bias."""

    u = (~codes.astype(np.int32)) & 0xFF
    mag = ((((u & 0x0F) << 3) + 0x84) << ((u >> 4) & 0x07)) - 0x84
    return np.where(u & 0x80, -mag, mag).astype(np.int16)


def _alaw_to_linear(codes: "np.ndarray") -> "np.ndarray":
    """G.711 a-law bytes → int16 samples (Sun alaw2linear, vectorized)."""

    a = codes.astype(np.int32) ^ 0x55
    t = (a & 0x0F) << 4
    seg = (a >> 4) & 0x07
    t = np.where(seg == 0, t + 8, (t + 0x108) << np.maximum(seg - 1, 0))
    return np.where(a & 0x80, t, -t).astype(np.int16)


def wav_decode(payload: bytes) -> tuple[int, int, "np.ndarray"]:
    """RIFF/WAVE bytes → (sample_rate, n_channels, int16 sample array).
    Walks the chunk list (fmt/data may be preceded by LIST/fact chunks in
    the wild), so this is a real parser, not a fixed-offset slice.
    Decodes every uncompressed encoding seen in real corpora, normalized
    to int16 like the image codecs normalize to 8-bit: PCM at 8 (unsigned,
    recentered), 16, 24 and 32 bits (deeper samples keep their top 16
    bits), IEEE float32/float64 (clipped to ±1, scaled to ±32767), G.711
    a-law/µ-law, and WAVE_FORMAT_EXTENSIBLE wrappers of any of those.
    Genuinely compressed encodings (ADPCM/mp3/...) raise, honestly."""

    b = bytes(payload)
    if len(b) < 12 or b[0:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos = 12
    rate = channels = bits = fmt = None
    data = None
    while pos + 8 <= len(b):
        cid, size = b[pos : pos + 4], struct.unpack("<I", b[pos + 4 : pos + 8])[0]
        body = b[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            if len(body) < 16:
                # corrupt-data contract: a truncated fmt chunk is a
                # descriptive ValueError, never a struct.error
                raise ValueError(
                    f"truncated WAV fmt chunk ({len(body)} of 16 bytes)"
                )
            fmt, channels, rate = struct.unpack("<HHI", body[0:8])
            bits = struct.unpack("<H", body[14:16])[0]
            if fmt == 0xFFFE:  # WAVE_FORMAT_EXTENSIBLE: real format sits
                # in the SubFormat GUID's first two bytes
                if len(body) < 26:
                    raise ValueError(
                        f"truncated WAVE_FORMAT_EXTENSIBLE fmt chunk "
                        f"({len(body)} of 26 bytes)"
                    )
                fmt = struct.unpack("<H", body[24:26])[0]
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if rate is None or data is None:
        raise ValueError("missing fmt/data chunk")
    decoders = {
        (1, 8): lambda d: (
            (np.frombuffer(d, np.uint8).astype(np.int16) - 128) * 256
        ),
        (1, 16): lambda d: np.frombuffer(d, "<i2"),
        (1, 24): lambda d: (
            np.frombuffer(d, np.uint8).reshape(-1, 3)[:, 2].astype(np.int8)
            .astype(np.int16)
            * 256
            | np.frombuffer(d, np.uint8).reshape(-1, 3)[:, 1]
        ),
        (1, 32): lambda d: (np.frombuffer(d, "<i4") >> 16).astype(np.int16),
        # floor(x + 0.5) is the repo-wide half-up rounding convention
        # (np.round would be banker's half-to-even on exact .5-LSB samples)
        (3, 32): lambda d: np.floor(
            np.clip(np.nan_to_num(np.frombuffer(d, "<f4")), -1.0, 1.0) * 32767
            + 0.5
        ).astype(np.int16),
        (3, 64): lambda d: np.floor(
            np.clip(np.nan_to_num(np.frombuffer(d, "<f8")), -1.0, 1.0) * 32767
            + 0.5
        ).astype(np.int16),
        (6, 8): lambda d: _alaw_to_linear(np.frombuffer(d, np.uint8)),
        (7, 8): lambda d: _mulaw_to_linear(np.frombuffer(d, np.uint8)),
    }
    dec = decoders.get((fmt, bits))
    if dec is None:
        raise NotImplementedError(
            f"unsupported WAV encoding (format={fmt}, bits={bits}); "
            f"uncompressed PCM/float/G.711 decode, compressed codecs raise"
        )
    if len(data) % max(1, bits // 8):
        raise ValueError(
            f"WAV data chunk length {len(data)} is not a multiple of the "
            f"{bits // 8}-byte sample size"
        )
    return rate, channels, dec(data)


def audio_stats(df: DataFrame, on_error: str = "fail") -> DataFrame:
    """Decode ``wav`` payloads and emit per-media audio readouts: rate,
    channels, sample count, integer peak (max |sample|), and RMS energy.
    The RMS divides the EXACT int64 sum of squares by the count before one
    sqrt — the same expression a SQL oracle replays bit-identically when
    samples are a pure function of the media id.

    Multi-channel contract (ADVICE_r4): stats are computed over the
    INTERLEAVED sample stream — ``n_samples`` counts channel-samples
    (frames x channels), and peak/RMS pool all channels (a frame whose
    left channel clips reports the clip regardless of the right).
    :func:`resample_audio` handles multi-channel by frame-wise
    decimation, so the two compose for any channel count.
    ``on_error='skip'`` drops undecodable rows (see :func:`_row_attempt`)."""

    _check_on_error(on_error)

    def one(p):
        rate, ch, samples = wav_decode(p)
        s = samples.astype(np.int64)
        n = len(s)
        return (
            rate,
            ch,
            n,
            int(np.max(np.abs(s))) if n else 0,
            math.sqrt(int(np.sum(s * s)) / n) if n else 0.0,
        )

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            sub, rows = _attempt_rows(
                pdf, on_error, one, ((p,) for p in pdf["payload"])
            )
            if sub is None:
                continue
            yield pd.DataFrame(
                {
                    "media_id": sub["media_id"],
                    "sample_rate": pd.Series([r[0] for r in rows], dtype="int32"),
                    "n_channels": pd.Series([r[1] for r in rows], dtype="int32"),
                    "n_samples": pd.Series([r[2] for r in rows], dtype="int32"),
                    "peak": pd.Series([r[3] for r in rows], dtype="int32"),
                    "rms": pd.Series([r[4] for r in rows], dtype="float64"),
                }
            )

    return df.mapInPandas(stats, schema=AUDIO_STATS_SCHEMA)


def resample_audio(df: DataFrame, factor: int, on_error: str = "fail") -> DataFrame:
    """REAL audio downsampling by integer decimation: keep every
    ``factor``-th FRAME (the audio analogue of :func:`nn_resize`'s
    nearest-neighbor resampling — index arithmetic, fully reproducible in
    a SQL oracle), re-encode as WAV at ``rate // factor``. Multi-channel
    streams de-interleave, decimate per channel, and re-interleave, so
    every channel keeps the same frame instants (decimating the raw
    interleaved stream would mix channels). Output keeps the media
    schema, so it chains with :func:`audio_stats`.
    ``on_error='skip'`` drops undecodable rows (see :func:`_row_attempt`)."""
    _check_on_error(on_error)
    if not isinstance(factor, int) or factor < 1:
        # a caller-argument error, validated at ENTRY: inside the per-row
        # policy a factor of 0 (slice step zero -> ValueError) would be
        # absorbed by 'skip' as if every payload were corrupt, silently
        # returning an empty frame; a negative factor reverses the audio
        raise ValueError(f"factor must be a positive int, got {factor!r}")

    def one(p):
        rate, ch, samples = wav_decode(p)
        if factor > rate:
            # rate // factor would write an invalid 0 Hz WAV header
            raise ValueError(
                f"factor {factor} exceeds the payload's sample rate {rate}"
            )
        if ch == 1:
            kept = samples[::factor]
        else:
            frames = samples.reshape(-1, ch)
            kept = frames[::factor].reshape(-1)
        return wav_encode(kept, rate // factor, channels=ch)

    def resample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            sub, out = _attempt_rows(
                pdf, on_error, one, ((p,) for p in pdf["payload"])
            )
            if sub is None:
                continue
            res = sub.copy()
            res["payload"] = out
            yield res

    return df.mapInPandas(resample, schema=MEDIA_SCHEMA)


# ---------------------------------------------------------------------------
# Video: REAL AVI container codec (RIFF 'AVI ' + uncompressed DIB frames)
# ---------------------------------------------------------------------------


def avi_encode(frames: "np.ndarray", fps: int) -> bytes:
    """(n, h, w, 3) uint8 RGB frames → RIFF/AVI bytes with uncompressed
    24-bpp DIB video ('00db' chunks: bottom-up BGR rows, 4-byte padded —
    the same raster layout as :func:`bmp_encode`). Writes the spec's hdrl
    (avih + strl(strh 'vids'/'DIB ' + strf BITMAPINFOHEADER)) and movi
    lists, so the container structure is genuine, not a private format."""

    n, h, w, _ = frames.shape
    stride = _bmp_stride(w)
    frame_bytes = []
    for f in frames:
        buf = np.zeros((h, stride), dtype=np.uint8)
        buf[:, : w * 3] = f[::-1, :, ::-1].reshape(h, w * 3)
        frame_bytes.append(buf.tobytes())
    frame_size = h * stride

    def chunk(cid: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) % 2 else b""
        return cid + struct.pack("<I", len(body)) + body + pad

    def lst(ltype: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", ltype + body)

    avih = struct.pack(
        "<14I",
        1_000_000 // fps,  # microseconds per frame
        frame_size * fps,  # max bytes/sec
        0,  # padding granularity
        0,  # flags: no AVIF_HASINDEX (we write no idx1 chunk), nothing else
        n, 0, 1, frame_size, w, h, 0, 0, 0, 0,
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIii4H",
        b"vids", b"DIB ", 0, 0, 0, 0,
        1, fps,  # scale/rate -> fps
        0, n, frame_size, -1, 0,
        0, 0, w, h,
    )
    strf = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, frame_size, 0, 0, 0, 0)
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi = lst(b"movi", b"".join(chunk(b"00db", fb) for fb in frame_bytes))
    riff_body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


def avi_decode(payload: bytes) -> tuple[int, "np.ndarray"]:
    """RIFF/AVI bytes → (fps, (n, h, w, 3) uint8 RGB frames). A real chunk
    walker: finds avih for dimensions/rate inside LIST hdrl and collects
    '00db'/'00dc' DIB frames inside LIST movi wherever they sit.
    Compressed streams ('00dc' whose strf declares a codec) raise."""

    b = bytes(payload)
    if len(b) < 12 or b[0:4] != b"RIFF" or b[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI payload")
    us_per_frame = w = h = None
    compression = 0
    frames: list[bytes] = []

    # ITERATIVE chunk walk (explicit stack): a recursive descent hits
    # Python's recursion limit on ~1000 nested LIST headers, and
    # RecursionError escapes the ValueError corrupt-data contract — one
    # crafted payload would crash the task through on_error='skip'.
    # Descend-then-resume ordering preserves the recursive walk's stream
    # order exactly.
    stack = [(12, len(b))]
    while stack:
        pos, hi = stack.pop()
        # a lying parent LIST size can push hi past the buffer; clamp so
        # the header slices below are always complete (corrupt-data
        # contract: truncation surfaces as ValueError, not struct.error)
        hi = min(hi, len(b))
        while pos + 8 <= hi:
            cid = b[pos : pos + 4]
            size = struct.unpack("<I", b[pos + 4 : pos + 8])[0]
            body_lo, body_hi = pos + 8, pos + 8 + size
            nxt = body_hi + (size & 1)
            if cid == b"LIST":
                stack.append((nxt, hi))  # resume after the list...
                stack.append((body_lo + 4, body_hi))  # ...after descending
                break
            elif cid == b"avih":
                if body_lo + 56 > len(b):
                    raise ValueError("truncated AVI avih header")
                vals = struct.unpack("<14I", b[body_lo : body_lo + 56])
                us_per_frame, w, h = vals[0], vals[8], vals[9]
            elif cid == b"strf" and size >= 40:
                if body_lo + 20 > len(b):
                    raise ValueError("truncated AVI strf header")
                compression = struct.unpack("<I", b[body_lo + 16 : body_lo + 20])[0]
            elif cid in (b"00db", b"00dc"):
                frames.append(b[body_lo:body_hi])
            pos = nxt
    if us_per_frame is None or w is None:
        raise ValueError("missing avih header")
    if us_per_frame == 0:
        raise ValueError("AVI avih declares zero frame period")
    if compression != 0:
        raise NotImplementedError(f"only uncompressed DIB video (got fourcc {compression:#x})")
    stride = _bmp_stride(w)
    # validate every frame length BEFORE the output allocation: corrupt
    # avih dimensions (h/w are raw uint32) would otherwise size a
    # multi-hundred-GiB np.empty and OOM the executor (fuzz-found) —
    # bounding by the actual frame payloads caps it at the input size
    for i, fb in enumerate(frames):
        if len(fb) < h * stride:
            raise ValueError(
                f"AVI frame {i} holds {len(fb)} bytes, {h}x{w} DIB "
                f"needs {h * stride}"
            )
    out = np.empty((len(frames), h, w, 3), dtype=np.uint8)
    for i, fb in enumerate(frames):
        buf = np.frombuffer(fb, dtype=np.uint8, count=h * stride)
        out[i] = buf.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)[::-1, :, ::-1]
    return 1_000_000 // us_per_frame, out


def extract_frames(df: DataFrame, every_n: int = 1, on_error: str = "fail") -> DataFrame:
    """REAL frame extraction: decode ``avi`` payloads (uncompressed DIB
    video), keep every ``every_n``-th frame, and emit each as a standalone
    24-bpp BMP payload (codec 'bmp' in the metadata) — one output row per
    kept frame, so the result drops straight into the pixel pipeline
    (decode_media / resize_media / pixel_stats). The row-expanding
    mapInPandas shape of frame_sample, with actual pixels. ``on_error='skip'`` emits no frames for an
    undecodable media row (see :func:`_row_attempt`)."""
    _check_on_error(on_error)

    def one(p, codec):
        if codec is None:
            raise ValueError("null meta struct: row carries no codec")
        if codec == "avi":
            return avi_decode(p)[1]
        # a bmp/ppm payload here is VALID data fed to the wrong op — the
        # 'unsupported' kind, not avi_decode's misleading corrupt-RIFF
        # ValueError
        raise NotImplementedError(
            f"frame extraction supports avi, got codec {codec!r} — "
            "single images go through decode_media/resize_media"
        )

    def expand(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, types, payloads, metas, idxs = [], [], [], [], []
            for mid, p, m in zip(pdf["media_id"], pdf["payload"], pdf["meta"]):
                frames = _row_attempt(on_error, one, p, _codec_of(m))
                if frames is None:
                    continue
                for k in range(0, len(frames), every_n):
                    ids.append(mid)
                    types.append("image")
                    payloads.append(bmp_encode(frames[k]))
                    metas.append({"source": m["source"], "codec": "bmp"})
                    idxs.append(k)
            if not ids:
                continue  # see decode_media: empty frames break Arrow
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "media_type": types,
                    "payload": payloads,
                    "meta": metas,
                    "frame_index": pd.Series(idxs, dtype="int32"),
                }
            )

    schema = T.StructType(
        MEDIA_SCHEMA.fields + [T.StructField("frame_index", T.IntegerType())]
    )
    return df.mapInPandas(expand, schema=schema)
