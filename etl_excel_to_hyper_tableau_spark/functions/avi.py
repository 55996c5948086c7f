"""Pure-stdlib+numpy AVI/MJPEG video codec: a RIFF container walker
around the real baseline-JPEG codec (:mod:`.jpeg`), so COMPRESSED
video runs end-to-end on genuine bytes with no media library in the
container.

Layout written (and accepted back):

    RIFF .... 'AVI '
      LIST 'hdrl'
        'avih' MainAVIHeader (56 bytes)
        LIST 'strl'
          'strh' AVIStreamHeader ('vids'/'MJPG', 56 bytes)
          'strf' BITMAPINFOHEADER (40 bytes)
      LIST 'movi'
        '00dc' <baseline JPEG bytes> (word-padded)  × n_frames
      'idx1' 16-byte entries × n_frames

The decoder is a tolerant walker: it finds 'strh' for the frame rate
and collects every '00dc'/'00db' payload under 'movi' in order, so
files from other muxers (extra LISTs, 'JUNK' padding, no idx1) still
demux.  Reference behavior target: the reference engine treats media
as opaque blobs (SURVEY §2 — no codec surface); this codec exists so
the Spark-side multimodal plumbing can be exercised on real
compressed video rather than deterministic fakes.
"""

from __future__ import annotations

import struct

import numpy as np

from .jpeg import decode_jpeg, encode_jpeg


def _chunk(fourcc: bytes, body: bytes) -> bytes:
    pad = b"\x00" if len(body) % 2 else b""
    return fourcc + struct.pack("<I", len(body)) + body + pad


def _list(kind: bytes, body: bytes) -> bytes:
    return _chunk(b"LIST", kind + body)


def encode_avi_mjpeg(frames: np.ndarray, fps: tuple[int, int] = (25, 1),
                     quality: int = 90) -> bytes:
    """Encode ``(n, h, w)`` uint8 grayscale frames (or ``(n, h, w, 3)``
    RGB) as an MJPEG AVI.  Each frame is an independent baseline JPEG
    — the property that makes MJPEG the seekable/splittable editing
    format, and what lets a distributed reader sample frames without
    inter-frame state."""
    frames = np.asarray(frames)
    if frames.ndim not in (3, 4) or frames.dtype != np.uint8:
        raise ValueError("frames must be (n, h, w[, 3]) uint8")
    n, h, w = frames.shape[:3]
    rate, scale = fps
    if rate <= 0 or scale <= 0:
        raise ValueError("fps must be positive rate/scale")
    payloads = [encode_jpeg(f, quality=quality) for f in frames]
    buf_size = max((len(p) for p in payloads), default=0)

    avih = struct.pack(
        "<14I",
        int(round(1_000_000 * scale / rate)),  # dwMicroSecPerFrame
        0, 0,
        0x10,                                  # AVIF_HASINDEX
        n, 0, 1, buf_size, w, h, 0, 0, 0, 0)
    strh = (b"vids" + b"MJPG"
            + struct.pack("<IHHIIIIIIiI", 0, 0, 0, 0, scale, rate, 0, n,
                          buf_size, -1, 0)
            + struct.pack("<4H", 0, 0, w, h))
    strf = struct.pack("<IiiHH4sIiiII", 40, w, h, 1, 24, b"MJPG",
                       w * h * 3, 0, 0, 0, 0)
    hdrl = _list(b"hdrl", _chunk(b"avih", avih)
                 + _list(b"strl", _chunk(b"strh", strh)
                         + _chunk(b"strf", strf)))

    movi_body = b"movi"
    offsets = []
    for p in payloads:
        offsets.append(len(movi_body))       # offset of the '00dc' tag
        movi_body += _chunk(b"00dc", p)
    movi = _chunk(b"LIST", movi_body)

    idx = b"".join(
        b"00dc" + struct.pack("<III", 0x10, off, len(p))
        for off, p in zip(offsets, payloads))
    idx1 = _chunk(b"idx1", idx)

    riff_body = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


def _walk(data: bytes, pos: int, end: int):
    """Yield (fourcc, body_start, body_len) for sibling chunks."""
    while pos + 8 <= end:
        fourcc = data[pos:pos + 4]
        (size,) = struct.unpack_from("<I", data, pos + 4)
        body = pos + 8
        if body + size > end:
            break  # truncated tail: stop at the last whole chunk
        yield fourcc, body, size
        pos = body + size + (size % 2)


def decode_avi_mjpeg(data: bytes) -> tuple[np.ndarray, tuple[int, int]]:
    """Demux an MJPEG AVI back to ``(frames, (rate, scale))``.

    Tolerant walker: frame rate comes from the first video 'strh'
    (falling back to avih's dwMicroSecPerFrame, then 25:1); frames are
    every '00dc'/'00db' chunk under 'movi' in file order.  Raises
    ``ValueError`` on a non-AVI buffer, zero decodable frames, or
    frames with mismatched dimensions.
    """
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not an AVI (RIFF/'AVI ') buffer")
    fps: tuple[int, int] | None = None
    micro: int | None = None
    payloads: list[bytes] = []

    def visit(pos: int, end: int) -> None:
        nonlocal fps, micro
        for fourcc, body, size in _walk(data, pos, end):
            if fourcc == b"LIST":
                visit(body + 4, body + size)
            elif fourcc == b"avih" and size >= 4:
                (micro,) = struct.unpack_from("<I", data, body)
            elif fourcc == b"strh" and size >= 28 \
                    and data[body:body + 4] == b"vids" and fps is None:
                scale, rate = struct.unpack_from("<II", data, body + 20)
                if scale > 0 and rate > 0:
                    fps = (rate, scale)
            elif fourcc in (b"00dc", b"00db") and size > 0:
                payloads.append(data[body:body + size])

    visit(12, len(data))
    if not payloads:
        raise ValueError("no MJPEG frames found")
    frames = [decode_jpeg(p) for p in payloads]
    shape = frames[0].shape
    if any(f.shape != shape for f in frames):
        raise ValueError("frames have mismatched dimensions")
    if fps is None:
        fps = (round(1_000_000 / micro), 1) if micro else (25, 1)
    return np.stack(frames), fps
