"""Pure stdlib+numpy baseline JPEG codec for the multimodal operators.

Round 3 left JPEG as a documented deterministic fake because the
container ships no image libraries — but baseline JPEG needs no
library at all: the format is markers + Huffman entropy coding + an
8×8 DCT, all implementable with ``struct`` and numpy.  This module
makes the entropy-coded image path real end-to-end: real JFIF bytes in
the ``content`` column, real Huffman decode + dequant + IDCT on the
executors.

Encoder: baseline sequential DCT (SOF0), 8-bit, greyscale (1
component) or YCbCr 4:4:4 (3 components, no subsampling), standard
Annex-K quantization tables scaled by the libjpeg quality formula,
standard Annex-K Huffman tables, JFIF APP0 header.

Decoder: baseline sequential (SOF0) with ANY sampling factors (4:4:4,
4:2:2, 4:2:0 — chroma upsampled by sample replication), multiple
DQT/DHT segments, restart markers (DRI/RSTn), 1- or 3-component scans.
Progressive (SOF2), arithmetic coding, 12-bit precision and
hierarchical modes raise ValueError (same documented-subset contract
as the PNG codec's baseline).

Public spec: ITU-T T.81 / ISO 10918-1 (tables from Annex K) and the
JFIF 1.02 specification.  The quality→table scaling is the public
libjpeg formula.  No reference-repo counterpart — the reference has no
media handling at all.
"""

from __future__ import annotations

import struct

import numpy as np

_MAGIC = b"\xff\xd8\xff"  # SOI + first marker byte: cheap signature

# --- Annex K.1/K.2 base quantization tables (natural row-major order) --
_Q_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99], dtype=np.int32).reshape(8, 8)
_Q_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99], dtype=np.int32).reshape(8, 8)

# --- zigzag: _ZIG[i] = (row-major) index of the i-th zigzag element ----
_ZIG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63],
    dtype=np.int64)

# --- Annex K.3 standard Huffman tables: (BITS counts 1..16, HUFFVAL) --
_DC_LUMA = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
            list(range(12)))
_DC_CHROMA = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
              list(range(12)))
_AC_LUMA = ([0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D], [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA])
_AC_CHROMA = ([0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77], [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
    0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
    0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
    0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
    0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
    0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
    0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
    0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
    0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
    0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
    0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA])


def _dct_matrix() -> np.ndarray:
    """Orthonormal 8-point DCT-II matrix; ``T @ b @ T.T`` equals the
    JPEG forward DCT of T.81 §A.3.3 exactly."""
    x = np.arange(8)
    t = np.cos((2 * x[None, :] + 1) * x[:, None] * np.pi / 16) / 2.0
    t[0] /= np.sqrt(2.0)
    return t


_T = _dct_matrix()


def _scaled_tables(quality: int) -> tuple[np.ndarray, np.ndarray]:
    """libjpeg quality scaling: 1..100 → per-entry scaled Annex-K
    tables, clamped to [1, 255]."""
    q = min(100, max(1, int(quality)))
    scale = 5000 // q if q < 50 else 200 - 2 * q
    out = []
    for base in (_Q_LUMA, _Q_CHROMA):
        t = (base * scale + 50) // 100
        out.append(np.clip(t, 1, 255).astype(np.int32))
    return out[0], out[1]


def _build_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) per T.81 Annex C code assignment."""
    codes, code = {}, 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


def _build_decode(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """(length, code) -> symbol, the decoder-side inverse of
    :func:`_build_codes`."""
    return {(ln, c): s for s, (c, ln) in _build_codes(bits, vals).items()}


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            b = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:           # byte stuffing (T.81 §B.1.1.5)
                self.out.append(0x00)
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1-bits per spec


def _category(v: int) -> int:
    """DC/AC magnitude category: number of bits in |v|."""
    return int(v).bit_length() if v >= 0 else int(-v).bit_length()


def _encode_block(bw: _BitWriter, coef: np.ndarray, pred: int,
                  dc_codes: dict, ac_codes: dict) -> int:
    """Huffman-encode one quantized 8×8 block (zigzag, DC differential,
    AC run-length with ZRL/EOB).  Returns the new DC predictor."""
    zz = coef.ravel()[_ZIG]
    dc = int(zz[0])
    diff = dc - pred
    s = _category(diff)
    code, ln = dc_codes[s]
    bw.write(code, ln)
    if s:
        bw.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
    run = 0
    last_nz = int(np.max(np.nonzero(zz)[0])) if np.any(zz[1:]) else 0
    for i in range(1, 64):
        v = int(zz[i])
        if i > last_nz:
            break
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_codes[0xF0]  # ZRL: 16 zeros
            bw.write(code, ln)
            run -= 16
        s = _category(v)
        code, ln = ac_codes[(run << 4) | s]
        bw.write(code, ln)
        bw.write(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    if last_nz < 63:
        code, ln = ac_codes[0x00]      # EOB
        bw.write(code, ln)
    return dc


def _seg(marker: int, body: bytes) -> bytes:
    return struct.pack(">HH", marker, len(body) + 2) + body


def _dqt(tid: int, table: np.ndarray) -> bytes:
    return _seg(0xFFDB, bytes([tid]) + bytes(int(v) for v in table.ravel()[_ZIG]))


def _dht(cls: int, tid: int, bits: list[int], vals: list[int]) -> bytes:
    return _seg(0xFFC4, bytes([(cls << 4) | tid]) + bytes(bits) + bytes(vals))


def encode_jpeg(arr: np.ndarray, quality: int = 90,
                restart_interval: int = 0) -> bytes:
    """Encode a ``(h, w)`` greyscale or ``(h, w, 3)`` RGB uint8 array as
    a baseline JFIF JPEG (SOF0, 4:4:4, standard Huffman tables).
    ``restart_interval`` > 0 emits DRI + RSTn markers every that many
    MCUs (the error-resilience feature real encoders use on large
    images; also exercises the decoder's restart path)."""
    a = np.asarray(arr)
    if a.dtype != np.uint8:
        raise ValueError("encode_jpeg expects uint8")
    if a.ndim == 2:
        comps = [a.astype(np.float64) - 128.0]
    elif a.ndim == 3 and a.shape[2] == 3:
        r = a[..., 0].astype(np.float64)
        g = a[..., 1].astype(np.float64)
        b = a[..., 2].astype(np.float64)
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        comps = [y - 128.0, np.clip(cb, 0, 255) - 128.0,
                 np.clip(cr, 0, 255) - 128.0]
    else:
        raise ValueError(f"unsupported array shape {a.shape}")
    h, w = a.shape[:2]
    ql, qc = _scaled_tables(quality)
    qtabs = [ql] + ([qc, qc] if len(comps) == 3 else [])

    dc_l = _build_codes(*_DC_LUMA)
    ac_l = _build_codes(*_AC_LUMA)
    dc_c = _build_codes(*_DC_CHROMA)
    ac_c = _build_codes(*_AC_CHROMA)

    # headers
    out = bytearray(b"\xff\xd8")                       # SOI
    out += _seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += _dqt(0, ql)
    if len(comps) == 3:
        out += _dqt(1, qc)
    ncomp = len(comps)
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for ci in range(ncomp):
        sof += bytes([ci + 1, 0x11, 0 if ci == 0 else 1])  # 4:4:4
    out += _seg(0xFFC0, sof)
    out += _dht(0, 0, *_DC_LUMA) + _dht(1, 0, *_AC_LUMA)
    if ncomp == 3:
        out += _dht(0, 1, *_DC_CHROMA) + _dht(1, 1, *_AC_CHROMA)
    if restart_interval:
        out += _seg(0xFFDD, struct.pack(">H", restart_interval))
    sos = bytes([ncomp])
    for ci in range(ncomp):
        sos += bytes([ci + 1, 0x00 if ci == 0 else 0x11])
    sos += bytes([0, 63, 0])
    out += _seg(0xFFDA, sos)

    # entropy-coded data: pad each plane to 8, interleave blocks per MCU
    bh, bw_ = (h + 7) // 8, (w + 7) // 8
    padded = []
    for c in comps:
        p = np.pad(c, ((0, bh * 8 - h), (0, bw_ * 8 - w)), mode="edge")
        padded.append(p)
    writer = _BitWriter()
    preds = [0] * ncomp
    n_mcu = 0
    for by in range(bh):
        for bx in range(bw_):
            if restart_interval and n_mcu and n_mcu % restart_interval == 0:
                writer.flush()  # byte-align before the (unstuffed) marker
                writer.out += bytes(
                    [0xFF, 0xD0 + (n_mcu // restart_interval - 1) % 8])
                preds = [0] * ncomp
            n_mcu += 1
            for ci in range(ncomp):
                blk = padded[ci][by * 8:by * 8 + 8, bx * 8:bx * 8 + 8]
                coef = _T @ blk @ _T.T
                qc_ = np.round(coef / qtabs[ci]).astype(np.int32)
                preds[ci] = _encode_block(
                    writer, qc_, preds[ci],
                    dc_l if ci == 0 else dc_c,
                    ac_l if ci == 0 else ac_c)
    writer.flush()
    out += writer.out
    out += b"\xff\xd9"                                 # EOI
    return bytes(out)


class _BitReader:
    """Entropy-segment bit reader with 0xFF00 destuffing; stops at any
    real marker (leaves ``self.marker`` set)."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0
        self.marker: int | None = None

    def _fill(self) -> None:
        d = self.data
        if self.pos >= len(d):
            raise ValueError("truncated entropy data")
        b = d[self.pos]
        if b == 0xFF:
            nxt = d[self.pos + 1] if self.pos + 1 < len(d) else 0xD9
            if nxt == 0x00:
                self.pos += 2
            else:
                self.marker = 0xFF00 | nxt
                raise _MarkerHit()
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | b
        self.nbits += 8

    def bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def align_to_marker(self) -> int:
        """Drop partial byte, read the marker at the cursor (RSTn)."""
        self.nbits = 0
        d = self.data
        while self.pos + 1 < len(d) and d[self.pos] == 0xFF and d[self.pos + 1] == 0xFF:
            self.pos += 1
        if self.pos + 1 >= len(d) or d[self.pos] != 0xFF:
            raise ValueError("expected restart marker")
        m = 0xFF00 | d[self.pos + 1]
        self.pos += 2
        return m


class _MarkerHit(Exception):
    pass


def _decode_symbol(br: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code, ln = 0, 0
    while ln <= 16:
        code = (code << 1) | br.bit()
        ln += 1
        sym = table.get((ln, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code")


def _extend(v: int, s: int) -> int:
    """T.81 F.2.2.1 EXTEND: map s-bit raw value to signed coefficient."""
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def decode_jpeg(data: bytes) -> np.ndarray:
    """Decode a baseline-sequential JPEG to a ``(h, w)`` (grey) or
    ``(h, w, 3)`` (RGB) uint8 array.  Raises ValueError on non-JPEG
    bytes or modes outside the baseline subset (progressive,
    arithmetic, 12-bit)."""
    if data[:3] != _MAGIC:
        raise ValueError("not a JPEG (bad signature)")
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}
    frame = None
    restart = 0
    pos = 2
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError("marker expected")
        marker = data[pos + 1]
        if marker in (0xD8, 0xD9):
            pos += 2
            continue
        (ln,) = struct.unpack(">H", data[pos + 2:pos + 4])
        if pos + 2 + ln > len(data):
            raise ValueError("truncated segment")
        body = data[pos + 4:pos + 2 + ln]
        pos += 2 + ln
        if marker == 0xDB:                    # DQT (1+ tables)
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0xF
                if pq != 0:
                    raise ValueError("16-bit quant tables unsupported")
                t = np.zeros(64, dtype=np.int32)
                t[_ZIG] = np.frombuffer(body[i + 1:i + 65], dtype=np.uint8)
                qt[tq] = t.reshape(8, 8)
                i += 65
        elif marker == 0xC4:                  # DHT (1+ tables)
            i = 0
            while i < len(body):
                cls, tid = body[i] >> 4, body[i] & 0xF
                bits = list(body[i + 1:i + 17])
                n = sum(bits)
                if len(bits) < 16 or i + 17 + n > len(body):
                    raise ValueError("truncated DHT segment")
                vals = list(body[i + 17:i + 17 + n])
                huff[(cls, tid)] = _build_decode(bits, vals)
                i += 17 + n
        elif marker == 0xC0 or marker == 0xC1:  # SOF0/1 baseline
            prec, h, w, nc = struct.unpack(">BHHB", body[:6])
            if prec != 8:
                raise ValueError("only 8-bit precision supported")
            comps = []
            for ci in range(nc):
                cid, hv, tq = body[6 + ci * 3:9 + ci * 3]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0xF,
                              "tq": tq})
            frame = {"h": h, "w": w, "comps": comps}
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                f"unsupported JPEG mode (SOF{marker - 0xC0}); "
                "baseline sequential only")
        elif marker == 0xDD:                  # DRI
            (restart,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:                  # SOS → entropy data follows
            if frame is None:
                raise ValueError("SOS before SOF")
            ns = body[0]
            scan = {}
            for si in range(ns):
                cs, tds = body[1 + si * 2:3 + si * 2]
                scan[cs] = (tds >> 4, tds & 0xF)
            return _decode_scan(data, pos, frame, scan, qt, huff, restart)
        # APPn/COM/others: skipped
    raise ValueError("no SOS marker found")


def _decode_scan(data, pos, frame, scan, qt, huff, restart) -> np.ndarray:
    h, w, comps = frame["h"], frame["w"], frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    planes = []
    for c in comps:
        planes.append(np.zeros((mcuy * c["v"] * 8, mcux * c["h"] * 8),
                               dtype=np.float64))
    br = _BitReader(data, pos)
    preds = [0] * len(comps)
    n_mcu = 0
    try:
        for my in range(mcuy):
            for mx in range(mcux):
                if restart and n_mcu and n_mcu % restart == 0:
                    m = br.align_to_marker()
                    if not (0xFFD0 <= m <= 0xFFD7):
                        raise ValueError(f"expected RSTn, got {m:#x}")
                    preds = [0] * len(comps)
                for ci, c in enumerate(comps):
                    dct, act = scan[c["id"]]
                    dtab, atab = huff[(0, dct)], huff[(1, act)]
                    q = qt[c["tq"]]
                    for by in range(c["v"]):
                        for bx in range(c["h"]):
                            zz = np.zeros(64, dtype=np.int32)
                            s = _decode_symbol(br, dtab)
                            diff = _extend(br.bits(s), s) if s else 0
                            preds[ci] += diff
                            zz[0] = preds[ci]
                            k = 1
                            while k < 64:
                                rs = _decode_symbol(br, atab)
                                r, s = rs >> 4, rs & 0xF
                                if s == 0:
                                    if r == 15:
                                        k += 16
                                        continue
                                    break          # EOB
                                k += r
                                if k > 63:
                                    raise ValueError("AC index overflow")
                                zz[k] = _extend(br.bits(s), s)
                                k += 1
                            coef = np.zeros(64, dtype=np.float64)
                            coef[_ZIG] = zz        # inverse zigzag
                            blk = _T.T @ (coef.reshape(8, 8) * q) @ _T
                            y0 = (my * c["v"] + by) * 8
                            x0 = (mx * c["h"] + bx) * 8
                            planes[ci][y0:y0 + 8, x0:x0 + 8] = blk
                n_mcu += 1
    except _MarkerHit:
        raise ValueError("entropy data ended early (truncated scan)")
    # upsample chroma by replication, crop, recombine
    out_planes = []
    for ci, c in enumerate(comps):
        p = planes[ci]
        ry, rx = vmax // c["v"], hmax // c["h"]
        if ry > 1 or rx > 1:
            p = np.repeat(np.repeat(p, ry, axis=0), rx, axis=1)
        out_planes.append(p[:h, :w] + 128.0)
    if len(comps) == 1:
        return np.clip(np.round(out_planes[0]), 0, 255).astype(np.uint8)
    y, cb, cr = out_planes
    cb = cb - 128.0
    cr = cr - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    rgb = np.stack([r, g, b], axis=-1)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)
