"""Pure-stdlib WAV codec: RIFF / PCM16 plus an IMA ADPCM decoder — no
audio library required.

Same doctrine as :mod:`.png`: formats whose byte layout is fully
public are implemented for real, so the multimodal audio path runs on
genuine encoded bytes end-to-end; only codecs that need native
decoders (MP3/AAC/Opus) remain behind the documented fake boundary.

Formats read (PCM16 is also written):

* **PCM16** (``audio_format=1``): canonical 44-byte RIFF header,
  16-bit little-endian samples, interleaved channels.
* **IMA/DVI ADPCM** (``audio_format=0x11``, mono): a real COMPRESSED
  audio format — 4 bits per sample (~4:1), adaptive step-size
  quantization of sample differences, block-structured with a
  per-block predictor header.  Spec: IMA Digital Audio Focus and
  Technical Working Groups recommendation (1992) / Microsoft WAVE
  format registry.  Mono only (multi-channel ADPCM interleaves 4-byte
  nibble groups per channel; documented subset, same contract as the
  PNG/JPEG baselines).

``decode_wav`` tolerates extra chunks (LIST/fact/cue) by walking the
chunk list, which is what real-world WAV files require, and
transparently decodes either format to int16 samples.
"""

from __future__ import annotations

import struct

import numpy as np

# IMA ADPCM tables (public spec)
_IMA_STEPS = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34,
    37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143,
    157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494,
    544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552,
    1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428,
    4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487,
    12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623, 27086,
    29794, 32767]
_IMA_INDEX = [-1, -1, -1, -1, 2, 4, 6, 8, -1, -1, -1, -1, 2, 4, 6, 8]


def _ima_step(nibble: int, predictor: int, index: int) -> tuple[int, int]:
    """One IMA ADPCM decode step: (new_predictor, new_index)."""
    step = _IMA_STEPS[index]
    diffq = step >> 3
    if nibble & 4:
        diffq += step
    if nibble & 2:
        diffq += step >> 1
    if nibble & 1:
        diffq += step >> 2
    predictor = predictor - diffq if nibble & 8 else predictor + diffq
    predictor = max(-32768, min(32767, predictor))
    index = max(0, min(88, index + _IMA_INDEX[nibble]))
    return predictor, index


def encode_wav(samples: np.ndarray, sample_rate: int = 16000) -> bytes:
    """Encode int16 samples — shape (n,) mono or (n, channels) — to WAV
    bytes."""
    arr = np.asarray(samples)
    if arr.ndim == 1:
        arr = arr[:, None]
    if arr.ndim != 2:
        raise ValueError("samples must be (n,) or (n, channels)")
    arr = arr.astype("<i2")
    n, channels = arr.shape
    data = arr.tobytes()
    block_align = channels * 2
    byte_rate = sample_rate * block_align
    hdr = (b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
           + b"fmt " + struct.pack("<IHHIIHH", 16, 1, channels,
                                   sample_rate, byte_rate, block_align, 16)
           + b"data" + struct.pack("<I", len(data)))
    return hdr + data


def _decode_adpcm(raw: bytes, block_align: int, n_samples: int | None,
                  samples_per_block: int) -> np.ndarray:
    out: list[int] = []
    for start in range(0, len(raw), block_align):
        block = raw[start:start + block_align]
        if len(block) < 4:
            break
        predictor, index, _res = struct.unpack("<hBB", block[:4])
        if index > 88:
            raise ValueError("corrupt ADPCM block (index > 88)")
        out.append(predictor)
        produced = 1
        for b in block[4:]:
            for nibble in (b & 0xF, b >> 4):   # low nibble first
                if produced >= samples_per_block:
                    break
                predictor, index = _ima_step(nibble, predictor, index)
                out.append(predictor)
                produced += 1
    if n_samples is not None:
        out = out[:n_samples]
    return np.asarray(out, dtype="<i2")[:, None]


def decode_wav(data: bytes) -> tuple[np.ndarray, int]:
    """Decode WAV bytes → (int16 array of shape (n, channels),
    sample_rate).  PCM16 (format 1) and mono IMA ADPCM (format 0x11)
    are decoded; anything else raises ValueError."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE stream")
    pos, fmt, fmt_body, raw, fact_n = 12, None, b"", None, None
    while pos + 8 <= len(data):
        tag = data[pos:pos + 4]
        (size,) = struct.unpack("<I", data[pos + 4:pos + 8])
        body = data[pos + 8:pos + 8 + size]
        if tag == b"fmt ":
            if len(body) < 16:
                raise ValueError("truncated fmt chunk")
            fmt = struct.unpack("<HHIIHH", body[:16])
            fmt_body = body
        elif tag == b"fact" and len(body) >= 4:
            (fact_n,) = struct.unpack("<I", body[:4])
        elif tag == b"data":
            raw = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or raw is None:
        raise ValueError("missing fmt/data chunk")
    audio_format, channels, sample_rate, _, block_align, bits = fmt
    if channels < 1:
        raise ValueError("fmt chunk declares 0 channels")
    if audio_format == 0x11:                  # IMA/DVI ADPCM
        if channels != 1 or bits != 4:
            raise ValueError("IMA ADPCM decode is mono 4-bit only")
        if len(fmt_body) >= 20:
            (samples_per_block,) = struct.unpack("<H", fmt_body[18:20])
        else:
            samples_per_block = (block_align - 4) * 2 + 1
        return (_decode_adpcm(raw, block_align, fact_n,
                              samples_per_block), sample_rate)
    if audio_format != 1 or bits != 16:
        raise ValueError(f"unsupported encoding (format={audio_format}, "
                         f"bits={bits}); PCM16 and mono IMA ADPCM only")
    n = len(raw) // (2 * channels)
    arr = np.frombuffer(raw[:n * 2 * channels], dtype="<i2") \
        .reshape(n, channels)
    return arr, sample_rate
