"""Audio modality: real RIFF/WAV PCM codec (pure numpy) + feature
extraction as an Arrow-batched kernel.

Mirrors the image tier in ``media.py``: media spans get an actual binary
WAV payload (md5-derived rate/channels/length, deterministic integer
waveform), the decoder parses the real RIFF chunk structure, and the
feature kernel emits integer metrics (peak, sum of absolute samples,
duration) that the DuckDB oracle recomputes analytically from the
waveform rule — all-integer, so the check is exact at any scale factor.

Waveform rule per (sample i, channel c):  s = ((7*i*i + 13*i + 31*c)
% 65536) - 32768 — chirp-like, full int16 range, trivially SQL-mirrorable.

Container variants beyond plain PCM16 — 24-bit PCM, IEEE float32
(format tag 3) and WAVE_FORMAT_EXTENSIBLE (tag 0xFFFE with the PCM/float
SubFormat GUID) — are LOSSLESS re-encodings of the same int16 samples
(s<<8 / s/32768.0 round-trip exactly), so one analytic oracle covers
every layout.  Compressed codecs (MP3/AAC/ADPCM) are lossy and would
break exactness; they stay on the stub tier like video.
"""

from __future__ import annotations

import hashlib
import struct
from functools import lru_cache

import numpy as np
from pyspark.sql import DataFrame

from pdfparser_spark.runner import map_rows

RATES = (8000, 16000, 22050, 44100)


# the EXTENSIBLE SubFormat GUIDs (KSDATAFORMAT_SUBTYPE_{PCM,IEEE_FLOAT}):
# format tag + the fixed 14-byte GUID tail
_EXT_GUID_TAIL = bytes.fromhex("000000001000800000aa00389b71")


def encode_wav(samples: np.ndarray, rate: int, layout: str = "pcm16") -> bytes:
    """(n, channels) int16 -> RIFF/WAVE with a single ``data`` chunk.

    ``layout``: ``pcm16`` (tag 1, 16-bit), ``pcm24`` (tag 1, 24-bit,
    samples stored as s<<8), ``float32`` (tag 3, IEEE float s/32768),
    ``ext16`` (tag 0xFFFE EXTENSIBLE wrapping 16-bit PCM) — all lossless
    carriers of the same int16 samples."""
    if samples.ndim == 1:
        samples = samples[:, None]
    n, ch = samples.shape
    if layout == "pcm24":
        s32 = (samples.astype(np.int32) << 8).astype("<i4").tobytes()
        # keep the low 3 bytes of each little-endian int32
        body = b"".join(s32[i : i + 3] for i in range(0, len(s32), 4))
        tag, bits = 1, 24
    elif layout == "float32":
        body = (samples.astype(np.float32) / np.float32(32768.0)).astype("<f4").tobytes()
        tag, bits = 3, 32
    else:
        body = samples.astype("<i2").tobytes()
        tag, bits = 1, 16
    bw = bits // 8
    if layout == "ext16":
        # EXTENSIBLE: cbSize 22, wValidBitsPerSample, dwChannelMask,
        # SubFormat GUID whose first 2 bytes are the real format tag
        fmt = struct.pack(
            "<HHIIHHHHI", 0xFFFE, ch, rate, rate * ch * bw, ch * bw, bits, 22, bits, 0
        ) + struct.pack("<H", 1) + _EXT_GUID_TAIL
    else:
        fmt = struct.pack("<HHIIHH", tag, ch, rate, rate * ch * bw, ch * bw, bits)
    riff = b"WAVEfmt " + struct.pack("<I", len(fmt)) + fmt
    riff += b"data" + struct.pack("<I", len(body)) + body
    return b"RIFF" + struct.pack("<I", len(riff)) + riff


def decode_wav(payload: bytes):
    """-> (rate, channels, (n, channels) int16 array).  Walks the real
    chunk structure (skips unknown chunks, honors the declared sizes);
    raises ValueError on malformed/non-PCM input."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos, rate, ch, bits, data = 12, None, None, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        size = struct.unpack_from("<I", payload, pos + 4)[0]
        if pos + 8 + size > len(payload):
            raise ValueError("truncated WAV chunk")
        if cid == b"fmt ":
            if size < 16:
                raise ValueError("short fmt chunk")
            tag, ch, rate, _br, _ba, bits = struct.unpack_from("<HHIIHH", payload, pos + 8)
            if tag == 0xFFFE:  # EXTENSIBLE: the real tag leads the GUID
                if size < 40:
                    raise ValueError("short EXTENSIBLE fmt chunk")
                tag = struct.unpack_from("<H", payload, pos + 8 + 24)[0]
                if payload[pos + 8 + 26 : pos + 8 + 40] != _EXT_GUID_TAIL:
                    raise ValueError("unknown EXTENSIBLE SubFormat GUID")
            if tag not in (1, 3):
                raise ValueError("only PCM/IEEE-float WAV supported")
        elif cid == b"data":
            data = payload[pos + 8 : pos + 8 + size]
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if rate is None or data is None:
        raise ValueError("missing fmt/data chunk")
    if tag == 3:
        if bits != 32:
            raise ValueError("only 32-bit float WAV supported")
        f = np.frombuffer(data, dtype="<f4").astype(np.float64) * 32768.0
        arr = np.rint(f).astype(np.int64)
        if arr.size and (arr.max() > 32767 or arr.min() < -32768):
            raise ValueError("float WAV samples out of int16 range")
        arr = arr.astype(np.int16)
    elif bits == 24:
        raw = np.frombuffer(data, dtype=np.uint8)
        if raw.size % 3:
            raise ValueError("24-bit data not a whole number of samples")
        raw = raw.reshape(-1, 3).astype(np.int32)
        s32 = raw[:, 0] | (raw[:, 1] << 8) | (raw[:, 2] << 16)
        s32 = (s32 ^ 0x800000) - 0x800000  # sign-extend 24 bits
        arr = (s32 >> 8).astype(np.int16)
    elif bits == 16:
        arr = np.frombuffer(data, dtype="<i2")
    else:
        raise ValueError(f"unsupported PCM bit depth {bits}")
    if ch < 1 or arr.size % ch:
        raise ValueError("data chunk not a whole number of frames")
    return rate, ch, arr.reshape(-1, ch)


def _waveform(n: int, ch: int) -> np.ndarray:
    i = np.arange(n, dtype=np.int64)[:, None]
    c = np.arange(ch, dtype=np.int64)[None, :]
    return (((7 * i * i + 13 * i + 31 * c) % 65536) - 32768).astype(np.int16)


def _params(doc_id: int, media_ref: str) -> tuple[int, int, int]:
    h = hashlib.md5(f"{doc_id}:{media_ref}:wav".encode()).hexdigest()
    n = 800 + 100 * (ord(h[0]) % 8)
    rate = RATES[ord(h[1]) % 4]
    ch = 1 + ord(h[2]) % 2
    return n, rate, ch


_LAYOUTS = ("pcm16", "pcm24", "float32", "ext16")


@lru_cache(maxsize=256)
def _wav_payload(n: int, rate: int, ch: int, layout: str = "pcm16") -> bytes:
    """Memoized: only 8 x 4 x 2 x 4 distinct combos exist."""
    return encode_wav(_waveform(n, ch), rate, layout)


def audio_payloads(spans_flat: DataFrame) -> DataFrame:
    """Media spans -> real WAV binary payloads (synthesis half of the
    round trip; at production the bytes come from the source table)."""
    from pdfparser_spark.textops.media import media_payload_kernel

    def make(d, m):
        n, rate, ch = _params(d, m)
        layout = _LAYOUTS[
            ord(hashlib.md5(f"{d}:{m}:wav".encode()).hexdigest()[3]) % 4
        ]
        return _wav_payload(n, rate, ch, layout)

    return media_payload_kernel(spans_flat, make)


def audio_features(spans_flat: DataFrame) -> DataFrame:
    """REAL decode over the WAV payload column: parse the RIFF bytes,
    emit integer features (rate, channels, n_samples, duration_ms, peak,
    sum_abs).  All-integer so the oracle recomputes them exactly."""
    def rows_of(d, m, payload):
        rate, ch, arr = decode_wav(payload)
        a = np.abs(arr.astype(np.int64))
        n = arr.shape[0]
        return [(d, m, rate, ch, n, n * 1000 // rate, int(a.max()), int(a.sum()))]

    return map_rows(
        audio_payloads(spans_flat),
        "doc_id long, media_ref string, rate int, channels int, "
        "n_samples int, duration_ms int, peak int, sum_abs long",
        rows_of,
    )
