"""Minimal self-contained WAV (RIFF PCM) audio codec (stdlib + numpy).

The multimodal layer's audio path needs a REAL demux-to-samples step,
but no media library ships in this environment (no torchaudio /
soundfile / ffmpeg). Canonical WAV is the uncompressed interchange
format those tools themselves emit, and its spec is small enough to
implement honestly: a ``RIFF`` container holding a ``WAVE`` form with a
``fmt `` chunk (format tag, channels, sample rate, bit depth) and a
``data`` chunk of interleaved PCM frames. Supported encodings: integer
PCM at 8 (unsigned), 16, 24 and 32 bits, any channel count, plus
IEEE-float 32/64 — which covers what encoders emit for uncompressed
audio. Compressed encodings (ADPCM, G.711 A-law/µ-law, mp3, vorbis…)
raise NotImplementedError at the exact seam where ffmpeg/torchaudio
would plug in.

Chunk walking follows the RIFF rules that trip naive parsers: chunks
may appear in any order after ``fmt `` precedes ``data``, unknown
chunks (``LIST``, ``fact``, ``cue ``…) are skipped by their declared
size, and odd-sized chunks are padded to an even boundary.

Decode cost is one header walk plus a numpy ``frombuffer`` view over
the data chunk — no per-sample Python. The Arrow ``mapInPandas``
batching above this (``operators/multimodal.py::audio_features``)
keeps per-row overhead off the hot path.

Reference parity note: the reference ETL has no audio path; this codec
exists for the training-data-pipeline extension surface (multimodal
columns), mirroring ``png_codec.py`` / ``y4m_codec.py``.
"""

from __future__ import annotations

import struct

import numpy as np

#: WAVE fmt-chunk format tags the decoder reads
_PCM_TAG = 0x0001
_FLOAT_TAG = 0x0003
_EXTENSIBLE_TAG = 0xFFFE


def encode_wav(samples: np.ndarray, sample_rate: int = 16000) -> bytes:
    """int16 samples, shape (n,) mono or (n, ch) interleaved → WAV bytes."""
    arr = np.asarray(samples, dtype=np.int16)
    if arr.ndim == 1:
        arr = arr[:, None]
    if arr.ndim != 2:
        raise ValueError(f"samples must be (n,) or (n, ch), got ndim={arr.ndim}")
    n_ch = arr.shape[1]
    data = np.ascontiguousarray(arr).tobytes()  # row-major = interleaved
    byte_rate = sample_rate * n_ch * 2
    fmt = struct.pack(
        "<HHIIHH", _PCM_TAG, n_ch, sample_rate, byte_rate, n_ch * 2, 16
    )
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    if len(data) % 2:
        body += b"\x00"  # RIFF pads odd chunks to even boundaries
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav(data: bytes) -> tuple[np.ndarray, int]:
    """WAV bytes → (samples float32 in [-1, 1] shaped (n, ch), sample_rate).

    Normalizing every width to float32 gives downstream feature code one
    dtype to reason about (rms/peak formulas identical for 8-bit phone
    audio and 32-bit studio masters), matching what soundfile/librosa
    return by default.
    """
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE stream (bad magic)")
    pos, end = 12, min(len(data), 8 + struct.unpack("<I", data[4:8])[0])
    fmt_tag = n_ch = rate = bits = None
    pcm = None
    while pos + 8 <= end:
        cid = data[pos : pos + 4]
        (size,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        chunk = data[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            # gate on ACTUAL bytes, not the declared size — a truncated
            # stream whose header claims size>=16 would otherwise feed
            # struct.unpack a short buffer and escape as struct.error
            # instead of the clean ValueError the executor contract needs
            if len(chunk) < 16:
                raise ValueError("WAV fmt chunk truncated")
            fmt_tag, n_ch, rate, _br, _align, bits = struct.unpack(
                "<HHIIHH", chunk[:16]
            )
            if fmt_tag == _EXTENSIBLE_TAG and len(chunk) >= 26:
                # WAVE_FORMAT_EXTENSIBLE: the real tag is the first word
                # of the 16-byte SubFormat GUID at offset 24.
                (fmt_tag,) = struct.unpack("<H", chunk[24:26])
        elif cid == b"data":
            if fmt_tag is None:
                raise ValueError("WAV data chunk before fmt chunk")
            pcm = chunk
            break  # fmt seen, samples in hand — ignore trailing chunks
        # unknown chunk (LIST/fact/cue…): skip by declared size
        pos += 8 + size + (size % 2)  # odd chunks pad to even
    if pcm is None:
        raise ValueError("WAV stream has no data chunk")
    if fmt_tag == _PCM_TAG:
        if bits == 8:
            arr = np.frombuffer(pcm, dtype=np.uint8).astype(np.float32)
            arr = (arr - 128.0) / 128.0
        elif bits == 16:
            arr = np.frombuffer(pcm, dtype="<i2").astype(np.float32) / 32768.0
        elif bits == 24:
            raw = np.frombuffer(pcm[: len(pcm) - len(pcm) % 3], dtype=np.uint8)
            raw = raw.reshape(-1, 3)
            # sign-extend 3 little-endian bytes into int32
            vals = (
                raw[:, 0].astype(np.int32)
                | (raw[:, 1].astype(np.int32) << 8)
                | (raw[:, 2].astype(np.int32) << 16)
            )
            vals -= (vals & 0x800000) << 1
            arr = vals.astype(np.float32) / 8388608.0
        elif bits == 32:
            arr = np.frombuffer(pcm, dtype="<i4").astype(np.float32) / 2147483648.0
        else:
            raise NotImplementedError(f"PCM bit depth {bits} not supported")
    elif fmt_tag == _FLOAT_TAG and bits == 32:
        arr = np.frombuffer(pcm, dtype="<f4").astype(np.float32)
    elif fmt_tag == _FLOAT_TAG and bits == 64:
        arr = np.frombuffer(pcm, dtype="<f8").astype(np.float32)
    else:
        raise NotImplementedError(
            f"no codec for WAV format tag 0x{fmt_tag:04x}/{bits}-bit here "
            "(built-in covers integer PCM and IEEE float; plug "
            "ffmpeg/torchaudio for compressed encodings)"
        )
    if n_ch < 1:
        raise ValueError("WAV fmt declares zero channels")
    n = len(arr) - len(arr) % n_ch
    return arr[:n].reshape(-1, n_ch), rate

