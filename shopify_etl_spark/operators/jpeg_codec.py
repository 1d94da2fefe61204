"""Minimal self-contained JPEG codec (stdlib struct + numpy).

The multimodal layer's JPEG decoder: PNG/WAV/Y4M proved dependency-free
codecs are feasible in this environment (no Pillow / opencv / ffmpeg),
and JPEG closes the image family. Scope is the Huffman-coded subset of
ITU-T T.81:

* **sequential DCT, 8-bit** (SOF0), Huffman entropy coding (DHT),
* **progressive DCT** (SOF2, T.81 Annex G): spectral selection AND
  successive approximation on decode (DC/AC first + refinement scans,
  EOB runs, interleaved DC scans); ``encode_jpeg_progressive`` emits
  the libjpeg-style 10-scan script so the path round-trips without
  external encoders — and both coding paths reconstruct the SAME
  quantized coefficients, so progressive decode must equal baseline
  decode bit-for-bit at the same quality (pinned in tests),
* **1 component (grayscale) or 3 components (YCbCr, JFIF)**,
* **chroma subsampling on encode**: 4:4:4, 4:2:0, 4:2:2, 4:1:1 and
  4:4:0 (mean-downsampled chroma, interleaved MCUs) on both encoders,
  which share one front half, so the cross-path bit-exactness contract
  covers every layout; decode accepts any h/v sampling factors ≤ 4
  with integer ratios (block-replication upsampling; T.81's ≤10
  blocks/MCU rule enforced),
* sequential scans interleaved or non-interleaved (one scan per
  component subset, T.81 A.2.2), restart intervals (DRI/RSTn) on decode,
* **12-bit precision** (uint16 rasters in [0, 4095], Pq=1 16-bit
  quantization tables, full-alphabet Huffman tables) on both encode
  and decode, sequential (SOF1) AND progressive (SOF2) — the
  medical/scientific-imaging mode, pinned by the same cross-path
  bit-exactness contract as 8-bit progressive,
* **lossless predictive coding** (SOF3, T.81 Annex H) on both decode
  and encode (``encode_jpeg_lossless``): all 7 predictors, 2-16 bit
  precision, point transform, restart intervals, interleaved or
  one-scan-per-component — the DICOM/raw-camera mode, pinned by an
  EXACT round-trip contract (no DCT, no quantization; components coded
  directly, no color transform),
* **hierarchical progression** (T.81 Annex J) on decode and encode
  (``encode_jpeg_hierarchical``): DHP, EXP reference expansion
  (J.1.1.2 filter), a sequential/progressive/lossless base frame plus
  differential refinement frames — lossless (SOF7, Ss=0, mod-2^16
  accumulation), sequential DCT (SOF5) and progressive DCT (SOF6),
  both with zero DC prediction and a signed-residual IDCT.

Arithmetic coding (SOF9-11, SOF13-15, DAC) is out of scope: a stream
that uses it raises ``NotImplementedError``, the same seam
``multimodal._decode_raster`` uses for a format it has no codec for.
Such streams are rare in crawled corpora, and decoding one as Huffman
data would return a wrong raster.

JPEG is lossy, so the test contract differs from PNG's bit-exact
round-trip: ``decode(encode(x, quality=q))`` must reconstruct within a
PSNR bound that tightens with q (pinned in tests/test_jpeg_codec.py),
DC-flat blocks must round-trip exactly at q=100 on the luma path, and
the decoder must reject/raise on the documented out-of-scope shapes.

Decode cost is Huffman bit-reading per coefficient (Python) + numpy
matrix IDCT per block; the Arrow ``mapInPandas`` batching above this
keeps per-row Python overhead off the hot path, same as png_codec.
"""

from __future__ import annotations

import struct

import numpy as np

# ---------------------------------------------------------------------------
# Shared tables
# ---------------------------------------------------------------------------

#: Zig-zag order: index i of the scan → (row, col) in the 8×8 block.
_ZIGZAG = np.array([
    0,  1,  8, 16,  9,  2,  3, 10,
    17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
])

#: Annex K.1 base quantization tables (luminance, chrominance).
_Q_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int64)
_Q_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int64)

# Annex K.3 standard Huffman tables: (bits[1..16], values)
_DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
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
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)
_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
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
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)


# Extended-precision (12-bit) entropy tables. T.81's Annex K sample
# tables only cover the 8-bit symbol alphabet (DC categories <= 11, AC
# sizes <= 10); 12-bit samples need DC diffs up to category 15 and AC
# sizes up to 14, so the 12-bit encoder emits its own canonical tables
# covering the full alphabet. Deliberately flat (near-uniform lengths,
# all-ones codeword left unused per the canonical construction) — a few
# percent larger streams in exchange for validity on ANY coefficient
# the quantizer can produce; decoders read whatever DHT ships, so
# interop is unaffected.
_DC_EXT = (
    [0, 0, 0, 15, 1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0],
    list(range(16)),  # categories 0..15, 4-bit codes (one 5-bit)
)
_AC_EXT = (
    [0, 0, 0, 0, 0, 0, 0, 226, 0, 0, 0, 0, 0, 0, 0, 0],
    sorted({0x00, 0xF0} | {(r << 4) | s for r in range(16) for s in range(1, 15)}),
)


def _dct_matrix() -> np.ndarray:
    """Orthonormal 8×8 DCT-II matrix D: dct2(B) = D @ B @ D.T."""
    k = np.arange(8)
    d = np.cos((2 * k[None, :] + 1) * k[:, None] * np.pi / 16) / 2.0
    d[0, :] = 1.0 / (2 * np.sqrt(2.0))
    return d


_DCT = _dct_matrix()


def _quality_tables(quality: int) -> tuple[np.ndarray, np.ndarray]:
    """IJG quality scaling of the Annex K tables (clamped to [1, 255])."""
    q = min(100, max(1, int(quality)))
    scale = 5000 // q if q < 50 else 200 - 2 * q
    out = []
    for base in (_Q_LUMA, _Q_CHROMA):
        t = (base * scale + 50) // 100
        out.append(np.clip(t, 1, 255).astype(np.int64))
    return out[0], out[1]


def _build_huffman_encode(bits, values) -> dict[int, tuple[int, int]]:
    """symbol → (code, length) per T.81 C.2 canonical code assignment."""
    table, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[values[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return table


def _build_huffman_decode(bits, values) -> dict[tuple[int, int], int]:
    """(length, code) → symbol (tiny tables; dict lookup is plenty)."""
    table, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = values[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _magnitude(v: int) -> tuple[int, int]:
    """Signed value → (category s, s-bit code) per T.81 F.1.2.1."""
    if v == 0:
        return 0, 0
    a, s = abs(v), 0
    while a:
        a >>= 1
        s += 1
    code = v if v > 0 else v + (1 << s) - 1
    return s, code


def _extend(code: int, s: int) -> int:
    """Inverse of :func:`_magnitude` (T.81 F.2.2.1 EXTEND)."""
    return code if code >= (1 << (s - 1)) else code - (1 << s) + 1


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self._acc = 0
        self._n = 0

    def write(self, code: int, length: int) -> None:
        self._acc = (self._acc << length) | (code & ((1 << length) - 1))
        self._n += length
        while self._n >= 8:
            self._n -= 8
            byte = (self._acc >> self._n) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:  # byte stuffing (T.81 F.1.2.3)
                self.out.append(0x00)

    def flush(self) -> None:
        if self._n:
            pad = 8 - self._n
            self.write((1 << pad) - 1, pad)  # 1-pad to the byte boundary


class _BitReader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self._acc = 0
        self._n = 0

    def _fill(self) -> None:
        if self.pos >= len(self.data):
            raise ValueError("jpeg: entropy stream truncated")
        b = self.data[self.pos]
        self.pos += 1
        if b == 0xFF:
            if self.pos < len(self.data) and self.data[self.pos] == 0x00:
                self.pos += 1  # stuffed byte
            else:
                raise ValueError("jpeg: unexpected marker inside scan")
        self._acc = (self._acc << 8) | b
        self._n += 8

    def read_bit(self) -> int:
        if self._n == 0:
            self._fill()
        self._n -= 1
        return (self._acc >> self._n) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def read_symbol(self, table: dict[tuple[int, int], int]) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.read_bit()
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("jpeg: invalid Huffman code")


# ---------------------------------------------------------------------------
# Encode
# ---------------------------------------------------------------------------


def _rgb_to_ycbcr(rgb: np.ndarray, center: float = 128.0) -> np.ndarray:
    r, g, b = (rgb[..., i].astype(np.float64) for i in range(3))
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + center
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + center
    return np.stack([y, cb, cr], axis=-1)


def _ycbcr_to_rgb(ycc: np.ndarray, center: float = 128.0) -> np.ndarray:
    y, cb, cr = (ycc[..., i] for i in range(3))
    r = y + 1.402 * (cr - center)
    g = y - 0.344136 * (cb - center) - 0.714136 * (cr - center)
    b = y + 1.772 * (cb - center)
    return np.stack([r, g, b], axis=-1)


def _tiles(plane: np.ndarray, n_by: int, n_bx: int) -> np.ndarray:
    """Edge-replicated 8×8 tiling to a fixed block grid: (n_by, n_bx, 8, 8)."""
    h, w = plane.shape
    padded = np.pad(
        plane, ((0, n_by * 8 - h), (0, n_bx * 8 - w)), mode="edge"
    )
    return padded.reshape(n_by, 8, n_bx, 8).transpose(0, 2, 1, 3)


def _downsample(plane: np.ndarray, fx: int, fy: int) -> np.ndarray:
    """fy×fx mean downsample (edge-padded to multiples) — the chroma
    reduction for 4:2:0 (2,2), 4:2:2 (2,1), 4:1:1 (4,1), 4:4:0 (1,2)."""
    h, w = plane.shape
    p = np.pad(
        plane, ((0, -h % fy), (0, -w % fx)), mode="edge"
    )
    return p.reshape(
        p.shape[0] // fy, fy, p.shape[1] // fx, fx
    ).mean(axis=(1, 3))


#: Luma (h, v) per encode mode; chroma is always (1, 1), mean-downsampled
#: by the same factors — the layouts real encoders emit (4:2:0 the web
#: default, 4:2:2 broadcast video, 4:1:1 DV camcorders, 4:4:0).
_SUBSAMP = {"420": (2, 2), "422": (2, 1), "411": (4, 1), "440": (1, 2)}


def _subsample_planes(planes, subsampling: str):
    """(samp factors, downsampled planes) for an encode mode."""
    n_comp = len(planes)
    if subsampling in _SUBSAMP and n_comp == 3:
        fx, fy = _SUBSAMP[subsampling]
        return (
            [(fx, fy), (1, 1), (1, 1)],
            [
                planes[0],
                _downsample(planes[1], fx, fy),
                _downsample(planes[2], fx, fy),
            ],
        )
    if subsampling == "444":
        return [(1, 1)] * n_comp, planes
    raise ValueError(f"unsupported subsampling {subsampling!r}")


def _encode_block(writer, block_zz, prev_dc, dc_t, ac_t) -> int:
    """Entropy-encode one zig-zag block; returns its DC for the predictor."""
    dc = int(block_zz[0])
    s, code = _magnitude(dc - prev_dc)
    hc, hl = dc_t[s]
    writer.write(hc, hl)
    if s:
        writer.write(code, s)
    run = 0
    last_nz = int(np.max(np.nonzero(block_zz)[0])) if np.any(block_zz[1:]) else 0
    for k in range(1, last_nz + 1):
        v = int(block_zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            hc, hl = ac_t[0xF0]  # ZRL
            writer.write(hc, hl)
            run -= 16
        s, code = _magnitude(v)
        hc, hl = ac_t[(run << 4) | s]
        writer.write(hc, hl)
        writer.write(code, s)
        run = 0
    if last_nz < 63:
        hc, hl = ac_t[0x00]  # EOB
        writer.write(hc, hl)
    return dc


def _prepare_frame(arr, quality: int, subsampling: str, precision: int):
    """Shared encode front half (validation, color transform, MCU
    geometry, quality-scaled quantization, vectorized DCT + quantize) —
    the sequential and progressive encoders consume its output
    unchanged, which is what makes the cross-path pixel-exactness
    contract hold by construction."""
    if precision not in (8, 12):
        raise ValueError(f"jpeg: precision must be 8 or 12, got {precision}")
    if precision == 12:
        arr = np.ascontiguousarray(arr)
        if arr.dtype != np.uint16:
            raise ValueError("jpeg: 12-bit encode takes a uint16 raster")
        if arr.size and int(arr.max()) > 4095:
            raise ValueError("jpeg: 12-bit samples must be in [0, 4095]")
    else:
        arr = np.ascontiguousarray(arr, dtype=np.uint8)
    center = float(1 << (precision - 1))
    if arr.ndim == 2:
        planes = [arr.astype(np.float64)]
    elif arr.ndim == 3 and arr.shape[2] == 3:
        ycc = _rgb_to_ycbcr(arr, center)
        planes = [ycc[..., 0], ycc[..., 1], ycc[..., 2]]
    else:
        raise ValueError(f"unsupported raster shape {arr.shape}")
    h, w = arr.shape[:2]
    n_comp = len(planes)
    samp, planes = _subsample_planes(planes, subsampling)
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    q_luma, q_chroma = _quality_tables(quality)
    if precision == 12:
        # samples span 16x the 8-bit range, so the DCT coefficients do
        # too — scale the steps 16x to keep the same perceptual quality
        # (and the same coefficient entropy) as the 8-bit encode
        q_luma = np.clip(q_luma * 16, 1, 65535)
        q_chroma = np.clip(q_chroma * 16, 1, 65535)
    qtabs = [q_luma] + ([q_chroma] if n_comp == 3 else [])
    # Quantized coefficients per component, on each component's own block
    # grid (vectorized DCT over all blocks at once).
    comp_coefs = []
    for c, plane in enumerate(planes):
        n_by, n_bx = mcuy * samp[c][1], mcux * samp[c][0]
        tiles = _tiles(plane - center, n_by, n_bx)
        coefs = np.einsum("ij,abjk,lk->abil", _DCT, tiles, _DCT)
        q = qtabs[min(c, len(qtabs) - 1)].reshape(8, 8)
        comp_coefs.append(
            np.round(coefs / q).astype(np.int64).reshape(n_by, n_bx, 64)
        )
    return h, w, n_comp, samp, mcux, mcuy, qtabs, comp_coefs


def _frame_headers(
    h, w, n_comp, samp, qtabs, precision, restart_interval, sof_marker
) -> bytearray:
    """SOI + JFIF + DQT + optional DRI + SOF segment bytes (shared by the
    sequential and progressive encoders — only the SOF marker differs)."""
    out = bytearray(b"\xff\xd8")  # SOI
    out += (
        b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00"
        + struct.pack(">HHBB", 1, 1, 0, 0)
    )
    for tid, q in enumerate(qtabs):
        if precision == 12:  # Pq=1: 16-bit big-endian entries
            zz = q[_ZIGZAG].astype(">u2").tobytes()
            out += b"\xff\xdb" + struct.pack(">HB", 131, 0x10 | tid) + zz
        else:
            zz = q[_ZIGZAG].astype(np.uint8).tobytes()
            out += b"\xff\xdb" + struct.pack(">HB", 67, tid) + zz
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    sof = struct.pack(">BHHB", precision, h, w, n_comp)
    for c in range(n_comp):
        sof += struct.pack(
            ">BBB", c + 1, (samp[c][0] << 4) | samp[c][1], 0 if c == 0 else 1
        )
    out += sof_marker + struct.pack(">H", 2 + len(sof)) + sof
    return out


def _huffman_tables(out: bytearray, precision: int, n_comp: int) -> dict:
    """Append the DHT segments (Annex K tables at 8 bits, the full-
    alphabet tables at 12) to ``out``; returns Tc/Th → encode table."""
    if precision == 12:
        huff_specs = [(0x00, _DC_EXT), (0x10, _AC_EXT)]
        if n_comp == 3:
            huff_specs += [(0x01, _DC_EXT), (0x11, _AC_EXT)]
    else:
        huff_specs = [(0x00, _DC_LUMA), (0x10, _AC_LUMA)]
        if n_comp == 3:
            huff_specs += [(0x01, _DC_CHROMA), (0x11, _AC_CHROMA)]
    enc_tabs = {}
    for tc_th, (bits, values) in huff_specs:
        payload = bytes([tc_th]) + bytes(bits) + bytes(values)
        out += b"\xff\xc4" + struct.pack(">H", 2 + len(payload)) + payload
        enc_tabs[tc_th] = _build_huffman_encode(bits, values)
    return enc_tabs


def encode_jpeg(
    arr: np.ndarray,
    quality: int = 85,
    subsampling: str = "444",
    restart_interval: int = 0,
    precision: int = 8,
    interleave: bool = True,
) -> bytes:
    """uint8 raster (H,W) grayscale or (H,W,3) RGB → baseline JFIF bytes.

    Standard Annex K Huffman tables, IJG quality scaling of the Annex K
    quantization tables. ``subsampling='420'`` (3-component only) mean-
    downsamples chroma 2×2 and interleaves 16×16 MCUs — the dominant
    real-world layout, and what exercises the decoder's upsampling path.
    ``restart_interval`` > 0 emits DRI + RSTn markers every N MCUs (the
    error-resilience layout long scans use; resets DC predictors and
    byte-aligns, exactly what the decoder's segment splitting expects).

    ``precision=12`` takes a uint16 raster (values in [0, 4095]) and
    emits a T.81 extended-sequential 12-bit stream: SOF1 with Pq=1
    16-bit quantization tables (the Annex K values scaled 16x, tracking
    the wider sample range) and full-alphabet canonical Huffman tables
    (DC categories to 15, AC sizes to 14 — Annex K's sample tables only
    cover the 8-bit alphabet). Medical/scientific pipelines are the
    real-world users of this mode.
    """
    h, w, n_comp, samp, mcux, mcuy, qtabs, comp_coefs = _prepare_frame(
        arr, quality, subsampling, precision
    )
    # 12-bit is extended sequential (SOF1); 8-bit stays baseline (SOF0)
    sof_marker = b"\xff\xc0" if precision == 8 else b"\xff\xc1"
    out = _frame_headers(
        h, w, n_comp, samp, qtabs, precision, restart_interval, sof_marker
    )
    enc_tabs = _huffman_tables(out, precision, n_comp)
    if not interleave:
        # non-interleaved sequential (T.81 A.2.2): one SOS per component,
        # blocks in raster order over that component's own grid — the
        # fixture generator for the decoder's partial-scan path. 4:4:4
        # only (subsampled non-interleaved grids drop the MCU padding,
        # a different geometry this honest subset doesn't cover) and no
        # restart markers (their MCU counting differs per scan).
        if subsampling != "444" or restart_interval:
            raise ValueError(
                "jpeg: interleave=False supports 4:4:4 without restarts"
            )
        for c in range(n_comp):
            sos = struct.pack(">B", 1)
            sos += struct.pack(">BB", c + 1, 0x00 if c == 0 else 0x11)
            sos += b"\x00\x3f\x00"
            out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos
            writer = _BitWriter()
            dc_t = enc_tabs[0x00 if c == 0 else 0x01]
            ac_t = enc_tabs[0x10 if c == 0 else 0x11]
            prev = 0
            for gy in range(mcuy):
                for gx in range(mcux):
                    block = comp_coefs[c][gy, gx][_ZIGZAG]
                    prev = _encode_block(writer, block, prev, dc_t, ac_t)
            writer.flush()
            out += writer.out
        out += b"\xff\xd9"  # EOI
        return bytes(out)

    sos = struct.pack(">B", n_comp)
    for c in range(n_comp):
        sos += struct.pack(">BB", c + 1, 0x00 if c == 0 else 0x11)
    sos += b"\x00\x3f\x00"
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos

    writer = _BitWriter()
    prev_dc = [0] * n_comp
    mcu_in_seg, rst_n = 0, 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_in_seg == restart_interval:
                writer.flush()
                writer.out += bytes([0xFF, 0xD0 + rst_n])
                rst_n = (rst_n + 1) % 8
                prev_dc = [0] * n_comp
                mcu_in_seg = 0
            for c in range(n_comp):
                dc_t = enc_tabs[0x00 if c == 0 else 0x01]
                ac_t = enc_tabs[0x10 if c == 0 else 0x11]
                for by in range(samp[c][1]):
                    for bx in range(samp[c][0]):
                        block = comp_coefs[c][
                            my * samp[c][1] + by, mx * samp[c][0] + bx
                        ][_ZIGZAG]
                        prev_dc[c] = _encode_block(
                            writer, block, prev_dc[c], dc_t, ac_t
                        )
            mcu_in_seg += 1
    writer.flush()
    out += writer.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# ---------------------------------------------------------------------------
# Decode
# ---------------------------------------------------------------------------


def decode_jpeg(data: bytes, max_pixels: int = 100_000_000) -> np.ndarray:
    """JFIF bytes → uint8 raster (H,W) or (H,W,3) RGB (uint16 at 12 bits).

    Accepts baseline and extended sequential (SOF0/1) and progressive
    (SOF2 — spectral selection + successive approximation, DC/AC first
    and refinement scans, EOB runs) Huffman streams, 8- or 12-bit;
    sequential scans interleaved OR non-interleaved (one scan per
    component subset, T.81 A.2.2); 1 or 3 components, any h/v sampling
    factors ≤ 4 with integer ratios, standard or custom Huffman/
    quantization tables, and restart intervals. Lossless (SOF3) streams
    decode exactly to uint8/uint16 samples; hierarchical streams (DHP,
    EXP, differential SOF5-7) decode to the DHP frame size. Arithmetic
    streams (SOF9-11, SOF13-15, DAC) raise NotImplementedError — the
    documented seam, same contract as the other codecs in this package.

    Executor-safe on untrusted bytes (fuzz-pinned in tests): every
    malformed stream raises a clean ``ValueError`` — internal parse
    errors (index/key/struct/overflow) never escape raw, and a
    StopIteration can never leak into a mapInPandas generator — and
    ``max_pixels`` rejects decompression-bomb SOF headers (a 3-byte
    mutation can otherwise demand a 65535×65535 float grid) before any
    allocation, PIL-style.
    """
    try:
        return _decode_jpeg_impl(data, max_pixels)
    except (ValueError, NotImplementedError):
        raise
    except (IndexError, KeyError, OverflowError, StopIteration,
            struct.error, TypeError, ZeroDivisionError) as e:
        raise ValueError(
            f"jpeg: corrupt or truncated stream ({type(e).__name__}: {e})"
        ) from e


#: T.81 markers outside the decoded subset: arithmetic (QM-coder)
#: entropy coding. A stream that uses one raises NotImplementedError; it
#: is never skipped past or decoded as Huffman.
_UNSUPPORTED_MARKERS = {
    0xC9: "arithmetic sequential (SOF9)",
    0xCA: "arithmetic progressive (SOF10)",
    0xCB: "arithmetic lossless (SOF11)",
    0xCC: "arithmetic conditioning (DAC)",
    0xCD: "arithmetic differential sequential (SOF13)",
    0xCE: "arithmetic differential progressive (SOF14)",
    0xCF: "arithmetic differential lossless (SOF15)",
}

#: Lossless (SOF3) and differential lossless (SOF7) frame markers.
_LOSSLESS_SOF = (0xC3, 0xC7)
#: Differential frames (SOF5/6/7): hierarchical streams only.
_DIFF_SOF = (0xC5, 0xC6, 0xC7)


def _decode_jpeg_impl(data: bytes, max_pixels: int) -> np.ndarray:
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qtabs: dict[int, np.ndarray] = {}
    htabs: dict[int, dict] = {}
    frame = None
    restart_interval = 0
    coef_store = None  # progressive: per-component coefficient grids
    seq_deq = None  # sequential: dequantized grids
    lossless_planes = None  # lossless: per-component sample rows
    lossless_pt = 0
    # Annex J hierarchical state: DHP dims/components, per-component-id
    # reference planes, and a pending EXP expansion for the next frame
    hier = None

    def finalize_frame():
        """Fold the just-decoded frame into the hierarchical reference
        planes (int64, mod-2^16 accumulation per J/H.2) and reset the
        per-frame accumulators."""
        nonlocal coef_store, seq_deq, lossless_planes
        if lossless_planes is not None:
            planes = [
                np.asarray(pl, dtype=np.int64) << lossless_pt
                for pl in lossless_planes
            ]
        elif coef_store is not None:
            planes = [
                _reconstruct_from_coefs(frame, qtabs, coef_store).astype(
                    np.int64
                )
            ]
        elif seq_deq is not None:
            planes = [_blocks_to_image(frame, seq_deq).astype(np.int64)]
        else:
            raise ValueError("jpeg: hierarchical frame without scan data")
        coef_store = seq_deq = lossless_planes = None
        for comp, plane in zip(frame["comps"], planes):
            cid = comp["id"]
            if frame["diff"]:
                ref = hier["refs"].get(cid)
                if ref is None:
                    raise ValueError(
                        "jpeg: differential frame without a reference "
                        f"for component {cid}"
                    )
                if ref.shape[0] < plane.shape[0] or ref.shape[1] < plane.shape[1]:
                    raise ValueError(
                        "jpeg: differential frame larger than its "
                        "reference (missing EXP?)"
                    )
                ref = ref[: plane.shape[0], : plane.shape[1]]
                hier["refs"][cid] = (ref + plane) & 0xFFFF
            else:
                if cid in hier["refs"]:
                    raise NotImplementedError(
                        "jpeg: hierarchical non-differential re-frame "
                        "of an existing component"
                    )
                hier["refs"][cid] = plane & 0xFFFF

    while pos < len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"jpeg: expected marker at {pos}")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            continue  # standalone
        if marker in _UNSUPPORTED_MARKERS:
            raise NotImplementedError(
                f"jpeg: {_UNSUPPORTED_MARKERS[marker]} is not supported "
                "(Huffman entropy coding only)"
            )
        length = struct.unpack(">H", data[pos:pos + 2])[0]
        seg = data[pos + 2:pos + length]
        pos += length
        if marker == 0xDB:  # DQT
            off = 0
            while off < len(seg):
                pq, tq = seg[off] >> 4, seg[off] & 0x0F
                if pq == 0:  # 8-bit entries
                    zz = np.frombuffer(
                        seg[off + 1:off + 65], dtype=np.uint8
                    ).astype(np.int64)
                    off += 65
                elif pq == 1:  # 16-bit big-endian entries (T.81 B.2.4.1 —
                    # emitted by real encoders when a step exceeds 255,
                    # e.g. libjpeg below quality ~8)
                    zz = np.frombuffer(
                        seg[off + 1:off + 129], dtype=">u2"
                    ).astype(np.int64)
                    off += 129
                else:
                    raise ValueError(f"jpeg: invalid DQT precision {pq}")
                q = np.zeros(64, dtype=np.int64)
                q[_ZIGZAG] = zz  # short read -> shape-mismatch ValueError
                qtabs[tq] = q.reshape(8, 8)
        elif marker == 0xC4:  # DHT
            off = 0
            while off < len(seg):
                tc_th = seg[off]
                bits = list(seg[off + 1:off + 17])
                n = sum(bits)
                values = list(seg[off + 17:off + 17 + n])
                htabs[tc_th] = _build_huffman_decode(bits, values)
                off += 17 + n
        elif marker == 0xDE:  # DHP — hierarchical progression (Annex J)
            if hier is not None or frame is not None:
                raise ValueError("jpeg: DHP must precede every frame")
            prec, h, w, n_comp = struct.unpack(">BHHB", seg[:6])
            if h == 0 or w == 0 or h * w > max_pixels:
                raise ValueError(
                    f"jpeg: DHP dimensions {w}x{h} outside sane bounds "
                    f"(max_pixels={max_pixels})"
                )
            comps = []
            for c in range(n_comp):
                cid = seg[6 + 3 * c]
                comps.append({"id": cid})
            hier = {
                "prec": prec, "h": h, "w": w, "comps": comps,
                "refs": {}, "pending_exp": None,
            }
        elif marker == 0xDF:  # EXP — expand reference components (J.1)
            if hier is None:
                raise ValueError("jpeg: EXP outside a hierarchical stream")
            eh, ev = seg[0] >> 4, seg[0] & 0x0F
            if eh > 1 or ev > 1 or (eh == 0 and ev == 0):
                raise ValueError(f"jpeg: invalid EXP Eh={eh} Ev={ev}")
            hier["pending_exp"] = (eh, ev)
        elif marker in (0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7):
            # sequential / progressive / lossless, and their differential
            # forms (hierarchical streams only)
            if marker in _DIFF_SOF and hier is None:
                raise ValueError(
                    "jpeg: differential frame outside a hierarchical "
                    "stream (no DHP)"
                )
            if hier is not None and frame is not None:
                finalize_frame()  # fold the previous frame into refs
            if hier is not None and hier["pending_exp"] is not None:
                eh, ev = hier["pending_exp"]
                hier["pending_exp"] = None
                hier["refs"] = {
                    cid: _exp_expand(ref, eh, ev)
                    for cid, ref in hier["refs"].items()
                }
            prec, h, w, n_comp = struct.unpack(">BHHB", seg[:6])
            if marker in _LOSSLESS_SOF:
                if not 2 <= prec <= 16:  # T.81 Annex H sample precision
                    raise ValueError(
                        f"jpeg: invalid lossless precision {prec}"
                    )
            elif prec not in (8, 12):
                raise NotImplementedError(
                    f"jpeg: only 8- and 12-bit precision (got {prec})"
                )
            if h == 0 or w == 0 or h * w > max_pixels:
                raise ValueError(
                    f"jpeg: frame dimensions {w}x{h} outside sane bounds "
                    f"(max_pixels={max_pixels})"
                )
            if n_comp not in (1, 3):
                raise ValueError(
                    f"jpeg: unsupported component count {n_comp} "
                    "(grayscale or YCbCr only)"
                )
            comps = []
            for c in range(n_comp):
                cid, hv, tq = seg[6 + 3 * c:9 + 3 * c]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0x0F, "tq": tq})
            # h/v of 0 is illegal per T.81 (would divide by zero in the
            # MCU geometry below) — a corrupt byte must surface as the
            # clean ValueError the executor-safety contract promises,
            # never a raw ZeroDivisionError
            if any(c["h"] == 0 or c["v"] == 0 for c in comps):
                raise ValueError("jpeg: zero sampling factor in SOF")
            if any(c["h"] > 4 or c["v"] > 4 for c in comps):
                raise ValueError("jpeg: sampling factors > 4 (T.81 B.2.2)")
            if sum(c["h"] * c["v"] for c in comps) > 10:
                raise ValueError("jpeg: >10 blocks per MCU (T.81 B.2.3)")
            _hm = max(c["h"] for c in comps)
            _vm = max(c["v"] for c in comps)
            if any(_hm % c["h"] or _vm % c["v"] for c in comps):
                # 3:2-style rational resampling — no mainstream encoder
                # emits it; the block-replication upsample needs integer
                # ratios
                raise NotImplementedError(
                    "jpeg: non-integer sampling ratios"
                )
            if marker in _LOSSLESS_SOF and any(
                c["h"] != 1 or c["v"] != 1 for c in comps
            ):
                raise NotImplementedError("jpeg: lossless with subsampling")
            if (
                hier is not None
                and marker not in _LOSSLESS_SOF
                and n_comp != 1
            ):
                # a color DCT base frame would route through the YCbCr
                # conversion while references are per-component — keep
                # the honest subset explicit
                raise NotImplementedError(
                    "jpeg: hierarchical DCT base frames are "
                    "grayscale-only (lossless base frames may be color)"
                )
            frame = {
                "h": h, "w": w, "comps": comps,
                "prog": marker in (0xC2, 0xC6), "prec": prec,
                "lossless": marker in _LOSSLESS_SOF,
                "diff": marker in _DIFF_SOF,
            }
        elif marker == 0xDD:  # DRI
            restart_interval = struct.unpack(">H", seg[:2])[0]
        elif marker == 0xDA:  # SOS — entropy data follows
            if frame is None:
                raise ValueError("jpeg: SOS before SOF")
            n_scan = seg[0]
            scan_list = []  # ordered (comp index, td, ta)
            for c in range(n_scan):
                cid, tdta = seg[1 + 2 * c], seg[2 + 2 * c]
                ci = next(
                    i for i, cc in enumerate(frame["comps"]) if cc["id"] == cid
                )
                scan_list.append((ci, tdta >> 4, tdta & 0x0F))
            end = _find_scan_end(data, pos)
            if frame["lossless"]:
                ss = seg[1 + 2 * n_scan]  # predictor selection
                ahal = seg[3 + 2 * n_scan]
                pt = ahal & 0x0F
                if pt >= frame["prec"]:
                    raise ValueError(
                        f"jpeg: point transform {pt} >= precision"
                    )
                if frame["diff"]:
                    if ss != 0:  # T.81 Annex J: differential => Ss = 0
                        raise ValueError(
                            "jpeg: differential lossless frame requires "
                            f"Ss=0 (got predictor {ss})"
                        )
                elif ss == 0:
                    raise ValueError(
                        "jpeg: predictor 0 is only legal in "
                        "differential frames"
                    )
                if lossless_planes is None:
                    lossless_planes = [
                        [[0] * frame["w"] for _ in range(frame["h"])]
                        for _ in frame["comps"]
                    ]
                    lossless_pt = pt
                elif pt != lossless_pt:
                    raise ValueError(
                        "jpeg: point transform differs across scans"
                    )
                _decode_scan_lossless(
                    data[pos:end], frame, htabs, scan_list,
                    ss, pt, lossless_planes, restart_interval,
                )
                pos = end
                continue
            if frame["prog"]:
                if coef_store is None:
                    coef_store = _alloc_coef_store(frame)
                ss, se = seg[1 + 2 * n_scan], seg[2 + 2 * n_scan]
                ahal = seg[3 + 2 * n_scan]
                _decode_scan_progressive(
                    data[pos:end], frame, htabs, scan_list,
                    ss, se, ahal >> 4, ahal & 0x0F,
                    coef_store, restart_interval,
                )
                pos = end
                continue
            if seq_deq is None:
                seq_deq = _alloc_seq_grids(frame)
            _decode_scan_sequential(
                data[pos:end], frame, qtabs, htabs, scan_list,
                restart_interval, seq_deq,
            )
            if n_scan == len(frame["comps"]) and hier is None:
                # interleaved: the one scan carries every component
                return _blocks_to_image(frame, seq_deq)
            # non-interleaved: one scan per component subset — accumulate
            # the dequantized grids across scans and assemble at EOI (a
            # hierarchical frame is folded into the references instead)
            pos = end
        # APPn/COM and everything else: skipped
    if hier is not None:
        if frame is None:
            raise ValueError("jpeg: hierarchical stream without frames")
        finalize_frame()
        prec = hier["prec"]
        dtype = np.uint8 if prec <= 8 else np.uint16
        out = []
        for comp in hier["comps"]:
            ref = hier["refs"].get(comp["id"])
            if ref is None:
                raise ValueError(
                    f"jpeg: hierarchical component {comp['id']} never "
                    "coded"
                )
            if ref.shape != (hier["h"], hier["w"]):
                raise ValueError(
                    "jpeg: hierarchical reference dimensions "
                    f"{ref.shape[::-1]} != DHP {hier['w']}x{hier['h']}"
                )
            out.append((ref & ((1 << prec) - 1)).astype(dtype))
        return out[0] if len(out) == 1 else np.stack(out, axis=-1)
    if frame is not None and frame["prog"] and coef_store is not None:
        return _reconstruct_from_coefs(frame, qtabs, coef_store)
    if frame is not None and seq_deq is not None:
        return _blocks_to_image(frame, seq_deq)
    if frame is not None and lossless_planes is not None:
        return _assemble_lossless(frame, lossless_planes, lossless_pt)
    raise ValueError("jpeg: no scan data found")


def _find_scan_end(data: bytes, start: int) -> int:
    """Index of the first real marker (not stuffing/RST) after the scan."""
    i = start
    while i < len(data) - 1:
        if data[i] == 0xFF and data[i + 1] not in (0x00,) and not (
            0xD0 <= data[i + 1] <= 0xD7
        ):
            return i
        i += 1
    return len(data)


def _alloc_seq_grids(frame) -> list[np.ndarray]:
    """MCU-padded dequantized block grids, one per component, filled by
    every sequential scan of the frame and assembled once by
    ``_blocks_to_image``."""
    return [
        np.zeros((g["pad_by"], g["pad_bx"], 8, 8), dtype=np.float64)
        for g in _comp_grids(frame)
    ]


def _decode_scan_sequential(
    scan, frame, qtabs, htabs, scan_list, restart_interval, deq
):
    """One sequential Huffman scan into the dequantized grids ``deq``.

    A scan may carry every component (interleaved, the common case) or a
    subset (T.81 non-interleaved mode — libjpeg writes these for 4:4:4
    when asked not to interleave, and some encoders emit Y, Cb, Cr as
    three scans). Geometry per A.2.2: a single-component scan walks that
    component's OWN ceil(dim/8) block grid in raster order (no MCU
    padding — the grid can be one block narrower than the interleaved
    allocation; the padding blocks stay zero and are cropped by the
    shared assembly). A multi-component scan interleaves its components'
    h×v blocks over the global MCU grid. Restart markers reset the DC
    predictors and the bit alignment."""
    comps = frame["comps"]
    segments = _split_restart_segments(scan, restart_interval)
    seg_idx = 0
    reader = _BitReader(segments[0])
    prev_dc = {ci: 0 for ci, _, _ in scan_list}
    mcu_in_seg = 0

    def decode_block(ci, td, ta, gy, gx):
        comp = comps[ci]
        dc_t, ac_t = htabs[0x00 | td], htabs[0x10 | ta]
        if comp["tq"] not in qtabs:
            raise ValueError(f"jpeg: missing quantization table {comp['tq']}")
        q = qtabs[comp["tq"]]
        zz = np.zeros(64, dtype=np.int64)
        s = reader.read_symbol(dc_t)
        diff = _extend(reader.read_bits(s), s) if s else 0
        if frame["diff"]:
            zz[0] = diff  # Annex J: DC prediction is zero
        else:
            prev_dc[ci] += diff
            zz[0] = prev_dc[ci]
        k = 1
        while k < 64:
            rs = reader.read_symbol(ac_t)
            r, s = rs >> 4, rs & 0x0F
            if s == 0:
                if r == 15:
                    k += 16
                    continue
                break  # EOB
            k += r
            if k > 63:
                raise ValueError("jpeg: AC index overflow")
            zz[k] = _extend(reader.read_bits(s), s)
            k += 1
        block = np.zeros(64, dtype=np.float64)
        block[_ZIGZAG] = zz
        deq[ci][gy, gx] = block.reshape(8, 8) * q

    def next_segment():
        nonlocal seg_idx, reader, prev_dc, mcu_in_seg
        seg_idx += 1
        if seg_idx >= len(segments):
            raise ValueError("jpeg: missing restart segment")
        reader = _BitReader(segments[seg_idx])
        prev_dc = {ci: 0 for ci, _, _ in scan_list}
        mcu_in_seg = 0

    if len(scan_list) == 1:
        ci, td, ta = scan_list[0]
        g = _comp_grids(frame)[ci]
        for gy in range(g["ni_by"]):
            for gx in range(g["ni_bx"]):
                if restart_interval and mcu_in_seg == restart_interval:
                    next_segment()
                decode_block(ci, td, ta, gy, gx)
                mcu_in_seg += 1  # non-interleaved MCU = one block
        return

    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = -(-frame["w"] // (8 * hmax))
    mcuy = -(-frame["h"] // (8 * vmax))
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_in_seg == restart_interval:
                next_segment()
            for ci, td, ta in scan_list:
                comp = comps[ci]
                for by in range(comp["v"]):
                    for bx in range(comp["h"]):
                        decode_block(
                            ci, td, ta,
                            my * comp["v"] + by, mx * comp["h"] + bx,
                        )
            mcu_in_seg += 1


def _blocks_to_image(frame, comp_blocks) -> np.ndarray:
    """Dequantized coefficient grids — one (n_by, n_bx, 8, 8) float64
    array per component — → final uint8 raster.

    SHARED by the sequential and the progressive decode paths: the IDCT
    einsum, plane assembly, block-replication upsample, crop, and color
    conversion all run with the identical op/summation order, so the
    progressive==baseline bit-exactness contract holds by construction
    rather than by measurement."""
    comps = frame["comps"]
    h, w = frame["h"], frame["w"]
    prec = frame["prec"]
    center = float(1 << (prec - 1))
    maxv = (1 << prec) - 1
    dtype = np.uint8 if prec == 8 else np.uint16
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    if frame["diff"]:
        # differential frame (Annex J): the IDCT output IS the residual —
        # no level shift, no clamping (signed; the hierarchical combine
        # is mod-2^16), grayscale by the hier DCT restriction
        center = 0.0
    full = []
    for ci, comp in enumerate(comps):
        blocks = comp_blocks[ci]
        n_by, n_bx = blocks.shape[:2]
        pix = np.einsum("ji,abjk,kl->abil", _DCT, blocks, _DCT)
        plane = pix.transpose(0, 2, 1, 3).reshape(n_by * 8, n_bx * 8) + center
        ry, rx = vmax // comp["v"], hmax // comp["h"]
        if ry > 1 or rx > 1:  # block-replication upsample (4:2:0 / 4:2:2)
            plane = np.repeat(np.repeat(plane, ry, axis=0), rx, axis=1)
        full.append(plane[:h, :w])
    if frame["diff"]:
        return np.round(full[0]).astype(np.int64)
    if len(full) == 1:
        return np.clip(np.round(full[0]), 0, maxv).astype(dtype)
    rgb = _ycbcr_to_rgb(np.stack(full, axis=-1), center)
    return np.clip(np.round(rgb), 0, maxv).astype(dtype)


# ---------------------------------------------------------------------------
# Progressive mode (T.81 Annex G): coefficients accumulate across scans —
# spectral selection splits the zig-zag band, successive approximation
# splits the bit-planes — and reconstruction happens once at EOI.
# ---------------------------------------------------------------------------


def _comp_grids(frame) -> list[dict]:
    """Per-component block-grid geometry: the MCU-padded grid (interleaved
    scans) and the non-interleaved grid (single-component scans cover only
    ceil(comp_size/8) blocks — NOT the MCU padding; T.81 A.2.2)."""
    comps = frame["comps"]
    h, w = frame["h"], frame["w"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    out = []
    for c in comps:
        cw, ch = -(-w * c["h"] // hmax), -(-h * c["v"] // vmax)
        out.append({
            "pad_by": mcuy * c["v"], "pad_bx": mcux * c["h"],
            "ni_by": -(-ch // 8), "ni_bx": -(-cw // 8),
        })
    return out


def _alloc_coef_store(frame) -> list[np.ndarray]:
    return [
        np.zeros((g["pad_by"], g["pad_bx"], 64), dtype=np.int64)
        for g in _comp_grids(frame)
    ]


def _split_restart_segments(scan: bytes, restart_interval: int) -> list[bytes]:
    if not restart_interval:
        return [scan]
    segments, seg, i = [], bytearray(), 0
    while i < len(scan):
        if scan[i] == 0xFF and i + 1 < len(scan) and 0xD0 <= scan[i + 1] <= 0xD7:
            segments.append(bytes(seg))
            seg = bytearray()
            i += 2
            continue
        seg.append(scan[i])
        i += 1
    segments.append(bytes(seg))
    return segments


def _decode_scan_progressive(
    scan, frame, htabs, scan_list, ss, se, ah, al, coef_store,
    restart_interval,
):
    """One progressive scan into the coefficient store (T.81 G.2 /
    the classic phuff decoder structure).

    DC scans (ss == 0) may interleave all components (MCU order); AC
    scans carry exactly one component in non-interleaved block order.
    ``ah == 0`` marks a first scan (values arrive ``<< al``), ``ah > 0``
    a refinement scan delivering bit-plane ``al``.
    """
    comps = frame["comps"]
    grids = _comp_grids(frame)
    segments = _split_restart_segments(scan, restart_interval)
    if ss == 0 and se != 0:
        raise ValueError("jpeg: progressive DC scan with Se != 0")
    if ss != 0 and len(scan_list) != 1:
        raise ValueError("jpeg: progressive AC scan must be single-component")

    # work units: for interleaved scans one MCU, for single-component
    # scans one block — restart intervals count these units (T.81 G.2.4)
    if len(scan_list) > 1:
        hmax = max(c["h"] for c in comps)
        vmax = max(c["v"] for c in comps)
        mcux = -(-frame["w"] // (8 * hmax))
        mcuy = -(-frame["h"] // (8 * vmax))
        units = []
        for my in range(mcuy):
            for mx in range(mcux):
                blocks = []
                for ci, td, _ta in scan_list:
                    c = comps[ci]
                    for by in range(c["v"]):
                        for bx in range(c["h"]):
                            blocks.append(
                                (ci, td, my * c["v"] + by, mx * c["h"] + bx)
                            )
                units.append(blocks)
    else:
        ci, td, ta = scan_list[0]
        g = grids[ci]
        units = [
            [(ci, td if ss == 0 else ta, by, bx)]
            for by in range(g["ni_by"])
            for bx in range(g["ni_bx"])
        ]

    p1 = 1 << al
    seg_idx = 0
    reader = _BitReader(segments[0])
    prev_dc = [0] * len(comps)
    eobrun = 0
    unit_in_seg = 0
    for unit in units:
        if restart_interval and unit_in_seg == restart_interval:
            seg_idx += 1
            reader = _BitReader(segments[seg_idx])
            prev_dc = [0] * len(comps)
            eobrun = 0
            unit_in_seg = 0
        for ci, tab_id, by, bx in unit:
            zz = coef_store[ci][by, bx]
            if ss == 0:
                if ah == 0:  # DC first: diff-coded point-transformed DC
                    s = reader.read_symbol(htabs[0x00 | tab_id])
                    diff = _extend(reader.read_bits(s), s) if s else 0
                    if frame["diff"]:
                        zz[0] = diff << al  # Annex J: zero DC prediction
                    else:
                        prev_dc[ci] += diff
                        zz[0] = prev_dc[ci] << al
                else:  # DC refinement: one raw bit per block
                    if reader.read_bit():
                        zz[0] = int(zz[0]) | p1
            elif ah == 0:  # AC first (G.2.2): EOB runs span blocks
                if eobrun > 0:
                    eobrun -= 1
                    continue
                ac_t = htabs[0x10 | tab_id]
                k = ss
                while k <= se:
                    rs = reader.read_symbol(ac_t)
                    r, s = rs >> 4, rs & 0x0F
                    if s:
                        k += r
                        if k > se:
                            raise ValueError("jpeg: AC band overflow")
                        zz[k] = _extend(reader.read_bits(s), s) << al
                        k += 1
                    elif r == 15:
                        k += 16  # ZRL
                    else:
                        eobrun = (1 << r) - 1
                        if r:
                            eobrun += reader.read_bits(r)
                        break
            else:  # AC refinement (G.2.3)
                eobrun = _ac_refine_block(
                    reader, htabs[0x10 | tab_id], zz, ss, se, al, eobrun
                )
        unit_in_seg += 1


def _ac_refine_block(reader, ac_t, zz, ss, se, al, eobrun) -> int:
    """Refine one block's AC band by one bit-plane; returns the updated
    EOB run. Already-nonzero coefficients receive a correction bit;
    zero-history positions carry run lengths to newly-significant ±1
    values (the phuff AC-refinement walk)."""
    p1, m1 = 1 << al, -1 << al

    def correct(k):
        if reader.read_bit() and (int(zz[k]) & p1) == 0:
            zz[k] = int(zz[k]) + (p1 if zz[k] >= 0 else m1)

    k = ss
    if eobrun == 0:
        while k <= se:
            rs = reader.read_symbol(ac_t)
            r, s = rs >> 4, rs & 0x0F
            val = 0
            if s:
                # s == 1 in any valid refinement scan: new ±1 at plane al
                val = p1 if reader.read_bit() else m1
            elif r != 15:
                eobrun = 1 << r
                if r:
                    eobrun += reader.read_bits(r)
                break
            # advance past r zero-history coefs, correcting nonzero ones
            while k <= se:
                if zz[k] != 0:
                    correct(k)
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if val and k <= se:
                zz[k] = val
            k += 1
    if eobrun > 0:
        while k <= se:  # EOB region still refines its nonzero coefs
            if zz[k] != 0:
                correct(k)
            k += 1
        eobrun -= 1
    return eobrun


def _reconstruct_from_coefs(frame, qtabs, coef_store) -> np.ndarray:
    """Dequantize the accumulated coefficient grids, then hand off to the
    same ``_blocks_to_image`` helper the sequential path uses — identical
    IDCT op order by construction (the progressive==baseline bit-exactness
    contract, see encode_jpeg_progressive)."""
    comps = frame["comps"]
    deq = []
    for ci, comp in enumerate(comps):
        grid = coef_store[ci]
        n_by, n_bx = grid.shape[:2]
        blocks = np.zeros((n_by, n_bx, 64), dtype=np.float64)
        blocks[:, :, _ZIGZAG] = grid
        deq.append(blocks.reshape(n_by, n_bx, 8, 8) * qtabs[comp["tq"]])
    return _blocks_to_image(frame, deq)


def _pt_ac(v: int, al: int) -> int:
    """AC point transform: integer divide by 2^Al with truncation toward
    ZERO (T.81 G.1.2.2 — arithmetic shift would floor negatives)."""
    t = abs(v) >> al
    return t if v >= 0 else -t


def encode_jpeg_progressive(
    arr: np.ndarray,
    quality: int = 85,
    subsampling: str = "444",
    precision: int = 8,
) -> bytes:
    """uint8 raster (H,W) grayscale or (H,W,3) RGB → progressive (SOF2)
    JFIF bytes, libjpeg-style scan script.

    Ten scans for color (six for grayscale): an interleaved DC-first scan
    at bit-plane 1, per-component AC-first scans split spectrally
    (1–5, then 6–63) at plane 2, two per-component AC refinement passes
    (2→1, 1→0), and a DC refinement scan — every decoder code path
    (spectral selection, successive approximation, DC/AC first/refine,
    EOB handling) is exercised by a single file. ``subsampling='420'``
    (color only) downsamples chroma exactly like ``encode_jpeg`` and
    interleaves the DC scans over 16×16 MCUs; the AC scans are
    non-interleaved and cover each component's own ceil(size/8) block
    grid (T.81 A.2.2 — NOT the MCU padding). Standard Annex K tables;
    EOB runs are emitted per block (EOB0), which the standard AC tables
    can code — run-accumulating EOBn symbols don't exist in the Annex K
    alphabet.

    The quantized coefficients are computed EXACTLY as ``encode_jpeg``
    computes them, and the scan script transmits every bit of every
    coefficient the visible raster depends on (MCU-padding blocks carry
    DC only, but they exist solely in the cropped margin), so
    ``decode_jpeg`` of this stream equals the decode of the baseline
    stream at the same quality/subsampling bit-for-bit (pinned in
    tests — the cross-path oracle for both implementations).

    ``precision=12`` mirrors ``encode_jpeg``'s 12-bit mode (uint16
    raster, 16x-scaled Pq=1 quantization tables, full-alphabet Huffman
    tables) with the identical scan script — the same cross-path
    bit-exactness contract holds because the quantized coefficients and
    the reconstruction path are shared with the sequential encoder.
    """
    h, w, n_comp, samp, mcux, mcuy, qtabs, comp_coefs = _prepare_frame(
        arr, quality, subsampling, precision
    )
    out = _frame_headers(h, w, n_comp, samp, qtabs, precision, 0, b"\xff\xc2")
    enc_tabs = _huffman_tables(out, precision, n_comp)
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    # per-component quantized coefficients on the MCU-padded grid, in
    # zig-zag scan order — the same coefficients encode_jpeg codes
    coefs = [cc[:, :, _ZIGZAG] for cc in comp_coefs]
    ni_grid = []  # non-interleaved (ceil(comp_size/8)) grid per comp
    for c in range(n_comp):
        cw = -(-w * samp[c][0] // hmax)
        ch = -(-h * samp[c][1] // vmax)
        ni_grid.append((-(-ch // 8), -(-cw // 8)))

    def sos_header(comp_ids, tabs, ss, se, ah, al) -> bytes:
        body = struct.pack(">B", len(comp_ids))
        for cid, tdta in zip(comp_ids, tabs):
            body += struct.pack(">BB", cid, tdta)
        body += struct.pack(">BBB", ss, se, (ah << 4) | al)
        return b"\xff\xda" + struct.pack(">H", 2 + len(body)) + body

    def dc_first_scan(al: int) -> bytes:
        """Interleaved: MCU order, each component's v×h blocks per MCU
        (T.81 A.2.3 — one block per MCU only at 4:4:4)."""
        wtr = _BitWriter()
        prev = [0] * n_comp
        for my in range(mcuy):
            for mx in range(mcux):
                for c in range(n_comp):
                    dc_t = enc_tabs[0x00 if c == 0 else 0x01]
                    for by in range(samp[c][1]):
                        for bx in range(samp[c][0]):
                            gy = my * samp[c][1] + by
                            gx = mx * samp[c][0] + bx
                            v = int(coefs[c][gy, gx, 0]) >> al  # DC PT
                            s, code = _magnitude(v - prev[c])
                            prev[c] = v
                            hc, hl = dc_t[s]
                            wtr.write(hc, hl)
                            if s:
                                wtr.write(code, s)
        wtr.flush()
        return bytes(wtr.out)

    def dc_refine_scan(al: int) -> bytes:
        wtr = _BitWriter()
        for my in range(mcuy):
            for mx in range(mcux):
                for c in range(n_comp):
                    for by in range(samp[c][1]):
                        for bx in range(samp[c][0]):
                            gy = my * samp[c][1] + by
                            gx = mx * samp[c][0] + bx
                            wtr.write((int(coefs[c][gy, gx, 0]) >> al) & 1, 1)
        wtr.flush()
        return bytes(wtr.out)

    def ac_first_scan(c: int, ss: int, se: int, al: int) -> bytes:
        ac_t = enc_tabs[0x10 if c == 0 else 0x11]
        wtr = _BitWriter()
        ni_by, ni_bx = ni_grid[c]
        for by in range(ni_by):
            for bx in range(ni_bx):
                zz = coefs[c][by, bx]
                r = 0
                for k in range(ss, se + 1):
                    v = _pt_ac(int(zz[k]), al)
                    if v == 0:
                        r += 1
                        continue
                    while r > 15:
                        hc, hl = ac_t[0xF0]
                        wtr.write(hc, hl)
                        r -= 16
                    s, code = _magnitude(v)
                    hc, hl = ac_t[(r << 4) | s]
                    wtr.write(hc, hl)
                    wtr.write(code, s)
                    r = 0
                if r:
                    hc, hl = ac_t[0x00]  # EOB0: per-block EOB run
                    wtr.write(hc, hl)
        wtr.flush()
        return bytes(wtr.out)

    def ac_refine_scan(c: int, ss: int, se: int, al: int) -> bytes:
        ac_t = enc_tabs[0x10 if c == 0 else 0x11]
        wtr = _BitWriter()
        ni_by, ni_bx = ni_grid[c]
        for by in range(ni_by):
            for bx in range(ni_bx):
                zz = coefs[c][by, bx]
                mags = [abs(int(zz[k])) >> al for k in range(ss, se + 1)]
                eob_k = ss - 1  # last newly-significant position
                for i, m in enumerate(mags):
                    if m == 1:
                        eob_k = ss + i
                r, pending = 0, []
                for k in range(ss, se + 1):
                    m = mags[k - ss]
                    if m == 0:
                        r += 1
                        continue
                    while r > 15 and k <= eob_k:
                        hc, hl = ac_t[0xF0]
                        wtr.write(hc, hl)
                        for b in pending:
                            wtr.write(b, 1)
                        pending = []
                        r -= 16
                    if m > 1:  # already significant: correction bit
                        pending.append(m & 1)
                        continue
                    hc, hl = ac_t[(r << 4) | 1]  # newly significant ±1
                    wtr.write(hc, hl)
                    wtr.write(1 if zz[k] > 0 else 0, 1)
                    for b in pending:
                        wtr.write(b, 1)
                    pending = []
                    r = 0
                if r > 0 or pending:
                    hc, hl = ac_t[0x00]  # EOB0 absorbs the tail
                    wtr.write(hc, hl)
                    for b in pending:
                        wtr.write(b, 1)
        wtr.flush()
        return bytes(wtr.out)

    all_ids = [c + 1 for c in range(n_comp)]
    dc_tabs = [0x00 if c == 0 else 0x10 for c in range(n_comp)]
    # scan script (libjpeg's default shape): DC first at plane 1, AC
    # spectral halves at plane 2, AC refinements 2->1->0, DC refinement
    out += sos_header(all_ids, dc_tabs, 0, 0, 0, 1) + dc_first_scan(1)
    for c in range(n_comp):
        ta = 0x00 if c == 0 else 0x11
        out += sos_header([c + 1], [ta], 1, 5, 0, 2) + ac_first_scan(c, 1, 5, 2)
    for c in range(n_comp):
        ta = 0x00 if c == 0 else 0x11
        out += sos_header([c + 1], [ta], 6, 63, 0, 2) + ac_first_scan(c, 6, 63, 2)
    for c in range(n_comp):
        ta = 0x00 if c == 0 else 0x11
        out += sos_header([c + 1], [ta], 1, 63, 2, 1) + ac_refine_scan(c, 1, 63, 1)
    for c in range(n_comp):
        ta = 0x00 if c == 0 else 0x11
        out += sos_header([c + 1], [ta], 1, 63, 1, 0) + ac_refine_scan(c, 1, 63, 0)
    out += sos_header(all_ids, dc_tabs, 0, 0, 1, 0) + dc_refine_scan(0)
    out += b"\xff\xd9"
    return bytes(out)


# ---------------------------------------------------------------------------
# Lossless mode (T.81 Annex H): predictive coding of samples — no DCT, no
# quantization. The format DICOM archives and several raw-camera
# pipelines ship; Pillow cannot decode it, so the gate is the exact
# round trip against this module's own encoder.
# ---------------------------------------------------------------------------

#: Canonical Huffman table covering difference categories 0..16 (the DC
#: alphabet plus the SSSS=16 "diff == 32768, no extra bits" special that
#: only 16-bit-precision streams can produce). Kraft sum 1 - 2^-16 < 1,
#: so no all-ones code is assigned (the JPEG-reserved pattern).
_DC_LOSSLESS = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1],
    list(range(17)),
)


def _lossless_predict(row, prev_row, x, y, predictor, default,
                      ay=0, ax=0):
    """One sample's prediction Px per T.81 H.1.2: the scan's first
    sample and edge samples use the mandated fallbacks (default /
    Ra-on-first-line / Rb-on-first-column); interior samples use the
    selected predictor 1-7. Predictor 0 (legal ONLY in differential
    frames of a hierarchical stream, T.81 Annex J) means NO prediction:
    the coded values are already residuals against the upsampled
    reference, so Px = 0 everywhere, anchors included.

    ``(ay, ax)`` is the RESTART ANCHOR — the raster position of the
    first sample after the most recent RSTn (0, 0 at scan start).
    T.81 H.1.1: "the one-dimensional horizontal predictor (prediction
    sample Ra) is used for the first line of samples at the start of
    the scan and at the beginning of each restart interval", and the
    interval's first sample uses the default 2^(P−Pt−1) exactly like
    the scan's first sample. Real lossless codecs diverge on finer
    points here, so the fixture ENCODER pins the identical reading —
    the round trip is exact by construction and the interpretation is
    documented rather than implicit."""
    if predictor == 0:  # differential frame: values are residuals
        return 0
    if y == ay:
        return default if x == ax else row[x - 1]
    if x == 0:
        return prev_row[0]
    ra, rb, rc = row[x - 1], prev_row[x], prev_row[x - 1]
    if predictor == 1:
        return ra
    if predictor == 2:
        return rb
    if predictor == 3:
        return rc
    if predictor == 4:
        return ra + rb - rc
    if predictor == 5:
        return ra + ((rb - rc) >> 1)
    if predictor == 6:
        return rb + ((ra - rc) >> 1)
    return (ra + rb) >> 1  # predictor 7


def encode_jpeg_lossless(
    arr: np.ndarray,
    predictor: int = 4,
    precision: int | None = None,
    point_transform: int = 0,
    interleave: bool = True,
    restart_interval: int = 0,
) -> bytes:
    """Sample raster → T.81 Annex H lossless JPEG (SOF3) bytes.

    ``arr``: uint8 (H,W)/(H,W,3) for 8-bit precision, uint16 for 12/16
    (precision defaults to 8 for uint8 input, 16 for uint16). Components
    are coded DIRECTLY (no color transform — this is the lossless
    contract: ``decode_jpeg(encode_jpeg_lossless(x)) == x`` bit-for-bit
    when ``point_transform == 0``; with Pt > 0 the decode equals
    ``(x >> Pt) << Pt``, the spec's near-lossless mode). ``predictor``
    selects T.81 H.1.2's 1-7; ``interleave=False`` emits one scan per
    component. ``restart_interval`` > 0 (in MCUs = raster positions)
    emits DRI + RSTn and resets the entropy writer AND the prediction
    anchor per segment — the T.81 H.1.1 reading pinned in
    :func:`_lossless_predict` (real codecs diverge on lossless restart
    fine points, so encoder and decoder here pin the SAME documented
    interpretation and the round trip stays exact by construction —
    the r12 seam, closed r13).

    Exists primarily as the fixture generator for the decoder (the ask
    is decode: DICOM/raw-camera archives HIT lossless JPEG; they rarely
    need to WRITE it).
    """
    if not 1 <= predictor <= 7:
        raise ValueError(f"jpeg: invalid lossless predictor {predictor}")
    arr = np.asarray(arr)
    if precision is None:
        precision = 8 if arr.dtype == np.uint8 else 16
    if not 2 <= precision <= 16:
        raise ValueError(f"jpeg: invalid lossless precision {precision}")
    if not 0 <= point_transform < precision:
        raise ValueError(f"jpeg: invalid point transform {point_transform}")
    if arr.ndim == 2:
        planes = [arr]
    elif arr.ndim == 3 and arr.shape[2] == 3:
        planes = [arr[..., c] for c in range(3)]
    else:
        raise ValueError(f"jpeg: unsupported raster shape {arr.shape}")
    h, w = planes[0].shape
    if h == 0 or w == 0:
        raise ValueError("jpeg: empty raster")
    if int(planes[0].max(initial=0)) >= (1 << precision) or any(
        int(p.max(initial=0)) >= (1 << precision) for p in planes
    ):
        raise ValueError(f"jpeg: sample exceeds {precision}-bit precision")
    n_comp = len(planes)
    pt = point_transform
    default = 1 << (precision - pt - 1)
    # shifted int rows (Python lists: the per-sample loop below is pure
    # Python either way, and list indexing beats numpy scalar access)
    shifted = [(np.asarray(p, dtype=np.int64) >> pt).tolist() for p in planes]

    out = bytearray(b"\xff\xd8")
    sof = struct.pack(">BHHB", precision, h, w, n_comp)
    for c in range(n_comp):
        sof += struct.pack(">BBB", c + 1, 0x11, 0)  # 1x1 sampling, Tq unused
    out += b"\xff\xc3" + struct.pack(">H", 2 + len(sof)) + sof
    bits, values = _DC_LOSSLESS
    payload = bytes([0x00]) + bytes(bits) + bytes(values)
    out += b"\xff\xc4" + struct.pack(">H", 2 + len(payload)) + payload
    if restart_interval:
        if not 0 < restart_interval < 65536:
            raise ValueError(
                f"jpeg: invalid restart interval {restart_interval}"
            )
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    enc_t = _build_huffman_encode(bits, values)

    def write_samples(comp_subset) -> bytes:
        buf = bytearray()
        writer = _BitWriter()
        mcu_in_seg, rst_n = 0, 0
        ay = ax = 0
        for y in range(h):
            for x in range(w):
                if restart_interval and mcu_in_seg == restart_interval:
                    writer.flush()
                    buf += writer.out
                    buf += bytes([0xFF, 0xD0 + rst_n])
                    rst_n = (rst_n + 1) % 8
                    writer = _BitWriter()
                    mcu_in_seg = 0
                    ay, ax = y, x
                mcu_in_seg += 1
                for c in comp_subset:
                    rows = shifted[c]
                    row = rows[y]
                    prev = rows[y - 1] if y else None
                    px = _lossless_predict(
                        row, prev, x, y, predictor, default, ay, ax
                    )
                    d = (row[x] - px) & 0xFFFF
                    if d == 32768:  # SSSS=16: coded with no extra bits
                        code, length = enc_t[16]
                        writer.write(code, length)
                        continue
                    if d > 32768:
                        d -= 65536
                    s, extra = _magnitude(d)
                    code, length = enc_t[s]
                    writer.write(code, length)
                    if s:
                        writer.write(extra, s)
        writer.flush()
        buf += writer.out
        return bytes(buf)

    def sos_header(comp_ids):
        sos = struct.pack(">B", len(comp_ids))
        for cid in comp_ids:
            sos += struct.pack(">BB", cid, 0x00)  # Td=0, Ta unused
        sos += bytes([predictor, 0, pt])  # Ss=predictor, Se=0, Ah=0, Al=Pt
        return b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos

    if interleave or n_comp == 1:
        out += sos_header(list(range(1, n_comp + 1)))
        out += write_samples(list(range(n_comp)))
    else:
        for c in range(n_comp):
            out += sos_header([c + 1])
            out += write_samples([c])
    out += b"\xff\xd9"
    return bytes(out)


def _decode_scan_lossless(scan, frame, htabs, scan_list, predictor, pt,
                          planes, restart_interval=0):
    """One lossless scan (full set or subset of components) into the
    shared per-component sample planes (Python row lists — the
    per-sample loop is pure Python, and list indexing beats numpy
    scalar access ~3x).

    Geometry: the supported subset is 1x1 sampling, where the
    interleaved MCU order is raster order with a per-position component
    loop and a non-interleaved scan is a plain raster walk — both
    handled by the same loop (an MCU is one raster position either
    way, which is also the restart unit). At each RSTn the bit reader
    realigns on the next segment and prediction resets at the new
    anchor per T.81 H.1.1 (see :func:`_lossless_predict`).
    Reconstruction is ``(Px + diff) mod 2^16`` (T.81 H.1.2.2); the
    SSSS=16 symbol carries diff 32768 with no extra bits."""
    if not 0 <= predictor <= 7:
        raise ValueError(f"jpeg: invalid lossless predictor {predictor}")
    h, w = frame["h"], frame["w"]
    default = 1 << (frame["prec"] - pt - 1)
    segments = (
        _split_restart_segments(scan, restart_interval)
        if restart_interval
        else [scan]
    )
    seg_idx = 0
    reader = _BitReader(segments[0])
    tabs = []
    for ci, td, _ta in scan_list:
        t = htabs.get(0x00 | td)
        if t is None:
            raise ValueError(f"jpeg: missing Huffman table {td}")
        tabs.append((ci, t))
    mcu_in_seg = 0
    ay = ax = 0
    for y in range(h):
        for x in range(w):
            if restart_interval and mcu_in_seg == restart_interval:
                seg_idx += 1
                if seg_idx >= len(segments):
                    raise ValueError("jpeg: missing restart segment")
                reader = _BitReader(segments[seg_idx])
                mcu_in_seg = 0
                ay, ax = y, x
            mcu_in_seg += 1
            for ci, dc_t in tabs:
                rows = planes[ci]
                row = rows[y]
                prev = rows[y - 1] if y else None
                px = _lossless_predict(
                    row, prev, x, y, predictor, default, ay, ax
                )
                s = reader.read_symbol(dc_t)
                if s == 0:
                    diff = 0
                elif s == 16:
                    diff = 32768
                else:
                    diff = _extend(reader.read_bits(s), s)
                row[x] = (px + diff) & 0xFFFF


def _assemble_lossless(frame, planes, pt) -> np.ndarray:
    prec = frame["prec"]
    dtype = np.uint8 if prec <= 8 else np.uint16
    full = [
        (np.asarray(p, dtype=np.int64) << pt).astype(dtype) for p in planes
    ]
    return full[0] if len(full) == 1 else np.stack(full, axis=-1)


# ---------------------------------------------------------------------------
# Hierarchical mode (T.81 Annex J): DHP, a non-differential base frame at
# the coarsest pyramid level, then per finer level an EXP marker (2×
# reference expansion) and a differential frame whose output is added to
# the expanded reference mod 2^16. Differential frames are lossless
# (SOF7) or DCT (SOF5 sequential / SOF6 progressive) with zero DC
# prediction and no level shift.
# ---------------------------------------------------------------------------


def _exp_expand(plane: np.ndarray, eh: int, ev: int) -> np.ndarray:
    """T.81 J.1.1.2 reference upsampling for the EXP marker: even output
    samples copy the reference, odd samples are the rounded mean of the
    straddling pair, the final sample replicates the edge."""
    out = plane
    if eh:
        w = out.shape[1]
        exp = np.empty((out.shape[0], 2 * w), dtype=np.int64)
        exp[:, 0::2] = out
        if w > 1:
            exp[:, 1:-1:2] = (out[:, :-1] + out[:, 1:] + 1) >> 1
        exp[:, -1] = out[:, -1]
        out = exp
    if ev:
        h = out.shape[0]
        exp = np.empty((2 * h, out.shape[1]), dtype=np.int64)
        exp[0::2, :] = out
        if h > 1:
            exp[1:-1:2, :] = (out[:-1, :] + out[1:, :] + 1) >> 1
        exp[-1, :] = out[-1, :]
        out = exp
    return out


def _encode_diff_lossless_frame(
    residuals: list, prec: int, h: int, w: int
) -> bytes:
    """One differential lossless frame (SOF7) over mod-2^16 residual
    planes: Ss = 0 (no prediction — T.81 Annex J), Pt = 0, interleaved.
    Fixture-encoder half of the hierarchical refinement contract."""
    n_comp = len(residuals)
    out = bytearray()
    sof = struct.pack(">BHHB", prec, h, w, n_comp)
    for c in range(n_comp):
        sof += struct.pack(">BBB", c + 1, 0x11, 0)
    out += b"\xff\xc7" + struct.pack(">H", 2 + len(sof)) + sof
    bits, values = _DC_LOSSLESS
    payload = bytes([0x00]) + bytes(bits) + bytes(values)
    out += b"\xff\xc4" + struct.pack(">H", 2 + len(payload)) + payload
    enc_t = _build_huffman_encode(bits, values)
    sos = struct.pack(">B", n_comp)
    for c in range(n_comp):
        sos += struct.pack(">BB", c + 1, 0x00)
    sos += bytes([0, 0, 0])  # Ss=0 (differential), Se=0, Ah/Al=0
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos
    writer = _BitWriter()
    for y in range(h):
        for x in range(w):
            for c in range(n_comp):
                d = residuals[c][y][x]
                if d == 32768:  # SSSS=16: no extra bits
                    code, length = enc_t[16]
                    writer.write(code, length)
                    continue
                if d > 32768:
                    d -= 65536
                s, extra = _magnitude(d)
                code, length = enc_t[s]
                writer.write(code, length)
                if s:
                    writer.write(extra, s)
    writer.flush()
    out += writer.out
    return bytes(out)


def _quantize_residual(residual: np.ndarray, quality: int):
    """Shared front half of the differential DCT encoders: forward DCT of
    a SIGNED grayscale residual (no level shift), luma quantization at
    ``quality``, coefficient clamp. Returns ``(grid, q8, dqt, n_by, n_bx)``
    with ``grid`` the natural-order quantized coefficients per block and
    ``dqt`` the DQT segment bytes."""
    h, w = residual.shape
    n_by, n_bx = -(-h // 8), -(-w // 8)
    q_luma, _ = _quality_tables(quality)
    tiles = _tiles(residual.astype(np.float64), n_by, n_bx)
    coefs = np.einsum("ij,abjk,lk->abil", _DCT, tiles, _DCT)
    q8 = q_luma.reshape(8, 8)
    grid = np.round(coefs / q8).astype(np.int64).reshape(n_by, n_bx, 64)
    # residuals span TWICE the level-shifted sample range, so quantized
    # coefficients can exceed the 8-bit entropy alphabets (AC SSSS <= 10,
    # DC <= 11). Clamp before coding — an encoder-side choice the
    # reconstruction models exactly; the finest (lossless) rung absorbs
    # whatever distortion the clamp adds.
    grid[:, :, 1:] = np.clip(grid[:, :, 1:], -1023, 1023)
    grid[:, :, 0] = np.clip(grid[:, :, 0], -2047, 2047)
    # DQT: payload element k is the step for zig-zag position k, i.e.
    # natural index _ZIGZAG[k] (8-bit entries; quality tables fit)
    q2d = q_luma.reshape(64)
    payload = bytes(int(q2d[_ZIGZAG[k]]) for k in range(64))
    dqt = b"\xff\xdb" + struct.pack(">HB", 67, 0) + payload
    return grid, q8, dqt, n_by, n_bx


def _diff_dct_headers(h: int, w: int, sof_marker: bytes) -> bytes:
    """SOF (one 8-bit component) + the Annex K luma DHT segment of a
    differential DCT frame."""
    sof = struct.pack(">BHHB", 8, h, w, 1) + struct.pack(">BBB", 1, 0x11, 0)
    out = sof_marker + struct.pack(">H", 2 + len(sof)) + sof
    dc_bits, dc_values = _DC_LUMA
    ac_bits, ac_values = _AC_LUMA
    dht = bytes([0x00]) + bytes(dc_bits) + bytes(dc_values)
    dht += bytes([0x10]) + bytes(ac_bits) + bytes(ac_values)
    return out + b"\xff\xc4" + struct.pack(">H", 2 + len(dht)) + dht


def _decoded_residual(grid, q8, n_by, n_bx, h, w) -> np.ndarray:
    """Decoder-exact reconstruction of a differential DCT residual (same
    op order as ``_blocks_to_image``'s diff branch; ``grid`` is in
    natural order)."""
    deq = grid.astype(np.float64).reshape(n_by, n_bx, 8, 8) * q8
    pix = np.einsum("ji,abjk,kl->abil", _DCT, deq, _DCT)
    plane = pix.transpose(0, 2, 1, 3).reshape(n_by * 8, n_bx * 8)
    return np.round(plane[:h, :w]).astype(np.int64)


def _encode_diff_dct_frame(
    residual: np.ndarray, quality: int
) -> tuple[bytes, np.ndarray]:
    """One differential sequential-DCT frame (SOF5) over a SIGNED
    grayscale residual plane, DC coded with zero prediction (Annex J).
    Returns ``(frame_bytes, decoded_residual)`` — the residual the
    DECODER will reconstruct, which the caller needs to model the
    reference for the next refinement level."""
    h, w = residual.shape
    grid, q8, dqt, n_by, n_bx = _quantize_residual(residual, quality)
    out = bytearray(dqt) + _diff_dct_headers(h, w, b"\xff\xc5")
    sos = struct.pack(">B", 1) + struct.pack(">BB", 1, 0x00)
    sos += bytes([0, 63, 0])
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos
    writer = _BitWriter()
    dc_t = _build_huffman_encode(*_DC_LUMA)
    ac_t = _build_huffman_encode(*_AC_LUMA)
    for gy in range(n_by):
        for gx in range(n_bx):
            zz = grid[gy, gx][_ZIGZAG]
            _encode_block(writer, zz, 0, dc_t, ac_t)  # prev_dc = 0
    writer.flush()
    out += writer.out
    return bytes(out), _decoded_residual(grid, q8, n_by, n_bx, h, w)


def _encode_diff_prog_frame(
    residual: np.ndarray, quality: int
) -> tuple[bytes, np.ndarray]:
    """One differential PROGRESSIVE-DCT frame (SOF6) over a signed
    grayscale residual: a spectral-selection scan script (DC scan with
    zero prediction per Annex J, then AC bands 1-5 and 6-63), sharing
    :func:`_encode_diff_dct_frame`'s quantized residual.
    Returns ``(frame_bytes, decoded_residual)``."""
    h, w = residual.shape
    grid, q8, dqt, n_by, n_bx = _quantize_residual(residual, quality)
    out = bytearray(dqt) + _diff_dct_headers(h, w, b"\xff\xc6")
    dc_t = _build_huffman_encode(*_DC_LUMA)
    ac_t = _build_huffman_encode(*_AC_LUMA)

    def sos(ss, se):
        hdr = struct.pack(">B", 1) + struct.pack(">BB", 1, 0x00)
        hdr += bytes([ss, se, 0])  # Ah=Al=0: spectral selection only
        return b"\xff\xda" + struct.pack(">H", 2 + len(hdr)) + hdr

    # DC scan (zero prediction in differential frames)
    out += sos(0, 0)
    writer = _BitWriter()
    for gy in range(n_by):
        for gx in range(n_bx):
            smag, code = _magnitude(int(grid[gy, gx, 0]))
            hc, hl = dc_t[smag]
            writer.write(hc, hl)
            if smag:
                writer.write(code, smag)
    writer.flush()
    out += writer.out

    # AC band scans (per-block EOB — a legal degenerate EOB run)
    for ss, se in ((1, 5), (6, 63)):
        out += sos(ss, se)
        writer = _BitWriter()
        for gy in range(n_by):
            for gx in range(n_bx):
                zz = grid[gy, gx][_ZIGZAG]
                band = zz[ss:se + 1]
                nz = np.nonzero(band)[0]
                run = 0
                last = nz[-1] if len(nz) else -1
                for i in range(last + 1):
                    v = int(band[i])
                    if v == 0:
                        run += 1
                        continue
                    while run > 15:
                        hc, hl = ac_t[0xF0]
                        writer.write(hc, hl)
                        run -= 16
                    smag, code = _magnitude(v)
                    hc, hl = ac_t[(run << 4) | smag]
                    writer.write(hc, hl)
                    writer.write(code, smag)
                    run = 0
                if last < se - ss:
                    hc, hl = ac_t[0x00]  # EOB (run length 1)
                    writer.write(hc, hl)
        writer.flush()
        out += writer.out
    return bytes(out), _decoded_residual(grid, q8, n_by, n_bx, h, w)


def encode_jpeg_hierarchical(
    arr: np.ndarray,
    levels: int = 2,
    base: str = "lossless",
    quality: int = 85,
    predictor: int = 4,
    precision: int | None = None,
    dct_refine: bool = False,
    dct_mode: str = "seq",
) -> bytes:
    """Sample raster → hierarchical JPEG (T.81 Annex J) bytes: DHP, a
    non-differential BASE frame at the coarsest pyramid level, then per
    finer level an EXP marker (2× reference expansion, J.1.1.2 filter)
    followed by a differential LOSSLESS refinement frame (SOF7) carrying
    the mod-2^16 residual against the expanded reference — the classic
    "lossy base + lossless residual" pyramid. The decode is therefore
    EXACT regardless of the base mode: the final refinement corrects
    every sample.

    ``base``: ``"lossless"`` (SOF3) — gray or RGB, any supported
    precision; ``"baseline"`` (SOF0, ``quality``) — grayscale 8-bit only
    (a color DCT base would route through the YCbCr transform while
    hierarchical references are per-component). ``levels >= 1``; each
    level halves both dimensions by even-sample decimation (the
    decoder's EXP crop absorbs odd sizes). ``dct_refine=True``
    (grayscale 8-bit, ``levels >= 3``) codes the INTERMEDIATE refinement
    levels as differential DCT frames (SOF5, or SOF6 with
    ``dct_mode="prog"``) at ``quality`` — the Annex J lossy-refinement
    rung — while the finest level stays differential lossless, so the
    round trip remains EXACT. Fixture generator for the decoder, like
    the rest of the encoder family here."""
    if levels < 1:
        raise ValueError("jpeg: hierarchical levels must be >= 1")
    if base not in ("lossless", "baseline"):
        raise ValueError(f"jpeg: unsupported hierarchical base {base!r}")
    arr = np.asarray(arr)
    if precision is None:
        precision = 8 if arr.dtype == np.uint8 else 16
    if arr.ndim == 2:
        planes = [arr]
    elif arr.ndim == 3 and arr.shape[2] == 3:
        planes = [arr[..., c] for c in range(3)]
    else:
        raise ValueError(f"jpeg: unsupported raster shape {arr.shape}")
    h, w = planes[0].shape
    if h == 0 or w == 0:
        raise ValueError("jpeg: empty raster")
    n_comp = len(planes)
    if base == "baseline" and (n_comp != 1 or precision != 8):
        raise ValueError(
            "jpeg: hierarchical baseline base is grayscale 8-bit only"
        )
    if dct_refine and (n_comp != 1 or precision != 8):
        raise ValueError(
            "jpeg: hierarchical DCT refinements are grayscale 8-bit only"
        )
    if dct_mode not in ("seq", "prog"):
        raise ValueError(f"jpeg: unknown dct_mode {dct_mode!r}")
    if min(h, w) >> (levels - 1) < 1:
        raise ValueError(
            f"jpeg: {levels} levels exhaust the {w}x{h} raster"
        )
    # pyramid by even-sample decimation; level 0 = full resolution
    pyramid = [[p.astype(np.int64) for p in planes]]
    for _ in range(levels - 1):
        pyramid.append([p[::2, ::2] for p in pyramid[-1]])

    out = bytearray(b"\xff\xd8")
    dhp = struct.pack(">BHHB", precision, h, w, n_comp)
    for c in range(n_comp):
        dhp += struct.pack(">BBB", c + 1, 0x11, 0)
    out += b"\xff\xde" + struct.pack(">H", 2 + len(dhp)) + dhp

    coarse = pyramid[-1]
    stack = (
        np.stack(coarse, axis=-1) if n_comp == 3 else coarse[0]
    )
    dtype = np.uint8 if precision <= 8 else np.uint16
    img = stack.astype(dtype)
    if base == "lossless":
        blob = encode_jpeg_lossless(
            img, predictor=predictor, precision=precision
        )
        refs = coarse
    else:  # baseline: the decoder's reference is the LOSSY decode
        blob = encode_jpeg(img, quality=quality)
        refs = [decode_jpeg(blob).astype(np.int64)]
    out += blob[2:-2]  # strip the base frame's SOI/EOI

    for level in range(levels - 2, -1, -1):
        target = pyramid[level]
        th, tw = target[0].shape
        out += b"\xff\xdf" + struct.pack(">H", 3) + bytes([0x11])
        if dct_refine and level > 0:
            # intermediate rung: LOSSY differential DCT; the reference
            # tracks what the decoder reconstructs (decoded residual,
            # mod-2^16 combine), so the next level's residual corrects
            # the DCT loss
            exp = _exp_expand(refs[0], 1, 1)[:th, :tw]
            enc_fn = (
                _encode_diff_prog_frame
                if dct_mode == "prog"
                else _encode_diff_dct_frame
            )
            frame_bytes, dec_resid = enc_fn(target[0] - exp, quality)
            out += frame_bytes
            refs = [(exp + dec_resid) & 0xFFFF]
            continue
        residuals = []
        new_refs = []
        for c in range(n_comp):
            exp = _exp_expand(refs[c], 1, 1)[:th, :tw]
            residuals.append(((target[c] - exp) & 0xFFFF).tolist())
            new_refs.append(target[c])
        refs = new_refs
        out += _encode_diff_lossless_frame(residuals, precision, th, tw)
    out += b"\xff\xd9"
    return bytes(out)
