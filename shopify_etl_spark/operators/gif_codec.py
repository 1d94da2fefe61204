"""Minimal self-contained GIF codec (stdlib struct + numpy).

GIF is the remaining legacy web image/animation format a crawl hits at
volume after PNG and JPEG, and — unlike JPEG — it is LOSSLESS for
palettized content, so the test contract is PNG's bit-exact round-trip,
not a PSNR bound. Scope (GIF87a/89a, the honest common subset):

* **decode**: global/local color tables, the real variable-width LZW
  decompressor (LSB-first bit packing, clear/EOI codes, 12-bit cap with
  deferred-clear tolerance), interlaced images (the 8/8-4/8-2/4-1/2
  four-pass row order), multiple frames with canvas composition —
  draw-over (disposal 0/1), restore-to-background (disposal 2, filled
  from the GLOBAL color table per spec), restore-to-previous
  (disposal 3), transparency leaving the canvas unchanged;
* **encode** (the fixture generator for the decode tests):
  palette + index rasters → single- or multi-frame GIF89a with a real
  LZW compressor (code-width growth, table-full clear), optional
  interlacing, optional per-frame offsets for partial updates;
* anything outside (sort flags are ignored per spec; plain-text/
  application extensions are skipped as the spec allows).

Decoded frames come back as full-canvas RGB uint8 arrays — the shape
the multimodal layer's image path and the ``_demux_frames`` animation
path both consume. Untrusted-bytes contract: any malformed stream
raises ValueError (or the NotImplementedError seam), never a raw
IndexError/struct.error (pinned by the same mutation fuzz as the other
codecs).
"""

from __future__ import annotations

import struct

import numpy as np

_MAX_CODE_WIDTH = 12
#: Interlace passes: (row offset, row step) per GIF89a appendix E.
_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _interlace_order(h: int) -> np.ndarray:
    """Output-row index for each sequential data row of an interlaced
    image (data row i lands on raster row order[i])."""
    rows = []
    for off, step in _INTERLACE_PASSES:
        rows.extend(range(off, h, step))
    return np.asarray(rows, dtype=np.int64)


# ---------------------------------------------------------------------------
# LZW (GIF variant: LSB-first bit packing, variable code width 3..12)
# ---------------------------------------------------------------------------


def _lzw_decode(data: bytes, min_code_size: int, n_pixels: int) -> np.ndarray:
    """GIF LZW decompression → uint8 index array of exactly n_pixels.

    Tolerates the "deferred clear" convention (encoder keeps emitting
    12-bit codes with a full table); rejects out-of-range codes and
    streams that end before ``n_pixels`` indices arrive.
    """
    if not 2 <= min_code_size <= 8:
        raise ValueError(f"gif: invalid LZW minimum code size {min_code_size}")
    clear = 1 << min_code_size
    eoi = clear + 1
    out = np.empty(n_pixels, dtype=np.uint8)
    n_out = 0

    # dictionary as prefix links: entry i>=eoi+1 is (prefix code, suffix
    # byte); roots are single bytes. Materializing each emitted string
    # walks the links into a reversed buffer — O(total output), no
    # per-entry bytes objects.
    prefix = np.zeros(1 << _MAX_CODE_WIDTH, dtype=np.int32)
    suffix = np.zeros(1 << _MAX_CODE_WIDTH, dtype=np.uint8)
    first_byte = np.zeros(1 << _MAX_CODE_WIDTH, dtype=np.uint8)
    for i in range(clear):
        suffix[i] = i
        first_byte[i] = i

    next_code = eoi + 1
    width = min_code_size + 1
    prev = -1

    buf = 0
    nbits = 0
    pos = 0
    scratch = np.empty(n_pixels, dtype=np.uint8)
    while True:
        while nbits < width:
            if pos >= len(data):
                raise ValueError("gif: LZW stream truncated")
            buf |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = buf & ((1 << width) - 1)
        buf >>= width
        nbits -= width

        if code == clear:
            next_code = eoi + 1
            width = min_code_size + 1
            prev = -1
            continue
        if code == eoi:
            break
        if prev == -1:
            if code >= clear:
                raise ValueError("gif: first LZW code is not a literal")
            out[n_out] = code
            n_out += 1
            if n_out >= n_pixels:
                break
            prev = code
            continue
        if code > next_code or code == eoi or code == clear:
            raise ValueError(f"gif: LZW code {code} out of range")
        if code == next_code:  # KwKwK case: prev string + its first byte
            cur, extra = prev, first_byte[prev]
        else:
            cur, extra = code, None
        # walk the prefix chain into scratch (reversed)
        n = 0
        c = cur
        while c >= clear + 2:
            if n >= n_pixels:
                raise ValueError("gif: LZW chain longer than the image")
            scratch[n] = suffix[c]
            n += 1
            c = prefix[c]
        if c == clear or c == eoi:
            raise ValueError("gif: corrupt LZW prefix chain")
        scratch[n] = suffix[c]
        n += 1
        emit = scratch[:n][::-1]
        if extra is not None:
            if n_out + n + 1 > n_pixels:
                emit = emit[: max(0, n_pixels - n_out - 1)]
            take = len(emit)
            out[n_out:n_out + take] = emit
            n_out += take
            if n_out < n_pixels:
                out[n_out] = extra
                n_out += 1
        else:
            take = min(n, n_pixels - n_out)
            out[n_out:n_out + take] = emit[:take]
            n_out += take
        # add (prev + first byte of current string) to the table
        if next_code < (1 << _MAX_CODE_WIDTH):
            prefix[next_code] = prev
            suffix[next_code] = first_byte[cur] if extra is None else extra
            first_byte[next_code] = first_byte[prev]
            next_code += 1
            if next_code == (1 << width) and width < _MAX_CODE_WIDTH:
                width += 1
        # (deferred clear: when the table is full and the encoder never
        # emits CLEAR, the guard above simply stops adding — decoding
        # continues at 12 bits with the frozen table, as the spec allows)
        prev = code
        if n_out >= n_pixels:
            break
    if n_out < n_pixels:
        raise ValueError(
            f"gif: LZW data ended at {n_out} of {n_pixels} pixels"
        )
    return out


def _lzw_encode(indices: np.ndarray, min_code_size: int) -> bytes:
    """GIF LZW compression (dict-reset on table full — the conservative
    strategy every decoder accepts)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    buf = 0
    nbits = 0
    width = min_code_size + 1

    def put(code: int) -> None:
        nonlocal buf, nbits
        buf |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(buf & 0xFF)
            buf >>= 8
            nbits -= 8

    table: dict[tuple[int, int], int] = {}
    next_code = eoi + 1
    put(clear)
    prev = -1
    for v in indices.tolist():
        if prev == -1:
            prev = v
            continue
        key = (prev, v)
        if key in table:
            prev = table[key]
            continue
        put(prev)
        if next_code < (1 << _MAX_CODE_WIDTH):
            table[key] = next_code
            if next_code == (1 << width) and width < _MAX_CODE_WIDTH:
                width += 1
            next_code += 1
        else:
            put(clear)
            table.clear()
            next_code = eoi + 1
            width = min_code_size + 1
        prev = v
    if prev != -1:
        put(prev)
    put(eoi)
    if nbits:
        out.append(buf & 0xFF)
    return bytes(out)


def _sub_blocks(data: bytes) -> bytes:
    """Wrap raw bytes into GIF's 255-byte length-prefixed sub-blocks."""
    out = bytearray()
    for i in range(0, len(data), 255):
        chunk = data[i:i + 255]
        out.append(len(chunk))
        out += chunk
    out.append(0)
    return bytes(out)


# ---------------------------------------------------------------------------
# Encode
# ---------------------------------------------------------------------------


def encode_gif(
    frames,
    palette: np.ndarray,
    interlace: bool = False,
    offsets=None,
    screen=None,
    bg_index: int = 0,
    delay_cs: int = 4,
    disposals=None,
) -> bytes:
    """Index rasters + one global palette → GIF89a bytes.

    ``frames``: list of (h, w) uint8 index arrays (values < len(palette));
    ``palette``: (n, 3) uint8, n ≤ 256; ``offsets``: optional (top, left)
    per frame for partial updates (default (0, 0)); ``screen``: (h, w) of
    the logical screen (default: frame 0's shape). Multi-frame output
    carries a Graphic Control Extension per frame — draw-over disposal
    by default, or per-frame methods via ``disposals`` (list of 0-3;
    providing it forces a GCE even on single-frame output).
    """
    palette = np.ascontiguousarray(palette, dtype=np.uint8)
    if palette.ndim != 2 or palette.shape[1] != 3 or not 1 <= len(palette) <= 256:
        raise ValueError("gif: palette must be (n<=256, 3) uint8")
    frames = [np.ascontiguousarray(f, dtype=np.uint8) for f in frames]
    if not frames:
        raise ValueError("gif: need at least one frame")
    for f in frames:
        if f.ndim != 2 or f.size == 0:
            raise ValueError("gif: frames must be non-empty (h, w) index arrays")
        if int(f.max()) >= len(palette):
            raise ValueError("gif: index outside the palette")
    offsets = offsets or [(0, 0)] * len(frames)
    if disposals is not None:
        if len(disposals) != len(frames):
            raise ValueError("gif: disposals must match frames 1:1")
        if any(not 0 <= d <= 3 for d in disposals):
            raise ValueError("gif: disposal methods must be 0..3")
    sh, sw = screen or frames[0].shape
    # color table size: next power of two >= len(palette), min 2
    ct_bits = max(1, int(np.ceil(np.log2(max(len(palette), 2)))))
    ct = np.zeros((1 << ct_bits, 3), dtype=np.uint8)
    ct[: len(palette)] = palette

    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", sw, sh)
    out += bytes([0x80 | ((ct_bits - 1) << 4) | (ct_bits - 1), bg_index, 0])
    out += ct.tobytes()
    for k, (f, (top, left)) in enumerate(zip(frames, offsets)):
        h, w = f.shape
        if top + h > sh or left + w > sw:
            raise ValueError("gif: frame exceeds the logical screen")
        if len(frames) > 1 or disposals is not None:
            disp = disposals[k] if disposals is not None else 1
            # GCE: requested disposal, no transparency
            out += b"\x21\xf9\x04" + bytes([disp << 2]) + struct.pack(
                "<H", delay_cs
            ) + b"\x00\x00"
        out += b"\x2c" + struct.pack("<HHHH", left, top, w, h)
        out += bytes([0x40 if interlace else 0x00])  # no LCT
        idx = f
        if interlace:
            order = _interlace_order(h)
            idx = f[order]
        mcs = max(2, ct_bits)
        out.append(mcs)
        out += _sub_blocks(_lzw_encode(idx.reshape(-1), mcs))
    out += b"\x3b"
    return bytes(out)


# ---------------------------------------------------------------------------
# Decode
# ---------------------------------------------------------------------------


def _read_color_table(data: bytes, pos: int, bits: int):
    n = 3 * (1 << (bits + 1))
    if pos + n > len(data):
        raise ValueError("gif: color table truncated")
    ct = np.frombuffer(data[pos:pos + n], dtype=np.uint8).reshape(-1, 3)
    return ct, pos + n


def _collect_sub_blocks(data: bytes, pos: int):
    chunks = []
    while True:
        if pos >= len(data):
            raise ValueError("gif: sub-blocks truncated")
        n = data[pos]
        pos += 1
        if n == 0:
            return b"".join(chunks), pos
        if pos + n > len(data):
            raise ValueError("gif: sub-block overruns the stream")
        chunks.append(data[pos:pos + n])
        pos += n


def decode_gif(data: bytes, max_pixels: int = 100_000_000) -> list[np.ndarray]:
    """GIF bytes → list of full-canvas RGB uint8 frames (composited).

    Disposal 0/1 draw over the previous canvas, disposal 2 restores the
    GLOBAL-table background color after the frame is emitted (the spec's
    background index refers to the global color table, never a local
    one; zeros when there is no global table), disposal 3 restores the
    pixels the frame covered to their pre-frame values, transparent
    pixels leave the canvas unchanged.

    ``max_pixels`` bounds the TOTAL decoded output (sum over frames),
    not just one canvas — a few-KB stream declaring a huge screen plus
    many 1x1 frames would otherwise expand to an unbounded list of
    full-canvas copies (executor OOM on the untrusted-bytes paths).
    """
    if len(data) < 13 or data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("gif: missing GIF87a/GIF89a signature")
    sw, sh = struct.unpack("<HH", data[6:10])
    if sw == 0 or sh == 0 or sw * sh > max_pixels:
        raise ValueError(f"gif: screen {sw}x{sh} outside sane bounds")
    packed, bg_index = data[10], data[11]
    pos = 13
    gct = None
    if packed & 0x80:
        gct, pos = _read_color_table(data, pos, packed & 0x07)

    canvas = np.zeros((sh, sw, 3), dtype=np.uint8)
    if gct is not None and bg_index < len(gct):
        canvas[:] = gct[bg_index]
    frames: list[np.ndarray] = []
    transparent = None
    disposal = 0
    while True:
        if pos >= len(data):
            raise ValueError("gif: stream ended without trailer")
        block = data[pos]
        pos += 1
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension
            if pos >= len(data):
                raise ValueError("gif: extension truncated")
            label = data[pos]
            pos += 1
            payload, pos = _collect_sub_blocks(data, pos)
            if label == 0xF9:  # Graphic Control Extension
                if len(payload) < 4:
                    raise ValueError("gif: short graphic control extension")
                flags = payload[0]
                disposal = (flags >> 2) & 0x07
                transparent = payload[3] if flags & 0x01 else None
                if disposal > 3:
                    raise ValueError(
                        f"gif: reserved disposal method {disposal}"
                    )
            continue  # comment/plain-text/application: skipped
        if block != 0x2C:
            raise ValueError(f"gif: unexpected block 0x{block:02x}")
        if pos + 9 > len(data):
            raise ValueError("gif: image descriptor truncated")
        left, top, w, h = struct.unpack("<HHHH", data[pos:pos + 8])
        ipacked = data[pos + 8]
        pos += 9
        if w == 0 or h == 0 or left + w > sw or top + h > sh:
            raise ValueError("gif: image rect outside the logical screen")
        ct = gct
        if ipacked & 0x80:
            ct, pos = _read_color_table(data, pos, ipacked & 0x07)
        if ct is None:
            raise ValueError("gif: image has no color table")
        if pos >= len(data):
            raise ValueError("gif: missing LZW minimum code size")
        mcs = data[pos]
        pos += 1
        lzw, pos = _collect_sub_blocks(data, pos)
        idx = _lzw_decode(lzw, mcs, w * h)
        if int(idx.max()) >= len(ct):
            raise ValueError("gif: pixel index outside the color table")
        rect = idx.reshape(h, w)
        if ipacked & 0x40:  # interlaced: data rows land per the pass order
            order = _interlace_order(h)
            de = np.empty_like(rect)
            de[order] = rect
            rect = de
        if (len(frames) + 1) * sw * sh > max_pixels:
            raise ValueError(
                f"gif: decoded output exceeds {max_pixels} pixels "
                f"({len(frames) + 1} frames of {sw}x{sh})"
            )
        rgb = ct[rect]
        region = canvas[top:top + h, left:left + w]
        saved = region.copy() if disposal == 3 else None
        if transparent is not None:
            mask = rect != transparent
            region[mask] = rgb[mask]
        else:
            region[:] = rgb
        frames.append(canvas.copy())
        if disposal == 2:
            # Restore to background: the background index is defined
            # against the GLOBAL color table (a local table's entry at
            # the same index is a different color); no GCT → zeros.
            if gct is not None and bg_index < len(gct):
                bg = gct[bg_index]
            else:
                bg = np.zeros(3, np.uint8)
            canvas[top:top + h, left:left + w] = bg
        elif disposal == 3:  # restore to previous: undo this frame's rect
            canvas[top:top + h, left:left + w] = saved
        transparent = None
        disposal = 0
    if not frames:
        raise ValueError("gif: no image data found")
    return frames
