"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride through the engine as ``BinaryType`` columns with
a metadata struct (modality, format, dims, byte size). Decode / feature
extraction runs as Arrow-batched ``mapInPandas`` — the only place Python
touches the data, and it sees columnar batches, not rows.

Decode paths, in preference order:

* **Pillow**, when importable — any format it knows.
* **Built-in PNG codec** (``operators/png_codec.py``, stdlib zlib +
  numpy) — real decode of real PNG bytes with zero external deps; this
  is the live path in this environment.
* **Built-in JPEG codec** (``operators/jpeg_codec.py``, stdlib
  struct + numpy) — real decode of Huffman-coded JPEG: baseline /
  extended / progressive, 8- or 12-bit (1/3 components, sampling
  factors ≤ 4, restart intervals), lossless (SOF3, 2-16 bit) and
  hierarchical; arithmetic-coded JPEG raises NotImplementedError.
* **Built-in GIF codec** (``operators/gif_codec.py``, stdlib struct +
  numpy) — real LZW decode of GIF87a/89a stills and animations
  (interlace, local palettes, transparency, frame composition with
  all four disposal methods).
* **Built-in Y4M demuxer** (``operators/y4m_codec.py``) — real
  frame extraction from uncompressed YUV4MPEG2 video payloads.
* **Built-in WAV codec** (``operators/wav_codec.py``) — real PCM
  sample decode (8/16/24/32-bit int + float32/64) for audio payloads;
  compressed WAV encodings (ADPCM, G.711) raise NotImplementedError.
* ``fake=True`` — deterministic byte-level features over the raw
  payload (no decode), useful for plumbing tests and non-image bytes.
* Everything else (compressed containers/codecs, exotic formats)
  raises NotImplementedError at the exact seam where ffmpeg/torchaudio
  would plug in.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

#: Canonical multimodal asset schema: payload + typed metadata struct.
ASSET_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("payload", BinaryType(), True),
        StructField(
            "meta",
            StructType(
                [
                    StructField("modality", StringType(), True),  # image|audio|video
                    StructField("format", StringType(), True),  # png|jpeg|wav|mp4…
                    StructField("width", LongType(), True),
                    StructField("height", LongType(), True),
                    StructField("n_bytes", LongType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("n_bytes", LongType(), True),
        StructField("byte_sum", LongType(), True),
        StructField("byte_mean", LongType(), True),
        StructField("modality", StringType(), True),
    ]
)


def assets_from_documents(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Build a multimodal asset table from documents (text → fake payload).

    Stands in for a real binary source (S3 image shards, tar archives…):
    payload = UTF-8 bytes of the text, metadata filled from the payload.
    Everything JVM-side (encode/length), so the 'ingest' scales like any
    column projection.
    """
    payload = F.encode(F.col(text_col), "UTF-8")
    return docs.select(
        F.col(id_col).alias("asset_id"),
        payload.alias("payload"),
        F.struct(
            F.lit("image").alias("modality"),
            F.lit("fake-raw").alias("format"),
            F.lit(None).cast("long").alias("width"),
            F.lit(None).cast("long").alias("height"),
            F.length(payload).cast("long").alias("n_bytes"),
        ).alias("meta"),
    )


def _decode_raster(payload: bytes, fmt: str):
    """payload → uint8 numpy raster. Pillow when importable (any format),
    else the built-in codecs for ``fmt='png'`` (lossless),
    ``fmt in ('jpeg', 'jpg')`` (Huffman-coded: sequential, progressive,
    lossless and hierarchical) and
    ``fmt='gif'`` (first frame); NotImplementedError for formats, or JPEG
    coding modes, that need an absent codec.

    Import and decode are deliberately separate: only ImportError may
    route to the fallback chain silently. A Pillow DECODE failure (bad or
    unsupported bytes in a Pillow-equipped environment) still falls back
    to the built-in codecs for png/jpeg, and raises NotImplementedError
    for anything else — so behavior is identical with and without Pillow
    installed instead of leaking UnidentifiedImageError.
    """
    import numpy as np

    try:
        from PIL import Image  # noqa: PLC0415
    except ImportError:
        Image = None
    if Image is not None:
        import io

        try:
            return np.asarray(Image.open(io.BytesIO(bytes(payload))))
        except Exception:
            pass  # non-image / Pillow-unsupported bytes: same path as no-Pillow
    if fmt == "png":
        from .png_codec import decode_png

        return decode_png(bytes(payload))
    if fmt in ("jpeg", "jpg"):
        from .jpeg_codec import decode_jpeg

        return decode_jpeg(bytes(payload))
    if fmt == "gif":
        from .gif_codec import decode_gif

        return decode_gif(bytes(payload))[0]  # first frame (still image)
    raise NotImplementedError(
        f"no codec for format={fmt!r} here (built-in codecs cover png, "
        "jpeg and gif; install Pillow for the rest)"
    )


def decode_features(assets: DataFrame, fake: bool = True) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads (mapInPandas).

    ``fake=False`` decodes each payload to a pixel raster (Pillow or the
    built-in PNG codec via :func:`_decode_raster`) and emits pixel-level
    stats: n_bytes/byte_sum/byte_mean computed over DECODED PIXELS.
    ``fake=True`` computes the same stats over the raw payload bytes with
    no decode (plumbing tests, opaque formats). Batch shape: the UDF
    receives whole Arrow record batches; per-batch vectorized numpy work.

    NULL payloads are emitted with zeroed stats in BOTH modes — output
    cardinality equals input cardinality regardless of ``fake``, so
    toggling the flag never changes downstream join/count semantics.
    """

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not fake:
                ids, nb, bs, mods = [], [], [], []
                for aid, payload, meta in zip(
                    pdf["asset_id"], pdf["payload"], pdf["meta"]
                ):
                    if payload is None:
                        ids.append(aid)
                        nb.append(0)
                        bs.append(0)
                        mods.append(meta["modality"] if meta is not None else None)
                        continue
                    raster = _decode_raster(
                        payload, meta["format"] if meta is not None else None
                    )
                    ids.append(aid)
                    nb.append(int(raster.size))
                    bs.append(int(raster.sum()))
                    mods.append(meta["modality"] if meta is not None else None)
                yield pd.DataFrame(
                    {
                        "asset_id": pd.Series(ids, dtype="int64"),
                        "n_bytes": pd.Series(nb, dtype="int64"),
                        "byte_sum": pd.Series(bs, dtype="int64"),
                        "byte_mean": pd.Series(
                            [s // max(n, 1) for s, n in zip(bs, nb)], dtype="int64"
                        ),
                        "modality": pd.Series(mods, dtype=object),
                    }
                )
                continue
            payloads = pdf["payload"]
            n_bytes = payloads.map(lambda b: len(b) if b is not None else 0)
            byte_sum = payloads.map(lambda b: int(sum(b)) if b is not None else 0)
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "n_bytes": n_bytes.astype("int64"),
                    "byte_sum": byte_sum.astype("int64"),
                    "byte_mean": (byte_sum // n_bytes.clip(lower=1)).astype("int64"),
                    "modality": pdf["meta"].map(
                        lambda m: m["modality"] if m is not None else None
                    ),
                }
            )

    return assets.mapInPandas(extract, FEATURE_SCHEMA)


def resize_images(
    assets: DataFrame,
    target_w: int = 32,
    target_h: int = 32,
    fake: bool = True,
) -> DataFrame:
    """Batch image resize to a fixed raster (the normalization step before
    any vision-model embedding).

    ``fake=False`` decodes the payload (Pillow or the built-in PNG codec)
    and resizes the real raster by nearest-neighbor index sampling,
    emitting a raw interleaved uint8 payload of exactly
    ``target_w × target_h × channels`` bytes (format ``'raw'``).
    ``fake=True`` treats the payload as a square 1-byte/pixel grayscale
    raster (side = ceil(sqrt(n_bytes)), zero-padded) — same resize math,
    no decode. Either way downstream per-pixel operators can assume a
    fixed shape.
    """
    import math

    import numpy as np

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, payloads, metas = [], [], []
            for aid, payload, meta in zip(
                pdf["asset_id"], pdf["payload"], pdf["meta"]
            ):
                if payload is None:
                    continue
                if fake:
                    side = max(1, math.isqrt(max(len(payload) - 1, 0)) + 1)
                    raster = np.zeros(side * side, dtype=np.uint8)
                    raster[: len(payload)] = np.frombuffer(payload, dtype=np.uint8)
                    raster = raster.reshape(side, side)
                    out_fmt = "fake-raw"
                else:
                    raster = _decode_raster(
                        payload, meta["format"] if meta is not None else None
                    )
                    out_fmt = "raw"
                h, w = raster.shape[:2]
                ys = (np.arange(target_h) * h) // target_h
                xs = (np.arange(target_w) * w) // target_w
                out = raster[np.ix_(ys, xs)]
                ids.append(aid)
                payloads.append(np.ascontiguousarray(out).tobytes())
                metas.append(
                    {
                        "modality": "image",
                        "format": out_fmt,
                        "width": target_w,
                        "height": target_h,
                        "n_bytes": len(payloads[-1]),
                    }
                )
            yield pd.DataFrame(
                {
                    "asset_id": pd.Series(ids, dtype="int64"),
                    "payload": pd.Series(payloads, dtype=object),
                    "meta": pd.Series(metas, dtype=object),
                }
            )

    return assets.mapInPandas(resize, ASSET_SCHEMA)


FRAME_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("frame_idx", LongType(), False),
        StructField("frame_bytes", BinaryType(), True),
        StructField("n_frame_bytes", LongType(), True),
    ]
)


#: Compressed container formats routed through pyav when it is
#: importable (a real multimodal crawl is overwhelmingly these).
_AV_FORMATS = ("mp4", "webm", "mkv", "mov", "avi")


def _demux_frames(payload: bytes, fmt: str):
    """payload → iterator of (frame_idx, uint8 luma raster) — ONE output
    contract for every container format, so downstream sampling code is
    format-blind:

    * ``y4m``: the built-in uncompressed-container codec (always works,
      no dependencies — the testable twin of the compressed path).
    * ``gif``: the built-in GIF codec (``gif_codec.py`` — real LZW,
      interlace, frame composition); animation frames convert to
      ITU-R 601 luma so the per-frame bytes match the y4m contract.
    * mp4/webm/mkv/mov/avi: pyav WHEN IMPORTABLE (``import av``), frames
      converted to a gray plane so the per-frame bytes match the y4m
      path's luma contract exactly. Only ImportError routes to the
      NotImplementedError seam; a pyav DECODE failure on untrusted
      bytes re-raises as the clean ValueError the executor-safety
      contract promises (same hardening as the wav/y4m decoders).
    * anything else: NotImplementedError at the documented seam.
    """
    if fmt == "y4m":
        from .y4m_codec import decode_y4m

        yield from enumerate(decode_y4m(bytes(payload)))
        return
    if fmt == "gif":  # animations: built-in codec, ITU-R 601 luma frames
        import numpy as np

        from .gif_codec import decode_gif

        for fi, rgb in enumerate(decode_gif(bytes(payload))):
            yield fi, np.clip(
                np.round(
                    0.299 * rgb[..., 0]
                    + 0.587 * rgb[..., 1]
                    + 0.114 * rgb[..., 2]
                ),
                0,
                255,
            ).astype(np.uint8)
        return
    if fmt in _AV_FORMATS:
        try:
            import av  # noqa: PLC0415 - optional dependency
        except ImportError:
            raise NotImplementedError(
                f"no demuxer for format={fmt!r} here (built-in codecs "
                "cover y4m and gif; install pyav for compressed "
                "containers)"
            ) from None
        import io

        try:
            with av.open(io.BytesIO(bytes(payload))) as container:
                fi = 0
                for frame in container.decode(video=0):
                    yield fi, frame.to_ndarray(format="gray")
                    fi += 1
        except NotImplementedError:
            raise
        except Exception as e:  # noqa: BLE001 - av.AVError hierarchy varies
            raise ValueError(f"{fmt} demux failed: {e}") from e
        return
    raise NotImplementedError(
        f"no demuxer for format={fmt!r} here (built-in codecs cover y4m "
        "and gif; install pyav for compressed containers)"
    )


def sample_frames(
    assets: DataFrame,
    every_k: int = 4,
    frame_size: int = 64,
    fake: bool = True,
) -> DataFrame:
    """Frame sampling for video-like payloads: one output row per every
    k-th frame (the standard decimation before per-frame embedding).

    ``mapInPandas`` is the right vehicle because the cardinality CHANGES
    (1 asset → n frames) — a pandas UDF can't grow rows, a generator of
    DataFrames can. ``fake=True`` frames the payload as fixed-size byte
    windows (deterministic stand-in for container parsing); ``fake=False``
    REALLY demuxes through :func:`_demux_frames` — the built-in
    uncompressed-container codec for ``format='y4m'`` (luma plane per
    frame), pyav for mp4/webm/mkv/mov/avi when importable, and the
    NotImplementedError seam otherwise; every format yields the same
    (frame_idx, gray raster) contract so the sampling below is
    format-blind. Batch boundaries don't leak into results: framing is
    per-asset, and Spark concatenates whatever DataFrames the generator
    yields.
    """

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames = [], [], []
            if not fake:
                for aid, payload, meta in zip(
                    pdf["asset_id"], pdf["payload"], pdf["meta"]
                ):
                    if payload is None:
                        continue
                    fmt = meta["format"] if meta is not None else None
                    for fi, luma in _demux_frames(payload, fmt):
                        if fi % every_k:
                            continue
                        ids.append(aid)
                        idxs.append(fi)
                        frames.append(luma.tobytes())
                yield pd.DataFrame(
                    {
                        "asset_id": pd.Series(ids, dtype="int64"),
                        "frame_idx": pd.Series(idxs, dtype="int64"),
                        "frame_bytes": pd.Series(frames, dtype=object),
                        "n_frame_bytes": pd.Series(
                            [len(f) for f in frames], dtype="int64"
                        ),
                    }
                )
                continue
            for aid, payload in zip(pdf["asset_id"], pdf["payload"]):
                if payload is None:
                    continue
                n_frames = (len(payload) + frame_size - 1) // frame_size
                for fi in range(0, n_frames, every_k):
                    ids.append(aid)
                    idxs.append(fi)
                    frames.append(
                        bytes(payload[fi * frame_size : (fi + 1) * frame_size])
                    )
            yield pd.DataFrame(
                {
                    "asset_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int64"),
                    "frame_bytes": pd.Series(frames, dtype=object),
                    "n_frame_bytes": pd.Series(
                        [len(f) for f in frames], dtype="int64"
                    ),
                }
            )

    return assets.mapInPandas(sample, FRAME_SCHEMA)


def synth_wav_assets(docs: DataFrame, id_col: str = "doc_id", rate: int = 16000) -> DataFrame:
    """Deterministic WAV asset synthesis from a key column (stands in for
    a real audio source the way ``assets_from_documents`` stands in for an
    image shard store). Per key ``d``: ``n = 16 + d % 17`` sample frames,
    ``ch = 1 + d % 2`` channels, int16 sample ``i`` =
    ``((d*31 + i*7919) % 65536) - 32768`` — a full-range pseudo-signal a
    SQL oracle can regenerate exactly (``plans/catalog_ext2.py::
    audio_demux_stats``). Encoding runs distributed through the real RIFF
    writer (``wav_codec.encode_wav``), so the downstream decode exercises
    a genuine container round-trip, not canned bytes.
    """

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from .wav_codec import encode_wav

        for pdf in batches:
            rows = []
            for d in pdf[id_col]:
                d = int(d)
                n = 16 + d % 17
                ch = 1 + d % 2
                i = np.arange(n * ch, dtype=np.int64)
                v = ((d * 31 + i * 7919) % 65536 - 32768).astype(np.int16)
                blob = encode_wav(v.reshape(n, ch), rate)
                meta = {
                    "modality": "audio", "format": "wav",
                    "width": None, "height": None, "n_bytes": len(blob),
                }
                rows.append((d, blob, meta))
            yield pd.DataFrame(rows, columns=["asset_id", "payload", "meta"])

    from .text import spread_small

    # the synth+codec work is CPU-bound Python: a one-file input must
    # not serialize it through one task (round-robin spread; no-op on
    # wide inputs — the 100 TB case)
    return spread_small(docs.select(id_col)).mapInPandas(synth, ASSET_SCHEMA)


def synth_png_assets(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic PNG asset synthesis from a key column — the image
    twin of :func:`synth_wav_assets`. Per key ``d``: a grayscale raster
    ``w = 8 + d % 5`` × ``h = 6 + d % 4`` with pixel (r, c) =
    ``(d*31 + r*17 + c*7) % 256`` — a generator a SQL oracle regenerates
    exactly (``plans/catalog_ext2.py::image_decode_stats``). Encoding
    runs distributed through the real PNG writer (``png_codec.
    encode_png``: zlib deflate + filter-0 scanlines), so the downstream
    decode exercises a genuine compressed-container round-trip.
    """

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from .png_codec import encode_png

        for pdf in batches:
            rows = []
            for d in pdf[id_col]:
                d = int(d)
                w, h = 8 + d % 5, 6 + d % 4
                r = np.arange(h, dtype=np.int64)[:, None]
                c = np.arange(w, dtype=np.int64)[None, :]
                raster = ((d * 31 + r * 17 + c * 7) % 256).astype(np.uint8)
                blob = encode_png(raster)
                meta = {
                    "modality": "image", "format": "png",
                    "width": w, "height": h, "n_bytes": len(blob),
                }
                rows.append((d, blob, meta))
            yield pd.DataFrame(rows, columns=["asset_id", "payload", "meta"])

    from .text import spread_small

    # the synth+codec work is CPU-bound Python: a one-file input must
    # not serialize it through one task (round-robin spread; no-op on
    # wide inputs — the 100 TB case)
    return spread_small(docs.select(id_col)).mapInPandas(synth, ASSET_SCHEMA)


AUDIO_FEATURE_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("sample_rate", LongType(), True),
        StructField("n_channels", LongType(), True),
        StructField("n_samples", LongType(), True),
        StructField("duration_ms", LongType(), True),
        StructField("rms", DoubleType(), True),
        StructField("peak", DoubleType(), True),
        StructField("zero_cross_rate", DoubleType(), True),
    ]
)


def audio_features(assets: DataFrame, fake: bool = True) -> DataFrame:
    """Per-asset audio summary features (the normalization/statistics pass
    before any speech-model embedding): sample geometry, duration, RMS
    level, peak, and zero-crossing rate (the classic cheap voiced/
    unvoiced signal).

    ``fake=False`` REALLY decodes ``format='wav'`` payloads with the
    built-in RIFF PCM codec (``operators/wav_codec.py`` — integer PCM
    8/16/24/32-bit and float32, any channel count) and raises for
    compressed formats at the exact seam where ffmpeg/torchaudio would
    plug in. ``fake=True`` frames the raw payload bytes as unsigned
    8-bit mono at a nominal 8 kHz (deterministic stand-in, no decode).

    Stats are channel-pooled (computed over the interleaved stream),
    matching what a corpus-curation filter wants: one loudness/activity
    number per asset. NULL payloads emit a zeroed row in both modes, so
    toggling ``fake`` never changes output cardinality.
    """

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from .wav_codec import decode_wav

        for pdf in batches:
            rows = []
            for aid, payload, meta in zip(
                pdf["asset_id"], pdf["payload"], pdf["meta"]
            ):
                if payload is None:
                    rows.append((aid, 0, 0, 0, 0, 0.0, 0.0, 0.0))
                    continue
                if fake:
                    arr = (
                        np.frombuffer(bytes(payload), dtype=np.uint8).astype(
                            np.float32
                        )
                        - 128.0
                    ) / 128.0
                    arr = arr[:, None]
                    rate = 8000
                else:
                    fmt = meta["format"] if meta is not None else None
                    if fmt != "wav":
                        raise NotImplementedError(
                            f"no audio codec for format={fmt!r} here "
                            "(built-in covers wav; plug ffmpeg/torchaudio "
                            "for compressed encodings)"
                        )
                    arr, rate = decode_wav(bytes(payload))
                n = arr.shape[0]
                flat = arr.ravel()
                if n:
                    rms = float(np.sqrt(np.mean(flat * flat)))
                    peak = float(np.max(np.abs(flat)))
                    # sign changes per sample step, pooled across channels
                    zc = float(
                        np.mean(np.signbit(arr[1:]) != np.signbit(arr[:-1]))
                    ) if n > 1 else 0.0
                else:
                    rms = peak = zc = 0.0
                rows.append(
                    (
                        aid,
                        int(rate),
                        int(arr.shape[1]),
                        int(n),
                        int(n * 1000 // max(rate, 1)),
                        rms,
                        peak,
                        zc,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[f.name for f in AUDIO_FEATURE_SCHEMA.fields],
            ).astype(
                {
                    "asset_id": "int64",
                    "sample_rate": "int64",
                    "n_channels": "int64",
                    "n_samples": "int64",
                    "duration_ms": "int64",
                    "rms": "float64",
                    "peak": "float64",
                    "zero_cross_rate": "float64",
                }
            )

    return assets.mapInPandas(extract, AUDIO_FEATURE_SCHEMA)


PATCH_GRID_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("width", LongType(), False),
        StructField("height", LongType(), False),
        StructField("n_patches", LongType(), False),
        StructField("pixel_sum", LongType(), False),
    ]
)


def png_patch_grid(
    assets: DataFrame, patch: int = 4, id_col: str = "asset_id"
) -> DataFrame:
    """REAL image decode → ViT-style patch-token geometry per asset:
    ``n_patches = ceil(h/patch) · ceil(w/patch)`` over the DECODED raster
    (plus the decoded pixel sum as the byte-stat witness) — the image
    half of an interleaved multimodal training sample, where each image
    occupies ``n_patches`` sequence positions next to the document's
    text tokens (the LLaVA/Fuyu packing geometry).

    Zero-shuffle ``mapInPandas`` over the payload column; dimensions
    come from the decode itself, never the metadata, so a decoder that
    mangles geometry changes the downstream interleave manifest and
    hash-mismatches its oracle (``plans/catalog_ext6.py::
    interleaved_mm_spans``)."""

    def grid(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rows = []
        for pdf in batches:
            for aid, payload, meta in zip(
                pdf[id_col], pdf["payload"], pdf["meta"]
            ):
                raster = _decode_raster(
                    payload, meta["format"] if meta is not None else None
                )
                h, w = raster.shape[0], raster.shape[1]
                np_ = (-(-h // patch)) * (-(-w // patch))
                rows.append((int(aid), w, h, np_, int(raster.sum())))
            yield pd.DataFrame(
                rows,
                columns=[
                    "asset_id", "width", "height", "n_patches", "pixel_sum",
                ],
            )
            rows = []

    return assets.select(id_col, "payload", "meta").mapInPandas(
        grid, PATCH_GRID_SCHEMA
    )
