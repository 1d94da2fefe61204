"""Text analysis + multimodal plumbing tests."""

import pytest
from pyspark.sql import functions as F

from shopify_etl_spark.operators import multimodal, text
from shopify_etl_spark.plans.catalog import load_table


def test_quality_metrics_hand_computed(spark):
    df = spark.createDataFrame([(1, "the cat, sat of a mat!")], ["doc_id", "text"])
    r = text.quality_metrics(df).collect()[0]
    assert r.n_tokens == 6
    assert r.n_word_chars == len("thecat,satofamat!")
    assert r.stopword_ratio == round(3 / 6, 4)  # the, of, a
    assert r.n_punct == 2  # ',' and '!'


def test_lang_id_markers(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog of the house is here"),
            (2, "der hund und die katze ist das haus"),
            (3, "xyzzy plugh"),  # no markers → tie → lexicographically first
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r.pred_lang for r in text.lang_id(df).collect()}
    assert out[1] == "en"
    assert out[2] == "de"
    assert out[3] == "de"  # deterministic tie-break (first of sorted langs)


def test_multimodal_feature_parity_with_jvm(spark, sf_dir):
    """The Pandas-UDF byte stats must agree with JVM-side expressions."""
    docs = load_table(spark, sf_dir, "documents").limit(50)
    assets = multimodal.assets_from_documents(docs)
    feats = {r.asset_id: r for r in multimodal.decode_features(assets, fake=True).collect()}
    jvm = {
        r.asset_id: r
        for r in assets.select(
            "asset_id",
            F.length("payload").alias("n_bytes"),
            F.col("meta.n_bytes").alias("meta_bytes"),
        ).collect()
    }
    assert set(feats) == set(jvm)
    for aid, fr in feats.items():
        assert fr.n_bytes == jvm[aid].n_bytes == jvm[aid].meta_bytes
        assert fr.byte_mean == fr.byte_sum // max(fr.n_bytes, 1)
        assert fr.modality == "image"


def test_multimodal_real_decode_raises(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(5)
    assets = multimodal.assets_from_documents(docs)
    with pytest.raises(Exception, match="NotImplementedError|media codecs"):
        multimodal.decode_features(assets, fake=False).collect()


def test_token_count(spark):
    df = spark.createDataFrame([(1, "a  b c"), (2, "")], ["doc_id", "text"])
    out = {r.doc_id: r.n for r in df.select("doc_id", text.token_count("text").alias("n")).collect()}
    assert out == {1: 3, 2: 0}


def test_chunk_documents_hand_computed(spark):
    toks = " ".join(str(i) for i in range(10))
    df = spark.createDataFrame(
        [(1, toks), (2, "a"), (3, "")], ["doc_id", "text"]
    )
    rows = sorted(
        (r.doc_id, r.chunk_idx, r.n_chunk_tokens, r.chunk_text)
        for r in text.chunk_documents(df, chunk_size=4, overlap=1).collect()
    )
    # stride 3: starts 0,3,6,9; last chunk is short, empty doc drops out
    assert rows == [
        (1, 0, 4, "0 1 2 3"),
        (1, 1, 4, "3 4 5 6"),
        (1, 2, 4, "6 7 8 9"),
        (1, 3, 1, "9"),
        (2, 0, 1, "a"),
    ]


def test_bpe_pretokens_hand_computed(spark):
    df = spark.createDataFrame(
        [(1, "I don't have 42 apples, ok?"), (2, "")], ["doc_id", "text"]
    )
    out = {
        r.doc_id: r.toks
        for r in df.select(
            "doc_id", text.bpe_pretokens("text").alias("toks")
        ).collect()
    }
    # GPT-2 split: contraction "'t" detaches, digits separate, punct+space runs
    assert out[1] == [
        "I", " don", "'t", " have", " 42", " apples", ",", " ok", "?",
    ]
    assert out[2] == []


def test_repetition_signals_hand_computed(spark):
    df = spark.createDataFrame(
        [
            # 10 tokens (split crosses newlines), 6 distinct; top token
            # "spam" x3; top bigram "spam spam" x2 (of 9); 3 non-blank
            # lines, 1 duplicate.
            (1, "spam spam spam a b c\nline one\n\nline one"),
            (2, ""),  # empty doc: n_tokens 0, all ratios NULL
            (3, "solo"),  # 1 token: no bigrams -> top_bigram_frac NULL
        ],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in text.repetition_signals(df).collect()}
    r1 = rows[1]
    assert r1.n_tokens == 10
    assert r1.distinct_token_ratio == round(6 / 10, 4)  # spam a b c line one
    assert r1.top_token_frac == round(3 / 10, 4)
    assert r1.top_bigram_frac == round(2 / 9, 4)
    assert r1.dup_line_frac == round(1 / 3, 4)
    r2 = rows[2]
    assert r2.n_tokens == 0
    assert r2.distinct_token_ratio is None
    assert r2.top_token_frac is None
    assert r2.top_bigram_frac is None
    assert r2.dup_line_frac is None
    r3 = rows[3]
    assert r3.n_tokens == 1
    assert r3.distinct_token_ratio == 1.0
    assert r3.top_bigram_frac is None


def test_vocabulary_hand_computed(spark):
    df = spark.createDataFrame(
        [(1, "b a a c"), (2, "a b b"), (3, "c")], ["doc_id", "text"]
    )
    rows = text.vocabulary(df, top_k=2).collect()
    # a: tf 3 df 2; b: tf 3 df 2; c: tf 2 df 2 -> top2 = a, b (tie broken asc)
    assert [(r.token, r.term_freq, r.doc_freq) for r in rows] == [
        ("a", 3, 2),
        ("b", 3, 2),
    ]


def test_sample_frames_decimation_and_bounds(spark):
    from pyspark.sql import Row
    from shopify_etl_spark.operators.multimodal import (
        assets_from_documents,
        sample_frames,
    )

    docs = spark.createDataFrame(
        [Row(doc_id=1, text="x" * 300), Row(doc_id=2, text="y" * 10)]
    )
    assets = assets_from_documents(docs)
    got = sample_frames(assets, every_k=2, frame_size=64).collect()
    by_asset = {}
    for r in got:
        by_asset.setdefault(r.asset_id, []).append(r)
    # 300 bytes -> 5 frames (64*4+44), every 2nd -> idx 0,2,4
    a1 = sorted(by_asset[1], key=lambda r: r.frame_idx)
    assert [r.frame_idx for r in a1] == [0, 2, 4]
    assert [r.n_frame_bytes for r in a1] == [64, 64, 44]
    assert a1[0].frame_bytes == b"x" * 64
    # 10 bytes -> 1 partial frame
    assert [(r.frame_idx, r.n_frame_bytes) for r in by_asset[2]] == [(0, 10)]
    # real-codec seam raises
    import pytest as _pytest
    with _pytest.raises(Exception):
        sample_frames(assets, fake=False).collect()


def test_resize_images_fixed_raster_and_reference_math(spark):
    import math

    import numpy as np
    from pyspark.sql import Row
    from shopify_etl_spark.operators.multimodal import (
        assets_from_documents,
        resize_images,
    )

    text = "abcdefghij" * 30  # 300 bytes -> side 18
    docs = spark.createDataFrame([Row(doc_id=1, text=text), Row(doc_id=2, text="zz")])
    out = {r.asset_id: r for r in resize_images(
        assets_from_documents(docs), target_w=8, target_h=8
    ).collect()}

    # every output is exactly the target raster with rewritten meta
    for r in out.values():
        assert len(r.payload) == 64
        assert (r.meta.width, r.meta.height, r.meta.n_bytes) == (8, 8, 64)

    # nearest-neighbor gather matches the plain-python reference
    payload = text.encode()
    side = max(1, math.isqrt(max(len(payload) - 1, 0)) + 1)
    raster = np.zeros(side * side, dtype=np.uint8)
    raster[: len(payload)] = np.frombuffer(payload, dtype=np.uint8)
    raster = raster.reshape(side, side)
    expect = bytes(
        raster[(y * side) // 8][(x * side) // 8] for y in range(8) for x in range(8)
    )
    assert bytes(out[1].payload) == expect

    import pytest as _pytest
    with _pytest.raises(Exception):
        resize_images(assets_from_documents(docs), fake=False).collect()


def test_decode_raster_pillow_failure_falls_back(monkeypatch):
    """With Pillow importable but unable to decode the bytes, the built-in
    PNG codec must still decode png payloads, and non-png formats must
    raise NotImplementedError — identical behavior to a Pillow-less
    environment (ADVICE r3: UnidentifiedImageError leaked instead)."""
    import sys
    import types

    import numpy as np

    from shopify_etl_spark.operators.multimodal import _decode_raster
    from shopify_etl_spark.operators.png_codec import encode_png

    class _Unidentified(Exception):
        pass

    fake_pil = types.ModuleType("PIL")
    fake_image = types.ModuleType("PIL.Image")
    fake_image.open = lambda *a, **k: (_ for _ in ()).throw(_Unidentified("nope"))
    fake_pil.Image = fake_image
    monkeypatch.setitem(sys.modules, "PIL", fake_pil)
    monkeypatch.setitem(sys.modules, "PIL.Image", fake_image)

    arr = (np.arange(24, dtype=np.uint8)).reshape(4, 6)
    assert np.array_equal(_decode_raster(encode_png(arr), "png"), arr)
    # jpeg now routes to the built-in baseline codec: garbage is a decode
    # ERROR (ValueError), not a missing-codec seam...
    with pytest.raises(ValueError):
        _decode_raster(b"\xff\xd8junk", "jpeg")
    # ...the seam remains only for genuinely uncovered formats
    with pytest.raises(NotImplementedError, match="no codec"):
        _decode_raster(b"RIFFxxxxWEBP", "webp")


def test_decode_raster_jpeg_builtin_path():
    """Pillow-less jpeg decode through the multimodal seam: the built-in
    baseline codec reconstructs encode_jpeg output within the lossy
    tolerance (the last compressed-container seam, closed in r6)."""
    import numpy as np

    from shopify_etl_spark.operators.jpeg_codec import encode_jpeg
    from shopify_etl_spark.operators.multimodal import _decode_raster

    rng = np.random.default_rng(11)
    y, x = np.mgrid[0:24, 0:32]
    img = np.clip(100 + 50 * np.sin(x / 6.0) + y + rng.normal(0, 2, (24, 32)),
                  0, 255).astype(np.uint8)
    for fmt in ("jpeg", "jpg"):
        out = _decode_raster(encode_jpeg(img, quality=92), fmt)
        assert out.shape == img.shape
        err = np.abs(out.astype(float) - img.astype(float)).mean()
        assert err < 4.0, err


def test_decode_features_real_jpeg_pixels(spark):
    """fake=False really decodes JPEG payloads via the built-in codec:
    pixel stats come from the DECODED raster (n_bytes = H*W*C), not the
    compressed payload bytes."""
    import numpy as np

    from shopify_etl_spark.operators.jpeg_codec import decode_jpeg, encode_jpeg
    from shopify_etl_spark.operators.multimodal import ASSET_SCHEMA

    img = np.tile(np.arange(0, 240, 10, dtype=np.uint8), (16, 1))  # 16x24
    blob = encode_jpeg(img, quality=95)
    rows = [(1, bytearray(blob), ("image", "jpeg", 24, 16, len(blob)))]
    assets = spark.createDataFrame(rows, ASSET_SCHEMA)
    out = multimodal.decode_features(assets, fake=False).collect()[0]
    decoded = decode_jpeg(blob)
    assert out.n_bytes == decoded.size == 16 * 24
    assert out.byte_sum == int(decoded.astype(np.int64).sum())


def test_decode_features_null_payload_same_cardinality(spark):
    """NULL payloads keep their row (zeroed stats) in BOTH fake modes, so
    toggling fake never changes output cardinality (ADVICE r3)."""
    from shopify_etl_spark.operators.multimodal import ASSET_SCHEMA
    from shopify_etl_spark.operators.png_codec import encode_png

    import numpy as np

    png = encode_png(np.ones((2, 3), dtype=np.uint8))
    rows = [
        (1, bytearray(png), ("image", "png", 3, 2, len(png))),
        (2, None, ("image", "png", None, None, None)),
    ]
    assets = spark.createDataFrame(rows, ASSET_SCHEMA)
    for fake in (True, False):
        out = {r.asset_id: r for r in multimodal.decode_features(assets, fake=fake).collect()}
        assert set(out) == {1, 2}, f"fake={fake} dropped a null-payload row"
        assert (out[2].n_bytes, out[2].byte_sum) == (0, 0)
    real = {r.asset_id: r for r in multimodal.decode_features(assets, fake=False).collect()}
    assert real[1].n_bytes == 6 and real[1].byte_sum == 6  # decoded pixels


def test_bpe_merge_pair_counts_hand_computed(spark):
    """'aa ab' + 'aa': pretokens {'aa':2, ' ab':1} (leading space kept by
    the GPT-2 split) → pairs a|a ×2, (space)|a ×1, a|b ×1."""
    df = spark.createDataFrame([(1, "aa ab"), (2, "aa")], ["doc_id", "text"])
    got = {r.pair: r.n for r in text.bpe_merge_pair_counts(df).collect()}
    assert got == {"a|a": 2, " |a": 1, "a|b": 1}


def test_y4m_codec_roundtrip_and_variants():
    import numpy as np
    import pytest as _pytest
    from shopify_etl_spark.operators.y4m_codec import decode_y4m, encode_y4m

    rng = np.random.default_rng(3)
    frames = [rng.integers(0, 256, (6, 8), dtype=np.uint8) for _ in range(5)]
    blob = encode_y4m(frames)
    back = decode_y4m(blob)
    assert len(back) == 5
    for a, b in zip(frames, back):
        assert (a == b).all()

    # hand-built C420 stream: luma plus quarter-size chroma per frame
    w, h = 4, 2
    luma = np.arange(w * h, dtype=np.uint8).reshape(h, w)
    u = np.full((1, 2), 100, np.uint8)
    v = np.full((1, 2), 200, np.uint8)
    stream = (
        b"YUV4MPEG2 W4 H2 F30:1 C420\nFRAME\n"
        + luma.tobytes() + u.tobytes() + v.tobytes()
    )
    (got,) = decode_y4m(stream)              # luma_only default
    assert (got == luma).all()
    ((l2, u2, v2),) = decode_y4m(stream, luma_only=False)
    assert (l2 == luma).all() and (u2 == u).all() and (v2 == v).all()

    # C444 full-raster decode
    rgb = rng.integers(0, 256, (3, 2, 4), dtype=np.uint8)  # planar 3×H×W
    s444 = b"YUV4MPEG2 W4 H2 C444\nFRAME\n" + rgb.tobytes()
    (f444,) = decode_y4m(s444, luma_only=False)
    assert f444.shape == (2, 4, 3)
    assert (f444 == rgb.transpose(1, 2, 0)).all()

    # C422 (r12): half-width, full-height chroma planes
    u22 = np.full((2, 2), 90, np.uint8)
    v22 = np.full((2, 2), 180, np.uint8)
    s422 = (
        b"YUV4MPEG2 W4 H2 C422\nFRAME\n"
        + luma.tobytes() + u22.tobytes() + v22.tobytes()
    )
    (g422,) = decode_y4m(s422)
    assert (g422 == luma).all()
    ((l3, u3, v3),) = decode_y4m(s422, luma_only=False)
    assert (l3 == luma).all() and (u3 == u22).all() and (v3 == v22).all()

    # malformed inputs fail loudly, not quietly
    with _pytest.raises(ValueError, match="magic"):
        decode_y4m(b"RIFFxxxx")
    with _pytest.raises(ValueError, match="truncated"):
        decode_y4m(blob[:-3])
    with _pytest.raises(ValueError, match="colorspace"):
        decode_y4m(b"YUV4MPEG2 W4 H2 C411\nFRAME\n" + b"\x00" * 16)
    # odd dimensions with subsampled chroma are ambiguous (frame-byte
    # ratio vs floor-divided plane widths disagree) — rejected explicitly
    # instead of desyncing or raising a confusing reshape error (r13)
    with _pytest.raises(ValueError, match="even frame dimensions"):
        decode_y4m(b"YUV4MPEG2 W5 H2 C420\nFRAME\n" + b"\x00" * 15)
    with _pytest.raises(ValueError, match="even frame dimensions"):
        decode_y4m(b"YUV4MPEG2 W4 H3 C420jpeg\nFRAME\n" + b"\x00" * 18)
    with _pytest.raises(ValueError, match="even width"):
        decode_y4m(b"YUV4MPEG2 W3 H2 C422\nFRAME\n" + b"\x00" * 12)
    # odd dims stay legal where no chroma subsampling is involved
    (m5,) = decode_y4m(
        b"YUV4MPEG2 W5 H3 Cmono\nFRAME\n" + bytes(range(15))
    )
    assert m5.shape == (3, 5)


def test_sample_frames_real_y4m_demux(spark):
    """fake=False now really demuxes Y4M payloads: every k-th frame's
    luma plane comes back byte-identical; compressed containers remain
    the documented NotImplementedError seam."""
    import numpy as np
    import pytest as _pytest
    from pyspark.sql import Row
    from shopify_etl_spark.operators.multimodal import ASSET_SCHEMA, sample_frames
    from shopify_etl_spark.operators.y4m_codec import encode_y4m

    rng = np.random.default_rng(11)
    frames = [rng.integers(0, 256, (4, 6), dtype=np.uint8) for _ in range(7)]
    blob = encode_y4m(frames)
    assets = spark.createDataFrame(
        [
            Row(
                asset_id=1,
                payload=bytearray(blob),
                meta=Row(
                    modality="video", format="y4m",
                    width=6, height=4, n_bytes=len(blob),
                ),
            )
        ],
        ASSET_SCHEMA,
    )
    got = sorted(
        sample_frames(assets, every_k=3, fake=False).collect(),
        key=lambda r: r.frame_idx,
    )
    assert [r.frame_idx for r in got] == [0, 3, 6]
    for r in got:
        assert bytes(r.frame_bytes) == frames[r.frame_idx].tobytes()
        assert r.n_frame_bytes == 24

    mp4 = spark.createDataFrame(
        [
            Row(
                asset_id=2,
                payload=bytearray(b"\x00\x00\x00 ftypisom"),
                meta=Row(
                    modality="video", format="mp4",
                    width=None, height=None, n_bytes=12,
                ),
            )
        ],
        ASSET_SCHEMA,
    )
    with _pytest.raises(Exception, match="ffmpeg|demuxer"):
        sample_frames(mp4, fake=False).collect()


def test_bigram_lm_scores_hand_computed(spark):
    """Tiny corpus, hand-applied add-1 bigram LM: P(w2|w1) =
    (c12+1)/(c1+V), score = mean -log2 P; sub-2-token docs drop out."""
    import math

    from shopify_etl_spark.operators.text import bigram_lm_scores

    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c"), (3, "x")], ["doc_id", "text"]
    )
    got = {r.doc_id: (r.n_bigrams, r.avg_nll_bits)
           for r in bigram_lm_scores(df).collect()}
    # corpus bigrams: (a b)x3, (b a), (b c); prefixes a:3, b:2; V=4
    V = 4

    def nll(c12, c1):
        return -math.log2((c12 + 1) / (c1 + V))

    d1 = round((nll(3, 3) + nll(1, 2) + nll(3, 3)) / 3, 4)
    d2 = round((nll(3, 3) + nll(1, 2)) / 2, 4)
    assert got == {1: (3, d1), 2: (2, d2)}  # doc 3: no bigrams, no row
    # the repeated-transition doc is more probable (lower bits)
    assert got[1][1] < got[2][1]


def test_audio_features_real_wav_decode(spark):
    """fake=False really decodes WAV PCM: hand-built 16-bit stereo whose
    rms/peak/zcr are computable by hand; NULL payloads keep cardinality;
    compressed formats remain the documented NotImplementedError seam."""
    import math

    import numpy as np
    import pytest as _pytest
    from pyspark.sql import Row
    from shopify_etl_spark.operators.multimodal import ASSET_SCHEMA, audio_features
    from shopify_etl_spark.operators.wav_codec import encode_wav

    # 4 stereo frames: L channel alternates +/-16384, R channel silent.
    samples = np.array(
        [[16384, 0], [-16384, 0], [16384, 0], [-16384, 0]], dtype=np.int16
    )
    blob = encode_wav(samples, sample_rate=8000)

    def asset(aid, payload, fmt):
        return Row(
            asset_id=aid,
            payload=bytearray(payload) if payload is not None else None,
            meta=Row(modality="audio", format=fmt, width=None, height=None,
                     n_bytes=len(payload) if payload is not None else 0),
        )

    assets = spark.createDataFrame(
        [asset(1, blob, "wav"), asset(2, None, "wav")], ASSET_SCHEMA
    )
    got = {r.asset_id: r for r in audio_features(assets, fake=False).collect()}
    r1 = got[1]
    assert (r1.sample_rate, r1.n_channels, r1.n_samples) == (8000, 2, 4)
    assert r1.duration_ms == 0  # 4 samples @ 8kHz = 0.5ms -> floor 0
    # rms over interleaved stream: sqrt(mean([0.5^2,0,0.5^2,0,...])) = 0.5/sqrt(2)
    assert math.isclose(r1.rms, 0.5 / math.sqrt(2), rel_tol=1e-6)
    assert math.isclose(r1.peak, 0.5, rel_tol=1e-6)
    # L flips sign every step (3/3 transitions), R never (0/3) -> pooled 0.5
    assert math.isclose(r1.zero_cross_rate, 0.5, rel_tol=1e-6)
    # NULL payload: zeroed row, cardinality preserved
    r2 = got[2]
    assert (r2.n_samples, r2.rms, r2.peak) == (0, 0.0, 0.0)

    # fake=True path: byte-level stand-in, same schema, no decode
    fake = {r.asset_id: r for r in audio_features(assets, fake=True).collect()}
    assert fake[1].sample_rate == 8000 and fake[1].n_samples == len(blob)

    mp3 = spark.createDataFrame([asset(3, b"\xff\xfb\x90\x00", "mp3")], ASSET_SCHEMA)
    with _pytest.raises(Exception, match="torchaudio|codec"):
        audio_features(mp3, fake=False).collect()


def test_char_chunk_documents_reconstruction_property(spark):
    """Dropping each chunk's leading `overlap` chars (except chunk 0)
    and concatenating reconstructs the document exactly — the invariant
    that makes overlapped windows lossless for any text/params."""
    import random

    from shopify_etl_spark.operators.text import char_chunk_documents

    rnd = random.Random(11)
    rows = [
        (i, "".join(rnd.choice("abcd efg\nhi\tj") for _ in range(n)))
        for i, n in enumerate([1, 7, 39, 40, 41, 79, 80, 81, 120, 200, 353])
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = char_chunk_documents(df, chunk_chars=80, overlap=40).collect()
    by_doc = {}
    for r in sorted(out, key=lambda r: (r.doc_id, r.chunk_idx)):
        assert r.chunk_len == len(r.chunk_text) > 0
        piece = r.chunk_text if r.chunk_idx == 0 else r.chunk_text[40:]
        by_doc[r.doc_id] = by_doc.get(r.doc_id, "") + piece
        # offsets address the source exactly
        src = rows[r.doc_id][1]
        assert src[r.chunk_start:r.chunk_start + 80] == r.chunk_text
    assert by_doc == {i: t for i, t in rows}
    # tail windows fully inside the previous chunk are dropped: a doc of
    # exactly chunk_chars emits ONE chunk; chunk_chars+1 emits two
    n_chunks = {r[0]: 0 for r in rows}
    for r in out:
        n_chunks[r.doc_id] += 1
    assert n_chunks[6] == 1 and n_chunks[7] == 2  # len 80 -> 1, 81 -> 2


def test_char_chunk_documents_validation_and_empty(spark):
    import pytest

    from shopify_etl_spark.operators.text import char_chunk_documents

    df = spark.createDataFrame([(1, ""), (2, "xy")], ["doc_id", "text"])
    out = char_chunk_documents(df, chunk_chars=8, overlap=2).collect()
    assert [(r.doc_id, r.chunk_text) for r in out] == [(2, "xy")]
    with pytest.raises(ValueError, match="overlap"):
        char_chunk_documents(df, chunk_chars=8, overlap=8)


def test_demux_frames_pyav_seam_contract():
    """VERDICT r10 #6: compressed containers route through pyav WHEN
    IMPORTABLE with the same (frame_idx, gray raster) contract as the
    y4m path. pyav isn't in this container, so the integration code is
    exercised by injecting a stub ``av`` module — the real library only
    replaces the stub's two methods (open / decode), everything on our
    side of the seam runs for real."""
    import sys

    import numpy as np
    import pytest as _pytest

    from shopify_etl_spark.operators import multimodal

    # 1. without pyav: every compressed format hits the documented seam,
    #    y4m keeps working, unknown formats raise too
    if "av" not in sys.modules or sys.modules["av"] is None:
        for fmt in ("mp4", "webm", "mkv", "mov", "avi"):
            with _pytest.raises(NotImplementedError, match="pyav"):
                list(multimodal._demux_frames(b"\x00" * 16, fmt))
    with _pytest.raises(NotImplementedError, match="demuxer"):
        list(multimodal._demux_frames(b"\x00" * 16, "flv"))

    # 2. with (a stub of) pyav importable: frames come back in order
    #    under the gray-plane contract
    frames = [np.full((4, 6), i * 10, dtype=np.uint8) for i in range(5)]

    class _FakeFrame:
        def __init__(self, arr):
            self._arr = arr

        def to_ndarray(self, format):
            assert format == "gray"  # the y4m-parity contract
            return self._arr

    class _FakeContainer:
        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

        def decode(self, video=0):
            assert video == 0
            return (_FakeFrame(f) for f in frames)

    class _FakeAv:
        @staticmethod
        def open(fileobj):
            if fileobj.read(4) != b"\x00\x00\x00 ":
                raise RuntimeError("moov atom not found")
            return _FakeContainer()

    sys.modules["av"] = _FakeAv()
    try:
        got = list(
            multimodal._demux_frames(b"\x00\x00\x00 ftypisom....", "mp4")
        )
        assert [i for i, _ in got] == [0, 1, 2, 3, 4]
        assert all(np.array_equal(a, f) for (_, a), f in zip(got, frames))
        # 3. a pyav DECODE failure on untrusted bytes is the clean
        #    ValueError the executor-safety contract promises
        with _pytest.raises(ValueError, match="demux failed"):
            list(multimodal._demux_frames(b"garbage bytes here", "mp4"))
    finally:
        del sys.modules["av"]
