"""Multimodal plumbing: schemas, batch shapes, error channeling, UDTF."""

from __future__ import annotations

from pyspark.sql import Row

from entity_linking_spark.operators import multimodal as mm


def _media_df(spark):
    rows = [
        Row(media_id="img1", kind="image", payload=mm.encode_fake_media("image", 64, 48, 1)),
        Row(media_id="img2", kind="image", payload=mm.encode_fake_media("image", 32, 32, 2)),
        Row(media_id="aud1", kind="audio", payload=mm.encode_fake_media("audio", 0, 0, 3)),
        Row(media_id="bad1", kind="image", payload=b"not-a-payload"),
        Row(media_id="nil1", kind="image", payload=None),
    ]
    return spark.createDataFrame(rows)


def test_decode_features_and_error_channel(spark):
    out = mm.with_media_features(_media_df(spark)).collect()
    by_id = {r.media_id: r for r in out}
    assert by_id["img1"].features is not None and by_id["img1"].decode_error is None
    assert len(by_id["img1"].features) >= 4
    # poison rows land in the error column, never kill the task
    assert by_id["bad1"].features is None
    assert "ValueError" in by_id["bad1"].decode_error
    assert by_id["nil1"].features is None and by_id["nil1"].decode_error


def test_decode_deterministic(spark):
    a = mm.with_media_features(_media_df(spark)).collect()
    b = mm.with_media_features(_media_df(spark)).collect()
    fa = {r.media_id: r.features for r in a}
    fb = {r.media_id: r.features for r in b}
    assert fa == fb


def test_real_codec_is_stubbed(spark):
    import pytest

    with pytest.raises(NotImplementedError, match="codec library"):
        mm.decode_media(b"anything", "image", codec="pil")


def test_wav_codec_real_decode(spark):
    """codec='wav' is a REAL decode path: stdlib wave parses RIFF/PCM and
    the features are the normalized waveform, not a seeded fake."""
    import numpy as np

    payload = mm.encode_wav_media(n_samples=500, seed=7)
    # driver-side: features reproduce the generated samples
    local = mm.decode_media(payload, "audio", codec="wav")
    rng = np.random.RandomState(7)
    expected_all = (rng.standard_normal(500) * 8000.0).astype(np.int16)
    expected = expected_all[
        np.linspace(0, 499, num=64).round().astype(int)
    ].astype(np.float32) / 32768.0
    assert np.allclose(local, expected)
    # through the Spark mapInPandas stage, with a poison row channeled
    rows = [
        Row(media_id="w1", kind="audio", payload=payload),
        Row(media_id="w2", kind="audio", payload=mm.encode_wav_media(10, seed=1)),
        Row(media_id="bad", kind="audio", payload=b"RIFFnot-really-wav"),
    ]
    out = {r.media_id: r for r in
           mm.with_media_features(spark.createDataFrame(rows), codec="wav").collect()}
    assert np.allclose(out["w1"].features, expected)
    assert len(out["w2"].features) == 10
    assert out["bad"].features is None and out["bad"].decode_error


def test_bmp_codec_real_decode(spark):
    """codec='bmp' is a REAL decode path: stdlib struct parses the
    BITMAPINFOHEADER and the features are the grayscale 8x8 grid of the
    actual pixels (bottom-up rows, BGR order, 4-byte row padding)."""
    import numpy as np

    payload = mm.encode_bmp_media(width=11, height=9, seed=5)
    local = mm.decode_media(payload, "image", codec="bmp")
    # recompute from the generator's own pixel array
    rng = np.random.RandomState(5)
    pixels = rng.randint(0, 256, size=(9, 11, 3), dtype=np.uint8)
    gray = pixels.astype(np.float32).mean(axis=2) / 255.0
    ys = np.linspace(0, 8, num=8).round().astype(int)
    xs = np.linspace(0, 10, num=8).round().astype(int)
    assert np.allclose(local, gray[np.ix_(ys, xs)].ravel(), atol=1e-6)
    # tiny image -> fewer than 64 features, still exact
    tiny = mm.decode_media(mm.encode_bmp_media(2, 3, seed=1), "image", codec="bmp")
    assert tiny.shape == (6,)
    # through the Spark stage with a poison row channeled per-row
    rows = [
        Row(media_id="i1", kind="image", payload=payload),
        Row(media_id="bad", kind="image", payload=b"BMnot-a-real-bmp"),
    ]
    out = {r.media_id: r for r in
           mm.with_media_features(spark.createDataFrame(rows), codec="bmp").collect()}
    assert np.allclose(out["i1"].features, local)
    assert out["bad"].features is None and "BMP" in out["bad"].decode_error


def test_bmp_rejects_unsupported_variants():
    import struct as _s

    import pytest as _pt

    payload = bytearray(mm.encode_bmp_media(4, 4, seed=0))
    _s.pack_into("<H", payload, 28, 8)  # bpp=8 (palette) unsupported
    with _pt.raises(ValueError, match="unsupported BMP"):
        mm._decode_bmp(bytes(payload))
    with _pt.raises(ValueError, match="truncated"):
        mm._decode_bmp(bytes(mm.encode_bmp_media(4, 4, seed=0))[:-8])


def test_png_codec_real_compressed_decode(spark):
    """codec='png' is a REAL compressed-format decode path: stdlib zlib
    inflates the DEFLATE IDAT stream, chunk CRCs are verified, and all
    five row filters (None/Sub/Up/Average/Paeth — the encoder cycles
    filter = y % 5) reconstruct the exact pixels."""
    import numpy as np
    import pytest as _pt

    for color_type, channels in [(0, 1), (2, 3), (4, 2), (6, 4)]:
        # height 13 > 5 rows -> every filter type exercised at least twice
        payload = mm.encode_png_media(11, 13, seed=color_type, color_type=color_type)
        local = mm.decode_media(payload, "image", codec="png")
        # recompute from the generator's own pixel array: byte-exact
        rng = np.random.RandomState(color_type)
        px = rng.randint(0, 256, size=(13, 11 * channels), dtype=np.uint8)
        px = px.reshape(13, 11, channels).astype(np.float32)
        gray = (px[:, :, 0] if channels <= 2 else px[:, :, :3].mean(axis=2)) / 255.0
        ys = np.linspace(0, 12, num=8).round().astype(int)
        xs = np.linspace(0, 10, num=8).round().astype(int)
        assert np.array_equal(local, gray[np.ix_(ys, xs)].ravel().astype(np.float32))
    # a flipped IDAT DATA byte (offset 45: past sig 8 + IHDR chunk 25 +
    # IDAT length/type 8) must fail the CRC check
    payload = mm.encode_png_media(9, 9, seed=7)
    corrupt = bytearray(payload)
    corrupt[45] ^= 0xFF
    with _pt.raises(ValueError, match="CRC mismatch"):
        mm._decode_png(bytes(corrupt))
    with _pt.raises(ValueError, match="truncated|missing"):
        mm._decode_png(payload[:30])
    # through the Spark stage with a poison row channeled per-row
    rows = [
        Row(media_id="p1", kind="image", payload=payload),
        Row(media_id="bad", kind="image", payload=bytes(corrupt)),
    ]
    out = {r.media_id: r for r in
           mm.with_media_features(spark.createDataFrame(rows), codec="png").collect()}
    assert np.allclose(out["p1"].features, mm.decode_media(payload, "image", "png"))
    assert out["bad"].features is None and "CRC" in out["bad"].decode_error


def test_auto_codec_routes_by_magic_bytes(spark):
    """codec='auto' sniffs container magic per payload: one mixed binary
    column carrying wav + bmp + fake + garbage decodes each row via the
    right path, with the malformed row landing in decode_error."""
    import numpy as np

    wav = mm.encode_wav_media(128, seed=3)
    bmp = mm.encode_bmp_media(10, 8, seed=3)
    png = mm.encode_png_media(10, 8, seed=3)
    fake = mm.encode_fake_media("image", 16, 16, 3)
    assert np.allclose(mm.decode_media(png, "image", codec="auto"),
                       mm.decode_media(png, "image", codec="png"))
    assert np.allclose(mm.decode_media(wav, "audio", codec="auto"),
                       mm.decode_media(wav, "audio", codec="wav"))
    assert np.allclose(mm.decode_media(bmp, "image", codec="auto"),
                       mm.decode_media(bmp, "image", codec="bmp"))
    assert np.allclose(mm.decode_media(fake, "image", codec="auto"),
                       mm.decode_media(fake, "image", codec="fake"))
    rows = [
        Row(media_id="a", kind="audio", payload=wav),
        Row(media_id="b", kind="image", payload=bmp),
        Row(media_id="c", kind="image", payload=fake),
        Row(media_id="d", kind="image", payload=bmp[:70]),  # truncated
        Row(media_id="e", kind="video", payload=b"\x00\x01garbage"),
    ]
    out = {
        r.media_id: r
        for r in mm.with_media_features(
            spark.createDataFrame(rows), codec="auto"
        ).collect()
    }
    assert out["a"].decode_error is None and len(out["a"].features) > 0
    assert out["b"].decode_error is None and len(out["b"].features) > 0
    assert out["c"].decode_error is None and len(out["c"].features) > 0
    assert out["d"].features is None and "ValueError" in out["d"].decode_error
    assert out["e"].features is None and "unrecognized" in out["e"].decode_error


def test_auto_codec_riff_needs_wave_form_type():
    """RIFF is a container FAMILY: a RIFF/WEBP payload must not be fed
    to the wave parser (round-4 advice — it produced a misleading
    wave-parse error); it gets the honest needs-a-codec-library message,
    while RIFF/WAVE still routes to the real decoder."""
    import pytest

    webp = b"RIFF" + (1000).to_bytes(4, "little") + b"WEBPVP8 " + b"\x00" * 64
    with pytest.raises(ValueError, match="WEBP.*codec library"):
        mm.decode_media(webp, "image", codec="auto")
    avi = b"RIFF" + (1000).to_bytes(4, "little") + b"AVI " + b"\x00" * 64
    with pytest.raises(ValueError, match="codec library"):
        mm.decode_media(avi, "video", codec="auto")


def test_png_roundtrip_property(spark):
    """Hypothesis: any (width, height, color_type, seed) roundtrips
    byte-exactly through encode -> decode, covering every filter-type
    mix (height > 5 exercises all five) and the tiny-image path."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=60, deadline=None)
    @given(
        width=st.integers(1, 24),
        height=st.integers(1, 24),
        color_type=st.sampled_from([0, 2, 4, 6]),
        seed=st.integers(0, 2**31 - 1),
    )
    def check(width, height, color_type, seed):
        payload = mm.encode_png_media(width, height, seed=seed, color_type=color_type)
        local = mm.decode_media(payload, "image", codec="png")
        ch = mm._PNG_CHANNELS[color_type]
        rng = np.random.RandomState(seed)
        px = rng.randint(0, 256, size=(height, width * ch), dtype=np.uint8)
        px = px.reshape(height, width, ch).astype(np.float32)
        gray = (px[:, :, 0] if ch <= 2 else px[:, :, :3].mean(axis=2)) / 255.0
        assert np.array_equal(local, mm._gray_grid_features(gray))

    check()


def test_gate_row_covers_real_codecs(spark):
    """The driver-contract rows-only entry must include wav/bmp/png rows
    decoded by the REAL stdlib paths and the two decode_error rows
    (truncated BMP, CRC-corrupted PNG)."""
    import __spark_entry__ as E

    rows = E._multimodal_features(spark, None).collect()
    by_prefix = {}
    for r in rows:
        by_prefix.setdefault(r.media_id.rstrip("0123456789"), []).append(r)
    assert len(by_prefix["wav"]) >= 5
    assert all(r.decode_error is None and r.features for r in by_prefix["wav"])
    assert len(by_prefix["bmp"]) >= 4
    assert all(r.decode_error is None and r.features for r in by_prefix["bmp"])
    assert len(by_prefix["png"]) >= 4
    assert all(r.decode_error is None and r.features for r in by_prefix["png"])
    assert all(r.decode_error is None for r in by_prefix["fake"])
    (bad,) = by_prefix["bad"]
    assert bad.features is None and bad.decode_error
    (badpng,) = by_prefix["badpng"]
    assert badpng.features is None and "CRC" in badpng.decode_error
