"""Multimodal plumbing: the stdlib codecs, the one magic-byte decode
dispatch, and the distributed metadata pass."""

import pytest
from pyspark.sql import functions as F

from cs588_data_science_bug_duplicate_detector_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    media_metadata,
)


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        (1, "image", b"\x89PNGfakebytes" * 40, "image/png", 64, 64, None),
        (2, "image", b"\x89PNGfakebytes" * 40, "image/png", 64, 64, None),  # exact dup of 1
        (3, "image", b"\xffotherimage" * 33, "image/jpeg", 32, 32, None),
        (4, "audio", b"RIFFfakeaudio" * 25, "audio/wav", None, None, 3000),
        (5, "video", b"FTYPfakevideo" * 100, "video/mp4", 640, 480, 4500),
        (6, "video", b"", "video/mp4", 640, 480, 500),
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_real_decoder_is_explicit_stub(spark, media):
    # every fixture row is undecodable in-container, and EVERY format path
    # (incl. a RIFF-but-not-WAVE audio payload) maps to DecoderUnavailable —
    # so the surfaced exception is deterministic regardless of which task
    # fails first (this assertion was scheduling-order-flaky before the
    # full-signature WAV dispatch fix in _decode_payload)
    with pytest.raises(Exception) as exc_info:
        media_metadata(media).collect()
    assert "DecoderUnavailable" in str(exc_info.value) or "decoding requires" in str(exc_info.value)


# --- real codecs (stdlib+numpy: 24-bit BMP, PCM WAV) -----------------------

def test_bmp_round_trip():
    import numpy as np

    from cs588_data_science_bug_duplicate_detector_spark.operators.multimodal import decode_bmp, encode_bmp

    rng = np.random.default_rng(3)
    for h, w in [(8, 8), (5, 7), (16, 3)]:  # odd widths exercise row padding
        px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        assert np.array_equal(decode_bmp(encode_bmp(px)), px)


def test_wav_round_trip_and_feature():
    import numpy as np

    from cs588_data_science_bug_duplicate_detector_spark.operators.multimodal import (
        audio_band_feature,
        decode_wav,
        encode_wav,
    )

    t = np.arange(16000)
    samples = (np.sin(2 * np.pi * 440 * t / 16000) * 20000).astype(np.int16)
    out, rate = decode_wav(encode_wav(samples, 16000))
    assert rate == 16000 and np.array_equal(out, samples)
    f = audio_band_feature(samples)
    assert f.shape == (16,) and np.all(f > 0.3)  # steady tone: energy everywhere
    silent = audio_band_feature(np.zeros(1000, dtype=np.int16))
    assert np.allclose(silent, 0.0)


def test_resize_and_grid_feature():
    import numpy as np

    from cs588_data_science_bug_duplicate_detector_spark.operators.multimodal import (
        image_grid_feature,
        resize_image,
    )

    px = np.zeros((64, 64, 3), dtype=np.uint8)
    px[:32] = 255  # top half white
    small = resize_image(px, 8, 8)
    assert small.shape == (8, 8, 3)
    f = image_grid_feature(px)
    assert f.shape == (16,)
    assert np.allclose(f[:8], 1.0) and np.allclose(f[8:], 0.0)  # top rows bright


def test_decode_media_empty_mime_dispatches_on_magic_bytes():
    """mime='' with an unrecognized payload must raise DecoderUnavailable
    (the documented contract), never fall into a format decoder's internal
    ValueError/wave.Error; mime='' with real magic bytes still decodes, and
    a compressed format fails loudly even under its own mime."""
    import numpy as np

    from cs588_data_science_bug_duplicate_detector_spark.operators.multimodal import (
        DecoderUnavailable,
        decode_metadata_row,
        encode_bmp,
        encode_wav,
    )

    for kind in ("image", "audio"):
        for payload in (b"\xff\xd8\xff jpeg junk", b"ID3\x03 mp3 junk"):
            try:
                decode_metadata_row(kind, "", payload)
                raise AssertionError(f"expected DecoderUnavailable for {kind}")
            except DecoderUnavailable:
                pass
    try:
        decode_metadata_row("image", "image/jpeg", b"\xff\xd8\xff")
        raise AssertionError("expected DecoderUnavailable for JPEG")
    except DecoderUnavailable:
        pass
    rng = np.random.default_rng(3)
    bmp = encode_bmp(rng.integers(0, 256, size=(4, 4, 3), dtype=np.uint8))
    wav = encode_wav((rng.standard_normal(100) * 1000).astype(np.int16))
    assert decode_metadata_row("image", "", bmp)[:3] == (4, 4, 0)
    assert decode_metadata_row("audio", None, wav)[:3] == (0, 0, 100)


def test_png_round_trip_and_filter_reversal():
    """encode_png -> decode_png is identity; decode also reverses Sub/Up/
    Average/Paeth rows (forward-filtered here per the PNG spec), and
    gray/RGBA variants decode to RGB."""
    import struct
    import zlib

    import numpy as np

    from cs588_data_science_bug_duplicate_detector_spark.operators.multimodal import (
        _png_chunk,
        _PNG_SIG,
        decode_png,
        encode_png,
    )

    rng = np.random.default_rng(21)
    img = rng.integers(0, 256, size=(9, 7, 3), dtype=np.uint8)
    assert np.array_equal(decode_png(encode_png(img)), img)

    # forward-filter each row with filter y % 5 (spec definitions)
    ch = 3
    h, w, _ = img.shape
    raw = bytearray()
    prev = np.zeros(w * ch, dtype=np.int32)
    for y in range(h):
        cur = img[y].reshape(-1).astype(np.int32)
        f = y % 5
        enc = cur.copy()
        for x in range(w * ch):
            a = cur[x - ch] if x >= ch else 0
            b = prev[x]
            c = prev[x - ch] if x >= ch else 0
            if f == 1:
                enc[x] = (cur[x] - a) % 256
            elif f == 2:
                enc[x] = (cur[x] - b) % 256
            elif f == 3:
                enc[x] = (cur[x] - (a + b) // 2) % 256
            elif f == 4:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                enc[x] = (cur[x] - pred) % 256
        raw += bytes([f]) + enc.astype(np.uint8).tobytes()
        prev = cur
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    payload = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )
    assert np.array_equal(decode_png(payload), img)

    # gray (color 0) and RGBA (color 6) decode to RGB
    gray = rng.integers(0, 256, size=(5, 4), dtype=np.uint8)
    raw_g = b"".join(b"\x00" + gray[y].tobytes() for y in range(5))
    p_gray = (
        _PNG_SIG
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 5, 8, 0, 0, 0, 0))
        + _png_chunk(b"IDAT", zlib.compress(raw_g))
        + _png_chunk(b"IEND", b"")
    )
    out = decode_png(p_gray)
    assert out.shape == (5, 4, 3) and np.array_equal(out[:, :, 0], gray)

    rgba = rng.integers(0, 256, size=(3, 4, 4), dtype=np.uint8)
    raw_a = b"".join(b"\x00" + rgba[y].tobytes() for y in range(3))
    p_rgba = (
        _PNG_SIG
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 3, 8, 6, 0, 0, 0))
        + _png_chunk(b"IDAT", zlib.compress(raw_a))
        + _png_chunk(b"IEND", b"")
    )
    assert np.array_equal(decode_png(p_rgba), rgba[:, :, :3])


def test_png_dispatch_and_unsupported_variants():
    import struct
    import zlib

    import numpy as np

    from cs588_data_science_bug_duplicate_detector_spark.operators.multimodal import (
        _png_chunk,
        _PNG_SIG,
        DecoderUnavailable,
        decode_metadata_row,
        encode_png,
    )

    img = np.full((4, 4, 3), 128, dtype=np.uint8)
    # magic-byte dispatch; a uniform 128 image has feature mean 128/255
    assert decode_metadata_row("image", "", encode_png(img)) == (4, 4, 0, round(128 / 255, 6))
    # palette (color type 3) is honestly unsupported
    raw = zlib.compress(b"\x00" + bytes(4))
    pal = (
        _PNG_SIG
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 1, 8, 3, 0, 0, 0))
        + _png_chunk(b"IDAT", raw)
        + _png_chunk(b"IEND", b"")
    )
    try:
        decode_metadata_row("image", "image/png", pal)
        raise AssertionError("expected DecoderUnavailable")
    except DecoderUnavailable:
        pass


def test_media_metadata_matches_driver_side_decode(spark):
    """The distributed media_metadata pass (mapInPandas over binary columns
    crossing Arrow) must agree exactly with driver-side direct decode of
    the same deterministic fixtures — dims, sample counts, and the
    content-sensitive feature mean."""
    from cs588_data_science_bug_duplicate_detector_spark.operators.multimodal import (
        demo_payload_expected,
        demo_payloads,
        media_metadata,
    )

    fixtures = demo_payloads(7)
    media = spark.createDataFrame(
        [(idx, kind, mime, bytearray(p)) for idx, kind, mime, p, _ in fixtures],
        "media_id long, kind string, mime string, payload binary",
    )
    got = {
        r["media_id"]: (r["width"], r["height"], r["n_samples"], r["feat_mean"])
        for r in media_metadata(media).collect()
    }
    want = {
        idx: (w, h, ns, fm)
        for idx, _md5, _kind, w, h, ns, fm in demo_payload_expected(7)
    }
    assert got == want
    # the fixtures hit all three codec families and are pairwise distinct
    kinds = {k for _, k, _, _, _ in fixtures}
    assert kinds == {"image", "audio"}
    payloads = [p for _, _, _, p, _ in fixtures]
    assert len({p for p in payloads}) == 7


def test_media_metadata_jvm_md5_equals_hashlib(spark):
    """JVM F.md5 over the broadcast binary column == hashlib md5 of the
    original bytes: two independent md5 implementations across the Arrow
    boundary (the cross-check the media_dedup oracle leans on)."""
    import hashlib

    from cs588_data_science_bug_duplicate_detector_spark.operators.multimodal import (
        demo_payloads,
    )

    fixtures = demo_payloads(7)
    media = spark.createDataFrame(
        [(idx, bytearray(p)) for idx, _, _, p, _ in fixtures],
        "media_id long, payload binary",
    )
    got = {
        r["media_id"]: r["h"]
        for r in media.select("media_id", F.md5("payload").alias("h")).collect()
    }
    want = {idx: hashlib.md5(p).hexdigest() for idx, _, _, p, _ in fixtures}
    assert got == want
