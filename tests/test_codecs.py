"""Pure-stdlib media codecs (functions/codecs.py) + the media operators
that decode with them: actual PNG/WAV bytes are parsed, not
sha-pseudo-decoded — dims from IHDR, duration from PCM frame count,
features from decoded content."""

import struct
import zlib

import pytest

from chatvector_ai_spark.functions.codecs import (
    PNG_MAGIC,
    decode_png,
    decode_wav,
    encode_png,
    encode_wav,
    png_grid_features,
    wav_band_features,
)


def test_png_roundtrip_grayscale():
    w, h = 5, 3
    px = bytes(range(w * h))
    data = encode_png(w, h, px, color_type=0)
    gw, gh, ch, gray = decode_png(data)
    assert (gw, gh, ch) == (w, h, 1)
    assert gray == px


def test_png_roundtrip_rgb_collapses_to_gray_mean():
    w, h = 2, 2
    # pixels: (10,20,30) (60,60,60) (0,0,3) (255,255,255)
    px = bytes([10, 20, 30, 60, 60, 60, 0, 0, 3, 255, 255, 255])
    data = encode_png(w, h, px, color_type=2)
    gw, gh, ch, gray = decode_png(data)
    assert (gw, gh, ch) == (w, h, 3)
    assert list(gray) == [20, 60, 1, 255]


def test_png_all_filter_types_unfilter():
    """Hand-build a grayscale PNG whose scanlines use filters 1-4 and
    check the unfiltered pixels against hand-computed values."""
    w = 3
    rows = [
        (1, [10, 5, 5]),   # Sub:   10, 15, 20
        (2, [1, 2, 3]),    # Up:    11, 17, 23
        (3, [4, 10, 200]), # Avg:   4+(0+11)//2=9, 10+(9+17)//2=23, 200+(23+23)//2=223 → 167 (mod 256)... compute below
        (4, [7, 1, 2]),    # Paeth
    ]
    raw = b"".join(bytes([f]) + bytes(v) for f, v in rows)
    h = len(rows)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    data = (
        PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    gw, gh, ch, gray = decode_png(data)
    assert (gw, gh, ch) == (w, h, 1)
    # row 0 (Sub): a = left
    r0 = [10, 15, 20]
    # row 1 (Up): b = above
    r1 = [11, 17, 23]
    # row 2 (Average): (a + b) // 2
    r2 = []
    for x, v in enumerate([4, 10, 200]):
        a = r2[x - 1] if x else 0
        r2.append((v + (a + r1[x]) // 2) & 0xFF)
    # row 3 (Paeth)
    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)

    r3 = []
    for x, v in enumerate([7, 1, 2]):
        a = r3[x - 1] if x else 0
        c = r2[x - 1] if x else 0
        r3.append((v + paeth(a, r2[x], c)) & 0xFF)
    assert list(gray) == r0 + r1 + r2 + r3


def test_png_rejects_garbage_and_unsupported():
    with pytest.raises(ValueError):
        decode_png(b"not a png at all")
    # 16-bit depth unsupported
    ihdr = struct.pack(">IIBBBBB", 1, 1, 16, 0, 0, 0, 0)
    body = struct.pack(">I", len(ihdr)) + b"IHDR" + ihdr + struct.pack(
        ">I", zlib.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF
    )
    with pytest.raises(ValueError):
        decode_png(PNG_MAGIC + body)


def test_png_grid_features_uniform_image():
    w = h = 8
    data = encode_png(w, h, bytes([51]) * (w * h))
    _, _, _, gray = decode_png(data)
    feats = png_grid_features(gray, w, h, grid=4)
    assert len(feats) == 16
    assert all(abs(f - 51 / 255.0) < 1e-9 for f in feats)


def test_wav_roundtrip_and_duration():
    samples = [0, 1000, -1000, 32767, -32768] * 160  # 800 frames
    data = encode_wav(samples, sample_rate=8000)
    rate, duration_ms, got = decode_wav(data)
    assert rate == 8000
    assert duration_ms == 100  # 800 / 8000 s
    assert got == samples


def test_wav_band_features_constant_amplitude():
    samples = [16384] * 1600
    feats = wav_band_features(samples, bands=16)
    assert len(feats) == 16
    assert all(abs(f - 0.5) < 1e-6 for f in feats)


def test_wav_rejects_garbage():
    with pytest.raises(ValueError):
        decode_wav(b"RIFFbroken")
    with pytest.raises(ValueError):
        decode_wav(b"plainly not audio")


def test_decode_media_stdlib_backend_decodes_real_bytes(spark):
    """End-to-end through Spark: fetch_payloads fabricates real PNG/WAV
    payloads; decode_media must parse THEM — width/height equal to the
    encoder's seed-derived dims, duration equal to the PCM frame count —
    and label rows by actual backend (png/wav real, others fake)."""
    import hashlib

    from chatvector_ai_spark import datagen as dg
    from chatvector_ai_spark.operators.multimodal import (
        FEATURE_DIM,
        decode_media,
        fetch_payloads,
        media_spans,
    )

    media = fetch_payloads(media_spans(dg.documents_df(spark, 60)))
    feats = decode_media(media).toPandas()
    assert len(feats) == media.count()
    assert feats["feature"].map(len).eq(FEATURE_DIM).all()

    png = feats[feats["media_ref"].str.endswith(".png")]
    assert len(png) > 0
    for _, row in png.iterrows():
        seed = hashlib.sha256(row["media_ref"].encode()).digest()
        assert row["decode_backend"] == "stdlib-png"
        assert row["width"] == 8 + seed[0] % 8    # real IHDR width
        assert row["height"] == 8 + seed[1] % 8   # real IHDR height

    wav = feats[feats["media_ref"].str.endswith(".wav")]
    assert len(wav) > 0
    for _, row in wav.iterrows():
        seed = hashlib.sha256(row["media_ref"].encode()).digest()
        n = 800 + seed[0] * 8
        assert row["decode_backend"] == "stdlib-wav"
        assert row["duration_ms"] == round(n * 1000 / 8000)  # real frame count

    other = feats[~feats["media_ref"].str.endswith((".png", ".wav"))]
    if len(other):
        assert (other["decode_backend"] == "fake").all()


def test_decode_media_stdlib_degrades_on_corrupt_payload(spark):
    """A payload with a valid magic but corrupt body must yield a labeled
    'decode-error' fallback row — one bad blob in a billion must never
    crash the stage."""
    import pandas as pd

    from chatvector_ai_spark.operators.multimodal import decode_media

    rows = pd.DataFrame(
        {
            "doc_id": ["d0", "d0"],
            "span_idx": [0, 1],
            "span_offset": [0, 1],
            "kind": ["image", "audio"],
            "media_ref": ["bad.png", "bad.wav"],
            "payload": [PNG_MAGIC + b"garbage body", b"RIFFgarbage body"],
            "content_type": ["image/png", "audio/wav"],
            "n_bytes": [20, 16],
        }
    )
    media = spark.createDataFrame(rows)
    got = decode_media(media).toPandas()
    assert len(got) == 2
    assert set(got["decode_backend"]) == {"decode-error"}
    assert got["feature"].map(len).nunique() == 1  # still fixed-dim


def test_jpeg_shell_roundtrip_dimensions():
    from chatvector_ai_spark.functions.codecs import (
        JPEG_MAGIC,
        encode_jpeg_shell,
        jpeg_dimensions,
    )

    data = encode_jpeg_shell(640, 480, bytes(range(256)) * 2)
    assert data.startswith(JPEG_MAGIC)
    assert jpeg_dimensions(data) == (640, 480, 1)
    # 0xFF bytes in the scan are stuffed, so the walker never misparses them
    noisy = encode_jpeg_shell(33, 7, b"\xff" * 64)
    assert jpeg_dimensions(noisy) == (33, 7, 1)


def test_jpeg_dimensions_rejects_corruption():
    import pytest as _pytest

    from chatvector_ai_spark.functions.codecs import (
        encode_jpeg_shell,
        jpeg_dimensions,
    )

    data = encode_jpeg_shell(100, 50, b"scan")
    for bad in (
        b"",
        b"\xff",
        b"notjpeg",
        data[:6],            # truncated inside APP0
        data[:21],           # truncated before SOF
        b"\xff\xd8" + b"\x00" * 8,  # non-marker byte where FF required
    ):
        with _pytest.raises(ValueError):
            jpeg_dimensions(bad)


def test_decode_media_stdlib_jpeg_header_real_dims(spark):
    """JPEG shells through the distributed decode_media: dimensions must be
    the real SOF0 values (marker walk), features pseudo, and the label must
    say header-only so downstream can tell real pixels from pseudo."""
    import pandas as pd

    from chatvector_ai_spark.functions.codecs import encode_jpeg_shell
    from chatvector_ai_spark.operators.multimodal import FEATURE_DIM, decode_media

    rows = pd.DataFrame(
        {
            "doc_id": ["d0", "d0", "d1"],
            "span_idx": [0, 1, 0],
            "span_offset": [0, 1, 0],
            "kind": ["image", "image", "image"],
            "media_ref": ["a.jpg", "b.jpg", "trunc.jpg"],
            "payload": [
                encode_jpeg_shell(320, 240, b"AB\xffCD" * 10),
                encode_jpeg_shell(17, 999, b"scan"),
                encode_jpeg_shell(320, 240, b"x" * 40)[:15],  # dies in APP0
            ],
            "content_type": ["image/jpeg"] * 3,
            "n_bytes": [60, 40, 15],
        }
    )
    got = (
        decode_media(spark.createDataFrame(rows))
        .toPandas()
        .set_index("media_ref")
    )
    assert got.loc["a.jpg", "decode_backend"] == "stdlib-jpeg-header"
    assert (got.loc["a.jpg", "width"], got.loc["a.jpg", "height"]) == (320, 240)
    assert (got.loc["b.jpg", "width"], got.loc["b.jpg", "height"]) == (17, 999)
    assert got.loc["trunc.jpg", "decode_backend"] == "decode-error"
    assert got["feature"].map(len).eq(FEATURE_DIM).all()


def test_fetch_payloads_fabricates_decodable_jpeg(spark):
    """fetch_payloads' jpg branch emits a REAL 4:2:0 baseline JPEG whose
    SOF dims match the seed derivation AND whose luma fully decodes to the
    seeded content within the quant=2 tolerance (the png/wav analog)."""
    import hashlib

    import pandas as pd

    from chatvector_ai_spark.functions.codecs import jpeg_dimensions
    from chatvector_ai_spark.functions.jpegcodec import decode_jpeg_pixels
    from chatvector_ai_spark.operators.multimodal import fetch_payloads

    refs = [f"s3://media/doc-j/{i}.jpg" for i in range(4)]
    spans = pd.DataFrame(
        {
            "doc_id": ["dj"] * 4,
            "span_idx": list(range(4)),
            "span_offset": list(range(4)),
            "kind": ["image"] * 4,
            "media_ref": refs,
        }
    )
    got = fetch_payloads(spark.createDataFrame(spans)).toPandas().set_index("media_ref")
    for ref in refs:
        seed = hashlib.sha256(ref.encode()).digest()
        ew, eh = 8 + seed[0] % 16, 8 + seed[1] % 16
        payload = bytes(got.loc[ref, "payload"])
        assert jpeg_dimensions(payload) == (ew, eh, 3)
        w, h, gray = decode_jpeg_pixels(payload)
        assert (w, h) == (ew, eh)
        expected = bytes(
            seed[(x * 5 + y * 9 + seed[3]) % len(seed)]
            for y in range(eh)
            for x in range(ew)
        )
        err = max(abs(a - b) for a, b in zip(expected, gray))
        assert err <= 16, err  # quant=2 on non-smooth content
        assert got.loc[ref, "content_type"] == "image/jpeg"


def test_jpeg_shell_property_roundtrip():
    """Any (w, h, scan) → encode → parse returns exactly (w, h, 1), even
    when the scan is adversarially full of marker-looking bytes."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from chatvector_ai_spark.functions.codecs import encode_jpeg_shell, jpeg_dimensions

    @settings(max_examples=200, deadline=None)
    @given(
        w=st.integers(min_value=1, max_value=0xFFFF),
        h=st.integers(min_value=1, max_value=0xFFFF),
        scan=st.binary(min_size=0, max_size=512),
    )
    def check(w, h, scan):
        assert jpeg_dimensions(encode_jpeg_shell(w, h, scan)) == (w, h, 1)

    check()


def test_gif_dimensions_roundtrip_and_corruption():
    from chatvector_ai_spark.functions.codecs import encode_gif_shell, gif_dimensions

    assert gif_dimensions(encode_gif_shell(320, 200)) == (320, 200)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        gif_dimensions(b"GIF89a\x00")  # truncated descriptor
    with _pytest.raises(ValueError):
        gif_dimensions(encode_gif_shell(0, 10))  # zero width
    with _pytest.raises(ValueError):
        gif_dimensions(b"NOTGIF" + b"\x00" * 10)


def test_bmp_dimensions_roundtrip_topdown_and_corruption():
    from chatvector_ai_spark.functions.codecs import bmp_dimensions, encode_bmp_shell

    assert bmp_dimensions(encode_bmp_shell(64, 48)) == (64, 48)
    # top-down BMPs store negative height; absolute value is the size
    assert bmp_dimensions(encode_bmp_shell(64, -48)) == (64, 48)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        bmp_dimensions(b"BM" + b"\x00" * 10)  # truncated
    with _pytest.raises(ValueError):
        bmp_dimensions(b"XX" + b"\x00" * 40)


def test_resize_gray_box_filter_math():
    from chatvector_ai_spark.functions.codecs import resize_gray

    # 4x4 quadrant image: each 2x2 output pixel is the exact quadrant mean
    src = bytes(
        [0, 0, 100, 100,
         0, 0, 100, 100,
         200, 200, 50, 50,
         200, 200, 50, 50]
    )
    assert resize_gray(src, 4, 4, 2, 2) == bytes([0, 100, 200, 50])
    # non-uniform quadrant: integer mean (floor)
    src2 = bytes([0, 1, 2, 3])  # 2x2 → 1x1: (0+1+2+3)//4 = 1
    assert resize_gray(src2, 2, 2, 1, 1) == bytes([1])
    # upscale replicates source pixels (each output maps to >=1 src pixel)
    assert resize_gray(bytes([7]), 1, 1, 2, 2) == bytes([7] * 4)
    assert resize_gray(bytes([10, 30]), 2, 1, 4, 1) == bytes([10, 10, 30, 30])
    import pytest as _pytest

    with _pytest.raises(ValueError):
        resize_gray(b"\x00" * 5, 2, 2, 1, 1)  # wrong byte count
    with _pytest.raises(ValueError):
        resize_gray(b"\x00" * 4, 2, 2, 0, 1)  # degenerate target


def test_resize_images_stdlib_resizes_real_png(spark):
    """resize_images over an actual synthesized PNG:
    output is a decodable grayscale PNG at the target dims whose content
    is the box-filtered source (left-black/right-white splits survive);
    non-PNG payloads degrade to the labeled fake grid."""
    import pandas as pd

    from chatvector_ai_spark.functions.codecs import decode_png, encode_png
    from chatvector_ai_spark.operators.multimodal import resize_images

    # 8x8: left half 0, right half 255
    pixels = bytes((255 if x >= 4 else 0) for _ in range(8) for x in range(8))
    png = encode_png(8, 8, pixels, color_type=0)
    media = spark.createDataFrame(pd.DataFrame({
        "doc_id": ["d0", "d0"],
        "span_idx": [0, 1],
        "span_offset": [0, 1],
        "kind": ["image", "image"],
        "media_ref": ["m_png", "m_other"],
        "payload": [png, b"not-an-image"],
        "content_type": ["image/png", "application/octet-stream"],
        "n_bytes": [len(png), 12],
    }))
    got = {
        r["media_ref"]: r
        for r in resize_images(media, width=4, height=4).collect()
    }
    real = got["m_png"]
    assert real["resize_backend"] == "stdlib-png"
    assert (real["width"], real["height"]) == (4, 4)
    w, h, ch, gray = decode_png(bytes(real["resized"]))
    assert (w, h, ch) == (4, 4, 1)
    assert bytes(gray) == bytes((255 if x >= 2 else 0) for _ in range(4) for x in range(4))
    assert got["m_other"]["resize_backend"] == "fake"
    assert len(got["m_other"]["resized"]) == 16


def test_gif_pixel_roundtrip_and_interlace():
    from chatvector_ai_spark.functions.codecs import decode_gif_pixels, encode_gif

    # plain round-trip, including a >192-pixel image (forces a mid-stream
    # LZW CLEAR) and non-square shapes
    for w, h in [(1, 1), (5, 3), (16, 16), (64, 7)]:
        gray = bytes((x * 37 + y * 11) % 256 for y in range(h) for x in range(w))
        assert decode_gif_pixels(encode_gif(w, h, gray)) == (w, h, gray)

    # interlaced: encode rows in GIF 4-pass order, flip the interlace bit,
    # decode must restore natural row order
    w, h = 2, 8
    gray = bytes(range(w * h))
    pass_order = [0, 4, 2, 6, 1, 3, 5, 7]
    shuffled = b"".join(gray[y * w : (y + 1) * w] for y in pass_order)
    gif = bytearray(encode_gif(w, h, shuffled))
    desc_packed = 6 + 7 + 768 + 9  # header + LSD + GCT + descriptor body
    assert gif[desc_packed] == 0
    gif[desc_packed] = 0x40  # interlace flag
    assert decode_gif_pixels(bytes(gif)) == (w, h, gray)


def test_gif_lzw_kwkwk_and_corruption():
    import struct

    from chatvector_ai_spark.functions.codecs import decode_gif_pixels

    # hand-built GIF exercising the KwKwK LZW case: mcs=2, codes
    # [CLEAR=4, 1, 6, EOI=5] → indexes [1, 1, 1] (entry 6 = prev+prev[0]);
    # GCT size bits 1 → 4-entry palette (indexes 0..3)
    header = b"GIF89a" + struct.pack("<HHBBB", 3, 1, 0x81, 0, 0)
    palette = bytes([0, 0, 0, 90, 90, 90, 180, 180, 180, 255, 255, 255])
    desc = b"\x2c" + struct.pack("<HHHHB", 0, 0, 3, 1, 0)
    # pack codes LSB-first at 3 bits: 4, 1, 6, 5
    acc = 4 | (1 << 3) | (6 << 6) | (5 << 9)
    lzw = acc.to_bytes(2, "little")
    body = bytes([2, len(lzw)]) + lzw + b"\x00\x3b"
    w, h, gray = decode_gif_pixels(header + palette + desc + body)
    assert (w, h) == (3, 1)
    assert gray == bytes([90, 90, 90])

    # palette index out of range must raise, not wrap
    bad_acc = 4 | (3 << 3) | (5 << 6)  # CLEAR, index 3, EOI — then shrink palette
    bad_header = b"GIF89a" + struct.pack("<HHBBB", 1, 1, 0x80, 0, 0)  # 2-entry GCT
    bad_palette = bytes([0, 0, 0, 255, 255, 255])
    bad_desc = b"\x2c" + struct.pack("<HHHHB", 0, 0, 1, 1, 0)
    bad_lzw = bad_acc.to_bytes(2, "little")
    bad = bad_header + bad_palette + bad_desc + bytes([2, len(bad_lzw)]) + bad_lzw + b"\x00\x3b"
    import pytest as _pytest

    with _pytest.raises(ValueError):
        decode_gif_pixels(bad)


def test_bmp_pixel_roundtrip_padding_and_unsupported():
    from chatvector_ai_spark.functions.codecs import (
        decode_bmp_pixels,
        encode_bmp,
        encode_bmp_shell,
    )

    # w=3 → 9-byte rows padded to 12; both row orders round-trip
    gray = bytes([10, 20, 30, 40, 50, 60])
    assert decode_bmp_pixels(encode_bmp(3, 2, gray)) == (3, 2, gray)
    assert decode_bmp_pixels(encode_bmp(3, 2, gray, top_down=True)) == (3, 2, gray)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        decode_bmp_pixels(encode_bmp_shell(4, 4))  # header only, no pixels


def test_decode_media_stdlib_gif_bmp_real_pixels(spark):
    """decode_media on REAL GIF/BMP pixel payloads:
    labels flip from -header to full decode and the grid features come
    from the actual pixel content (left-dark/right-light asymmetry)."""
    import pandas as pd

    from chatvector_ai_spark.functions.codecs import encode_bmp, encode_gif
    from chatvector_ai_spark.operators.multimodal import decode_media

    w, h = 8, 8
    gray = bytes((255 if x >= 4 else 0) for _ in range(h) for x in range(w))
    media = spark.createDataFrame(pd.DataFrame({
        "doc_id": ["d0", "d0"],
        "span_idx": [0, 1],
        "span_offset": [0, 1],
        "kind": ["image", "image"],
        "media_ref": ["m_gif", "m_bmp"],
        "payload": [encode_gif(w, h, gray), encode_bmp(w, h, gray)],
        "content_type": ["image/gif", "image/bmp"],
        "n_bytes": [1, 1],
    }))
    got = {r["media_ref"]: r for r in decode_media(media).collect()}
    for ref, label in (("m_gif", "stdlib-gif"), ("m_bmp", "stdlib-bmp")):
        row = got[ref]
        assert row["decode_backend"] == label
        assert (row["width"], row["height"]) == (w, h)
        f = row["feature"]  # 4x4 grid, row-major: left half 0.0, right 1.0
        assert f == [0.0, 0.0, 1.0, 1.0] * 4


def test_resize_images_stdlib_gif_and_bmp(spark):
    """stdlib resize dispatches on magic: GIF and BMP payloads decode for
    real and come back as grayscale PNG thumbnails at the target dims."""
    import pandas as pd

    from chatvector_ai_spark.functions.codecs import (
        decode_png,
        encode_bmp,
        encode_gif,
    )
    from chatvector_ai_spark.operators.multimodal import resize_images

    w, h = 8, 4
    gray = bytes((y * w + x) * 7 % 256 for y in range(h) for x in range(w))
    media = spark.createDataFrame(pd.DataFrame({
        "doc_id": ["d0", "d0"],
        "span_idx": [0, 1],
        "span_offset": [0, 1],
        "kind": ["image", "image"],
        "media_ref": ["m_gif", "m_bmp"],
        "payload": [encode_gif(w, h, gray), encode_bmp(w, h, gray)],
        "content_type": ["image/gif", "image/bmp"],
        "n_bytes": [1, 1],
    }))
    got = {
        r["media_ref"]: r
        for r in resize_images(media, width=4, height=2).collect()
    }
    assert got["m_gif"]["resize_backend"] == "stdlib-gif"
    assert got["m_bmp"]["resize_backend"] == "stdlib-bmp"
    # both thumbnails are the SAME content resized → identical PNGs
    pw, ph, ch, pgray = decode_png(bytes(got["m_gif"]["resized"]))
    assert (pw, ph, ch) == (4, 2, 1)
    assert bytes(got["m_gif"]["resized"]) == bytes(got["m_bmp"]["resized"])


def test_jpeg_codec_roundtrips_gray_color_restart():
    """functions/jpegcodec: baseline encode→decode round-trips within ±2
    at quant=1 for grayscale, 4:2:0 color (luma plane), and restart-marker
    streams, across non-multiple-of-8 dims."""
    import random

    from chatvector_ai_spark.functions.jpegcodec import (
        decode_jpeg_pixels,
        encode_jpeg,
    )

    rng = random.Random(11)
    for w, h in [(8, 8), (17, 9), (5, 3), (32, 24)]:
        src = bytes((x * 3 + y * 5 + rng.randrange(8)) % 256 for y in range(h) for x in range(w))
        got = decode_jpeg_pixels(encode_jpeg(w, h, src, quant=1))
        assert got[0] == w and got[1] == h
        assert max(abs(a - b) for a, b in zip(src, got[2])) <= 2
    src = bytes((x * 11 + y * 7) % 256 for y in range(12) for x in range(20))
    for kwargs in ({"chroma": 190}, {"restart": 3}, {"chroma": 64, "restart": 2}):
        got = decode_jpeg_pixels(encode_jpeg(20, 12, src, quant=1, **kwargs))
        assert max(abs(a - b) for a, b in zip(src, got[2])) <= 2, kwargs
    # flat image at quant=1 is exact
    flat = bytes([77] * 256)
    assert decode_jpeg_pixels(encode_jpeg(16, 16, flat))[2] == flat


def test_jpeg_decoder_rejects_non_baseline_and_shells():
    """Progressive (SOF2) and marker-shell scans raise ValueError (the
    dispatch degrades them to the header backend); truncated streams and
    garbage raise too."""
    import pytest as _pytest

    from chatvector_ai_spark.functions.codecs import encode_jpeg_shell
    from chatvector_ai_spark.functions.jpegcodec import (
        decode_jpeg_pixels,
        encode_jpeg,
    )

    good = encode_jpeg(16, 16, bytes(range(256)))
    progressive = good.replace(b"\xff\xc0", b"\xff\xc2", 1)
    with _pytest.raises(ValueError, match="coding process"):
        decode_jpeg_pixels(progressive)
    with _pytest.raises(ValueError):
        decode_jpeg_pixels(encode_jpeg_shell(10, 10, b"opaque"))
    with _pytest.raises(ValueError):
        decode_jpeg_pixels(good[:40])
    with _pytest.raises(ValueError):
        decode_jpeg_pixels(b"\x00\x01")


def test_decode_media_stdlib_jpeg_real_pixels(spark):
    """A real baseline JPEG through the distributed decode_media gets
    the full-decode label and content-derived features; a progressive
    variant of the SAME bytes degrades to the header parse."""
    import pandas as pd

    from chatvector_ai_spark.functions.jpegcodec import encode_jpeg
    from chatvector_ai_spark.operators.multimodal import decode_media

    w, h = 16, 16
    gray = bytes((255 if x >= 8 else 0) for _ in range(h) for x in range(w))
    good = encode_jpeg(w, h, gray, quant=1, chroma=128)
    progressive = good.replace(b"\xff\xc0", b"\xff\xc2", 1)
    media = spark.createDataFrame(pd.DataFrame({
        "doc_id": ["d0", "d0"],
        "span_idx": [0, 1],
        "span_offset": [0, 1],
        "kind": ["image", "image"],
        "media_ref": ["m_base", "m_prog"],
        "payload": [good, progressive],
        "content_type": ["image/jpeg"] * 2,
        "n_bytes": [len(good), len(progressive)],
    }))
    got = {r["media_ref"]: r for r in decode_media(media).collect()}
    base = got["m_base"]
    assert base["decode_backend"] == "stdlib-jpeg"
    assert (base["width"], base["height"]) == (w, h)
    f = base["feature"]  # 4x4 grid: left half dark, right half bright
    assert all(v < 0.05 for i, v in enumerate(f) if i % 4 < 2)
    assert all(v > 0.95 for i, v in enumerate(f) if i % 4 >= 2)
    assert got["m_prog"]["decode_backend"] == "stdlib-jpeg-header"
    assert (got["m_prog"]["width"], got["m_prog"]["height"]) == (w, h)


def test_resize_images_stdlib_jpeg(spark):
    """stdlib resize decodes baseline JPEG payloads for real and emits a
    grayscale PNG thumbnail whose content is the box-filtered luma."""
    import pandas as pd

    from chatvector_ai_spark.functions.codecs import decode_png
    from chatvector_ai_spark.functions.jpegcodec import encode_jpeg
    from chatvector_ai_spark.operators.multimodal import resize_images

    w, h = 16, 8
    gray = bytes((255 if x >= 8 else 0) for _ in range(h) for x in range(w))
    media = spark.createDataFrame(pd.DataFrame({
        "doc_id": ["d0"],
        "span_idx": [0],
        "span_offset": [0],
        "kind": ["image"],
        "media_ref": ["m_jpg"],
        "payload": [encode_jpeg(w, h, gray, quant=1)],
        "content_type": ["image/jpeg"],
        "n_bytes": [1],
    }))
    row = resize_images(media, width=4, height=2).collect()[0]
    assert row["resize_backend"] == "stdlib-jpeg"
    pw, ph, ch, small = decode_png(bytes(row["resized"]))
    assert (pw, ph, ch) == (4, 2, 1)
    # halves survive the resize within jpeg quantization tolerance
    assert all(v <= 2 for v in small[0:2]) and all(v >= 253 for v in small[2:4])


def test_mp4_duration_box_walk():
    import struct as _struct

    import pytest as _pytest

    from chatvector_ai_spark.functions.codecs import (
        encode_mp4_shell,
        mp4_duration_ms,
    )

    assert mp4_duration_ms(encode_mp4_shell(3500)) == 3500
    assert mp4_duration_ms(encode_mp4_shell(90000, timescale=600)) == 90000
    # version-1 mvhd (64-bit times)
    mvhd1 = (
        b"\x01\x00\x00\x00" + b"\x00" * 16  # version 1, ctime/mtime u64
        + _struct.pack(">I", 1000) + _struct.pack(">Q", 2750) + b"\x00" * 80
    )
    moov = _struct.pack(">I", 16 + len(mvhd1)) + b"moov" + _struct.pack(
        ">I", 8 + len(mvhd1)
    ) + b"mvhd" + mvhd1
    ftyp = _struct.pack(">I", 16) + b"ftypisom" + _struct.pack(">I", 0)
    assert mp4_duration_ms(ftyp + moov) == 2750
    with _pytest.raises(ValueError):
        mp4_duration_ms(b"\x00\x00\x00\x08free")  # no ftyp
    with _pytest.raises(ValueError):
        mp4_duration_ms(ftyp)  # no moov
    with _pytest.raises(ValueError):
        mp4_duration_ms(ftyp + b"\x00\x00\x00\x03bad")  # bad box size


def test_decode_media_stdlib_mp4_real_duration(spark):
    import pandas as pd

    from chatvector_ai_spark.functions.codecs import encode_mp4_shell
    from chatvector_ai_spark.operators.multimodal import decode_media

    good = encode_mp4_shell(4321)
    corrupt = good[:8] + b"\x00\x00\x00\x03bad"
    media = spark.createDataFrame(pd.DataFrame({
        "doc_id": ["d0", "d0"],
        "span_idx": [0, 1],
        "span_offset": [0, 1],
        "kind": ["video", "video"],
        "media_ref": ["m_mp4", "m_bad"],
        "payload": [good, corrupt],
        "content_type": ["video/mp4"] * 2,
        "n_bytes": [len(good), len(corrupt)],
    }))
    got = {r["media_ref"]: r for r in decode_media(media).collect()}
    assert got["m_mp4"]["decode_backend"] == "stdlib-mp4-header"
    assert got["m_mp4"]["duration_ms"] == 4321
    assert got["m_bad"]["decode_backend"] == "decode-error"


def test_sample_frames_stdlib_real_wav_windows_and_mp4_grid(spark):
    """stdlib frame sampling: WAV frames carry REAL per-window band-RMS
    features (loud first second, silent second second → feature energy
    differs), and MP4 rows get the REAL mvhd duration as the frame grid."""
    import pandas as pd

    from chatvector_ai_spark.functions.codecs import encode_mp4_shell, encode_wav
    from chatvector_ai_spark.operators.multimodal import sample_frames

    rate = 8000
    loud = [20000] * rate          # second 0: full-scale-ish
    quiet = [0] * rate             # second 1: silence
    wav = encode_wav(loud + quiet, sample_rate=rate)
    mp4 = encode_mp4_shell(3500)
    media = spark.createDataFrame(pd.DataFrame({
        "doc_id": ["d0", "d0"],
        "span_idx": [0, 1],
        "span_offset": [0, 1],
        "kind": ["audio", "video"],
        "media_ref": ["m_wav", "m_mp4"],
        "payload": [wav, mp4],
        "content_type": ["audio/wav", "video/mp4"],
        "n_bytes": [len(wav), len(mp4)],
    }))
    got = sample_frames(media, every_ms=1000, max_frames=8).toPandas()
    w = got[got["media_ref"] == "m_wav"].sort_values("frame_idx")
    assert list(w["frame_backend"].unique()) == ["stdlib-wav"]
    assert len(w) == 2  # 2000 ms / 1000 ms
    f0, f1 = list(w["frame_feature"])
    assert all(abs(v - 20000 / 32768.0) < 1e-6 for v in f0)  # real RMS
    assert all(v == 0.0 for v in f1)                          # real silence
    m = got[got["media_ref"] == "m_mp4"]
    assert list(m["frame_backend"].unique()) == ["stdlib-mp4-header"]
    assert len(m) == 3  # real mvhd 3500 ms / 1000 ms
    assert list(m.sort_values("frame_idx")["frame_ms"]) == [0, 1000, 2000]


def test_jpeg_property_roundtrip():
    """Property: any (w, h, pixels, quant≤2, chroma?) round-trips within
    the quantization error bound through encode_jpeg → decode_jpeg_pixels."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from chatvector_ai_spark.functions.jpegcodec import (
        decode_jpeg_pixels,
        encode_jpeg,
    )

    @settings(max_examples=30, deadline=None)
    @given(
        w=st.integers(min_value=1, max_value=24),
        h=st.integers(min_value=1, max_value=24),
        seed=st.integers(min_value=0, max_value=2**32 - 1),
        quant=st.integers(min_value=1, max_value=2),
        chroma=st.one_of(st.none(), st.integers(min_value=0, max_value=255)),
    )
    def check(w, h, seed, quant, chroma):
        import random

        rng = random.Random(seed)
        src = bytes(rng.randrange(256) for _ in range(w * h))
        gw, gh, got = decode_jpeg_pixels(
            encode_jpeg(w, h, src, quant=quant, chroma=chroma)
        )
        assert (gw, gh) == (w, h)
        # per-pixel worst case: 64 coefficients each off by quant/2,
        # basis product ≤ 1/4 → bound 8·quant; use it exactly
        bound = 8 * quant
        assert max(abs(a - b) for a, b in zip(src, got)) <= bound

    check()


def test_mp4_sample_table_round_trip_and_validation():
    import struct as _struct

    import pytest as _pytest

    from chatvector_ai_spark.functions.codecs import (
        encode_mp4_shell,
        encode_mp4_with_samples,
        mp4_duration_ms,
        mp4_sample_table,
    )

    payloads = [b"AAAA", b"BBBBBB", b"CC", b"DDDDDDDD"]
    data = encode_mp4_with_samples(payloads, frame_ms=40)
    table = mp4_sample_table(data)
    assert [t for t, _, _ in table] == [0, 40, 80, 120]
    assert [s for _, _, s in table] == [4, 6, 2, 8]
    # offsets address the REAL payload bytes in mdat
    for (_, off, size), p in zip(table, payloads):
        assert data[off : off + size] == p
    assert mp4_duration_ms(data) == 160
    # metadata-only shells have no stbl -> loud error, not garbage
    with _pytest.raises(ValueError):
        mp4_sample_table(encode_mp4_shell(3000))
    # truncating mdat makes a sample range run out of bounds
    bad = encode_mp4_with_samples([b"X" * 64], frame_ms=40)
    ftyp_len = 16
    (mdat_size,) = _struct.unpack_from(">I", bad, ftyp_len)
    clipped = bad[: ftyp_len + 8] + bad[ftyp_len + mdat_size :]  # drop payload
    with _pytest.raises(ValueError):
        mp4_sample_table(clipped)


def test_byte_band_features_discriminate_and_normalize():
    from chatvector_ai_spark.functions.codecs import byte_band_features

    a = byte_band_features(b"\x00" * 10, bands=8)
    b = byte_band_features(b"\xff" * 10, bands=8)
    assert a != b and a[0] == 1.0 and b[-1] == 1.0
    assert byte_band_features(b"", bands=8) == [0.0] * 8
    mixed = byte_band_features(bytes(range(256)), bands=8)
    assert abs(sum(v * v for v in mixed) - 1.0) < 1e-9
