"""Multimodal span plumbing: explode order, fetch metadata, decode shape,
validation split, and the per-row degrade contract of the five media
operators (real stdlib codecs, real Spark path)."""

import hashlib

import numpy as np
import pytest

from chatvector_ai_spark import datagen as dg
from chatvector_ai_spark.functions.codecs import decode_png
from chatvector_ai_spark.operators.multimodal import (
    FEATURE_DIM,
    audio_phash,
    decode_media,
    fetch_payloads,
    image_phash,
    media_spans,
    resize_images,
    sample_frames,
    validate_media,
)

N_DOCS = 60


@pytest.fixture(scope="module")
def media(spark):
    docs = dg.documents_df(spark, N_DOCS)
    return fetch_payloads(media_spans(docs)).cache()


def test_media_spans_match_datagen_order(spark, media):
    got = media.toPandas().sort_values(["doc_id", "span_idx"])
    expected = []
    for i in range(N_DOCS):
        for idx, s in enumerate(dg.doc_spans(i)):
            if s.kind != "text":
                expected.append((dg.doc_id_of(i), idx, s.offset, s.kind, s.media_ref))
    assert [tuple(r) for r in got[["doc_id", "span_idx", "span_offset", "kind", "media_ref"]].itertuples(index=False)] == expected


def test_fetch_is_deterministic_with_typed_metadata(media):
    pdf = media.toPandas()
    assert (pdf["n_bytes"] == pdf["payload"].map(len)).all()
    assert set(pdf["content_type"]) <= {"image/png", "text/csv", "audio/wav", "video/mp4"}
    # deterministic: same ref → same payload
    one = pdf.iloc[0]
    again = pdf[pdf["media_ref"] == one["media_ref"]]["payload"].iloc[0]
    assert bytes(again) == bytes(one["payload"])


def test_decode_features_fixed_dim_and_dims(spark, media):
    feats = decode_media(media).toPandas()
    assert len(feats) == media.count()
    assert feats["feature"].map(len).eq(FEATURE_DIM).all()
    # the sha-seeded fake is a unit vector; decoded features are [0, 1]
    fake = feats[feats["decode_backend"] == "fake"]
    assert len(fake) > 0
    norms = fake["feature"].map(lambda v: float(np.linalg.norm(np.asarray(v))))
    assert ((norms - 1.0).abs() < 1e-5).all()
    real = feats[feats["decode_backend"].str.startswith("stdlib-")]
    assert len(real) > 0
    assert real["feature"].map(lambda v: 0.0 <= min(v) and max(v) <= 1.0).all()
    img = feats[feats["kind"] == "image"]
    if len(img):
        assert img["width"].notna().all() and img["duration_ms"].isna().all()
    au = feats[feats["kind"] == "audio"]
    if len(au):
        assert au["duration_ms"].notna().all() and au["width"].isna().all()


def test_resize_images_fixed_grid(spark, media):
    out = resize_images(media, width=8, height=8).toPandas()
    n_images = media.where("kind = 'image'").count()
    assert len(out) == n_images
    assert (out["width"] == 8).all() and (out["height"] == 8).all()
    # decoded images come back as 8x8 grayscale PNGs, the fake as 64 bytes
    for _, row in out.iterrows():
        if row["resize_backend"] == "fake":
            assert len(row["resized"]) == 64
        else:
            assert row["resize_backend"].startswith("stdlib-")
            assert decode_png(bytes(row["resized"]))[:3] == (8, 8, 1)
    # deterministic: same ref → same thumbnail bytes
    if len(out) > 1:
        by_ref = out.groupby("media_ref")["resized"].nunique()
        assert (by_ref == 1).all()


def test_sample_frames_bounded_and_ordered(spark, media):
    frames = sample_frames(media, every_ms=500, max_frames=4).toPandas()
    n_av = media.where("kind IN ('audio','video')").count()
    if n_av == 0:
        pytest.skip("no audio/video spans in sample")
    assert frames["frame_idx"].max() <= 3  # capped
    assert (frames["frame_ms"] == frames["frame_idx"] * 500).all()
    per_span = frames.groupby(["doc_id", "span_idx"])["frame_idx"].agg(["min", "count", "max"])
    assert (per_span["min"] == 0).all()
    assert (per_span["max"] == per_span["count"] - 1).all()  # contiguous
    assert frames["frame_feature"].map(len).eq(FEATURE_DIM).all()


def test_validation_splits_oversize(spark, media):
    valid, quarantine = validate_media(media, max_bytes=1 << 20)
    assert valid.count() == media.count()
    assert quarantine.count() == 0
    valid2, quar2 = validate_media(media, max_bytes=100)
    assert valid2.count() + quar2.count() == media.count()
    assert quar2.count() > 0
    assert set(quar2.toPandas()["error_code"]) == {"MEDIA_INVALID"}


def test_stdlib_backend_decodes_gif_and_bmp_headers(spark):
    from chatvector_ai_spark.functions.codecs import encode_bmp_shell, encode_gif_shell
    from chatvector_ai_spark.operators.multimodal import decode_media

    import pandas as pd

    media = spark.createDataFrame(pd.DataFrame({
        "doc_id": ["d0", "d0"],
        "span_idx": [0, 1],
        "span_offset": [0, 1],
        "kind": ["image", "image"],
        "media_ref": ["m1", "m2"],
        "payload": [bytes(encode_gif_shell(320, 200)), bytes(encode_bmp_shell(64, 48))],
        "content_type": ["image/gif", "image/bmp"],
        "n_bytes": [24, 54],
    }))
    got = {r["media_ref"]: r for r in decode_media(media).collect()}
    assert got["m1"]["decode_backend"] == "stdlib-gif-header"
    assert (got["m1"]["width"], got["m1"]["height"]) == (320, 200)
    assert got["m2"]["decode_backend"] == "stdlib-bmp-header"
    assert (got["m2"]["width"], got["m2"]["height"]) == (64, 48)


def test_sample_frames_stdlib_mp4_uses_real_sample_bytes(spark):
    """An MP4 with a complete stbl gets REAL per-frame features: the
    byte-band histogram of each sampled frame's own mdat payload slice,
    at the stts-derived sample times; a metadata-only shell keeps the
    real mvhd duration grid with the pseudo-feature fallback."""
    import pandas as pd

    from chatvector_ai_spark.functions.codecs import (
        byte_band_features,
        encode_mp4_shell,
        encode_mp4_with_samples,
    )

    # two very different payloads, 500 ms apart
    full = encode_mp4_with_samples([b"\x00" * 32, b"\xff" * 32], frame_ms=500)
    shell = encode_mp4_shell(2000)
    media = spark.createDataFrame(pd.DataFrame({
        "doc_id": ["d0", "d0"],
        "span_idx": [0, 1],
        "span_offset": [0, 1],
        "kind": ["video", "video"],
        "media_ref": ["m_full", "m_shell"],
        "payload": [bytes(full), bytes(shell)],
        "content_type": ["video/mp4", "video/mp4"],
        "n_bytes": [len(full), len(shell)],
    }))
    got = sample_frames(media, every_ms=500, max_frames=4).toPandas()
    f = got[got["media_ref"] == "m_full"].sort_values("frame_idx")
    assert list(f["frame_backend"].unique()) == ["stdlib-mp4"]
    assert list(f["frame_ms"]) == [0, 500]  # duration 1000ms / 500ms grid
    feats = [list(v) for v in f["frame_feature"]]
    assert feats[0] == byte_band_features(b"\x00" * 32, bands=FEATURE_DIM)
    assert feats[1] == byte_band_features(b"\xff" * 32, bands=FEATURE_DIM)
    assert feats[0] != feats[1]
    s = got[got["media_ref"] == "m_shell"]
    assert set(s["frame_backend"]) == {"stdlib-mp4-header"}
    assert len(s) == 4  # 2000ms duration, capped at max_frames=4


def test_image_phash_stable_under_tiny_edit_and_bands(spark):
    from chatvector_ai_spark.functions.codecs import encode_png
    from chatvector_ai_spark.operators.multimodal import image_phash

    import pandas as pd

    # 16x16 grayscale: left half black, right half white -> aHash has the
    # right-half bits set; a one-pixel edit must not move any bit
    base = bytearray(256)
    for y in range(16):
        for x in range(8, 16):
            base[y * 16 + x] = 255
    edited = bytearray(base)
    edited[5 * 16 + 12] = 254  # one white pixel dimmed imperceptibly
    inverted = bytes(255 - v for v in base)
    media = spark.createDataFrame(pd.DataFrame({
        "doc_id": ["d0"] * 5 + ["d1"],
        "span_idx": [0, 1, 2, 3, 4, 0],
        "kind": ["image"] * 5 + ["audio"],
        "media_ref": ["orig", "edit", "inv", "opaque1", "opaque2", "skip"],
        "payload": [bytes(encode_png(16, 16, bytes(base))),
                    bytes(encode_png(16, 16, bytes(edited))),
                    bytes(encode_png(16, 16, inverted)),
                    b"opaque one", b"opaque two",
                    b"RIFFxxxxWAVE"],
    }))
    got = {r["media_ref"]: r for r in image_phash(media).collect()}
    assert "skip" not in got  # non-image spans filtered JVM-side
    assert got["orig"]["phash_backend"] == "stdlib-png"
    assert got["orig"]["phash"] == got["edit"]["phash"]  # tiny edit: identical
    assert got["orig"]["phash"] != got["inv"]["phash"]
    # bands are exact 16-bit slices, MSB-first: shared bands = LSH buckets
    hv = got["orig"]["phash"]
    for i, bname in enumerate(["band0", "band1", "band2", "band3"]):
        assert got["orig"][bname] == (hv >> (48 - 16 * i)) & 0xFFFF
    assert [got["orig"][f"band{i}"] for i in range(4)] == \
        [got["edit"][f"band{i}"] for i in range(4)]
    # undecodable payloads: the fake, the first 64 bits of sha256(payload)
    for ref, payload in (("opaque1", b"opaque one"), ("opaque2", b"opaque two")):
        assert got[ref]["phash_backend"] == "fake"
        sha = hashlib.sha256(payload).digest()
        assert got[ref]["phash"] == int.from_bytes(sha[:8], "big", signed=True)


def test_image_neardup_pairs_band_lsh_and_hamming(spark):
    from chatvector_ai_spark.functions.codecs import encode_png
    from chatvector_ai_spark.operators.multimodal import image_neardup_pairs, image_phash

    import pandas as pd

    # three images: A, A' (A with a 2x2 block flipped -> few aHash bits
    # move), and B (inverted -> far from both)
    base = bytearray(256)
    for y in range(16):
        for x in range(8, 16):
            base[y * 16 + x] = 255
    near = bytearray(base)
    for y in (0, 1):          # flip one 8x8-cell's worth of pixels
        for x in (0, 1):
            near[y * 16 + x] = 255
    far = bytes(255 - v for v in base)
    media = spark.createDataFrame(pd.DataFrame({
        "doc_id": ["d"] * 3,
        "span_idx": [0, 1, 2],
        "kind": ["image"] * 3,
        "media_ref": ["A", "A2", "B"],
        "payload": [bytes(encode_png(16, 16, bytes(base))),
                    bytes(encode_png(16, 16, bytes(near))),
                    bytes(encode_png(16, 16, far))],
    }))
    ph = image_phash(media)
    pairs = {(r.a_ref, r.b_ref): r.hamming for r in image_neardup_pairs(ph, max_hamming=3).collect()}
    assert ("A", "A2") in pairs and pairs[("A", "A2")] <= 3  # near pair found
    assert not any("B" in p for p in pairs)                   # far image excluded
    # each surviving pair reported exactly once despite 4 band buckets
    assert len(pairs) == 1


def test_audio_phash_envelope_and_cross_modal_pairing(spark):
    from chatvector_ai_spark.functions.codecs import encode_wav
    from chatvector_ai_spark.operators.multimodal import audio_phash, image_neardup_pairs

    import pandas as pd

    # loud first half / silent second half; a tiny gain ride keeps the
    # envelope shape; the reversed signal flips it
    loud_first = [1000] * 512 + [0] * 512
    gain_rode = [1010] * 512 + [0] * 512
    reversed_ = [0] * 512 + [1000] * 512
    media = spark.createDataFrame(pd.DataFrame({
        "doc_id": ["d"] * 4,
        "span_idx": [0, 1, 2, 3],
        "kind": ["audio"] * 3 + ["image"],
        "media_ref": ["A", "A2", "R", "skip"],
        "payload": [bytes(encode_wav(loud_first)), bytes(encode_wav(gain_rode)),
                    bytes(encode_wav(reversed_)), b"\x89PNG\r\n\x1a\nxxxx"],
    }))
    got = {r["media_ref"]: r for r in audio_phash(media).collect()}
    assert "skip" not in got  # non-audio spans filtered JVM-side
    assert got["A"]["phash_backend"] == "stdlib-wav"
    assert got["A"]["phash"] == got["A2"]["phash"]   # gain ride: same envelope
    assert got["A"]["phash"] != got["R"]["phash"]    # reversed: different
    # the shared band/DDL contract means the image pair generator works as-is
    pairs = {(r.a_ref, r.b_ref) for r in
             image_neardup_pairs(audio_phash(media), max_hamming=3).collect()}
    assert ("A", "A2") in pairs and not any("R" in p for p in pairs)


def _degrade_payloads():
    from chatvector_ai_spark.functions.codecs import encode_mp4_shell, encode_png, encode_wav

    return {
        "trunc_png": encode_png(16, 16, bytes(256))[:20],
        "trunc_wav": encode_wav([5] * 100)[:30],
        "mp4_shell": encode_mp4_shell(3500),
        "opaque": b"not-an-image",
        "null": None,
    }


# per operator: the span kind it reads, its label column, and the label each
# payload of _degrade_payloads gets
_DEGRADE_CASES = {
    "decode_media": (decode_media, "image", "decode_backend", {
        "trunc_png": "decode-error", "trunc_wav": "decode-error",
        "mp4_shell": "stdlib-mp4-header", "opaque": "fake", "null": "decode-error"}),
    "resize_images": (lambda m: resize_images(m, width=4, height=4), "image", "resize_backend", {
        "trunc_png": "decode-error", "trunc_wav": "fake", "mp4_shell": "fake", "opaque": "fake",
        "null": "decode-error"}),
    "image_phash": (image_phash, "image", "phash_backend", {
        "trunc_png": "decode-error", "trunc_wav": "fake", "mp4_shell": "fake", "opaque": "fake",
        "null": "decode-error"}),
    "audio_phash": (audio_phash, "audio", "phash_backend", {
        "trunc_png": "fake", "trunc_wav": "decode-error", "mp4_shell": "fake", "opaque": "fake",
        "null": "decode-error"}),
    "sample_frames": (lambda m: sample_frames(m, every_ms=500, max_frames=4), "video",
                      "frame_backend", {
        "trunc_png": "fake", "trunc_wav": "decode-error",
        "mp4_shell": "stdlib-mp4-header", "opaque": "fake", "null": "decode-error"}),
}


@pytest.mark.parametrize("op", sorted(_DEGRADE_CASES))
def test_media_operators_degrade_per_row(spark, op):
    """The degrade contract of every media operator: a truncated PNG, a
    truncated WAV, an MP4 shell, opaque bytes and a NULL payload (a ref
    not fetched) in one batch each yield their own labelled row(s) — a
    real header parse, the sha-seeded fake or ``decode-error`` — and the
    Spark task never fails."""
    import pandas as pd

    run, kind, label_col, expected = _DEGRADE_CASES[op]
    payloads = _degrade_payloads()
    media = spark.createDataFrame(pd.DataFrame({
        "doc_id": ["d0"] * len(payloads),
        "span_idx": list(range(len(payloads))),
        "span_offset": list(range(len(payloads))),
        "kind": [kind] * len(payloads),
        "media_ref": list(payloads),
        "payload": list(payloads.values()),
        "content_type": ["application/octet-stream"] * len(payloads),
        "n_bytes": [len(p or b"") for p in payloads.values()],
    })).repartition(1)
    got = run(media).toPandas()
    labels = got.groupby("media_ref")[label_col].agg(set).to_dict()
    assert labels == {ref: {label} for ref, label in expected.items()}
