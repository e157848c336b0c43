"""Multimodal span processing: opaque binary payloads + typed metadata.

The interleaved input table carries media spans as references
(``media_ref``); at 100 TB the payload bytes live in object storage and the
engine treats them as opaque ``binary`` columns with typed metadata structs.
This module supplies the Spark-side plumbing — schemas, fetch/decode/
feature-extract operators as Arrow-batched ``mapInPandas`` stages, bounded
batch shapes — with the codec step stubbed: the sandbox has no image/audio
libraries, so ``decode_media`` ships a deterministic fake decoder (payload →
stable pseudo-features) behind the same signature a real libjpeg/ffmpeg
backend would implement, and raises ``NotImplementedError`` when a real
backend is requested.

Reference parity: media handling extends the reference's MIME
allowlist/validation gate (ingestion_pipeline.py:752-801) — rows failing
validation split into a quarantine output, never fail the stage
(queue_asyncio.py:207-278 DLQ semantics).
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Degrade-per-row contract: the stdlib decoders raise ValueError on the
# shapes they document, but truncated/hostile bytes can also surface as
# struct.error (short unpack) or IndexError (short buffer) from deep in a
# parse — one corrupt payload must degrade ITS row, never fail the whole
# Spark task, so every mapInPandas degrade handler catches all three.
_DECODE_ERRORS = (ValueError, struct.error, IndexError)

MEDIA_KINDS = ("image", "table", "audio", "video")

# typed metadata per media row; the binary payload column is nullable (refs
# may be fetched lazily)
MEDIA_ROW_DDL = (
    "doc_id string, span_idx int, span_offset int, kind string, media_ref string, "
    "payload binary, content_type string, n_bytes bigint"
)

FEATURE_ROW_DDL = (
    "doc_id string, span_idx int, kind string, media_ref string, "
    "feature array<float>, width int, height int, duration_ms int, decode_backend string"
)

_CONTENT_TYPES = {
    "png": "image/png", "jpg": "image/jpeg", "csv": "text/csv",
    "wav": "audio/wav", "mp4": "video/mp4",
}

FEATURE_DIM = 16


def media_spans(docs: DataFrame) -> DataFrame:
    """documents(doc_id, spans[]) → one row per media span, order preserved.

    Narrow: posexplode keeps the span index; text spans are filtered
    JVM-side so only media rows reach any Python stage downstream.
    """
    exploded = docs.select(
        "doc_id", F.posexplode("spans").alias("span_idx", "span")
    ).select(
        "doc_id",
        "span_idx",
        F.col("span.offset").alias("span_offset"),
        F.col("span.kind").alias("kind"),
        F.col("span.media_ref").alias("media_ref"),
    )
    return exploded.where(F.col("kind") != "text")


def fetch_payloads(media: DataFrame, max_bytes: int = 1 << 20) -> DataFrame:
    """Attach (deterministic fake) payload bytes + typed metadata.

    In production this stage is an object-store range read inside
    mapInPandas (per-executor connection reuse, bounded by Arrow batch
    size); here payloads are synthesized from the ref so the downstream
    plumbing is real and testable.
    """

    def fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from chatvector_ai_spark.functions.codecs import (
            encode_png,
            encode_wav,
        )
        from chatvector_ai_spark.functions.jpegcodec import encode_jpeg

        for pdf in batches:
            payloads, ctypes, sizes = [], [], []
            for ref in pdf["media_ref"]:
                seed = hashlib.sha256(ref.encode()).digest()
                ext = ref.rsplit(".", 1)[-1]
                if ext == "png":
                    # a REAL (stdlib-decodable) PNG, content seeded by ref
                    w, h = 8 + seed[0] % 8, 8 + seed[1] % 8
                    px = bytes(
                        seed[(x * 7 + y * 13 + seed[2]) % len(seed)]
                        for y in range(h)
                        for x in range(w)
                    )
                    payload = encode_png(w, h, px, color_type=0)
                elif ext == "wav":
                    # a REAL PCM WAV, ~0.1-0.3 s seeded by ref
                    n = 800 + seed[0] * 8
                    payload = encode_wav(
                        [
                            (seed[i % len(seed)] - 128) * 200
                            for i in range(n)
                        ],
                        sample_rate=8000,
                    )
                elif ext == "jpg":
                    # a REAL baseline 4:2:0 JPEG (functions/jpegcodec):
                    # seeded luma content, constant chroma, decodable by
                    # the stdlib backend end-to-end
                    w, h = 8 + seed[0] % 16, 8 + seed[1] % 16
                    px = bytes(
                        seed[(x * 5 + y * 9 + seed[3]) % len(seed)]
                        for y in range(h)
                        for x in range(w)
                    )
                    payload = encode_jpeg(
                        w, h, px, quant=2, chroma=seed[4], restart=0
                    )
                else:
                    n = 64 + seed[0]  # deterministic opaque payload
                    payload = (seed * ((n // len(seed)) + 1))[:n]
                payloads.append(payload)
                ctypes.append(_CONTENT_TYPES.get(ext, "application/octet-stream"))
                sizes.append(len(payload))
            out = pdf.copy()
            out["payload"] = payloads
            out["content_type"] = ctypes
            out["n_bytes"] = sizes
            yield out

    return media.mapInPandas(fetch, schema=MEDIA_ROW_DDL)


def decode_media(media: DataFrame, backend: str = "fake") -> DataFrame:
    """Decode payloads → fixed-dim feature vectors + media dims.

    ``backend='stdlib'``: REAL decode for PNG, GIF, BMP, baseline JPEG
    and WAV payloads using the pure-stdlib codecs (functions/codecs.py +
    functions/jpegcodec.py): PNG pixels inflated+unfiltered, GIF pixels
    LZW-expanded through the palette, BMP BGR rows unpadded, JPEG
    Huffman-decoded + dequantized + IDCT'd (gray = luma plane), WAV
    duration from the PCM frame count — features pooled from the actual
    decoded content. Shapes outside what each pixel path expresses
    (progressive/arithmetic/12-bit JPEG, descriptor-only GIF/BMP shells)
    keep their real header parse under the ``-header`` labels. Other
    payloads (MP4, …) fall through to the deterministic pseudo-decode with
    ``decode_backend='fake'`` so the row is still produced (a real
    deployment would register libjpeg/ffmpeg backends behind the same
    dispatch for throughput).

    ``backend='fake'``: deterministic pseudo-decode (sha-seeded features,
    dims derived from payload) — exercises the full distributed path with
    zero codec work.

    Any other backend raises NotImplementedError (ffmpeg/libjpeg are not
    in this environment).
    """
    if backend == "stdlib":
        return _decode_media_stdlib(media)
    if backend != "fake":
        raise NotImplementedError(
            f"media decode backend {backend!r} requires codec libraries not "
            "present in this environment; 'stdlib' (PNG/WAV) and the "
            "deterministic 'fake' backend are available"
        )

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats, widths, heights, durs = [], [], [], []
            for payload, kind in zip(pdf["payload"], pdf["kind"]):
                vec, h = _fake_feature(bytes(payload))
                feats.append(vec)
                w, ht, ms = _fake_dims(kind, h)
                widths.append(w); heights.append(ht); durs.append(ms)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"], "span_idx": pdf["span_idx"],
                    "kind": pdf["kind"], "media_ref": pdf["media_ref"],
                    "feature": feats, "width": pd.array(widths, dtype="Int32"),
                    "height": pd.array(heights, dtype="Int32"),
                    "duration_ms": pd.array(durs, dtype="Int32"),
                    "decode_backend": "fake",
                }
            )

    return media.mapInPandas(decode, schema=FEATURE_ROW_DDL)


def _fake_feature(payload: bytes) -> tuple[list[float], bytes]:
    """sha-seeded unit feature vector (the fake backend's contract)."""
    h = hashlib.sha256(payload).digest()
    vec = np.frombuffer(
        (h * (FEATURE_DIM // len(h) + 1))[:FEATURE_DIM], dtype=np.uint8
    ).astype(np.float32)
    norm = float(np.linalg.norm(vec))
    return (vec / norm if norm else vec).tolist(), h


def _fake_dims(kind: str, h: bytes) -> tuple[int | None, int | None, int | None]:
    """(width, height, duration_ms) the fake backend derives from the
    payload digest *h*: dims for images, a duration for audio/video."""
    if kind == "image":
        return 64 + h[0], 64 + h[1], None
    if kind in ("audio", "video"):
        return None, None, 1000 + int.from_bytes(h[2:4], "big")
    return None, None, None


def _decode_media_stdlib(media: DataFrame) -> DataFrame:
    """Real PNG/WAV decode via functions/codecs (see decode_media)."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from chatvector_ai_spark.functions.codecs import (
            BMP_MAGIC,
            GIF_MAGICS,
            JPEG_MAGIC,
            PNG_MAGIC,
            WAV_MAGIC,
            bmp_dimensions,
            decode_bmp_pixels,
            decode_gif_pixels,
            decode_png,
            decode_wav,
            gif_dimensions,
            is_mp4,
            jpeg_dimensions,
            mp4_duration_ms,
            png_grid_features,
            wav_band_features,
        )
        from chatvector_ai_spark.functions.jpegcodec import decode_jpeg_pixels

        import struct

        for pdf in batches:
            feats, widths, heights, durs, backends = [], [], [], [], []
            for payload, kind in zip(pdf["payload"], pdf["kind"]):
                data = bytes(payload)
                decoded = False
                # a corrupt payload must degrade to the labeled fake row,
                # never crash the task (at scale one bad blob in a billion
                # would otherwise kill the stage; the label lets a
                # downstream filter quarantine 'decode-error' rows)
                try:
                    if data.startswith(PNG_MAGIC):
                        w, h, _ch, gray = decode_png(data)
                        feats.append([float(v) for v in png_grid_features(gray, w, h, grid=4)])
                        widths.append(w); heights.append(h); durs.append(None)
                        backends.append("stdlib-png")
                        decoded = True
                    elif data.startswith(WAV_MAGIC):
                        _rate, duration_ms, samples = decode_wav(data)
                        feats.append([float(v) for v in wav_band_features(samples, bands=FEATURE_DIM)])
                        widths.append(None); heights.append(None); durs.append(duration_ms)
                        backends.append("stdlib-wav")
                        decoded = True
                    elif data.startswith(JPEG_MAGIC):
                        # REAL baseline decode (functions/jpegcodec:
                        # Huffman + dequant + IDCT, gray = luma plane);
                        # shapes outside baseline (progressive,
                        # arithmetic, 12-bit) keep the real marker-walk
                        # header parse under the -header label
                        try:
                            w, h, gray = decode_jpeg_pixels(data)
                            feats.append([float(v) for v in png_grid_features(gray, w, h, grid=4)])
                            backends.append("stdlib-jpeg")
                        except _DECODE_ERRORS:
                            w, h, _ncomp = jpeg_dimensions(data)
                            vec, _ = _fake_feature(data)
                            feats.append(vec)
                            backends.append("stdlib-jpeg-header")
                        widths.append(w); heights.append(h); durs.append(None)
                        decoded = True
                    elif data.startswith(GIF_MAGICS):
                        # REAL pixel decode (pure-integer GIF LZW +
                        # palette); shapes the LZW path can't express
                        # (e.g. descriptor-only shells) degrade to the
                        # real header parse with the -header label
                        try:
                            w, h, gray = decode_gif_pixels(data)
                            feats.append([float(v) for v in png_grid_features(gray, w, h, grid=4)])
                            backends.append("stdlib-gif")
                        except _DECODE_ERRORS:
                            w, h = gif_dimensions(data)
                            vec, _ = _fake_feature(data)
                            feats.append(vec)
                            backends.append("stdlib-gif-header")
                        widths.append(w); heights.append(h); durs.append(None)
                        decoded = True
                    elif data.startswith(BMP_MAGIC):
                        # REAL pixel decode for uncompressed 24-bit BMPs;
                        # other bpp/compression shapes keep the header
                        # parse with the -header label
                        try:
                            w, h, gray = decode_bmp_pixels(data)
                            feats.append([float(v) for v in png_grid_features(gray, w, h, grid=4)])
                            backends.append("stdlib-bmp")
                        except _DECODE_ERRORS:
                            w, h = bmp_dimensions(data)
                            vec, _ = _fake_feature(data)
                            feats.append(vec)
                            backends.append("stdlib-bmp-header")
                        widths.append(w); heights.append(h); durs.append(None)
                        decoded = True
                    elif is_mp4(data):
                        # REAL movie duration from the moov/mvhd box walk;
                        # sample decode needs ffmpeg, label says so
                        duration_ms = mp4_duration_ms(data)
                        vec, _ = _fake_feature(data)
                        feats.append(vec)
                        widths.append(None); heights.append(None)
                        durs.append(duration_ms)
                        backends.append("stdlib-mp4-header")
                        decoded = True
                except _DECODE_ERRORS:
                    backends_label = "decode-error"
                else:
                    backends_label = "fake"
                if not decoded:
                    # format needs an external codec (or the payload is
                    # corrupt) → deterministic fake, labeled so downstream
                    # can tell real from pseudo from quarantine-worthy
                    vec, h = _fake_feature(data)
                    feats.append(vec)
                    w, ht, ms = _fake_dims(kind, h)
                    widths.append(w); heights.append(ht); durs.append(ms)
                    backends.append(backends_label)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"], "span_idx": pdf["span_idx"],
                    "kind": pdf["kind"], "media_ref": pdf["media_ref"],
                    "feature": feats, "width": pd.array(widths, dtype="Int32"),
                    "height": pd.array(heights, dtype="Int32"),
                    "duration_ms": pd.array(durs, dtype="Int32"),
                    "decode_backend": backends,
                }
            )

    return media.mapInPandas(decode, schema=FEATURE_ROW_DDL)


def _gray_of(data: bytes) -> tuple[int, int, bytes, str] | None:
    """(width, height, 8-bit gray pixels, backend label) of a PNG, GIF, BMP
    or baseline JPEG payload via the stdlib codecs; None for any other
    format. Corrupt payloads raise one of ``_DECODE_ERRORS``."""
    from chatvector_ai_spark.functions.codecs import (
        BMP_MAGIC,
        GIF_MAGICS,
        JPEG_MAGIC,
        PNG_MAGIC,
        decode_bmp_pixels,
        decode_gif_pixels,
        decode_png,
    )
    from chatvector_ai_spark.functions.jpegcodec import decode_jpeg_pixels

    if data.startswith(PNG_MAGIC):
        w, h, _ch, gray = decode_png(data)
        return w, h, gray, "stdlib-png"
    if data.startswith(GIF_MAGICS):
        w, h, gray = decode_gif_pixels(data)
        return w, h, gray, "stdlib-gif"
    if data.startswith(BMP_MAGIC):
        w, h, gray = decode_bmp_pixels(data)
        return w, h, gray, "stdlib-bmp"
    if data.startswith(JPEG_MAGIC):
        w, h, gray = decode_jpeg_pixels(data)
        return w, h, gray, "stdlib-jpeg"
    return None


def _pack64(bits: list[int]) -> int:
    """64 bits, MSB first, as one signed BIGINT."""
    v = 0
    for b in bits:
        v = (v << 1) | (1 if b else 0)
    return v - (1 << 64) if v >= (1 << 63) else v


def _fake_hash(payload: bytes) -> int:
    """The fake backend's 64-bit hash: the first 64 bits of sha256."""
    h = hashlib.sha256(payload).digest()
    return _pack64([(h[i // 8] >> (7 - i % 8)) & 1 for i in range(64)])


RESIZED_ROW_DDL = (
    "doc_id string, span_idx int, media_ref string, "
    "width int, height int, resized binary, resize_backend string"
)

FRAME_ROW_DDL = (
    "doc_id string, span_idx int, media_ref string, "
    "frame_idx int, frame_ms int, frame_feature array<float>, "
    "frame_backend string"
)

PHASH_ROW_DDL = (
    "doc_id string, span_idx int, media_ref string, "
    "phash bigint, band0 int, band1 int, band2 int, band3 int, "
    "phash_backend string"
)


def resize_images(media: DataFrame, width: int = 32, height: int = 32, backend: str = "fake") -> DataFrame:
    """Image spans → fixed-size thumbnails as binary (the training-data
    resize step). Narrow, Arrow-batched, image rows only (JVM-side filter).

    ``backend='stdlib'``: REAL resize for PNG, GIF, BMP and baseline JPEG
    payloads — decode to an 8-bit grayscale grid (functions/codecs: PNG
    inflate+unfilter, GIF LZW+palette, BMP row unpadding;
    functions/jpegcodec: Huffman+IDCT, gray = luma), deterministic
    integer box-filter resample (codecs.resize_gray), re-encode as a
    grayscale PNG (``resize_backend='stdlib-png'/'stdlib-gif'/
    'stdlib-bmp'/'stdlib-jpeg'``; thumbnails are always PNG). Corrupt or
    out-of-profile payloads degrade per row to the labeled fake grid
    ('fake' / 'decode-error') — same dispatch-and-degrade contract as
    ``decode_media(backend='stdlib')``, so one bad blob in a billion
    never kills the stage.

    ``backend='fake'``: deterministic width×height byte grid derived from
    the payload hash — exercises the full distributed path with zero codec
    work. Anything else raises (libjpeg/PIL not in this environment)."""
    if backend not in ("fake", "stdlib"):
        raise NotImplementedError(
            f"image resize backend {backend!r} requires codec libraries not "
            "present in this environment; 'stdlib' (PNG) and the "
            "deterministic 'fake' backend are available"
        )
    n_out = width * height

    def fake_row(payload: bytes) -> tuple[bytes, str]:
        h = hashlib.sha256(payload).digest()
        return (h * (n_out // len(h) + 1))[:n_out], "fake"

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from chatvector_ai_spark.functions.codecs import encode_png, resize_gray

        for pdf in batches:
            out_rows = []
            for doc_id, span_idx, ref, payload in zip(
                pdf["doc_id"], pdf["span_idx"], pdf["media_ref"], pdf["payload"]
            ):
                data = bytes(payload)
                grid, label = None, None
                if backend == "stdlib":
                    try:
                        got = _gray_of(data)
                        if got is not None:
                            w, h, gray, label = got
                            small = resize_gray(gray, w, h, width, height)
                            grid = encode_png(width, height, small, color_type=0)
                    except _DECODE_ERRORS:
                        grid, _ = fake_row(data)
                        label = "decode-error"
                if grid is None:
                    grid, label = fake_row(data)
                out_rows.append(
                    {
                        "doc_id": doc_id, "span_idx": span_idx, "media_ref": ref,
                        "width": width, "height": height,
                        "resized": grid, "resize_backend": label,
                    }
                )
            yield pd.DataFrame(out_rows, columns=[
                "doc_id", "span_idx", "media_ref", "width", "height",
                "resized", "resize_backend",
            ])

    return media.where(F.col("kind") == "image").mapInPandas(resize, schema=RESIZED_ROW_DDL)


def image_phash(media: DataFrame, backend: str = "stdlib") -> DataFrame:
    """Perceptual average-hash (aHash) over image spans — the multimodal
    dedup bridge: decode to 8-bit grayscale (REAL stdlib codecs: PNG
    inflate+unfilter, GIF LZW+palette, BMP, baseline JPEG Huffman+IDCT),
    box-resize to 8×8 (``codecs.resize_gray``), threshold each cell at the
    grid mean, and pack the 64 bits row-major (MSB first) into one signed
    BIGINT. Near-duplicate images — recompressions, small edits — land
    within small Hamming distance of each other.

    Pairing at scale uses the SAME pigeonhole LSH the text SimHash dedup
    uses: the 64 bits split into four 16-bit bands (``band0..band3``, bit
    63 downward); two hashes within Hamming distance 3 must share at least
    one exact band, so candidate pairs come from four equi-join buckets —
    never an all-pairs scan. ``backend='fake'`` derives the bits from the
    payload sha256 (full distributed path, zero codec work); corrupt rows
    degrade per-row to the fake with ``phash_backend='decode-error'`` —
    the decode_media/resize_images dispatch-and-degrade contract.

    Reference scope note: the reference has no media path at all
    (backend/services/extraction_service.py is PDF/TXT-only); this is
    brief-scope multimodal capability, not reference parity."""
    if backend not in ("fake", "stdlib"):
        raise NotImplementedError(
            f"image phash backend {backend!r} requires codec libraries not "
            "present in this environment; 'stdlib' and 'fake' are available"
        )

    def phash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from chatvector_ai_spark.functions.codecs import resize_gray

        for pdf in batches:
            out_rows = []
            for doc_id, span_idx, ref, payload in zip(
                pdf["doc_id"], pdf["span_idx"], pdf["media_ref"], pdf["payload"]
            ):
                data = bytes(payload)
                hv, label = None, None
                if backend == "stdlib":
                    try:
                        got = _gray_of(data)
                        if got is not None:
                            w, h, gray, label = got
                            small = resize_gray(gray, w, h, 8, 8)
                            # integer mean; strictly-above threshold so a
                            # flat image hashes to all-zero bits
                            mean = sum(small) // 64
                            hv = _pack64([1 if px > mean else 0 for px in small])
                    except _DECODE_ERRORS:
                        hv, label = _fake_hash(data), "decode-error"
                if hv is None:
                    hv, label = _fake_hash(data), ("fake" if label is None else label)
                bands = [(hv >> (48 - 16 * i)) & 0xFFFF for i in range(4)]
                out_rows.append(
                    {
                        "doc_id": doc_id, "span_idx": span_idx, "media_ref": ref,
                        "phash": hv,
                        "band0": bands[0], "band1": bands[1],
                        "band2": bands[2], "band3": bands[3],
                        "phash_backend": label,
                    }
                )
            yield pd.DataFrame(out_rows, columns=[
                "doc_id", "span_idx", "media_ref", "phash",
                "band0", "band1", "band2", "band3", "phash_backend",
            ])

    return media.where(F.col("kind") == "image").mapInPandas(phash, schema=PHASH_ROW_DDL)


def audio_phash(media: DataFrame, backend: str = "stdlib") -> DataFrame:
    """Energy-envelope fingerprint over audio spans — the audio member of
    the cross-modal dedup family: decode 16-bit mono PCM (stdlib
    ``codecs.decode_wav``), split the sample stream into 64 equal time
    windows, compute each window's integer energy (sum of squared
    samples), threshold at the mean energy, and pack the 64 bits MSB-first
    into one signed BIGINT with the same four 16-bit pigeonhole bands as
    ``image_phash`` — so ``image_neardup_pairs`` (which only reads
    media_ref/phash/band columns) pairs near-duplicate audio unchanged.
    Re-encodes, small gain riding, and appended silence barely move the
    envelope; reordered content does. Same dispatch-and-degrade contract:
    non-WAV payloads hash from sha256 (``fake``), corrupt WAVs degrade
    per-row (``decode-error``)."""
    if backend not in ("fake", "stdlib"):
        raise NotImplementedError(
            f"audio phash backend {backend!r} requires codec libraries not "
            "present in this environment; 'stdlib' and 'fake' are available"
        )

    def phash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from chatvector_ai_spark.functions.codecs import WAV_MAGIC, decode_wav

        for pdf in batches:
            out_rows = []
            for doc_id, span_idx, ref, payload in zip(
                pdf["doc_id"], pdf["span_idx"], pdf["media_ref"], pdf["payload"]
            ):
                data = bytes(payload)
                hv, label = None, None
                if backend == "stdlib" and data.startswith(WAV_MAGIC):
                    try:
                        _rate, _ms, samples = decode_wav(data)
                        n = len(samples)
                        if n:
                            energies = [
                                sum(s * s for s in samples[i * n // 64:(i + 1) * n // 64])
                                for i in range(64)
                            ]
                            mean = sum(energies) // 64
                            hv = _pack64([1 if e > mean else 0 for e in energies])
                            label = "stdlib-wav"
                    except _DECODE_ERRORS:
                        hv, label = _fake_hash(data), "decode-error"
                if hv is None:
                    hv, label = _fake_hash(data), ("fake" if label is None else label)
                bands = [(hv >> (48 - 16 * i)) & 0xFFFF for i in range(4)]
                out_rows.append(
                    {
                        "doc_id": doc_id, "span_idx": span_idx, "media_ref": ref,
                        "phash": hv,
                        "band0": bands[0], "band1": bands[1],
                        "band2": bands[2], "band3": bands[3],
                        "phash_backend": label,
                    }
                )
            yield pd.DataFrame(out_rows, columns=[
                "doc_id", "span_idx", "media_ref", "phash",
                "band0", "band1", "band2", "band3", "phash_backend",
            ])

    return media.where(F.col("kind") == "audio").mapInPandas(phash, schema=PHASH_ROW_DDL)


def image_neardup_pairs(phashes: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-duplicate image pairs from ``image_phash`` output: candidates
    are generated per 16-bit band bucket (pigeonhole: Hamming ≤ 3 over 64
    bits guarantees one of the four bands matches exactly), then verified
    with the exact popcount distance — ``bit_count(phash XOR phash)`` —
    entirely JVM-side. Returns (a_ref, b_ref, hamming), canonical order,
    each pair once.

    Scale shape: four narrow equi-joins on (band index, band value)
    buckets + one distinct — never an all-pairs product; the verify is a
    per-row bit op. Exactly the SimHash text-dedup plan shape, applied to
    the perceptual hash."""
    base = phashes.select(
        F.col("media_ref").alias("ref"), F.col("phash").alias("h"),
        "band0", "band1", "band2", "band3",
    )
    keyed = None
    for i in range(4):
        k = base.select(
            "ref", "h", F.lit(i).alias("bi"), F.col(f"band{i}").alias("bv")
        )
        keyed = k if keyed is None else keyed.unionByName(k)
    left = keyed.select(
        F.col("ref").alias("a_ref"), F.col("h").alias("ha"), "bi", "bv"
    )
    right = keyed.select(
        F.col("ref").alias("b_ref"), F.col("h").alias("hb"), "bi", "bv"
    )
    return (
        left.join(right, ["bi", "bv"])
        .where(F.col("a_ref") < F.col("b_ref"))
        .select("a_ref", "b_ref", F.expr("bit_count(ha ^ hb)").cast("int").alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def sample_frames(media: DataFrame, every_ms: int = 1000, max_frames: int = 8, backend: str = "fake") -> DataFrame:
    """Video/audio spans → one row per sampled frame (1-to-N UDTF shape)
    with a per-frame feature vector; sampling times are every_ms apart,
    capped at max_frames.

    ``backend='stdlib'``: REAL timing and REAL content — for WAV the
    duration comes from the PCM frame count and each sampled frame's
    feature is the band-RMS envelope of ITS OWN sample window
    (``frame_backend='stdlib-wav'``); for MP4s with a complete sample
    table the stbl walk (stts/stsz/stsc/stco) gives exact per-sample
    timing and byte ranges, and each sampled frame's feature is the
    byte-band histogram of ITS OWN mdat payload slice
    (``'stdlib-mp4'``) — container-level ground truth with no codec
    entropy decode. Metadata-only MP4 shells keep the REAL mvhd duration
    grid with pseudo features (``'stdlib-mp4-header'``); other/corrupt
    payloads degrade to the deterministic fake ('fake' /
    'decode-error'), never failing the stage.

    ``backend='fake'``: duration and features derived from the payload
    hash — the exact batching/row-explosion contract with zero codec
    work. Anything else raises (ffmpeg is not in this environment)."""
    if backend not in ("fake", "stdlib"):
        raise NotImplementedError(
            f"frame sampling backend {backend!r} requires codec libraries "
            "not present in this environment; 'stdlib' (WAV/MP4 timing) "
            "and the deterministic 'fake' backend are available"
        )

    def fake_frames(payload: bytes, label: str, duration_ms: int | None = None):
        h = hashlib.sha256(payload).digest()
        if duration_ms is None:
            duration_ms = 1000 + int.from_bytes(h[2:4], "big")
        n_frames = min(max_frames, max(1, duration_ms // every_ms))
        out = []
        for i in range(n_frames):
            vec, _ = _fake_feature(h + i.to_bytes(4, "big"))
            out.append((i, vec, label))
        return out

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from chatvector_ai_spark.functions.codecs import (
            WAV_MAGIC,
            byte_band_features,
            decode_wav,
            is_mp4,
            mp4_duration_ms,
            mp4_sample_table,
            wav_band_features,
        )

        for pdf in batches:
            rows = []
            for doc_id, span_idx, ref, payload in zip(
                pdf["doc_id"], pdf["span_idx"], pdf["media_ref"], pdf["payload"]
            ):
                data = bytes(payload)
                frames = None
                if backend == "stdlib":
                    try:
                        if data.startswith(WAV_MAGIC):
                            rate, duration_ms, samples = decode_wav(data)
                            n = min(max_frames, max(1, duration_ms // every_ms))
                            win = max(1, rate * every_ms // 1000)
                            frames = []
                            for i in range(n):
                                seg = samples[i * win : (i + 1) * win]
                                feat = wav_band_features(seg, bands=FEATURE_DIM)
                                frames.append(
                                    (i, [float(v) for v in feat], "stdlib-wav")
                                )
                        elif is_mp4(data):
                            duration_ms = mp4_duration_ms(data)
                            try:
                                table = mp4_sample_table(data)
                            except _DECODE_ERRORS:
                                table = None
                            if table:
                                # REAL per-sample timing + payload bytes
                                # from the stbl walk; feature = byte-band
                                # histogram of the sample's own mdat slice
                                n = min(max_frames, max(1, duration_ms // every_ms))
                                frames = []
                                for i in range(n):
                                    t = i * every_ms
                                    off, size = table[0][1], table[0][2]
                                    for s_ms, s_off, s_size in table:
                                        if s_ms > t:
                                            break
                                        off, size = s_off, s_size
                                    feat = byte_band_features(
                                        data[off : off + size], bands=FEATURE_DIM
                                    )
                                    frames.append((i, feat, "stdlib-mp4"))
                            else:
                                # metadata-only shell: real frame GRID
                                # (mvhd duration), pseudo features
                                frames = fake_frames(
                                    data, "stdlib-mp4-header",
                                    duration_ms=duration_ms,
                                )
                    except _DECODE_ERRORS:
                        frames = fake_frames(data, "decode-error")
                if frames is None:
                    frames = fake_frames(data, "fake")
                for i, feat, label in frames:
                    rows.append(
                        {
                            "doc_id": doc_id, "span_idx": span_idx, "media_ref": ref,
                            "frame_idx": i, "frame_ms": i * every_ms,
                            "frame_feature": feat, "frame_backend": label,
                        }
                    )
            yield pd.DataFrame(rows, columns=[
                "doc_id", "span_idx", "media_ref", "frame_idx", "frame_ms",
                "frame_feature", "frame_backend",
            ])

    return media.where(F.col("kind").isin("audio", "video")).mapInPandas(
        sample, schema=FRAME_ROW_DDL
    )


def validate_media(media: DataFrame, max_bytes: int = 1 << 20) -> tuple[DataFrame, DataFrame]:
    """(valid, quarantine) split — MIME allowlist + size cap, the
    reference's upload validation gate as a row-level filter."""
    ok = (
        F.col("kind").isin(*MEDIA_KINDS)
        & F.col("media_ref").startswith("s3://")
        & (F.col("n_bytes") <= max_bytes)
    )
    valid = media.where(ok)
    quarantine = media.where(~ok).select(
        "doc_id",
        F.col("media_ref").alias("chunk_id"),
        F.lit("media_validate").alias("stage"),
        F.lit("MEDIA_INVALID").alias("error_code"),
        F.concat(F.lit("kind="), F.col("kind"), F.lit(" bytes="), F.col("n_bytes")).alias("message"),
    )
    return valid, quarantine
