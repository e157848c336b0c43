"""Multimodal span processing: opaque binary payloads + typed metadata.

The interleaved input table carries media spans as references
(``media_ref``); at 100 TB the payload bytes live in object storage and the
engine treats them as opaque ``binary`` columns with typed metadata. This
module is the Spark side of that path: explode the media spans, fetch and
validate their payloads, and read the bytes with five Arrow-batched
``mapInPandas`` operators — ``decode_media`` (feature vector + dims),
``resize_images`` (PNG thumbnails), ``image_phash`` / ``audio_phash``
(64-bit perceptual hashes with pigeonhole LSH bands) and ``sample_frames``
(one row per sampled frame).

All five decode through one format table (``_format_table``: magic bytes →
the pure-stdlib decoder of ``functions/codecs.py`` / ``functions/
jpegcodec.py`` for PNG, GIF, BMP and baseline-JPEG pixels, WAV samples and
MP4 sample tables, plus the header parse it falls back to) and one per-row
degrade loop (``_degrade``). A payload no format takes gets a deterministic
sha-seeded fake row labelled ``fake``; a corrupt one gets the same fake
labelled ``decode-error``, and so does a NULL one (seeded from empty
bytes), so one bad blob degrades its own row and never fails the Spark
task. Each operator's label column (``decode_backend``,
``resize_backend``, ``phash_backend``, ``frame_backend``) says which of a
real decode (``stdlib-<format>``), a header-only parse
(``stdlib-<format>-header``), the fake or a decode error produced the row,
so a downstream filter can quarantine ``decode-error`` rows.

Reference parity: media handling extends the reference's MIME
allowlist/validation gate (ingestion_pipeline.py:752-801) — rows failing
validation split into a quarantine output, never fail the stage
(queue_asyncio.py:207-278 DLQ semantics).
"""

from __future__ import annotations

import functools
import hashlib
import struct
from collections.abc import Callable, Iterator
from operator import itemgetter
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Degrade-per-row contract: the stdlib decoders raise ValueError on the
# shapes they document, but truncated/hostile bytes can also surface as
# struct.error (short unpack) or IndexError (short buffer) from deep in a
# parse — one corrupt payload must degrade ITS row, never fail the whole
# Spark task, so the degrade loop catches all three.
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

_CONTENT_TYPES = {
    "png": "image/png", "jpg": "image/jpeg", "csv": "text/csv",
    "wav": "audio/wav", "mp4": "video/mp4",
}

FEATURE_DIM = 16

# the input columns every operator carries through to its output rows
_KEY_COLS = ("doc_id", "span_idx", "kind", "media_ref")


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


def fetch_payloads(media: DataFrame) -> DataFrame:
    """Attach (deterministic fake) payload bytes + typed metadata.

    In production this stage is an object-store range read inside
    mapInPandas (per-executor connection reuse, bounded by Arrow batch
    size); here payloads are synthesized from the ref so the downstream
    plumbing is real and testable: ``.png``, ``.wav`` and ``.jpg`` refs get
    real stdlib-decodable files with ref-seeded content, any other ref
    opaque ref-seeded bytes.
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
                    w, h = 8 + seed[0] % 8, 8 + seed[1] % 8
                    px = bytes(
                        seed[(x * 7 + y * 13 + seed[2]) % len(seed)]
                        for y in range(h)
                        for x in range(w)
                    )
                    payload = encode_png(w, h, px, color_type=0)
                elif ext == "wav":
                    # ~0.1-0.3 s of 8 kHz PCM
                    n = 800 + seed[0] * 8
                    payload = encode_wav(
                        [(seed[i % len(seed)] - 128) * 200 for i in range(n)],
                        sample_rate=8000,
                    )
                elif ext == "jpg":
                    # baseline 4:2:0: seeded luma, constant chroma
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
                    payload = _fake(ref.encode(), 64 + seed[0])
                payloads.append(payload)
                ctypes.append(_CONTENT_TYPES.get(ext, "application/octet-stream"))
                sizes.append(len(payload))
            out = pdf.copy()
            out["payload"] = payloads
            out["content_type"] = ctypes
            out["n_bytes"] = sizes
            yield out

    return media.mapInPandas(fetch, schema=MEDIA_ROW_DDL)


# ---------------------------------------------------------------------------
# The three shared pieces: format table, sha-seeded fake, degrade loop
# ---------------------------------------------------------------------------


class _Format(NamedTuple):
    """One payload format. ``data.startswith(magic, at)`` selects it;
    ``decode`` returns its content — pixels ``(w, h, gray)``, samples
    ``(rate, duration_ms, samples)`` or an MP4's ``(start_ms, offset,
    size)`` sample table — and ``header``, where there is one, is the
    header parse a caller may fall back to: ``(w, h)`` of an image, an
    MP4's duration in ms."""

    name: str
    medium: str  # "pixels" | "samples" | "movie"
    magic: bytes | tuple[bytes, ...]
    at: int
    decode: Callable
    header: Callable | None


@functools.cache
def _format_table() -> tuple[_Format, ...]:
    """The formats in dispatch order. Built on first use, inside the
    Python worker, so importing this module loads no codec."""
    from chatvector_ai_spark.functions import codecs as c
    from chatvector_ai_spark.functions.jpegcodec import decode_jpeg_pixels

    png_pixels = itemgetter(0, 1, 3)  # (w, h, gray) of decode_png's (w, h, channels, gray)
    return (
        _Format("png", "pixels", c.PNG_MAGIC, 0, lambda d: png_pixels(c.decode_png(d)), None),
        _Format("wav", "samples", c.WAV_MAGIC, 0, c.decode_wav, None),
        _Format("jpeg", "pixels", c.JPEG_MAGIC, 0, decode_jpeg_pixels,
                lambda d: c.jpeg_dimensions(d)[:2]),
        _Format("gif", "pixels", c.GIF_MAGICS, 0, c.decode_gif_pixels, c.gif_dimensions),
        _Format("bmp", "pixels", c.BMP_MAGIC, 0, c.decode_bmp_pixels, c.bmp_dimensions),
        # ISO BMFF: the ftyp box tag sits after the 4-byte box size
        _Format("mp4", "movie", b"ftyp", 4, c.mp4_sample_table, c.mp4_duration_ms),
    )


def _sniff(data: bytes, media: tuple[str, ...]) -> _Format | None:
    """The first format of one of *media* whose magic *data* carries."""
    for fmt in _format_table():
        if fmt.medium in media and data.startswith(fmt.magic, fmt.at):
            return fmt
    return None


def _fake(seed: bytes, n: int) -> bytes:
    """The one sha-seeded fake: *n* bytes cycled from sha256(*seed*). Every
    fake value below (features, dims, hashes, thumbnails, frames) is read
    from it, so a payload's fake row is the same on every run."""
    h = hashlib.sha256(seed).digest()
    return (h * (n // len(h) + 1))[:n]


def _fake_feature(seed: bytes) -> list[float]:
    """Unit-length FEATURE_DIM vector read from ``_fake(seed)``."""
    vec = np.frombuffer(_fake(seed, FEATURE_DIM), dtype=np.uint8).astype(np.float32)
    norm = float(np.linalg.norm(vec))
    return (vec / norm if norm else vec).tolist()


def _fake_ms(data: bytes) -> int:
    """Fake duration of an audio/video payload: 1.000-66.535 s."""
    return 1000 + int.from_bytes(_fake(data, 4)[2:4], "big")


def _fake_hash(data: bytes) -> int:
    """Fake 64-bit hash: the first 8 fake bytes as one signed BIGINT."""
    return int.from_bytes(_fake(data, 8), "big", signed=True)


def _degrade(
    media: DataFrame,
    kinds: tuple[str, ...] | None,
    ddl: str,
    decode: Callable[[bytes, str], list[tuple] | None],
    fake: Callable[[bytes, str, str], list[tuple]],
) -> DataFrame:
    """Run *decode* per payload row in Arrow batches: ``decode(data, kind)``
    returns the row's output values (one tuple each; a 1→N operator
    returns several), or None when no format takes the payload. None
    becomes ``fake(data, kind, "fake")``, and a ``_DECODE_ERRORS`` raise
    ``fake(data, kind, "decode-error")``; a NULL payload gets
    ``fake(b"", kind, "decode-error")``. Output rows are the
    input's key columns (those of ``_KEY_COLS`` in *ddl*) followed by the
    values. Only spans of *kinds* reach Python (JVM-side filter; None
    keeps every span)."""
    cols = [c.split()[0] for c in ddl.split(",")]
    keys = [c for c in cols if c in _KEY_COLS]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for *key, kind, payload in zip(*(pdf[k] for k in keys), pdf["kind"], pdf["payload"]):
                if payload is None:  # a ref not fetched: no bytes to decode
                    out = fake(b"", kind, "decode-error")
                else:
                    data = bytes(payload)
                    try:
                        out = decode(data, kind)
                    except _DECODE_ERRORS:
                        out = fake(data, kind, "decode-error")
                    if out is None:
                        out = fake(data, kind, "fake")
                rows.extend((*key, *values) for values in out)
            yield pd.DataFrame(rows, columns=cols)

    if kinds is not None:
        media = media.where(F.col("kind").isin(*kinds))
    return media.mapInPandas(run, schema=ddl)


def _pixels(data: bytes) -> tuple[int, int, bytes, str] | None:
    """(width, height, 8-bit gray pixels, label) of an image payload; None
    for a payload no pixel format takes."""
    fmt = _sniff(data, ("pixels",))
    if fmt is None:
        return None
    w, h, gray = fmt.decode(data)
    return w, h, gray, f"stdlib-{fmt.name}"


def _pack64(bits: list[int]) -> int:
    """64 bits, MSB first, as one signed BIGINT."""
    v = 0
    for b in bits:
        v = (v << 1) | (1 if b else 0)
    return v - (1 << 64) if v >= (1 << 63) else v


def _phash_row(hv: int, label: str) -> tuple:
    """(phash, band0..band3, label): the four 16-bit bands, bit 63 down."""
    return (hv, *[(hv >> (48 - 16 * i)) & 0xFFFF for i in range(4)], label)


# ---------------------------------------------------------------------------
# The five operators
# ---------------------------------------------------------------------------


def decode_media(media: DataFrame) -> DataFrame:
    """Decode payloads → fixed-dim feature vectors + media dims.

    Real decode for PNG, GIF, BMP, baseline JPEG and WAV payloads with the
    pure-stdlib codecs: PNG pixels inflated+unfiltered, GIF pixels
    LZW-expanded through the palette, BMP BGR rows unpadded, JPEG
    Huffman-decoded + dequantized + IDCT'd (gray = luma plane) — features
    are the 4×4 mean-intensity grid — and WAV duration from the PCM frame
    count, features the per-band RMS envelope. Image shapes outside what
    each pixel path expresses (progressive/arithmetic/12-bit JPEG,
    descriptor-only GIF/BMP shells) keep their real header dims with fake
    features under the ``-header`` labels; MP4s keep their real mvhd
    duration the same way (``stdlib-mp4-header``). Other payloads get the
    sha-seeded fake (``decode_backend='fake'``: a unit feature vector,
    dims for images, a duration for audio/video); corrupt ones the same
    fake labelled ``decode-error``."""
    from chatvector_ai_spark.functions.codecs import png_grid_features, wav_band_features

    def decode(data: bytes, kind: str) -> list[tuple] | None:
        fmt = _sniff(data, ("pixels", "samples", "movie"))
        if fmt is None:
            return None
        label = f"stdlib-{fmt.name}"
        if fmt.medium == "samples":
            _rate, ms, samples = fmt.decode(data)
            feat = [float(v) for v in wav_band_features(samples, bands=FEATURE_DIM)]
            return [(feat, None, None, ms, label)]
        if fmt.medium == "movie":
            return [(_fake_feature(data), None, None, fmt.header(data), f"{label}-header")]
        try:
            w, h, gray = fmt.decode(data)
            feat = [float(v) for v in png_grid_features(gray, w, h, grid=4)]
        except _DECODE_ERRORS:
            if fmt.header is None:
                raise
            w, h = fmt.header(data)
            return [(_fake_feature(data), w, h, None, f"{label}-header")]
        return [(feat, w, h, None, label)]

    def fake(data: bytes, kind: str, label: str) -> list[tuple]:
        h = _fake(data, 2)
        if kind == "image":
            dims = (64 + h[0], 64 + h[1], None)
        elif kind in ("audio", "video"):
            dims = (None, None, _fake_ms(data))
        else:
            dims = (None, None, None)
        return [(_fake_feature(data), *dims, label)]

    return _degrade(media, None, FEATURE_ROW_DDL, decode, fake)


def resize_images(media: DataFrame, width: int = 32, height: int = 32) -> DataFrame:
    """Image spans → fixed-size thumbnails as binary (the training-data
    resize step). Narrow, Arrow-batched, image rows only (JVM-side filter).

    PNG, GIF, BMP and baseline JPEG payloads decode to an 8-bit grayscale
    grid, are box-filter resampled (``codecs.resize_gray``, integer and
    deterministic) and re-encoded as grayscale PNGs
    (``resize_backend='stdlib-png'/'stdlib-gif'/'stdlib-bmp'/
    'stdlib-jpeg'``; thumbnails are always PNG). Any other payload gets a
    width×height byte grid read from the sha-seeded fake (``fake``), a
    corrupt or out-of-profile one the same grid labelled
    ``decode-error``."""
    from chatvector_ai_spark.functions.codecs import encode_png, resize_gray

    def decode(data: bytes, kind: str) -> list[tuple] | None:
        px = _pixels(data)
        if px is None:
            return None
        w, h, gray, label = px
        small = resize_gray(gray, w, h, width, height)
        return [(width, height, encode_png(width, height, small, color_type=0), label)]

    def fake(data: bytes, kind: str, label: str) -> list[tuple]:
        return [(width, height, _fake(data, width * height), label)]

    return _degrade(media, ("image",), RESIZED_ROW_DDL, decode, fake)


def image_phash(media: DataFrame) -> DataFrame:
    """Perceptual average-hash (aHash) over image spans — the multimodal
    dedup bridge: decode to 8-bit grayscale (PNG, GIF, BMP, baseline
    JPEG), box-resize to 8×8 (``codecs.resize_gray``), threshold each cell
    at the grid mean, and pack the 64 bits row-major (MSB first) into one
    signed BIGINT. Near-duplicate images — recompressions, small edits —
    land within small Hamming distance of each other.

    Pairing at scale uses the SAME pigeonhole LSH the text SimHash dedup
    uses: the 64 bits split into four 16-bit bands (``band0..band3``, bit
    63 downward); two hashes within Hamming distance 3 must share at least
    one exact band, so candidate pairs come from equi-join buckets —
    never an all-pairs scan. Payloads no pixel format takes hash from the
    sha-seeded fake (``phash_backend='fake'``), corrupt ones the same way
    under ``decode-error``.

    Reference scope note: the reference has no media path at all
    (backend/services/extraction_service.py is PDF/TXT-only); this is
    brief-scope multimodal capability, not reference parity."""
    from chatvector_ai_spark.functions.codecs import resize_gray

    def decode(data: bytes, kind: str) -> list[tuple] | None:
        px = _pixels(data)
        if px is None:
            return None
        w, h, gray, label = px
        small = resize_gray(gray, w, h, 8, 8)
        # integer mean; strictly-above threshold so a flat image hashes
        # to all-zero bits
        mean = sum(small) // 64
        return [_phash_row(_pack64([1 if p > mean else 0 for p in small]), label)]

    def fake(data: bytes, kind: str, label: str) -> list[tuple]:
        return [_phash_row(_fake_hash(data), label)]

    return _degrade(media, ("image",), PHASH_ROW_DDL, decode, fake)


def audio_phash(media: DataFrame) -> DataFrame:
    """Energy-envelope fingerprint over audio spans — the audio member of
    the cross-modal dedup family: decode 16-bit mono PCM (stdlib
    ``codecs.decode_wav``), split the sample stream into 64 equal time
    windows, compute each window's integer energy (sum of squared
    samples), threshold at the mean energy, and pack the 64 bits MSB-first
    into one signed BIGINT with the same four 16-bit pigeonhole bands as
    ``image_phash`` — so ``image_neardup_pairs`` (which only reads
    media_ref/phash/band columns) pairs near-duplicate audio unchanged.
    Re-encodes, small gain riding, and appended silence barely move the
    envelope; reordered content does. Non-WAV payloads and WAVs with no
    samples hash from the sha-seeded fake (``fake``), corrupt WAVs the
    same way under ``decode-error``."""

    def decode(data: bytes, kind: str) -> list[tuple] | None:
        fmt = _sniff(data, ("samples",))
        if fmt is None:
            return None
        _rate, _ms, samples = fmt.decode(data)
        n = len(samples)
        if not n:
            return None
        energies = [
            sum(s * s for s in samples[i * n // 64:(i + 1) * n // 64]) for i in range(64)
        ]
        mean = sum(energies) // 64
        return [_phash_row(_pack64([1 if e > mean else 0 for e in energies]), "stdlib-wav")]

    def fake(data: bytes, kind: str, label: str) -> list[tuple]:
        return [_phash_row(_fake_hash(data), label)]

    return _degrade(media, ("audio",), PHASH_ROW_DDL, decode, fake)


def image_neardup_pairs(phashes: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-duplicate pairs from ``image_phash`` (or ``audio_phash``)
    output: candidates share one exact 16-bit band (pigeonhole: Hamming ≤
    3 over 64 bits guarantees one of the four bands matches), then are
    verified with the exact popcount distance — ``bit_count(phash XOR
    phash)`` — entirely JVM-side. Returns (a_ref, b_ref, hamming),
    canonical order, each pair once.

    Scale shape: one self-join on (band index, band value) over
    ``posexplode(array(band0..band3))`` + one distinct — never an
    all-pairs product; the verify is a per-row bit op. The same plan shape
    as the MinHash text dedup (``dedup.near_dup_pairs``)."""
    bands = phashes.select(
        F.col("media_ref").alias("ref"),
        F.col("phash").alias("h"),
        F.posexplode(F.array("band0", "band1", "band2", "band3")).alias("bi", "bv"),
    )
    left = bands.select(F.col("ref").alias("a_ref"), F.col("h").alias("ha"), "bi", "bv")
    right = bands.select(F.col("ref").alias("b_ref"), F.col("h").alias("hb"), "bi", "bv")
    return (
        left.join(right, ["bi", "bv"])
        .where(F.col("a_ref") < F.col("b_ref"))
        .select("a_ref", "b_ref", F.expr("bit_count(ha ^ hb)").cast("int").alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def sample_frames(media: DataFrame, every_ms: int = 1000, max_frames: int = 8) -> DataFrame:
    """Video/audio spans → one row per sampled frame (1-to-N UDTF shape)
    with a per-frame feature vector; sampling times are every_ms apart,
    capped at max_frames.

    Real timing and real content: for WAV the duration comes from the PCM
    frame count and each sampled frame's feature is the band-RMS envelope
    of ITS OWN sample window (``frame_backend='stdlib-wav'``); for MP4s
    with a complete sample table the stbl walk (stts/stsz/stsc/stco) gives
    exact per-sample timing and byte ranges, and each sampled frame's
    feature is the byte-band histogram of ITS OWN mdat payload slice
    (``'stdlib-mp4'``) — container-level ground truth with no codec
    entropy decode. Metadata-only MP4 shells keep the real mvhd duration
    grid with sha-seeded fake features (``'stdlib-mp4-header'``); other
    payloads get a fake duration and fake features (``'fake'``), corrupt
    ones the same under ``'decode-error'``, never failing the stage."""
    from chatvector_ai_spark.functions.codecs import byte_band_features, wav_band_features

    def n_frames(duration_ms: int) -> int:
        return min(max_frames, max(1, duration_ms // every_ms))

    def fake(data: bytes, kind: str, label: str, duration_ms: int | None = None) -> list[tuple]:
        h = _fake(data, 32)
        n = n_frames(_fake_ms(data) if duration_ms is None else duration_ms)
        return [
            (i, i * every_ms, _fake_feature(h + i.to_bytes(4, "big")), label) for i in range(n)
        ]

    def decode(data: bytes, kind: str) -> list[tuple] | None:
        fmt = _sniff(data, ("samples", "movie"))
        if fmt is None:
            return None
        if fmt.medium == "samples":
            rate, duration_ms, samples = fmt.decode(data)
            win = max(1, rate * every_ms // 1000)
            frames = []
            for i in range(n_frames(duration_ms)):
                feat = wav_band_features(samples[i * win:(i + 1) * win], bands=FEATURE_DIM)
                frames.append((i, i * every_ms, [float(v) for v in feat], "stdlib-wav"))
            return frames
        duration_ms = fmt.header(data)
        try:
            table = fmt.decode(data)
        except _DECODE_ERRORS:
            table = None
        if not table:
            # metadata-only shell: real frame grid, fake features
            return fake(data, kind, "stdlib-mp4-header", duration_ms)
        frames = []
        for i in range(n_frames(duration_ms)):
            t = i * every_ms
            off, size = table[0][1], table[0][2]
            for s_ms, s_off, s_size in table:
                if s_ms > t:
                    break
                off, size = s_off, s_size
            feat = byte_band_features(data[off:off + size], bands=FEATURE_DIM)
            frames.append((i, t, feat, "stdlib-mp4"))
        return frames

    return _degrade(media, ("audio", "video"), FRAME_ROW_DDL, decode, fake)


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
