"""Pure-stdlib media codecs: the decoders behind the multimodal operators.

The sandbox has no libjpeg/ffmpeg, but PNG and WAV need nothing beyond the
standard library: PNG is zlib-compressed scanlines behind an 8-byte magic
and chunked container (RFC 2083), WAV is RIFF-framed PCM readable with the
stdlib ``wave`` module. The format table of ``operators/multimodal.py``
decodes actual bytes with these codecs — real width/height from IHDR, real
duration from the PCM frame count, features from the decoded samples. GIF
decodes fully too (the GIF LZW variant is integer arithmetic, no external
codec needed), as does uncompressed 24-bit BMP. Baseline JPEG decodes fully
in the sibling module ``functions/jpegcodec.py`` (Huffman + dequant + IDCT
in pure Python); this module keeps the fast marker-walking header parse
that the format table falls back to for non-baseline JPEG shapes. MP4
reads its movie-header duration and its sample table (offsets, sizes and
times of the samples) from the box tree; decoding the samples themselves
needs an external codec, so a sampled frame's feature is the byte-band
histogram of its sample's bytes (``byte_band_features``).

Encoders exist so tests and the synthetic fetch stage can fabricate valid
files deterministically; they are NOT a production write path.

Reference parity note: the reference has no media decode at all (its
extraction is PDF/TXT-only, backend/services/extraction_service.py:29-74);
this module is part of the brief's training-data-pipeline surface, not
reference parity.
"""

from __future__ import annotations

import io
import struct
import wave
import zlib

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
WAV_MAGIC = b"RIFF"


# ---------------------------------------------------------------------------
# PNG — 8-bit grayscale / RGB / RGBA, all five scanline filters on decode
# ---------------------------------------------------------------------------

_CHANNELS = {0: 1, 2: 3, 6: 4}  # color type → samples per pixel


def _chunk(tag: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


def encode_png(width: int, height: int, pixels: bytes, color_type: int = 0) -> bytes:
    """Minimal PNG writer: 8-bit, filter 0 on every scanline.

    ``pixels`` is row-major, ``width*height*channels`` bytes.
    """
    ch = _CHANNELS[color_type]
    if len(pixels) != width * height * ch:
        raise ValueError(f"expected {width * height * ch} bytes, got {len(pixels)}")
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    stride = width * ch
    raw = b"".join(
        b"\x00" + pixels[y * stride : (y + 1) * stride] for y in range(height)
    )
    return (
        PNG_MAGIC
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw, 6))
        + _chunk(b"IEND", b"")
    )


def _unfilter(raw: bytes, width: int, height: int, ch: int) -> bytearray:
    """Reverse PNG scanline filtering (types 0-4) → raw pixel bytes."""
    stride = width * ch
    out = bytearray(stride * height)
    pos = 0
    for y in range(height):
        ftype = raw[pos]
        pos += 1
        line = raw[pos : pos + stride]
        pos += stride
        base = y * stride
        prev_base = base - stride
        for x in range(stride):
            a = out[base + x - ch] if x >= ch else 0  # left
            b = out[prev_base + x] if y > 0 else 0  # up
            c = out[prev_base + x - ch] if (y > 0 and x >= ch) else 0  # up-left
            v = line[x]
            if ftype == 0:
                r = v
            elif ftype == 1:
                r = v + a
            elif ftype == 2:
                r = v + b
            elif ftype == 3:
                r = v + (a + b) // 2
            elif ftype == 4:  # Paeth
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                r = v + pred
            else:
                raise ValueError(f"unsupported PNG filter type {ftype}")
            out[base + x] = r & 0xFF
    return out


def decode_png(data: bytes) -> tuple[int, int, int, bytes]:
    """→ (width, height, channels, gray_pixels): parse chunks, inflate
    IDAT, unfilter, collapse to 8-bit grayscale (mean over channels)."""
    if not data.startswith(PNG_MAGIC):
        raise ValueError("not a PNG (bad magic)")
    pos = len(PNG_MAGIC)
    width = height = None
    color_type = bit_depth = None
    idat = bytearray()
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        pos += 12 + length  # len + tag + body + crc
        if tag == b"IHDR":
            width, height, bit_depth, color_type, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            if bit_depth != 8 or color_type not in _CHANNELS:
                raise ValueError(
                    f"unsupported PNG shape (bit_depth={bit_depth}, color_type={color_type})"
                )
            if interlace != 0:
                raise ValueError("interlaced PNG unsupported")
        elif tag == b"IDAT":
            idat.extend(body)
        elif tag == b"IEND":
            break
    if width is None:
        raise ValueError("PNG missing IHDR")
    ch = _CHANNELS[color_type]
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as e:
        raise ValueError(f"corrupt PNG IDAT: {e}") from e
    expected = height * (1 + width * ch)
    if len(raw) != expected:
        raise ValueError(f"PNG data length {len(raw)} != expected {expected}")
    pixels = _unfilter(raw, width, height, ch)
    if ch == 1:
        gray = bytes(pixels)
    else:
        gray = bytes(
            sum(pixels[i * ch + k] for k in range(ch)) // ch
            for i in range(width * height)
        )
    return width, height, ch, gray


def png_grid_features(gray: bytes, width: int, height: int, grid: int = 4) -> list[float]:
    """grid×grid mean-intensity pooling of the grayscale image, normalized
    to [0, 1] — a deterministic, content-derived feature vector."""
    feats: list[float] = []
    for gy in range(grid):
        y0, y1 = gy * height // grid, max((gy + 1) * height // grid, gy * height // grid + 1)
        for gx in range(grid):
            x0, x1 = gx * width // grid, max((gx + 1) * width // grid, gx * width // grid + 1)
            total = n = 0
            for y in range(y0, min(y1, height)):
                row = y * width
                for x in range(x0, min(x1, width)):
                    total += gray[row + x]
                    n += 1
            feats.append((total / n / 255.0) if n else 0.0)
    return feats


def resize_gray(
    gray: bytes, width: int, height: int, out_w: int, out_h: int
) -> bytes:
    """Box-filter resample of a row-major 8-bit grayscale grid to
    ``out_w×out_h``: every output pixel is the integer mean of its source
    rectangle (``[ox*W//OW, (ox+1)*W//OW)`` × the same on y, widened to at
    least one source pixel), so up- and down-scaling both work and the
    result is deterministic across platforms (pure integer arithmetic,
    floor division — no float rounding mode in play)."""
    if len(gray) != width * height:
        raise ValueError(f"expected {width * height} bytes, got {len(gray)}")
    if out_w <= 0 or out_h <= 0:
        raise ValueError("output dimensions must be positive")
    out = bytearray(out_w * out_h)
    for oy in range(out_h):
        y0 = oy * height // out_h
        y1 = max((oy + 1) * height // out_h, y0 + 1)
        for ox in range(out_w):
            x0 = ox * width // out_w
            x1 = max((ox + 1) * width // out_w, x0 + 1)
            total = 0
            for y in range(y0, min(y1, height)):
                row = y * width
                for x in range(x0, min(x1, width)):
                    total += gray[row + x]
            n = (min(y1, height) - y0) * (min(x1, width) - x0)
            out[oy * out_w + ox] = total // n
    return bytes(out)


# ---------------------------------------------------------------------------
# WAV — PCM via the stdlib wave module
# ---------------------------------------------------------------------------


def encode_wav(samples: list[int], sample_rate: int = 8000) -> bytes:
    """16-bit mono PCM WAV from integer samples (clamped to int16)."""
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(
            b"".join(
                struct.pack("<h", max(-32768, min(32767, s))) for s in samples
            )
        )
    return buf.getvalue()


def decode_wav(data: bytes) -> tuple[int, int, list[int]]:
    """→ (sample_rate, duration_ms, samples): stdlib wave parse of 16-bit
    mono PCM."""
    if not data.startswith(WAV_MAGIC):
        raise ValueError("not a WAV (bad RIFF magic)")
    try:
        with wave.open(io.BytesIO(data), "rb") as w:
            rate = w.getframerate()
            n = w.getnframes()
            if w.getsampwidth() != 2 or w.getnchannels() != 1:
                raise ValueError("only 16-bit mono PCM supported")
            frames = w.readframes(n)
    except (wave.Error, EOFError, struct.error) as e:
        raise ValueError(f"corrupt WAV: {e}") from e
    samples = list(struct.unpack(f"<{n}h", frames))
    duration_ms = int(round(n * 1000 / rate)) if rate else 0
    return rate, duration_ms, samples


def wav_band_features(samples: list[int], bands: int = 16) -> list[float]:
    """Per-band RMS energy envelope over ``bands`` equal time slices,
    normalized by int16 full scale — deterministic audio features."""
    n = len(samples)
    feats: list[float] = []
    for b in range(bands):
        i0, i1 = b * n // bands, (b + 1) * n // bands
        seg = samples[i0:i1]
        if not seg:
            feats.append(0.0)
            continue
        rms = (sum(s * s for s in seg) / len(seg)) ** 0.5
        feats.append(rms / 32768.0)
    return feats


# ---------------------------------------------------------------------------
# JPEG — marker-walking header parse (dimensions/components from SOFn).
# Full baseline pixel decode lives in functions/jpegcodec.py; this parse
# is the cheap pre-filter (what a resize-planning pass over a 100 TB
# corpus reads) and the fallback for non-baseline shapes.
# ---------------------------------------------------------------------------

JPEG_MAGIC = b"\xff\xd8\xff"

# markers with no length segment: SOI, TEM, RSTn
_JPEG_BARE = {0xD8, 0x01} | set(range(0xD0, 0xD8))
# SOFn markers carry frame dims; C4/C8/CC are DHT/JPG/DAC, not frames
_JPEG_SOF = set(range(0xC0, 0xD0)) - {0xC4, 0xC8, 0xCC}


def jpeg_dimensions(data: bytes) -> tuple[int, int, int]:
    """(width, height, n_components) from the first SOFn marker.

    Walks the marker stream exactly as a real decoder does (length-prefixed
    segments, bare markers skipped), raising ``ValueError`` on structural
    corruption — truncation, a non-FF byte where a marker must start, or a
    scan section with no preceding frame header."""
    if not data.startswith(b"\xff\xd8"):
        raise ValueError("not a JPEG (missing SOI)")
    i = 2
    while i + 2 <= len(data):
        if data[i] != 0xFF:
            raise ValueError(f"bad marker byte at {i}")
        marker = data[i + 1]
        if marker == 0xFF:  # fill byte
            i += 1
            continue
        if marker in _JPEG_BARE:
            i += 2
            continue
        if marker == 0xD9:  # EOI
            break
        if i + 4 > len(data):
            raise ValueError("truncated segment header")
        seglen = int.from_bytes(data[i + 2 : i + 4], "big")
        if seglen < 2 or i + 2 + seglen > len(data):
            raise ValueError("bad segment length")
        if marker in _JPEG_SOF:
            if seglen < 8:
                raise ValueError("SOF segment too short")
            height = int.from_bytes(data[i + 5 : i + 7], "big")
            width = int.from_bytes(data[i + 7 : i + 9], "big")
            ncomp = data[i + 9]
            if width == 0 or height == 0:
                raise ValueError("zero dimension in SOF")
            return width, height, ncomp
        if marker == 0xDA:  # SOS before any SOF → structurally invalid
            raise ValueError("scan section with no frame header")
        i += 2 + seglen
    raise ValueError("no SOF marker found")


def encode_jpeg_shell(width: int, height: int, scan: bytes) -> bytes:
    """Marker-valid single-component JPEG container around an opaque scan
    payload (0xFF bytes stuffed as FF 00, as the format requires). The
    header chain — SOI, JFIF APP0, SOF0, SOS — parses under
    ``jpeg_dimensions`` and any marker-walking reader; the scan is NOT a
    decodable entropy stream (tests and the synthetic fetch stage only)."""
    app0 = (
        b"\xff\xe0" + (16).to_bytes(2, "big")
        + b"JFIF\x00\x01\x01\x00" + b"\x00\x01\x00\x01\x00\x00"
    )
    sof0 = (
        b"\xff\xc0" + (11).to_bytes(2, "big") + b"\x08"
        + height.to_bytes(2, "big") + width.to_bytes(2, "big")
        + b"\x01" + b"\x01\x11\x00"
    )
    sos = b"\xff\xda" + (8).to_bytes(2, "big") + b"\x01\x01\x00\x00\x3f\x00"
    stuffed = scan.replace(b"\xff", b"\xff\x00")
    return b"\xff\xd8" + app0 + sof0 + sos + stuffed + b"\xff\xd9"


# ---------------------------------------------------------------------------
# GIF — REAL pixel decode: the LZW variant GIF uses (variable code width,
# clear/EOI codes, 255-byte sub-block framing) needs nothing beyond integer
# arithmetic, and the palette maps indexes to RGB (GIF89a spec §§20-22).
# Static single-frame images decode fully, including interlaced ones;
# animated/multi-frame inputs decode their FIRST frame.
# ---------------------------------------------------------------------------

GIF_MAGICS = (b"GIF87a", b"GIF89a")
BMP_MAGIC = b"BM"


def _gif_lzw_decode(min_code_size: int, data: bytes, max_pixels: int) -> bytearray:
    """GIF-flavor LZW: codes start at ``min_code_size+1`` bits, the
    dictionary grows by one entry per emitted code until 4095, CLEAR
    (2^mcs) resets it, EOI (CLEAR+1) terminates."""
    clear = 1 << min_code_size
    eoi = clear + 1

    def fresh() -> list[bytes | None]:
        return [bytes([i]) for i in range(clear)] + [None, None]

    table = fresh()
    width = min_code_size + 1
    acc = nbits = 0
    out = bytearray()
    prev: bytes | None = None
    for byte in data:
        acc |= byte << nbits
        nbits += 8
        while nbits >= width:
            code = acc & ((1 << width) - 1)
            acc >>= width
            nbits -= width
            if code == clear:
                table = fresh()
                width = min_code_size + 1
                prev = None
                continue
            if code == eoi:
                return out
            if prev is None:
                if code >= len(table):
                    raise ValueError("LZW stream starts with a non-root code")
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            elif code == len(table):  # the KwKwK case
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise ValueError("LZW code out of range")
            out.extend(entry)
            if len(out) > max_pixels:
                raise ValueError("LZW output exceeds image size")
            prev = entry
            if len(table) >= (1 << width) and width < 12:
                width += 1
    return out


_GIF_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def decode_gif_pixels(data: bytes) -> tuple[int, int, bytes]:
    """→ (width, height, gray_pixels): full decode of the first image —
    LZW-expand the index stream, map through the active color table,
    collapse RGB to 8-bit grayscale (mean), de-interlace if flagged."""
    w, h = gif_dimensions(data)  # validates magic + screen descriptor
    packed = data[10]
    pos = 13
    gct = None
    if packed & 0x80:
        n = 3 * (2 << (packed & 0x07))
        gct = data[pos : pos + n]
        pos += n
    while pos < len(data):
        block = data[pos]
        if block == 0x21:  # extension: label + length-framed sub-blocks
            pos += 2
            while pos < len(data) and data[pos] != 0:
                pos += 1 + data[pos]
            pos += 1
        elif block == 0x2C:  # image descriptor
            if pos + 10 > len(data):
                raise ValueError("truncated GIF image descriptor")
            _left, _top, iw, ih = struct.unpack_from("<HHHH", data, pos + 1)
            ipacked = data[pos + 9]
            pos += 10
            ct = gct
            if ipacked & 0x80:
                n = 3 * (2 << (ipacked & 0x07))
                ct = data[pos : pos + n]
                pos += n
            if ct is None:
                raise ValueError("GIF image with no color table")
            if iw == 0 or ih == 0:
                raise ValueError("GIF frame with zero dimension")
            mcs = data[pos]
            pos += 1
            if not 2 <= mcs <= 11:
                raise ValueError(f"bad GIF LZW min code size {mcs}")
            lzw = bytearray()
            while pos < len(data) and data[pos] != 0:
                ln = data[pos]
                lzw.extend(data[pos + 1 : pos + 1 + ln])
                pos += 1 + ln
            idx = _gif_lzw_decode(mcs, bytes(lzw), iw * ih)
            if len(idx) < iw * ih:
                raise ValueError(
                    f"GIF pixel data short: {len(idx)} of {iw * ih}"
                )
            n_colors = len(ct) // 3
            idx = idx[: iw * ih]
            if max(idx) >= n_colors:
                raise ValueError("palette index out of range")
            # translate needs a full 256-byte table; indexes are already
            # range-checked so the zero padding is never reached
            gray_lut = bytes(
                (ct[3 * i] + ct[3 * i + 1] + ct[3 * i + 2]) // 3
                if i < n_colors else 0
                for i in range(256)
            )
            rows = [
                bytes(idx[y * iw : (y + 1) * iw]).translate(gray_lut)
                for y in range(ih)
            ]
            if ipacked & 0x40:  # interlaced: 4-pass row shuffle
                ordered: list[bytes | None] = [None] * ih
                src = iter(rows)
                for start, step in _GIF_INTERLACE_PASSES:
                    for y in range(start, ih, step):
                        ordered[y] = next(src)
                rows = ordered  # type: ignore[assignment]
            return iw, ih, b"".join(rows)
        elif block == 0x3B:  # trailer
            break
        else:
            raise ValueError(f"unknown GIF block 0x{block:02x}")
    raise ValueError("GIF contains no image data")


def encode_gif(width: int, height: int, gray: bytes) -> bytes:
    """Single-frame grayscale GIF89a with a 256-entry gray palette and the
    classic 'uncompressed LZW' emission: every pixel is a root code, with a
    CLEAR inserted well before the code width would have to grow under
    EITHER width-change convention (early or deferred) — valid LZW, no
    compression work. Test/fixture writer, like ``encode_png``."""
    if len(gray) != width * height:
        raise ValueError(f"expected {width * height} bytes, got {len(gray)}")
    header = b"GIF89a" + struct.pack("<HHBBB", width, height, 0xF7, 0, 0)
    palette = bytes(v for i in range(256) for v in (i, i, i))
    desc = b"\x2c" + struct.pack("<HHHHB", 0, 0, width, height, 0)
    mcs = 8
    clear = 1 << mcs
    width_bits = mcs + 1
    acc = nbits = 0
    emitted: bytearray = bytearray()

    def put(code: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width_bits
        while nbits >= 8:
            emitted.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    put(clear)
    count = 0
    for px in gray:
        # dictionary grows by one per emitted pixel code; reset long
        # before the decoder's table could approach the width-10 boundary
        # (258 + 192 = 450 < 511) under any width-change convention
        if count == 192:
            put(clear)
            count = 0
        put(px)
        count += 1
    put(clear + 1)  # EOI
    if nbits:
        emitted.append(acc & 0xFF)
    framed = bytearray()
    for i in range(0, len(emitted), 255):
        chunk = emitted[i : i + 255]
        framed.append(len(chunk))
        framed.extend(chunk)
    framed.append(0)
    return header + palette + desc + bytes([mcs]) + bytes(framed) + b"\x3b"


def gif_dimensions(data: bytes) -> tuple[int, int]:
    """(width, height) from the GIF logical screen descriptor (bytes 6-9,
    little-endian u16 each — GIF89a spec §18)."""
    if not data.startswith(GIF_MAGICS) or len(data) < 10:
        raise ValueError("not a GIF (missing/truncated header)")
    w, h = struct.unpack_from("<HH", data, 6)
    if w == 0 or h == 0:
        raise ValueError("GIF with zero dimension")
    return w, h


def encode_gif_shell(width: int, height: int) -> bytes:
    """Minimal valid GIF89a container (screen descriptor + trailer) for
    deterministic test payloads."""
    return b"GIF89a" + struct.pack("<HHBBB", width, height, 0, 0, 0) + b"\x3b"


def bmp_dimensions(data: bytes) -> tuple[int, int]:
    """(width, height) from the BITMAPINFOHEADER (i32 at offsets 18/22;
    height may be negative for top-down rows — absolute value is the pixel
    height)."""
    if not data.startswith(BMP_MAGIC) or len(data) < 26:
        raise ValueError("not a BMP (missing/truncated header)")
    w, h = struct.unpack_from("<ii", data, 18)
    if w <= 0 or h == 0:
        raise ValueError("BMP with non-positive dimension")
    return w, abs(h)


def encode_bmp_shell(width: int, height: int) -> bytes:
    """Minimal valid BMP file header + BITMAPINFOHEADER for tests."""
    info = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, 0, 0, 0, 0, 0)
    header = b"BM" + struct.pack("<IHHI", 14 + 40, 0, 0, 14 + 40)
    return header + info


# ---------------------------------------------------------------------------
# MP4 — real ISO BMFF box walk for the movie-header duration (the metadata
# a frame-sampling planner reads) and the sample table; sample decode
# genuinely needs ffmpeg, so no codec here decodes sample pixels.
# ---------------------------------------------------------------------------


def is_mp4(data: bytes) -> bool:
    return len(data) >= 8 and data[4:8] == b"ftyp"


def _walk_boxes(data: bytes, start: int, end: int):
    pos = start
    while pos + 8 <= end:
        (size,) = struct.unpack_from(">I", data, pos)
        tag = data[pos + 4 : pos + 8]
        body = pos + 8
        if size == 1:  # 64-bit largesize
            if pos + 16 > end:
                raise ValueError("truncated MP4 largesize box")
            (size,) = struct.unpack_from(">Q", data, pos + 8)
            body = pos + 16
        elif size == 0:  # box runs to EOF
            size = end - pos
        if size < 8 or pos + size > end:
            raise ValueError(f"bad MP4 box size at {pos}")
        yield tag, body, pos + size
        pos += size


def mp4_duration_ms(data: bytes) -> int:
    """Movie duration in ms from moov/mvhd (version 0 or 1)."""
    if not is_mp4(data):
        raise ValueError("not an MP4 (missing ftyp)")
    for tag, body, box_end in _walk_boxes(data, 0, len(data)):
        if tag != b"moov":
            continue
        for tag2, b2, _ in _walk_boxes(data, body, box_end):
            if tag2 != b"mvhd":
                continue
            version = data[b2]
            if version == 0:
                if b2 + 20 > len(data):
                    raise ValueError("truncated mvhd")
                timescale, duration = struct.unpack_from(">II", data, b2 + 12)
            elif version == 1:
                if b2 + 32 > len(data):
                    raise ValueError("truncated mvhd")
                (timescale,) = struct.unpack_from(">I", data, b2 + 20)
                (duration,) = struct.unpack_from(">Q", data, b2 + 24)
            else:
                raise ValueError(f"unknown mvhd version {version}")
            if timescale == 0:
                raise ValueError("mvhd timescale is zero")
            return int(round(duration * 1000 / timescale))
        raise ValueError("moov without mvhd")
    raise ValueError("MP4 contains no moov box")


def encode_mp4_shell(duration_ms: int, timescale: int = 1000) -> bytes:
    """Minimal valid ftyp + moov(mvhd v0) container for fixtures; the
    duration round-trips through ``mp4_duration_ms``."""
    ftyp = struct.pack(">I", 16) + b"ftypisom" + struct.pack(">I", 0)
    duration = int(round(duration_ms * timescale / 1000))
    mvhd_body = (
        b"\x00\x00\x00\x00"  # version 0 + flags
        + struct.pack(">II", 0, 0)  # ctime, mtime
        + struct.pack(">II", timescale, duration)
        + b"\x00" * 80  # rate/volume/matrix/predefined/next_track (zeroed)
    )
    mvhd = struct.pack(">I", 8 + len(mvhd_body)) + b"mvhd" + mvhd_body
    moov = struct.pack(">I", 8 + len(mvhd)) + b"moov" + mvhd
    return ftyp + moov


def decode_bmp_pixels(data: bytes) -> tuple[int, int, bytes]:
    """→ (width, height, gray_pixels): REAL decode of uncompressed 24-bit
    BMPs (BI_RGB) — BGR triples in 4-byte-padded rows, bottom-up unless
    the header height is negative (top-down). Grayscale = channel mean."""
    w, h = bmp_dimensions(data)  # validates magic + header length
    if len(data) < 34:
        raise ValueError("BMP header too short for pixel decode")
    (pix_off,) = struct.unpack_from("<I", data, 10)
    raw_h = struct.unpack_from("<i", data, 22)[0]
    planes, bpp = struct.unpack_from("<HH", data, 26)
    (compression,) = struct.unpack_from("<I", data, 30)
    if bpp != 24 or compression != 0:
        raise ValueError(
            f"unsupported BMP shape (bpp={bpp}, compression={compression})"
        )
    if planes != 1:
        raise ValueError(f"bad BMP planes {planes}")
    stride = (w * 3 + 3) & ~3
    if pix_off + stride * h > len(data):
        raise ValueError("truncated BMP pixel array")
    top_down = raw_h < 0
    out = bytearray(w * h)
    for y in range(h):
        src_row = y if top_down else h - 1 - y
        base = pix_off + src_row * stride
        row_off = y * w
        for x in range(w):
            b3 = base + 3 * x
            out[row_off + x] = (
                data[b3] + data[b3 + 1] + data[b3 + 2]
            ) // 3
    return w, h, bytes(out)


def encode_bmp(width: int, height: int, gray: bytes, top_down: bool = False) -> bytes:
    """Uncompressed 24-bit BMP from a grayscale grid (each gray byte
    becomes an equal BGR triple); rows padded to 4 bytes, bottom-up by
    default. Test/fixture writer."""
    if len(gray) != width * height:
        raise ValueError(f"expected {width * height} bytes, got {len(gray)}")
    stride = (width * 3 + 3) & ~3
    pad = b"\x00" * (stride - width * 3)
    rows = []
    y_range = range(height) if top_down else range(height - 1, -1, -1)
    for y in y_range:
        row = gray[y * width : (y + 1) * width]
        rows.append(b"".join(bytes((v, v, v)) for v in row) + pad)
    body = b"".join(rows)
    info = struct.pack(
        "<IiiHHIIiiII", 40, width, -height if top_down else height,
        1, 24, 0, len(body), 0, 0, 0, 0,
    )
    header = b"BM" + struct.pack("<IHHI", 14 + 40 + len(body), 0, 0, 14 + 40)
    return header + info + body


def _find_box(data: bytes, start: int, end: int, tag: bytes) -> tuple[int, int] | None:
    for t, body, box_end in _walk_boxes(data, start, end):
        if t == tag:
            return body, box_end
    return None


def mp4_sample_table(data: bytes) -> list[tuple[int, int, int]]:
    """REAL ISO BMFF sample-table walk: moov → trak → mdia →
    (mdhd timescale) + minf → stbl → {stts, stsz, stsc, stco/co64},
    combined into one row per sample: (start_ms, file_offset, size).

    This is the container-level ground truth a frame sampler needs —
    exact sample timing from the time-to-sample deltas and exact payload
    byte ranges from the chunk-offset/sample-size tables — without any
    codec entropy decode. Raises ValueError when the MP4 has no complete
    sample table (e.g. metadata-only shells) or the tables are
    inconsistent/out of bounds."""
    if not is_mp4(data):
        raise ValueError("not an MP4 (missing ftyp)")
    moov = _find_box(data, 0, len(data), b"moov")
    if moov is None:
        raise ValueError("MP4 contains no moov box")
    for tag, tbody, tend in _walk_boxes(data, moov[0], moov[1]):
        if tag != b"trak":
            continue
        mdia = _find_box(data, tbody, tend, b"mdia")
        if mdia is None:
            continue
        mdhd = _find_box(data, mdia[0], mdia[1], b"mdhd")
        minf = _find_box(data, mdia[0], mdia[1], b"minf")
        if mdhd is None or minf is None:
            continue
        stbl = _find_box(data, minf[0], minf[1], b"stbl")
        if stbl is None:
            continue
        version = data[mdhd[0]]
        if version == 0:
            (timescale,) = struct.unpack_from(">I", data, mdhd[0] + 12)
        elif version == 1:
            (timescale,) = struct.unpack_from(">I", data, mdhd[0] + 20)
        else:
            raise ValueError(f"unknown mdhd version {version}")
        if timescale == 0:
            raise ValueError("mdhd timescale is zero")
        stts = _find_box(data, stbl[0], stbl[1], b"stts")
        stsz = _find_box(data, stbl[0], stbl[1], b"stsz")
        stsc = _find_box(data, stbl[0], stbl[1], b"stsc")
        stco = _find_box(data, stbl[0], stbl[1], b"stco")
        co64 = _find_box(data, stbl[0], stbl[1], b"co64")
        if stts is None or stsz is None or stsc is None or (stco is None and co64 is None):
            raise ValueError("stbl missing one of stts/stsz/stsc/stco")

        def table_count(box, name, header, entry_size):
            """Entry count of a full box, validated against the box end —
            unpack_from past a declared box boundary would silently read
            adjacent boxes' bytes (wrong offsets, no error) or raise
            struct.error at EOF, and a hostile count would pre-allocate
            an unbounded list; all three become the documented
            ValueError here."""
            if box[0] + header > box[1]:
                raise ValueError(f"{name} box too short for its header")
            (n,) = struct.unpack_from(">I", data, box[0] + 4)
            if box[0] + header + n * entry_size > box[1]:
                raise ValueError(f"{name} entry count {n} overruns its box")
            return n

        # stts → per-sample start times (media timescale units)
        n_tts = table_count(stts, "stts", 8, 8)
        total = sum(
            struct.unpack_from(">I", data, stts[0] + 8 + 8 * k)[0]
            for k in range(n_tts)
        )
        # bound the expansion before allocating: a sample needs at least a
        # time delta and a size entry somewhere in the file, so more
        # samples than bytes in the container is always inconsistent
        if total > len(data):
            raise ValueError(f"stts declares {total} samples for a "
                             f"{len(data)}-byte container")
        starts: list[int] = []
        t = 0
        for k in range(n_tts):
            cnt, delta = struct.unpack_from(">II", data, stts[0] + 8 + 8 * k)
            for _ in range(cnt):
                starts.append(t)
                t += delta
        n_samples = len(starts)

        # stsz → per-sample sizes
        if stsz[0] + 12 > stsz[1]:
            raise ValueError("stsz box too short for its header")
        uniform, n_sz = struct.unpack_from(">II", data, stsz[0] + 4)
        if n_sz != n_samples:
            raise ValueError(f"stsz count {n_sz} != stts sample count {n_samples}")
        if uniform:
            sizes = [uniform] * n_samples
        else:
            if stsz[0] + 12 + 4 * n_sz > stsz[1]:
                raise ValueError(f"stsz entry count {n_sz} overruns its box")
            sizes = [
                struct.unpack_from(">I", data, stsz[0] + 12 + 4 * k)[0]
                for k in range(n_samples)
            ]

        # stco/co64 → chunk offsets
        cbox, cwidth = (stco, 4) if stco is not None else (co64, 8)
        n_chunks = table_count(cbox, "stco/co64", 8, cwidth)
        fmt = ">I" if cwidth == 4 else ">Q"
        chunk_offsets = [
            struct.unpack_from(fmt, data, cbox[0] + 8 + cwidth * k)[0]
            for k in range(n_chunks)
        ]

        # stsc → samples per chunk, expanded across the stco chunk list
        n_sc = table_count(stsc, "stsc", 8, 12)
        sc = [
            struct.unpack_from(">III", data, stsc[0] + 8 + 12 * k)[:2]
            for k in range(n_sc)
        ]
        per_chunk: list[int] = []
        for k, (first_chunk, spc) in enumerate(sc):
            last = sc[k + 1][0] - 1 if k + 1 < len(sc) else n_chunks
            span = last - first_chunk + 1
            if span < 0 or len(per_chunk) + span > n_chunks:
                raise ValueError("stsc first_chunk runs are inconsistent")
            per_chunk.extend([spc] * span)
        if len(per_chunk) != n_chunks:
            raise ValueError("stsc does not cover the stco chunk list")

        out: list[tuple[int, int, int]] = []
        si = 0
        for ci, coff in enumerate(chunk_offsets):
            off = coff
            for _ in range(per_chunk[ci]):
                if si >= n_samples:
                    raise ValueError("stsc references more samples than stsz")
                size = sizes[si]
                if off + size > len(data):
                    raise ValueError(f"sample {si} byte range out of bounds")
                out.append((starts[si] * 1000 // timescale, off, size))
                off += size
                si += 1
        if si != n_samples:
            raise ValueError("chunk walk did not consume every sample")
        return out
    raise ValueError("moov has no trak with a complete stbl")


def byte_band_features(payload: bytes, bands: int = 16) -> list[float]:
    """L2-normalized byte-value histogram of a REAL payload slice — the
    content feature for samples whose codec decode is out of scope (MP4
    sample payloads): deterministic, discriminates distinct payloads, and
    is a pure function of the actual bytes on disk."""
    counts = [0] * bands
    for b in payload:
        counts[b * bands // 256] += 1
    norm = sum(c * c for c in counts) ** 0.5
    if norm == 0:
        return [0.0] * bands
    return [c / norm for c in counts]


def encode_mp4_with_samples(
    samples: list[bytes], frame_ms: int = 40, timescale: int = 1000
) -> bytes:
    """Minimal valid ftyp + mdat + moov(mvhd, trak(mdia(mdhd,
    minf(stbl(stts, stsc, stsz, stco))))) container for fixtures: one
    chunk holding all samples at a fixed frame interval. The sample table
    round-trips through ``mp4_sample_table`` and the duration through
    ``mp4_duration_ms``. mdat precedes moov so chunk offsets are
    independent of the metadata size."""
    if not samples:
        raise ValueError("need at least one sample")
    n = len(samples)
    delta = frame_ms * timescale // 1000
    ftyp = struct.pack(">I", 16) + b"ftypisom" + struct.pack(">I", 0)
    body = b"".join(samples)
    mdat = struct.pack(">I", 8 + len(body)) + b"mdat" + body
    first_off = len(ftyp) + 8

    def full_box(tag: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", 12 + len(payload)) + tag + b"\x00\x00\x00\x00" + payload

    def box(tag: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", 8 + len(payload)) + tag + payload

    stts = full_box(b"stts", struct.pack(">III", 1, n, delta))
    stsc = full_box(b"stsc", struct.pack(">IIII", 1, 1, n, 1))
    stsz = full_box(
        b"stsz",
        struct.pack(">II", 0, n) + b"".join(struct.pack(">I", len(s)) for s in samples),
    )
    stco = full_box(b"stco", struct.pack(">II", 1, first_off))
    stbl = box(b"stbl", stts + stsc + stsz + stco)
    minf = box(b"minf", stbl)
    duration = n * delta
    mdhd = full_box(
        b"mdhd",
        struct.pack(">IIII", 0, 0, timescale, duration) + struct.pack(">HH", 0x55C4, 0),
    )
    mdia = box(b"mdia", mdhd + minf)
    trak = box(b"trak", mdia)
    mvhd_body = (
        b"\x00\x00\x00\x00"
        + struct.pack(">II", 0, 0)
        + struct.pack(">II", timescale, duration)
        + b"\x00" * 80
    )
    mvhd = box(b"mvhd", mvhd_body)
    moov = box(b"moov", mvhd + trak)
    return ftyp + mdat + moov
