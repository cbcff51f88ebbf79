"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Two decode tiers:

* **Real container parsing** (``parse_bmp`` / ``parse_png`` /
  ``parse_jpeg`` / ``parse_wav`` / ``parse_mp4`` / ``parse_gif`` /
  ``parse_tiff`` / ``parse_pnm``, all eight tried by ``decode_media``
  and the ``decode_map`` kernel): pure-Python ``struct`` parsing of
  the BMP BITMAPINFOHEADER, the PNG chunk list (IHDR CRC-checked with
  stdlib ``zlib.crc32``), the JPEG marker-segment walk (ITU T.81 — SOFn
  frame header), the RIFF/WAVE chunk list, and the ISO BMFF (MP4) box
  tree (``moov``/``mvhd``/``trak``/``tkhd``) — fixed public layouts
  that need no codec dependency (mirrors the reference's image-bytes
  ingest, ``tesserocr/tesserocr.pyx:362-369`` ``_image_buffer`` /
  ``SetImageBytes`` ``:1720-1750`` / ``SetImageBytesBmp``
  ``:1752-1772``).
  PNG is real END-TO-END: ``decode_png_pixels`` inflates the IDAT stream
  with stdlib ``zlib`` and inverts all five PNG scanline filters (None /
  Sub / Up / Average / Paeth, RFC 2083 §6) to raw pixel bytes. WAV is
  also real END-TO-END: ``decode_wav_samples`` decodes the PCM ``data``
  chunk (8-bit unsigned; 16-, 24- and 32-bit signed LE) to sample
  statistics. TIFF is real END-TO-END for 8-bit uncompressed and
  PackBits (Compression=32773) strips: ``parse_tiff`` walks the full
  multi-page IFD chain (II and MM byte orders, inline and out-of-line
  tag values) and ``decode_tiff_pixels`` reassembles any page's raster
  from its strips — the multi-page format the reference's
  ``ProcessPages`` iterates.
  GIF is real END-TO-END with the compression implemented from scratch:
  ``parse_gif`` walks the GIF87a/89a block stream and
  ``decode_gif_pixels`` LZW-decodes the first frame (``_lzw_decode`` /
  ``_lzw_encode`` implement the Welch-1984 GIF variant — LSB-first
  packing, clear/EOI codes, 9→12-bit variable code width — in pure
  Python; no codec library involved). Binary netpbm (P4/P5/P6) is real
  END-TO-END too: ``parse_pnm`` reads the ASCII header grammar
  (comments included) and ``decode_pnm_pixels`` returns the 8-bit
  raster.
  Malformed or unknown payloads fall back to the deterministic stub
  rather than raising, so a 100 TB scan never dies on one bad blob.
  Baseline-sequential grayscale JPEG is real END-TO-END as well, both
  directions from the ITU T.81 spec: ``make_jpeg_baseline`` (forward
  DCT, quantization, zigzag, Huffman with DHT-self-described tables,
  byte stuffing) and ``decode_jpeg_pixels`` (marker walk, Annex C
  canonical code reconstruction, DC EXTEND, AC run-length, dequantize,
  2D IDCT).
* **Deterministic stub** (``_decode_one`` + ``decode_stub_map``): fake
  metadata as a pure function of the bytes, kept for payloads with no
  parseable container (and frozen by the ``multimodal_stub`` oracle law).
  Color/progressive JPEG and MP4 *frame* decode remain out of subset
  (``decode_jpeg_pixels`` returns None; ``resize_stub_map`` stays a
  stub) — MP4 *metadata* (dimensions, timescale, duration, track count)
  is real.

NULL-payload law (ADVICE r04): a missing payload is NOT the same thing as
a zero-byte blob — ``decode_map`` emits ``format = NULL`` (all numeric
fields 0) for SQL NULL payloads so downstream audits can tell them apart;
the empty-blob stub law (``format='raw'``) applies only to payloads that
are present and empty. The stats kernels give a NULL payload their
all-zero row; ``decode_stub_map``, ``feature_extract_map`` and
``resize_stub_map`` give it NULL fields, and ``frame_sample_map`` no
frames.

Everything Spark-side — binary column handling, Arrow batch shape,
``mapInPandas`` signatures, partition independence — is real and tested.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Callable, Iterator
from functools import partial

import pandas as pd


def _decode_one(payload: bytes) -> dict:
    """STUB decoder: deterministic fake metadata derived from the bytes —
    the fallback for payloads with no parseable container header. A pure
    function of the payload so results are partition-independent."""
    n = len(payload)
    return {"n_bytes": n, "fake_width": n % 640, "n_frames": n % 7}


def parse_bmp(payload: bytes) -> dict | None:
    """REAL BMP header parser (BITMAPFILEHEADER + BITMAPINFOHEADER, the
    fixed public little-endian layout). Returns None unless the payload is
    a structurally valid uncompressed BMP whose declared pixel array fits
    inside the buffer. Negative height (top-down rows) is normalized."""
    if len(payload) < 54 or payload[:2] != b"BM":
        return None
    pixel_off = struct.unpack_from("<I", payload, 10)[0]
    dib_size = struct.unpack_from("<I", payload, 14)[0]
    if dib_size < 40:  # BITMAPCOREHEADER etc. — not carried
        return None
    width, height = struct.unpack_from("<ii", payload, 18)
    planes, bpp = struct.unpack_from("<HH", payload, 26)
    if planes != 1 or bpp not in (1, 4, 8, 16, 24, 32):
        return None
    if width <= 0 or height == 0 or width > 1 << 20 or abs(height) > 1 << 20:
        return None
    stride = ((width * bpp + 31) // 32) * 4  # rows pad to 4 bytes
    if pixel_off + stride * abs(height) > len(payload):
        return None
    return {
        "format": "bmp",
        "width": width,
        "height": abs(height),
        "bpp": bpp,
        "n_channels": 3 if bpp >= 16 else 1,
        "sample_rate": 0,
        "n_frames": 1,
        "n_bytes": len(payload),
    }


_PNG_SIG = b"\x89PNG\r\n\x1a\n"

#: samples per pixel by PNG color type (0 gray, 2 RGB, 3 palette-indexed,
#: 4 gray+alpha, 6 RGBA) — RFC 2083 §4.1.1.
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _png_chunks(payload: bytes):
    """Yield (type, data_offset, length) for each well-formed chunk; stops
    (StopIteration, not an exception) at the first structural violation."""
    off = len(_PNG_SIG)
    while off + 8 <= len(payload):
        length = struct.unpack_from(">I", payload, off)[0]
        ctype = payload[off + 4 : off + 8]
        if off + 12 + length > len(payload):
            return
        yield ctype, off + 8, length
        if ctype == b"IEND":
            return
        off += 12 + length


def parse_png(payload: bytes) -> dict | None:
    """REAL PNG parser: 8-byte signature, big-endian chunk walk, IHDR
    first-chunk rule with its CRC verified (stdlib ``zlib.crc32`` — catches
    bit rot that a pure offset read would silently accept). Requires a
    structurally complete stream (IDAT present, terminated by IEND).
    ``bpp`` is bits per PIXEL (bit depth × channels) for consistency with
    the BMP field."""
    if len(payload) < len(_PNG_SIG) + 25 or payload[: len(_PNG_SIG)] != _PNG_SIG:
        return None
    chunks = _png_chunks(payload)
    try:
        ctype, doff, length = next(chunks)
    except StopIteration:
        return None
    if ctype != b"IHDR" or length != 13:
        return None
    crc = struct.unpack_from(">I", payload, doff + length)[0]
    if crc != zlib.crc32(payload[doff - 4 : doff + length]):
        return None
    width, height, depth, color, comp, filt, interlace = struct.unpack_from(
        ">IIBBBBB", payload, doff
    )
    if comp != 0 or filt != 0 or interlace not in (0, 1):
        return None
    if color not in _PNG_CHANNELS or depth not in (1, 2, 4, 8, 16):
        return None
    if color == 3 and depth == 16:  # palette indices are at most 8-bit
        return None
    if not (0 < width <= 1 << 20 and 0 < height <= 1 << 20):
        return None
    seen = {b"IHDR"}
    for ctype, _, _ in chunks:
        seen.add(ctype)
    if b"IDAT" not in seen or b"IEND" not in seen:
        return None
    ch = _PNG_CHANNELS[color]
    return {
        "format": "png",
        "width": width,
        "height": height,
        "bpp": depth * ch,
        "n_channels": ch,
        "sample_rate": 0,
        "n_frames": 1,
        "n_bytes": len(payload),
    }


#: Adam7 interlace pass grid (RFC 2083 §2.6): (x start, y start, x step,
#: y step) for each of the seven passes.
_PNG_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _png_unfilter(
    raw: bytes, start: int, nrows: int, stride: int, ch: int
) -> list[bytes] | None:
    """Invert the five PNG scanline filters over ``nrows`` rows of
    ``stride`` bytes each starting at ``raw[start]`` (1 filter byte per
    row); prior row starts as zeros — exactly one pass of an image."""
    import numpy as np

    rows: list[bytes] = []
    prior = bytes(stride)
    for y in range(nrows):
        off = start + y * (1 + stride)
        ftype = raw[off]
        if ftype == 0:
            prior = bytes(raw[off + 1 : off + 1 + stride])
            rows.append(prior)
            continue
        if ftype == 1:  # Sub: per-channel cumulative sum mod 256
            arr = np.frombuffer(
                raw, dtype=np.uint8, count=stride, offset=off + 1
            )
            prior = (
                (arr.reshape(-1, ch).astype(np.int64).cumsum(axis=0) % 256)
                .astype(np.uint8)
                .tobytes()
            )
            rows.append(prior)
            continue
        if ftype == 2:  # Up: one vectorized add against the prior row
            arr = np.frombuffer(
                raw, dtype=np.uint8, count=stride, offset=off + 1
            )
            prior = (arr + np.frombuffer(prior, dtype=np.uint8)).tobytes()
            rows.append(prior)
            continue
        line = bytearray(raw[off + 1 : off + 1 + stride])
        if ftype == 3:  # Average (left-recurrence: stays sequential)
            for i in range(stride):
                left = line[i - ch] if i >= ch else 0
                line[i] = (line[i] + (left + prior[i]) // 2) & 0xFF
        elif ftype == 4:  # Paeth (left-recurrence: stays sequential)
            for i in range(stride):
                left = line[i - ch] if i >= ch else 0
                b = prior[i]
                c = prior[i - ch] if i >= ch else 0
                p = left + b - c
                pa = p - left if p >= left else left - p
                pb = p - b if p >= b else b - p
                pc = p - c if p >= c else c - p
                pred = (
                    left if pa <= pb and pa <= pc else b if pb <= pc else c
                )
                line[i] = (line[i] + pred) & 0xFF
        else:
            return None
        prior = bytes(line)
        rows.append(prior)
    return rows


def decode_png_pixels(payload: bytes) -> bytes | None:
    """Full PNG pixel decode for the 8-bit subset (any color type;
    palette images yield index bytes), BOTH progressive layouts:
    sequential and Adam7-interlaced (RFC 2083 §2.6 — seven passes, each
    filtered independently, scattered back onto the pixel grid).
    Concatenates the IDAT chunks, inflates with stdlib ``zlib``, and
    inverts the per-scanline filter. Returns height × width × channels
    raw bytes in display order, or None when the stream is outside the
    subset or inconsistent — never raises on corpus data."""
    meta = parse_png(payload)
    return None if meta is None else _png_pixels(payload, meta)


def _png_pixels(payload: bytes, meta: dict) -> bytes | None:
    """``decode_png_pixels`` of a payload that ``parse_png`` accepted as
    ``meta``: the stats kernel parses each header once."""
    if meta["bpp"] != meta["n_channels"] * 8:
        return None
    ihdr_off = len(_PNG_SIG) + 8
    interlace = payload[ihdr_off + 12]
    idat = b"".join(
        payload[off : off + length]
        for ctype, off, length in _png_chunks(payload)
        if ctype == b"IDAT"
    )
    w, h, ch = meta["width"], meta["height"], meta["n_channels"]
    # expected raw size is known from the header before inflating, so the
    # inflate is capped at it (a crafted IDAT otherwise expands ~1000x
    # before the length checks below could reject it) and the Adam7
    # output buffer is only allocated for a stream that can actually fill
    # it (a ~300-byte interlaced payload could previously reserve
    # terabytes from its declared IHDR dims)
    if interlace == 0:
        expected = h * (1 + w * ch)
    else:
        expected = 0
        for x0, y0, dx, dy in _PNG_ADAM7:
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw > 0 and ph > 0:
                expected += ph * (1 + pw * ch)
    try:
        d = zlib.decompressobj()
        raw = d.decompress(idat, expected)
        if not d.eof:  # either more output pending (reject) or just the
            raw += d.decompress(d.unconsumed_tail, 1)  # stream trailer
        if not d.eof or len(raw) != expected:
            return None
    except (zlib.error, MemoryError):
        return None
    if interlace == 0:
        rows = _png_unfilter(raw, 0, h, w * ch, ch)
        return None if rows is None else b"".join(rows)
    out = bytearray(w * h * ch)
    pos = 0
    for x0, y0, dx, dy in _PNG_ADAM7:
        pw = (w - x0 + dx - 1) // dx
        ph = (h - y0 + dy - 1) // dy
        if pw <= 0 or ph <= 0:  # pass empty for small images
            continue
        stride = pw * ch
        rows = _png_unfilter(raw, pos, ph, stride, ch)
        if rows is None:
            return None
        pos += ph * (1 + stride)
        for j, row in enumerate(rows):
            y = y0 + j * dy
            if dx == 1:  # pass spans full rows — one contiguous copy
                base = (y * w + x0) * ch
                out[base : base + stride] = row
                continue
            for i in range(pw):
                x = x0 + i * dx
                base = (y * w + x) * ch
                out[base : base + ch] = row[i * ch : (i + 1) * ch]
    return bytes(out)


def parse_wav(payload: bytes) -> dict | None:
    """REAL RIFF/WAVE parser: walks the word-aligned chunk list for the
    ``fmt `` and ``data`` chunks (tolerates extra chunks like LIST before
    either). Returns None unless both are present and self-consistent."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    off, fmt, data_size = 12, None, None
    while off + 8 <= len(payload):
        cid = payload[off : off + 4]
        size = struct.unpack_from("<I", payload, off + 4)[0]
        if off + 8 + size > len(payload):
            return None
        if cid == b"fmt " and size >= 16:
            _tag, ch, rate, _brate, _align, bits = struct.unpack_from(
                "<HHIIHH", payload, off + 8
            )
            fmt = (ch, rate, bits)
        elif cid == b"data":
            data_size = size
        off += 8 + size + (size & 1)  # chunks are 2-byte aligned
    if fmt is None or data_size is None:
        return None
    ch, rate, bits = fmt
    frame_bytes = ch * (bits // 8)
    if ch == 0 or bits % 8 or frame_bytes == 0:
        return None
    return {
        "format": "wav",
        "width": 0,
        "height": 0,
        "bpp": bits,
        "n_channels": ch,
        "sample_rate": rate,
        "n_frames": data_size // frame_bytes,
        "n_bytes": len(payload),
    }


#: markers with no length field (SOI, TEM, RST0-7) — ITU T.81 §B.1.1.3.
_JPEG_STANDALONE = frozenset({0xD8, 0x01} | set(range(0xD0, 0xD8)))

#: start-of-frame markers SOF0-SOF15 minus DHT (C4), JPG (C8), DAC (CC).
_JPEG_SOF = frozenset(set(range(0xC0, 0xD0)) - {0xC4, 0xC8, 0xCC})


def parse_jpeg(payload: bytes) -> dict | None:
    """REAL JPEG header parser (ITU T.81 marker-segment walk): SOI, then
    big-endian length-prefixed segments up to SOS, reading the SOFn frame
    header (precision, height, width, component count) on the way — the
    public dimensions-without-a-codec scan every media pipeline runs.
    Requires SOI at byte 0, EOI at the end, a structurally valid segment
    walk, and an SOF before SOS; entropy-coded data after SOS is never
    scanned. ``bpp`` is precision × components, mirroring the BMP/PNG
    fields."""
    if len(payload) < 4 or payload[:2] != b"\xff\xd8" or \
            payload[-2:] != b"\xff\xd9":
        return None
    off, sof = 2, None
    while off + 2 <= len(payload):
        if payload[off] != 0xFF:
            return None
        marker = payload[off + 1]
        if marker == 0xFF:  # fill byte before a marker — legal padding
            off += 1
            continue
        if marker in _JPEG_STANDALONE:
            off += 2
            continue
        if off + 4 > len(payload):
            return None
        seglen = struct.unpack_from(">H", payload, off + 2)[0]
        if seglen < 2 or off + 2 + seglen > len(payload):
            return None
        if marker in _JPEG_SOF:
            if seglen < 8:
                return None
            precision, height, width, ncomp = struct.unpack_from(
                ">BHHB", payload, off + 4
            )
            if seglen != 8 + 3 * ncomp or ncomp not in (1, 3, 4):
                return None
            if precision not in (8, 12, 16):
                return None
            if not (0 < width <= 1 << 20 and 0 < height <= 1 << 20):
                return None
            sof = (precision, height, width, ncomp)
        if marker == 0xDA:  # SOS — entropy-coded data follows, stop here
            if sof is None:
                return None
            precision, height, width, ncomp = sof
            return {
                "format": "jpeg",
                "width": width,
                "height": height,
                "bpp": precision * ncomp,
                "n_channels": ncomp,
                "sample_rate": 0,
                "n_frames": 1,
                "n_bytes": len(payload),
            }
        off += 2 + seglen
    return None  # ran out of bytes before any SOS


def _mp4_boxes(payload: bytes, start: int, end: int):
    """Yield (type, body_offset, body_end) for each ISO BMFF box in
    ``payload[start:end]`` (ISO/IEC 14496-12 §4.2): 32-bit big-endian size
    + 4-byte type, ``size == 1`` → 64-bit largesize follows, ``size == 0``
    → box extends to ``end``. Stops (no exception) at the first
    structural violation, like ``_png_chunks``."""
    off = start
    while off + 8 <= end:
        size = struct.unpack_from(">I", payload, off)[0]
        btype = payload[off + 4 : off + 8]
        body = off + 8
        if size == 1:
            if off + 16 > end:
                return
            size = struct.unpack_from(">Q", payload, off + 8)[0]
            body = off + 16
        elif size == 0:
            size = end - off
        if size < body - off or off + size > end:
            return
        yield btype, body, off + size
        off += size


def parse_mp4(payload: bytes) -> dict | None:
    """REAL ISO BMFF (MP4/MOV family) metadata parser: top-level box walk
    requiring a leading ``ftyp``, then inside ``moov`` the ``mvhd``
    movie header (timescale + duration, version 0 and 1 layouts) and each
    ``trak``'s ``tkhd`` (16.16 fixed-point presentation width/height) —
    the dimensions-and-duration-without-a-codec scan every video pipeline
    runs (ISO/IEC 14496-12 §8.2.2, §8.3.2). ``width``/``height`` come
    from the first track with nonzero dimensions (the video track);
    ``n_channels`` counts tracks, ``sample_rate`` is the movie timescale
    and ``n_frames`` the movie duration in timescale ticks."""
    if len(payload) < 16 or payload[4:8] != b"ftyp":
        return None
    timescale = duration = None
    width = height = 0
    n_traks = 0
    saw_moov = False
    for btype, body, bend in _mp4_boxes(payload, 0, len(payload)):
        if btype != b"moov":
            continue
        saw_moov = True
        for ctype, cbody, cend in _mp4_boxes(payload, body, bend):
            if ctype == b"mvhd":
                if cbody + 4 > cend:
                    return None
                version = payload[cbody]
                if version == 0:
                    if cbody + 4 + 16 > cend:
                        return None
                    timescale, duration = struct.unpack_from(
                        ">II", payload, cbody + 12
                    )
                elif version == 1:
                    if cbody + 4 + 28 > cend:
                        return None
                    timescale = struct.unpack_from(">I", payload, cbody + 20)[0]
                    duration = struct.unpack_from(">Q", payload, cbody + 24)[0]
                else:
                    return None
            elif ctype == b"trak":
                n_traks += 1
                for ttype, tbody, tend in _mp4_boxes(payload, cbody, cend):
                    if ttype != b"tkhd":
                        continue
                    version = payload[tbody]
                    # width/height are the LAST 8 bytes of the box body in
                    # both versions (after the 36-byte matrix)
                    if version not in (0, 1) or tend - tbody < 80:
                        return None
                    w_fp, h_fp = struct.unpack_from(">II", payload, tend - 8)
                    if width == 0 and w_fp:
                        width, height = w_fp >> 16, h_fp >> 16
    if not saw_moov or timescale is None or n_traks == 0:
        return None
    if not (0 <= width <= 1 << 20 and 0 <= height <= 1 << 20):
        return None
    return {
        "format": "mp4",
        "width": width,
        "height": height,
        "bpp": 0,
        "n_channels": n_traks,
        "sample_rate": timescale,
        "n_frames": duration,
        "n_bytes": len(payload),
    }


def parse_gif(payload: bytes) -> dict | None:
    """REAL GIF parser (GIF87a/89a public layout): signature, the Logical
    Screen Descriptor (little-endian width/height + packed Global Color
    Table flags), then the full data-stream block walk — extensions
    (0x21 label + length-prefixed sub-blocks), image descriptors (0x2C,
    optional Local Color Table, LZW minimum-code-size byte, sub-blocks) —
    terminated by the 0x3B trailer. ``n_frames`` counts image descriptors
    (animated GIFs carry one per frame); ``bpp`` is bits per palette
    index as declared by the GCT size field (2^(N+1) entries → N+1
    bits)."""
    if len(payload) < 14 or payload[:4] != b"GIF8" or payload[4:6] not in (
        b"7a", b"9a"
    ):
        return None
    width, height = struct.unpack_from("<HH", payload, 6)
    packed = payload[10]
    if not (0 < width <= 1 << 16 and 0 < height <= 1 << 16):
        return None
    off = 13
    gct_bits = (packed & 0x07) + 1
    if packed & 0x80:  # Global Color Table present
        off += 3 * (1 << gct_bits)
    n_frames = 0
    while off < len(payload):
        b = payload[off]
        if b == 0x3B:  # trailer
            return None if n_frames == 0 else {
                "format": "gif",
                "width": width,
                "height": height,
                "bpp": gct_bits,
                "n_channels": 1,  # palette-indexed
                "sample_rate": 0,
                "n_frames": n_frames,
                "n_bytes": len(payload),
            }
        if b == 0x21:  # extension: label byte then sub-blocks
            off += 2
            off = _gif_skip_subblocks(payload, off)
            if off is None:
                return None
        elif b == 0x2C:  # image descriptor
            if off + 10 > len(payload):
                return None
            ipacked = payload[off + 9]
            off += 10
            if ipacked & 0x80:  # Local Color Table
                off += 3 * (1 << ((ipacked & 0x07) + 1))
            off += 1  # LZW minimum code size
            off = _gif_skip_subblocks(payload, off)
            if off is None:
                return None
            n_frames += 1
        else:
            return None
    return None  # ran out of bytes before the trailer


def _gif_skip_subblocks(payload: bytes, off: int) -> int | None:
    """Advance past a GIF length-prefixed sub-block chain (terminated by a
    zero-length block); None on truncation."""
    while True:
        if off >= len(payload):
            return None
        n = payload[off]
        off += 1 + n
        if n == 0:
            return off if off <= len(payload) else None


#: LZW dictionary hard cap — GIF codes never exceed 12 bits (GIF89a
#: Appendix F); at 4096 entries both sides stop adding until a clear code.
_LZW_MAX = 1 << 12

#: initial code tables per min_code_size, built once — rebuilding the
#: literal list / string->code dict per frame (and per CLEAR) dominated
#: small-frame codec time
_LZW_LITERALS: dict[int, list[bytes]] = {}
_LZW_INIT_ENC: dict[int, dict[bytes, int]] = {}


def _lzw_literals(min_code_size: int) -> list[bytes]:
    lit = _LZW_LITERALS.get(min_code_size)
    if lit is None:
        lit = [bytes([i]) for i in range(1 << min_code_size)]
        _LZW_LITERALS[min_code_size] = lit
    return lit


def _lzw_init_enc(min_code_size: int) -> dict[bytes, int]:
    base = _LZW_INIT_ENC.get(min_code_size)
    if base is None:
        base = {bytes([i]): i for i in range(1 << min_code_size)}
        _LZW_INIT_ENC[min_code_size] = base
    return base


def _lzw_decode(
    data: bytes, min_code_size: int, max_len: int | None = None
) -> bytes | None:
    """GIF-variant LZW decode (Welch 1984 + the GIF89a packing rules):
    codes are packed LSB-first, the table holds 2^N literals plus CLEAR
    (2^N) and EOI (2^N+1), and the code width grows from N+1 up to 12.

    Width law (derived, matching ``_lzw_encode``): the decoder may receive
    a code equal to its own ``next_code`` (the KwKwK case), so width must
    cover ``next_code`` itself — bump AFTER an add when
    ``next_code == 1 << width``. The encoder only ever emits existing
    codes (max ``next_code - 1``) — it bumps one add later, when
    ``next_code == (1 << width) + 1``. Both rules put the first 10-bit
    code at the same stream position. Returns None on any malformed
    stream rather than raising. With ``max_len`` set, gives up as soon as
    the output exceeds it — LZW expands up to ~750x, so an unbounded
    decode of a crafted multi-MB stream could build GB-scale buffers
    before the caller's length check rejects them."""
    # GIF89a legal range: pixel indices are bytes, so literals stop at 2^8
    if not 2 <= min_code_size <= 8:
        return None
    clear, eoi = 1 << min_code_size, (1 << min_code_size) + 1
    literals = _lzw_literals(min_code_size)
    table = list(literals)
    width = min_code_size + 1
    acc = nbits = 0
    prev: bytes | None = None
    out = bytearray()
    pos = 0
    n = len(data)
    while True:
        while nbits < width:
            if pos >= n:
                return None  # truncated before EOI
            acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table = list(literals)
            width = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            return bytes(out)
        next_code = len(table) + 2  # + CLEAR + EOI
        if code < clear or (clear + 2 <= code < next_code):
            entry = table[code if code < clear else code - 2]
        elif code == next_code and prev is not None:
            entry = prev + prev[:1]  # KwKwK
        else:
            return None
        out += entry
        if max_len is not None and len(out) > max_len:
            return None  # oversized — the caller's length check would reject
        if prev is not None and next_code < _LZW_MAX:
            table.append(prev + entry[:1])
            if next_code + 1 == 1 << width and width < 12:
                width += 1
        prev = entry


def _lzw_encode(data: bytes, min_code_size: int) -> bytes:
    """GIF-variant LZW encode (greedy longest-match), the exact inverse
    convention of ``_lzw_decode``: emit CLEAR first, add a string per
    emitted code, bump width when ``next_code == (1 << width) + 1``, and
    emit CLEAR + reset when the table hits 4096 entries."""
    clear, eoi = 1 << min_code_size, (1 << min_code_size) + 1
    out = bytearray()
    acc = nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table = _lzw_init_enc(min_code_size).copy()
    next_code = eoi + 1
    width = min_code_size + 1
    emit(clear, width)
    w = b""
    for k in range(len(data)):
        wk = w + data[k : k + 1]
        if wk in table:
            w = wk
            continue
        emit(table[w], width)
        if next_code < _LZW_MAX:
            table[wk] = next_code
            next_code += 1
            if next_code == (1 << width) + 1 and width < 12:
                width += 1
        else:  # table full — clear and restart (decoder resets in lockstep)
            emit(clear, width)
            table = _lzw_init_enc(min_code_size).copy()
            next_code = eoi + 1
            width = min_code_size + 1
        w = data[k : k + 1]
    if w:
        emit(table[w], width)
    emit(eoi, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


#: GIF interlace passes (GIF89a Appendix E): (first row, row step) —
#: rows are stored pass-by-pass, displayed at their true positions.
_GIF_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _gif_interlaced_row_order(height: int) -> list[int]:
    """Display-row index of each STORED row, in storage order."""
    return [
        y for start, step in _GIF_INTERLACE_PASSES
        for y in range(start, height, step)
    ]


def decode_gif_pixels(payload: bytes) -> bytes | None:
    """Full GIF pixel decode of the FIRST frame (the image twin of
    ``decode_png_pixels``, but with the LZW codec implemented from the
    public spec rather than delegated to stdlib zlib): walks to the first
    image descriptor, concatenates its sub-blocks, LZW-decodes, and
    returns height × width palette-index bytes in DISPLAY order —
    interlaced frames (GIF89a Appendix E four-pass row layout) are
    de-interlaced. None (never an exception) on anything malformed."""
    meta = parse_gif(payload)
    return None if meta is None else _gif_pixels(payload, meta)


def _gif_pixels(payload: bytes, meta: dict) -> bytes | None:
    """``decode_gif_pixels`` of a payload that ``parse_gif`` accepted as
    ``meta``: the stats kernel parses each header once."""
    off = 13
    if payload[10] & 0x80:
        off += 3 * (1 << ((payload[10] & 0x07) + 1))
    while off < len(payload):
        b = payload[off]
        if b == 0x21:
            off = _gif_skip_subblocks(payload, off + 2)
        elif b == 0x2C:
            w, h = struct.unpack_from("<HH", payload, off + 5)
            ipacked = payload[off + 9]
            off += 10
            if ipacked & 0x80:
                off += 3 * (1 << ((ipacked & 0x07) + 1))
            min_code = payload[off]
            off += 1
            chunks = []
            while True:
                n = payload[off]
                off += 1
                if n == 0:
                    break
                chunks.append(payload[off : off + n])
                off += n
            px = _lzw_decode(b"".join(chunks), min_code, max_len=w * h)
            if px is None or len(px) != w * h:
                return None
            if ipacked & 0x40:  # interlaced: reorder stored rows to display
                out = bytearray(w * h)
                for stored, y in enumerate(_gif_interlaced_row_order(h)):
                    out[y * w : (y + 1) * w] = px[stored * w : (stored + 1) * w]
                return bytes(out)
            return px
        else:
            return None
    return None


#: JPEG zigzag scan order (ITU T.81 Figure 5): anti-diagonals s = row+col,
#: even diagonals walked row-descending, odd row-ascending.
_JPEG_ZIGZAG = [
    (r, s - r)
    for s in range(15)
    for r in (
        range(min(7, s), max(0, s - 7) - 1, -1) if s % 2 == 0
        else range(max(0, s - 7), min(7, s) + 1)
    )
]

#: Annex K.3.1 luminance DC Huffman spec (the standard table): BITS by
#: code length 1..16, then the category symbols in assignment order.
_JPEG_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_JPEG_DC_VALS = list(range(12))

#: Our AC table: all 162 baseline AC symbols at a uniform 8-bit code
#: length (Kraft 162/256 <= 1, no all-ones code). JPEG files carry their
#: Huffman tables in DHT, so ANY valid table is spec-conforming — the
#: decoder below reads whatever DHT declares, Annex K or not.
_JPEG_AC_BITS = [0, 0, 0, 0, 0, 0, 0, 162, 0, 0, 0, 0, 0, 0, 0, 0]
_JPEG_AC_VALS = [
    (r << 4) | s for r in range(16) for s in range(11)
    if (r, s) != (0, 0) and (s != 0 or r in (0, 15)) and s <= 10
]
_JPEG_AC_VALS = sorted({0x00, 0xF0} | set(_JPEG_AC_VALS))


def _huff_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """Annex C canonical code generation: symbol -> (code, length)."""
    out: dict[int, tuple[int, int]] = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


_JPEG_ENC_TABLES = None


def _jpeg_enc_tables():
    """Encoder-side canonical Huffman code dicts for the fixed DC/AC
    tables — built once per process (they are module constants; building
    them per payload dominated small-image encode)."""
    global _JPEG_ENC_TABLES
    if _JPEG_ENC_TABLES is None:
        _JPEG_ENC_TABLES = (
            _huff_codes(_JPEG_DC_BITS, _JPEG_DC_VALS),
            _huff_codes(_JPEG_AC_BITS, _JPEG_AC_VALS),
        )
    return _JPEG_ENC_TABLES


_HUFF_DECODE_CACHE: dict[bytes, dict] = {}


def _huff_decode_table(spec: bytes) -> dict:
    """Decoder-side table for one DHT payload (16 BITS bytes + symbol
    values) -> {(code, length): symbol}. Cached on the raw table bytes:
    DHT segments repeat across every file of a corpus, and rebuilding the
    dict per payload dominated small-image decode. Bounded so a stream of
    adversarial distinct tables cannot grow worker memory."""
    tab = _HUFF_DECODE_CACHE.get(spec)
    if tab is None:
        if len(_HUFF_DECODE_CACHE) >= 64:
            _HUFF_DECODE_CACHE.clear()
        bits, vals = list(spec[:16]), list(spec[16:])
        tab = {
            (c, ln): sym for sym, (c, ln) in _huff_codes(bits, vals).items()
        }
        _HUFF_DECODE_CACHE[spec] = tab
    return tab


_JPEG_ZZ_FLAT = None


def _jpeg_zigzag_flat():
    """Zigzag order as flat row-major offsets (i -> r*8 + c), so a whole
    (n, 64) coefficient batch zigzags/de-zigzags with one fancy index."""
    global _JPEG_ZZ_FLAT
    if _JPEG_ZZ_FLAT is None:
        import numpy as np

        _JPEG_ZZ_FLAT = np.array([r * 8 + c for r, c in _JPEG_ZIGZAG])
    return _JPEG_ZZ_FLAT


_DCT_M = None


def _dct_matrix():
    """8x8 DCT-II basis M[u,x] = C(u)/2 * cos((2x+1)uπ/16) so that
    FDCT = M @ block @ M.T and IDCT = M.T @ coeff @ M (ITU T.81 A.3.3)."""
    global _DCT_M
    if _DCT_M is None:
        import math

        import numpy as np

        _DCT_M = np.array([
            [
                (math.sqrt(0.5) if u == 0 else 1.0) / 2.0
                * math.cos((2 * x + 1) * u * math.pi / 16.0)
                for x in range(8)
            ]
            for u in range(8)
        ])
    return _DCT_M


class _JpegBitWriter:
    """MSB-first entropy bitstream with 0xFF -> 0xFF 0x00 byte stuffing
    (ITU T.81 B.1.1.5); flush pads with 1-bits."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, value: int, width: int) -> None:
        self.acc = (self.acc << width) | (value & ((1 << width) - 1))
        self.nbits += width
        while self.nbits >= 8:
            b = (self.acc >> (self.nbits - 8)) & 0xFF
            self.nbits -= 8
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)
        # trim drained high bits so acc stays a machine-word int instead of
        # accumulating the whole stream as one ever-growing bignum
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            self.put(0xFF, 8 - self.nbits)  # pad with 1s to byte boundary
        return bytes(self.out)


class _JpegBitReader:
    """MSB-first reader over the entropy-coded segment, undoing byte
    stuffing; raises ValueError on a real marker or exhaustion."""

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def take(self, width: int) -> int:
        while self.nbits < width:
            if self.pos >= len(self.data):
                raise ValueError("entropy stream exhausted")
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                if self.pos >= len(self.data) or self.data[self.pos] != 0x00:
                    raise ValueError("marker inside entropy stream")
                self.pos += 1
            self.acc = (self.acc << 8) | b
            self.nbits += 8
        v = (self.acc >> (self.nbits - width)) & ((1 << width) - 1)
        self.nbits -= width
        # mask off the consumed high bits: keeps acc bounded (a restart-free
        # stream otherwise accumulates the whole entropy segment as one
        # bignum, O(n^2) time/memory) and gives read_symbol its invariant
        # that acc == 0 whenever nbits == 0
        self.acc &= (1 << self.nbits) - 1
        return v

    def restart(self, m: int) -> None:
        """Consume an RSTm marker (ITU T.81 E.2.4): discard the partial
        padding bits of the current byte (always < 8 buffered after a
        take) and expect 0xFF 0xD0+m next; raises ValueError otherwise."""
        self.acc = self.nbits = 0
        if (
            self.pos + 2 > len(self.data)
            or self.data[self.pos] != 0xFF
            or self.data[self.pos + 1] != 0xD0 + (m & 7)
        ):
            raise ValueError("expected restart marker")
        self.pos += 2

    def read_symbol(self, table: dict[tuple[int, int], int]) -> int:
        # bit-at-a-time canonical decode with the refill inlined (take(1)
        # per bit was the decoder's hottest call); error behavior is
        # identical to take(1): exhaustion/marker raise at the same bit
        acc, nbits, data, pos = self.acc, self.nbits, self.data, self.pos
        n = len(data)
        code = 0
        get = table.get
        for length in range(1, 17):
            if not nbits:
                if pos >= n:
                    self.pos = pos
                    raise ValueError("entropy stream exhausted")
                b = data[pos]
                pos += 1
                if b == 0xFF:
                    if pos >= n or data[pos] != 0x00:
                        self.pos = pos
                        raise ValueError("marker inside entropy stream")
                    pos += 1
                acc, nbits = b, 8  # acc was 0 (take/read_symbol mask on exit)
            nbits -= 1
            code = (code << 1) | ((acc >> nbits) & 1)
            sym = get((code, length))
            if sym is not None:
                self.acc = acc & ((1 << nbits) - 1)
                self.nbits = nbits
                self.pos = pos
                return sym
        raise ValueError("invalid Huffman code")


def _dc_magnitude(v: int) -> tuple[int, int]:
    """(category SSSS, additional bits) for a DC diff / AC coefficient
    (ITU T.81 F.1.2.1.1: negative values are stored one's-complemented)."""
    if v == 0:
        return 0, 0
    t = abs(v).bit_length()
    return t, (v if v > 0 else v + (1 << t) - 1)


def _extend(value: int, t: int) -> int:
    """Inverse of _dc_magnitude (T.81 F.2.2.1 EXTEND)."""
    if t == 0:
        return 0
    return value if value >= 1 << (t - 1) else value - (1 << t) + 1


def make_jpeg_baseline(
    width: int,
    height: int,
    pixels: bytes,
    quant: int = 8,
    restart_interval: int = 0,
) -> bytes:
    """REAL baseline-sequential grayscale JPEG encoder (ITU T.81): level
    shift, forward 8x8 DCT, flat quantization, zigzag, Huffman entropy
    coding (DC = Annex K luminance table, AC = a uniform 8-bit table —
    both self-described in DHT, as the spec requires), 0xFF byte
    stuffing. Partial edge blocks are padded by edge replication. With
    ``restart_interval`` > 0 a DRI segment is written and an RSTm marker
    (cyclic m, byte-aligned, DC predictor reset — ITU T.81 E.2.4) is
    emitted every that-many MCUs. With per-block-constant pixels and
    ``quant`` dividing 8, the encode is lossless (DC-only blocks) — the
    law the ``multimodal_jpeg`` oracle exploits; arbitrary content
    round-trips within quantization error."""
    import numpy as np

    assert len(pixels) == width * height
    M = _dct_matrix()
    img = np.frombuffer(pixels, dtype=np.uint8).reshape(height, width)
    h8, w8 = -(-height // 8) * 8, -(-width // 8) * 8
    if (h8, w8) != (height, width):  # edge replication padding, whole image
        img = np.pad(img, ((0, h8 - height), (0, w8 - width)), mode="edge")
    # every 8x8 block DCT'd/quantized/zigzagged in one batched shot (block
    # order = raster order of the loop below); bitwise-identical to the
    # per-block M @ B @ M.T (verified against per-block matmul results)
    blocks = (
        img.reshape(h8 // 8, 8, w8 // 8, 8)
        .transpose(0, 2, 1, 3)
        .astype(np.float64)
    )
    coeff = M @ (blocks - 128.0) @ M.T
    qall = np.rint(coeff / quant).astype(np.int64)
    zz_rows = qall.reshape(-1, 64)[:, _jpeg_zigzag_flat()].tolist()
    dc_codes, ac_codes = _jpeg_enc_tables()
    w = _JpegBitWriter()
    prev_dc = 0
    rst = 0
    for mcu, zz in enumerate(zz_rows):
        if restart_interval and mcu and mcu % restart_interval == 0:
            if w.nbits:  # byte-align with 1-padding (stuffed if 0xFF)
                w.put(0xFF, 8 - w.nbits)
            w.out += bytes((0xFF, 0xD0 + rst))
            rst = (rst + 1) & 7
            prev_dc = 0
        diff = zz[0] - prev_dc
        prev_dc = zz[0]
        t, extra = _dc_magnitude(diff)
        code, length = dc_codes[t]
        w.put(code, length)
        if t:
            w.put(extra, t)
        run = 0
        for v in zz[1:]:
            if v == 0:
                run += 1
                continue
            while run > 15:
                zc, zl = ac_codes[0xF0]  # ZRL: 16 zeros
                w.put(zc, zl)
                run -= 16
            t, extra = _dc_magnitude(v)
            ac, al = ac_codes[(run << 4) | t]
            w.put(ac, al)
            w.put(extra, t)
            run = 0
        if run:
            ec, el = ac_codes[0x00]  # EOB
            w.put(ec, el)
    entropy = w.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return bytes((0xFF, marker)) + struct.pack(">H", 2 + len(body)) + body

    qt = bytes([quant]) * 64
    dht = (
        bytes([0x00]) + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS)
        + bytes([0x10]) + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS)
    )
    sof = struct.pack(">BHHB", 8, height, width, 1) + bytes((1, 0x11, 0))
    sos = bytes((1, 1, 0x00, 0, 63, 0))
    dri = (
        seg(0xDD, struct.pack(">H", restart_interval))
        if restart_interval else b""
    )
    return (
        b"\xff\xd8"
        + seg(0xE0, b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00")
        + seg(0xDB, bytes([0x00]) + qt)
        + seg(0xC4, dht)
        + dri
        + seg(0xC0, sof)
        + seg(0xDA, sos)
        + entropy
        + b"\xff\xd9"
    )


def decode_jpeg_pixels(payload: bytes) -> bytes | None:
    """FULL baseline-sequential JPEG pixel decode for the grayscale
    subset, from the public spec (ITU T.81) with no codec library: walks
    the marker segments collecting DQT (8-bit precision) and DHT tables
    (whatever tables the FILE declares — Annex C canonical generation,
    not hardcoded Annex K), requires SOF0 / precision 8 / one component,
    Huffman-decodes each 8x8 block (DC diff + EXTEND, AC run-length, ZRL,
    EOB), dequantizes, de-zigzags, applies the real 2D IDCT, clamps, and
    crops edge blocks to the image. Restart markers are supported: a DRI
    interval makes the decoder consume the byte-aligned cyclic RSTm
    marker and reset the DC predictor every interval (ITU T.81 E.2.4).
    Progressive (SOF2) and multi-component streams return None — as does
    anything malformed (never raises on corpus data)."""
    meta = parse_jpeg(payload)
    return None if meta is None else _jpeg_pixels(payload, meta)


def _jpeg_pixels(payload: bytes, meta: dict) -> bytes | None:
    """``decode_jpeg_pixels`` of a payload that ``parse_jpeg`` accepted as
    ``meta``: the stats kernel parses each header once."""
    import numpy as np

    if meta["n_channels"] != 1 or meta["bpp"] != 8:
        return None
    qtables: dict[int, list[int]] = {}
    htables: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    sof_marker = comp_q = None
    dc_id = ac_id = None
    restart_interval = 0
    off = 2
    try:
        while True:
            if payload[off] != 0xFF:
                return None
            marker = payload[off + 1]
            if marker == 0xFF:
                off += 1
                continue
            if marker in _JPEG_STANDALONE:
                off += 2
                continue
            seglen = struct.unpack_from(">H", payload, off + 2)[0]
            body = payload[off + 4 : off + 2 + seglen]
            if marker == 0xDB:  # DQT — possibly several tables per segment
                p = 0
                while p < len(body):
                    if body[p] >> 4 != 0:  # 16-bit precision — not baseline
                        return None
                    qtables[body[p] & 0x0F] = list(body[p + 1 : p + 65])
                    p += 65
            elif marker == 0xC4:  # DHT — possibly several tables
                p = 0
                while p < len(body):
                    tc, th = body[p] >> 4, body[p] & 0x0F
                    n = sum(body[p + 1 : p + 17])
                    htables[(tc, th)] = _huff_decode_table(
                        bytes(body[p + 1 : p + 17 + n])
                    )
                    p += 17 + n
            elif marker in _JPEG_SOF:
                if marker != 0xC0:  # progressive/extended — not carried
                    return None
                sof_marker = marker
                comp_q = body[8]  # 0:precision 1-2:h 3-4:w 5:Nf 6:id 7:sampling 8:Tq
            elif marker == 0xDD:  # DRI restart interval
                restart_interval = struct.unpack_from(">H", body, 0)[0]
            elif marker == 0xDA:
                dc_id, ac_id = body[2] >> 4, body[2] & 0x0F
                off += 2 + seglen
                break
            off += 2 + seglen
        if sof_marker is None or comp_q not in qtables:
            return None
        dc_tab = htables.get((0, dc_id))
        ac_tab = htables.get((1, ac_id))
        if dc_tab is None or ac_tab is None:
            return None
        qt = qtables[comp_q]
        w, h = meta["width"], meta["height"]
        M = _dct_matrix()
        nby, nbx = -(-h // 8), -(-w // 8)
        reader = _JpegBitReader(payload[off : len(payload) - 2])
        # A valid stream spends >= 2 bits per block (1-bit DC code + 1-bit
        # EOB at minimum), so SOF dims the entropy segment cannot possibly
        # cover are rejected BEFORE any pixel-sized allocation — a ~300-byte
        # crafted payload used to reserve up to 4 GB from its declared
        # 65535x65535 frame header.
        if nby * nbx * 2 > len(reader.data) * 8:
            return None
        # one zigzag-order int32 coefficient row per block, written in place
        # (256 B a block, so the guard above caps it at 1 KB per stream byte)
        zz = np.zeros((nby * nbx, 64), dtype=np.int32)
        prev_dc = 0
        rst = 0
        for mcu in range(nby * nbx):
            if restart_interval and mcu and mcu % restart_interval == 0:
                reader.restart(rst)
                rst = (rst + 1) & 7
                prev_dc = 0
            t = reader.read_symbol(dc_tab)
            if t > 11:
                return None
            prev_dc += _extend(reader.take(t), t)
            if not -(1 << 31) <= prev_dc < 1 << 31:  # no int32 DC: malformed
                return None
            row = zz[mcu]
            row[0] = prev_dc
            k = 1
            while k < 64:
                sym = reader.read_symbol(ac_tab)
                if sym == 0x00:  # EOB
                    break
                run, size = sym >> 4, sym & 0x0F
                if size == 0:
                    if run != 15:  # only ZRL has size 0
                        return None
                    k += 16
                    continue
                k += run
                if k >= 64:
                    return None
                row[k] = _extend(reader.take(size), size)
                k += 1
        # dequantize + de-zigzag + IDCT the whole block batch at once
        # (bitwise-identical to the per-block M.T @ C @ M path)
        coeff_flat = np.zeros((nby * nbx, 64))
        coeff_flat[:, _jpeg_zigzag_flat()] = zz.astype(np.int64) * np.asarray(
            qt, dtype=np.int64
        )
        out = M.T @ coeff_flat.reshape(-1, 8, 8) @ M + 128.0
        img = (
            np.clip(np.rint(out), 0, 255)
            .astype(np.uint8)
            .reshape(nby, nbx, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(nby * 8, nbx * 8)
        )
        return img[:h, :w].tobytes()
    except (IndexError, ValueError, struct.error, MemoryError):
        return None


#: TIFF tag ids actually read (TIFF 6.0 baseline): width, length,
#: bits/sample, compression, strip offsets, rows/strip, strip byte counts,
#: samples/pixel.
_TIFF_TAGS = {256, 257, 258, 259, 273, 278, 279, 277}


def _tiff_ifds(payload: bytes, lt: str):
    """Yield the byte offset of each IFD in the chain (TIFF 6.0 §2: 2-byte
    entry count, 12-byte entries, 4-byte next-IFD pointer); stops at the
    first structural violation or after 64 IFDs (cycle guard)."""
    off = struct.unpack_from(lt + "I", payload, 4)[0]
    for _ in range(64):
        if off == 0:
            return
        if off + 2 > len(payload):
            return
        n = struct.unpack_from(lt + "H", payload, off)[0]
        end = off + 2 + 12 * n
        if end + 4 > len(payload):
            return
        yield off, n
        off = struct.unpack_from(lt + "I", payload, end)[0]


#: precompiled entry/pointer structs per byte order — building a format
#: string and re-parsing it per IFD entry dominated the TIFF tag walk
_TIFF_ENTRY_S = {"<": struct.Struct("<HHI"), ">": struct.Struct(">HHI")}
_TIFF_PTR_S = {"<": struct.Struct("<I"), ">": struct.Struct(">I")}
_TIFF_SHORT_S = {"<": struct.Struct("<H"), ">": struct.Struct(">H")}
_TIFF_VAL_S: dict[tuple[str, int, str], struct.Struct] = {}


def _tiff_tag_values(payload: bytes, lt: str, entry_off: int):
    """Decode one IFD entry -> (tag, [values]) or None; values inline when
    they fit in the 4-byte slot, else at the pointed offset (TIFF 6.0)."""
    tag, ftype, count = _TIFF_ENTRY_S[lt].unpack_from(payload, entry_off)
    if tag not in _TIFF_TAGS:
        return tag, None
    if ftype == 3:
        size, fmt = 2, "H"
    elif ftype == 4:
        size, fmt = 4, "I"
    else:
        return tag, None
    if count == 1:  # the overwhelmingly common shape: one inline value
        s1 = (_TIFF_SHORT_S if ftype == 3 else _TIFF_PTR_S)[lt]
        return tag, [s1.unpack_from(payload, entry_off + 8)[0]]
    if not 0 < count <= 1 << 16:
        return tag, None
    total = size * count
    voff = entry_off + 8
    if total > 4:
        voff = _TIFF_PTR_S[lt].unpack_from(payload, entry_off + 8)[0]
        if voff + total > len(payload):
            return tag, None
    key = (lt, count, fmt)
    s = _TIFF_VAL_S.get(key)
    if s is None:
        if len(_TIFF_VAL_S) >= 4096:
            _TIFF_VAL_S.clear()
        s = struct.Struct(lt + str(count) + fmt)
        _TIFF_VAL_S[key] = s
    try:
        return tag, list(s.unpack_from(payload, voff))
    except struct.error:
        return tag, None


def parse_tiff(payload: bytes) -> dict | None:
    """REAL TIFF 6.0 parser: II/MM byte-order header, then the full
    IFD chain walk — multi-page TIFFs carry one IFD per page, the format
    the reference's ``ProcessPages`` iterates (tesserocr/tesserocr.pyx
    multi-page TIFF handling). Width/height/bpp come from the FIRST page;
    ``n_frames`` counts IFDs. Requires every page's required tags and
    in-bounds strip geometry for the uncompressed subset; compressed
    pages still parse (decode is subset-gated instead)."""
    if len(payload) < 8:
        return None
    if payload[:4] == b"II*\x00":
        lt = "<"
    elif payload[:4] == b"MM\x00*":
        lt = ">"
    else:
        return None
    first = None
    n_pages = 0
    for ifd_off, n in _tiff_ifds(payload, lt):
        tags: dict[int, list[int]] = {}
        for j in range(n):
            tag, vals = _tiff_tag_values(payload, lt, ifd_off + 2 + 12 * j)
            if vals is not None:
                tags[tag] = vals
        if 256 not in tags or 257 not in tags:
            return None
        n_pages += 1
        if first is None:
            w, h = tags[256][0], tags[257][0]
            if not (0 < w <= 1 << 20 and 0 < h <= 1 << 20):
                return None
            bits = tags.get(258, [1])
            spp = tags.get(277, [1])[0]
            first = {
                "w": w, "h": h, "bits": sum(bits) if len(bits) > 1
                else bits[0] * spp, "spp": spp,
            }
    if first is None or n_pages == 0:
        return None
    return {
        "format": "tiff",
        "width": first["w"],
        "height": first["h"],
        "bpp": first["bits"],
        "n_channels": first["spp"],
        "sample_rate": 0,
        "n_frames": n_pages,
        "n_bytes": len(payload),
    }


def _packbits_decode(
    data: bytes, max_len: int | None = None
) -> bytes | None:
    """Apple PackBits RLE decode (TIFF 6.0 §9, Compression=32773):
    control byte 0..127 → copy n+1 literals, 129..255 (signed -1..-127)
    → repeat next byte 257-n times, 128 → no-op. None on truncation.
    With ``max_len`` set, gives up as soon as the output exceeds it (RLE
    expands up to 128x per strip; the caller's geometry check would
    reject the oversized result anyway, so don't build it)."""
    out = bytearray()
    i = 0
    n_data = len(data)
    while i < n_data:
        n = data[i]
        i += 1
        if n < 128:
            if i + n + 1 > n_data:
                return None
            out += data[i : i + n + 1]
            i += n + 1
        elif n > 128:
            if i >= n_data:
                return None
            out += data[i : i + 1] * (257 - n)
            i += 1
        if max_len is not None and len(out) > max_len:
            return None
    return bytes(out)


def _packbits_encode(data: bytes) -> bytes:
    """PackBits RLE encode (runs ≥ 3 become repeats, else literals of up
    to 128 bytes) — the exact inverse convention of ``_packbits_decode``."""
    # literal-only fast path: with no 3 consecutive equal bytes anywhere
    # the byte-at-a-time scan below degenerates to chunked literals —
    # emit them directly (the synth gradients never repeat, so this is
    # the path the corpus actually takes)
    if len(data) >= 3:
        import numpy as np

        d = np.frombuffer(data, dtype=np.uint8)
        has_run = bool(np.any((d[:-2] == d[1:-1]) & (d[1:-1] == d[2:])))
    else:
        has_run = any(
            data[i] == data[i + 1] == data[i + 2]
            for i in range(len(data) - 2)
        )
    if not has_run:
        out = bytearray()
        for i in range(0, len(data), 128):
            chunk = data[i : i + 128]
            out += bytes([len(chunk) - 1]) + chunk
        return bytes(out)
    out = bytearray()
    i = 0
    lit_start = i
    while i < len(data):
        run = 1
        while i + run < len(data) and run < 128 and data[i + run] == data[i]:
            run += 1
        if run >= 3:
            while lit_start < i:  # flush pending literals
                n = min(128, i - lit_start)
                out += bytes([n - 1]) + data[lit_start : lit_start + n]
                lit_start += n
            out += bytes([257 - run, data[i]])
            i += run
            lit_start = i
        else:
            i += run
    while lit_start < i:
        n = min(128, i - lit_start)
        out += bytes([n - 1]) + data[lit_start : lit_start + n]
        lit_start += n
    return bytes(out)


def decode_tiff_pixels(payload: bytes, page: int = 0) -> bytes | None:
    """Full raster decode of one TIFF page for the 8-bit baseline:
    Compression=1 (uncompressed) and Compression=32773 (PackBits RLE,
    applied per strip as TIFF 6.0 §9 requires). Concatenates the page's
    strips per StripOffsets/StripByteCounts and validates against
    RowsPerStrip geometry. Returns height × width × samples bytes of
    THAT page — the page-addressable decode the reference's multi-page
    ProcessPages loop needs. None for other compressions / non-8-bit /
    malformed pages, never an exception."""
    if parse_tiff(payload) is None:
        return None
    return _decode_tiff_page(payload, page)


def _decode_tiff_page(payload: bytes, page: int) -> bytes | None:
    """Strip walk + decode of one page, assuming ``parse_tiff`` already
    validated the chain — the per-page worker behind
    ``decode_tiff_pixels`` (kernels that parse once and then decode every
    page call this directly instead of re-validating the whole IFD chain
    per page, which made the stats fan-out quadratic in page count)."""
    lt = "<" if payload[:2] == b"II" else ">"
    for p, (ifd_off, n) in enumerate(_tiff_ifds(payload, lt)):
        if p != page:
            continue
        tags: dict[int, list[int]] = {}
        for j in range(n):
            tag, vals = _tiff_tag_values(payload, lt, ifd_off + 2 + 12 * j)
            if vals is not None:
                tags[tag] = vals
        comp = tags.get(259, [1])[0]
        if comp not in (1, 32773):  # other compressions — not carried
            return None
        w, h = tags[256][0], tags[257][0]
        spp = tags.get(277, [1])[0]
        if tags.get(258, [8])[0] != 8:
            return None
        offs = tags.get(273)
        counts = tags.get(279)
        if not offs or not counts or len(offs) != len(counts):
            return None
        total = w * h * spp
        out = bytearray()
        for o, c in zip(offs, counts):
            if o + c > len(payload):
                return None
            strip = payload[o : o + c]
            if comp == 32773:
                # cap at the bytes still admissible for this page: an
                # oversized strip can only end in the final length
                # mismatch below, so reject before building it
                strip = _packbits_decode(strip, max_len=total - len(out))
                if strip is None:
                    return None
            out += strip
        if len(out) != total:
            return None
        return bytes(out)
    return None


def make_tiff(
    width: int,
    height: int,
    n_pages: int = 1,
    rows_per_strip: int = 8,
    compression: int = 1,
) -> bytes:
    """Build a real multi-page grayscale TIFF (test/synth helper
    documenting the layout ``parse_tiff`` / ``decode_tiff_pixels``
    read): little-endian header, one IFD per page with the baseline tag
    set, multiple strips per page (exercises the strip walk).
    ``compression`` 1 (none) or 32773 (PackBits, applied per strip).
    Page p's raster is the gradient ``(3x + 7y + 13p) % 256``."""
    import numpy as np

    assert compression in (1, 32773)
    out = bytearray(b"II*\x00\x00\x00\x00\x00")
    ifd_ptr_at = 4
    col = np.arange(width, dtype=np.int64) * 3
    row = np.arange(height, dtype=np.int64)[:, None] * 7
    for p in range(n_pages):
        # (3x + 7y + 13p) % 256 rasterized in one outer sum
        raster = ((row + col + 13 * p) % 256).astype(np.uint8).tobytes()
        n_strips = -(-height // rows_per_strip)
        strip_offs, strip_counts = [], []
        for s in range(n_strips):
            rows = min(rows_per_strip, height - s * rows_per_strip)
            data = raster[
                s * rows_per_strip * width : (s * rows_per_strip + rows) * width
            ]
            if compression == 32773:
                data = _packbits_encode(data)
            strip_offs.append(len(out))
            strip_counts.append(len(data))
            out += data
        # out-of-line arrays for strip offsets/counts when > 1 strip
        offs_at = len(out)
        if n_strips > 1:
            out += struct.pack("<" + str(n_strips) + "I", *strip_offs)
        counts_at = len(out)
        if n_strips > 1:
            out += struct.pack("<" + str(n_strips) + "I", *strip_counts)
        ifd_at = len(out)
        struct.pack_into("<I", out, ifd_ptr_at, ifd_at)
        entries = [
            (256, 4, 1, width),
            (257, 4, 1, height),
            (258, 3, 1, 8),
            (259, 3, 1, compression),
            (262, 3, 1, 1),  # BlackIsZero
            (273, 4, n_strips,
             strip_offs[0] if n_strips == 1 else offs_at),
            (277, 3, 1, 1),
            (278, 4, 1, rows_per_strip),
            (279, 4, n_strips,
             strip_counts[0] if n_strips == 1 else counts_at),
        ]
        out += struct.pack("<H", len(entries))
        for tag, ftype, count, value in entries:
            out += struct.pack("<HHI", tag, ftype, count)
            out += struct.pack("<I", value) if ftype == 4 else struct.pack(
                "<HH", value, 0
            )
        ifd_ptr_at = len(out)
        out += b"\x00\x00\x00\x00"  # next-IFD pointer (patched or final 0)
    return bytes(out)


def _pnm_tokens(payload: bytes, count: int) -> tuple[list[int], int] | None:
    """Read ``count`` whitespace-separated ASCII integers after the PNM
    magic, honoring ``#`` comments-to-end-of-line (the public netpbm
    header grammar). Returns (values, raster_offset) — the raster starts
    after exactly ONE whitespace byte following the last token."""
    vals: list[int] = []
    off = 2
    while len(vals) < count:
        while off < len(payload) and payload[off : off + 1].isspace():
            off += 1
        if off < len(payload) and payload[off] == 0x23:  # '#'
            while off < len(payload) and payload[off] not in (0x0A, 0x0D):
                off += 1
            continue
        start = off
        while off < len(payload) and payload[off : off + 1].isdigit():
            off += 1
        if off == start:
            return None
        vals.append(int(payload[start:off]))
    if off >= len(payload) or not payload[off : off + 1].isspace():
        return None
    return vals, off + 1


#: (header fields, bits per sample-set, channels) by PNM magic digit —
#: P4 bit-packed bitmap, P5 8-bit graymap, P6 8-bit RGB pixmap.
_PNM_KINDS = {0x34: (2, 1, 1), 0x35: (3, 8, 1), 0x36: (3, 8, 3)}


def parse_pnm(payload: bytes) -> dict | None:
    """REAL binary-netpbm parser (P4 bitmap / P5 graymap / P6 pixmap —
    the public netpbm formats): ASCII header with comment support, then a
    raster-size check. The 8-bit subset (maxval <= 255) is carried; wider
    samples return None. ``bpp`` is bits per pixel (1 / 8 / 24)."""
    if len(payload) < 4 or payload[0] != 0x50:  # 'P'
        return None
    kind = _PNM_KINDS.get(payload[1])
    if kind is None:
        return None
    n_fields, bits, ch = kind
    parsed = _pnm_tokens(payload, n_fields)
    if parsed is None:
        return None
    vals, roff = parsed
    width, height = vals[0], vals[1]
    if n_fields == 3 and not (0 < vals[2] <= 255):
        return None
    if not (0 < width <= 1 << 16 and 0 < height <= 1 << 16):
        return None
    raster = (
        ((width + 7) // 8) * height if bits == 1 else width * height * ch
    )
    if roff + raster > len(payload):
        return None
    return {
        "format": "pnm",
        "width": width,
        "height": height,
        "bpp": bits * ch,
        "n_channels": ch,
        "sample_rate": 0,
        "n_frames": 1,
        "n_bytes": len(payload),
    }


def decode_pnm_pixels(payload: bytes) -> bytes | None:
    """Full PNM raster decode for the 8-bit subset (P5/P6 — the raster IS
    the pixel data, which is exactly why netpbm exists): returns height ×
    width × channels sample bytes. P4 bit-packed rows are not expanded
    (parse-only). None on anything malformed."""
    meta = parse_pnm(payload)
    return None if meta is None else _pnm_pixels(payload, meta)


def _pnm_pixels(payload: bytes, meta: dict) -> bytes | None:
    """``decode_pnm_pixels`` of a payload that ``parse_pnm`` accepted as
    ``meta``: the stats kernel parses each header once."""
    if payload[1] == 0x34:
        return None
    parsed = _pnm_tokens(payload, 3)
    if parsed is None:
        return None
    _, roff = parsed
    n = meta["width"] * meta["height"] * meta["n_channels"]
    return bytes(payload[roff : roff + n])


def decode_media(payload: bytes) -> dict:
    """Real decode with stub fallback: BMP → PNG → JPEG → WAV → MP4 →
    GIF → TIFF → PNM → deterministic stub (format='raw', stub law for
    width/frames, so unknown blobs still yield stable,
    partition-independent metadata instead of failing the scan). The
    eight parsers are mutually exclusive on magic bytes, so order is
    cosmetic."""
    meta = (
        parse_bmp(payload) or parse_png(payload) or parse_jpeg(payload)
        or parse_wav(payload) or parse_mp4(payload) or parse_gif(payload)
        or parse_tiff(payload) or parse_pnm(payload)
    )
    if meta is not None:
        return meta
    stub = _decode_one(payload)
    return {
        "format": "raw",
        "width": stub["fake_width"],
        "height": 0,
        "bpp": 8,
        "n_channels": 1,
        "sample_rate": 0,
        "n_frames": stub["n_frames"],
        "n_bytes": stub["n_bytes"],
    }


# -- mapInPandas kernel shells ------------------------------------------------
# Every kernel below is one call of ``_per_payload`` or ``_synth``: the
# per-batch loop, the NULL handling and the DataFrame build exist once, and
# a codec supplies only how one doc_id becomes a payload (``make``) or how
# one payload becomes output rows (``rows_of``).


def _names(schema: str) -> list[str]:
    """Column names of a DDL schema string such as ``DECODE_SCHEMA``."""
    return [c.split()[0] for c in schema.split(", ")]


def _per_payload(
    batches: Iterator[pd.DataFrame],
    columns: list[str],
    rows_of: Callable[[int, bytes | None], list[tuple]],
) -> Iterator[pd.DataFrame]:
    """The (doc_id, payload:binary) batch loop: ``rows_of(doc_id, payload)``
    gives one payload's output rows, doc_id first, in ``columns`` order. A
    SQL NULL payload reaches it as None, any other as ``bytes``."""
    for pdf in batches:
        rows: list[tuple] = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            rows += rows_of(doc_id, None if payload is None else bytes(payload))
        yield pd.DataFrame(rows, columns=columns)


def _synth(
    batches: Iterator[pd.DataFrame], make: Callable[[int], bytes]
) -> Iterator[pd.DataFrame]:
    """The doc_id -> (doc_id, payload) batch loop: ``make(i)`` builds the
    payload of doc_id ``i``."""
    for pdf in batches:
        yield pd.DataFrame({
            "doc_id": pdf["doc_id"].values,
            "payload": [make(int(i)) for i in pdf["doc_id"]],
        })


def _px_stats(px: bytes) -> tuple[int, int, int]:
    """(count, sum, index-weighted sum) of a decoded raster's bytes. The
    weighted sum is order-sensitive, so a row-order, de-interlace or
    run-length defect cannot hide in the order-invariant total."""
    import numpy as np

    arr = np.frombuffer(px, dtype=np.uint8).astype(np.int64)
    return len(px), int(arr.sum()), int(arr @ np.arange(len(arr), dtype=np.int64))


def _header_stats(names: list[str], meta: dict | None, px: bytes | None) -> tuple:
    """Values for the columns ``names``: the header fields before ``n_px``
    read from ``meta``, then as many of ``_px_stats(px)`` as the names ask
    for. All zeros when the payload did not decode (``px`` None): one bad
    blob yields a zero row instead of failing the scan."""
    if px is None:
        return (0,) * len(names)
    k = names.index("n_px")
    return (*(meta[f] for f in names[:k]), *_px_stats(px)[: len(names) - k])


def _image_rows(
    columns: list[str],
    parse: Callable[[bytes], dict | None],
    decode: Callable[[bytes, dict], bytes | None],
    doc_id: int,
    payload: bytes | None,
) -> list[tuple]:
    """``rows_of`` for a one-raster codec: one row of header fields and
    raster stats, all zero unless both ``parse`` and ``decode`` accept the
    payload. ``decode`` is the codec's pixel body, which takes the header
    ``parse`` returned instead of parsing it again."""
    meta = None if payload is None else parse(payload)
    px = decode(payload, meta) if meta else None
    return [(doc_id, *_header_stats(columns[1:], meta, px))]


DECODE_SCHEMA = (
    "doc_id bigint, format string, width int, height int, bpp int, "
    "n_channels int, sample_rate int, n_frames int, n_bytes bigint"
)


#: decode result for a SQL NULL payload: format NULL, all fields zero —
#: distinguishable from a present-but-empty blob, which takes the stub law
#: (ADVICE r04; module docstring 'NULL-payload law').
_NULL_META = {
    "format": None, "width": 0, "height": 0, "bpp": 0,
    "n_channels": 0, "sample_rate": 0, "n_frames": 0, "n_bytes": 0,
}


def _decode_rows(
    columns: list[str], doc_id: int, payload: bytes | None
) -> list[tuple]:
    meta = _NULL_META if payload is None else decode_media(payload)
    return [(doc_id, *(meta[c] for c in columns[1:]))]


def decode_map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: (doc_id, payload:binary) -> DECODE_SCHEMA rows
    via ``decode_media`` (all eight container parsers, stub fallback).
    NULL payloads (normal in a binary column at corpus scale) emit
    ``format = NULL`` rather than the empty-blob stub — a scan never dies
    on one, and audits can count them."""
    cols = _names(DECODE_SCHEMA)
    return _per_payload(batches, cols, partial(_decode_rows, cols))


def make_bmp(width: int, height: int, bpp: int = 24, fill: int = 0) -> bytes:
    """Build a structurally valid uncompressed bottom-up BMP (test/synth
    helper — also documents the exact layout ``parse_bmp`` reads)."""
    stride = ((width * bpp + 31) // 32) * 4
    data = bytes([fill & 0xFF]) * (stride * height)
    header = b"BM" + struct.pack("<IHHI", 54 + len(data), 0, 0, 54)
    dib = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, bpp, 0, len(data), 2835, 2835, 0, 0
    )
    return header + dib + data


def _png_filter_pass(block, ch: int) -> bytes:
    """Forward-filter one pass (or whole sequential image) of scanlines
    with the synth's rotating per-row filter ``row % 5``, vectorized over
    the entire block at once — per-row numpy on 3-byte interlace rows
    paid more in call overhead than the filtering cost. ``block`` is a
    (nrows, stride) uint8 array of RAW scanlines; returns the filtered
    stream (1 filter-type byte + stride bytes per row), byte-identical to
    filtering row by row (the oracle in tests/test_pipeline_ops.py)."""
    import numpy as np

    nrows, stride = block.shape
    cur = block.astype(np.int16)
    up = np.zeros_like(cur)
    up[1:] = cur[:-1]
    left = np.zeros_like(cur)
    left[:, ch:] = cur[:, :-ch]
    ul = np.zeros_like(cur)
    ul[1:, ch:] = cur[:-1, :-ch]
    p = left + up - ul  # Paeth: nearest of left/up/up-left, ties a, b, c
    pa, pb, pc = np.abs(p - left), np.abs(p - up), np.abs(p - ul)
    paeth = np.where(
        (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, up, ul)
    )
    ftypes = np.arange(nrows) % 5
    pred = np.zeros_like(cur)
    for t, arr in ((1, left), (2, up), (3, (left + up) // 2), (4, paeth)):
        m = ftypes == t
        pred[m] = arr[m]
    out = np.empty((nrows, 1 + stride), dtype=np.uint8)
    out[:, 0] = ftypes
    out[:, 1:] = ((cur - pred) & 0xFF).astype(np.uint8)
    return out.tobytes()


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data)) + ctype + data
        + struct.pack(">I", zlib.crc32(ctype + data))
    )


def make_png(
    width: int,
    height: int,
    color_type: int = 2,
    pixels: bytes | None = None,
    interlace: bool = False,
) -> bytes:
    """Build a real, spec-valid 8-bit PNG (test/synth helper — documents
    the exact layout ``parse_png`` / ``decode_png_pixels`` read). Each
    scanline y is filtered with type ``y % 5`` so every filter in the
    spec is exercised by any image of height >= 5. With ``interlace`` the
    raster is emitted in the Adam7 seven-pass layout (each pass filtered
    independently). Default pixel content (display order) is the
    deterministic gradient ``(3x + 7y + 11c) % 256``."""
    import numpy as np

    ch = _PNG_CHANNELS[color_type]
    stride = width * ch
    if pixels is None:
        # (3x + 7y + 11c) % 256 rasterized in one outer sum over (y, x, c)
        pixels = (
            (
                np.arange(height, dtype=np.int64)[:, None, None] * 7
                + np.arange(width, dtype=np.int64)[None, :, None] * 3
                + np.arange(ch, dtype=np.int64)[None, None, :] * 11
            )
            % 256
        ).astype(np.uint8).tobytes()
    assert len(pixels) == height * stride
    raw = bytearray()
    if interlace:
        grid = np.frombuffer(pixels, dtype=np.uint8).reshape(
            height, width, ch
        )
        for x0, y0, dx, dy in _PNG_ADAM7:
            pw = (width - x0 + dx - 1) // dx
            ph = (height - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            block = np.ascontiguousarray(
                grid[y0::dy, x0::dx]
            ).reshape(ph, pw * ch)
            raw += _png_filter_pass(block, ch)
    else:
        raw += _png_filter_pass(
            np.frombuffer(pixels, dtype=np.uint8).reshape(height, stride),
            ch,
        )
    ihdr = struct.pack(
        ">IIBBBBB", width, height, 8, color_type, 0, 0,
        1 if interlace else 0,
    )
    body = _png_chunk(b"IHDR", ihdr)
    if color_type == 3:
        body += _png_chunk(b"PLTE", _gif_synth_gct())  # same (i,255-i,i^85)
    body += _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
    body += _png_chunk(b"IEND", b"")
    return _PNG_SIG + body


def make_jpeg(
    width: int, height: int, ncomp: int = 3, precision: int = 8
) -> bytes:
    """Build a structurally valid JPEG marker stream (SOI → APP0/JFIF →
    SOF0 → SOS → entropy stub → EOI) — test/synth helper documenting the
    exact marker walk ``parse_jpeg`` reads. The entropy-coded data after
    SOS is a stub (no DCT/Huffman), so only the header tier is real —
    matching ``parse_jpeg``, which never scans past SOS."""
    sof = struct.pack(">BHHB", precision, height, width, ncomp)
    for c in range(ncomp):
        sof += bytes((c + 1, 0x11, 0))  # component id, 1x1 sampling, qtable 0
    sos = bytes((ncomp,))
    for c in range(ncomp):
        sos += bytes((c + 1, 0))  # component id, DC/AC table selectors
    sos += bytes((0, 63, 0))  # spectral selection + approximation
    app0 = b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00"
    return (
        b"\xff\xd8"
        + b"\xff\xe0" + struct.pack(">H", 2 + len(app0)) + app0
        + b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
        + b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos
        + b"\x00" * 8  # entropy stub
        + b"\xff\xd9"
    )


def make_mp4(
    width: int, height: int, timescale: int, duration: int, n_traks: int = 1
) -> bytes:
    """Build a structurally valid minimal ISO BMFF stream (``ftyp`` →
    ``moov(mvhd, trak(tkhd)×n)`` → ``mdat`` stub) — test/synth helper
    documenting the exact box layout ``parse_mp4`` reads. Only the first
    track carries nonzero 16.16 fixed-point dimensions (the 'video'
    track); the rest are zero-sized 'audio' tracks."""

    def box(btype: bytes, body: bytes) -> bytes:
        return struct.pack(">I", 8 + len(body)) + btype + body

    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2")
    mvhd = box(
        b"mvhd",
        struct.pack(">BxxxIIII", 0, 0, 0, timescale, duration)
        + struct.pack(">IHH", 0x00010000, 0x0100, 0)
        + bytes(8)  # reserved
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + bytes(24)  # pre_defined
        + struct.pack(">I", n_traks + 1),  # next_track_ID
    )
    traks = b""
    for t in range(n_traks):
        w, h = (width, height) if t == 0 else (0, 0)
        tkhd = box(
            b"tkhd",
            struct.pack(">BxxxIIIxxxxI", 0, 0, 0, t + 1, duration)
            + bytes(8)  # reserved
            + struct.pack(">HHHxx", 0, 0, 0 if t == 0 else 0x0100)
            + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
            + struct.pack(">II", w << 16, h << 16),
        )
        traks += box(b"trak", tkhd)
    return ftyp + box(b"moov", mvhd + traks) + box(b"mdat", bytes(8))


def make_wav(channels: int, rate: int, bits: int, n_frames: int) -> bytes:
    """Build a valid PCM RIFF/WAVE container (test/synth helper). The
    ``data`` chunk carries the deterministic byte ramp ``(5k + 3) % 256``
    so full sample decode (``decode_wav_samples``) has a closed-form
    oracle — for 8-bit audio sample j IS byte j; for 16-bit LE audio
    sample j is ``int16((10j+3)%256 | ((10j+8)%256) << 8)``."""
    import numpy as np

    n = n_frames * channels * (bits // 8)
    data = ((np.arange(n, dtype=np.int64) * 5 + 3) % 256).astype(
        np.uint8
    ).tobytes()
    fmt = struct.pack(
        "<HHIIHH", 1, channels, rate, rate * channels * bits // 8,
        channels * bits // 8, bits,
    )
    body = (
        b"WAVEfmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


_GIF_SYNTH_GCT = None


def _gif_synth_gct() -> bytes:
    """The synth GIF global color table / PNG palette — the fixed
    256-entry (i, 255-i, i^0x55) ramp, built once per process instead of
    per payload."""
    global _GIF_SYNTH_GCT
    if _GIF_SYNTH_GCT is None:
        _GIF_SYNTH_GCT = bytes(
            v for i in range(256) for v in (i, 255 - i, i ^ 0x55)
        )
    return _GIF_SYNTH_GCT


def make_gif(
    width: int,
    height: int,
    pixels: bytes | None = None,
    interlace: bool = False,
) -> bytes:
    """Build a real, spec-valid GIF89a (test/synth helper — documents the
    exact layout ``parse_gif`` / ``decode_gif_pixels`` read): Logical
    Screen Descriptor with a 256-entry Global Color Table, a Graphic
    Control Extension (exercises the extension-skip path), one full-frame
    image descriptor, and the pixel indices LZW-encoded at minimum code
    size 8 into 255-byte sub-blocks. With ``interlace`` the rows are
    stored in the GIF89a Appendix E four-pass order and the descriptor
    flag is set. Default pixel content (display order) is the
    deterministic gradient ``(3x + 7y) % 256``."""
    if pixels is None:
        import numpy as np

        # (3x + 7y) % 256 rasterized in one outer sum
        pixels = (
            (
                np.arange(height, dtype=np.int64)[:, None] * 7
                + np.arange(width, dtype=np.int64)[None, :] * 3
            )
            % 256
        ).astype(np.uint8).tobytes()
    assert len(pixels) == width * height
    stored = pixels
    if interlace:
        stored = b"".join(
            pixels[y * width : (y + 1) * width]
            for y in _gif_interlaced_row_order(height)
        )
    lsd = struct.pack("<HHBBB", width, height, 0xF7, 0, 0)
    gct = _gif_synth_gct()
    gce = b"\x21\xf9\x04\x00\x00\x00\x00\x00"
    idesc = b"\x2c" + struct.pack(
        "<HHHHB", 0, 0, width, height, 0x40 if interlace else 0
    )
    lzw = _lzw_encode(stored, 8)
    blocks = b"".join(
        bytes([min(255, len(lzw) - i)]) + lzw[i : i + 255]
        for i in range(0, len(lzw), 255)
    )
    return (
        b"GIF89a" + lsd + gct + gce + idesc + b"\x08" + blocks
        + b"\x00" + b"\x3b"
    )


def make_pnm(width: int, height: int, kind: int = 6) -> bytes:
    """Build a valid binary netpbm file (P5 graymap or P6 pixmap, maxval
    255) with a comment line in the header — test/synth helper documenting
    the grammar ``parse_pnm`` reads. Pixel content is the deterministic
    gradient ``(3x + 7y + 11c) % 256`` over the channels."""
    import numpy as np

    ch = 3 if kind == 6 else 1
    # (3x + 7y + 11c) % 256 rasterized in one outer sum over (y, x, c)
    raster = (
        (
            np.arange(height, dtype=np.int64)[:, None, None] * 7
            + np.arange(width, dtype=np.int64)[None, :, None] * 3
            + np.arange(ch, dtype=np.int64)[None, None, :] * 11
        )
        % 256
    ).astype(np.uint8).tobytes()
    header = f"P{kind}\n# synth\n{width} {height}\n255\n".encode()
    return header + raster


def _mixed_payload(i: int) -> bytes:
    if i % 5 == 0:
        v = (i % 7) % 2
        return make_wav(1 + v, 8000 + (i % 7) * 1000, 8 + v * 8, 100 + i % 50)
    if i % 5 == 1:
        return make_png(1 + i % 48, 1 + i % 24, 2, interlace=bool(i % 2))
    if i % 5 == 2:
        return make_bmp(1 + i % 64, 1 + i % 32, 24, i % 256)
    if i % 5 == 3:
        return make_jpeg(1 + i % 40, 1 + i % 20, 1 if i % 8 == 3 else 3)
    return make_mp4(16 + i % 64, 16 + i % 48, 600, 600 + i % 400, 1 + i % 3)


def synth_payload_map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: doc_id -> deterministic real container bytes
    (WAV for doc_id % 5 == 0, filtered+deflated RGB PNG for % 5 == 1,
    24-bpp BMP for % 5 == 2, JPEG for % 5 == 3, else MP4) — the payload
    source for the ``multimodal_decode`` oracle query, whose DuckDB twin
    predicts the header fields arithmetically from doc_id. WAV channel/bit
    variants key on ``i % 7`` (coprime to the 5-cycle, so both variants
    occur); JPEG alternates grayscale/RGB on ``i % 8``."""
    return _synth(batches, _mixed_payload)


PIXEL_STATS_SCHEMA = (
    "doc_id bigint, n_px bigint, pix_sum bigint, pix_wsum bigint"
)


def pixel_stats_map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: (doc_id, payload:binary) -> full-pixel-decode
    stats (count, byte sum, index-weighted byte sum) via
    ``decode_png_pixels``. Exercises the whole inflate + unfilter (+
    Adam7 de-interlace) path on every payload; the weighted sum is
    order-sensitive so a pass-scatter defect cannot hide in the
    order-invariant total. Non-PNG / out-of-subset payloads report zeros
    instead of failing the scan."""
    cols = _names(PIXEL_STATS_SCHEMA)
    return _per_payload(
        batches, cols, partial(_image_rows, cols, parse_png, _png_pixels)
    )


GIF_STATS_SCHEMA = (
    "doc_id bigint, width int, height int, n_frames int, "
    "n_px bigint, pix_sum bigint, pix_wsum bigint"
)


def synth_gif_map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: doc_id -> a real GIF89a payload
    (``make_gif(1 + i % 32, 1 + i % 16)``, default gradient indices;
    INTERLACED storage for odd doc_id — display pixels identical) — the
    payload source for the ``multimodal_gif`` oracle query."""
    return _synth(
        batches, lambda i: make_gif(1 + i % 32, 1 + i % 16, interlace=bool(i % 2))
    )


def gif_stats_map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: (doc_id, payload:binary) -> GIF header fields +
    full-LZW-decode pixel stats via ``parse_gif`` / ``decode_gif_pixels``.
    ``pix_wsum`` weights each display-order pixel by its linear index, so
    a de-interlacing or row-order defect changes it even though the
    order-invariant ``pix_sum`` would not. Non-GIF / malformed payloads
    report all-zero rather than failing the scan — same never-dies law as
    ``pixel_stats_map``."""
    cols = _names(GIF_STATS_SCHEMA)
    return _per_payload(
        batches, cols, partial(_image_rows, cols, parse_gif, _gif_pixels)
    )


JPEG_STATS_SCHEMA = (
    "doc_id bigint, width int, height int, n_channels int, "
    "n_px bigint, pix_sum bigint"
)


def _block_jpeg(i: int) -> bytes:
    import numpy as np

    w, h = 1 + i % 48, 1 + i % 24
    # (5*(x//8) + 9*(y//8) + i) % 256 rasterized in one outer sum
    px = (
        (
            (np.arange(h, dtype=np.int64)[:, None] // 8) * 9
            + (np.arange(w, dtype=np.int64)[None, :] // 8) * 5
            + i
        )
        % 256
    ).astype(np.uint8).tobytes()
    return make_jpeg_baseline(w, h, px, restart_interval=3 if i % 2 else 0)


def synth_jpeg_full_map(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: doc_id -> a real baseline grayscale JPEG
    (``make_jpeg_baseline``) of ``(1 + i % 48) × (1 + i % 24)`` whose
    pixels are constant per 8x8 block, value ``(5*bx + 9*by + i) % 256``
    — DC-only blocks survive DCT + flat-8 quantization bit-exactly, which
    is what gives the ``multimodal_jpeg`` oracle a closed form. Odd
    doc_ids carry restart markers every 3 MCUs (DRI + cyclic RSTm) —
    decoded pixels identical, so the oracle also locks the restart path
    (a DC-predictor-reset defect shifts the sums)."""
    return _synth(batches, _block_jpeg)


def jpeg_stats_map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: (doc_id, payload:binary) -> JPEG header fields
    + full-pixel-decode stats via ``parse_jpeg`` / ``decode_jpeg_pixels``
    (Huffman + dequant + IDCT). Non-JPEG / out-of-subset payloads report
    all-zero — never-dies law."""
    cols = _names(JPEG_STATS_SCHEMA)
    return _per_payload(
        batches, cols, partial(_image_rows, cols, parse_jpeg, _jpeg_pixels)
    )


TIFF_STATS_SCHEMA = (
    "doc_id bigint, page int, width int, height int, n_frames int, "
    "n_px bigint, pix_sum bigint, pix_wsum bigint"
)


def synth_tiff_map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: doc_id -> a real multi-page TIFF
    (``make_tiff``): ``1 + i % 4`` pages of ``(1 + i % 24) × (1 + i % 16)``
    with per-page gradient rasters; PACKBITS-compressed strips for odd
    doc_id (decoded rasters identical) — the payload source for the
    ``multimodal_tiff`` oracle query."""
    return _synth(batches, lambda i: make_tiff(
        1 + i % 24, 1 + i % 16, 1 + i % 4, compression=32773 if i % 2 else 1
    ))


def _tiff_rows(
    columns: list[str], doc_id: int, payload: bytes | None
) -> list[tuple]:
    meta = None if payload is None else parse_tiff(payload)
    if meta is None:
        return [(doc_id, 0, *_header_stats(columns[2:], None, None))]
    return [
        # parse_tiff already validated the chain: decode each page directly
        (doc_id, p, *_header_stats(columns[2:], meta, _decode_tiff_page(payload, p)))
        for p in range(meta["n_frames"])
    ]


def tiff_stats_map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: (doc_id, payload:binary) -> ONE ROW PER PAGE
    with full raster stats — the multi-page fan-out shape the reference's
    ProcessPages loop has over multi-page TIFFs. ``pix_wsum`` weights
    each raster byte by its linear index so a PackBits run-length defect
    that preserves totals still mismatches. Non-TIFF / malformed
    payloads emit a single all-zero row (never-dies law)."""
    cols = _names(TIFF_STATS_SCHEMA)
    return _per_payload(batches, cols, partial(_tiff_rows, cols))


PNM_STATS_SCHEMA = (
    "doc_id bigint, width int, height int, n_channels int, "
    "n_px bigint, pix_sum bigint"
)


def synth_pnm_map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: doc_id -> a real binary netpbm payload —
    P5 graymap for doc_id % 3 == 0 else P6 pixmap, dimensions
    ``(1 + i % 40) × (1 + i % 20)`` — the payload source for the
    ``multimodal_pnm`` oracle query."""
    return _synth(
        batches, lambda i: make_pnm(1 + i % 40, 1 + i % 20, 5 if i % 3 == 0 else 6)
    )


def pnm_stats_map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: (doc_id, payload:binary) -> PNM header fields +
    full-raster pixel stats via ``parse_pnm`` / ``decode_pnm_pixels``.
    Non-PNM / malformed payloads report all-zero — never-dies law."""
    cols = _names(PNM_STATS_SCHEMA)
    return _per_payload(
        batches, cols, partial(_image_rows, cols, parse_pnm, _pnm_pixels)
    )


def decode_wav_samples(payload: bytes) -> tuple[int, int] | None:
    """Full PCM WAV sample decode (the audio twin of
    ``decode_png_pixels``): finds the ``fmt ``/``data`` chunks via the
    same word-aligned walk as ``parse_wav`` and decodes the sample stream
    — 8-bit audio is unsigned bytes; 16/24/32-bit are signed
    little-endian (all four public integer-PCM WAV sample layouts; the
    24-bit case sign-extends the packed 3-byte frames). Returns
    ``(n_samples, amplitude_sum)`` or None for non-integer-PCM /
    structurally invalid payloads — never raises on corpus data."""
    import numpy as np

    meta = parse_wav(payload)
    if meta is None or meta["bpp"] not in (8, 16, 24, 32):
        return None
    bps = meta["bpp"] // 8
    off = 12
    while off + 8 <= len(payload):
        cid = payload[off : off + 4]
        size = struct.unpack_from("<I", payload, off + 4)[0]
        if cid == b"fmt ":
            if struct.unpack_from("<H", payload, off + 8)[0] != 1:  # PCM only
                return None
        elif cid == b"data":
            raw = payload[off + 8 : off + 8 + size - size % bps]
            if bps == 1:
                arr = np.frombuffer(raw, dtype=np.uint8)
            elif bps == 2:
                arr = np.frombuffer(raw, dtype="<i2")
            elif bps == 4:
                arr = np.frombuffer(raw, dtype="<i4")
            else:  # 24-bit: widen each 3-byte frame, then sign-extend
                b3 = np.frombuffer(raw, dtype=np.uint8).reshape(-1, 3)
                arr = (
                    b3[:, 0].astype(np.int64)
                    | (b3[:, 1].astype(np.int64) << 8)
                    | (b3[:, 2].astype(np.int64) << 16)
                )
                arr = arr - ((arr >> 23) & 1) * (1 << 24)
            return len(arr), int(arr.sum(dtype=np.int64))
        off += 8 + size + (size & 1)
    return None


AUDIO_STATS_SCHEMA = "doc_id bigint, n_samples bigint, amp_sum bigint"


def _wav_rows(doc_id: int, payload: bytes | None) -> list[tuple]:
    st = None if payload is None else decode_wav_samples(payload)
    return [(doc_id, *(st or (0, 0)))]


def audio_stats_map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: (doc_id, payload:binary) -> full-PCM-decode
    stats (sample count + amplitude sum) via ``decode_wav_samples``.
    Non-WAV / out-of-subset payloads report (0, 0) instead of failing the
    scan — same never-dies law as ``pixel_stats_map``."""
    return _per_payload(batches, _names(AUDIO_STATS_SCHEMA), _wav_rows)


def _stub_rows(doc_id: int, payload: bytes | None) -> list[tuple]:
    if payload is None:
        return [(doc_id, None, None, None)]
    m = _decode_one(payload)
    return [(doc_id, m["n_bytes"], m["fake_width"], m["n_frames"])]


def decode_stub_map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: (doc_id, payload:binary) -> decoded metadata;
    a NULL payload gets NULL fields."""
    return _per_payload(
        batches, ["doc_id", "n_bytes", "fake_width", "n_frames"], _stub_rows
    )


def _frame_rows(doc_id: int, payload: bytes | None) -> list[tuple]:
    if payload is None:
        return []
    return [
        (doc_id, f, payload[f::7][:16])
        for f in range(_decode_one(payload)["n_frames"])
    ]


def frame_sample_map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: explode each payload into its sampled 'frames'
    (one row per frame) — the fan-out shape a video pipeline needs.
    Frame payloads are stubbed as byte slices; a NULL payload has no
    frames."""
    return _per_payload(
        batches, ["doc_id", "frame_id", "frame_bytes"], _frame_rows
    )


N_FEATURES = 16


def _feature_rows(doc_id: int, payload: bytes | None) -> list[tuple]:
    if payload is None:
        return [(doc_id, None)]
    hist = [0] * N_FEATURES
    for b in payload:
        hist[b >> 4] += 1
    n = max(1, len(payload))
    return [(doc_id, [c / n for c in hist])]


def feature_extract_map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: (doc_id, payload:binary) -> fixed-width feature
    vector. Unlike the decode stub this is REAL: a normalized 16-bin byte
    histogram is a legitimate content feature (usable for embedding-style
    similarity) and needs no codec. Output column ``features`` is
    array<double> of length N_FEATURES, partition-independent; NULL for a
    NULL payload."""
    return _per_payload(batches, ["doc_id", "features"], _feature_rows)


def _resize_rows(
    target_width: int, doc_id: int, payload: bytes | None
) -> list[tuple]:
    if payload is None:
        return [(doc_id, None, None, None)]
    src_w = max(1, _decode_one(payload)["fake_width"])
    scale = min(1.0, target_width / src_w)
    step = max(1, int(round(1 / scale)) if scale < 1 else 1)
    resized = payload[::step]
    return [(doc_id, min(src_w, target_width), len(resized), resized)]


def resize_stub_map(
    target_width: int,
) -> "callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]":
    """mapInPandas kernel factory: (doc_id, payload:binary) -> resized
    payload + new geometry. The pixel resample itself needs an image codec
    and is STUBBED as a deterministic byte subsample proportional to the
    scale factor; the Spark plumbing (closure parameterization, binary in /
    binary out, metadata columns) is the real shape a resize stage has. A
    NULL payload gets NULL width, size and payload."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        return _per_payload(
            batches, ["doc_id", "width", "n_bytes", "payload"],
            partial(_resize_rows, target_width),
        )

    return kernel
