"""Multimodal-column operators (SURVEY §1.3, §2.10 U1-U4; BASELINE N★).

The reference treats media as out-of-band WAV files referenced by
``binary_path`` and runs decode/transcode/ASR through external engines
(ffmpeg at ``inputs/speech_to_text.py:14-30``, Vosk at
``inputs/system_audio_collector.py:29-65``). The Spark generalization:
media is an opaque ``binary`` column with typed metadata, and every
decode / feature-extract / frame-sample step is an Arrow-batched
``mapInPandas`` stage.

WAV decode is REAL: ``decode_media`` parses PCM WAV through stdlib
``wave`` — the exact API the reference feeds Vosk from
(``inputs/system_audio_collector.py:31,39-41``) — and
``chunk_wav_frames`` reproduces its ``readframes(4000)`` loop as a
map-only mapInPandas stage over real bytes. BMP image decode and
uncompressed-AVI video decode are REAL too (round 8): stdlib ``struct``
over BITMAPINFOHEADER / a RIFF chunk walk, feeding
``extract_image_features``, ``resize_image_nearest`` and
``sample_video_frames``; 8-bit truecolor PNG decode is REAL since
round 9 (chunk walk + stdlib ``zlib`` inflate + scanline unfilter), and
the later rounds added real JPEG (baseline + progressive), GIF, TIFF,
FLAC, G.711/IMA-ADPCM, AU, the full MP3 chain, MJPEG-in-AVI, and —
round 16 — MP4/ISO-BMFF audio extraction (MP3 + PCM tracks). The
remaining external-codec seams are named raises, each listed at its
decoder: AAC and H.264 SAMPLE decode, non-MJPEG compressed AVI
streams, and the narrower per-format gaps documented in the
MP3/TIFF/AU sections. The
deterministic RMS-energy segmenter
(``transcribe_wav_energy``) stands in for the ASR engine behind the
same per-executor-singleton pattern a real Vosk model would use, so the
full S5/U2 path — binaryFile → header parse → frame-chunk → stateful
inference — runs end-to-end on real audio bytes in tests.

Scale notes: mapInPandas stages here are map-only — no shuffle; Arrow
batch size (``spark.sql.execution.arrow.maxRecordsPerBatch``) bounds
executor memory per batch, which is what makes the same plan safe when
payloads are megabyte images instead of kilobyte fakes. Heavy decoders
follow the per-executor singleton pattern (load the model/codec once per
worker process, reference U2) — see ``tests/test_multimodal.py``.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from input_data_pipeline_spark.plans.registry import register
from input_data_pipeline_spark.tables import load_table

if TYPE_CHECKING:
    import pandas as pd

# Fake "sample rate" for duration estimation: 16 kHz mono s16le (the
# reference's ASR input format, speech_to_text.py:24-26) → 32000 bytes/sec.
_BYTES_PER_SEC = 32000.0

_FRAME_CHARS = 64  # fake frame size (chars) for frame-sampling plumbing
_FRAME_STRIDE = 2  # keep every 2nd frame


def _decode_bmp(payload: bytes) -> dict:
    """Parse an uncompressed BI_RGB BMP (24/32-bit) with stdlib ``struct``.

    The image analogue of the WAV path: header fields decoded for real,
    pixel rows de-padded (BMP pads each row to 4 bytes) and normalized to
    top-down row-major order (positive height means bottom-up on disk;
    negative means already top-down). Returns ``width, height, bit_count,
    n_pixels, pixels`` where ``pixels`` is the raw BGR(A) byte plane —
    exactly what a downstream resize/feature kernel consumes.
    """
    import struct

    if len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP payload (missing 'BM' magic)")
    (data_off,) = struct.unpack_from("<I", payload, 10)
    (dib_size,) = struct.unpack_from("<I", payload, 14)
    if dib_size < 40:
        raise ValueError(f"unsupported DIB header size {dib_size} (need BITMAPINFOHEADER+)")
    width, height_raw = struct.unpack_from("<ii", payload, 18)
    bit_count, compression = struct.unpack_from("<H", payload, 28)[0], struct.unpack_from("<I", payload, 30)[0]
    if compression != 0:
        raise ValueError(f"unsupported BMP compression {compression} (need BI_RGB)")
    if bit_count not in (24, 32):
        raise ValueError(f"unsupported BMP bit depth {bit_count} (need 24/32)")
    if width <= 0 or height_raw == 0:
        raise ValueError(f"degenerate BMP dimensions {width}x{height_raw}")
    top_down = height_raw < 0
    height = abs(height_raw)
    bytes_pp = bit_count // 8
    stride = (width * bytes_pp + 3) // 4 * 4
    if data_off + stride * height > len(payload):
        raise ValueError("truncated BMP: pixel array extends past payload")
    rows = []
    for r in range(height):
        src = r if top_down else height - 1 - r
        start = data_off + src * stride
        rows.append(payload[start : start + width * bytes_pp])
    return {
        "width": width,
        "height": height,
        "bit_count": bit_count,
        "n_pixels": width * height,
        "pixels": b"".join(rows),
    }


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _decode_png(payload: bytes) -> dict:
    """Parse an 8-bit truecolor PNG (RGB/RGBA, non-interlaced) with stdlib
    ``struct`` + ``zlib`` — PNG's pixel stream is plain DEFLATE, so no
    external codec is needed: a chunk walk collects IHDR/IDAT, one
    ``zlib.decompress`` inflates the scanlines, and the five standard
    per-scanline filters (none/sub/up/average/paeth, RFC 2083 §6) are
    inverted row by row. Returns the same contract as :func:`_decode_bmp`
    (``width, height, bit_count, n_pixels, pixels``) with ``pixels``
    normalized to the BGR(A) top-down plane the downstream
    feature/resize kernels consume, so a PNG and a BMP of the same image
    fingerprint identically.

    Unfiltering: none is a copy, up is one wrapping numpy add against the
    prior row, and sub is a per-channel-lane prefix sum (uint8 cumsum
    wraps mod 256 — exactly the filter's arithmetic), so the three
    filters real encoders emit most are vectorized whole-row. Average and
    paeth stay per-byte Python — each output byte depends NONLINEARLY
    (shift / 3-way min) on the just-decoded left neighbor, so there is no
    closed-form scan; fine for the test fixtures, and megapixel
    production decode goes through the per-executor singleton codec seam
    like every heavy decoder (U2).
    """
    import struct
    import zlib

    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload (missing signature)")
    width = height = depth = ctype = interlace = None
    idat = bytearray()
    pos = 8
    while pos + 8 <= len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        ctyp = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + length]
        if len(body) < length:
            raise ValueError("truncated PNG chunk")
        if ctyp == b"IHDR":
            if length != 13:
                raise ValueError(f"bad IHDR length {length}")
            width, height, depth, ctype, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            if comp != 0 or filt != 0:
                raise ValueError("unsupported PNG compression/filter method")
        elif ctyp == b"IDAT":
            idat += body
        elif ctyp == b"IEND":
            break
        pos += 12 + length  # length + type + data + crc
    if width is None:
        raise ValueError("no IHDR chunk found")
    if width <= 0 or height <= 0:
        raise ValueError(f"degenerate PNG dimensions {width}x{height}")
    ch = {2: 3, 6: 4}.get(ctype)
    if ch is None or depth not in (8, 16):
        raise ValueError(
            f"unsupported PNG format (color_type={ctype}, depth={depth}; "
            "need 8/16-bit truecolor RGB/RGBA — palette/gray need no new "
            "codec, just more branches)"
        )
    if interlace not in (0, 1):
        raise ValueError(f"unknown PNG interlace method {interlace}")
    if not idat:
        raise ValueError("no IDAT chunk found")
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as e:
        # malformed-payload contract: every bad-bytes path raises
        # ValueError, so callers filtering decode failures catch this too
        raise ValueError(f"corrupt PNG DEFLATE stream: {e}") from e

    import numpy as np

    sb = depth // 8  # bytes per sample
    if interlace == 0:
        rows, off = _png_unfilter(raw, 0, width, height, ch, sb)
        if off != len(raw):
            raise ValueError("PNG pixel data size mismatch after inflate")
        data = rows.reshape(height, width, ch * sb)
    else:
        # Adam7 (round 15, RFC 2083 §2.6): seven sub-images concatenated
        # in the one DEFLATE stream, each filtered independently, each
        # scattered back onto the canvas by its (x0, y0, dx, dy) lattice.
        # Passes whose lattice misses the image entirely contribute NO
        # scanlines (not even filter bytes).
        data = np.zeros((height, width, ch * sb), np.uint8)
        off = 0
        for x0, y0, dx, dy in _PNG_ADAM7:
            pw = (width - x0 + dx - 1) // dx
            ph = (height - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            rows, off = _png_unfilter(raw, off, pw, ph, ch, sb)
            data[y0::dy, x0::dx, :] = rows.reshape(ph, pw, ch * sb)
        if off != len(raw):
            raise ValueError("PNG Adam7 pass data size mismatch")

    if sb == 2:
        # 16-bit samples are big-endian; the uniform contract is an
        # 8-bit plane, so take the high byte (the PNG-recommended
        # depth-reduction; v*257 widening round-trips bit-exactly)
        data = data.reshape(height, width, ch, 2)[:, :, :, 0]
    # RGB(A) → BGR(A): downstream kernels index channels BMP-style
    plane = data.reshape(-1, ch).copy()
    plane[:, [0, 2]] = plane[:, [2, 0]]
    return {
        "width": width,
        "height": height,
        "bit_count": 8 * ch,
        "n_pixels": width * height,
        "pixels": plane.tobytes(),
    }


# Adam7 pass lattice: (x0, y0, dx, dy), RFC 2083 §2.6
_PNG_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _png_unfilter(raw: bytes, off: int, w: int, h: int, ch: int, sb: int):
    """Invert the five standard scanline filters (RFC 2083 §6) over one
    (sub)image of ``h`` rows x ``w`` pixels x ``ch`` channels x ``sb``
    bytes per sample starting at ``off`` in the inflated stream. PNG
    filtering is BYTE-wise with the left neighbor ``bpp = ch*sb`` bytes
    back, so 8- and 16-bit rows share this code. Returns
    ``(rows (h, w*ch*sb) uint8, next offset)``.

    none is a copy, up is one wrapping numpy add against the prior row,
    sub is a per-byte-lane prefix sum (uint8 cumsum wraps mod 256 —
    exactly the filter's arithmetic); average and paeth stay per-byte
    Python — each output byte depends NONLINEARLY (shift / 3-way min) on
    the just-decoded left neighbor, so there is no closed-form scan;
    fine for the test fixtures, and megapixel production decode goes
    through the per-executor singleton codec seam (U2)."""
    import numpy as np

    rowlen = w * ch * sb
    bpp = ch * sb
    if off + h * (rowlen + 1) > len(raw):
        raise ValueError("PNG pixel data size mismatch after inflate")
    prev = np.zeros(rowlen, dtype=np.uint8)
    out = np.empty((h, rowlen), dtype=np.uint8)
    for r in range(h):
        f = raw[off]
        cur = np.frombuffer(raw, dtype=np.uint8, count=rowlen, offset=off + 1)
        off += rowlen + 1
        if f == 0:
            line = cur.copy()
        elif f == 1:  # sub: per-byte-lane prefix sum; uint8 wraps mod 256
            line = np.cumsum(
                cur.reshape(-1, bpp), axis=0, dtype=np.uint8
            ).reshape(-1)
        elif f == 2:  # up: one wrapping add against the prior row
            line = cur + prev
        elif f in (3, 4):  # average / paeth: inherently sequential
            lb = bytearray(cur.tobytes())
            if f == 3:
                for i in range(rowlen):
                    a = lb[i - bpp] if i >= bpp else 0
                    lb[i] = (lb[i] + ((a + int(prev[i])) >> 1)) & 0xFF
            else:
                for i in range(rowlen):
                    a = lb[i - bpp] if i >= bpp else 0
                    b = int(prev[i])
                    c = int(prev[i - bpp]) if i >= bpp else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    lb[i] = (lb[i] + pred) & 0xFF
            line = np.frombuffer(bytes(lb), dtype=np.uint8)
        else:
            raise ValueError(f"unknown PNG filter type {f}")
        prev = line
        out[r] = line
    return out, off


def _gif_lzw_decode(data: bytes, min_code_size: int, n_expected: int) -> bytes:
    """GIF-variant LZW decode (GIF89a spec Appendix F): variable-width
    codes LSB-first, CLEAR = 1<<min resets the table, END = CLEAR+1
    stops, the code width grows when the table reaches 1<<width (cap 12
    bits / 4096 entries — past that the encoder must emit CLEAR).
    Returns exactly ``n_expected`` palette indices; short or overlong
    streams raise ValueError. Per-code Python, same budget stance as the
    JPEG huffman loop: fixture-scope real decode, megapixel production
    goes through the singleton codec seam (U2)."""
    if not 2 <= min_code_size <= 11:
        raise ValueError(f"bad GIF LZW minimum code size {min_code_size}")
    clear, end = 1 << min_code_size, (1 << min_code_size) + 1
    out = bytearray()
    # Initialize the code table up front: the spec only RECOMMENDS a
    # leading CLEAR, and real encoders exist that open with a literal.
    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    width = min_code_size + 1
    prev: bytes | None = None
    acc = nbits = 0
    pos = 0
    while True:
        while nbits < width:
            if pos >= len(data):
                raise ValueError("truncated GIF LZW stream (no END code)")
            acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table = [bytes([i]) for i in range(clear)] + [b"", b""]
            width = min_code_size + 1
            prev = None
            continue
        if code == end:
            break
        if prev is None:
            if code >= clear:
                raise ValueError(f"first GIF LZW code {code} is not a literal")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            if len(table) < 4096:
                table.append(prev + entry[:1])
        elif code == len(table) and len(table) < 4096:
            entry = prev + prev[:1]  # the KwKwK case
            table.append(entry)
        else:
            raise ValueError(f"GIF LZW code {code} beyond table size {len(table)}")
        out += entry
        prev = entry
        if len(table) == (1 << width) and width < 12:
            width += 1
        if len(out) > n_expected:
            raise ValueError(
                f"GIF LZW stream yields {len(out)}+ indices for "
                f"{n_expected} pixels"
            )
    if len(out) != n_expected:
        raise ValueError(
            f"GIF LZW stream ended at {len(out)} of {n_expected} pixels"
        )
    return bytes(out)


# row order of the four GIF interlace passes: (first row, step)
_GIF_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _decode_gif(payload: bytes) -> dict:
    """Parse a GIF87a/GIF89a with stdlib ``struct`` + a pure-Python LZW
    decoder (:func:`_gif_lzw_decode`) — GIF's only compression is LZW,
    fully specified in the public GIF89a spec, so no external codec is
    needed. The logical-screen descriptor gives dimensions and the
    global color table; the FIRST image descriptor is decoded for real
    (local color table, interlacing, and a GCE transparency index all
    honored) and composited onto a background-color canvas when it
    covers only part of the screen. Returns the :func:`_decode_bmp`
    contract with ``pixels`` a top-down BGR plane (BGRA when the first
    frame declares a transparent index — transparent pixels get alpha 0,
    matching the PNG path's 32-bit face), plus ``n_frames`` so callers
    can route animations; later frames' delta semantics (disposal,
    per-frame GCEs) belong to a real renderer behind the codec seam."""
    import struct

    import numpy as np

    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload (missing GIF87a/GIF89a magic)")
    if len(payload) < 13:
        raise ValueError("truncated GIF logical screen descriptor")
    width, height = struct.unpack_from("<HH", payload, 6)
    if width <= 0 or height <= 0:
        raise ValueError(f"degenerate GIF dimensions {width}x{height}")
    packed, bg_index = payload[10], payload[11]
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        if pos + 3 * n > len(payload):
            raise ValueError("truncated GIF global color table")
        gct = np.frombuffer(payload, np.uint8, 3 * n, pos).reshape(n, 3)
        pos += 3 * n

    def sub_blocks(p: int) -> tuple[bytes, int]:
        chunks = []
        while True:
            if p >= len(payload):
                raise ValueError("truncated GIF data sub-blocks")
            ln = payload[p]
            p += 1
            if ln == 0:
                return b"".join(chunks), p
            if p + ln > len(payload):
                raise ValueError("truncated GIF data sub-block")
            chunks.append(payload[p : p + ln])
            p += ln

    transparent = None  # index from the GCE that precedes the first image
    first = None  # (left, top, w, h, interlaced, palette, indices)
    n_frames = 0
    while pos < len(payload):
        b = payload[pos]
        if b == 0x3B:  # trailer
            break
        if b == 0x21:  # extension: label + sub-blocks
            if pos + 2 > len(payload):
                raise ValueError("truncated GIF extension")
            label = payload[pos + 1]
            body, pos = sub_blocks(pos + 2)
            if label == 0xF9 and first is None and len(body) >= 4:
                # graphic control: packed bit0 = transparency flag. Per
                # GIF89a only the GCE immediately preceding the image
                # applies, so a later opaque GCE must CLEAR an earlier
                # transparent one, not leave it sticky.
                transparent = body[3] if body[0] & 0x01 else None
            continue
        if b != 0x2C:
            raise ValueError(f"unknown GIF block introducer 0x{b:02x}")
        if pos + 10 > len(payload):
            raise ValueError("truncated GIF image descriptor")
        left, top, iw, ih = struct.unpack_from("<4H", payload, pos + 1)
        ipacked = payload[pos + 9]
        pos += 10
        palette = gct
        if ipacked & 0x80:  # local color table
            n = 2 << (ipacked & 0x07)
            if pos + 3 * n > len(payload):
                raise ValueError("truncated GIF local color table")
            palette = np.frombuffer(payload, np.uint8, 3 * n, pos).reshape(n, 3)
            pos += 3 * n
        if pos >= len(payload):
            raise ValueError("truncated GIF image data")
        min_code = payload[pos]
        data, pos = sub_blocks(pos + 1)
        n_frames += 1
        if first is not None:
            continue  # count remaining frames without decoding them
        if palette is None:
            raise ValueError("GIF image has no color table (global or local)")
        if iw <= 0 or ih <= 0 or left + iw > width or top + ih > height:
            raise ValueError(
                f"GIF frame {iw}x{ih}@{left},{top} exceeds the "
                f"{width}x{height} logical screen"
            )
        indices = np.frombuffer(
            _gif_lzw_decode(data, min_code, iw * ih), np.uint8
        ).reshape(ih, iw)
        if ipacked & 0x40:  # interlaced: 4-pass row order
            deinter = np.empty_like(indices)
            src = 0
            for start, step in _GIF_INTERLACE_PASSES:
                n_rows = len(range(start, ih, step))
                deinter[start::step] = indices[src : src + n_rows]
                src += n_rows
            indices = deinter
        if int(indices.max(initial=0)) >= len(palette):
            raise ValueError("GIF pixel index beyond its color table")
        first = (left, top, iw, ih, palette, indices)

    if first is None:
        raise ValueError("GIF contains no image descriptor")
    left, top, iw, ih, palette, indices = first
    ch = 3 if transparent is None else 4
    canvas = np.zeros((height, width, ch), np.uint8)
    if gct is not None and bg_index < len(gct):
        canvas[:, :, :3] = gct[bg_index][::-1]  # background, RGB→BGR
    frame = palette[indices][:, :, ::-1]  # palette lookup, RGB→BGR
    if ch == 4:
        alpha = np.where(indices == transparent, 0, 255).astype(np.uint8)
        frame = np.dstack([frame, alpha])
        canvas[:, :, 3] = 255  # screen outside the frame is opaque bg
    canvas[top : top + ih, left : left + iw] = frame
    return {
        "width": width,
        "height": height,
        "bit_count": 8 * ch,
        "n_pixels": width * height,
        "n_frames": n_frames,
        "pixels": canvas.tobytes(),
    }


def encode_bmp(plane) -> bytes:
    """Encode a top-down (h, w, 3) BGR uint8 array as a 24-bit BI_RGB BMP
    — the sink half of the image codec surface (per-row file emission
    K4: thumbnails, resized previews), and the exact inverse of
    :func:`_decode_bmp`, roundtrip-pinned by test. Rows are written
    bottom-up with 4-byte padding per the BMP convention."""
    import struct

    import numpy as np

    arr = np.ascontiguousarray(plane, dtype=np.uint8)
    h, w, ch = arr.shape
    if ch != 3:
        raise ValueError(f"encode_bmp wants (h, w, 3) BGR, got {ch} channels")
    stride = (w * 3 + 3) // 4 * 4
    rows = np.zeros((h, stride), np.uint8)
    rows[:, : w * 3] = arr.reshape(h, w * 3)[::-1]
    body = rows.tobytes()
    return (
        b"BM"
        + struct.pack("<IHHI", 54 + len(body), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 0, 0, 0, 0)
        + body
    )


def encode_png(plane, interlace: bool = False, depth16: bool = False) -> bytes:
    """Encode a top-down (h, w, 3) BGR uint8 array as a truecolor PNG
    (filter 0 scanlines + one zlib deflate stream) — lossless, the
    inverse of :func:`_decode_png`, roundtrip-pinned by test.

    Round 15: ``interlace`` writes Adam7 (the seven pass sub-images
    concatenated in the one DEFLATE stream, empty passes omitted
    entirely); ``depth16`` writes 16-bit samples widened v -> v*257
    (high byte == low byte, the exact inverse of the decoder's high-byte
    reduction). Both compose."""
    import struct
    import zlib

    import numpy as np

    arr = np.ascontiguousarray(plane, dtype=np.uint8)
    h, w, ch = arr.shape
    if ch != 3:
        raise ValueError(f"encode_png wants (h, w, 3) BGR, got {ch} channels")
    rgb = arr[:, :, ::-1]
    if depth16:
        samples = (rgb.astype(np.uint16) * 257).astype(">u2")
        px = samples.view(np.uint8).reshape(h, w, 6)
    else:
        px = rgb
    if interlace:
        parts = []
        for x0, y0, dx, dy in _PNG_ADAM7:
            sub = px[y0::dy, x0::dx, :]
            if sub.shape[0] == 0 or sub.shape[1] == 0:
                continue
            parts.extend(b"\x00" + sub[r].tobytes() for r in range(sub.shape[0]))
        raw = b"".join(parts)
    else:
        raw = b"".join(b"\x00" + px[r].tobytes() for r in range(h))

    def chunk(typ: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body)) + typ + body
            + struct.pack(">I", zlib.crc32(typ + body))
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 16 if depth16 else 8, 2, 0, 0,
                       1 if interlace else 0)
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def encode_gif(plane) -> bytes:
    """Encode a top-down (h, w, 3) BGR uint8 array as a single-frame
    GIF89a: the palette is the image's unique colors (≤256 — raise
    otherwise; quantization is a modeling choice that belongs upstream),
    written RGB in the global color table, indices LZW-compressed with
    the same width-growth discipline :func:`_gif_lzw_decode` expects.
    Lossless for palette-sized images and the inverse of
    :func:`_decode_gif`, roundtrip-pinned by test."""
    import struct

    import numpy as np

    arr = np.ascontiguousarray(plane, dtype=np.uint8)
    h, w, ch = arr.shape
    if ch != 3:
        raise ValueError(f"encode_gif wants (h, w, 3) BGR, got {ch} channels")
    flat = arr.reshape(-1, 3)
    palette, indices = np.unique(flat, axis=0, return_inverse=True)
    if len(palette) > 256:
        raise ValueError(
            f"encode_gif: {len(palette)} distinct colors exceed the "
            "256-entry GIF palette; quantize upstream"
        )
    n = max(2, 1 << max(0, (len(palette) - 1).bit_length()))
    min_code = max(2, (n - 1).bit_length())

    # --- GIF-variant LZW compress (inverse of _gif_lzw_decode) ---
    clear, end = 1 << min_code, (1 << min_code) + 1
    buf = bytearray()
    acc = nbits = 0
    width = min_code + 1

    def emit(code: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            buf.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    emit(clear)
    table = {bytes([i]): i for i in range(clear)}
    next_code = end + 1
    prev = b""
    for k in indices.astype(np.uint8).tobytes():
        pk = prev + bytes([k])
        if pk in table:
            prev = pk
            continue
        emit(table[prev])
        if next_code < 4096:
            table[pk] = next_code
            next_code += 1
            if next_code - 1 == (1 << width) and width < 12:
                width += 1
        else:
            emit(clear)
            table = {bytes([i]): i for i in range(clear)}
            next_code = end + 1
            width = min_code + 1
        prev = bytes([k])
    if prev:
        emit(table[prev])
        # the decoder appends an entry for this final code too; END must
        # be written in the width that append may have grown to
        if next_code == (1 << width) and width < 12:
            width += 1
    emit(end)
    if nbits:
        buf.append(acc & 0xFF)

    gct = palette[:, ::-1].tobytes() + b"\x00" * (3 * (n - len(palette)))
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | (n.bit_length() - 2), 0, 0)
    out += gct
    out += struct.pack("<B4HB", 0x2C, 0, 0, w, h, 0)
    out.append(min_code)
    data = bytes(buf)
    for i in range(0, len(data), 255):
        piece = data[i : i + 255]
        out.append(len(piece))
        out += piece
    out += b"\x00\x3b"
    return bytes(out)


# --- netpbm + TGA (round 17) --------------------------------------------------
#
# Two fully-algorithmic image families that still circulate in ML and
# graphics corpora: the netpbm ASCII/binary ladder (PBM/PGM/PPM — the
# classic interchange format of vision datasets and test suites) and
# Targa (uncompressed + RLE truecolor/grayscale — texture pipelines).
# Zero spec tables; both decode into the uniform top-down BGR contract.


def _decode_netpbm(payload: bytes) -> dict:
    """P1-P6 netpbm decode: token scanner that honors '#' comments in
    headers, ASCII (P1/P2/P3) and binary (P4/P5/P6) rasters, 1- and
    2-byte binary samples by maxval, and 255*v//maxval scaling. PBM
    semantics: 1 = black -> 0, 0 = white -> 255."""
    import numpy as np

    magic = payload[:2]
    if magic[:1] != b"P" or magic[1:2] not in b"123456":
        raise ValueError("not a netpbm payload (missing P1-P6 magic)")
    kind = int(magic[1:2])
    pos = 2

    def token() -> int:
        nonlocal pos
        while pos < len(payload):
            ch = payload[pos : pos + 1]
            if ch == b"#":
                nl = payload.find(b"\n", pos)
                if nl < 0:
                    raise ValueError("unterminated netpbm comment")
                pos = nl + 1
            elif ch.isspace():
                pos += 1
            else:
                break
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        if start == pos:
            raise ValueError("truncated netpbm header")
        return int(payload[start:pos])

    w = token()
    h = token()
    if w < 1 or h < 1:
        raise ValueError("netpbm dimensions must be positive")
    bitmap = kind in (1, 4)
    maxval = 1 if bitmap else token()
    if not 1 <= maxval <= 65535:
        raise ValueError(f"netpbm maxval {maxval} out of range")
    n_ch = 3 if kind in (3, 6) else 1
    if kind in (1, 2, 3):
        vals = []
        if kind == 1:
            # P1 digits need no whitespace separation
            for ch in payload[pos:]:
                if ch in b"01":
                    vals.append(ch - 0x30)
                elif not bytes([ch]).isspace():
                    raise ValueError("P1 raster must be 0/1 digits")
                if len(vals) == w * h:
                    break
        else:
            for _ in range(w * h * n_ch):
                vals.append(token())
        if len(vals) < w * h * n_ch:
            raise ValueError("netpbm raster shorter than the header claims")
        a = np.asarray(vals, dtype=np.int64)
    else:
        pos += 1  # exactly ONE whitespace byte after the header
        if kind == 4:
            stride = (w + 7) // 8
            need = stride * h
            raw = payload[pos : pos + need]
            if len(raw) < need:
                raise ValueError("truncated P4 raster")
            bits = np.unpackbits(
                np.frombuffer(raw, np.uint8).reshape(h, stride), axis=1
            )[:, :w]
            a = bits.astype(np.int64).reshape(-1)
        else:
            width = 2 if maxval > 255 else 1
            need = w * h * n_ch * width
            raw = payload[pos : pos + need]
            if len(raw) < need:
                raise ValueError("truncated netpbm raster")
            a = np.frombuffer(
                raw, ">u2" if width == 2 else np.uint8
            ).astype(np.int64)
    if a.max(initial=0) > maxval:
        raise ValueError("netpbm sample exceeds maxval")
    if bitmap:
        px = (1 - a) * 255  # 1 = black
    else:
        px = a * 255 // maxval
    if n_ch == 1:
        rgb = np.repeat(
            px.reshape(h, w, 1).astype(np.uint8), 3, axis=2
        )
    else:
        rgb = px.reshape(h, w, 3).astype(np.uint8)
    bgr = rgb[:, :, ::-1]
    return {
        "width": w, "height": h, "bit_count": 24, "n_pixels": w * h,
        "pixels": bgr.tobytes(),
    }


def encode_netpbm(plane, kind: int, maxval: int = 255) -> bytes:
    """Encode a top-down (h, w, 3) BGR array (or (h, w) gray / 0-1
    bitmap) as netpbm P1-P6 — the fixture inverse of
    :func:`_decode_netpbm`. Gray/bitmap kinds take the (h, w) plane;
    P1/P4 expect 0/1 with 1 = black."""
    import numpy as np

    a = np.asarray(plane)
    if kind in (3, 6):
        if a.ndim != 3:
            raise ValueError("PPM wants (h, w, 3) BGR")
        h, w = a.shape[:2]
        flat = a[:, :, ::-1].reshape(-1).astype(np.int64)
        hdr = f"P{kind}\n{w} {h}\n{maxval}\n".encode()
    elif kind in (2, 5):
        if a.ndim != 2:
            raise ValueError("PGM wants (h, w) gray")
        h, w = a.shape
        flat = a.reshape(-1).astype(np.int64)
        hdr = f"P{kind}\n{w} {h}\n{maxval}\n".encode()
    else:
        if a.ndim != 2:
            raise ValueError("PBM wants (h, w) bits")
        h, w = a.shape
        flat = a.reshape(-1).astype(np.int64)
        hdr = f"P{kind}\n{w} {h}\n".encode()
    if kind in (1, 2, 3):
        return hdr + b" ".join(
            str(int(v)).encode() for v in flat
        ) + b"\n"
    if kind == 4:
        bits = a.astype(np.uint8)
        stride = (w + 7) // 8
        padded = np.zeros((h, stride * 8), np.uint8)
        padded[:, :w] = bits
        return hdr + np.packbits(padded, axis=1).tobytes()
    width = 2 if maxval > 255 else 1
    return hdr + flat.astype(">u2" if width == 2 else np.uint8).tobytes()


def _looks_like_tga(payload: bytes) -> bool:
    """TGA has no magic; accept only the untyped-header shapes this
    decoder supports (truecolor/gray types 2/3/10/11 with colormap
    type 0, colormapped types 1/9 with colormap type 1) so other
    formats cannot alias into the TGA arm."""
    if len(payload) < 18:
        return False
    if payload[1] == 0:
        return payload[2] in (2, 3, 10, 11) and payload[16] in (8, 24, 32)
    return (
        payload[1] == 1
        and payload[2] in (1, 9)
        and payload[16] in (8, 16)
        and payload[7] in (15, 16, 24, 32)
    )


def _tga_palette(payload: bytes, pos: int, cmap_len: int, entry_bits: int):
    """Read a TGA colormap at ``pos`` into an (n, 3) BGR uint8 palette.
    24-bit entries are BGR, 32-bit BGRA (alpha dropped), 15/16-bit
    little-endian A1R5G5B5 with each 5-bit channel expanded by
    ``(c << 3) | (c >> 2)``. Returns (palette, next_pos)."""
    import numpy as np

    entry_bytes = (entry_bits + 7) // 8
    raw = payload[pos : pos + cmap_len * entry_bytes]
    if len(raw) < cmap_len * entry_bytes:
        raise ValueError("truncated TGA colormap")
    a = np.frombuffer(raw, np.uint8).reshape(cmap_len, entry_bytes)
    if entry_bits in (24, 32):
        pal = a[:, :3].copy()
    else:  # 15/16-bit A1R5G5B5
        v = a[:, 0].astype(np.uint16) | (a[:, 1].astype(np.uint16) << 8)
        pal = np.empty((cmap_len, 3), np.uint8)
        for ch, shift in ((0, 0), (1, 5), (2, 10)):  # B, G, R
            c5 = (v >> shift) & 31
            pal[:, ch] = ((c5 << 3) | (c5 >> 2)).astype(np.uint8)
    return pal, pos + cmap_len * entry_bytes


def _decode_tga(payload: bytes) -> dict:
    """Targa decode: uncompressed (type 2/3) and RLE (10/11) truecolor
    (24/32-bit BGR[A], alpha dropped) and 8-bit grayscale, plus
    colormapped types 1/9 (8/16-bit indices, 15/16/24/32-bit map
    entries, nonzero first-entry index honoured), both row origins
    (descriptor bit 5)."""
    import struct

    import numpy as np

    if len(payload) < 18:
        raise ValueError("truncated TGA header")
    id_len, cmap_type, itype = payload[0], payload[1], payload[2]
    if itype not in (1, 2, 3, 9, 10, 11):
        raise ValueError(f"TGA image type {itype} unsupported")
    cmapped = itype in (1, 9)
    if cmapped != (cmap_type == 1):
        raise ValueError("TGA colormap type disagrees with image type")
    cmap_first, cmap_len = struct.unpack_from("<HH", payload, 3)
    entry_bits = payload[7]
    w, h = struct.unpack_from("<HH", payload, 12)
    bpp, desc = payload[16], payload[17]
    if w < 1 or h < 1:
        raise ValueError("TGA dimensions must be positive")
    if cmapped:
        if bpp not in (8, 16):
            raise ValueError(f"colormapped TGA index size {bpp} unsupported")
        if entry_bits not in (15, 16, 24, 32):
            raise ValueError(f"TGA colormap entry size {entry_bits}")
        if cmap_len < 1:
            raise ValueError("colormapped TGA with empty colormap")
        n_ch = bpp // 8
    elif itype in (3, 11):
        if bpp != 8:
            raise ValueError("grayscale TGA must be 8-bit")
        n_ch = 1
    else:
        if bpp not in (24, 32):
            raise ValueError(f"truecolor TGA bpp {bpp} unsupported")
        n_ch = bpp // 8
    pos = 18 + id_len
    palette = None
    if cmapped:
        palette, pos = _tga_palette(payload, pos, cmap_len, entry_bits)
    need = w * h * n_ch
    if itype in (1, 2, 3):
        raw = payload[pos : pos + need]
        if len(raw) < need:
            raise ValueError("truncated TGA raster")
    else:
        out = bytearray()
        while len(out) < need:
            if pos >= len(payload):
                raise ValueError("truncated TGA RLE stream")
            head = payload[pos]
            pos += 1
            count = (head & 0x7F) + 1
            if head & 0x80:
                px = payload[pos : pos + n_ch]
                if len(px) < n_ch:
                    raise ValueError("truncated TGA RLE run pixel")
                out += px * count
                pos += n_ch
            else:
                chunk = payload[pos : pos + count * n_ch]
                if len(chunk) < count * n_ch:
                    raise ValueError("truncated TGA RLE raw packet")
                out += chunk
                pos += count * n_ch
        if len(out) != need:
            raise ValueError("TGA RLE output overruns the raster")
        raw = bytes(out)
    a = np.frombuffer(raw, np.uint8).reshape(h, w, n_ch)
    if cmapped:
        idx = (
            a[:, :, 0].astype(np.int64)
            if bpp == 8
            else (a[:, :, 0].astype(np.int64) | (a[:, :, 1].astype(np.int64) << 8))
        ) - cmap_first
        if (idx < 0).any() or (idx >= cmap_len).any():
            raise ValueError("TGA pixel index outside the colormap")
        bgr = palette[idx]
    elif n_ch == 1:
        bgr = np.repeat(a, 3, axis=2)
    else:
        bgr = a[:, :, :3]  # TGA stores BGR(A); alpha dropped
    if not desc & 0x20:  # origin bottom-left -> flip to top-down
        bgr = bgr[::-1]
    return {
        "width": w, "height": h, "bit_count": 24, "n_pixels": w * h,
        "pixels": np.ascontiguousarray(bgr).tobytes(),
    }


def encode_tga(plane, rle: bool = False, top_down: bool = False,
               palette=None, cmap_bits: int = 24,
               cmap_first: int = 0) -> bytes:
    """Encode a top-down (h, w, 3) BGR array (or (h, w) gray) as TGA —
    types 2/3 raw or 10/11 RLE, either row origin. With ``palette``
    ((n, 3) BGR uint8), ``plane`` is an (h, w) index array and the
    output is colormapped type 1/9 with ``cmap_bits`` (16 packs each
    channel's top 5 bits as A1R5G5B5, 24/32 store BGR[A]) and
    first-entry index ``cmap_first`` (indices written are
    ``plane + cmap_first``). RLE packets follow the spec's 128-pixel
    cap and never cross rows."""
    import struct

    import numpy as np

    a = np.asarray(plane, dtype=np.uint8)
    gray = a.ndim == 2
    h, w = a.shape[:2]
    cmap = b""
    if palette is not None:
        pal = np.asarray(palette, dtype=np.uint8)
        if not gray:
            raise ValueError("colormapped TGA wants an (h, w) index plane")
        if cmap_bits == 16:
            v = (
                (pal[:, 0].astype(np.uint16) >> 3)
                | ((pal[:, 1].astype(np.uint16) >> 3) << 5)
                | ((pal[:, 2].astype(np.uint16) >> 3) << 10)
            )
            cmap = v.astype("<u2").tobytes()
        elif cmap_bits == 24:
            cmap = pal.tobytes()
        elif cmap_bits == 32:
            cmap = np.concatenate(
                [pal, np.full((len(pal), 1), 255, np.uint8)], axis=1
            ).tobytes()
        else:
            raise ValueError(f"cmap_bits {cmap_bits} unsupported")
        if int(a.max()) + cmap_first > 255:
            raise ValueError("index + cmap_first exceeds 8-bit indices")
        a = (a + np.uint8(cmap_first)).astype(np.uint8)
        n_ch = 1
        itype = 1 + (8 if rle else 0)
        hdr = struct.pack(
            "<BBBHHBHHHHBB", 0, 1, itype, cmap_first, len(pal),
            cmap_bits, 0, 0, w, h, 8, 0x20 if top_down else 0,
        )
    else:
        n_ch = 1 if gray else 3
        itype = (3 if gray else 2) + (8 if rle else 0)
        hdr = struct.pack(
            "<BBBHHBHHHHBB", 0, 0, itype, 0, 0, 0, 0, 0, w, h,
            8 * n_ch, 0x20 if top_down else 0,
        )
    hdr += cmap
    rows = a if top_down else a[::-1]
    if not rle:
        return hdr + rows.tobytes()
    out = bytearray(hdr)
    px = rows.reshape(h, w, n_ch)
    for r in range(h):
        c = 0
        while c < w:
            run = 1
            while (
                c + run < w and run < 128
                and (px[r, c + run] == px[r, c]).all()
            ):
                run += 1
            if run >= 2:
                out.append(0x80 | (run - 1))
                out += px[r, c].tobytes()
                c += run
            else:
                lit = 1
                while (
                    c + lit < w and lit < 128
                    and not (
                        c + lit + 1 < w
                        and (px[r, c + lit] == px[r, c + lit + 1]).all()
                    )
                ):
                    lit += 1
                out.append(lit - 1)
                out += px[r, c : c + lit].tobytes()
                c += lit
    return bytes(out)


def encode_avi(frames, usec_per_frame: int = 40000, audio=None,
               audio_rate: int = 8000, audio_format: str = "pcm16") -> bytes:
    """Encode a list of top-down (h, w, 3) BGR uint8 arrays as an
    uncompressed-DIB AVI ('00db' frames, bottom-up 4-byte-padded rows) —
    the sink half of the video surface and the exact inverse of
    :func:`_decode_avi`'s uncompressed path, roundtrip-pinned by test.

    ``audio`` (round 15): a mono int16 sample array written as a second
    'auds' stream — strh + a WAVEFORMATEX strf and one '01wb' data chunk
    in movi — as 16-bit PCM or (``audio_format='ulaw'/'alaw'``) G.711
    codes, the layouts :func:`extract_avi_audio` reads back. The avih
    frame count stays the VIDEO frame count per the spec."""
    import struct

    import numpy as np

    if not frames:
        raise ValueError("encode_avi needs at least one frame")
    planes = [np.ascontiguousarray(f, dtype=np.uint8) for f in frames]
    h, w, ch = planes[0].shape
    if ch != 3 or any(p.shape != (h, w, 3) for p in planes):
        raise ValueError("encode_avi wants uniform (h, w, 3) BGR frames")
    stride = (w * 3 + 3) // 4 * 4

    def dib(p) -> bytes:
        rows = np.zeros((h, stride), np.uint8)
        rows[:, : w * 3] = p.reshape(h, w * 3)[::-1]
        return rows.tobytes()

    def chunk(cid: bytes, body: bytes) -> bytes:
        return cid + struct.pack("<I", len(body)) + body + (
            b"\x00" if len(body) % 2 else b""
        )

    def lst(ltype: bytes, body: bytes) -> bytes:
        return b"LIST" + struct.pack("<I", 4 + len(body)) + ltype + body

    avih = struct.pack(
        "<10I4x4x4x4x", usec_per_frame, 0, 0, 0, len(planes), 0,
        2 if audio is not None else 1, 0, w, h
    )
    strh = (b"vids" + b"DIB ").ljust(56, b"\x00")
    strf = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, stride * h, 0, 0, 0, 0
    )
    strls = lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf))
    movi_chunks = b"".join(chunk(b"00db", dib(p)) for p in planes)
    if audio is not None:
        ext = b""
        if audio_format == "mp3":
            # round 16: a PRE-ENCODED MP3 elementary stream rides as the
            # 'auds' payload (wFormatTag 0x0055, MPEGLAYER3WAVEFORMAT
            # extension); extract_avi_audio's WAV repack routes it to
            # the full MP3 PCM chain
            if not isinstance(audio, (bytes, bytearray)):
                raise ValueError(
                    "mp3 AVI audio wants the pre-encoded stream bytes"
                )
            adata, tag, bits, align = bytes(audio), 0x0055, 0, 1
            ext = struct.pack("<HIHHH", 1, 0, min(len(adata), 0xFFFF), 1, 0)
        else:
            pcm = np.asarray(audio, dtype=np.int16)
            if pcm.ndim != 1:
                raise ValueError("encode_avi wants mono int16 audio")
            if audio_format == "pcm16":
                adata, tag, bits, align = pcm.astype("<i2").tobytes(), 1, 16, 2
            elif audio_format in ("ulaw", "alaw"):
                tag = 7 if audio_format == "ulaw" else 6
                adata = _g711_compress(pcm, audio_format).astype(
                    np.uint8
                ).tobytes()
                bits, align = 8, 1
            else:
                raise ValueError(f"unknown AVI audio format {audio_format!r}")
        astrh = (b"auds" + b"\x00" * 4).ljust(56, b"\x00")
        astrf = struct.pack(  # WAVEFORMATEX, the WAV 'fmt ' body layout
            "<HHIIHH", tag, 1, audio_rate, audio_rate * align, align, bits
        )
        if ext:
            astrf += struct.pack("<H", len(ext)) + ext  # cbSize + extension
        strls += lst(b"strl", chunk(b"strh", astrh) + chunk(b"strf", astrf))
        movi_chunks += chunk(b"01wb", adata)
    hdrl = lst(b"hdrl", chunk(b"avih", avih) + strls)
    movi = lst(b"movi", movi_chunks)
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def extract_avi_audio(payload: bytes) -> dict:
    """Extract and DECODE the audio stream of an AVI container (round
    15): a RIFF walk collects the 'auds' stream's strf — a WAVEFORMATEX,
    byte-identical to a WAV 'fmt ' chunk body — and its '..wb' data
    chunks in order, repackages them as an in-memory RIFF/WAVE, and
    delegates to :func:`decode_media`'s audio path. AVI audio therefore
    inherits the ENTIRE WAV decode matrix (PCM widths, IEEE float,
    G.711 both laws, IMA-ADPCM) with zero new codec code, and feeds
    ``audio_content_key`` like any first-class audio container. An AVI
    without an audio stream, or with several, raises by name."""
    import struct

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not an AVI payload (missing RIFF/'AVI ' magic)")
    fmts: list[bytes] = []
    audio = bytearray()

    def walk(start: int, end: int) -> None:
        stream_type = None
        pos = start
        while pos + 8 <= end:
            cid = payload[pos : pos + 4]
            (size,) = struct.unpack_from("<I", payload, pos + 4)
            body0, body1 = pos + 8, pos + 8 + size
            if body1 > end:
                raise ValueError("truncated AVI: chunk extends past its parent")
            if cid == b"LIST":
                walk(body0 + 4, body1)
            elif cid == b"strh":
                stream_type = payload[body0 : body0 + 4]
            elif cid == b"strf" and stream_type == b"auds":
                if size < 16:
                    raise ValueError(f"audio 'strf' chunk too small ({size} bytes)")
                fmts.append(payload[body0:body1])
            elif cid[2:4] == b"wb":
                audio.extend(payload[body0:body1])
            pos = body1 + (size & 1)

    walk(12, len(payload))
    if not fmts:
        raise ValueError("AVI has no audio ('auds') stream")
    if len(fmts) > 1:
        raise ValueError(f"AVI has {len(fmts)} audio streams; expected one")

    def wchunk(cid: bytes, body: bytes) -> bytes:
        return cid + struct.pack("<I", len(body)) + body + (
            b"\x00" if len(body) % 2 else b""
        )

    wav_body = b"WAVE" + wchunk(b"fmt ", fmts[0]) + wchunk(b"data", bytes(audio))
    wav = b"RIFF" + struct.pack("<I", len(wav_body)) + wav_body
    return decode_media(wav, "audio")


def encode_wav(samples, frame_rate: int = 16000) -> bytes:
    """Encode an int16 sample array as a PCM WAV via stdlib ``wave`` —
    the sink half of the audio surface (the reference writes its capture
    files exactly this way) and the inverse of :func:`decode_media`'s
    audio path, roundtrip-pinned by test. A 1-D array writes mono; an
    (n, 2) array writes interleaved stereo (row-major bytes ARE the WAV
    frame interleave)."""
    import io
    import wave

    import numpy as np

    pcm = np.ascontiguousarray(samples, dtype=np.int16)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(2 if pcm.ndim == 2 else 1)
        wf.setsampwidth(2)
        wf.setframerate(frame_rate)
        wf.writeframes(pcm.tobytes())
    return buf.getvalue()


# --- companded / ADPCM WAV (round 11): the speech-corpus formats -----------
#
# Telephony and speech corpora ship WAV containers whose sample bytes are
# G.711 companded (format tag 7 = mu-law, 6 = A-law; ITU-T G.711 1988) or
# IMA/DVI ADPCM nibbles (tag 0x11; IMA "Recommended Practices for
# Enhancing Digital Audio Compatibility", 1992). Both are exact integer
# transforms — no external codec needed — so the decode seam for WAV
# narrows to genuinely external formats (MP3/AAC-in-WAV).

_WAVE_FORMAT_PCM = 0x0001
_WAVE_FORMAT_MS_ADPCM = 0x0002
_WAVE_FORMAT_IEEE_FLOAT = 0x0003
_WAVE_FORMAT_ALAW = 0x0006
_WAVE_FORMAT_MULAW = 0x0007
_WAVE_FORMAT_IMA_ADPCM = 0x0011
_WAVE_FORMAT_MPEGLAYER3 = 0x0055


def _mpeg_audio_layer(stream: bytes) -> int:
    """Peek the first frame header's layer field (skipping ID3v2),
    returned in spec numbering: 1 = Layer I, 2 = Layer II,
    3 = Layer III (the header BITS are the reverse, 11/10/01)."""
    pos = 0
    if stream[:3] == b"ID3" and len(stream) >= 10:
        sz = ((stream[6] & 0x7F) << 21) | ((stream[7] & 0x7F) << 14) | (
            (stream[8] & 0x7F) << 7) | (stream[9] & 0x7F)
        pos = 10 + sz
    if pos + 2 > len(stream):
        raise ValueError("truncated MPEG audio stream")
    return 4 - ((stream[pos + 1] >> 1) & 0x3)  # layer bits 11/10/01


def _mp3_stream_meta(stream: bytes) -> dict:
    """Decode an MPEG-1 audio elementary stream to the uniform PCM-meta
    contract (full sample decode; int16 at full-scale 32768). Layer III
    routes through the entropy layer + IMDCT + polyphase chain, Layer I
    (round 16) through the subband requantizer + the same polyphase
    bank, Layer II (round 17) through the Table B.2/B.4 classed
    requantizer + that bank. Shared by the raw-stream,
    MP3-in-WAV (format tag 0x0055) and — via extract_avi_audio's WAV
    repack — MP3-in-AVI paths."""
    import numpy as np

    layer = _mpeg_audio_layer(stream)
    if layer == 1:
        dec = decode_mpeg1_layer1(stream)
    elif layer == 2:
        dec = decode_mpeg1_layer2(stream)
    else:
        dec = decode_mp3_to_pcm(stream)
    pcm = np.stack(
        [
            np.clip(np.rint(p * 32768.0), -32768, 32767)
            for p in dec["pcm_f"]
        ],
        axis=1,
    ).astype("<i2")
    return {
        "n_channels": dec["n_channels"],
        "sample_width": 2,
        "frame_rate": dec["sample_rate"],
        "n_frames": pcm.shape[0],
        "pcm": pcm.reshape(-1).tobytes(),
        "codec": {1: "mp1", 2: "mp2"}.get(layer, "mp3"),
    }


def encode_wav_mp3(
    mp3: bytes, frame_rate: int = 44100, n_frames: int | None = None,
    n_channels: int = 1,
) -> bytes:
    """Wrap an MP3 elementary stream in a WAV container (format tag
    0x0055, MPEGLAYER3WAVEFORMAT: WAVEFORMATEX + the 12-byte extension
    wID=MPEGLAYER3_ID_MPEG, fdwFlags=0, nBlockSize, nFramesPerBlock=1,
    nCodecDelay=0) plus the ``fact`` chunk non-PCM WAV requires.
    Container writer ONLY — the stream bytes are stored verbatim; the
    inverse is :func:`decode_media`'s 0x0055 arm."""
    import struct

    ext = struct.pack("<HIHHH", 1, 0, min(len(mp3), 0xFFFF), 1, 0)
    fmt = struct.pack(
        "<HHIIHHH", _WAVE_FORMAT_MPEGLAYER3, n_channels, frame_rate,
        0, 1, 0, len(ext),
    ) + ext

    def chunk(cid: bytes, body: bytes) -> bytes:
        return cid + struct.pack("<I", len(body)) + body + (
            b"\x00" if len(body) % 2 else b""
        )

    body = b"WAVE" + chunk(b"fmt ", fmt)
    if n_frames is not None:
        body += chunk(b"fact", struct.pack("<I", n_frames))
    body += chunk(b"data", mp3)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def encode_wav_codes(codes: bytes, fmt_tag: int, frame_rate: int = 8000) -> bytes:
    """Wrap raw 8-bit companded sample codes (one byte per frame, mono) in
    a WAV container with the given format tag (6 = A-law, 7 = mu-law).
    Container writer ONLY — the codes are stored verbatim; expansion to
    linear PCM is :func:`decode_media`'s job. Includes the ``fact`` chunk
    non-PCM WAV requires (RIFF/WAVE spec: dwSampleLength)."""
    import struct

    if fmt_tag not in (_WAVE_FORMAT_ALAW, _WAVE_FORMAT_MULAW):
        raise ValueError(f"encode_wav_codes writes G.711 tags 6/7, got {fmt_tag}")
    fmt = struct.pack("<HHIIHHH", fmt_tag, 1, frame_rate, frame_rate, 1, 8, 0)
    fact = struct.pack("<I", len(codes))
    body = b"WAVE"
    for cid, chunk in ((b"fmt ", fmt), (b"fact", fact), (b"data", codes)):
        body += cid + struct.pack("<I", len(chunk)) + chunk
        if len(chunk) % 2:
            body += b"\x00"
    return b"RIFF" + struct.pack("<I", len(body)) + body


def encode_wav_float(samples, frame_rate: int = 16000, width: int = 4,
                     n_channels: int = 1) -> bytes:
    """Encode channel-interleaved int16 samples as an IEEE float WAV
    (format tag 3, little-endian float32/float64) scaled by 1/32768 —
    the exact transform float AU uses, so the round-trip is bit-true.
    Includes the ``fact`` chunk non-PCM WAV requires."""
    import struct

    import numpy as np

    if width not in (4, 8):
        raise ValueError("float WAV width must be 4 or 8 bytes")
    s = np.asarray(samples, dtype=np.int16)
    if len(s) % n_channels:
        raise ValueError("samples not a whole number of frames")
    f = s.astype(np.float64) / 32768.0
    data = f.astype("<f4" if width == 4 else "<f8").tobytes()
    block = width * n_channels
    fmt = struct.pack(
        "<HHIIHHH", _WAVE_FORMAT_IEEE_FLOAT, n_channels, frame_rate,
        frame_rate * block, block, width * 8, 0,
    )
    fact = struct.pack("<I", len(s) // n_channels)
    body = b"WAVE"
    for cid, chunk in ((b"fmt ", fmt), (b"fact", fact), (b"data", data)):
        body += cid + struct.pack("<I", len(chunk)) + chunk
        if len(chunk) % 2:
            body += b"\x00"
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _g711_expand(codes, law: str):
    """Vectorized G.711 expansion of companded code bytes to linear int16
    (ITU-T G.711 Tables 1/2, the classic segment+mantissa arithmetic).
    Bit-exact against the reference expansion for all 256 codes — pinned
    by test against an independent implementation."""
    import numpy as np

    codes = np.asarray(codes, dtype=np.uint8)
    if law == "ulaw":
        u = (~codes) & 0xFF
        t = (((u & 0x0F) << 3) + 0x84).astype(np.int32) << ((u >> 4) & 0x07)
        return np.where(u & 0x80, 0x84 - t, t - 0x84).astype(np.int16)
    if law == "alaw":
        a = codes ^ 0x55
        t = ((a & 0x0F) << 4).astype(np.int32)
        seg = (a >> 4) & 0x07
        t = np.where(
            seg == 0,
            t + 8,
            np.where(seg == 1, t + 0x108, (t + 0x108) << np.maximum(seg - 1, 0)),
        )
        return np.where(a & 0x80, t, -t).astype(np.int16)
    raise ValueError(f"unknown G.711 law {law!r}")


# IMA ADPCM step-size and index-adjust tables (IMA 1992 recommended
# practice §6; the same tables every DVI/IMA implementation ships).
_IMA_STEPS = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
)
_IMA_INDEX_ADJ = (-1, -1, -1, -1, 2, 4, 6, 8)


def _ima_adpcm_decode_block(data: bytes, pred: int, index: int) -> list[int]:
    """Decode one mono IMA ADPCM nibble stream (low nibble first, WAV
    block convention) from an explicit (predictor, step index) state.
    Per-nibble Python with the standard bit-test difference expansion —
    fixture-scope budget, same stance as the JPEG huffman loop; megabyte
    production audio goes through the singleton codec seam (U2)."""
    out = []
    for byte in data:
        for n in (byte & 0x0F, byte >> 4):
            step = _IMA_STEPS[index]
            diff = step >> 3
            if n & 1:
                diff += step >> 2
            if n & 2:
                diff += step >> 1
            if n & 4:
                diff += step
            pred = pred - diff if n & 8 else pred + diff
            pred = max(-32768, min(32767, pred))
            index = max(0, min(88, index + _IMA_INDEX_ADJ[n & 0x07]))
            out.append(pred)
    return out


def _decode_ima_adpcm(
    data: bytes, block_align: int, n_frames: int | None,
    n_channels: int = 1,
) -> bytes:
    """IMA ADPCM 'data' chunk → interleaved int16 LE PCM bytes. Each
    block opens with a 4-byte header PER CHANNEL (int16 predictor —
    also that channel's FIRST output sample — uint8 step index,
    reserved); mono data then runs low-nibble-first, while stereo
    (round 17) interleaves 4-BYTE WORDS per channel — 8 samples of
    channel 0, 8 of channel 1, ... — per the IMA/Microsoft multi-channel
    layout. ``n_frames`` (the 'fact' chunk count) truncates the final
    block's tail padding when present."""
    import struct

    ch = n_channels
    if ch not in (1, 2):
        raise ValueError(f"IMA ADPCM supports mono/stereo, got {ch}ch")
    if block_align < (5 if ch == 1 else 16):
        raise ValueError(f"IMA ADPCM block align {block_align} too small")
    if ch == 2 and (block_align - 8) % 8:
        raise ValueError(
            "stereo IMA ADPCM data must be whole 4-byte channel words"
        )
    frames: list[int] = []  # interleaved
    for at in range(0, len(data) - len(data) % block_align, block_align):
        states = []
        for c in range(ch):
            pred, index, _rsvd = struct.unpack_from("<hBB", data, at + 4 * c)
            if index > 88:
                raise ValueError(
                    f"IMA ADPCM step index {index} out of range"
                )
            states.append((pred, index))
        frames.extend(p for p, _ in states)
        body = data[at + 4 * ch : at + block_align]
        if ch == 1:
            frames.extend(
                _ima_adpcm_decode_block(body, states[0][0], states[0][1])
            )
        else:
            cols = [[], []]
            st = list(states)
            for w0 in range(0, len(body), 8):
                for c in range(2):
                    word = body[w0 + 4 * c : w0 + 4 * c + 4]
                    out = _ima_adpcm_decode_block(word, *st[c])
                    # carry (pred, index) across words: re-derive index
                    # by replaying is wasteful, so track via the last
                    # sample + the block decoder's own state walk
                    cols[c].extend(out)
                    st[c] = (out[-1], _ima_index_after(word, st[c][1]))
            for k in range(len(cols[0])):
                frames.append(cols[0][k])
                frames.append(cols[1][k])
    if n_frames is not None:
        if n_frames * ch > len(frames):
            raise ValueError(
                f"IMA ADPCM fact count {n_frames} exceeds decoded "
                f"{len(frames) // ch}"
            )
        frames = frames[: n_frames * ch]
    import numpy as np

    return np.asarray(frames, dtype=np.int16).tobytes()


def _ima_index_after(data: bytes, index: int) -> int:
    """The IMA step index after consuming ``data``'s nibbles from
    ``index`` — state carry for the stereo word interleave."""
    for byte in data:
        for n in (byte & 0x0F, byte >> 4):
            index = max(0, min(88, index + _IMA_INDEX_ADJ[n & 0x07]))
    return index


def encode_ima_wav(
    samples, n_channels: int = 1, frames_per_block: int = 505,
    frame_rate: int = 8000, n_frames: int | None = None,
) -> bytes:
    """Encode interleaved int16 PCM as a REAL IMA-ADPCM WAV — the exact
    inverse of :func:`_decode_ima_adpcm`'s arm (mono low-nibble-first
    stream; stereo 4-byte channel-word interleave). Each block's header
    carries its first frame verbatim plus the carried step index, and
    the quantizer advances through the DECODER's own expansion so any
    conforming decoder reproduces the returned stream exactly. Frame
    count must be a multiple of ``frames_per_block``; the block's
    nibble payload must pack into whole bytes (mono) or whole 4-byte
    words (stereo): frames_per_block of the form 8k+1 works for both."""
    import struct

    import numpy as np

    ch = n_channels
    pcm = np.asarray(samples, dtype=np.int16).reshape(-1, ch)
    fpb = frames_per_block
    if (fpb - 1) % (2 if ch == 1 else 8):
        raise ValueError("frames_per_block must pack whole nibble words")
    if len(pcm) % fpb:
        raise ValueError("sample count must be a multiple of frames_per_block")
    block_align = 4 * ch + (fpb - 1) * ch // 2
    out = bytearray()
    index = [0] * ch
    for b0 in range(0, len(pcm), fpb):
        nib = [[] for _ in range(ch)]
        for c in range(ch):
            pred = int(pcm[b0, c])
            out += struct.pack("<hBB", pred, index[c], 0)
            for t in range(1, fpb):
                s = int(pcm[b0 + t, c])
                step = _IMA_STEPS[index[c]]
                diff = s - pred
                n = 0x08 if diff < 0 else 0
                diff = abs(diff)
                if diff >= step:
                    n |= 4
                    diff -= step
                if diff >= step >> 1:
                    n |= 2
                    diff -= step >> 1
                if diff >= step >> 2:
                    n |= 1
                d = step >> 3
                if n & 1:
                    d += step >> 2
                if n & 2:
                    d += step >> 1
                if n & 4:
                    d += step
                pred = pred - d if n & 8 else pred + d
                pred = max(-32768, min(32767, pred))
                index[c] = max(
                    0, min(88, index[c] + _IMA_INDEX_ADJ[n & 0x07])
                )
                nib[c].append(n)
        if ch == 1:
            out += bytes(
                nib[0][i] | (nib[0][i + 1] << 4)
                for i in range(0, len(nib[0]), 2)
            )
        else:
            for w0 in range(0, len(nib[0]), 8):
                for c in range(2):
                    grp = nib[c][w0 : w0 + 8]
                    out += bytes(
                        grp[i] | (grp[i + 1] << 4) for i in range(0, 8, 2)
                    )
    data = bytes(out)
    fmt = struct.pack(
        "<HHIIHHHH", _WAVE_FORMAT_IMA_ADPCM, ch, frame_rate,
        frame_rate * block_align // fpb, block_align, 4, 2, fpb,
    )
    fact = struct.pack("<I", n_frames if n_frames is not None
                       else len(pcm))
    body = (
        b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"fact" + struct.pack("<I", len(fact)) + fact
        + b"data" + struct.pack("<I", len(data)) + data
        + (b"\x00" if len(data) & 1 else b"")
    )
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body


# WAVE_FORMAT_EXTENSIBLE SubFormat GUIDs share one fixed tail after the
# 4-byte (little-endian) equivalent format tag:
# XXXXXXXX-0000-0010-8000-00aa00389b71 (KSDATAFORMAT media subtype).
_WAVE_FORMAT_EXTENSIBLE = 0xFFFE
_KS_SUBTYPE_TAIL = bytes.fromhex("000010008000" + "00aa00389b71")


def _parse_wav_chunks(payload: bytes) -> dict:
    """RIFF/WAVE chunk walk for the non-PCM formats stdlib ``wave``
    rejects: returns fmt fields + the raw data chunk + the 'fact' frame
    count (required by the spec for compressed formats).

    Round 17 extensions — the two forms modern writers emit:
    WAVE_FORMAT_EXTENSIBLE (0xFFFE) resolves ``tag`` to the SubFormat
    GUID's embedded equivalent tag (tail validated against the fixed
    KSDATAFORMAT suffix) and surfaces ``valid_bits`` / ``channel_mask``;
    RF64/BW64 (EBU 3306 — WAVs past the 4 GiB RIFF limit) reads the
    mandatory leading 'ds64' chunk and substitutes its 64-bit sizes
    wherever a 32-bit field carries the 0xFFFFFFFF sentinel."""
    import struct

    rf64 = payload[:4] in (b"RF64", b"BW64")
    if len(payload) < 12 or (
        payload[:4] != b"RIFF" and not rf64
    ) or payload[8:12] != b"WAVE":
        raise ValueError("not a WAV payload (missing RIFF/RF64 + WAVE magic)")
    fmt = None
    data = None
    fact_frames = None
    ds64 = None
    pos = 12
    first_chunk = True
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack_from("<I", payload, pos + 4)
        if rf64 and first_chunk:
            if cid != b"ds64":
                raise ValueError("RF64 must lead with the ds64 chunk")
            if size < 28:
                raise ValueError("ds64 chunk too small")
            riff_sz, data_sz, sample_cnt = struct.unpack_from(
                "<QQQ", payload, pos + 8
            )
            ds64 = {"riff": riff_sz, "data": data_sz, "samples": sample_cnt}
        first_chunk = False
        if cid == b"data" and size == 0xFFFFFFFF:
            if ds64 is None:
                raise ValueError(
                    "data size sentinel 0xFFFFFFFF without a ds64 chunk"
                )
            size = ds64["data"]
        body0, body1 = pos + 8, pos + 8 + size
        if body1 > len(payload):
            raise ValueError("truncated WAV: chunk extends past the payload")
        if cid == b"fmt ":
            if size < 16:
                raise ValueError(f"'fmt ' chunk too small ({size} bytes)")
            tag, ch, rate, _br, align, bits = struct.unpack_from(
                "<HHIIHH", payload, body0
            )
            fmt = {
                "tag": tag, "n_channels": ch, "frame_rate": rate,
                "block_align": align, "bits": bits,
                "valid_bits": None, "channel_mask": None,
            }
            if tag == _WAVE_FORMAT_EXTENSIBLE:
                if size < 40:
                    raise ValueError(
                        "WAVE_FORMAT_EXTENSIBLE fmt chunk must carry the "
                        "22-byte extension"
                    )
                vb, mask, sub = struct.unpack_from(
                    "<HII", payload, body0 + 18
                )
                if payload[body0 + 28 : body0 + 40] != _KS_SUBTYPE_TAIL:
                    raise ValueError(
                        "extensible SubFormat GUID tail is not the "
                        "KSDATAFORMAT subtype"
                    )
                if sub == _WAVE_FORMAT_EXTENSIBLE:
                    raise ValueError("extensible SubFormat cannot nest")
                fmt["tag"] = sub
                fmt["valid_bits"] = vb
                fmt["channel_mask"] = mask
        elif cid == b"fact" and size >= 4:
            (fact_frames,) = struct.unpack_from("<I", payload, body0)
            if fact_frames == 0xFFFFFFFF and ds64 is not None:
                fact_frames = ds64["samples"]
        elif cid == b"data":
            data = payload[body0:body1]
        pos = body1 + (size & 1)  # RIFF pads chunks to even offsets
    if fmt is None or data is None:
        raise ValueError("WAV payload missing 'fmt ' or 'data' chunk")
    fmt["fact_frames"] = fact_frames
    fmt["data"] = data
    fmt["rf64"] = rf64
    return fmt


# MS ADPCM (WAVE format tag 0x0002; "Microsoft ADPCM Algorithm", RIFF New
# Multimedia Data Types rev. 3.0, 1994 — the other ubiquitous WAV speech
# codec next to IMA). Two small spec tables, structurally certified at
# import like the IMA/G.72x/MP3 tables: the adaptation table is indexed
# by the UNSIGNED nibble, so it must be MIRROR-symmetric over nibble sign
# (ADAPT[16-k] == ADAPT[k], the signed magnitudes |n| and |-n| adapt
# equally) and monotone non-decreasing in magnitude across indices 0..8,
# dipping below the 256 fixed-point unit for small codes (step decay) and
# above it for large ones (growth); every 256-scaled predictor pair
# (a1, a2) must sit inside or on the AR(2) stability triangle
# (|a2| <= 256, a1 + a2 <= 256, a2 - a1 <= 256) and include the identity
# predictor (256, 0).
_MS_ADPCM_ADAPT = (
    230, 230, 230, 230, 307, 409, 512, 614,
    768, 614, 512, 409, 307, 230, 230, 230,
)
_MS_ADPCM_COEFS = (
    (256, 0), (512, -256), (0, 0), (192, 64),
    (240, 0), (460, -208), (392, -232),
)


def _ms_adpcm_check_tables() -> None:
    a = _MS_ADPCM_ADAPT
    if len(a) != 16 or len(_MS_ADPCM_COEFS) != 7:
        raise AssertionError("MS ADPCM table sizes")
    if any(a[16 - k] != a[k] for k in range(1, 8)):
        raise AssertionError("MS ADPCM adaptation table is not sign-mirror")
    if any(a[k + 1] < a[k] for k in range(8)):
        raise AssertionError("MS ADPCM adaptation not monotone in magnitude")
    if not (min(a) < 256 < max(a)):
        raise AssertionError("MS ADPCM adaptation must straddle unity")
    if (256, 0) not in _MS_ADPCM_COEFS:
        raise AssertionError("MS ADPCM identity predictor missing")
    for a1, a2 in _MS_ADPCM_COEFS:
        if abs(a2) > 256 or a1 + a2 > 256 or a2 - a1 > 256:
            raise AssertionError(
                f"MS ADPCM predictor ({a1},{a2}) outside the stability "
                "triangle"
            )


_ms_adpcm_check_tables()


def _div256_trunc(x: int) -> int:
    """C-style truncate-toward-zero division by 256 (the spec pseudo-code
    is C; Python's // floors, which differs for negative predictors)."""
    return x // 256 if x >= 0 else -((-x) // 256)


def _ms_adpcm_step(n: int, state: list) -> int:
    """Advance one MS ADPCM channel ``state`` ([samp1, samp2, delta,
    coef1, coef2]) by the unsigned nibble ``n``, returning the decoded
    sample. The EXACT shared arithmetic for decode and the encoder's
    tracked reconstruction: lPredSamp = (iSamp1*iCoef1 + iSamp2*iCoef2)
    / 256 (truncating), signed nibble scales iDelta, clamp to int16,
    then iDelta = max(16, ADAPT[n] * iDelta / 256)."""
    samp1, samp2, delta, c1, c2 = state
    pred = _div256_trunc(samp1 * c1 + samp2 * c2)
    signed = n - 16 if n & 8 else n
    samp = max(-32768, min(32767, pred + delta * signed))
    state[1] = samp1
    state[0] = samp
    state[2] = max(16, (_MS_ADPCM_ADAPT[n] * delta) >> 8)
    return samp


def _ms_adpcm_decode(
    data: bytes, block_align: int, n_channels: int, n_frames: int | None
) -> bytes:
    """MS ADPCM 'data' chunk → interleaved int16 LE PCM bytes. Block
    layout (per the 1994 spec): per channel a predictor index byte
    (0-6), then per channel int16 iDelta, iSamp1, iSamp2 (little
    endian); the two header samples are emitted OLDEST FIRST (iSamp2
    then iSamp1), then the nibble stream — high nibble first within a
    byte, nibbles rotating across channels per sample. ``n_frames``
    (the 'fact' count) truncates final-block padding."""
    import struct

    ch = n_channels
    if ch not in (1, 2):
        raise ValueError(f"MS ADPCM supports mono/stereo, got {ch}ch")
    if block_align < 7 * ch + ch:
        raise ValueError(f"MS ADPCM block align {block_align} too small")
    frames: list[int] = []  # interleaved
    for at in range(0, len(data) - len(data) % block_align, block_align):
        blk = data[at : at + block_align]
        states = []
        deltas = struct.unpack_from(f"<{ch}h", blk, ch)
        samp1 = struct.unpack_from(f"<{ch}h", blk, 3 * ch)
        samp2 = struct.unpack_from(f"<{ch}h", blk, 5 * ch)
        for c in range(ch):
            pidx = blk[c]
            if pidx >= len(_MS_ADPCM_COEFS):
                raise ValueError(f"MS ADPCM predictor index {pidx} > 6")
            c1, c2 = _MS_ADPCM_COEFS[pidx]
            states.append([samp1[c], samp2[c], deltas[c], c1, c2])
        frames.extend(samp2)
        frames.extend(samp1)
        pos = 0
        for byte in blk[7 * ch :]:
            for n in (byte >> 4, byte & 0x0F):
                frames.append(_ms_adpcm_step(n, states[pos % ch]))
                pos += 1
    if n_frames is not None:
        if n_frames * ch > len(frames):
            raise ValueError(
                f"MS ADPCM fact count {n_frames} exceeds decoded "
                f"{len(frames) // ch}"
            )
        frames = frames[: n_frames * ch]
    import numpy as np

    return np.asarray(frames, dtype=np.int16).tobytes()


def encode_ms_adpcm(
    samples, n_channels: int = 1, frames_per_block: int = 128,
    predictor: int | None = None,
):
    """Encode interleaved int16 PCM as REAL MS ADPCM blocks — the exact
    inverse of :func:`_ms_adpcm_decode`. Per block and channel the
    encoder runs greedy nearest-nibble quantization through the shared
    :func:`_ms_adpcm_step` state arithmetic; ``predictor`` pins one of
    the seven spec predictors (any is wire-valid — the header carries
    the index), while None trials all seven and keeps the
    least-squared-error one (7x the work; fixture cycles pin instead).
    iDelta seeds from the block's mean |second difference|. Returns
    ``(data, block_align, recon)`` with ``recon`` the encoder's
    internal reconstruction (int16 ndarray, interleaved) which the
    decoder must reproduce BIT-EXACTLY — the same backward-adaptation
    tracking contract as the G.72x gate. Frame count must be a
    multiple of ``frames_per_block``; mono nibble counts must be even
    (``frames_per_block`` even)."""
    import numpy as np
    import struct

    ch = n_channels
    pcm = np.asarray(samples, dtype=np.int16).reshape(-1, ch)
    fpb = frames_per_block
    if fpb < 4 or (fpb - 2) * ch % 2:
        raise ValueError("frames_per_block must give whole nibble bytes")
    if len(pcm) % fpb:
        raise ValueError("sample count must be a multiple of frames_per_block")
    if predictor is not None and not 0 <= predictor <= 6:
        raise ValueError("MS ADPCM predictor index is 0-6")
    block_align = 7 * ch + (fpb - 2) * ch // 2
    out = bytearray()
    recon = np.empty_like(pcm)
    for b0 in range(0, len(pcm), fpb):
        blk = pcm[b0 : b0 + fpb]
        trials = (
            range(7) if predictor is None else (predictor,)
        )
        best = None  # (err, pidx, delta, nibbles, rec)
        for c in range(ch):
            col = blk[:, c].astype(np.int64)
            d2 = np.abs(np.diff(col, 2)) if len(col) > 2 else np.array([16])
            delta0 = int(max(16, min(32000, int(d2.mean()) // 4)))
            for pidx in trials:
                c1, c2 = _MS_ADPCM_COEFS[pidx]
                state = [int(col[1]), int(col[0]), delta0, c1, c2]
                nibbles = []
                rec = [int(col[0]), int(col[1])]
                err = 0
                for s in col[2:]:
                    samp1, samp2, delta = state[0], state[1], state[2]
                    pred = _div256_trunc(samp1 * c1 + samp2 * c2)
                    q = int(round((int(s) - pred) / delta))
                    q = max(-8, min(7, q))
                    n = q & 0x0F
                    got = _ms_adpcm_step(n, state)
                    nibbles.append(n)
                    rec.append(got)
                    err += (got - int(s)) ** 2
                if best is None or err < best[0]:
                    best = (err, pidx, delta0, nibbles, rec)
            if c == 0:
                chosen = [best]
                best = None
            else:
                chosen.append(best)
        if ch == 1:
            chosen = chosen[:1]
        hdr = bytes(p[1] for p in chosen)
        hdr += struct.pack(f"<{ch}h", *(p[2] for p in chosen))
        hdr += struct.pack(f"<{ch}h", *(int(blk[1, c]) for c in range(ch)))
        hdr += struct.pack(f"<{ch}h", *(int(blk[0, c]) for c in range(ch)))
        nib = []
        for i in range(fpb - 2):
            for c in range(ch):
                nib.append(chosen[c][3][i])
        body = bytes(
            (nib[i] << 4) | nib[i + 1] for i in range(0, len(nib), 2)
        )
        out += hdr + body
        for c in range(ch):
            recon[b0 : b0 + fpb, c] = np.asarray(chosen[c][4], np.int16)
    return bytes(out), block_align, recon.reshape(-1)


def encode_wav_ms_adpcm(
    data: bytes, block_align: int, n_channels: int, frame_rate: int,
    n_frames: int, frames_per_block: int,
) -> bytes:
    """Wrap MS ADPCM blocks in a spec-complete WAV: WAVEFORMATEX with
    cbSize 32 (wSamplesPerBlock, wNumCoef = 7, the seven aCoef pairs —
    required by the 1994 spec even though they are fixed) plus the
    mandatory 'fact' chunk."""
    import struct

    fmt = struct.pack(
        "<HHIIHHHHH",
        _WAVE_FORMAT_MS_ADPCM, n_channels, frame_rate,
        frame_rate * block_align // frames_per_block, block_align, 4,
        32, frames_per_block, len(_MS_ADPCM_COEFS),
    )
    for c1, c2 in _MS_ADPCM_COEFS:
        fmt += struct.pack("<hh", c1, c2)
    fact = struct.pack("<I", n_frames)
    body = (
        b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"fact" + struct.pack("<I", len(fact)) + fact
        + b"data" + struct.pack("<I", len(data)) + data
        + (b"\x00" if len(data) & 1 else b"")
    )
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body


def encode_wav_extensible(
    data: bytes, sub_tag: int, n_channels: int, frame_rate: int,
    bits: int, valid_bits: int | None = None, channel_mask: int = 0,
    n_frames: int | None = None, rf64: bool = False,
) -> bytes:
    """Wrap raw sample bytes in a WAVE_FORMAT_EXTENSIBLE container
    (fmt chunk with the 22-byte extension: wValidBitsPerSample,
    dwChannelMask, SubFormat GUID = little-endian ``sub_tag`` + the
    fixed KSDATAFORMAT tail) — and, with ``rf64``, in an RF64 container
    (EBU 3306): 'RF64' magic, 0xFFFFFFFF RIFF/data size sentinels, the
    mandatory leading ds64 chunk carrying the real 64-bit sizes. The
    inverse of :func:`_parse_wav_chunks`' round-17 extensions."""
    import struct

    align = max(1, (bits // 8) * n_channels)
    fmt = struct.pack(
        "<HHIIHHHHI",
        _WAVE_FORMAT_EXTENSIBLE, n_channels, frame_rate,
        frame_rate * align, align, bits, 22,
        valid_bits if valid_bits is not None else bits, channel_mask,
    ) + sub_tag.to_bytes(4, "little") + _KS_SUBTYPE_TAIL
    body = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    if n_frames is not None:
        body += b"fact" + struct.pack(
            "<I", 4
        ) + struct.pack("<I", 0xFFFFFFFF if rf64 else n_frames)
    data_size = 0xFFFFFFFF if rf64 else len(data)
    body += b"data" + struct.pack("<I", data_size) + data
    if len(data) & 1:
        body += b"\x00"
    if rf64:
        ds64 = struct.pack(
            "<QQQI", 0, len(data), n_frames or 0, 0
        )
        body = b"ds64" + struct.pack("<I", len(ds64)) + ds64 + body
        out = b"RF64" + struct.pack("<I", 0xFFFFFFFF) + b"WAVE" + body
        # ds64's riffSize field: total file bytes minus the 8-byte
        # RF64 header, patched now that the layout is final
        out = bytearray(out)
        struct.pack_into("<Q", out, 20, len(out) - 8)
        return bytes(out)
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body


# --- AIFF / AIFF-C (round 17) ------------------------------------------------
#
# Apple's interchange format (AIFF-1.3 1989; AIFF-C draft 1991) is the
# big-endian sibling of RIFF/WAVE and the default container of classic
# Mac/pro-audio corpora. Everything here is algorithmic: IFF chunk walk,
# the 80-bit IEEE 754 extended-precision sample rate, and compression
# types that map onto codecs this module already ships (G.711 both laws,
# IMA — Apple's 'ima4' framing differs from WAV's but shares the IMA
# step tables — IEEE floats, byte-order swaps). No new spec tables.


def _f80_decode(b: bytes) -> float:
    """80-bit IEEE 754 extended-precision float (sign 1, exponent 15,
    EXPLICIT-integer-bit mantissa 64) — the AIFF COMM sampleRate type."""
    if len(b) != 10:
        raise ValueError("extended float must be 10 bytes")
    se = int.from_bytes(b[:2], "big")
    mant = int.from_bytes(b[2:], "big")
    sign = -1.0 if se & 0x8000 else 1.0
    exp = se & 0x7FFF
    if exp == 0 and mant == 0:
        return 0.0
    if exp == 0x7FFF:
        raise ValueError("non-finite AIFF sample rate")
    return sign * mant * 2.0 ** (exp - 16383 - 63)


def _f80_encode(rate: int) -> bytes:
    """Encode a positive integer sample rate as the 80-bit extended float
    (exact — 64 mantissa bits dwarf any audio rate)."""
    if rate <= 0:
        raise ValueError("sample rate must be positive")
    e = rate.bit_length() - 1
    mant = rate << (63 - e)
    return (16383 + e).to_bytes(2, "big") + mant.to_bytes(8, "big")


def _ima4_decode(data: bytes, n_channels: int, n_frames: int) -> bytes:
    """Apple 'ima4' AIFF-C compression → interleaved int16 LE PCM. Each
    34-byte block (per channel, channel blocks alternating) is a 2-byte
    big-endian preamble — the current predictor's top 9 bits OR'd with
    the 7-bit step index — then 32 bytes of 64 nibbles, LOW nibble
    first, expanded with the shared IMA tables
    (:func:`_ima_adpcm_decode_block`). Unlike WAV IMA, the preamble
    restates state (random-access seek support) and is NOT itself an
    output sample: every block yields exactly 64 frames."""
    import numpy as np

    ch = n_channels
    if len(data) % (34 * ch):
        raise ValueError("ima4 data is not whole 34-byte channel blocks")
    n_blocks = len(data) // (34 * ch)
    if n_frames > n_blocks * 64:
        raise ValueError(
            f"ima4 COMM frame count {n_frames} exceeds {n_blocks * 64}"
        )
    chans = [[] for _ in range(ch)]
    for blk in range(n_blocks):
        for c in range(ch):
            at = (blk * ch + c) * 34
            pre = int.from_bytes(data[at : at + 2], "big")
            pred = pre & 0xFF80
            if pred & 0x8000:
                pred -= 0x10000  # sign-extend the 9 predictor bits
            index = pre & 0x7F
            if index > 88:
                raise ValueError(f"ima4 step index {index} out of range")
            chans[c].extend(
                _ima_adpcm_decode_block(data[at + 2 : at + 34], pred, index)
            )
    out = np.empty((n_frames, ch), dtype=np.int16)
    for c in range(ch):
        out[:, c] = np.asarray(chans[c][:n_frames], dtype=np.int16)
    return out.reshape(-1).tobytes()


def encode_ima4(samples, n_channels: int = 1):
    """Encode interleaved int16 PCM as Apple 'ima4' blocks — the exact
    inverse of :func:`_ima4_decode`. Per-channel state (predictor, step
    index) carries ACROSS blocks; each block's preamble restates it.
    The classic IMA quantizer picks each nibble, and the state advances
    through the DECODER's expansion so the returned ``recon``
    (interleaved int16 ndarray) is what any conforming decoder emits —
    the tracking contract. Frame count must be a multiple of 64."""
    import numpy as np

    ch = n_channels
    pcm = np.asarray(samples, dtype=np.int16).reshape(-1, ch)
    if len(pcm) % 64:
        raise ValueError("ima4 frame count must be a multiple of 64")
    state = [[0, 0] for _ in range(ch)]  # per channel [pred, index]
    out = bytearray()
    recon = np.empty_like(pcm)
    for b0 in range(0, len(pcm), 64):
        for c in range(ch):
            pred, index = state[c]
            pre = ((pred & 0xFFFF) & 0xFF80) | index
            out += pre.to_bytes(2, "big")
            # the decoder seeds from the restated preamble — the top 9
            # predictor bits only — so advance OUR state from the same
            # quantized seed, keeping encode tracking bit-exact
            seed = pre & 0xFF80
            if seed & 0x8000:
                seed -= 0x10000
            pred = seed
            nibbles = []
            for t in range(64):
                s = int(pcm[b0 + t, c])
                step = _IMA_STEPS[index]
                diff = s - pred
                n = 0x08 if diff < 0 else 0
                diff = abs(diff)
                if diff >= step:
                    n |= 4
                    diff -= step
                if diff >= step >> 1:
                    n |= 2
                    diff -= step >> 1
                if diff >= step >> 2:
                    n |= 1
                # advance via the DECODER expansion (bit-test form)
                d = step >> 3
                if n & 1:
                    d += step >> 2
                if n & 2:
                    d += step >> 1
                if n & 4:
                    d += step
                pred = pred - d if n & 8 else pred + d
                pred = max(-32768, min(32767, pred))
                index = max(0, min(88, index + _IMA_INDEX_ADJ[n & 0x07]))
                nibbles.append(n)
                recon[b0 + t, c] = pred
            out += bytes(
                nibbles[i] | (nibbles[i + 1] << 4)
                for i in range(0, 64, 2)
            )
            state[c] = [pred, index]
    return bytes(out), recon.reshape(-1)


_AIFC_NONE = (b"NONE",)
_AIFC_SOWT = (b"sowt",)
_AIFC_FL32 = (b"fl32", b"FL32")
_AIFC_FL64 = (b"fl64", b"FL64")
_AIFC_ULAW = (b"ulaw", b"ULAW")
_AIFC_ALAW = (b"alaw", b"ALAW")
_AIFC_IMA4 = (b"ima4",)


def _decode_aiff(payload: bytes) -> dict:
    """FORM AIFF / AIFC → the uniform PCM contract. Big-endian IFF chunk
    walk (even padding); COMM gives channels / numSampleFrames /
    sampleSize / 80-bit-extended sampleRate (+ AIFC compression type);
    SSND carries offset / blockSize then data. Compression coverage:
    NONE (big-endian PCM 8/16/24/32 — 8-bit AIFF is SIGNED and is
    shifted to the WAV unsigned convention so the same audio in either
    container hashes to the same content key), sowt (little-endian 16),
    fl32/fl64 (same nominal-[-1,1) float transform as float WAV/AU),
    ulaw/alaw (shared G.711 expanders), ima4 (:func:`_ima4_decode`).
    Anything else (e.g. 'GSM ', 'MAC3') raises the named external-codec
    seam."""
    import struct

    import numpy as np

    if len(payload) < 12 or payload[:4] != b"FORM":
        raise ValueError("not an AIFF payload (missing FORM magic)")
    form = payload[8:12]
    if form not in (b"AIFF", b"AIFC"):
        raise ValueError(f"FORM type {form!r} is not AIFF/AIFC")
    comm = None
    comp = b"NONE"
    ssnd = None
    pos = 12
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack_from(">I", payload, pos + 4)
        body0, body1 = pos + 8, pos + 8 + size
        if body1 > len(payload):
            raise ValueError("truncated AIFF: chunk extends past payload")
        if cid == b"COMM":
            if size < 18:
                raise ValueError(f"COMM chunk too small ({size} bytes)")
            ch, nframes, bits = struct.unpack_from(">HIH", payload, body0)
            rate = _f80_decode(payload[body0 + 8 : body0 + 18])
            if form == b"AIFC":
                if size < 22:
                    raise ValueError("AIFC COMM missing compression type")
                comp = payload[body0 + 18 : body0 + 22]
            comm = (ch, nframes, bits, rate)
        elif cid == b"SSND":
            if size < 8:
                raise ValueError("SSND chunk too small")
            off, _blk = struct.unpack_from(">II", payload, body0)
            ssnd = payload[body0 + 8 + off : body1]
        pos = body1 + (size & 1)
    if comm is None or ssnd is None:
        raise ValueError("AIFF payload missing COMM or SSND chunk")
    ch, nframes, bits, rate = comm
    if ch < 1 or rate <= 0:
        raise ValueError("AIFF COMM channels/rate invalid")
    irate = int(round(rate))
    if comp in _AIFC_NONE:
        width = (bits + 7) // 8
        if width not in (1, 2, 3, 4):
            raise ValueError(f"AIFF PCM sample size {bits} unsupported")
        need = nframes * ch * width
        if len(ssnd) < need:
            raise ValueError("AIFF SSND shorter than COMM frame count")
        raw = ssnd[:need]
        if width == 1:
            pcm = (
                np.frombuffer(raw, np.int8).astype(np.int16) + 128
            ).astype(np.uint8).tobytes()
        else:
            pcm = (
                np.frombuffer(raw, f">i{width}").astype(f"<i{width}").tobytes()
                if width in (2, 4)
                else _swap24(raw)
            )
        return {
            "n_channels": ch, "sample_width": width, "frame_rate": irate,
            "n_frames": nframes, "pcm": pcm,
            "codec": f"pcm_s{bits}be" if width > 1 else "pcm_s8",
        }
    if comp in _AIFC_SOWT:
        need = nframes * ch * 2
        if len(ssnd) < need:
            raise ValueError("AIFF SSND shorter than COMM frame count")
        return {
            "n_channels": ch, "sample_width": 2, "frame_rate": irate,
            "n_frames": nframes, "pcm": ssnd[:need], "codec": "pcm_s16le",
        }
    if comp in _AIFC_FL32 + _AIFC_FL64:
        width = 4 if comp in _AIFC_FL32 else 8
        need = nframes * ch * width
        if len(ssnd) < need:
            raise ValueError("AIFF SSND shorter than COMM frame count")
        f = np.frombuffer(ssnd[:need], f">f{width}").astype(np.float64)
        if not np.isfinite(f).all():
            raise ValueError("non-finite AIFF float sample")
        scaled = f * 32768.0
        pcm = np.clip(
            np.sign(scaled) * np.floor(np.abs(scaled) + 0.5), -32768, 32767
        ).astype(np.int16)
        return {
            "n_channels": ch, "sample_width": 2, "frame_rate": irate,
            "n_frames": nframes, "pcm": pcm.tobytes(),
            "codec": f"pcm_f{width * 8}be",
        }
    if comp in _AIFC_ULAW + _AIFC_ALAW:
        law = "ulaw" if comp in _AIFC_ULAW else "alaw"
        need = nframes * ch
        if len(ssnd) < need:
            raise ValueError("AIFF SSND shorter than COMM frame count")
        pcm = _g711_expand(np.frombuffer(ssnd[:need], np.uint8), law)
        return {
            "n_channels": ch, "sample_width": 2, "frame_rate": irate,
            "n_frames": nframes, "pcm": pcm.tobytes(), "codec": law,
        }
    if comp in _AIFC_IMA4:
        return {
            "n_channels": ch, "sample_width": 2, "frame_rate": irate,
            "n_frames": nframes,
            "pcm": _ima4_decode(ssnd, ch, nframes), "codec": "ima4",
        }
    raise NotImplementedError(
        f"AIFF-C compression {comp!r} requires external media libraries "
        "(SURVEY §2.10 U1/U2); NONE/sowt/fl32/fl64/ulaw/alaw/ima4 decode"
    )


def _swap24(raw: bytes) -> bytes:
    """Byte-swap packed 24-bit big-endian samples to little-endian."""
    import numpy as np

    a = np.frombuffer(raw, np.uint8).reshape(-1, 3)
    return a[:, ::-1].tobytes()


def encode_aiff(
    samples, frame_rate: int, comp: bytes = b"NONE",
    n_channels: int = 1, width: int = 2,
) -> bytes:
    """Assemble a REAL AIFF (NONE) or AIFF-C (anything else) file — the
    exact inverse of :func:`_decode_aiff`. ``samples`` is interleaved
    int16 PCM; NONE width 1 writes signed 8-bit (top byte), width 2 the
    big-endian int16; fl32/fl64 write the exact float forms (int16 /
    32768 is exactly representable in binary32); ulaw/alaw compress via
    the shared G.711 kernels; ima4 via :func:`encode_ima4`. AIFC
    compression-name pstrings are written empty (length 0 + pad)."""
    import struct

    import numpy as np

    pcm = np.asarray(samples, dtype=np.int16)
    ch = n_channels
    if len(pcm) % ch:
        raise ValueError("sample count not a whole number of frames")
    nframes = len(pcm) // ch
    if comp in _AIFC_NONE:
        if width == 1:
            data = (pcm.astype(np.int16) >> 8).astype(np.int8).tobytes()
            bits = 8
        elif width == 2:
            data = pcm.astype(">i2").tobytes()
            bits = 16
        else:
            raise ValueError("encode_aiff NONE widths: 1/2")
    elif comp in _AIFC_SOWT:
        data, bits = pcm.astype("<i2").tobytes(), 16
    elif comp in _AIFC_FL32:
        data = (pcm.astype(np.float32) / np.float32(32768.0)).astype(
            ">f4"
        ).tobytes()
        bits = 32
    elif comp in _AIFC_FL64:
        data = (pcm.astype(np.float64) / 32768.0).astype(">f8").tobytes()
        bits = 64
    elif comp in _AIFC_ULAW + _AIFC_ALAW:
        law = "ulaw" if comp in _AIFC_ULAW else "alaw"
        data, bits = _g711_compress(pcm, law).tobytes(), 16
    elif comp in _AIFC_IMA4:
        data, _ = encode_ima4(pcm, n_channels=ch)
        bits = 16
    else:
        raise ValueError(f"encode_aiff compression {comp!r} unsupported")
    form = b"AIFF" if comp in _AIFC_NONE else b"AIFC"
    commbody = struct.pack(">HIH", ch, nframes, bits) + _f80_encode(
        frame_rate
    )
    if form == b"AIFC":
        commbody += comp + b"\x00\x00"  # empty pstring, even-padded
    comm = b"COMM" + struct.pack(">I", len(commbody)) + commbody
    ssndbody = struct.pack(">II", 0, 0) + data
    ssnd = b"SSND" + struct.pack(">I", len(ssndbody)) + ssndbody
    if len(ssndbody) & 1:
        ssnd += b"\x00"
    body = form + comm + ssnd
    return b"FORM" + struct.pack(">I", len(body)) + body


# --- CAF (round 17) -----------------------------------------------------------
#
# Apple's Core Audio Format ("caff") — the modern macOS/iOS sibling of
# AIFF, unbounded sizes via signed-64-bit chunk lengths. The audio
# description chunk names codecs this module already ships (lpcm in
# every width/endianness/float combination, ulaw, alaw, ima4), so the
# container closes with pure chunk-walk code.


def _decode_caf(payload: bytes) -> dict:
    """CAF decode → the uniform PCM contract. Chunk walk ('desc' must
    precede 'data'; a -1 data size means to-end-of-file, the streaming
    form); 'desc' carries a float64 big-endian sample rate, the codec
    4CC, lpcm flags (bit 0 float, bit 1 little-endian), and the packet
    geometry that sizes the decode. Codecs: lpcm (8/16/24/32-bit int,
    float32/64, both endiannesses), ulaw/alaw (shared G.711 expanders),
    ima4 (:func:`_ima4_decode` — CAF uses the same 34-byte blocks as
    AIFF-C). Anything else (e.g. 'aac ') raises the named seam."""
    import struct

    import numpy as np

    if len(payload) < 8 or payload[:4] != b"caff":
        raise ValueError("not a CAF payload (missing caff magic)")
    ver, _flags = struct.unpack_from(">HH", payload, 4)
    if ver != 1:
        raise ValueError(f"CAF version {ver} != 1")
    desc = None
    data = None
    pos = 8
    while pos + 12 <= len(payload):
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack_from(">q", payload, pos + 4)
        body0 = pos + 12
        if size == -1:
            if cid != b"data":
                raise ValueError("only the CAF data chunk may be unsized")
            size = len(payload) - body0
        if size < 0 or body0 + size > len(payload):
            raise ValueError("truncated CAF: chunk extends past payload")
        if cid == b"desc":
            if size < 32:
                raise ValueError("CAF desc chunk must be 32 bytes")
            rate, fmt, flags, bpp, fpp, ch, bits = struct.unpack_from(
                ">d4sIIIII", payload, body0
            )
            desc = (rate, fmt, flags, bpp, fpp, ch, bits)
        elif cid == b"data":
            if size < 4:
                raise ValueError("CAF data chunk missing the edit count")
            data = payload[body0 + 4 : body0 + size]
        pos = body0 + size
    if desc is None or data is None:
        raise ValueError("CAF payload missing desc or data chunk")
    rate, fmt, flags, bpp, fpp, ch, bits = desc
    if rate <= 0 or ch < 1:
        raise ValueError("CAF desc rate/channels invalid")
    irate = int(round(rate))
    if fmt == b"lpcm":
        is_float = bool(flags & 0x1)
        little = bool(flags & 0x2)
        width = bits // 8
        if is_float and width not in (4, 8):
            raise ValueError("CAF float lpcm must be 32- or 64-bit")
        if not is_float and width not in (1, 2, 3, 4):
            raise ValueError(f"CAF lpcm bit depth {bits} unsupported")
        if bpp != width * ch or fpp != 1:
            raise ValueError("CAF lpcm packet geometry disagrees with desc")
        nframes = len(data) // bpp
        raw = data[: nframes * bpp]
        e = "<" if little else ">"
        if is_float:
            f = np.frombuffer(raw, f"{e}f{width}").astype(np.float64)
            if not np.isfinite(f).all():
                raise ValueError("non-finite CAF float sample")
            scaled = f * 32768.0
            pcm = np.clip(
                np.sign(scaled) * np.floor(np.abs(scaled) + 0.5),
                -32768, 32767,
            ).astype(np.int16).tobytes()
            width_out = 2
            codec = f"pcm_f{bits}{'le' if little else 'be'}"
        elif width == 1:
            pcm = (
                np.frombuffer(raw, np.int8).astype(np.int16) + 128
            ).astype(np.uint8).tobytes()
            width_out = 1
            codec = "pcm_s8"
        else:
            pcm = (
                raw if little
                else (
                    np.frombuffer(raw, f">i{width}").astype(
                        f"<i{width}"
                    ).tobytes()
                    if width in (2, 4) else _swap24(raw)
                )
            )
            width_out = width
            codec = f"pcm_s{bits}{'le' if little else 'be'}"
        return {
            "n_channels": ch, "sample_width": width_out,
            "frame_rate": irate, "n_frames": nframes, "pcm": pcm,
            "codec": codec,
        }
    if fmt in (b"ulaw", b"alaw"):
        law = fmt.decode()
        nframes = len(data) // ch
        pcm = _g711_expand(
            np.frombuffer(data[: nframes * ch], np.uint8), law
        )
        return {
            "n_channels": ch, "sample_width": 2, "frame_rate": irate,
            "n_frames": nframes, "pcm": pcm.tobytes(), "codec": law,
        }
    if fmt == b"ima4":
        if bpp != 34 * ch or fpp != 64:
            raise ValueError("CAF ima4 packet geometry must be 34B/64")
        nframes = len(data) // bpp * fpp
        return {
            "n_channels": ch, "sample_width": 2, "frame_rate": irate,
            "n_frames": nframes,
            "pcm": _ima4_decode(data[: nframes // 64 * bpp], ch, nframes),
            "codec": "ima4",
        }
    raise NotImplementedError(
        f"CAF format {fmt!r} requires external media libraries (SURVEY "
        "§2.10 U1/U2); lpcm/ulaw/alaw/ima4 decode"
    )


def encode_caf(
    samples, frame_rate: int, fmt: bytes = b"lpcm",
    n_channels: int = 1, width: int = 2, little: bool = False,
    is_float: bool = False, unsized_data: bool = False,
) -> bytes:
    """Assemble a REAL CAF file — the exact inverse of
    :func:`_decode_caf`. ``samples`` is interleaved int16 PCM; lpcm
    writes it at ``width``/``little``/``is_float`` (floats are exact:
    int16/32768 fits binary32), ulaw/alaw compress via the shared
    G.711 kernels, ima4 via :func:`encode_ima4`. ``unsized_data``
    writes the streaming-form data chunk (size -1, to end of file)."""
    import struct

    import numpy as np

    pcm = np.asarray(samples, dtype=np.int16)
    ch = n_channels
    if len(pcm) % ch:
        raise ValueError("sample count not a whole number of frames")
    if fmt == b"lpcm":
        flags = (0x1 if is_float else 0) | (0x2 if little else 0)
        e = "<" if little else ">"
        if is_float:
            data = (
                pcm.astype(np.float64) / 65536.0 * 2.0
            ).astype(f"{e}f{width}").tobytes() if width == 8 else (
                pcm.astype(np.float32) / np.float32(32768.0)
            ).astype(f"{e}f4").tobytes()
            bits = width * 8
        elif width == 1:
            data = (pcm >> 8).astype(np.int8).tobytes()
            bits = 8
        else:
            data = pcm.astype(f"{e}i2").tobytes()
            bits = 16
        bpp, fpp = (bits // 8) * ch, 1
    elif fmt in (b"ulaw", b"alaw"):
        data = _g711_compress(pcm, fmt.decode()).tobytes()
        flags, bits, bpp, fpp = 0, 8, ch, 1
    elif fmt == b"ima4":
        data, _ = encode_ima4(pcm, n_channels=ch)
        flags, bits, bpp, fpp = 0, 16, 34 * ch, 64
    else:
        raise ValueError(f"encode_caf format {fmt!r} unsupported")
    desc = struct.pack(
        ">d4sIIIII", float(frame_rate), fmt, flags, bpp, fpp, ch, bits
    )
    out = b"caff" + struct.pack(">HH", 1, 0)
    out += b"desc" + struct.pack(">q", len(desc)) + desc
    dsize = -1 if unsized_data else 4 + len(data)
    out += b"data" + struct.pack(">q", dsize) + struct.pack(">I", 0) + data
    return out


# JPEG zig-zag scan order (ITU-T T.81 Figure 5): index i of the entropy
# stream maps to _JPEG_ZIGZAG[i] in row-major 8x8 block order.
_JPEG_ZIGZAG = [
    0,  1,  8, 16,  9,  2,  3, 10, 17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

_JPEG_ZIGZAG_NP = None


def _jpeg_zigzag_np():
    """The zigzag table as a cached numpy index array — one fancy-index
    gathers a block's 64 coefficients in zigzag order (round 17; the
    per-coefficient reshape/index loop was a top encode hotspot)."""
    import numpy as np

    global _JPEG_ZIGZAG_NP
    if _JPEG_ZIGZAG_NP is None:
        _JPEG_ZIGZAG_NP = np.asarray(_JPEG_ZIGZAG)
    return _JPEG_ZIGZAG_NP


def _jpeg_huff_table(bits: list[int], vals: bytes) -> dict:
    """Canonical huffman table from a DHT segment's BITS/HUFFVAL arrays
    (T.81 Annex C): {(code_length, code): symbol}. Key ``-1`` (round 17)
    holds a 256-entry peek-8 LUT — ``lut[next8bits]`` is
    ``(length << 8) | symbol`` for codes of ≤ 8 bits, -1 otherwise —
    the fast path of :func:`_jpeg_decode_sym`; integer keys never
    collide with the (length, code) tuple keys."""
    table = {}
    lut = [-1] * 256
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = vals[k]
            if length <= 8:
                lo = code << (8 - length)
                lut[lo : lo + (1 << (8 - length))] = [
                    (length << 8) | vals[k]
                ] * (1 << (8 - length))
            code += 1
            k += 1
        code <<= 1
    table[-1] = lut
    return table


class _JpegBitReader:
    """MSB-first bit reader over a JPEG entropy-coded segment: 0xFF00
    byte-stuffing removed on the fly, RSTn markers surfaced to the caller
    via :meth:`restart`, any other marker mid-scan is an error."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.cur = 0
        self.nbits = 0

    def _pull(self) -> None:
        """Append the next entropy byte to the bit buffer (legacy error
        contract: hard errors on EOF, dangling 0xFF, or a marker)."""
        if self.pos >= len(self.data):
            raise ValueError("truncated JPEG entropy stream")
        b = self.data[self.pos]
        self.pos += 1
        if b == 0xFF:
            if self.pos >= len(self.data):
                raise ValueError(
                    "truncated JPEG entropy stream (dangling 0xFF)"
                )
            nxt = self.data[self.pos]
            if nxt == 0x00:
                self.pos += 1  # stuffed 0xFF data byte
            else:
                raise ValueError(
                    f"unexpected marker 0xFF{nxt:02X} inside entropy data"
                )
        self.cur = ((self.cur << 8) | b) & 0xFFFFFFFF
        self.nbits += 8

    def _try_pull(self) -> bool:
        """Opportunistic pull for peeks: a marker, dangling 0xFF or EOF
        is a soft stop (False) — the consuming read reproduces the
        legacy error if those bits are actually needed. Only data bytes
        are ever consumed, so restart alignment is unchanged."""
        pos = self.pos
        data = self.data
        if pos >= len(data):
            return False
        b = data[pos]
        if b == 0xFF:
            if pos + 1 >= len(data) or data[pos + 1] != 0x00:
                return False
            self.pos = pos + 2
        else:
            self.pos = pos + 1
        self.cur = ((self.cur << 8) | b) & 0xFFFFFFFF
        self.nbits += 8
        return True

    def bit(self) -> int:
        if self.nbits == 0:
            self._pull()
        self.nbits -= 1
        return (self.cur >> self.nbits) & 1

    def receive(self, n: int) -> int:
        while self.nbits < n:
            self._pull()
        self.nbits -= n
        return (self.cur >> self.nbits) & ((1 << n) - 1)

    def restart(self, idx: int) -> None:
        """Byte-align and consume the expected RSTn marker (T.81 §E.2.4)."""
        self.nbits = 0
        if (
            self.pos + 2 > len(self.data)
            or self.data[self.pos] != 0xFF
            or self.data[self.pos + 1] != 0xD0 + (idx % 8)
        ):
            raise ValueError(f"missing RST{idx % 8} restart marker")
        self.pos += 2


def _jpeg_unpack(fmt: str, body: bytes, off: int, seg: str):
    """struct.unpack_from with the malformed-payload ValueError contract:
    a header segment too short for its declared layout must surface like
    every other bad-bytes path, never as a bare struct.error."""
    import struct

    try:
        return struct.unpack_from(fmt, body, off)
    except struct.error as e:
        raise ValueError(f"truncated JPEG {seg} segment: {e}") from e


def _jpeg_decode_sym(r: _JpegBitReader, table: dict) -> int:
    # fast path (round 17): peek 8 bits, resolve ≤8-bit codes with one
    # LUT hit; opportunistic pulls soft-stop at markers/EOF so segment
    # boundaries fall through to the legacy per-bit walk (same errors)
    lut = table.get(-1)
    while lut is not None and r.nbits < 8:
        if not r._try_pull():
            break
    if lut is not None and r.nbits >= 8:
        entry = lut[(r.cur >> (r.nbits - 8)) & 0xFF]
        if entry >= 0:
            r.nbits -= entry >> 8
            return entry & 0xFF
        code = (r.cur >> (r.nbits - 8)) & 0xFF
        r.nbits -= 8
        for length in range(9, 17):
            code = (code << 1) | r.bit()
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid JPEG huffman code")
    code = 0
    for length in range(1, 17):
        code = (code << 1) | r.bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid JPEG huffman code")


def _jpeg_extend(v: int, t: int) -> int:
    """Sign-extend a t-bit JPEG magnitude value (T.81 F.2.2.1 EXTEND)."""
    return v - ((1 << t) - 1) if t > 0 and v < (1 << (t - 1)) else v


_IDCT_M = None


def _idct_matrix():
    """Orthonormal 8-point DCT-II basis M (rows = frequencies): spatial =
    M.T @ coef @ M inverts the 2-D DCT — two 8x8 matmuls per block, all
    numpy. Computed once per process (round 17; it was rebuilt per
    call)."""
    import numpy as np

    global _IDCT_M
    if _IDCT_M is None:
        n = np.arange(8)
        m = np.cos((2 * n[None, :] + 1) * n[:, None] * np.pi / 16)
        m[0] *= np.sqrt(1 / 8)
        m[1:] *= np.sqrt(2 / 8)
        _IDCT_M = m
    return _IDCT_M


def _decode_jpeg_lossless(payload: bytes) -> dict:
    """Decode a LOSSLESS JPEG (SOF3, T.81 Annex H, huffman — round 16):
    marker walk (DHT/SOF3/SOS), per-sample prediction with the seven
    Annex H predictors (scan header Ss selects; the first line falls
    back to predictor 1, each line's first sample to predictor 2, the
    scan's first sample to 2^(P - Pt - 1)), DC-style difference
    categories SSSS 0-16 (16 = +32768, no extension bits) and modulo-
    2^16 reconstruction, then the Al point transform shift. Components
    decode interleaved one-sample-per-MCU (lossless has no subsampling;
    non-1x1 factors raise). Returns the image contract (``pixels`` a
    24-bit BGR plane, precision > 8 scaled down for display) plus the
    EXACT ``samples`` array — the gate hashes those, because lossless
    means bit-exact, not display-close. DRI raises by name (restart
    prediction reset is out of scope). The reference shells to external
    image codecs for exactly this class of file (SURVEY §2.10 U1)."""
    import struct

    import numpy as np

    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (missing SOI marker)")
    htabs: dict[tuple[int, int], dict] = {}
    sof = None
    pos = 2
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"bad marker alignment at offset {pos}")
        marker = payload[pos + 1]
        if marker == 0xD9:
            break
        (seglen,) = struct.unpack_from(">H", payload, pos + 2)
        body = payload[pos + 4: pos + 2 + seglen]
        if marker == 0xC4:  # DHT
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 0xF
                bits = list(body[i + 1: i + 17])
                nv = sum(bits)
                htabs[(tc, th)] = _jpeg_huff_table(
                    bits, body[i + 17: i + 17 + nv]
                )
                i += 17 + nv
        elif marker == 0xC3:
            prec, h, w, nc = _jpeg_unpack(">BHHB", body, 0, "SOF3")
            if not 2 <= prec <= 16:
                raise ValueError(f"SOF3 precision {prec} outside 2..16")
            comps = []
            for c in range(nc):
                cid, hv, _tq = _jpeg_unpack(">BBB", body, 6 + 3 * c, "SOF3")
                if hv != 0x11:
                    raise ValueError(
                        "lossless JPEG with subsampling factors != 1x1 "
                        "unsupported"
                    )
                comps.append(cid)
            sof = (prec, h, w, comps)
        elif marker == 0xDD:
            raise ValueError(
                "lossless JPEG restart intervals unsupported (prediction "
                "reset semantics out of scope)"
            )
        elif marker == 0xDA:
            if sof is None:
                raise ValueError("JPEG SOS before SOF3 header")
            prec, h, w, comps = sof
            ns = body[0]
            if ns != len(comps):
                raise ValueError(
                    "lossless JPEG scan must cover every frame component"
                )
            tds = {}
            for si in range(ns):
                cs, tables = body[1 + 2 * si], body[2 + 2 * si]
                tds[cs] = tables >> 4
            ss = body[1 + 2 * ns]      # predictor selection 1-7
            al = body[3 + 2 * ns] & 0xF  # point transform
            if not 1 <= ss <= 7:
                raise ValueError(f"lossless JPEG predictor {ss} invalid")
            if al >= prec:
                raise ValueError("point transform exceeds precision")
            nc = len(comps)
            default = 1 << (prec - al - 1)
            r = _JpegBitReader(payload, pos + 2 + seglen)
            out = np.zeros((h, w, nc), np.int64)
            for y in range(h):
                for x in range(w):
                    for ci, cid in enumerate(comps):
                        table = htabs.get((0, tds[cid]))
                        if table is None:
                            raise ValueError(
                                "lossless JPEG scan references an "
                                "undefined DHT table"
                            )
                        t = _jpeg_decode_sym(r, table)
                        if t > 16:
                            raise ValueError(
                                f"lossless JPEG SSSS {t} invalid"
                            )
                        if t == 16:
                            diff = 32768
                        elif t:
                            v = 0
                            for _ in range(t):
                                v = (v << 1) | r.bit()
                            diff = _jpeg_extend(v, t)
                        else:
                            diff = 0
                        if x == 0 and y == 0:
                            px = default
                        elif y == 0:
                            px = int(out[0, x - 1, ci])
                        elif x == 0:
                            px = int(out[y - 1, 0, ci])
                        else:
                            a = int(out[y, x - 1, ci])
                            b = int(out[y - 1, x, ci])
                            c = int(out[y - 1, x - 1, ci])
                            px = [a, b, c, a + b - c, a + ((b - c) >> 1),
                                  b + ((a - c) >> 1), (a + b) >> 1][ss - 1]
                        out[y, x, ci] = (px + diff) & 0xFFFF
            samples = (out << al).astype(np.uint16)
            # display plane: scale to 8 bits
            disp = (
                samples >> (prec - 8) if prec > 8
                else samples << (8 - prec) if prec < 8 else samples
            ).astype(np.uint8)
            if nc == 1:
                bgr = np.repeat(disp, 3, axis=2)
            elif nc == 3:
                bgr = disp[:, :, ::-1]  # components are RGB in the wild
            else:
                raise ValueError(
                    f"lossless JPEG with {nc} components unsupported"
                )
            return {
                "width": w,
                "height": h,
                "bit_count": 24,
                "n_pixels": w * h,
                "pixels": np.ascontiguousarray(bgr).tobytes(),
                "lossless": True,
                "precision": prec,
                "predictor": ss,
                "point_transform": al,
                "samples": samples,
            }
        pos += 2 + seglen
    raise ValueError("lossless JPEG has no SOS scan")


def encode_jpeg_lossless(samples, predictor: int = 1, precision: int = 8,
                         point_transform: int = 0) -> bytes:
    """Encode a LOSSLESS JPEG (SOF3, T.81 Annex H): ``samples`` is an
    (h, w) or (h, w, 3) integer array with values below 2^precision.
    One canonical difference-category huffman table per component
    (destination = component index — extended modes permit up to four),
    the Ss scan field carries the predictor (1-7), Al the point
    transform (inputs must be multiples of 2^Al). The exact inverse of
    :func:`_decode_jpeg_lossless`, roundtrip-pinned by test and gate."""
    import struct

    import numpy as np

    arr = np.asarray(samples, dtype=np.int64)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, nc = arr.shape
    if nc not in (1, 3):
        raise ValueError("encode_jpeg_lossless wants 1 or 3 components")
    if not 1 <= predictor <= 7:
        raise ValueError("predictor must be 1..7")
    if arr.min() < 0 or arr.max() >= (1 << precision):
        raise ValueError(f"samples exceed {precision}-bit range")
    if point_transform and (arr & ((1 << point_transform) - 1)).any():
        raise ValueError("samples must be multiples of 2^point_transform")
    coded = arr >> point_transform
    default = 1 << (precision - point_transform - 1)

    def mag(diff: int) -> tuple[int, int, int]:
        diff &= 0xFFFF
        if diff >= 32768:
            if diff == 32768:
                return 16, 0, 0
            diff -= 65536
        t = int(abs(diff)).bit_length()
        return t, (diff if diff >= 0 else diff + (1 << t) - 1), t

    toks = [[] for _ in range(nc)]  # per component, in MCU order
    order = []
    for y in range(h):
        for x in range(w):
            for ci in range(nc):
                if x == 0 and y == 0:
                    px = default
                elif y == 0:
                    px = int(coded[0, x - 1, ci])
                elif x == 0:
                    px = int(coded[y - 1, 0, ci])
                else:
                    a = int(coded[y, x - 1, ci])
                    b = int(coded[y - 1, x, ci])
                    c = int(coded[y - 1, x - 1, ci])
                    px = [a, b, c, a + b - c, a + ((b - c) >> 1),
                          b + ((a - c) >> 1), (a + b) >> 1][predictor - 1]
                t, bv, nb = mag(int(coded[y, x, ci]) - px)
                toks[ci].append((t, bv, nb))
                order.append(ci)
    tabs = [
        _jpeg_canonical_tables({t for t, _, _ in toks[ci]} or {0})
        for ci in range(nc)
    ]
    out = bytearray()
    acc, nacc = 0, 0

    def put(val, nb):
        # chunked bit accumulation (round 17): same MSB-first stream and
        # 0xFF00 stuffing as the per-bit loop, one append per byte
        nonlocal acc, nacc
        acc = (acc << nb) | (val & ((1 << nb) - 1))
        nacc += nb
        while nacc >= 8:
            nacc -= 8
            b = (acc >> nacc) & 0xFF
            out.append(b)
            if b == 0xFF:
                out.append(0x00)
        acc &= (1 << nacc) - 1

    idx = [0] * nc
    for ci in order:
        t, bv, nb = toks[ci][idx[ci]]
        idx[ci] += 1
        L, code = tabs[ci][2][t]
        put(code, L)
        if nb and t != 16:
            put(bv, nb)
    if nacc:
        put((1 << (8 - nacc)) - 1, 8 - nacc)

    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    hdr = b"\xff\xd8"
    sofb = struct.pack(">BHHB", precision, h, w, nc)
    for ci in range(nc):
        sofb += bytes([ci + 1, 0x11, 0])
    hdr += seg(0xC3, sofb)
    for ci in range(nc):
        bits, vals, _enc = tabs[ci]
        hdr += seg(0xC4, bytes([ci]) + bytes(bits) + vals)
    sos = bytes([nc])
    for ci in range(nc):
        sos += bytes([ci + 1, ci << 4])
    sos += bytes([predictor, 0, point_transform])
    hdr += seg(0xDA, sos)
    return hdr + bytes(out) + b"\xff\xd9"


def _decode_jpeg(payload: bytes) -> dict:
    """Decode a baseline JFIF JPEG (SOF0, 8-bit, huffman, 1-component
    grayscale or 3-component YCbCr at 4:4:4, 4:2:2 or 4:2:0 chroma
    subsampling, optional DRI/RSTn restart intervals) with stdlib
    ``struct`` + numpy — no external codec: a marker walk collects
    DQT/DHT/SOF0/SOS, a canonical huffman decoder reads the interleaved
    MCU scan (T.81 Annex F, sampling-factor MCU geometry per A.2.3), and
    dequantization + the separable orthonormal IDCT + chroma sample
    replication + the BT.601 YCbCr→RGB transform are vectorized numpy
    steps over the stacked block tensor. Returns the :func:`_decode_bmp`
    contract with ``pixels`` a 24-bit BGR top-down plane (grayscale
    replicates Y into all three channels), so a JPEG fingerprints and
    feature-extracts through the same downstream kernels as BMP/PNG/AVI.

    Progressive (SOF2) decode is real too: the multi-scan walk feeds
    :func:`_jpeg_progressive_scan` (spectral selection AND successive
    approximation, T.81 Annex G — DC/AC first + refinement scans with
    EOBRUN and the G.1.2.3 correction algorithm), accumulating into
    cross-scan coefficient grids finished by the same
    :func:`_jpeg_finish` back half as baseline — so a progressive and a
    baseline encoding of the same quantized coefficients decode to
    byte-identical planes (pinned by test).

    Round 15 widened the accepted input space: 16-bit (Pq=1) DQT
    tables, sampling factors up to T.81's full 1..4 per axis (4:1:1,
    4:4:0, asymmetric chroma), and DRI restart intervals inside
    progressive scans. Round 17 widened it again: NON-DIVISOR sampling
    ratios (nearest-floor fractional upsampling — identical to
    replication on divisor files) and 12-bit SOF1 extended-sequential
    streams (2^(P-1) level shift, rescaled onto the 8-bit contract).

    Out of scope, rejected loudly: the rare arithmetic and
    hierarchical modes — at that point a real libjpeg belongs behind
    the per-executor singleton codec seam (U2). Only the per-symbol
    huffman loop is per-bit Python; everything after the coefficient
    tensor is numpy.
    """
    import struct

    import numpy as np

    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (missing SOI marker)")
    qtabs: dict[int, "np.ndarray"] = {}
    htabs: dict[tuple[int, int], dict] = {}  # (class 0=DC/1=AC, id) -> table
    sof = None
    progressive = False
    prog_state = None
    restart_interval = 0
    pos = 2
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"bad marker alignment at offset {pos}")
        marker = payload[pos + 1]
        if marker == 0xD9:  # EOI: finish progressive decode, else no scan
            if prog_state is not None:
                return _jpeg_finish(prog_state)
            break
        if 0xD0 <= marker <= 0xD7:  # stray RSTn between scans: skip
            pos += 2
            continue
        (seglen,) = struct.unpack_from(">H", payload, pos + 2)
        body0, body1 = pos + 4, pos + 2 + seglen
        if body1 > len(payload):
            raise ValueError("truncated JPEG segment")
        body = payload[body0:body1]
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0xF
                if pq not in (0, 1):
                    raise ValueError(f"bad JPEG DQT precision {pq}")
                # Pq=1 (round 15): 16-bit big-endian table entries —
                # T.81 B.2.4.1; low-quality/high-dynamic-range encoders
                # emit steps past 255
                step = 2 if pq else 1
                if i + 1 + 64 * step > len(body):
                    raise ValueError("truncated JPEG DQT segment")
                q = np.zeros(64, dtype=np.int32)
                q[_JPEG_ZIGZAG] = np.frombuffer(
                    body[i + 1 : i + 1 + 64 * step], ">u2" if pq else np.uint8
                )
                qtabs[tq] = q.reshape(8, 8)
                i += 1 + 64 * step
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(body):
                if i + 17 > len(body):
                    raise ValueError("truncated JPEG DHT segment")
                tc, th = body[i] >> 4, body[i] & 0xF
                bits = list(body[i + 1 : i + 17])
                nv = sum(bits)
                if i + 17 + nv > len(body):
                    raise ValueError("truncated JPEG DHT segment")
                htabs[(tc, th)] = _jpeg_huff_table(bits, body[i + 17 : i + 17 + nv])
                i += 17 + nv
        elif marker in (0xC0, 0xC1, 0xC2):
            # SOF0 baseline / SOF1 extended sequential (round 17: the
            # 12-bit home) / SOF2 progressive
            progressive = marker == 0xC2
            prec, h, w, nc = _jpeg_unpack(">BHHB", body, 0, "SOF0")
            if prec not in (8, 12) or (prec == 12 and marker == 0xC0):
                raise ValueError(
                    f"unsupported JPEG sample precision {prec} for SOF "
                    f"marker 0xFF{marker:02X} (8-bit everywhere; 12-bit "
                    "in SOF1/SOF2 per T.81)"
                )
            if nc not in (1, 3):
                raise ValueError(f"unsupported JPEG component count {nc}")
            comps = []
            for c in range(nc):
                cid, hv, tq = _jpeg_unpack(">BBB", body, 6 + 3 * c, "SOF0")
                hc, vc = hv >> 4, hv & 0xF
                if not (1 <= hc <= 4) or not (1 <= vc <= 4):
                    raise ValueError(
                        f"JPEG sampling factor {hc}x{vc} outside T.81's "
                        "1..4 range"
                    )
                comps.append({"id": cid, "tq": tq, "hc": hc, "vc": vc})
            # round 15: arbitrary factors up to 4 per axis (4:1:1,
            # 4:4:0, asymmetric chroma, ...); round 17: non-divisor
            # ratios too (e.g. 2x vs a frame max of 3) — the upsampler
            # in _jpeg_finish uses the nearest-floor index mapping
            # out[r] = sub[r * fc // fmax], which IS plain replication
            # whenever the ratio is integer, so divisor files decode
            # byte-identically to round 15
            if nc == 1:
                # single-component scans are non-interleaved: the data is
                # the component's own block raster, whatever factor the
                # header advertises (T.81 A.2.2)
                comps[0]["hc"] = comps[0]["vc"] = 1
            sof = (w, h, comps, prec)
        elif marker == 0xC3:  # SOF3: lossless (huffman) — round 16
            return _decode_jpeg_lossless(payload)
        elif marker == 0xDE:  # DHP: hierarchical mode (round 17)
            return _decode_jpeg_hierarchical(payload)
        elif marker in (0xC5, 0xC6, 0xC7):
            raise ValueError(
                f"differential SOF marker 0xFF{marker:02X} outside a "
                "DHP-led hierarchical stream; hierarchical JPEG decodes "
                "via its DHP segment (round 17)"
            )
        elif marker in (0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"arithmetic-coded JPEG (SOF marker 0xFF{marker:02X}) "
                "requires the QM-coder Qe state table — spec data this "
                "repo cannot certify from recall; huffman SOF0/SOF1/"
                "SOF2/SOF3 and hierarchical SOF5 decode"
            )
        elif marker == 0xDD:  # DRI
            (restart_interval,) = _jpeg_unpack(">H", body, 0, "DRI")
        elif marker == 0xDA:  # SOS — entropy data follows the segment
            if sof is None:
                raise ValueError("JPEG SOS before SOF0 header")
            if not body:
                raise ValueError("truncated JPEG SOS segment")
            ns = body[0]
            width, height, comps, prec = sof
            if len(body) < 4 + 2 * ns:
                raise ValueError("truncated JPEG SOS segment")
            scan = {}
            scan_ids = []
            for s in range(ns):
                cs, tables = body[1 + 2 * s], body[2 + 2 * s]
                scan[cs] = (tables >> 4, tables & 0xF)
                scan_ids.append(cs)
            if not scan_ids or len(set(scan_ids)) != len(scan_ids):
                raise ValueError("JPEG scan component list empty or duplicated")
            scan_comps = []
            for cid in scan_ids:
                c = next((c for c in comps if c["id"] == cid), None)
                if c is None:
                    raise ValueError(f"scan names unknown component {cid}")
                c["td"], c["ta"] = scan[cid]
                if c["tq"] not in qtabs:
                    raise ValueError("JPEG component references undefined DQT table")
                scan_comps.append(c)
            if not progressive:
                if ns != len(comps):
                    raise ValueError("JPEG scan must cover all frame components")
                # ns == len(comps) + distinct known ids => every component
                # was assigned its scan tables above
                for c in comps:
                    if (0, c["td"]) not in htabs or (1, c["ta"]) not in htabs:
                        raise ValueError(
                            "JPEG scan references undefined huffman table"
                        )
                return _jpeg_scan(
                    payload, body1, width, height, comps, qtabs, htabs,
                    restart_interval, prec,
                )
            ss, se = body[1 + 2 * ns], body[2 + 2 * ns]
            ah, al = body[3 + 2 * ns] >> 4, body[3 + 2 * ns] & 0xF
            if prog_state is None:
                prog_state = _jpeg_progressive_init(
                    payload, body1, width, height, comps, qtabs
                )
                prog_state["prec"] = prec
            pos = _jpeg_progressive_scan(
                prog_state, body1, scan_comps, ss, se, ah, al, htabs,
                restart_interval,
            )
            continue
        # APPn / COM / unknown: skip
        pos = body1
    if prog_state is not None:  # tolerate a missing EOI after the last scan
        return _jpeg_finish(prog_state)
    raise ValueError("no JPEG scan (SOS) found")


def _jpeg_scan(
    payload: bytes,
    pos: int,
    width: int,
    height: int,
    comps: list[dict],
    qtabs: dict,
    htabs: dict,
    restart_interval: int,
    prec: int = 8,
    finish: bool = True,
    dc_predict: bool = True,
) -> dict:
    """Entropy-decode the interleaved baseline scan and finish with
    vectorized numpy: coefficient tensor → dequant → IDCT → per-component
    plane assembly → chroma upsample (sample replication, spec-legal) →
    (for color) BT.601 conversion → BGR bytes. MCU geometry follows the
    components' sampling factors (T.81 A.2.3): an MCU spans
    8*hmax x 8*vmax pixels and carries hc*vc blocks per component in
    left-to-right, top-to-bottom order — 4:2:0's 2x2 Y + 1 Cb + 1 Cr is
    just the (2,2)/(1,1)/(1,1) instance of that. With ``finish=False``
    the raw decode state (coefficient grids + geometry) is returned
    instead — the hierarchical path (round 17) needs per-frame spatial
    planes before any color transform."""
    import numpy as np

    hmax, vmax, mcu_x, mcu_y, grids = _jpeg_geometry(
        width, height, comps, len(payload) - pos, min_bits_per_block=2
    )
    r = _JpegBitReader(payload, pos)
    # per component: a (block_rows*block_cols, 64) int32 coefficient grid
    coefs = [np.zeros((gx * gy, 64), dtype=np.int32) for gx, gy in grids]
    pred = [0] * len(comps)
    for my in range(mcu_y):
        for mx in range(mcu_x):
            m = my * mcu_x + mx
            if restart_interval and m and m % restart_interval == 0:
                r.restart(m // restart_interval - 1)
                pred = [0] * len(comps)
            for ci, c in enumerate(comps):
                dc_tab, ac_tab = htabs[(0, c["td"])], htabs[(1, c["ta"])]
                gx = grids[ci][0]
                for v in range(c["vc"]):
                    for hh in range(c["hc"]):
                        t = _jpeg_decode_sym(r, dc_tab)
                        dc_diff = _jpeg_extend(r.receive(t), t)
                        # differential hierarchical frames (round 17)
                        # code DC with PRED always zero (T.81 F.1.1.5.1)
                        if dc_predict:
                            pred[ci] += dc_diff
                        else:
                            pred[ci] = dc_diff
                        block = coefs[ci][
                            (my * c["vc"] + v) * gx + mx * c["hc"] + hh
                        ]
                        block[0] = pred[ci]
                        k = 1
                        while k < 64:
                            rs = _jpeg_decode_sym(r, ac_tab)
                            run, size = rs >> 4, rs & 0xF
                            if size == 0:
                                if run == 15:  # ZRL: sixteen zeros
                                    k += 16
                                    continue
                                break  # EOB
                            k += run
                            if k > 63:
                                raise ValueError("JPEG AC run past end of block")
                            block[_JPEG_ZIGZAG[k]] = _jpeg_extend(
                                r.receive(size), size
                            )
                            k += 1
    state = {
        "width": width,
        "height": height,
        "comps": comps,
        "qtabs": qtabs,
        "hmax": hmax,
        "vmax": vmax,
        "grids": grids,
        "coefs": coefs,
        "prec": prec,
    }
    return _jpeg_finish(state) if finish else state


def _jpeg_finish(state: dict) -> dict:
    """Shared back half of baseline and progressive decode: dequant +
    IDCT over the accumulated coefficient grids, per-component plane
    assembly, chroma sample replication, BT.601, BGR bytes."""
    import numpy as np

    width, height = state["width"], state["height"]
    comps, qtabs = state["comps"], state["qtabs"]
    hmax, vmax = state["hmax"], state["vmax"]
    prec = state.get("prec", 8)
    m8 = _idct_matrix()
    planes = []
    for ci, c in enumerate(comps):
        gx, gy = state["grids"][ci]
        deq = (
            state["coefs"][ci].reshape(-1, 8, 8) * qtabs[c["tq"]]
        ).astype(np.float64)
        # level shift by 2^(P-1); 12-bit planes (round 17, SOF1/SOF2)
        # rescale to the uniform 8-bit BGR contract — the chroma center
        # 2048/16 lands back on 128, so the BT.601 step is unchanged
        spatial = np.einsum("ki,nkl,lj->nij", m8, deq, m8) + float(
            1 << (prec - 1)
        )
        if prec == 12:
            spatial = spatial / 16.0
        sub = (
            spatial.reshape(gy, gx, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(gy * 8, gx * 8)
        )
        # nearest-floor index upsampling: identical to the round-15
        # .repeat replication for divisor ratios, and the spec-legal
        # choice (T.81 mandates no filter) for fractional ones (r17)
        ridx = np.arange(height) * c["vc"] // vmax
        cidx = np.arange(width) * c["hc"] // hmax
        planes.append(sub[np.ix_(ridx, cidx)])
    if len(planes) == 1:
        y = np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
        bgr = np.repeat(y[:, :, None], 3, axis=2)
    else:
        y, cb, cr = planes[0], planes[1] - 128.0, planes[2] - 128.0
        bgr = np.stack(
            [
                y + 1.772 * cb,                      # B
                y - 0.344136 * cb - 0.714136 * cr,   # G
                y + 1.402 * cr,                      # R
            ],
            axis=2,
        )
        bgr = np.clip(np.round(bgr), 0, 255).astype(np.uint8)
    return {
        "width": width,
        "height": height,
        "bit_count": 24,
        "n_pixels": width * height,
        "pixels": bgr.tobytes(),
    }


def _jpeg_geometry(
    width: int,
    height: int,
    comps: list[dict],
    entropy_bytes: int,
    min_bits_per_block: int,
) -> tuple[int, int, int, int, list[tuple[int, int]]]:
    """Shared MCU geometry + allocation guards for baseline and
    progressive decode: returns (hmax, vmax, mcu_x, mcu_y, grids) where
    ``grids[ci] = (block_cols, block_rows)`` of component ci's
    MCU-padded coefficient grid.

    Guards run BEFORE any coefficient tensor is touched: a crafted
    few-hundred-byte file declaring 65500x65500 would otherwise force a
    ~51 GB np.zeros from bytes that carry no pixel data. A baseline
    block costs at least 2 huffman symbols (DC category + EOB) = 2 bits;
    a progressive scan spends at least 1 bit per block — the caller
    passes the applicable ``min_bits_per_block``. Dimensions are also
    capped outright (fixture-scope decoder — megapixel production decode
    goes through the singleton codec seam)."""
    if width <= 0 or height <= 0:
        raise ValueError(f"degenerate JPEG dimensions {width}x{height}")
    if width * height > (1 << 26):
        raise ValueError(
            f"JPEG dimensions {width}x{height} exceed the 64M-pixel decode cap"
        )
    hmax = max(c["hc"] for c in comps)
    vmax = max(c["vc"] for c in comps)
    mcu_x = (width + 8 * hmax - 1) // (8 * hmax)
    mcu_y = (height + 8 * vmax - 1) // (8 * vmax)
    grids = [(mcu_x * c["hc"], mcu_y * c["vc"]) for c in comps]
    n_blocks = sum(gx * gy for gx, gy in grids)
    if entropy_bytes < n_blocks * min_bits_per_block // 8:
        raise ValueError(
            "JPEG entropy data shorter than the declared dimensions require"
        )
    return hmax, vmax, mcu_x, mcu_y, grids


def _jpeg_progressive_init(
    payload: bytes, pos: int, width: int, height: int,
    comps: list[dict], qtabs: dict,
) -> dict:
    """Allocate the cross-scan decode state for a progressive (SOF2)
    JPEG: per-component coefficient grids the successive scans fill in,
    plus the geometry both scan kinds index (guards in
    :func:`_jpeg_geometry`)."""
    import numpy as np

    hmax, vmax, mcu_x, mcu_y, grids = _jpeg_geometry(
        width, height, comps, len(payload) - pos, min_bits_per_block=1
    )
    return {
        "payload": payload,
        "width": width,
        "height": height,
        "comps": comps,
        "qtabs": qtabs,
        "hmax": hmax,
        "vmax": vmax,
        "mcu_x": mcu_x,
        "mcu_y": mcu_y,
        "grids": grids,
        "coefs": [np.zeros((gx * gy, 64), dtype=np.int32) for gx, gy in grids],
    }


def _jpeg_next_marker(payload: bytes, pos: int) -> int:
    """Position of the next real marker at/after ``pos``: skips entropy
    pad bits, stuffed 0xFF00 bytes, RSTn markers and 0xFF fill bytes
    (T.81 B.1.1.2 allows any number of 0xFF fills before a marker — the
    returned position points at the LAST 0xFF of a fill run so the
    caller reads the actual marker code)."""
    while pos + 1 < len(payload):
        if payload[pos] == 0xFF:
            nxt = payload[pos + 1]
            if nxt == 0xFF:  # fill byte: the marker starts later
                pos += 1
                continue
            if nxt != 0x00 and not (0xD0 <= nxt <= 0xD7):
                return pos
        pos += 1
    raise ValueError("truncated JPEG: no marker after scan data")


def _jpeg_progressive_scan(
    state: dict,
    pos: int,
    scan_comps: list[dict],
    ss: int,
    se: int,
    ah: int,
    al: int,
    htabs: dict,
    restart_interval: int = 0,
) -> int:
    """Entropy-decode ONE progressive scan (T.81 Annex G) into the
    cross-scan coefficient grids and return the offset of the marker
    that follows its entropy data.

    ``restart_interval`` (round 15): DRI applies inside progressive
    scans too — every Ri MCUs (one block per MCU in the non-interleaved
    rasters) the reader aligns to the next RSTn marker and the scan's
    carried state resets: DC predictors in DC-first scans, the EOB run
    in AC scans (T.81 forbids an EOB run from crossing a restart
    boundary). DC-refinement scans carry no state beyond the bit
    position, but the marker still consumes.

    Four scan kinds, selected by (Ss, Ah):

    - DC first (Ss=0, Ah=0): baseline-style predicted DC differences in
      the shifted domain, stored ``<< Al``; interleaved MCU order when
      the scan carries several components, component block raster
      otherwise.
    - DC refinement (Ss=0, Ah>0): one raw bit per block, OR-ed into bit
      position Al of the two's-complement coefficient (G.1.2.1 codes DC
      successive approximation as an arithmetic shift).
    - AC first (Ss>0, Ah=0, single component per T.81): run/size coding
      over the Ss..Se band with EOBRUN (EOBn) block-run codes; values
      stored ``<< Al``.
    - AC refinement (Ss>0, Ah>0): the G.1.2.3 correction algorithm —
      newly-significant coefficients appear as ±2^Al while every
      already-nonzero coefficient in the traversed band consumes one
      correction bit (including inside EOB runs).
    """
    payload = state["payload"]
    comps_all = state["comps"]
    r = _JpegBitReader(payload, pos)
    zz = _JPEG_ZIGZAG
    p1, m1 = 1 << al, -(1 << al)

    if ss == 0:  # ---- DC scan (Se must be 0 per spec)
        if se != 0:
            raise ValueError("progressive DC scan must have Se=0")
        for c in scan_comps:
            if ah == 0 and (0, c["td"]) not in htabs:
                raise ValueError("JPEG scan references undefined huffman table")
        pred = {c["id"]: 0 for c in scan_comps}
        if len(scan_comps) > 1:  # interleaved MCU order over the frame
            mcu_x, mcu_y = state["mcu_x"], state["mcu_y"]
            for my in range(mcu_y):
                for mx in range(mcu_x):
                    m = my * mcu_x + mx
                    if restart_interval and m and m % restart_interval == 0:
                        r.restart(m // restart_interval - 1)
                        pred = {c["id"]: 0 for c in scan_comps}
                    for c in scan_comps:
                        ci = comps_all.index(c)
                        gx = state["grids"][ci][0]
                        for v in range(c["vc"]):
                            for hh in range(c["hc"]):
                                blk = state["coefs"][ci][
                                    (my * c["vc"] + v) * gx + mx * c["hc"] + hh
                                ]
                                if ah == 0:
                                    t = _jpeg_decode_sym(r, htabs[(0, c["td"])])
                                    pred[c["id"]] += _jpeg_extend(
                                        r.receive(t), t
                                    )
                                    blk[0] = pred[c["id"]] << al
                                elif r.bit():
                                    blk[0] |= p1
        else:  # single component: its own block raster (no MCU padding)
            c = scan_comps[0]
            ci = comps_all.index(c)
            gx = state["grids"][ci][0]
            cbx, cby = _jpeg_comp_blocks(state, ci)
            for row in range(cby):
                for col in range(cbx):
                    m = row * cbx + col
                    if restart_interval and m and m % restart_interval == 0:
                        r.restart(m // restart_interval - 1)
                        pred = {c["id"]: 0}
                    blk = state["coefs"][ci][row * gx + col]
                    if ah == 0:
                        t = _jpeg_decode_sym(r, htabs[(0, c["td"])])
                        pred[c["id"]] += _jpeg_extend(r.receive(t), t)
                        blk[0] = pred[c["id"]] << al
                    elif r.bit():
                        blk[0] |= p1
        return _jpeg_next_marker(payload, r.pos)

    # ---- AC scan: exactly one component (T.81 B.2.3)
    if len(scan_comps) != 1:
        raise ValueError("progressive AC scan must be single-component")
    if not (1 <= ss <= se <= 63):
        raise ValueError(f"bad progressive spectral band {ss}..{se}")
    c = scan_comps[0]
    if (1, c["ta"]) not in htabs:
        raise ValueError("JPEG scan references undefined huffman table")
    ac_tab = htabs[(1, c["ta"])]
    ci = comps_all.index(c)
    gx = state["grids"][ci][0]
    cbx, cby = _jpeg_comp_blocks(state, ci)
    eobrun = 0
    for row in range(cby):
        for col in range(cbx):
            m = row * cbx + col
            if restart_interval and m and m % restart_interval == 0:
                r.restart(m // restart_interval - 1)
                eobrun = 0
            blk = state["coefs"][ci][row * gx + col]
            if ah == 0:  # ---- AC first scan
                if eobrun > 0:
                    eobrun -= 1
                    continue
                k = ss
                while k <= se:
                    rs = _jpeg_decode_sym(r, ac_tab)
                    run, size = rs >> 4, rs & 0xF
                    if size == 0:
                        if run == 15:  # ZRL
                            k += 16
                            continue
                        eobrun = (1 << run) - 1
                        if run:
                            eobrun += r.receive(run)
                        break
                    k += run
                    if k > se:
                        raise ValueError("JPEG AC run past spectral band")
                    blk[zz[k]] = _jpeg_extend(r.receive(size), size) << al
                    k += 1
            else:  # ---- AC refinement scan (G.1.2.3)
                k = ss
                if eobrun == 0:
                    while k <= se:
                        rs = _jpeg_decode_sym(r, ac_tab)
                        run, size = rs >> 4, rs & 0xF
                        if size == 0:
                            if run != 15:
                                # EOB run INCLUDING this block: its
                                # remaining band still consumes
                                # correction bits below, then eobrun--
                                eobrun = 1 << run
                                if run:
                                    eobrun += r.receive(run)
                                break
                            newval = 0  # ZRL: skip 16 zero-history slots
                        elif size == 1:
                            newval = p1 if r.bit() else m1
                        else:
                            raise ValueError(
                                "AC refinement symbol with size > 1"
                            )
                        while k <= se:
                            z = zz[k]
                            if blk[z] != 0:
                                if r.bit() and (blk[z] & p1) == 0:
                                    blk[z] += p1 if blk[z] >= 0 else m1
                            else:
                                if run == 0:
                                    break
                                run -= 1
                            k += 1
                        if size == 1 and k <= se:
                            blk[zz[k]] = newval
                        k += 1
                if eobrun > 0:
                    # EOB-covered remainder: correction bits only
                    while k <= se:
                        z = zz[k]
                        if blk[z] != 0 and r.bit() and (blk[z] & p1) == 0:
                            blk[z] += p1 if blk[z] >= 0 else m1
                        k += 1
                    eobrun -= 1
    return _jpeg_next_marker(payload, r.pos)


def _jpeg_comp_blocks(state: dict, ci: int) -> tuple[int, int]:
    """Block count of component ci's OWN sample grid (non-interleaved
    scans cover exactly these, without the MCU-padding blocks)."""
    c = state["comps"][ci]
    wc = -(-state["width"] * c["hc"] // state["hmax"])
    hc = -(-state["height"] * c["vc"] // state["vmax"])
    return -(-wc // 8), -(-hc // 8)


# ---------------------------------------------------------------------------
# JPEG encoders (round 15, promoted from the test fixtures so the codec
# gets a driver-checked oracle gate like every other format): baseline
# (SOF0) and progressive (SOF2) encode sharing the decoder's orthonormal
# DCT basis, flat quant tables (8- or 16-bit), per-file canonical huffman
# tables, sampling factors 4:4:4/4:2:2/4:2:0/4:1:1/4:4:0 and DRI restart
# intervals in both modes. The reference shells media handling to
# external tools (inputs/speech_to_text.py:24-26); these are the same
# stdlib-only differential-gate encoders as BMP/PNG/TIFF/WAV/MP3.
# ---------------------------------------------------------------------------

def _jpeg_canonical_tables(symbols):
    """Canonical huffman table over the symbol set actually emitted: all
    codes one length L with n < 2^L (so the all-ones code stays unused,
    per T.81 C.2). Returns (bits, huffval, {sym: (L, code)})."""
    syms = sorted(set(symbols))
    L = max(1, len(syms).bit_length())
    bits = [0] * 16
    bits[L - 1] = len(syms)
    return bits, bytes(syms), {s: (L, i) for i, s in enumerate(syms)}


def _jpeg_expand(plane, eh: int, ev: int):
    """T.81 hierarchical EXP reference upsampling (Annex J): doubling
    by interpolation — even output samples copy the input, odd samples
    are the rounded mean (a + b + 1) >> 1 of the two neighbors, with
    edge replication (so the final odd sample equals the last input
    sample). Integer in, integer out."""
    import numpy as np

    if eh:
        a = plane
        b = np.concatenate([plane[:, 1:], plane[:, -1:]], axis=1)
        out = np.empty((a.shape[0], a.shape[1] * 2), dtype=a.dtype)
        out[:, 0::2] = a
        out[:, 1::2] = (a + b + 1) >> 1
        plane = out
    if ev:
        a = plane
        b = np.concatenate([plane[1:, :], plane[-1:, :]], axis=0)
        out = np.empty((a.shape[0] * 2, a.shape[1]), dtype=a.dtype)
        out[0::2, :] = a
        out[1::2, :] = (a + b + 1) >> 1
        plane = out
    return plane


def _jpeg_hier_spatial(state: dict, differential: bool):
    """Per-component spatial planes from a finish=False scan state:
    dequant + IDCT, PLUS the 2^(P-1) level shift only in
    non-differential frames (T.81 A.3.1 — differential frames code
    sample differences, which are not level-shifted). Cropped to frame
    dims (hierarchical scope is 1x1 factors, so plane dims == frame
    dims)."""
    import numpy as np

    m8 = _idct_matrix()
    out = []
    for ci, c in enumerate(state["comps"]):
        deq = (
            state["coefs"][ci].reshape(-1, 8, 8)
            * state["qtabs"][c["tq"]]
        ).astype(np.float64)
        sp = np.einsum("ki,nkl,lj->nij", m8, deq, m8)
        if not differential:
            sp += 128.0
        gx, gy = state["grids"][ci]
        plane = (
            sp.reshape(gy, gx, 8, 8).transpose(0, 2, 1, 3)
            .reshape(gy * 8, gx * 8)
        )
        out.append(plane[: state["height"], : state["width"]])
    return out


def _decode_jpeg_hierarchical(payload: bytes) -> dict:
    """Hierarchical JPEG decode (T.81 Annex J, round 17; closes the
    hierarchical half of the arithmetic/hierarchical named seam): a
    DHP-led sequence of frames over shared reference components — a
    non-differential first frame at reduced resolution, then per stage
    an optional EXP doubling of the references (:func:`_jpeg_expand`,
    cropped to the next frame's dims) followed by a DIFFERENTIAL
    sequential frame (SOF5) whose dequant+IDCT output — no level shift,
    and DC coded with PRED always zero in differential frames — ADDS to
    the references, clamped to [0, 255] after every stage. Scope: 8-bit,
    1x1 sampling factors, grayscale or 3-component YCbCr, huffman
    sequential frames; differential progressive (SOF6) / differential
    lossless (SOF7) / arithmetic coding raise by name (the arithmetic
    QM-coder's 113-row Qe state table is spec data this repo cannot
    certify from recall). Final references feed the same grayscale /
    BT.601 back half as baseline."""
    import struct

    import numpy as np

    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (missing SOI marker)")
    qtabs: dict[int, "np.ndarray"] = {}
    htabs: dict[tuple[int, int], dict] = {}
    restart_interval = 0
    dhp = None
    refs: list | None = None
    cur = None  # current frame: (differential, w, h, comps)
    pending_exp = (0, 0)
    pos = 2
    while pos + 2 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"bad marker alignment at offset {pos}")
        marker = payload[pos + 1]
        if marker == 0xD9:
            break
        if 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        (seglen,) = struct.unpack_from(">H", payload, pos + 2)
        body = payload[pos + 4: pos + 2 + seglen]
        if pos + 2 + seglen > len(payload):
            raise ValueError("truncated JPEG segment")
        if marker == 0xDB:
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0xF
                if pq != 0:
                    raise ValueError("hierarchical scope is 8-bit DQT")
                q = np.zeros(64, dtype=np.int32)
                q[_JPEG_ZIGZAG] = np.frombuffer(
                    body[i + 1: i + 65], np.uint8
                )
                qtabs[tq] = q.reshape(8, 8)
                i += 65
        elif marker == 0xC4:
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 0xF
                bits = list(body[i + 1: i + 17])
                nv = sum(bits)
                htabs[(tc, th)] = _jpeg_huff_table(
                    bits, body[i + 17: i + 17 + nv]
                )
                i += 17 + nv
        elif marker == 0xDD:
            (restart_interval,) = _jpeg_unpack(">H", body, 0, "DRI")
        elif marker == 0xDE:  # DHP: hierarchical frame parameters
            prec, h, w, nc = _jpeg_unpack(">BHHB", body, 0, "DHP")
            if prec != 8:
                raise NotImplementedError(
                    "hierarchical decode scope is 8-bit precision"
                )
            if nc not in (1, 3):
                raise ValueError(f"unsupported component count {nc}")
            ids = [body[6 + 3 * c] for c in range(nc)]
            dhp = (w, h, ids)
        elif marker == 0xDF:  # EXP: expand references before next frame
            if refs is None:
                raise ValueError("JPEG EXP before any reference frame")
            eh, ev = body[0] >> 4, body[0] & 0xF
            if eh not in (0, 1) or ev not in (0, 1):
                raise ValueError("JPEG EXP nibbles must be 0 or 1")
            pending_exp = (eh, ev)
        elif marker in (0xC0, 0xC1, 0xC5):
            if dhp is None:
                raise ValueError(
                    "hierarchical frame without a DHP segment"
                )
            differential = marker == 0xC5
            prec, h, w, nc = _jpeg_unpack(">BHHB", body, 0, "SOF")
            if prec != 8:
                raise NotImplementedError(
                    "hierarchical decode scope is 8-bit precision"
                )
            comps = []
            for c in range(nc):
                cid, hv, tq = _jpeg_unpack(">BBB", body, 6 + 3 * c, "SOF")
                if hv != 0x11:
                    raise NotImplementedError(
                        "hierarchical decode scope is 1x1 sampling "
                        "factors in every frame"
                    )
                comps.append({"id": cid, "tq": tq, "hc": 1, "vc": 1})
            if [c["id"] for c in comps] != dhp[2]:
                raise NotImplementedError(
                    "per-component hierarchical frames (component "
                    "subset differing from DHP) are out of scope"
                )
            if differential and refs is None:
                raise ValueError("differential frame without reference")
            if not differential and refs is not None:
                raise ValueError(
                    "second non-differential hierarchical frame"
                )
            cur = (differential, w, h, comps)
        elif marker in (0xC2, 0xC3, 0xC6, 0xC7):
            raise NotImplementedError(
                f"hierarchical frame marker 0xFF{marker:02X} "
                "(progressive/lossless stage) is out of scope; "
                "sequential SOF0/SOF1 + differential SOF5 decode"
            )
        elif marker in (0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                "arithmetic-coded JPEG requires the QM-coder Qe state "
                "table (spec data this repo cannot certify); huffman "
                "frames decode"
            )
        elif marker == 0xDA:
            if cur is None:
                raise ValueError("JPEG SOS before a frame header")
            differential, w, h, comps = cur
            ns = body[0]
            if ns != len(comps):
                raise NotImplementedError(
                    "hierarchical scope is one interleaved scan per "
                    "frame"
                )
            for s in range(ns):
                cs, tables = body[1 + 2 * s], body[2 + 2 * s]
                for c in comps:
                    if c["id"] == cs:
                        c["td"], c["ta"] = tables >> 4, tables & 0xF
            state = _jpeg_scan(
                payload, pos + 2 + seglen, w, h, comps, qtabs, htabs,
                restart_interval, finish=False,
                dc_predict=not differential,
            )
            planes = _jpeg_hier_spatial(state, differential)
            if differential:
                eh, ev = pending_exp
                pending_exp = (0, 0)
                new_refs = []
                for ref, diff in zip(refs, planes):
                    if eh or ev:
                        ref = _jpeg_expand(ref, eh, ev)
                    ref = ref[:h, :w]
                    if ref.shape != (h, w):
                        raise ValueError(
                            "hierarchical reference smaller than the "
                            "differential frame"
                        )
                    new_refs.append(np.clip(
                        ref + np.round(diff).astype(np.int64), 0, 255
                    ))
                refs = new_refs
            else:
                refs = [
                    np.clip(np.round(p), 0, 255).astype(np.int64)
                    for p in planes
                ]
            cur = None
            pos = _jpeg_next_marker(payload, pos + 2 + seglen)
            continue
        pos += 2 + seglen
    if refs is None or dhp is None:
        raise ValueError("hierarchical JPEG produced no image")
    w, h, _ids = dhp
    if any(r.shape != (h, w) for r in refs):
        raise ValueError(
            "hierarchical references do not reach the DHP dimensions"
        )
    if len(refs) == 1:
        y = refs[0].astype(np.uint8)
        bgr = np.repeat(y[:, :, None], 3, axis=2)
    else:
        y = refs[0].astype(np.float64)
        cb = refs[1].astype(np.float64) - 128.0
        cr = refs[2].astype(np.float64) - 128.0
        bgr = np.stack(
            [
                y + 1.772 * cb,
                y - 0.344136 * cb - 0.714136 * cr,
                y + 1.402 * cr,
            ],
            axis=2,
        )
        bgr = np.clip(np.round(bgr), 0, 255).astype(np.uint8)
    return {
        "width": w,
        "height": h,
        "bit_count": 24,
        "n_pixels": w * h,
        "pixels": bgr.tobytes(),
    }


def encode_jpeg_hierarchical(gray_rows=None, rows_rgb=None,
                             levels: int = 2, quant: int = 1) -> bytes:
    """Encode a hierarchical (DHP-led) JPEG — the fixture inverse of
    :func:`_decode_jpeg_hierarchical`. The pyramid point-samples the
    source by 2 per level (ceil dims); the coarsest level becomes a
    non-differential SOF0 frame, and each finer level is an EXP
    doubling followed by a differential SOF5 frame coding the residual
    against the decoder's own reconstruction (the encoder mirrors the
    dequant+IDCT+clamp stages exactly, so the final output error is
    bounded by the last stage's DCT rounding alone — |err| <= 4 at
    quant 1, the baseline bound). DC is predicted within
    non-differential scans and coded with PRED=0 in differential ones;
    per-frame canonical huffman tables at destinations 0/1."""
    import struct

    import numpy as np

    if (gray_rows is None) == (rows_rgb is None):
        raise ValueError("exactly one of gray_rows/rows_rgb")
    if levels < 1:
        raise ValueError("levels >= 1")
    if gray_rows is not None:
        planes = [np.asarray(gray_rows, dtype=np.float64)]
    else:
        rgb = np.asarray(rows_rgb, dtype=np.float64)
        r, g, b = rgb[:, :, 0], rgb[:, :, 1], rgb[:, :, 2]
        planes = [
            np.round(0.299 * r + 0.587 * g + 0.114 * b),
            np.round(128 - 0.168736 * r - 0.331264 * g + 0.5 * b),
            np.round(128 + 0.5 * r - 0.418688 * g - 0.081312 * b),
        ]
    planes = [np.clip(p, 0, 255) for p in planes]
    ncomp = len(planes)
    h, w = planes[0].shape
    # pyramid: level 0 = full resolution, level k point-samples stride
    # 2^k (ceil dims match repeated EXP-doubling + crop)
    targets = [planes]
    for _ in range(levels - 1):
        targets.append([p[::2, ::2] for p in targets[-1]])
    targets.reverse()  # coarsest first
    m8 = _idct_matrix()
    qtab = np.full((8, 8), quant, dtype=np.int64)

    def frame(planes_int, differential):
        """Encode one sequential frame; returns (segments bytes,
        decoder-mirror reconstruction planes)."""
        fh, fw = planes_int[0].shape
        mcu_x, mcu_y = -(-fw // 8), -(-fh // 8)
        comp_blocks = []
        recon = []
        for p in planes_int:
            fp = np.pad(
                p.astype(np.float64),
                ((0, mcu_y * 8 - fh), (0, mcu_x * 8 - fw)),
                mode="edge",
            )
            blocks = fp.reshape(mcu_y, 8, mcu_x, 8).transpose(
                0, 2, 1, 3
            ).reshape(-1, 8, 8)
            shift = 0.0 if differential else 128.0
            coefs = np.einsum("ik,nkl,jl->nij", m8, blocks - shift, m8)
            qc = np.round(coefs / qtab).astype(np.int64)
            comp_blocks.append(qc)
            sp = np.einsum(
                "ki,nkl,lj->nij", m8, (qc * qtab).astype(np.float64), m8
            ) + shift
            rp = sp.reshape(mcu_y, mcu_x, 8, 8).transpose(
                0, 2, 1, 3
            ).reshape(mcu_y * 8, mcu_x * 8)[:fh, :fw]
            recon.append(rp)
        # tokens, MCU-interleaved (1x1 factors: one block per comp)
        def magv(v):
            t = int(abs(int(v))).bit_length()
            return t, (v if v >= 0 else v + (1 << t) - 1)

        stream = []
        dc_syms = [set() for _ in range(ncomp)]
        ac_syms = [set() for _ in range(ncomp)]
        pred = [0] * ncomp
        for m in range(mcu_x * mcu_y):
            for ci in range(ncomp):
                blk = comp_blocks[ci][m]
                zz = [int(blk.reshape(-1)[z]) for z in _JPEG_ZIGZAG]
                base = 0 if differential else pred[ci]
                t, bv = magv(zz[0] - base)
                pred[ci] = zz[0]
                toks = [("dc", t, bv, t)]
                dc_syms[ci].add(t)
                run = 0
                last_nz = max(
                    (k for k in range(1, 64) if zz[k]), default=0
                )
                for k in range(1, last_nz + 1):
                    if zz[k] == 0:
                        run += 1
                        continue
                    while run > 15:
                        toks.append(("ac", 0xF0, 0, 0))
                        ac_syms[ci].add(0xF0)
                        run -= 16
                    s, bv2 = magv(zz[k])
                    sym = (run << 4) | s
                    toks.append(("ac", sym, bv2, s))
                    ac_syms[ci].add(sym)
                    run = 0
                if last_nz < 63:
                    toks.append(("ac", 0x00, 0, 0))
                    ac_syms[ci].add(0x00)
                stream.append((ci, toks))
        n_dest = min(ncomp, 2)
        dest = [min(ci, 1) for ci in range(ncomp)]
        dc_tabs = [
            _jpeg_canonical_tables(set().union(
                *(dc_syms[ci] for ci in range(ncomp) if dest[ci] == t)
            ))
            for t in range(n_dest)
        ]
        ac_tabs = [
            _jpeg_canonical_tables(set().union(
                *(ac_syms[ci] for ci in range(ncomp) if dest[ci] == t)
            ))
            for t in range(n_dest)
        ]
        out = bytearray()
        acc, nacc = 0, 0

        def put(val, nb):
            nonlocal acc, nacc
            for i in range(nb - 1, -1, -1):
                acc = (acc << 1) | ((val >> i) & 1)
                nacc += 1
                if nacc == 8:
                    out.append(acc)
                    if acc == 0xFF:
                        out.append(0x00)
                    acc, nacc = 0, 0

        for ci, toks in stream:
            for kind, sym, bv, nb in toks:
                L, code = (
                    dc_tabs if kind == "dc" else ac_tabs
                )[dest[ci]][2][sym]
                put(code, L)
                if nb:
                    put(bv, nb)
        if nacc:
            put((1 << (8 - nacc)) - 1, 8 - nacc)

        def seg(marker, sbody):
            return bytes([0xFF, marker]) + struct.pack(
                ">H", len(sbody) + 2
            ) + sbody

        segs = b""
        for t in range(n_dest):
            for tc, (bits, vals, _) in ((0, dc_tabs[t]),
                                        (1, ac_tabs[t])):
                segs += seg(0xC4, bytes([(tc << 4) | t]) + bytes(bits)
                            + vals)
        sof = struct.pack(">BHHB", 8, fh, fw, ncomp)
        for ci in range(ncomp):
            sof += bytes([ci + 1, 0x11, 0])
        segs += seg(0xC5 if differential else 0xC0, sof)
        sos = bytes([ncomp])
        for ci in range(ncomp):
            sos += bytes([ci + 1, (dest[ci] << 4) | dest[ci]])
        sos += b"\x00\x3f\x00"
        segs += seg(0xDA, sos)
        return segs + bytes(out), recon

    def seg(marker, sbody):
        return bytes([0xFF, marker]) + struct.pack(
            ">H", len(sbody) + 2
        ) + sbody

    out = bytearray(b"\xff\xd8")
    zz_q = bytes(int(qtab.reshape(-1)[z]) for z in _JPEG_ZIGZAG)
    out += seg(0xDB, bytes([0x00]) + zz_q)
    dhp = struct.pack(">BHHB", 8, h, w, ncomp)
    for ci in range(ncomp):
        dhp += bytes([ci + 1, 0x11, 0])
    out += seg(0xDE, dhp)
    # coarsest: non-differential frame; encoder mirrors the decoder's
    # clamp-to-int after every stage so residuals are computed against
    # the decoder's actual references
    body, recon = frame([t.astype(np.int64) for t in targets[0]], False)
    out += body
    refs = [np.clip(np.round(r), 0, 255).astype(np.int64) for r in recon]
    for lv in range(1, levels):
        tgt = targets[lv]
        th, tw = tgt[0].shape
        eh = 1 if tw > refs[0].shape[1] else 0
        ev = 1 if th > refs[0].shape[0] else 0
        if eh or ev:
            out += seg(0xDF, bytes([(eh << 4) | ev]))
            refs = [_jpeg_expand(r, eh, ev)[:th, :tw] for r in refs]
        diffs = [t.astype(np.int64) - r for t, r in zip(tgt, refs)]
        body, recon = frame(diffs, True)
        out += body
        refs = [
            np.clip(r + np.round(d).astype(np.int64), 0, 255)
            for r, d in zip(refs, recon)
        ]
    out += b"\xff\xd9"
    return bytes(out)


def encode_jpeg(rows_rgb=None, gray_rows=None, quant=1, restart_interval=0,
              subsampling="444", quant16=False, precision=8):
    """Encode a baseline JFIF JPEG with stdlib struct + numpy: forward
    DCT via the same orthonormal basis the decoder inverts, flat ``quant``
    tables, per-file canonical huffman tables covering exactly the
    emitted symbols, optional DRI/RSTn restart intervals. Color input is
    top-down (r, g, b) pixel rows; ``subsampling`` picks the Y sampling
    factor ("444" = 1x1, "422" = 2x1, "420" = 2x2 with box-averaged
    chroma) with MCU-interleaved block emission per T.81 A.2.3.
    ``gray_rows`` encodes a single-component scan. ``precision`` 12
    (round 17) writes an SOF1 extended-sequential stream: input sample
    values are 0..4095, the level shift and chroma center move to
    2048, and everything else — quant, Huffman construction, MCU
    interleave — is shared with the 8-bit path."""
    import struct

    import numpy as np

    if precision not in (8, 12):
        raise ValueError("JPEG sample precision is 8 or 12 (T.81)")
    center = 1 << (precision - 1)
    if gray_rows is not None:
        planes = [np.asarray(gray_rows, dtype=np.float64)]
        facs = [(1, 1)]
    else:
        rgb = np.asarray(rows_rgb, dtype=np.float64)
        r, g, b = rgb[:, :, 0], rgb[:, :, 1], rgb[:, :, 2]
        planes = [
            np.round(0.299 * r + 0.587 * g + 0.114 * b),
            np.round(center - 0.168736 * r - 0.331264 * g + 0.5 * b),
            np.round(center + 0.5 * r - 0.418688 * g - 0.081312 * b),
        ]
        if isinstance(subsampling, (tuple, list)):
            # explicit per-component (h, v) factors (round 17) — the
            # way to emit T.81-legal NON-DIVISOR ratios; components
            # whose factor does not divide the frame max downsample by
            # nearest-floor point sampling (the encoder-side choice is
            # free; the decoder's upsampler is under test)
            facs = [tuple(f) for f in subsampling]
            if len(facs) != 3 or any(
                not (1 <= f[0] <= 4 and 1 <= f[1] <= 4) for f in facs
            ):
                raise ValueError(
                    "explicit subsampling wants three (h, v) pairs in "
                    "1..4"
                )
        else:
            yfac = {"444": (1, 1), "422": (2, 1), "420": (2, 2),
                    "411": (4, 1), "440": (1, 2)}[subsampling]
            facs = [yfac, (1, 1), (1, 1)]
    height, width = planes[0].shape
    ncomp = len(planes)
    hmax = max(f[0] for f in facs)
    vmax = max(f[1] for f in facs)
    mcu_x = -(-width // (8 * hmax))
    mcu_y = -(-height // (8 * vmax))
    m8 = _idct_matrix()
    qtab = np.full((8, 8), quant, dtype=np.int32)

    # per-component quantized coefficient block grids (gy x gx blocks)
    comp_blocks = []
    for p, (hc, vc) in zip(planes, facs):
        th, tw = mcu_y * 8 * vc, mcu_x * 8 * hc
        fp = np.pad(
            p,
            ((0, mcu_y * 8 * vmax - height), (0, mcu_x * 8 * hmax - width)),
            mode="edge",
        )
        if (hc, vc) != (hmax, vmax):
            if vmax % vc == 0 and hmax % hc == 0:
                # divisor ratio: box-average down to this component
                fy, fx = vmax // vc, hmax // hc
                fp = np.round(fp.reshape(th, fy, tw, fx).mean(axis=(1, 3)))
            else:
                # non-divisor ratio (round 17): nearest-floor point
                # sampling from the full-resolution padded plane
                ridx = np.arange(th) * vmax // vc
                cidx = np.arange(tw) * hmax // hc
                fp = fp[np.ix_(ridx, cidx)]
        blocks = fp.reshape(mcu_y * vc, 8, mcu_x * hc, 8).transpose(
            0, 2, 1, 3
        ).reshape(-1, 8, 8)
        coefs = np.einsum("ik,nkl,jl->nij", m8, blocks - float(center), m8)
        comp_blocks.append(np.round(coefs / qtab).astype(np.int64))

    def mag(v):
        t = int(abs(v)).bit_length()
        return t, (v if v >= 0 else v + (1 << t) - 1)

    # pass 1: serialize blocks in MCU-interleaved order to symbol tokens
    stream = []  # ("rst", n) | ("blk", ci, [( "dc"/"ac", sym, bits, nbits)])
    dc_syms = [set() for _ in range(ncomp)]
    ac_syms = [set() for _ in range(ncomp)]
    pred = [0] * ncomp
    for my in range(mcu_y):
        for mx in range(mcu_x):
            m = my * mcu_x + mx
            if restart_interval and m and m % restart_interval == 0:
                stream.append(("rst", (m // restart_interval - 1) % 8))
                pred = [0] * ncomp
            for ci, (hc, vc) in enumerate(facs):
                gx = mcu_x * hc
                for v in range(vc):
                    for hh in range(hc):
                        blk = comp_blocks[ci][(my * vc + v) * gx + mx * hc + hh]
                        zz = blk.reshape(-1)[_jpeg_zigzag_np()].tolist()
                        t, bitsv = mag(zz[0] - pred[ci])
                        pred[ci] = zz[0]
                        toks = [("dc", t, bitsv, t)]
                        dc_syms[ci].add(t)
                        # walk only the nonzero coefficients; zero gaps
                        # become the run nibble / ZRL tokens directly
                        prev = 0
                        for k in range(1, 64):
                            if not zz[k]:
                                continue
                            run = k - prev - 1
                            while run > 15:
                                toks.append(("ac", 0xF0, 0, 0))
                                ac_syms[ci].add(0xF0)
                                run -= 16
                            s, bv = mag(zz[k])
                            sym = (run << 4) | s
                            toks.append(("ac", sym, bv, s))
                            ac_syms[ci].add(sym)
                            prev = k
                        if prev < 63:
                            toks.append(("ac", 0x00, 0, 0))
                            ac_syms[ci].add(0x00)
                        stream.append(("blk", ci, toks))

    # T.81 baseline permits Huffman destinations 0 and 1 only (B.2.4.2
    # note + table F.?): the conventional layout — destination 0 for
    # luma, destination 1 shared by both chroma components (their symbol
    # sets merged) — keeps the emitted files strictly conforming
    # (round 16; previously component 3 got the illegal Th=2)
    n_dest = min(ncomp, 2)
    dest = [min(ci, 1) for ci in range(ncomp)]
    dc_tabs = [
        _jpeg_canonical_tables(
            set().union(*(dc_syms[ci] for ci in range(ncomp)
                          if dest[ci] == t))
        )
        for t in range(n_dest)
    ]
    ac_tabs = [
        _jpeg_canonical_tables(
            set().union(*(ac_syms[ci] for ci in range(ncomp)
                          if dest[ci] == t))
        )
        for t in range(n_dest)
    ]

    # pass 2: emit the entropy stream with byte stuffing + restarts.
    # Round-18 bulk form (guide §4.2): gather every (code, width) per
    # restart segment, pack the whole segment's bits with one
    # np.packbits (padding the tail with 1s, as the per-put flush did),
    # then insert the 0x00 stuffing byte after every emitted 0xFF —
    # byte-identical to the round-17 per-token put() loop by
    # construction (stuffing never altered the bit accumulator).
    out = bytearray()
    seg_v: list = []
    seg_w: list = []

    def emit_segment() -> None:
        if not seg_v:
            return
        v = np.asarray(seg_v, dtype=np.int64)
        w = np.asarray(seg_w, dtype=np.int64)
        ends = np.cumsum(w)
        total = int(ends[-1])
        shift = np.repeat(ends, w) - 1 - np.arange(total, dtype=np.int64)
        bits = ((np.repeat(v, w) >> shift) & 1).astype(np.uint8)
        pad = (-total) % 8
        if pad:
            bits = np.concatenate([bits, np.ones(pad, np.uint8)])
        arr = np.packbits(bits)
        ff = np.flatnonzero(arr == 0xFF)
        if len(ff):
            arr = np.insert(arr, ff + 1, np.uint8(0))
        out.extend(arr.tobytes())
        seg_v.clear()
        seg_w.clear()

    for item in stream:
        if item[0] == "rst":
            emit_segment()
            out += bytes([0xFF, 0xD0 + item[1]])
            continue
        _, ci, toks = item
        for kind, sym, bv, nb in toks:
            enc = (dc_tabs if kind == "dc" else ac_tabs)[dest[ci]][2]
            L, code = enc[sym]
            seg_v.append(code)
            seg_w.append(L)
            if nb:
                seg_v.append(bv)
                seg_w.append(nb)
    emit_segment()

    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    hdr = b"\xff\xd8"
    hdr += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    if quant16:  # Pq=1: 16-bit big-endian table entries (T.81 B.2.4.1)
        zz_q = b"".join(
            struct.pack(">H", int(qtab.reshape(-1)[z])) for z in _JPEG_ZIGZAG
        )
        hdr += seg(0xDB, bytes([0x10]) + zz_q)
    else:
        zz_q = bytes(int(qtab.reshape(-1)[z]) for z in _JPEG_ZIGZAG)
        hdr += seg(0xDB, bytes([0x00]) + zz_q)
    sof = struct.pack(">BHHB", precision, height, width, ncomp)
    for ci, (hc, vc) in enumerate(facs):
        sof += bytes([ci + 1, (hc << 4) | vc, 0])
    hdr += seg(0xC0 if precision == 8 else 0xC1, sof)
    for t in range(n_dest):
        for tc, (bits, vals, _) in ((0, dc_tabs[t]), (1, ac_tabs[t])):
            hdr += seg(0xC4, bytes([(tc << 4) | t]) + bytes(bits) + vals)
    if restart_interval:
        hdr += seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytes([ncomp])
    for ci in range(ncomp):
        sos += bytes([ci + 1, (dest[ci] << 4) | dest[ci]])
    sos += b"\x00\x3f\x00"
    hdr += seg(0xDA, sos)
    return hdr + bytes(out) + b"\xff\xd9"



def encode_jpeg_progressive(rows_rgb=None, gray_rows=None, quant=1,
                          subsampling="444", restart_interval=0):
    """Encode a progressive (SOF2) JFIF JPEG exercising all four scan
    kinds of T.81 Annex G: DC first (Al=1, interleaved per the frame's
    MCU geometry) + DC refinement, then per component AC first scans
    over two spectral bands (Al=1, with EOBRUN coding) + AC refinement
    scans (the G.1.2.3 correction algorithm with buffered correction
    bits, ZRL folding and EOB-run corrections). ``subsampling`` picks
    the Y factor exactly like :func:`make_jpeg` ("444"/"422"/"420" —
    AC scans then cover each component's OWN block raster, excluding the
    MCU-padding blocks, per A.2.2). Flat quant tables — encodes the SAME
    quantized coefficients as the baseline encoder, so baseline and
    progressive decodes of one image must be byte-identical."""
    import struct

    import numpy as np

    if gray_rows is not None:
        planes = [np.asarray(gray_rows, dtype=np.float64)]
        facs = [(1, 1)]
    else:
        rgb = np.asarray(rows_rgb, dtype=np.float64)
        r_, g_, b_ = rgb[:, :, 0], rgb[:, :, 1], rgb[:, :, 2]
        planes = [
            np.round(0.299 * r_ + 0.587 * g_ + 0.114 * b_),
            np.round(128 - 0.168736 * r_ - 0.331264 * g_ + 0.5 * b_),
            np.round(128 + 0.5 * r_ - 0.418688 * g_ - 0.081312 * b_),
        ]
        yfac = {"444": (1, 1), "422": (2, 1), "420": (2, 2),
                "411": (4, 1), "440": (1, 2)}[subsampling]
        facs = [yfac, (1, 1), (1, 1)]
    height, width = planes[0].shape
    ncomp = len(planes)
    hmax = max(f[0] for f in facs)
    vmax = max(f[1] for f in facs)
    mcu_x = -(-width // (8 * hmax))
    mcu_y = -(-height // (8 * vmax))
    m8 = _idct_matrix()
    qtab = np.full((8, 8), quant, dtype=np.int32)
    coefs = []   # per comp: (gy*gx, 8, 8) int blocks, grid raster order
    grids = []   # per comp: (gx, gy) of the MCU-padded grid
    cdims = []   # per comp: (cbx, cby) of the component's OWN raster
    for p, (hc, vc) in zip(planes, facs):
        th, tw = mcu_y * 8 * vc, mcu_x * 8 * hc
        fp = np.pad(
            p,
            ((0, mcu_y * 8 * vmax - height), (0, mcu_x * 8 * hmax - width)),
            mode="edge",
        )
        if (hc, vc) != (hmax, vmax):
            fy, fx = vmax // vc, hmax // hc
            fp = np.round(fp.reshape(th, fy, tw, fx).mean(axis=(1, 3)))
        blocks = fp.reshape(mcu_y * vc, 8, mcu_x * hc, 8).transpose(
            0, 2, 1, 3
        ).reshape(-1, 8, 8)
        c = np.einsum("ik,nkl,jl->nij", m8, blocks - 128.0, m8)
        coefs.append(np.round(c / qtab).astype(np.int64))
        grids.append((mcu_x * hc, mcu_y * vc))
        wc = -(-width * hc // hmax)
        hcpx = -(-height * vc // vmax)
        cdims.append((-(-wc // 8), -(-hcpx // 8)))
    zz = _JPEG_ZIGZAG

    def mag(v):
        t = int(abs(v)).bit_length()
        return t, (v if v >= 0 else v + (1 << t) - 1)

    def dc_block_order(scan_cis):
        """(ci, grid_index, mcu_counter) emission order: interleaved MCU
        order when the scan has several components, the component's own
        raster otherwise — mirroring the decoder exactly. The counter is
        what DRI restart boundaries tick on (MCUs interleaved, blocks
        raster)."""
        if len(scan_cis) > 1:
            for my in range(mcu_y):
                for mx in range(mcu_x):
                    for ci in scan_cis:
                        hc, vc = facs[ci]
                        gx = grids[ci][0]
                        for v in range(vc):
                            for hh in range(hc):
                                yield (ci, (my * vc + v) * gx + mx * hc + hh,
                                       my * mcu_x + mx)
        else:
            ci = scan_cis[0]
            gx = grids[ci][0]
            cbx, cby = cdims[ci]
            for row in range(cby):
                for col in range(cbx):
                    yield ci, row * gx + col, row * cbx + col

    def rst_boundary(toks, m, seen):
        """Emit a restart token when MCU/block counter m opens a new
        DRI interval; returns True when state must reset."""
        if restart_interval and m and m % restart_interval == 0 \
                and m not in seen:
            seen.add(m)
            toks.append(("rst", (m // restart_interval - 1) % 8, 0))
            return True
        return False

    def dc_first_tokens(scan_cis, al):
        toks, pred, seen = [], {ci: 0 for ci in scan_cis}, set()
        for ci, m, mcu in dc_block_order(scan_cis):
            if rst_boundary(toks, mcu, seen):
                pred = {c: 0 for c in pred}
            d = int(coefs[ci][m][0, 0]) >> al
            t, bv = mag(d - pred[ci])
            pred[ci] = d
            toks.append(("sym", (0, ci), t))
            if t:
                toks.append(("raw", bv, t))
        return toks

    def dc_refine_tokens(scan_cis, al):
        toks, seen = [], set()
        for ci, m, mcu in dc_block_order(scan_cis):
            rst_boundary(toks, mcu, seen)
            toks.append(("raw", (int(coefs[ci][m][0, 0]) >> al) & 1, 1))
        return toks

    def ac_blocks(ci):
        gx = grids[ci][0]
        cbx, cby = cdims[ci]
        for row in range(cby):
            for col in range(cbx):
                yield coefs[ci][row * gx + col]

    def ac_first_tokens(ci, ss, se, al):
        toks, eobrun = [], 0

        def flush_eob():
            nonlocal eobrun
            if eobrun:
                rr = eobrun.bit_length() - 1
                toks.append(("sym", (1, ci), rr << 4))
                if rr:
                    toks.append(("raw", eobrun - (1 << rr), rr))
                eobrun = 0

        seen = set()
        for bi, blk in enumerate(ac_blocks(ci)):
            if restart_interval and bi and bi % restart_interval == 0 \
                    and bi not in seen:
                seen.add(bi)
                flush_eob()
                toks.append(("rst", (bi // restart_interval - 1) % 8, 0))
            flat = blk.reshape(-1)
            v = {
                k: (1 if flat[zz[k]] >= 0 else -1) * (abs(int(flat[zz[k]])) >> al)
                for k in range(ss, se + 1)
            }
            last = max((k for k in v if v[k]), default=None)
            if last is None:
                eobrun += 1
                continue
            flush_eob()
            r = 0
            for k in range(ss, last + 1):
                if v[k] == 0:
                    r += 1
                    continue
                while r > 15:
                    toks.append(("sym", (1, ci), 0xF0))
                    r -= 16
                t, bv = mag(v[k])
                toks.append(("sym", (1, ci), (r << 4) | t))
                toks.append(("raw", bv, t))
                r = 0
            if last < se:
                eobrun += 1
        flush_eob()
        return toks

    def ac_refine_tokens(ci, ss, se, al):
        toks, eobrun, be = [], 0, []

        def flush_eob():
            nonlocal eobrun, be
            if eobrun:
                rr = eobrun.bit_length() - 1
                toks.append(("sym", (1, ci), rr << 4))
                if rr:
                    toks.append(("raw", eobrun - (1 << rr), rr))
                toks.extend(("raw", b, 1) for b in be)
                eobrun, be = 0, []

        seen = set()
        for bi, blk in enumerate(ac_blocks(ci)):
            if restart_interval and bi and bi % restart_interval == 0 \
                    and bi not in seen:
                seen.add(bi)
                flush_eob()
                toks.append(("rst", (bi // restart_interval - 1) % 8, 0))
            flat = blk.reshape(-1)
            absv = {k: abs(int(flat[zz[k]])) >> al for k in range(ss, se + 1)}
            eob = max((k for k in absv if absv[k] == 1), default=None)
            r, br = 0, []
            for k in range(ss, se + 1):
                t = absv[k]
                if t == 0:
                    r += 1
                    continue
                while r > 15 and eob is not None and k <= eob:
                    flush_eob()
                    toks.append(("sym", (1, ci), 0xF0))
                    r -= 16
                    toks.extend(("raw", b, 1) for b in br)
                    br = []
                if t > 1:
                    br.append(t & 1)
                    continue
                flush_eob()
                toks.append(("sym", (1, ci), (r << 4) | 1))
                toks.append(("raw", 1 if flat[zz[k]] >= 0 else 0, 1))
                toks.extend(("raw", b, 1) for b in br)
                br = []
                r = 0
            if r > 0 or br:
                eobrun += 1
                be.extend(br)
        flush_eob()
        return toks

    # scan script: DC first/refine over all comps, then per-comp AC
    # first + refine over two spectral bands
    scans = [(list(range(ncomp)), 0, 0, 0, 1, dc_first_tokens(list(range(ncomp)), 1)),
             (list(range(ncomp)), 0, 0, 1, 0, dc_refine_tokens(list(range(ncomp)), 0))]
    for ci in range(ncomp):
        scans.append(([ci], 1, 5, 0, 1, ac_first_tokens(ci, 1, 5, 1)))
        scans.append(([ci], 6, 63, 0, 1, ac_first_tokens(ci, 6, 63, 1)))
    for ci in range(ncomp):
        scans.append(([ci], 1, 5, 1, 0, ac_refine_tokens(ci, 1, 5, 0)))
        scans.append(([ci], 6, 63, 1, 0, ac_refine_tokens(ci, 6, 63, 0)))

    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    out = bytearray(b"\xff\xd8")
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    zz_q = bytes(int(qtab.reshape(-1)[z]) for z in zz)
    out += seg(0xDB, bytes([0x00]) + zz_q)
    sof = struct.pack(">BHHB", 8, height, width, ncomp)
    for ci, (hc, vc) in enumerate(facs):
        sof += bytes([ci + 1, (hc << 4) | vc, 0])
    out += seg(0xC2, sof)  # SOF2: progressive
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))

    for scan_cis, ss, se, ah, al, toks in scans:
        # per-scan canonical tables over the symbols actually emitted
        syms = {}
        for tok in toks:
            if tok[0] == "sym":
                syms.setdefault(tok[1], set()).add(tok[2])
        encs = {}
        for (tc, ci), ss_set in syms.items():
            bits, vals, enc = _jpeg_canonical_tables(ss_set)
            out += seg(0xC4, bytes([(tc << 4) | ci]) + bytes(bits) + vals)
            encs[(tc, ci)] = enc
        sos = bytes([len(scan_cis)])
        for ci in scan_cis:
            sos += bytes([ci + 1, (ci << 4) | ci])
        sos += bytes([ss, se, (ah << 4) | al])
        out += seg(0xDA, sos)
        # bitstream
        acc, nacc = 0, 0
        ent = bytearray()
        for tok in toks:
            if tok[0] == "rst":
                if nacc:  # pad to the byte boundary with 1s
                    acc = (acc << (8 - nacc)) | ((1 << (8 - nacc)) - 1)
                    ent.append(acc)
                    if acc == 0xFF:
                        ent.append(0x00)
                    acc, nacc = 0, 0
                ent += bytes([0xFF, 0xD0 + tok[1]])
                continue
            if tok[0] == "sym":
                L, code = encs[tok[1]][tok[2]]
                val, nb = code, L
            else:
                _, val, nb = tok
            for i in range(nb - 1, -1, -1):
                acc = (acc << 1) | ((val >> i) & 1)
                nacc += 1
                if nacc == 8:
                    ent.append(acc)
                    if acc == 0xFF:
                        ent.append(0x00)
                    acc, nacc = 0, 0
        if nacc:
            acc = (acc << (8 - nacc)) | ((1 << (8 - nacc)) - 1)
            ent.append(acc)
            if acc == 0xFF:
                ent.append(0x00)
        out += ent
    out += b"\xff\xd9"
    return bytes(out)




def _decode_avi(payload: bytes, probe: bool = False) -> dict:
    """Parse an uncompressed-DIB AVI container with stdlib ``struct``.

    The video analogue of the WAV/BMP paths: a RIFF chunk walk finds the
    ``avih`` main header (dimensions, frame count, frame interval) and
    collects the frame chunks from the ``movi`` list. Returns ``width,
    height, n_frames, usec_per_frame, frames`` with ``frames`` the list
    of raw bottom-up DIB pixel buffers (frame pixel layout follows the
    BMP convention; :func:`sample_video_frames` normalizes).

    Two frame encodings are REAL here: ``..db`` chunks (uncompressed
    DIB, passed through exactly as stored) and — when the video strf's
    ``biCompression`` fourcc is ``MJPG`` — ``..dc`` chunks, each of
    which is a self-contained JFIF JPEG decoded through
    :func:`_decode_jpeg` and re-laid-out as a bottom-up padded 24-bit
    DIB, so every downstream kernel (frame sampling, fingerprints,
    resize) consumes MJPEG and raw AVIs identically. Per the MJPG
    convention each frame must carry its own quant/huffman tables (the
    table-less ``AVI1``/OpenDML variant with implied tables is out of
    scope and surfaces as the decoder's missing-table ValueError). Any
    OTHER compressed fourcc (``cvid``, ``h264``, …) is rejected loudly
    — interframe codecs need real external decoders, the documented
    seam — as is a file mixing ``..db`` and ``..dc`` frames.

    ``probe=True`` is the metadata-only mode :func:`probe_video` uses
    for routing/budgeting: frame chunks are COUNTED, never copied or
    decoded (a multi-GB blob probes without materializing its pixels),
    compressed ``..dc`` frames count instead of raising (probing exists
    precisely to route those files), and the result carries
    ``compressed``/``n_frames``/``codec`` instead of ``frames``.
    """
    import struct

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not an AVI payload (missing RIFF/'AVI ' magic)")

    avih = None
    bit_count = None
    compression = None  # video strf biCompression fourcc (b"\0\0\0\0" = BI_RGB)
    raw_frames: list[tuple[str, bytes]] = []  # ("db"|"dc", chunk body)
    n_seen = 0
    compressed = False

    def walk(start: int, end: int) -> None:
        nonlocal avih, bit_count, compression, n_seen, compressed
        # fccType of the most recent 'strh' in THIS list only: each LIST
        # level gets its own, so a child strl can never leak its stream
        # type to a later sibling (a stray 'strf' after an audio strl
        # would otherwise be read against the stale type), and a strl
        # whose strf has no preceding strh matches nothing
        stream_type = None
        pos = start
        while pos + 8 <= end:
            cid = payload[pos : pos + 4]
            (size,) = struct.unpack_from("<I", payload, pos + 4)
            body0, body1 = pos + 8, pos + 8 + size
            if body1 > end:
                raise ValueError("truncated AVI: chunk extends past its parent")
            if cid == b"LIST":
                walk(body0 + 4, body1)  # skip the 4-byte list type, recurse
            elif cid == b"avih":
                if size < 40:
                    raise ValueError(f"'avih' chunk too small ({size} bytes)")
                avih = struct.unpack_from("<10I", payload, body0)
            elif cid == b"strh":
                # remember which stream the following strf describes
                stream_type = payload[body0 : body0 + 4]
            elif cid == b"strf" and stream_type == b"vids" and bit_count is None:
                # VIDEO stream format = BITMAPINFOHEADER; biBitCount at +14.
                # An audio stream's strf is a WAVEFORMATEX whose bytes at +14
                # are NOT a bit count — gating on the preceding strh fccType
                # keeps audio-first AVIs from yielding a garbage DIB stride.
                if size < 16:
                    raise ValueError(f"video 'strf' chunk too small ({size} bytes)")
                bit_count = struct.unpack_from("<H", payload, body0 + 14)[0]
                if size >= 20:  # biCompression fourcc at BITMAPINFOHEADER +16
                    compression = payload[body0 + 16 : body0 + 20]
            elif cid[2:4] == b"db":  # uncompressed DIB frame ('00db', '01db', …)
                n_seen += 1
                if not probe:
                    raw_frames.append(("db", payload[body0:body1]))
            elif cid[2:4] == b"dc":  # compressed frame: real iff MJPG
                n_seen += 1
                compressed = True
                if not probe:
                    raw_frames.append(("dc", payload[body0:body1]))
            pos = body1 + (size & 1)  # RIFF pads chunks to even offsets

    walk(12, len(payload))
    if avih is None:
        raise ValueError("no 'avih' main header found")
    usec_per_frame, _, _, _, total_frames, _, _, _, width, height = avih
    if width <= 0 or height <= 0:
        raise ValueError(f"degenerate AVI dimensions {width}x{height}")
    if total_frames != n_seen:
        raise ValueError(
            f"frame count mismatch: avih says {total_frames}, movi has {n_seen}"
        )
    out = {
        "width": width,
        "height": height,
        "bit_count": bit_count if bit_count is not None else 24,
        "n_frames": n_seen,
        "usec_per_frame": usec_per_frame,
    }
    if probe:
        out["compressed"] = compressed
        out["codec"] = (
            compression.decode("ascii", errors="replace")
            if compression not in (None, b"\x00\x00\x00\x00")
            else "DIB"
        )
        return out
    kinds = {k for k, _ in raw_frames}
    if kinds == {"db"} or not raw_frames:
        out["frames"] = [buf for _, buf in raw_frames]
        return out
    if "db" in kinds:  # dc too — one stream, one encoding
        raise ValueError("AVI mixes '..db' and '..dc' frames in one stream")
    if compression not in (b"MJPG", b"mjpg"):
        raise ValueError(
            "compressed AVI frame ('..dc') — needs an external "
            "codec (SURVEY §2.10 U1/U2 seam); only uncompressed "
            "DIB and MJPG are real here"
        )
    import numpy as np

    # Motion-JPEG: every '..dc' chunk is a standalone JFIF JPEG. Decode
    # through the same kernel as still images, then re-lay-out the
    # top-down packed BGR plane as the bottom-up padded DIB every
    # downstream frame consumer already expects.
    stride = (width * 3 + 3) // 4 * 4
    frames = []
    for _, buf in raw_frames:
        m = _decode_jpeg(buf)
        if (m["width"], m["height"]) != (width, height):
            raise ValueError(
                f"MJPG frame is {m['width']}x{m['height']} but the "
                f"container declares {width}x{height}"
            )
        plane = np.frombuffer(m["pixels"], np.uint8).reshape(height, width * 3)
        dib = np.zeros((height, stride), np.uint8)
        dib[:, : width * 3] = plane[::-1]
        frames.append(dib.tobytes())
    out["bit_count"] = 24  # decoded MJPG frames are always 24-bit BGR
    out["frames"] = frames
    return out


# Y4M colorspaces this decoder accepts: ((width divisor, height
# divisor), siting mode); None = no chroma planes. "box" = interstitial
# siting reconstructed by nearest replication (C420jpeg's centered
# sample serves all four lumas); "mpeg2" = horizontally CO-SITED with
# the left luma column (half-pel linear between columns), vertically
# interstitial (replication); "paldv" = co-sited horizontally, and
# vertically Cb is sited on EVEN luma rows / Cr on ODD rows with
# half-pel linear between.
_Y4M_CHROMA = {
    b"C444": ((1, 1), "box"),
    b"C422": ((2, 1), "box"),
    b"C411": ((4, 1), "box"),  # round 17: DV-heritage 4:1:1, cosited
    b"C420jpeg": ((2, 2), "box"),
    b"C420mpeg2": ((2, 2), "mpeg2"),
    b"C420paldv": ((2, 2), "paldv"),
    b"Cmono": (None, None),
}


def _y4m_upsample_chroma(plane, w: int, h: int, siting: str, comp: str):
    """Reconstruct a full-resolution (h, w) chroma plane from a
    subsampled one per the colorspace's siting, horizontal pass first
    then vertical, all integer with round-half-up ``(a + b + 1) >> 1``
    half-pel midpoints and edge clamping. ``comp`` ('cb'/'cr') only
    matters for paldv's row-parity siting."""
    import numpy as np

    p = plane.astype(np.int64)
    # horizontal: co-sited with the left luma of each pair
    right = np.concatenate([p[:, 1:], p[:, -1:]], axis=1)
    hh = np.empty((p.shape[0], 2 * p.shape[1]), np.int64)
    hh[:, 0::2] = p
    hh[:, 1::2] = (p + right + 1) >> 1
    hh = hh[:, :w]
    if siting == "mpeg2":  # vertically interstitial: replication
        out = hh.repeat(2, 0)[:h]
    else:  # paldv: Cb sited on even luma rows, Cr on odd
        down = np.concatenate([hh[1:], hh[-1:]], axis=0)
        up = np.concatenate([hh[:1], hh[:-1]], axis=0)
        out = np.empty((2 * hh.shape[0], w), np.int64)
        if comp == "cb":
            out[0::2] = hh
            out[1::2] = (hh + down + 1) >> 1
        else:
            out[1::2] = hh
            out[0::2] = (up + hh + 1) >> 1
        out = out[:h]
    return out.astype(np.uint8)


def _decode_y4m(payload: bytes) -> dict:
    """YUV4MPEG2 decode (the raw-video interchange format of codec and
    ML pipelines) into the SAME contract as :func:`_decode_avi`:
    ``width/height/n_frames/usec_per_frame/frames`` with each frame a
    bottom-up padded 24-bit BGR DIB. Stream header parameters W/H/F
    (frame rate as a num:den rational) are required; colorspaces
    C444/C422/C420jpeg/Cmono decode by replication and (round-17
    continuation) C420mpeg2/C420paldv reconstruct their co-sited
    half-pel chroma through :func:`_y4m_upsample_chroma`; other
    colorspaces raise by name. BT.601 conversion runs
    FULL-range when the stream carries XCOLORRANGE=FULL (the ffmpeg
    extension) and the Y4M-conventional LIMITED range (Y 16-235,
    C 16-240) otherwise."""
    import numpy as np

    nl = payload.find(b"\n")
    if not payload.startswith(b"YUV4MPEG2") or nl < 0:
        raise ValueError("not a Y4M payload (missing YUV4MPEG2 magic)")
    w = h = None
    num = den = None
    cs = b"C420jpeg"  # the spec default colorspace is 4:2:0
    full_range = False
    for tokenb in payload[9:nl].split():
        if tokenb[:1] == b"W":
            w = int(tokenb[1:])
        elif tokenb[:1] == b"H":
            h = int(tokenb[1:])
        elif tokenb[:1] == b"F":
            num, den = (int(x) for x in tokenb[1:].split(b":"))
        elif tokenb[:1] == b"C":
            cs = tokenb
        elif tokenb == b"XCOLORRANGE=FULL":
            full_range = True
        # I (interlacing) and A (aspect) params don't affect plane decode
    if not w or not h or not num or not den:
        raise ValueError("Y4M header missing W/H/F parameters")
    if cs not in _Y4M_CHROMA:
        raise NotImplementedError(
            f"Y4M colorspace {cs.decode(errors='replace')} is not "
            "implemented; C444/C422/C411/C420jpeg/C420mpeg2/C420paldv/"
            "Cmono decode"
        )
    sub, siting = _Y4M_CHROMA[cs]
    ysz = w * h
    csz = 0 if sub is None else ((w + sub[0] - 1) // sub[0]) * (
        (h + sub[1] - 1) // sub[1]
    )
    fsz = ysz + 2 * csz
    stride = (w * 3 + 3) // 4 * 4
    frames = []
    pos = nl + 1
    while pos < len(payload):
        fnl = payload.find(b"\n", pos)
        if not payload[pos:].startswith(b"FRAME") or fnl < 0:
            raise ValueError("Y4M frame boundary missing FRAME marker")
        body0 = fnl + 1
        if body0 + fsz > len(payload):
            raise ValueError("truncated Y4M frame")
        y = np.frombuffer(
            payload[body0 : body0 + ysz], np.uint8
        ).reshape(h, w).astype(np.float64)
        if sub is None:
            cb = cr = None
        else:
            cw = (w + sub[0] - 1) // sub[0]
            chh = (h + sub[1] - 1) // sub[1]
            cb = np.frombuffer(
                payload[body0 + ysz : body0 + ysz + csz], np.uint8
            ).reshape(chh, cw)
            cr = np.frombuffer(
                payload[body0 + ysz + csz : body0 + fsz], np.uint8
            ).reshape(chh, cw)
            if siting == "box":
                cb = cb.repeat(sub[1], 0).repeat(sub[0], 1)[:h, :w]
                cr = cr.repeat(sub[1], 0).repeat(sub[0], 1)[:h, :w]
            else:
                cb = _y4m_upsample_chroma(cb, w, h, siting, "cb")
                cr = _y4m_upsample_chroma(cr, w, h, siting, "cr")
            cb = cb.astype(np.float64)
            cr = cr.astype(np.float64)
        if not full_range:
            y = (y - 16.0) * (255.0 / 219.0)
            if cb is not None:
                cb = (cb - 128.0) * (255.0 / 224.0)
                cr = (cr - 128.0) * (255.0 / 224.0)
        elif cb is not None:
            cb = cb - 128.0
            cr = cr - 128.0
        if cb is None:
            bgr = np.repeat(
                np.clip(np.round(y), 0, 255).astype(np.uint8)[:, :, None],
                3, axis=2,
            )
        else:
            bgr = np.stack(
                [
                    y + 1.772 * cb,
                    y - 0.344136 * cb - 0.714136 * cr,
                    y + 1.402 * cr,
                ],
                axis=2,
            )
            bgr = np.clip(np.round(bgr), 0, 255).astype(np.uint8)
        dib = np.zeros((h, stride), np.uint8)
        dib[:, : w * 3] = bgr.reshape(h, w * 3)[::-1]
        frames.append(dib.tobytes())
        pos = body0 + fsz
    return {
        "width": w,
        "height": h,
        "bit_count": 24,
        "n_frames": len(frames),
        "usec_per_frame": den * 1_000_000 // num,
        "frames": frames,
    }


def encode_y4m(
    yuv_frames, frame_rate=(25, 1), colorspace: bytes = b"C444",
    full_range: bool = True,
) -> bytes:
    """Assemble a REAL YUV4MPEG2 stream — the fixture inverse of
    :func:`_decode_y4m`. ``yuv_frames`` is a list of (y, cb, cr) uint8
    plane triples (cb/cr None for Cmono), each plane already at the
    colorspace's subsampled geometry."""
    import numpy as np

    num, den = frame_rate
    hdr = b"YUV4MPEG2 "
    y0 = np.asarray(yuv_frames[0][0], np.uint8)
    h, w = y0.shape
    hdr += b"W%d H%d F%d:%d Ip A1:1 %s" % (w, h, num, den, colorspace)
    if full_range:
        hdr += b" XCOLORRANGE=FULL"
    out = bytearray(hdr + b"\n")
    for y, cb, cr in yuv_frames:
        out += b"FRAME\n"
        out += np.asarray(y, np.uint8).tobytes()
        if cb is not None:
            out += np.asarray(cb, np.uint8).tobytes()
            out += np.asarray(cr, np.uint8).tobytes()
    return bytes(out)


def _probe_mp4(payload: bytes) -> dict:
    """ISO BMFF (MP4/MOV) container METADATA probe with stdlib ``struct``
    — no codec needed for metadata: a box walk (ISO/IEC 14496-12 §4.2,
    64-bit largesize and size-0 run-to-end boxes included) reads
    ``moov/mvhd`` (timescale + duration) and each ``trak``'s ``tkhd``
    (16.16 fixed-point display dims) + ``mdia/hdlr`` (handler fourcc:
    vide/soun/...). Returns ``{container, duration_ms, timescale,
    n_tracks, tracks: [{handler, width, height}]}``. Sample DECODE
    (H.264/AAC payloads) stays the external-codec seam — this is the
    ffprobe-shaped half a pipeline needs for routing, budgeting and
    stats before any decode."""
    import struct

    if len(payload) < 12 or payload[4:8] != b"ftyp":
        raise ValueError("not an MP4 payload (missing ftyp box)")

    def boxes(start: int, end: int):
        pos = start
        while pos + 8 <= end:
            (size,) = struct.unpack_from(">I", payload, pos)
            typ = payload[pos + 4 : pos + 8]
            hdr = 8
            if size == 1:  # 64-bit largesize
                if pos + 16 > end:
                    raise ValueError("truncated MP4 box (largesize header)")
                (size,) = struct.unpack_from(">Q", payload, pos + 8)
                hdr = 16
            elif size == 0:  # box runs to the end of its container
                size = end - pos
            if size < hdr or pos + size > end:
                raise ValueError(f"truncated MP4 box '{typ.decode(errors='replace')}'")
            yield typ, pos + hdr, pos + size
            pos += size

    def field(fmt, b0, b1, off, box_name):
        # bounds-checked read INSIDE the box: a truncated/lying box must
        # surface as the ValueError every malformed-payload path raises,
        # never a bare struct.error/IndexError (which would escape
        # extract_video_metadata's error-row routing), and never silently
        # read bytes of a sibling box
        end = off + struct.calcsize(fmt)
        if b0 + end > b1:
            raise ValueError(f"truncated MP4 '{box_name}' box")
        return struct.unpack_from(fmt, payload, b0 + off)

    duration_ms = timescale = None
    found_mvhd = False
    tracks: list[dict] = []
    for typ, b0, b1 in boxes(0, len(payload)):
        if typ != b"moov":
            continue
        for t2, c0, c1 in boxes(b0, b1):
            if t2 == b"mvhd":
                (ver,) = field(">B", c0, c1, 0, "mvhd")
                if ver == 1:
                    (ts,) = field(">I", c0, c1, 20, "mvhd")
                    (dur,) = field(">Q", c0, c1, 24, "mvhd")
                    unknown = dur == 0xFFFFFFFFFFFFFFFF
                else:
                    (ts,) = field(">I", c0, c1, 12, "mvhd")
                    (dur,) = field(">I", c0, c1, 16, "mvhd")
                    unknown = dur == 0xFFFFFFFF
                if ts == 0:
                    raise ValueError("mvhd timescale is zero")
                timescale = ts
                found_mvhd = True
                # all-ones duration is the 14496-12 'unknown' sentinel
                # (live/fragmented recordings) — report None, not ~49 days
                duration_ms = None if unknown else dur * 1000 // ts
            elif t2 == b"trak":
                trk = {
                    "handler": None, "width": None, "height": None,
                    "n_samples": None,
                }
                for t3, d0, d1 in boxes(c0, c1):
                    if t3 == b"tkhd":
                        (tver,) = field(">B", d0, d1, 0, "tkhd")
                        off = 88 if tver == 1 else 76
                        w_fx, h_fx = field(">II", d0, d1, off, "tkhd")
                        trk["width"], trk["height"] = w_fx >> 16, h_fx >> 16
                    elif t3 == b"mdia":
                        for t4, e0, e1 in boxes(d0, d1):
                            if t4 == b"hdlr":
                                (hdl,) = field(">4s", e0, e1, 8, "hdlr")
                                trk["handler"] = hdl.decode(
                                    "ascii", errors="replace"
                                )
                            elif t4 == b"minf":
                                # sample tables (ISO 14496-12 §8.6.1/§8.7.3):
                                # stts sums to the exact sample count;
                                # stsz's count field is the fallback
                                for t5, f0, f1 in boxes(e0, e1):
                                    if t5 != b"stbl":
                                        continue
                                    for t6, g0, g1 in boxes(f0, f1):
                                        if t6 == b"stts":
                                            (ne,) = field(
                                                ">I", g0, g1, 4, "stts"
                                            )
                                            tot = 0
                                            for k in range(ne):
                                                cnt, _delta = field(
                                                    ">II", g0, g1,
                                                    8 + 8 * k, "stts",
                                                )
                                                tot += cnt
                                            trk["n_samples"] = tot
                                        elif (
                                            t6 == b"stsz"
                                            and trk["n_samples"] is None
                                        ):
                                            (_sz, cnt) = field(
                                                ">II", g0, g1, 4, "stsz"
                                            )
                                            trk["n_samples"] = cnt
                tracks.append(trk)
    if not found_mvhd:
        raise ValueError("no moov/mvhd box found (streaming-fragment MP4?)")
    return {
        "container": "mp4",
        "duration_ms": duration_ms,
        "timescale": timescale,
        "n_tracks": len(tracks),
        "tracks": tracks,
    }


def _mp4_boxes(payload: bytes, start: int, end: int):
    """ISO BMFF box iterator (module-level twin of :func:`_probe_mp4`'s
    closure, for the sample extractor): yields (type, body_start,
    body_end) handling 64-bit largesize and size-0 run-to-end boxes."""
    import struct

    pos = start
    while pos + 8 <= end:
        (size,) = struct.unpack_from(">I", payload, pos)
        typ = payload[pos + 4: pos + 8]
        hdr = 8
        if size == 1:
            if pos + 16 > end:
                raise ValueError("truncated MP4 box (largesize header)")
            (size,) = struct.unpack_from(">Q", payload, pos + 8)
            hdr = 16
        elif size == 0:
            size = end - pos
        if size < hdr or pos + size > end:
            raise ValueError(
                f"truncated MP4 box '{typ.decode(errors='replace')}'"
            )
        yield typ, pos + hdr, pos + size
        pos += size


def _mp4_read_descriptor(buf: bytes, pos: int) -> tuple[int, int, int]:
    """Read one MPEG-4 descriptor header (14496-1 §8.3.3 expandable
    length): returns (tag, body_start, body_end)."""
    tag = buf[pos]
    pos += 1
    ln = 0
    for _ in range(4):
        b = buf[pos]
        pos += 1
        ln = (ln << 7) | (b & 0x7F)
        if not b & 0x80:
            break
    else:
        raise ValueError("MP4 descriptor length field overruns 4 bytes")
    return tag, pos, pos + ln


def extract_mp4_audio(payload: bytes) -> dict:
    """Extract and DECODE the audio track of an ISO BMFF (MP4/M4A/MOV)
    container (round 16): a box walk finds the 'soun' trak, reads its
    sample tables (stsd entry format + esds objectTypeIndication, stsz
    sizes, stsc sample-to-chunk runs, stco/co64 chunk offsets — the
    full §8.7 layout, not just the single-chunk case), reassembles the
    samples in order, and dispatches by codec: mp4a with OTI 0x6B/0x69
    (MPEG-1/2 audio = MP3) routes to the EXISTING full MP3 PCM chain,
    'twos'/'sowt' route as big-/little-endian 16-bit PCM, and mp4a OTI
    0x40 (AAC) raises naming the codec seam. An MP4 without an audio
    track raises by name. The reference shells to ffmpeg for exactly
    this (/root/reference/inputs/speech_to_text.py:14-30)."""
    import struct

    import numpy as np

    if len(payload) < 12 or payload[4:8] != b"ftyp":
        raise ValueError("not an MP4 payload (missing ftyp box)")
    fmt = None          # stsd entry fourcc
    oti = None          # mp4a esds objectTypeIndication
    n_channels = 1
    stsd_rate = None
    sizes: list[int] = []
    chunk_offsets: list[int] = []
    stsc_runs: list[tuple[int, int]] = []  # (first_chunk, samples_per_chunk)
    found_soun = False

    def stbl_walk(f0: int, f1: int) -> None:
        nonlocal fmt, oti, n_channels, stsd_rate, sizes
        nonlocal chunk_offsets, stsc_runs
        for t6, g0, g1 in _mp4_boxes(payload, f0, f1):
            if t6 == b"stsd":
                (ne,) = struct.unpack_from(">I", payload, g0 + 4)
                if ne < 1:
                    raise ValueError("MP4 stsd has no sample entries")
                for typ, h0, h1 in _mp4_boxes(payload, g0 + 8, g1):
                    fmt = typ.decode("ascii", errors="replace")
                    # AudioSampleEntry: 8 reserved/dri + 8 version-etc,
                    # channelcount(2) samplesize(2) pre(4) rate(16.16)
                    n_channels = struct.unpack_from(
                        ">H", payload, h0 + 16
                    )[0]
                    stsd_rate = struct.unpack_from(
                        ">I", payload, h0 + 24
                    )[0] >> 16
                    if typ == b"mp4a":
                        for t7, i0, i1 in _mp4_boxes(
                            payload, h0 + 28, h1
                        ):
                            if t7 != b"esds":
                                continue
                            # version/flags then the ES_Descriptor tree
                            buf = payload[i0 + 4: i1]
                            tag, p0, p1 = _mp4_read_descriptor(buf, 0)
                            if tag != 0x03:
                                raise ValueError(
                                    "MP4 esds missing ES_Descriptor"
                                )
                            # ES_ID(2) + flags(1), no optional fields in
                            # the flags=0 layout every muxer writes
                            p = p0 + 3
                            tag, q0, q1 = _mp4_read_descriptor(buf, p)
                            if tag != 0x04:
                                raise ValueError(
                                    "MP4 esds missing "
                                    "DecoderConfigDescriptor"
                                )
                            oti = buf[q0]
                    break  # first entry governs (ne > 1 is archaic)
            elif t6 == b"stsz":
                const_sz, cnt = struct.unpack_from(">II", payload, g0 + 4)
                if const_sz:
                    sizes = [const_sz] * cnt
                else:
                    sizes = [
                        struct.unpack_from(">I", payload, g0 + 12 + 4 * k)[0]
                        for k in range(cnt)
                    ]
            elif t6 == b"stco":
                (cnt,) = struct.unpack_from(">I", payload, g0 + 4)
                chunk_offsets = [
                    struct.unpack_from(">I", payload, g0 + 8 + 4 * k)[0]
                    for k in range(cnt)
                ]
            elif t6 == b"co64":
                (cnt,) = struct.unpack_from(">I", payload, g0 + 4)
                chunk_offsets = [
                    struct.unpack_from(">Q", payload, g0 + 8 + 8 * k)[0]
                    for k in range(cnt)
                ]
            elif t6 == b"stsc":
                (cnt,) = struct.unpack_from(">I", payload, g0 + 4)
                stsc_runs = [
                    struct.unpack_from(">II", payload, g0 + 8 + 12 * k)[:2]
                    for k in range(cnt)
                ]

    for typ, b0, b1 in _mp4_boxes(payload, 0, len(payload)):
        if typ != b"moov":
            continue
        for t2, c0, c1 in _mp4_boxes(payload, b0, b1):
            if t2 != b"trak":
                continue
            handler = None
            stbl_span = None
            for t3, d0, d1 in _mp4_boxes(payload, c0, c1):
                if t3 != b"mdia":
                    continue
                for t4, e0, e1 in _mp4_boxes(payload, d0, d1):
                    if t4 == b"hdlr":
                        handler = payload[e0 + 8: e0 + 12]
                    elif t4 == b"minf":
                        for t5, f0, f1 in _mp4_boxes(payload, e0, e1):
                            if t5 == b"stbl":
                                stbl_span = (f0, f1)
            if handler == b"soun":
                if found_soun:
                    raise ValueError(
                        "MP4 has several audio tracks; expected one"
                    )
                found_soun = True
                if stbl_span is None:
                    raise ValueError("MP4 audio trak has no stbl")
                stbl_walk(*stbl_span)
    if not found_soun:
        raise ValueError("MP4 has no audio ('soun') track")
    if not sizes or not chunk_offsets or not stsc_runs:
        raise ValueError("MP4 audio stbl missing stsz/stco/stsc")
    # §8.7.4: expand stsc runs across the stco chunk list, walking each
    # chunk's samples contiguously from its offset
    stream = bytearray()
    si = 0
    for ci in range(len(chunk_offsets)):
        spc = 0
        for first, per in stsc_runs:
            if first <= ci + 1:
                spc = per
        off = chunk_offsets[ci]
        for _ in range(spc):
            if si >= len(sizes):
                break
            if off + sizes[si] > len(payload):
                raise ValueError("MP4 sample extends past the payload")
            stream += payload[off: off + sizes[si]]
            off += sizes[si]
            si += 1
    if si != len(sizes):
        raise ValueError(
            f"MP4 chunk map covers {si} of {len(sizes)} samples"
        )
    if fmt == "mp4a":
        if oti in (0x6B, 0x69):  # MPEG-1 / MPEG-2 audio (MP3)
            return _mp3_stream_meta(bytes(stream))
        raise NotImplementedError(
            f"MP4 mp4a objectTypeIndication 0x{(oti or 0):02x} (AAC is "
            "0x40) requires external media libraries; on a real cluster "
            "wire the decoder through the per-executor singleton seam "
            "(SURVEY §2.10 U1/U2). MP3-in-MP4 (0x6b/0x69) decodes"
        )
    if fmt in ("twos", "sowt"):  # big-/little-endian 16-bit PCM
        raw = np.frombuffer(
            bytes(stream), ">i2" if fmt == "twos" else "<i2"
        ).astype("<i2")
        return {
            "n_channels": n_channels,
            "sample_width": 2,
            "frame_rate": stsd_rate,
            "n_frames": len(raw) // max(n_channels, 1),
            "pcm": raw.tobytes(),
            "codec": "pcm_s16be" if fmt == "twos" else "pcm_s16le",
        }
    if fmt in ("ulaw", "alaw"):
        # round 17: QuickTime G.711 sample entries — per-byte expansion
        pcm = _g711_expand(np.frombuffer(bytes(stream), np.uint8), fmt)
        return {
            "n_channels": n_channels,
            "sample_width": 2,
            "frame_rate": stsd_rate,
            "n_frames": len(pcm) // max(n_channels, 1),
            "pcm": pcm.tobytes(),
            "codec": fmt,
        }
    if fmt in ("fl32", "fl64"):
        # round 17: QuickTime big-endian float PCM, the same nominal
        # [-1, 1) -> int16 transform as float WAV/AU/AIFF
        width = 4 if fmt == "fl32" else 8
        f = np.frombuffer(bytes(stream), f">f{width}").astype(np.float64)
        if not np.isfinite(f).all():
            raise ValueError("non-finite MP4 float sample")
        scaled = f * 32768.0
        pcm = np.clip(
            np.sign(scaled) * np.floor(np.abs(scaled) + 0.5),
            -32768, 32767,
        ).astype(np.int16)
        return {
            "n_channels": n_channels,
            "sample_width": 2,
            "frame_rate": stsd_rate,
            "n_frames": len(pcm) // max(n_channels, 1),
            "pcm": pcm.tobytes(),
            "codec": f"pcm_f{width * 8}be",
        }
    if fmt in ("in24", "in32"):
        # round 17: QuickTime big-endian 24/32-bit integer PCM
        width = 3 if fmt == "in24" else 4
        raw = bytes(stream)
        if len(raw) % width:
            raise ValueError("MP4 integer PCM not whole samples")
        pcm = (
            _swap24(raw) if width == 3
            else np.frombuffer(raw, ">i4").astype("<i4").tobytes()
        )
        return {
            "n_channels": n_channels,
            "sample_width": width,
            "frame_rate": stsd_rate,
            "n_frames": len(raw) // width // max(n_channels, 1),
            "pcm": pcm,
            "codec": f"pcm_s{width * 8}be",
        }
    raise NotImplementedError(
        f"MP4 audio sample entry '{fmt}' requires external media "
        "libraries (SURVEY §2.10 U1/U2); mp4a-MP3, twos/sowt, "
        "ulaw/alaw, fl32/fl64 and in24/in32 PCM decode"
    )


def encode_mp4_audio(
    stream: bytes, codec: str = "mp3", sample_rate: int = 44100,
    sample_sizes: list[int] | None = None, n_chunks: int = 1,
    timescale: int | None = None, n_samples_total: int | None = None,
) -> bytes:
    """Write a minimal conforming ISO BMFF container carrying one audio
    track — the sink half of the MP4 surface and the exact inverse of
    :func:`extract_mp4_audio`. ``codec``: "mp3" (mp4a + esds OTI 0x6B;
    ``sample_sizes`` partitions the elementary stream into samples —
    normally one MP3 frame each) or "twos"/"sowt" (16-bit PCM, 2-byte
    samples). ``n_chunks`` splits the samples across several mdat
    chunks with a multi-run stsc/stco map, so the extractor's full
    §8.7.4 walk is exercised, not just the one-chunk fast path."""
    import struct

    def box(typ: bytes, body: bytes) -> bytes:
        return struct.pack(">I", len(body) + 8) + typ + body

    if codec == "mp3":
        if not sample_sizes or sum(sample_sizes) != len(stream):
            raise ValueError(
                "mp3 MP4 audio wants sample_sizes summing to the stream"
            )
        sizes = list(sample_sizes)
    elif codec in ("twos", "sowt"):
        if len(stream) % 2:
            raise ValueError("PCM16 MP4 stream must be whole samples")
        sizes = [2] * (len(stream) // 2)
    elif codec in ("ulaw", "alaw"):
        sizes = [1] * len(stream)
    elif codec in ("fl32", "fl64", "in24", "in32"):
        w = {"fl32": 4, "fl64": 8, "in24": 3, "in32": 4}[codec]
        if len(stream) % w:
            raise ValueError("MP4 PCM stream must be whole samples")
        sizes = [w] * (len(stream) // w)
    else:
        raise ValueError(f"unknown MP4 audio codec {codec!r}")
    n = len(sizes)
    ts = timescale or sample_rate
    dur = n_samples_total if n_samples_total is not None else n

    # split samples into n_chunks contiguous chunks (sizes may differ)
    n_chunks = max(1, min(n_chunks, n))
    per = -(-n // n_chunks)
    chunk_lens = []
    k = 0
    while k < n:
        take = min(per, n - k)
        chunk_lens.append(take)
        k += take

    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isommp42")
    mdat = box(b"mdat", stream)

    # sample table boxes
    stts = box(b"stts", struct.pack(">II II", 0, 1, n, 1))
    entries = []
    prev = None
    for ci, cl in enumerate(chunk_lens):
        if cl != prev:
            entries.append((ci + 1, cl))
            prev = cl
    stsc = box(
        b"stsc",
        struct.pack(">II", 0, len(entries))
        + b"".join(struct.pack(">III", f, c, 1) for f, c in entries),
    )
    stsz = box(
        b"stsz",
        struct.pack(">III", 0, 0, n)
        + b"".join(struct.pack(">I", s) for s in sizes),
    )
    # chunk offsets point into mdat: ftyp + mdat header precede
    base = len(ftyp) + 8
    offs = []
    pos = 0
    si = 0
    for cl in chunk_lens:
        offs.append(base + pos)
        pos += sum(sizes[si: si + cl])
        si += cl
    stco = box(
        b"stco",
        struct.pack(">II", 0, len(offs))
        + b"".join(struct.pack(">I", o) for o in offs),
    )
    if codec == "mp3":
        dcd = bytes([0x04, 13, 0x6B, 0x15, 0x00, 0x00, 0x00]) + \
            struct.pack(">II", 0, 0)
        sl = bytes([0x06, 1, 0x02])
        es = bytes([0x03, 3 + len(dcd) + len(sl), 0x00, 0x00, 0x00]) + \
            dcd + sl
        esds = box(b"esds", struct.pack(">I", 0) + es)
        entry = box(
            b"mp4a",
            b"\x00" * 6 + struct.pack(">H", 1) + b"\x00" * 8
            + struct.pack(">HHI I", 1, 16, 0, sample_rate << 16) + esds,
        )
    else:
        entry = box(
            codec.encode(),
            b"\x00" * 6 + struct.pack(">H", 1) + b"\x00" * 8
            + struct.pack(">HHI I", 1, 16, 0, sample_rate << 16),
        )
    stsd = box(b"stsd", struct.pack(">II", 0, 1) + entry)
    stbl = box(b"stbl", stsd + stts + stsc + stsz + stco)
    url = box(b"url ", struct.pack(">I", 1))
    dref = box(b"dref", struct.pack(">II", 0, 1) + url)
    dinf = box(b"dinf", dref)
    smhd = box(b"smhd", struct.pack(">I HH", 0, 0, 0))
    minf = box(b"minf", smhd + dinf + stbl)
    hdlr = box(
        b"hdlr", struct.pack(">I I", 0, 0) + b"soun" + b"\x00" * 12 + b"\x00"
    )
    mdhd = box(
        b"mdhd", struct.pack(">I II I I HH", 0, 0, 0, ts, dur, 0x55C4, 0)
    )
    mdia = box(b"mdia", mdhd + hdlr + minf)
    tkhd = box(
        b"tkhd",
        struct.pack(">I II I 4x I 8x HHHH", 7, 0, 0, 1, dur, 0, 0, 0x0100, 0)
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + struct.pack(">II", 0, 0),
    )
    trak = box(b"trak", tkhd + mdia)
    mvhd = box(
        b"mvhd",
        struct.pack(">I II I I I H 10x", 0, 0, 0, ts, dur, 0x00010000, 0x0100)
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + struct.pack(">6I I", 0, 0, 0, 0, 0, 0, 2),
    )
    moov = box(b"moov", mvhd + trak)
    return ftyp + mdat + moov


def probe_video(payload: bytes) -> dict:
    """Container-level video metadata without decoding samples — the
    ffprobe-shaped probe a pipeline runs on every blob before deciding
    what to decode: AVI via the full RIFF walk (:func:`_decode_avi`),
    MP4/MOV via the metadata-only box walk (:func:`_probe_mp4`).
    Uniform keys: container, width, height, n_frames (None when the
    container doesn't declare it), duration_ms, n_tracks. The AVI walk
    runs in probe mode — frame chunks counted, never copied, and
    compressed ('..dc') files probe fine: routing them to the codec
    seam is exactly what the probe is FOR."""
    if payload[:4] == b"RIFF" and payload[8:12] == b"AVI ":
        m = _decode_avi(payload, probe=True)
        return {
            "container": "avi",
            "width": m["width"],
            "height": m["height"],
            "n_frames": m["n_frames"],
            "duration_ms": m["n_frames"] * m["usec_per_frame"] // 1000,
            "n_tracks": 1,
        }
    if len(payload) >= 12 and payload[4:8] == b"ftyp":
        m = _probe_mp4(payload)
        vid = next(
            (t for t in m["tracks"] if t["handler"] == "vide"), {}
        )
        return {
            "container": "mp4",
            "width": vid.get("width"),
            "height": vid.get("height"),
            # exact frame count from the stbl sample tables when present
            # (stts sum, stsz fallback); None for metadata-only streams
            "n_frames": vid.get("n_samples"),
            "duration_ms": m["duration_ms"],
            "n_tracks": m["n_tracks"],
        }
    if payload.startswith(b"YUV4MPEG2"):
        # round 17: header-line parse + frame-size arithmetic only — the
        # frame count falls out of the byte length, no plane is touched
        import struct as _struct

        nl = payload.find(b"\n")
        w = h = num = den = None
        cs = b"C420jpeg"
        for tok in payload[9:nl].split():
            if tok[:1] == b"W":
                w = int(tok[1:])
            elif tok[:1] == b"H":
                h = int(tok[1:])
            elif tok[:1] == b"F":
                num, den = (int(x) for x in tok[1:].split(b":"))
            elif tok[:1] == b"C":
                cs = tok
        if not w or not h or not num or not den:
            raise ValueError("Y4M header missing W/H/F parameters")
        ent = _Y4M_CHROMA.get(cs)
        sub = ent[0] if ent is not None else None
        csz = (
            0 if ent is not None and sub is None  # Cmono
            else ((w + 1) // 2) * ((h + 1) // 2) if sub is None
            else ((w + sub[0] - 1) // sub[0])
            * ((h + sub[1] - 1) // sub[1])
        )
        per = 6 + w * h + 2 * csz  # "FRAME\n" + planes
        nf = (len(payload) - nl - 1) // per
        return {
            "container": "y4m",
            "width": w,
            "height": h,
            "n_frames": nf,
            "duration_ms": nf * (den * 1_000_000 // num) // 1000,
            "n_tracks": 1,
        }
    raise NotImplementedError(
        "probe of non-AVI/MP4/Y4M video containers requires external "
        "media libraries (SURVEY §2.10 U1/U2)"
    )


def extract_video_metadata(videos: DataFrame) -> DataFrame:
    """Map-only mapInPandas kernel over ``(doc_id, payload)`` video blobs:
    one metadata row per blob via :func:`probe_video` — container, display
    dims, declared frame count (AVI), duration, track count. The routing/
    budgeting pass a 100 TB multimodal pipeline runs BEFORE spending any
    decode: no shuffle, Arrow-batched, and unprobeable payloads surface as
    ``container='error'`` rows instead of killing the task (tag-then-mix,
    same convention as the ingest error routing P6)."""
    import pandas as pd

    def probe(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            out = {
                "doc_id": [], "container": [], "width": [], "height": [],
                "n_frames": [], "duration_ms": [], "n_tracks": [], "err": [],
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    m = probe_video(bytes(payload))
                    err = None
                except (ValueError, NotImplementedError) as e:
                    m, err = {}, str(e)
                out["doc_id"].append(doc_id)
                out["container"].append(m.get("container", "error"))
                out["width"].append(m.get("width"))
                out["height"].append(m.get("height"))
                out["n_frames"].append(m.get("n_frames"))
                out["duration_ms"].append(m.get("duration_ms"))
                out["n_tracks"].append(m.get("n_tracks"))
                out["err"].append(err)
            yield pd.DataFrame(out)

    # width/height/n_frames/n_tracks are unsigned 32-bit on disk (AVI avih
    # '<10I'); declare them long so a header value above 2^31 reaches the
    # row instead of dying in the Arrow int32 cast and killing the batch.
    return videos.mapInPandas(
        probe,
        "doc_id long, container string, width long, height long, "
        "n_frames long, duration_ms long, n_tracks long, err string",
    )


def decode_media(payload: bytes, modality: str = "audio") -> dict:
    """Decode an opaque media payload to typed fields.

    REAL for PCM WAV audio: stdlib ``wave`` over an in-memory buffer — the
    same parser the reference opens its capture files with
    (``inputs/system_audio_collector.py:31``: ``wave.open(wav_path)``).
    Returns header fields plus the raw PCM frame bytes.

    REAL for BMP images (round 8): stdlib ``struct`` over the
    BITMAPINFOHEADER layout — de-padded, orientation-normalized pixel
    plane plus typed dimensions (see :func:`_decode_bmp`).

    REAL for 8-bit truecolor PNG (round 9): chunk walk + stdlib ``zlib``
    inflate + scanline unfilter (see :func:`_decode_png`), normalized to
    the same BGR(A) plane as BMP.

    REAL for JFIF JPEG (round 10): huffman entropy decode + dequant +
    numpy IDCT + BT.601 color conversion (see :func:`_decode_jpeg`) —
    baseline SOF0 AND progressive SOF2 (spectral selection + successive
    approximation), grayscale and 4:4:4 / 4:2:2 / 4:2:0 YCbCr
    (sampling-factor MCU geometry + chroma sample replication), restart
    markers in baseline.

    REAL for GIF87a/GIF89a (round 10): pure-Python GIF-variant LZW +
    palette lookup (see :func:`_decode_gif`) — interlacing, local color
    tables, transparency (→ the 32-bit BGRA face) and partial-screen
    first frames composited on the background color; animation frames
    beyond the first are counted, not rendered.

    REAL for Motion-JPEG AVI (round 10): ``..dc`` frames under a
    ``MJPG`` fourcc route per-frame through :func:`_decode_jpeg` and
    come back as the same bottom-up DIB plane as raw AVI (see
    :func:`_decode_avi`).

    REAL for FLAC (rounds 12-13, RFC 9639): metadata block walk, frame
    header parse with CRC-8, CONSTANT/VERBATIM/FIXED/LPC subframes with
    rice- or escape-coded residual partitions, stereo decorrelation,
    frame CRC-16 and the STREAMINFO MD5 check (see :func:`_decode_flac`)
    — compressed lossless audio is no longer a seam.

    REAL for MPEG-1 Layer III (rounds 13-14): the full sample chain —
    entropy layer, IMDCT, polyphase synthesis — to int16 PCM (see
    :func:`decode_mp3_to_pcm`; the synthesis window stance is documented
    at ``_MP3_SYNTH_PROTO``), and REAL for CCITT bilevel TIFF — G4/MH
    round 14, T.4-with-EOL G3 (1D and 2D) also round 14, JPEG-in-TIFF
    round 17. Only genuinely external codecs (compressed video/audio
    SAMPLE decode: H.264/AAC in MP4, interframe AVI codecs, Ogg
    Opus/Vorbis payloads, arithmetic/hierarchical JPEG, headerless
    tag-51x OJPEG — the JPEGInterchangeFormat OJPEG form decodes, round
    17) stay the documented
    seam: those aren't in this container, and on a real cluster the
    call MUST go through a per-executor singleton (one codec/model
    instance per worker process), never per row — reference pattern U2.
    """
    if modality == "image":
        if payload[:2] == b"BM":
            return _decode_bmp(payload)
        if payload[:8] == _PNG_SIG:
            return _decode_png(payload)
        if payload[:2] == b"\xff\xd8":
            return _decode_jpeg(payload)
        if payload[:6] in (b"GIF87a", b"GIF89a"):
            return _decode_gif(payload)
        if payload[:4] in (b"II*\x00", b"MM\x00*"):
            return _decode_tiff(payload)
        if payload[:1] == b"P" and payload[1:2] in b"123456":
            # round 17: the netpbm family (PBM/PGM/PPM, ASCII + binary)
            return _decode_netpbm(payload)
        if _looks_like_tga(payload):
            return _decode_tga(payload)
        raise NotImplementedError(
            "real decode of non-BMP/PNG/JPEG/GIF/TIFF/netpbm/TGA image "
            "formats requires external media libraries; wire PIL here "
            "on a real cluster (SURVEY §2.10 U1/U2)"
        )
    if modality == "video":
        if payload[:4] == b"RIFF" and payload[8:12] == b"AVI ":
            return _decode_avi(payload)
        if payload.startswith(b"YUV4MPEG2"):
            # round 17: raw planar YUV interchange — full sample decode
            return _decode_y4m(payload)
        raise NotImplementedError(
            "real decode of non-AVI/Y4M video requires external media "
            "libraries; wire ffmpeg here on a real cluster (SURVEY §2.10 U1/U2)"
        )
    if modality != "audio":
        raise NotImplementedError(
            f"real {modality} decode requires external media libraries; "
            "wire ffmpeg/PIL here on a real cluster (SURVEY §2.10 U1/U2)"
        )
    if payload[:4] == b"fLaC":
        return _decode_flac(payload)
    if payload[:4] == b".snd":
        return _decode_au(payload)
    if len(payload) >= 12 and payload[:4] == b"FORM" and payload[8:12] in (
        b"AIFF", b"AIFC"
    ):
        # round 17: the big-endian Apple interchange container —
        # PCM/sowt/fl32/fl64/ulaw/alaw/ima4 all decode for real
        return _decode_aiff(payload)
    if payload[:4] == b"caff":
        # round 17: Apple Core Audio Format — lpcm (every combination),
        # ulaw/alaw, ima4 all decode for real
        return _decode_caf(payload)
    if payload[:4] == b"OggS":
        # round 17: Ogg Vorbis decodes for REAL (self-describing
        # codebooks, floor 1, residues 0/1/2, coupling, mixed block
        # lapping); Opus stays a named seam — its SILK/CELT layers
        # need spec data tables this repo cannot certify
        n_segs = payload[26] if len(payload) > 26 else 0
        lace0 = payload[27] if n_segs else 0
        first = payload[27 + n_segs: 27 + n_segs + lace0]
        if first[:7] == b"\x01vorbis":
            return _decode_vorbis(payload)
        raise NotImplementedError(
            "Ogg Opus sample decode requires external media libraries "
            "(SURVEY §2.10 U1/U2); Ogg Vorbis decodes for real (round "
            "17) and the container probes cover Opus/FLAC framing"
        )
    if len(payload) >= 12 and payload[4:8] == b"ftyp":
        # ISO BMFF (round 16): sample-table walk + per-codec routing
        return extract_mp4_audio(payload)
    if payload[:3] == b"ID3" or (
        len(payload) >= 2 and payload[0] == 0xFF and (payload[1] & 0xE0) == 0xE0
    ):
        # MP3 (round 14): full sample decode — entropy layer, IMDCT,
        # polyphase synthesis — scaled to int16 at the conventional
        # full-scale 32768 and folded into the uniform PCM contract, so
        # audio_content_key treats an MP3 like any other container
        return _mp3_stream_meta(payload)
    if (
        len(payload) >= 12
        and payload[:4] in (b"RIFF", b"RF64", b"BW64")
        and payload[8:12] == b"WAVE"
    ):
        import struct

        # peek the format tag: stdlib wave only reads PCM, and the
        # companded/ADPCM speech formats are exact integer transforms we
        # decode for real (round 11)
        at = payload.find(b"fmt ")
        tag = (
            struct.unpack_from("<H", payload, at + 8)[0]
            if 0 <= at <= len(payload) - 10
            else _WAVE_FORMAT_PCM
        )
        # round 17: WAVE_FORMAT_EXTENSIBLE resolves to its SubFormat's
        # embedded tag, and RF64 needs the ds64-aware chunk walk; both
        # then dispatch through the SAME per-codec arms below
        ext_or_rf64 = (
            tag == _WAVE_FORMAT_EXTENSIBLE or payload[:4] != b"RIFF"
        )
        if ext_or_rf64:
            tag = _parse_wav_chunks(payload)["tag"]
        if tag in (_WAVE_FORMAT_ALAW, _WAVE_FORMAT_MULAW):
            w = _parse_wav_chunks(payload)
            if w["bits"] != 8:
                raise ValueError(
                    f"G.711 WAV must be 8-bit, got {w['bits']}-bit"
                )
            law = "alaw" if tag == _WAVE_FORMAT_ALAW else "ulaw"
            codes = w["data"]
            if w["fact_frames"] is not None:
                # fact counts FRAMES; expansion itself is per-byte and
                # channel-agnostic (round 17: stereo G.711 decodes)
                codes = codes[: w["fact_frames"] * w["n_channels"]]
            import numpy as np

            pcm = _g711_expand(np.frombuffer(codes, np.uint8), law)
            return {
                "n_channels": w["n_channels"],
                "sample_width": 2,  # EXPANDED width; source codes are 8-bit
                "frame_rate": w["frame_rate"],
                "n_frames": len(codes) // w["n_channels"],
                "pcm": pcm.tobytes(),
                "codec": law,
            }
        if tag == _WAVE_FORMAT_IMA_ADPCM:
            w = _parse_wav_chunks(payload)
            pcm = _decode_ima_adpcm(
                w["data"], w["block_align"], w["fact_frames"],
                w["n_channels"],
            )
            return {
                "n_channels": w["n_channels"],
                "sample_width": 2,
                "frame_rate": w["frame_rate"],
                "n_frames": len(pcm) // 2 // w["n_channels"],
                "pcm": pcm,
                "codec": "ima_adpcm",
            }
        if tag == _WAVE_FORMAT_IEEE_FLOAT:
            # round 14: IEEE float WAV (little-endian float32/float64),
            # the same nominal [-1, 1) -> int16 transform as float AU
            import numpy as np

            w = _parse_wav_chunks(payload)
            if w["bits"] not in (32, 64):
                raise ValueError(
                    f"IEEE float WAV must be 32- or 64-bit, got {w['bits']}"
                )
            width = w["bits"] // 8
            data = w["data"]
            if w["fact_frames"] is not None:
                data = data[: w["fact_frames"] * width * w["n_channels"]]
            if len(data) % width:
                raise ValueError("float WAV data not a whole number of samples")
            f = np.frombuffer(
                data, "<f4" if width == 4 else "<f8"
            ).astype(np.float64)
            if len(f) % w["n_channels"]:
                raise ValueError("float WAV data not a whole number of frames")
            if not np.isfinite(f).all():
                raise ValueError("non-finite float WAV sample")
            scaled = f * 32768.0
            pcm = np.clip(
                np.sign(scaled) * np.floor(np.abs(scaled) + 0.5),
                -32768, 32767,
            ).astype(np.int16)
            return {
                "n_channels": w["n_channels"],
                "sample_width": 2,
                "frame_rate": w["frame_rate"],
                "n_frames": len(pcm) // w["n_channels"],
                "pcm": pcm.tobytes(),
                "codec": "pcm_f32le" if width == 4 else "pcm_f64le",
            }
        if tag == _WAVE_FORMAT_MPEGLAYER3:
            # round 16: MP3-in-WAV (MPEGLAYER3WAVEFORMAT) routes the
            # 'data' chunk — a plain MP3 elementary stream — to the
            # EXISTING full MP3 PCM chain; the container's fact chunk
            # (dwSampleLength) truncates the decode when present.
            # extract_avi_audio repackages AVI 'auds' streams as WAV, so
            # wFormatTag 0x0055 AVI audio inherits this arm for free.
            w = _parse_wav_chunks(payload)
            meta = _mp3_stream_meta(w["data"])
            if (
                w["fact_frames"] is not None
                and w["fact_frames"] < meta["n_frames"]
            ):
                n = w["fact_frames"]
                meta["pcm"] = meta["pcm"][: n * 2 * meta["n_channels"]]
                meta["n_frames"] = n
            return meta
        if tag == _WAVE_FORMAT_MS_ADPCM:
            # round 17: MS ADPCM (the other ubiquitous WAV speech codec
            # next to IMA) — mono or stereo, exact integer transform
            w = _parse_wav_chunks(payload)
            pcm = _ms_adpcm_decode(
                w["data"], w["block_align"], w["n_channels"],
                w["fact_frames"],
            )
            return {
                "n_channels": w["n_channels"],
                "sample_width": 2,
                "frame_rate": w["frame_rate"],
                "n_frames": len(pcm) // 2 // w["n_channels"],
                "pcm": pcm,
                "codec": "ms_adpcm",
            }
        if tag != _WAVE_FORMAT_PCM:
            raise NotImplementedError(
                f"WAV format tag 0x{tag:04x} (e.g. AAC-in-WAV; MP3-in-WAV "
                "decodes since round 16) requires external media libraries "
                "(SURVEY §2.10 U1/U2)"
            )
        if ext_or_rf64:
            # extensible-PCM / RF64-PCM: stdlib wave cannot read either
            # container form, but the samples are plain interleaved LE
            # PCM — emit the exact dict shape of the stdlib path so the
            # content key matches the same audio in a classic WAV
            w = _parse_wav_chunks(payload)
            if w["bits"] % 8 or not 1 <= w["bits"] // 8 <= 4:
                raise ValueError(f"PCM bit depth {w['bits']} unsupported")
            width = w["bits"] // 8
            data = w["data"]
            if w["fact_frames"] is not None:
                data = data[: w["fact_frames"] * width * w["n_channels"]]
            if len(data) % (width * w["n_channels"]):
                raise ValueError("PCM data not a whole number of frames")
            return {
                "n_channels": w["n_channels"],
                "sample_width": width,
                "frame_rate": w["frame_rate"],
                "n_frames": len(data) // width // w["n_channels"],
                "pcm": data,
            }
    import io
    import wave

    with wave.open(io.BytesIO(payload), "rb") as wf:
        return {
            "n_channels": wf.getnchannels(),
            "sample_width": wf.getsampwidth(),
            "frame_rate": wf.getframerate(),
            "n_frames": wf.getnframes(),
            "pcm": wf.readframes(wf.getnframes()),
        }


def decode_media_stub(payload: bytes, modality: str) -> object:
    """Back-compat alias for the pre-WAV-decode seam: delegates to
    :func:`decode_media` (real for WAV audio and BMP images,
    NotImplementedError otherwise)."""
    return decode_media(payload, modality)


def attach_binary_payload(docs: DataFrame) -> DataFrame:
    """Deterministic stand-in for ``spark.read.format('binaryFile')``:
    promote text to an opaque binary ``payload`` column (UTF-8 bytes).
    Real ingestion replaces this with the binaryFile source (SURVEY S5)."""
    return docs.withColumn("payload", F.encode("text", "UTF-8"))


@register(
    "multimodal_binary_meta",
    oracle="""
    SELECT doc_id,
           source,
           octet_length(encode(text)) AS n_bytes,
           substr(sha256(text), 1, 16) AS fingerprint,
           octet_length(encode(text)) * 1000000 // 32000 AS est_duration_micros
    FROM documents
    ORDER BY doc_id
    """,
)
def multimodal_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata extraction from an opaque binary column via
    Arrow-batched ``mapInPandas`` (SURVEY U1's metadata half): byte size,
    content fingerprint (sha256 — the deterministic replacement for the
    reference's uuid artifact names, speech_to_text.py:40), and estimated
    duration at the reference's 16 kHz mono s16le ASR format.
    """
    docs = load_table(spark, sf_dir, "documents")
    payloads = attach_binary_payload(docs).select("doc_id", "source", "payload")

    def extract(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import hashlib

        for pdf in batches:
            out = pdf[["doc_id", "source"]].copy()
            out["n_bytes"] = pdf["payload"].map(len)
            out["fingerprint"] = pdf["payload"].map(
                lambda b: hashlib.sha256(bytes(b)).hexdigest()[:16]
            )
            out["est_duration_micros"] = out["n_bytes"] * 1_000_000 // _BYTES_PER_SEC
            yield out

    schema = (
        "doc_id long, source string, n_bytes long, "
        "fingerprint string, est_duration_micros long"
    )
    return payloads.mapInPandas(extract, schema)


@register(
    "image_decode_features",
    oracle="""
    SELECT d.doc_id,
           CASE CAST(d.doc_id % 3 AS INTEGER)
                WHEN 0 THEN 'bmp' WHEN 1 THEN 'png' ELSE 'gif' END AS fmt,
           CASE WHEN d.doc_id % 3 <> 1 THEN 'plain'
                WHEN d.doc_id % 5 = 2 AND d.doc_id % 7 = 3 THEN 'adam7_rgb48'
                WHEN d.doc_id % 5 = 2 THEN 'adam7'
                WHEN d.doc_id % 7 = 3 THEN 'rgb48'
                ELSE 'plain' END AS variant,
           CAST(5 + d.doc_id % 4 AS BIGINT) AS width,
           CAST(4 + d.doc_id % 3 AS BIGINT) AS height,
           CAST((5 + d.doc_id % 4) * (4 + d.doc_id % 3) AS BIGINT) AS n_pixels,
           CAST(CAST(SUM((7 * d.doc_id + 11 * p.r + 13 * p.c) % 256) AS BIGINT)
                // ((5 + d.doc_id % 4) * (4 + d.doc_id % 3)) AS BIGINT) AS mean_b,
           CAST(CAST(SUM((5 * d.doc_id + 3 * p.r + 17 * p.c) % 256) AS BIGINT)
                // ((5 + d.doc_id % 4) * (4 + d.doc_id % 3)) AS BIGINT) AS mean_g,
           CAST(CAST(SUM((d.doc_id + 23 * p.r + 29 * p.c) % 256) AS BIGINT)
                // ((5 + d.doc_id % 4) * (4 + d.doc_id % 3)) AS BIGINT) AS mean_r
    FROM documents d,
         LATERAL (SELECT unnest(generate_series(
             0, CAST(3 + d.doc_id % 3 AS BIGINT))) AS r) pr,
         LATERAL (SELECT unnest(generate_series(
             0, CAST(4 + d.doc_id % 4 AS BIGINT))) AS c) pc,
         LATERAL (SELECT pr.r AS r, pc.c AS c) p
    GROUP BY d.doc_id
    ORDER BY d.doc_id
    """,
)
def image_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL image codec surface under the differential oracle gate:
    per document, a deterministic test-card image (pixel (r, c) channel
    values are closed-form mod-256 arithmetic on (doc_id, r, c)) is
    ENCODED to a real container — BMP, PNG or GIF by doc_id — then
    DECODED back through :func:`decode_media`'s stdlib decoders, and the
    decoded plane's exact per-channel integer means are emitted. PNG
    docs additionally cycle Adam7 interlace (doc_id % 5 == 2) and 16-bit
    depth (doc_id % 7 == 3, samples widened v*257 and reduced back by
    high byte — bit-exact), round 15; the co-prime moduli hit every
    variant pairing, and the tiny test-card geometries drive Adam7's
    empty/partial pass edge cases hard. The
    DuckDB oracle never sees a byte of any container: it recomputes the
    means from the closed form, so a pixel mislaid anywhere in either
    half of the codec (row order, BGR/RGB swap, padding, LZW, zlib,
    palette) breaks the hash. All three formats are lossless, which is
    what makes the equality exact (JPEG's DCT budget keeps it under the
    pytest roundtrip gate instead, tests/test_properties.py).

    Scale shape: map-only mapInPandas over Arrow batches — encode and
    decode are per-row CPU with zero shuffle, the same plan as every
    other media kernel (U1); at 100 TB the payloads would arrive from a
    binaryFile scan instead of being synthesized, with the identical
    downstream plan."""
    # CPU-dense per-row kernel over a tiny id list: fan the ids across
    # every core explicitly — the one-file parquet scan otherwise yields
    # a single partition and the whole decode runs on one thread
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        encoders = (encode_bmp, encode_png, encode_gif)
        names = ("bmp", "png", "gif")
        for pdf in batches:
            out = {
                "doc_id": [], "fmt": [], "variant": [], "width": [],
                "height": [], "n_pixels": [], "mean_b": [], "mean_g": [],
                "mean_r": [],
            }
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w, h = 5 + d % 4, 4 + d % 3
                r_idx = np.arange(h, dtype=np.int64).reshape(-1, 1)
                c_idx = np.arange(w, dtype=np.int64)
                plane = np.dstack([
                    (7 * d + 11 * r_idx + 13 * c_idx) % 256,
                    (5 * d + 3 * r_idx + 17 * c_idx) % 256,
                    (d + 23 * r_idx + 29 * c_idx) % 256,
                ]).astype(np.uint8)
                variant = "plain"
                if d % 3 == 1:
                    il, d16 = d % 5 == 2, d % 7 == 3
                    payload = encode_png(plane, interlace=il, depth16=d16)
                    variant = {
                        (False, False): "plain", (True, False): "adam7",
                        (False, True): "rgb48", (True, True): "adam7_rgb48",
                    }[(il, d16)]
                else:
                    payload = encoders[d % 3](plane)
                meta = decode_media(payload, "image")  # the REAL decode
                px = np.frombuffer(meta["pixels"], np.uint8).reshape(
                    meta["height"], meta["width"], 3
                )
                n = meta["n_pixels"]
                sums = px.reshape(-1, 3).sum(axis=0, dtype=np.int64)
                out["doc_id"].append(d)
                out["fmt"].append(names[d % 3])
                out["variant"].append(variant)
                out["width"].append(meta["width"])
                out["height"].append(meta["height"])
                out["n_pixels"].append(n)
                out["mean_b"].append(int(sums[0]) // n)
                out["mean_g"].append(int(sums[1]) // n)
                out["mean_r"].append(int(sums[2]) // n)
            yield pd.DataFrame(out)

    schema = (
        "doc_id long, fmt string, variant string, width long, height long, "
        "n_pixels long, mean_b long, mean_g long, mean_r long"
    )
    return docs.mapInPandas(run, schema)


@register(
    "video_decode_features",
    oracle="""
    SELECT d.doc_id,
           CAST(pf.f AS INTEGER) AS frame_idx,
           CAST(4 + d.doc_id % 3 AS BIGINT) AS width,
           CAST(3 + d.doc_id % 2 AS BIGINT) AS height,
           CAST(2 + d.doc_id % 3 AS BIGINT) AS n_frames,
           CAST(pf.f * 40000 AS BIGINT) AS t_micros,
           CAST(CAST(SUM((3 * d.doc_id + 7 * pf.f + 11 * pr.r + 13 * pc.c) % 256)
                AS BIGINT)
                // ((4 + d.doc_id % 3) * (3 + d.doc_id % 2)) AS BIGINT) AS mean_b,
           CAST(CAST(SUM((5 * d.doc_id + 9 * pf.f + 3 * pr.r + 17 * pc.c) % 256)
                AS BIGINT)
                // ((4 + d.doc_id % 3) * (3 + d.doc_id % 2)) AS BIGINT) AS mean_g,
           CAST(CAST(SUM((d.doc_id + 2 * pf.f + 23 * pr.r + 29 * pc.c) % 256)
                AS BIGINT)
                // ((4 + d.doc_id % 3) * (3 + d.doc_id % 2)) AS BIGINT) AS mean_r
    FROM documents d,
         LATERAL (SELECT unnest(generate_series(
             0, CAST(1 + d.doc_id % 3 AS BIGINT), 2)) AS f) pf,
         LATERAL (SELECT unnest(generate_series(
             0, CAST(2 + d.doc_id % 2 AS BIGINT))) AS r) pr,
         LATERAL (SELECT unnest(generate_series(
             0, CAST(3 + d.doc_id % 3 AS BIGINT))) AS c) pc
    GROUP BY d.doc_id, pf.f
    ORDER BY d.doc_id, pf.f
    """,
)
def video_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL video container surface under the differential oracle
    gate (companion to ``image_decode_features``): per document, a short
    deterministic test-card clip (closed-form pixels over (doc_id,
    frame, row, col)) is encoded as an uncompressed-DIB AVI
    (:func:`encode_avi`), decoded back through the RIFF walk, and every
    stride-2 sampled frame is reduced to exact per-channel means over
    the DE-PADDED bottom-up plane. The oracle recomputes means from the
    closed form, so a mislaid byte anywhere in the container round trip
    — header fields, frame order, bottom-up row flip, 4-byte DIB row
    padding (width 5 ⇒ 15-byte rows padded to 16: padding bytes counted
    would break the hash) — fails the comparison. Map-only mapInPandas,
    same scale shape as every media kernel."""
    # CPU-dense per-row kernel over a tiny id list: fan the ids across
    # every core explicitly — the one-file parquet scan otherwise yields
    # a single partition and the whole decode runs on one thread
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = {
                "doc_id": [], "frame_idx": [], "width": [], "height": [],
                "n_frames": [], "t_micros": [], "mean_b": [], "mean_g": [],
                "mean_r": [],
            }
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w, h, nf = 4 + d % 3, 3 + d % 2, 2 + d % 3
                r_idx = np.arange(h, dtype=np.int64).reshape(-1, 1)
                c_idx = np.arange(w, dtype=np.int64)
                clip = [
                    np.dstack([
                        (3 * d + 7 * f + 11 * r_idx + 13 * c_idx) % 256,
                        (5 * d + 9 * f + 3 * r_idx + 17 * c_idx) % 256,
                        (d + 2 * f + 23 * r_idx + 29 * c_idx) % 256,
                    ]).astype(np.uint8)
                    for f in range(nf)
                ]
                meta = decode_media(encode_avi(clip), "video")  # REAL decode
                stride = (meta["width"] * 3 + 3) // 4 * 4
                for f in range(0, meta["n_frames"], 2):
                    dib = np.frombuffer(meta["frames"][f], np.uint8)
                    plane = dib.reshape(meta["height"], stride)[:, : w * 3]
                    sums = plane.reshape(-1, 3).sum(axis=0, dtype=np.int64)
                    out["doc_id"].append(d)
                    out["frame_idx"].append(f)
                    out["width"].append(meta["width"])
                    out["height"].append(meta["height"])
                    out["n_frames"].append(meta["n_frames"])
                    out["t_micros"].append(f * meta["usec_per_frame"])
                    out["mean_b"].append(int(sums[0]) // (w * h))
                    out["mean_g"].append(int(sums[1]) // (w * h))
                    out["mean_r"].append(int(sums[2]) // (w * h))
            yield pd.DataFrame(out)

    schema = (
        "doc_id long, frame_idx int, width long, height long, n_frames long, "
        "t_micros long, mean_b long, mean_g long, mean_r long"
    )
    return docs.mapInPandas(run, schema)


@register(
    "audio_decode_features",
    oracle="""
    SELECT d.doc_id,
           CAST(160 + (d.doc_id % 7) * 16 AS BIGINT) AS n_frames,
           CAST(16000 AS BIGINT) AS frame_rate,
           CAST(1 AS BIGINT) AS n_channels,
           CAST(2 AS BIGINT) AS sample_width,
           CAST(CAST(SUM(ABS((11 * d.doc_id + 7 * s.i) % 2001 - 1000)) AS BIGINT)
                // (160 + (d.doc_id % 7) * 16) AS BIGINT) AS mean_abs,
           CAST(MAX(ABS((11 * d.doc_id + 7 * s.i) % 2001 - 1000)) AS BIGINT) AS peak,
           CAST(CAST(SUM(((11 * d.doc_id + 7 * s.i) % 2001 - 1000)
                         * ((11 * d.doc_id + 7 * s.i) % 2001 - 1000)) AS BIGINT)
                // (160 + (d.doc_id % 7) * 16) AS BIGINT) AS energy_mean
    FROM documents d,
         LATERAL (SELECT unnest(generate_series(
             0, CAST(159 + (d.doc_id % 7) * 16 AS BIGINT))) AS i) s
    GROUP BY d.doc_id
    ORDER BY d.doc_id
    """,
)
def audio_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL audio surface under the differential oracle gate: per
    document a deterministic int16 sawtooth-like signal (closed form
    over (doc_id, sample index), range ±1000) is written as a mono PCM
    WAV through stdlib ``wave`` (:func:`encode_wav` — exactly how the
    reference writes its capture files) and read back through
    :func:`decode_media`'s audio path; header fields plus exact integer
    signal statistics (mean |s|, peak, mean s²) come from the decoded
    PCM bytes only. The oracle recomputes them from the closed form, so
    an endianness slip, header misread, or off-by-one in the frame count
    breaks the hash. Map-only mapInPandas."""
    # CPU-dense per-row kernel over a tiny id list: fan the ids across
    # every core explicitly — the one-file parquet scan otherwise yields
    # a single partition and the whole decode runs on one thread
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = {
                "doc_id": [], "n_frames": [], "frame_rate": [],
                "n_channels": [], "sample_width": [], "mean_abs": [],
                "peak": [], "energy_mean": [],
            }
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                n = 160 + (d % 7) * 16
                i = np.arange(n, dtype=np.int64)
                samples = ((11 * d + 7 * i) % 2001 - 1000).astype(np.int16)
                meta = decode_media(encode_wav(samples), "audio")  # REAL decode
                pcm = np.frombuffer(meta["pcm"], np.dtype("<i2")).astype(np.int64)
                out["doc_id"].append(d)
                out["n_frames"].append(meta["n_frames"])
                out["frame_rate"].append(meta["frame_rate"])
                out["n_channels"].append(meta["n_channels"])
                out["sample_width"].append(meta["sample_width"])
                out["mean_abs"].append(int(np.abs(pcm).sum()) // n)
                out["peak"].append(int(np.abs(pcm).max()))
                out["energy_mean"].append(int((pcm * pcm).sum()) // n)
            yield pd.DataFrame(out)

    schema = (
        "doc_id long, n_frames long, frame_rate long, n_channels long, "
        "sample_width long, mean_abs long, peak long, energy_mean long"
    )
    return docs.mapInPandas(run, schema)


# --- perceptual-hash image near-dup dedup (round 11) ------------------------

_DH_BANDS = 4
_DH_BAND_BITS = 14  # 8 rows x 7 comparisons = 56 bits = 4 bands x 14
_DH_MAX_HAM = 3  # <= _DH_BANDS - 1, so the banded join is EXACT (pigeonhole)


def _dh_pixels(d: int):
    """The deterministic 8x8 grayscale test card for doc ``d`` — closed
    form shared bit-for-bit with the DuckDB oracle. Cluster ``d // 6``
    picks the base image and variant ``d % 6`` the relation to it:
    0/1 = identical copies (exact dups), 2 = one perturbed pixel,
    3 = two perturbed pixels (near-dups), 4/5 = per-doc noise
    (singletons). Cluster size is CONSTANT (6 docs) regardless of corpus
    size — matching real corpora's bounded dup clusters, so the pair
    join's output grows linearly with the corpus (anchored in the
    scale-growth sweep), never quadratically."""
    import numpy as np

    g, v = d // 6, d % 6
    r = np.arange(8, dtype=np.int64).reshape(-1, 1)
    c = np.arange(8, dtype=np.int64)
    if v >= 4:
        return ((89 * (d % 9973) + 13) * (5 * r + 3 * c + 11) + 29 * r * c) % 251
    # the quadratic cross-terms decorrelate adjacent-pixel comparisons
    # across clusters — a pure linear gradient would give every cluster
    # a near-identical dHash and fake a giant near-dup component
    p = ((97 * g + 13) * (31 * r + 17 * c + 7) + 53 * r * c) % 251
    if v >= 2:
        p[g % 8, (g * 3) % 8] = (p[g % 8, (g * 3) % 8] + 128) % 251
    if v == 3:
        rr, cc = (g * 5 + 1) % 8, (g * 7 + 2) % 8
        p[rr, cc] = (p[rr, cc] + 128) % 251
    return p


def _dh_px_sql(r: str, c: str) -> str:
    """SQL text computing ``_dh_pixels(d)[r][c]`` for expressions r/c."""
    g = "(d.doc_id // 6)"
    v = "(d.doc_id % 6)"
    base = (
        f"(((97 * {g} + 13) * (31 * {r} + 17 * {c} + 7)"
        f" + 53 * {r} * {c}) % 251)"
    )
    bump = (
        f"(CASE WHEN ({v} >= 2 AND {v} <= 3 AND {r} = {g} % 8"
        f" AND {c} = ({g} * 3) % 8)"
        f" OR ({v} = 3 AND {r} = ({g} * 5 + 1) % 8"
        f" AND {c} = ({g} * 7 + 2) % 8)"
        f" THEN 128 ELSE 0 END)"
    )
    alt = (
        f"(((89 * (d.doc_id % 9973) + 13) * (5 * {r} + 3 * {c} + 11)"
        f" + 29 * {r} * {c}) % 251)"
    )
    return f"(CASE WHEN {v} >= 4 THEN {alt} ELSE ({base} + {bump}) % 251 END)"


def audio_content_key(payload: bytes) -> str:
    """Content identity of an audio payload AFTER real decode: the sha256
    of the linear PCM bytes plus the playback parameters (rate, channels,
    sample width). Two files with byte-different containers — reordered
    or extra RIFF chunks (LIST/INFO metadata), padding differences, a
    'fact' chunk present or not — but identical decoded audio hash equal;
    any audible difference (or a different companding law over the same
    code bytes) hashes apart. The audio analogue of :func:`dhash56`'s
    role for images, consumed by the ingest-time stream dedup
    (``streaming.pipelines.stream_audio_dedup``)."""
    import hashlib
    import struct

    return _content_key_from_meta(decode_media(payload, "audio"))


def _content_key_from_meta(meta: dict) -> str:
    """The :func:`audio_content_key` hash over an already-decoded meta
    dict — kernels that need several keys per payload decode once."""
    import hashlib
    import struct

    h = hashlib.sha256()
    h.update(
        struct.pack(
            "<III", meta["frame_rate"], meta["n_channels"], meta["sample_width"]
        )
    )
    h.update(meta["pcm"])
    return h.hexdigest()


def audio_robust_key(payload: bytes, segments: int = 32) -> str:
    """NEAR-DUP content key of an audio payload — the audio analogue of
    :func:`dhash56`: decode for real (:func:`decode_media`, any
    supported container incl. MP3), mix to mono by integer average,
    split into ``segments`` equal time segments (integer floor-map
    boundaries ``(k*n)//segments``), take each segment's exact int64
    energy sum, and hash the segments-1 adjacent-energy comparison bits
    plus the sample rate. Two encodings of the SAME audio whose decoded
    PCM differs only by small coding error (an MP3 and the WAV it was
    ripped to, a lightly dithered re-master) collapse to one key — the
    lossy-codec folding the reference gets by normalizing everything
    through ffmpeg first (inputs/speech_to_text.py:24-26) — while
    material with a different loudness CONTOUR separates. Two
    stability guards keep coding error out of the bits: segments below
    1e-4 of the stream energy clamp to zero (coding noise in silence
    never manufactures a contour), and a comparison only fires above a
    30% dead band (near-equal segments read as flat both before and
    after a re-encode). Stationary material — a constant test tone —
    therefore keys by its energy ORDER of magnitude, not its fine
    structure: this is a contour key, not a fingerprint. Deterministic:
    integer energies, integer thresholds."""
    return _robust_key_from_meta(decode_media(payload, "audio"), segments)


def _robust_key_from_meta(meta: dict, segments: int = 32) -> str:
    """The :func:`audio_robust_key` hash over an already-decoded meta
    dict (one decode, several keys)."""
    import hashlib
    import struct

    import numpy as np

    x = np.frombuffer(meta["pcm"], "<i2").astype(np.int64)
    n_ch = meta["n_channels"]
    if n_ch > 1:
        x = x.reshape(-1, n_ch).sum(axis=1) // n_ch
    n = len(x)
    if n < segments:
        x = np.concatenate([x, np.zeros(segments - n, np.int64)])
        n = segments
    bounds = (np.arange(segments + 1, dtype=np.int64) * n) // segments
    e = np.add.reduceat(x * x, bounds[:-1]).astype(object)  # exact ints
    total = int(sum(int(v) for v in e))
    floor = total // 10_000
    eq = [0 if int(v) <= floor else int(v) for v in e]
    bits = 0
    for k in range(segments - 1):
        # dead-banded comparison: 10*e[k] > 13*e[k+1] is the exact-integer
        # form of e[k] > 1.3*e[k+1]
        if 10 * eq[k] > 13 * eq[k + 1]:
            bits |= 1 << k
    # the coarse loudness scale anchors stationary material: bit-length
    # of mean segment energy (a power-of-4 step per level, far wider
    # than any re-encode error)
    scale = (total // segments).bit_length() // 2
    h = hashlib.sha256()
    h.update(struct.pack("<IQQ", meta["frame_rate"], bits, scale))
    return h.hexdigest()[:32]


def dhash56(payload: bytes) -> int:
    """The 56-bit difference hash of a REAL image payload of any
    supported format/size: decode (:func:`decode_media`), grayscale
    ``(b+g+r)//3``, nearest-neighbor floor-map downsample to 8x8 (the
    same ``src = (dst*in)//out`` arithmetic as
    :func:`resize_image_nearest`), then one brightness comparison per
    horizontally adjacent pixel pair (8 rows x 7 comparisons). All
    integer, so any engine replays it bit-for-bit. For an 8x8 input the
    downsample is the identity — which is what lets the differential
    oracle recompute the hash from the closed-form test cards."""
    import numpy as np

    meta = decode_media(payload, "image")
    w, h, bpp = meta["width"], meta["height"], meta["bit_count"] // 8
    plane = (
        np.frombuffer(meta["pixels"], np.uint8)
        .reshape(h, w, bpp)[:, :, :3]
        .astype(np.int64)
    )
    gray = plane.sum(axis=2) // 3
    ys = (np.arange(8, dtype=np.int64) * h) // 8
    xs = (np.arange(8, dtype=np.int64) * w) // 8
    g8 = gray[ys][:, xs]
    bits = g8[:, :7] > g8[:, 1:]
    hash56 = 0
    for r in range(8):
        for c in range(7):
            if bits[r, c]:
                hash56 |= 1 << (r * 7 + c)
    return hash56


@register(
    "image_dhash_near_dups",
    oracle=f"""
    WITH hashes AS (
      SELECT d.doc_id,
             CAST(SUM(CASE WHEN {_dh_px_sql("b.r", "b.c")}
                              > {_dh_px_sql("b.r", "(b.c + 1)")}
                      THEN 1::BIGINT << (b.r * 7 + b.c) ELSE 0 END)
                  AS BIGINT) AS dhash
      FROM documents d,
           LATERAL (SELECT unnest(generate_series(0, 55)) AS i) s,
           LATERAL (SELECT s.i // 7 AS r, s.i % 7 AS c) b
      GROUP BY d.doc_id),
    bands AS (
      SELECT doc_id, dhash, t.i AS band,
             (dhash >> ({_DH_BAND_BITS} * t.i)) & {(1 << _DH_BAND_BITS) - 1}
               AS bv
      FROM hashes,
           LATERAL (SELECT unnest(generate_series(0, {_DH_BANDS - 1})) AS i) t),
    cand AS (
      SELECT DISTINCT a.doc_id AS da, b.doc_id AS db,
                      a.dhash AS ha, b.dhash AS hb
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id),
    pairs AS (
      SELECT da, db, bit_count(xor(ha, hb)) AS ham
      FROM cand WHERE bit_count(xor(ha, hb)) <= {_DH_MAX_HAM}),
    sides AS (
      SELECT da AS doc_id, db AS partner, ham FROM pairs
      UNION ALL
      SELECT db AS doc_id, da AS partner, ham FROM pairs),
    agg AS (
      SELECT doc_id, COUNT(*) AS n_near,
             SUM(CASE WHEN ham = 0 THEN 1 ELSE 0 END) AS n_exact,
             MIN(partner) AS nearest
      FROM sides GROUP BY doc_id)
    SELECT h.doc_id,
           CAST(h.dhash AS BIGINT) AS dhash,
           CAST(COALESCE(a.n_near, 0) AS BIGINT) AS n_near,
           CAST(COALESCE(a.n_exact, 0) AS BIGINT) AS n_exact,
           CAST(COALESCE(a.nearest, -1) AS BIGINT) AS nearest_partner
    FROM hashes h LEFT JOIN agg a USING (doc_id)
    ORDER BY h.doc_id
    """,
)
def image_dhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image near-dup dedup — the image-corpus analogue of
    MinHash LSH (how LAION/DataComp-style multimodal pipelines dedup
    billions of images): a 64-bit-family difference hash (dHash: each bit
    is a brightness comparison of horizontally adjacent downsampled
    pixels — gradient structure, robust to re-encoding) computed from
    REALLY decoded pixels, then a banded self-join finds pairs within
    hamming {_DH_MAX_HAM} and per-doc dup stats come from one aggregation.

    The decode is real end-to-end: each doc's closed-form 8x8 grayscale
    test card is encoded to a real BMP/PNG/GIF container (by doc_id % 3)
    and decoded back through :func:`decode_media`'s stdlib decoders
    before hashing — the oracle recomputes the 56-bit hash from the
    closed form and never sees a container byte, so a pixel mislaid in
    any codec breaks every downstream pair.

    Scale shape: the hash stage is map-only mapInPandas (one Arrow batch
    per task, no shuffle) and is localCheckpointed so the expensive
    decode runs ONCE, not once per plan subtree. Exact duplicates
    collapse FIRST — one linear groupBy yields (hash, count, two
    smallest doc ids), so a 10k-copy re-upload cluster (the dominant dup
    mode in web image corpora) costs one row, never |cluster|^2 pairs.
    Candidate generation then runs over DISTINCT hashes only:
    {_DH_BANDS} bands x {_DH_BAND_BITS} bits exploded per hash,
    equi-self-joined on (band, value) — by pigeonhole any pair within
    hamming {_DH_MAX_HAM} < {_DH_BANDS} shares at least one exact band,
    so the LSH is EXACT for this threshold (no recall loss), and there
    is never an all-pairs comparison. The verify step is one integer
    ``bit_count(xor)`` per candidate, JVM-side; per-doc stats come from
    group-count arithmetic plus one per-hash neighborhood rollup, all
    partial-combining. The oracle states the naive doc-grain semantics
    and is byte-identical to this group-grain plan."""
    # CPU-dense per-row kernel over a tiny id list: fan the ids across
    # every core explicitly — the one-file parquet scan otherwise yields
    # a single partition and the whole decode runs on one thread
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        encoders = (encode_bmp, encode_png, encode_gif)
        for pdf in batches:
            ids, hs = [], []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                p = _dh_pixels(d)
                plane = np.dstack([p, p, p]).astype(np.uint8)
                # REAL encode + decode through the shared serving kernel
                ids.append(d)
                hs.append(dhash56(encoders[d % 3](plane)))
            yield pd.DataFrame({"doc_id": ids, "dhash": hs})

    hashes = docs.mapInPandas(run, "doc_id long, dhash long").localCheckpoint(
        eager=False
    )

    # Collapse exact duplicates BEFORE any pairwise work: real image
    # corpora carry giant identical-image clusters (re-uploads), and a
    # doc-grain banded join would emit |cluster|^2 pairs for each. The
    # group table (one row per DISTINCT hash, with count + two smallest
    # doc ids) is linear to build and makes every same-hash statistic an
    # O(1) lookup; the banded join then runs over distinct hashes only.
    g1 = hashes.groupBy("dhash").agg(
        F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("m1")
    )
    m2 = (
        hashes.join(g1.select("dhash", "m1"), "dhash")
        .filter(F.col("doc_id") > F.col("m1"))
        .groupBy("dhash")
        .agg(F.min("doc_id").alias("m2"))
    )
    groups = g1.join(m2, "dhash", "left").localCheckpoint(eager=False)

    band_arr = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.expr(
                    f"shiftright(dhash, {_DH_BAND_BITS * i})"
                    f" & {(1 << _DH_BAND_BITS) - 1}"
                ).alias("bv"),
            )
            for i in range(_DH_BANDS)
        ]
    )
    bands = groups.select(
        "dhash", "n_docs", "m1", F.explode(band_arr).alias("x")
    ).select("dhash", "n_docs", "m1", "x.band", "x.bv")
    a, b = bands.alias("a"), bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.dhash") < F.col("b.dhash")),
        )
        .select(
            F.col("a.dhash").alias("ha"),
            F.col("b.dhash").alias("hb"),
            F.col("a.n_docs").alias("na"),
            F.col("b.n_docs").alias("nb"),
            F.col("a.m1").alias("m1a"),
            F.col("b.m1").alias("m1b"),
        )
        .distinct()
        .filter(F.expr(f"bit_count(ha ^ hb) <= {_DH_MAX_HAM}"))
    )
    # per-hash neighborhood rollup: how many docs sit in OTHER hash groups
    # within the hamming ball, and the smallest doc id among them
    nbr = (
        pairs.select(
            F.col("ha").alias("dhash"),
            F.col("nb").alias("n_other"),
            F.col("m1b").alias("min_other"),
        )
        .unionAll(
            pairs.select(
                F.col("hb").alias("dhash"),
                F.col("na").alias("n_other"),
                F.col("m1a").alias("min_other"),
            )
        )
        .groupBy("dhash")
        .agg(
            F.sum("n_other").alias("n_near_ext"),
            F.min("min_other").alias("ext_min"),
        )
    )
    per_hash = groups.join(nbr, "dhash", "left")
    own_partner = F.when(
        F.col("n_docs") > 1,
        F.when(F.col("doc_id") == F.col("m1"), F.col("m2")).otherwise(
            F.col("m1")
        ),
    )
    return (
        hashes.join(per_hash, "dhash")
        .select(
            "doc_id",
            "dhash",
            (
                F.col("n_docs")
                - 1
                + F.coalesce(F.col("n_near_ext"), F.lit(0).cast("long"))
            ).alias("n_near"),
            (F.col("n_docs") - 1).alias("n_exact"),
            F.coalesce(
                F.least(own_partner, F.col("ext_min")), F.lit(-1).cast("long")
            ).alias("nearest_partner"),
        )
        # no trailing orderBy (round 17, r16 verdict task 9): the driver
        # comparator is order-insensitive and the query already pays its
        # join shuffle — a range-partitioning Sort on top is pure waste
        # at corpus scale (plan-guarded in test_plans.py)
    )


@register(
    "g711_decode_features",
    oracle="""
    WITH pcm AS (
        SELECT d.doc_id AS doc_id,
               CASE WHEN d.doc_id % 2 = 0 THEN
                   CASE WHEN (255 - c.c) >= 128
                        THEN 132 - (((255 - c.c) % 16) * 8 + 132)
                                 * (1 << (((255 - c.c) // 16) % 8))
                        ELSE (((255 - c.c) % 16) * 8 + 132)
                                 * (1 << (((255 - c.c) // 16) % 8)) - 132
                   END
               ELSE
                   CASE WHEN xor(c.c, 85) >= 128 THEN 1 ELSE -1 END *
                   CASE WHEN (xor(c.c, 85) // 16) % 8 = 0
                            THEN (xor(c.c, 85) % 16) * 16 + 8
                        WHEN (xor(c.c, 85) // 16) % 8 = 1
                            THEN (xor(c.c, 85) % 16) * 16 + 264
                        ELSE ((xor(c.c, 85) % 16) * 16 + 264)
                             * (1 << ((xor(c.c, 85) // 16) % 8 - 1))
                   END
               END AS s
        FROM documents d,
             LATERAL (SELECT (17 * d.doc_id + 31 * unnest(generate_series(
                 0, CAST(127 + (d.doc_id % 5) * 32 AS BIGINT)))) % 256 AS c) c
    )
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'ulaw' ELSE 'alaw' END AS codec,
           CAST(128 + (doc_id % 5) * 32 AS BIGINT) AS n_frames,
           CAST(8000 AS BIGINT) AS frame_rate,
           CAST(2 AS BIGINT) AS sample_width,
           CAST(SUM(ABS(s)) // (128 + (doc_id % 5) * 32) AS BIGINT) AS mean_abs,
           CAST(MAX(ABS(s)) AS BIGINT) AS peak,
           CAST(SUM(s * s) // (128 + (doc_id % 5) * 32) AS BIGINT) AS energy_mean
    FROM pcm GROUP BY doc_id ORDER BY doc_id
    """,
)
def g711_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The companded-telephony audio surface under the differential oracle
    gate: per document a deterministic stream of G.711 code BYTES (closed
    form over (doc_id, i), sweeping all 256 codes) is wrapped in a non-PCM
    WAV container (:func:`encode_wav_codes`, format tag 7 mu-law for even
    doc_ids / 6 A-law for odd) and expanded to linear int16 PCM by
    :func:`decode_media`'s REAL G.711 decoder (:func:`_g711_expand`,
    bit-exact vs an independent implementation for all 256 codes — pinned
    in tests). The oracle re-derives the ITU-T G.711 segment+mantissa
    expansion in pure SQL, so a wrong table, sign slip, or container
    misread breaks the hash. Map-only mapInPandas — the decode runs beside
    the scan with no shuffle; at 100 TB each task decodes only its own
    Arrow batch."""
    # CPU-dense per-row kernel over a tiny id list: fan the ids across
    # every core explicitly — the one-file parquet scan otherwise yields
    # a single partition and the whole decode runs on one thread
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = {
                "doc_id": [], "codec": [], "n_frames": [], "frame_rate": [],
                "sample_width": [], "mean_abs": [], "peak": [],
                "energy_mean": [],
            }
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                n = 128 + (d % 5) * 32
                i = np.arange(n, dtype=np.int64)
                codes = ((17 * d + 31 * i) % 256).astype(np.uint8)
                tag = _WAVE_FORMAT_MULAW if d % 2 == 0 else _WAVE_FORMAT_ALAW
                meta = decode_media(
                    encode_wav_codes(codes.tobytes(), tag), "audio"
                )  # REAL G.711 expansion
                pcm = np.frombuffer(meta["pcm"], np.dtype("<i2")).astype(np.int64)
                out["doc_id"].append(d)
                out["codec"].append(meta["codec"])
                out["n_frames"].append(meta["n_frames"])
                out["frame_rate"].append(meta["frame_rate"])
                out["sample_width"].append(meta["sample_width"])
                out["mean_abs"].append(int(np.abs(pcm).sum()) // n)
                out["peak"].append(int(np.abs(pcm).max()))
                out["energy_mean"].append(int((pcm * pcm).sum()) // n)
            yield pd.DataFrame(out)

    schema = (
        "doc_id long, codec string, n_frames long, frame_rate long, "
        "sample_width long, mean_abs long, peak long, energy_mean long"
    )
    return docs.mapInPandas(run, schema)


@register(
    "frame_sample",
    oracle=f"""
    SELECT d.doc_id,
           g.n AS frame_idx,
           length(substr(d.text, g.n * {_FRAME_CHARS} + 1, {_FRAME_CHARS})) AS frame_len,
           substr(sha256(substr(d.text, g.n * {_FRAME_CHARS} + 1, {_FRAME_CHARS})), 1, 12)
             AS frame_sig
    FROM documents d,
         LATERAL (SELECT unnest(generate_series(
             0, CAST((length(d.text) - 1) // {_FRAME_CHARS} AS INT), {_FRAME_STRIDE}))
             AS n) g
    ORDER BY d.doc_id, g.n
    """,
)
def frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over opaque media (SURVEY U1/U2 shape; the Vosk loop
    consumes audio in fixed 4000-frame chunks, system_audio_collector.py:39).

    One-to-many mapInPandas: each payload expands into its every-``stride``-th
    fixed-size frame with an index and a content signature — exactly the
    batch shape video frame-sampling or audio chunking produces. The fake
    "decode" is char-windowing so the DuckDB oracle can replay it.
    """
    docs = load_table(spark, sf_dir, "documents")

    def sample(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import hashlib

        import pandas as pd

        for pdf in batches:
            ids, idxs, lens, sigs = [], [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                frames = [
                    text[i : i + _FRAME_CHARS]
                    for i in range(0, len(text), _FRAME_CHARS)
                ]
                for k in range(0, len(frames), _FRAME_STRIDE):
                    ids.append(doc_id)
                    idxs.append(k)
                    lens.append(len(frames[k]))
                    sigs.append(
                        hashlib.sha256(frames[k].encode("utf-8")).hexdigest()[:12]
                    )
            yield pd.DataFrame(
                {"doc_id": ids, "frame_idx": idxs, "frame_len": lens, "frame_sig": sigs}
            )

    schema = "doc_id long, frame_idx int, frame_len int, frame_sig string"
    return docs.select("doc_id", "text").mapInPandas(sample, schema)


CHUNK_BYTES = 4000  # mirrors the reference's 4000-frame chunked WAV read


def chunk_binary_payloads(docs_with_payload: DataFrame) -> DataFrame:
    """Split each opaque binary payload into fixed-size chunk rows
    ``(doc_id, chunk_idx, byte_start, byte_len, chunk)`` — the distributed
    form of the reference's chunked recognizer feed
    (``inputs/system_audio_collector.py:39-41``: readframes(4000) loop).

    mapInPandas so the slicing happens per Arrow batch with zero JVM↔Python
    row chatter; chunk rows inherit the input partitioning, so a downstream
    per-chunk inference UDF (ASR, embedding) runs map-side with no shuffle.
    The last chunk is short, never padded, matching the reference loop.
    """
    import pandas as pd

    def slice_batches(batches):
        for pdf in batches:
            out = {"doc_id": [], "chunk_idx": [], "byte_start": [], "byte_len": [], "chunk": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                data = bytes(payload or b"")
                n = len(data)
                idx = 0
                for start in range(0, max(n, 1), CHUNK_BYTES):
                    piece = data[start:start + CHUNK_BYTES]
                    out["doc_id"].append(doc_id)
                    out["chunk_idx"].append(idx)
                    out["byte_start"].append(start)
                    out["byte_len"].append(len(piece))
                    out["chunk"].append(piece)
                    idx += 1
            yield pd.DataFrame(out)

    return docs_with_payload.mapInPandas(
        slice_batches,
        "doc_id long, chunk_idx int, byte_start long, byte_len long, chunk binary",
    )


WAV_CHUNK_FRAMES = 4000  # the reference's readframes(4000) recognizer feed


def chunk_wav_frames(wavs: DataFrame, chunk_frames: int = WAV_CHUNK_FRAMES) -> DataFrame:
    """Frame-accurate chunking of real WAV payloads: ``(doc_id, payload)``
    → ``(doc_id, chunk_idx, frame_start, n_frames, frame_rate,
    sample_width, n_channels, pcm)`` — the format fields ride along so a
    downstream kernel can validate what it is about to parse.

    This is the distributed form of the reference's recognizer loop
    (``inputs/system_audio_collector.py:39-41``): open with stdlib
    ``wave``, then ``readframes(4000)`` until empty — except the header
    parse happens once per payload inside an Arrow batch and each chunk
    becomes a row. Chunk boundaries land on FRAME boundaries
    (``n_channels * sample_width`` bytes), not byte offsets, so stereo or
    24-bit audio chunks stay decodable. Map-only: chunk rows inherit the
    input partitioning and a downstream per-chunk inference UDF runs with
    no shuffle; Arrow batch size bounds executor memory per batch.
    """
    import pandas as pd

    def slice_frames(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            out = {
                "doc_id": [], "chunk_idx": [], "frame_start": [], "n_frames": [],
                "frame_rate": [], "sample_width": [], "n_channels": [], "pcm": [],
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                meta = decode_media(bytes(payload), "audio")
                frame_bytes = meta["n_channels"] * meta["sample_width"]
                pcm = meta["pcm"]
                idx = 0
                for start in range(0, max(meta["n_frames"], 1), chunk_frames):
                    piece = pcm[start * frame_bytes : (start + chunk_frames) * frame_bytes]
                    out["doc_id"].append(doc_id)
                    out["chunk_idx"].append(idx)
                    out["frame_start"].append(start)
                    out["n_frames"].append(len(piece) // frame_bytes if frame_bytes else 0)
                    out["frame_rate"].append(meta["frame_rate"])
                    out["sample_width"].append(meta["sample_width"])
                    out["n_channels"].append(meta["n_channels"])
                    out["pcm"].append(piece)
                    idx += 1
            yield pd.DataFrame(out)

    return wavs.mapInPandas(
        slice_frames,
        "doc_id long, chunk_idx int, frame_start long, n_frames long, "
        "frame_rate int, sample_width int, n_channels int, pcm binary",
    )


def extract_image_features(images: DataFrame) -> DataFrame:
    """Feature extraction over real image payloads: ``(doc_id, payload)`` →
    ``(doc_id, width, height, bit_count, n_pixels, mean_b, mean_g, mean_r,
    pixel_sha)`` via the same Arrow-batched mapInPandas shape as the WAV
    kernels (U1's image half).

    The decode is :func:`_decode_bmp` — REAL stdlib parsing, so this runs
    end-to-end on actual bytes in tests: header fields come from the
    BITMAPINFOHEADER, per-channel means are exact integer floor-division
    over the de-padded BGR(A) plane, and ``pixel_sha`` fingerprints the
    orientation-normalized pixels (a bottom-up and a top-down encoding of
    the same image hash identically). Map-only, no shuffle; Arrow batch
    size bounds executor memory per batch, which is what keeps the plan
    safe when payloads are megabyte photos instead of kilobyte fixtures.
    """
    import pandas as pd

    def extract(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import hashlib

        import numpy as np

        for pdf in batches:
            out = {
                "doc_id": [], "width": [], "height": [], "bit_count": [],
                "n_pixels": [], "mean_b": [], "mean_g": [], "mean_r": [],
                "pixel_sha": [],
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                meta = decode_media(bytes(payload), "image")
                px, bpp = meta["pixels"], meta["bit_count"] // 8
                n = meta["n_pixels"]
                # vectorized channel sums (one numpy reduction per image,
                # as resize_image_nearest gathers) — a per-byte Python loop
                # is O(pixels) interpreted work on megabyte photos
                sums = (
                    np.frombuffer(px, dtype=np.uint8)
                    .reshape(-1, bpp)[:, :3]
                    .sum(axis=0, dtype=np.int64)
                )
                out["doc_id"].append(doc_id)
                out["width"].append(meta["width"])
                out["height"].append(meta["height"])
                out["bit_count"].append(meta["bit_count"])
                out["n_pixels"].append(n)
                out["mean_b"].append(sums[0] // n)
                out["mean_g"].append(sums[1] // n)
                out["mean_r"].append(sums[2] // n)
                out["pixel_sha"].append(hashlib.sha256(px).hexdigest()[:16])
            yield pd.DataFrame(out)

    return images.mapInPandas(
        extract,
        "doc_id long, width int, height int, bit_count int, n_pixels long, "
        "mean_b int, mean_g int, mean_r int, pixel_sha string",
    )


def sample_video_frames(videos: DataFrame, stride: int = 2) -> DataFrame:
    """REAL frame sampling over video payloads: ``(doc_id, payload)`` →
    one row per kept frame ``(doc_id, frame_idx, t_micros, width, height,
    n_frames, frame_sha)`` — the video member of the decode /
    feature-extract / resize / frame-sample quartet, running on actual
    container bytes (uncompressed and Motion-JPEG AVI via
    :func:`_decode_avi`).

    Every ``stride``-th frame is kept; ``t_micros`` comes from the
    container's own frame interval, and ``frame_sha`` fingerprints the
    orientation-normalized de-padded pixel plane (frames are stored as
    bottom-up DIBs, same convention as BMP), so two encodings of the same
    frames fingerprint identically. Map-only mapInPandas, one-to-many —
    exactly the batch shape real video sampling produces; Arrow batch
    size bounds executor memory per batch.
    """
    import pandas as pd

    def sample(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import hashlib

        for pdf in batches:
            out = {
                "doc_id": [], "frame_idx": [], "t_micros": [],
                "width": [], "height": [], "n_frames": [], "frame_sha": [],
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                meta = decode_media(bytes(payload), "video")
                w, h = meta["width"], meta["height"]
                bpp = meta["bit_count"] // 8
                dib_stride = (w * bpp + 3) // 4 * 4
                for idx in range(0, meta["n_frames"], stride):
                    dib = meta["frames"][idx]
                    rows = [
                        dib[r * dib_stride : r * dib_stride + w * bpp]
                        for r in range(h - 1, -1, -1)  # bottom-up -> top-down
                    ]
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(idx)
                    out["t_micros"].append(idx * meta["usec_per_frame"])
                    out["width"].append(w)
                    out["height"].append(h)
                    out["n_frames"].append(meta["n_frames"])
                    out["frame_sha"].append(
                        hashlib.sha256(b"".join(rows)).hexdigest()[:16]
                    )
            yield pd.DataFrame(out)

    return videos.mapInPandas(
        sample,
        "doc_id long, frame_idx int, t_micros long, width int, height int, "
        "n_frames int, frame_sha string",
    )


def resize_image_nearest(images: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Nearest-neighbor resize over real image payloads: ``(doc_id,
    payload)`` → ``(doc_id, width, height, out_w, out_h, bit_count,
    pixels)`` with ``pixels`` the resized top-down BGR(A) plane — the
    resize step of the decode / feature-extract / resize / frame-sample
    quartet, on actual bytes end-to-end (BMP via :func:`_decode_bmp`).

    Sampling uses the standard floor mapping ``src = (dst * in) // out``
    (exact integer arithmetic, so any engine replays it bit-for-bit), and
    the gather is one vectorized numpy fancy-index per image — no
    per-pixel Python. Map-only mapInPandas: rows inherit the input
    partitioning, Arrow batch size bounds executor memory, and a
    downstream embedding/feature kernel chains with no shuffle.
    """
    import pandas as pd

    def resize(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np

        for pdf in batches:
            out = {
                "doc_id": [], "width": [], "height": [],
                "out_w": [], "out_h": [], "bit_count": [], "pixels": [],
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                meta = decode_media(bytes(payload), "image")
                w, h, bpp = meta["width"], meta["height"], meta["bit_count"] // 8
                plane = np.frombuffer(meta["pixels"], dtype=np.uint8).reshape(h, w, bpp)
                ys = (np.arange(out_h, dtype=np.int64) * h) // out_h
                xs = (np.arange(out_w, dtype=np.int64) * w) // out_w
                resized = plane[ys][:, xs]
                out["doc_id"].append(doc_id)
                out["width"].append(w)
                out["height"].append(h)
                out["out_w"].append(out_w)
                out["out_h"].append(out_h)
                out["bit_count"].append(meta["bit_count"])
                out["pixels"].append(resized.tobytes())
            yield pd.DataFrame(out)

    return images.mapInPandas(
        resize,
        "doc_id long, width int, height int, out_w int, out_h int, "
        "bit_count int, pixels binary",
    )


def transcribe_wav_energy(chunks: DataFrame, threshold: int = 500) -> DataFrame:
    """Deterministic stand-in for the per-chunk ASR call: integer RMS
    energy over s16le PCM, thresholded to a speech/silence verdict —
    ``(doc_id, chunk_idx, rms, is_speech)``.

    Exercises the exact execution shape of the reference's Vosk loop
    (``rec.AcceptWaveform(data)`` per 4000-frame chunk, U2): a "model"
    constructed ONCE per Python worker (per-executor singleton — the real
    Vosk ``Model(model_path)`` load is the expensive step this pattern
    exists for), then vectorized numpy inference per Arrow batch. RMS is
    integer ``isqrt(sum(x²)//n)`` so results are bit-stable across hosts.

    The kernel parses s16le only, and VALIDATES that against the chunk's
    carried ``sample_width`` — a 24-bit stream silently misparsed as int16
    would emit garbage verdicts, so anything but 2-byte samples raises
    loudly (resample to s16le first, the reference's own ffmpeg contract).
    Stereo is accepted: interleaved channels fold into one combined RMS.
    """
    import pandas as pd

    def infer(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import math

        import numpy as np

        global _ENERGY_MODEL  # per-python-worker singleton (U2)
        try:
            _ENERGY_MODEL
        except NameError:
            _ENERGY_MODEL = {"loads": 1}  # the "expensive model load"
        for pdf in batches:
            bad = set(pdf["sample_width"]) - {2}
            if bad:
                raise ValueError(
                    f"transcribe_wav_energy expects s16le PCM (sample_width=2); "
                    f"got sample_width={sorted(bad)} — resample first"
                )
            rms = []
            for pcm in pdf["pcm"]:
                x = np.frombuffer(bytes(pcm), dtype="<i2").astype(np.int64)
                rms.append(math.isqrt(int((x * x).sum()) // len(x)) if len(x) else 0)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "chunk_idx": pdf["chunk_idx"],
                    "rms": rms,
                    "is_speech": [r >= threshold for r in rms],
                }
            )

    return chunks.mapInPandas(
        infer, "doc_id long, chunk_idx int, rms long, is_speech boolean"
    )


# ---------------------------------------------------------------------------
# MPEG audio (MP3) frame-header probe — round 12
# ---------------------------------------------------------------------------

# MPEG-1 / MPEG-2 / MPEG-2.5 Layer III tables (ISO/IEC 11172-3 §2.4.2.3,
# ISO/IEC 13818-3): bitrate index 1..14 in kbps, sample-rate index 0..2
# keyed by the header's 2-bit version field (0=MPEG-2.5, 2=MPEG-2, 3=MPEG-1).
_MP3_KBPS = {
    3: (32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320),
    2: (8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
    0: (8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
}
_MP3_RATES = {
    3: (44100, 48000, 32000),
    2: (22050, 24000, 16000),
    0: (11025, 12000, 8000),
}
_MP3_SAMPLES_PER_FRAME = {3: 1152, 2: 576, 0: 576}


def _mp3_frame_len(ver_bits: int, kbps: int, sr: int, padding: int) -> int:
    """Layer III frame length in bytes (slot = 1 byte): 144·bitrate/rate
    for MPEG-1, 72·bitrate/rate for MPEG-2/2.5, plus the padding slot."""
    factor = 144000 if ver_bits == 3 else 72000
    return factor * kbps // sr + padding


def encode_mp3(
    frames: list[tuple[int, int]],
    sr_index: int = 0,
    ver_bits: int = 3,
    id3_payload: int = 0,
) -> bytes:
    """Assemble a syntactically-valid MPEG Layer III stream for the probe
    gate: an optional ID3v2 tag (10-byte header + ``id3_payload`` bytes,
    synchsafe size) followed by one frame per ``(bitrate_index, padding)``
    pair — each a real 4-byte header (sync/version/layer/bitrate/rate/
    padding/mono) over a zeroed audio payload of exactly the
    header-implied frame length. The entropy-coded granule DECODE stays
    the external-codec seam; the container framing is what the probe
    walks, and that is real."""
    import struct

    out = bytearray()
    if id3_payload:
        sz = id3_payload
        out += b"ID3" + bytes([3, 0, 0]) + bytes(
            [(sz >> 21) & 0x7F, (sz >> 14) & 0x7F, (sz >> 7) & 0x7F, sz & 0x7F]
        )
        out += bytes(id3_payload)
    sr = _MP3_RATES[ver_bits][sr_index]
    for bitrate_index, padding in frames:
        kbps = _MP3_KBPS[ver_bits][bitrate_index - 1]
        b1 = 0xE0 | (ver_bits << 3) | (0b01 << 1) | 1  # Layer III, no CRC
        b2 = (bitrate_index << 4) | (sr_index << 2) | (padding << 1)
        b3 = 0b11 << 6  # single channel
        hdr = struct.pack(">BBBB", 0xFF, b1, b2, b3)
        out += hdr + bytes(_mp3_frame_len(ver_bits, kbps, sr, padding) - 4)
    return bytes(out)


def probe_mpeg_audio(payload: bytes) -> dict:
    """MPEG audio (MP3) METADATA probe with stdlib byte arithmetic — the
    frame-header walk every audio pipeline runs before budgeting a
    decode: skip a leading ID3v2 tag (synchsafe size), then parse each
    4-byte frame header (11-bit sync, version, layer, bitrate index,
    sample-rate index, padding slot, channel mode) and hop exactly the
    header-implied frame length, accumulating the sample count (1152 per
    MPEG-1 frame, 576 for MPEG-2/2.5). Walking EVERY frame makes the
    duration and mean bitrate exact for VBR streams — where the
    single-header estimate a naive probe takes is simply wrong. A
    trailing 128-byte ID3v1 'TAG' block is accepted; anything else
    off-grid raises ValueError (the error-row contract). Granule DECODE
    (huffman + IMDCT) stays the external-codec seam (SURVEY §2.10
    U1/U2); Layer I/II probing is out of scope — only Layer III headers
    are accepted."""
    pos = 0
    if payload[:3] == b"ID3":
        if len(payload) < 10:
            raise ValueError("truncated ID3v2 header")
        sz = (
            ((payload[6] & 0x7F) << 21)
            | ((payload[7] & 0x7F) << 14)
            | ((payload[8] & 0x7F) << 7)
            | (payload[9] & 0x7F)
        )
        pos = 10 + sz
        if pos > len(payload):
            raise ValueError("ID3v2 tag extends past the payload")
    n_frames = 0
    n_samples = 0
    kbps_seen: list[int] = []
    sample_rate = None
    ver_bits_seen = None
    channels = None
    while pos < len(payload):
        if payload[pos : pos + 3] == b"TAG" and len(payload) - pos == 128:
            pos = len(payload)  # trailing ID3v1 tag
            break
        if pos + 4 > len(payload):
            raise ValueError("trailing bytes are not an MPEG frame header")
        b0, b1, b2, b3 = payload[pos : pos + 4]
        if b0 != 0xFF or (b1 & 0xE0) != 0xE0:
            raise ValueError(f"lost MPEG frame sync at byte {pos}")
        ver_bits = (b1 >> 3) & 0b11
        layer_bits = (b1 >> 1) & 0b11
        if ver_bits == 1:
            raise ValueError("reserved MPEG version id")
        if layer_bits != 0b01:
            raise ValueError("only Layer III probing is supported")
        bitrate_index = (b2 >> 4) & 0xF
        sr_index = (b2 >> 2) & 0b11
        padding = (b2 >> 1) & 1
        if bitrate_index == 0:
            raise ValueError("free-format bitrate is not probeable")
        if bitrate_index == 15 or sr_index == 3:
            raise ValueError("reserved bitrate/sample-rate index")
        sr = _MP3_RATES[ver_bits][sr_index]
        if sample_rate is not None and (sr != sample_rate or ver_bits != ver_bits_seen):
            raise ValueError("sample rate changed mid-stream")
        sample_rate, ver_bits_seen = sr, ver_bits
        channels = 1 if ((b3 >> 6) & 0b11) == 0b11 else 2
        kbps = _MP3_KBPS[ver_bits][bitrate_index - 1]
        flen = _mp3_frame_len(ver_bits, kbps, sr, padding)
        if pos + flen > len(payload):
            raise ValueError("truncated MPEG frame")
        kbps_seen.append(kbps)
        n_samples += _MP3_SAMPLES_PER_FRAME[ver_bits]
        n_frames += 1
        pos += flen
    if n_frames == 0:
        raise ValueError("no MPEG audio frames found")
    return {
        "container": "mp3",
        "mpeg_version": {3: "1", 2: "2", 0: "2.5"}[ver_bits_seen],
        "sample_rate": sample_rate,
        "n_channels": channels,
        "n_frames": n_frames,
        "n_samples": n_samples,
        "duration_ms": n_samples * 1000 // sample_rate,
        "mean_bitrate_kbps": sum(kbps_seen) // n_frames,
        "vbr": len(set(kbps_seen)) > 1,
        "n_bytes": pos,
    }


_ADTS_RATES = (96000, 88200, 64000, 48000, 44100, 32000, 24000, 22050,
               16000, 12000, 11025, 8000, 7350)


def _probe_adts(payload: bytes) -> dict:
    """ADTS (AAC transport, ISO 14496-3 §1.A.3) container probe: walk
    the 0xFFF-sync frame headers — profile, sampling_frequency_index,
    channel_configuration, 13-bit frame_length, CRC presence and the
    raw_data_blocks count (each block is 1024 samples) — and derive the
    uniform probe keys. No sample decode: that is the AAC codec seam.
    Raises by name on truncation, lost sync, or reserved field values;
    never guesses."""
    pos = 0
    n_frames = 0
    n_blocks = 0
    crc_frames = 0
    sr = ch = None
    sizes = []
    while pos < len(payload):
        if pos + 7 > len(payload):
            raise ValueError("truncated ADTS frame header")
        if payload[pos] != 0xFF or (payload[pos + 1] & 0xF6) != 0xF0:
            raise ValueError(f"lost ADTS sync at byte {pos}")
        protection_absent = payload[pos + 1] & 1
        sr_idx = (payload[pos + 2] >> 2) & 0xF
        if sr_idx >= len(_ADTS_RATES):
            raise ValueError(f"reserved ADTS sampling index {sr_idx}")
        this_sr = _ADTS_RATES[sr_idx]
        this_ch = ((payload[pos + 2] & 1) << 2) | (payload[pos + 3] >> 6)
        flen = ((payload[pos + 3] & 0x3) << 11) | (payload[pos + 4] << 3)             | (payload[pos + 5] >> 5)
        rdb = payload[pos + 6] & 0x3
        hdr = 7 if protection_absent else 9
        if flen < hdr:
            raise ValueError("ADTS frame_length smaller than its header")
        if pos + flen > len(payload):
            raise ValueError("truncated ADTS frame")
        if sr is None:
            sr, ch = this_sr, this_ch
        elif (this_sr, this_ch) != (sr, ch):
            raise ValueError("ADTS stream changes rate/channels mid-file")
        n_frames += 1
        n_blocks += rdb + 1
        if not protection_absent:
            crc_frames += 1
        sizes.append(flen)
        pos += flen
    if not n_frames:
        raise ValueError("no ADTS frames")
    total = 1024 * n_blocks
    dur = total * 1000 // sr
    return {
        "container": "adts",
        "codec": "aac",
        "sample_rate": sr,
        "n_channels": ch,
        "n_frames": total,
        "duration_ms": dur,
        "mean_bitrate_kbps": (
            len(payload) * 8 * sr // (total * 1000) if total else None
        ),
        "vbr": len(set(sizes)) > 1,
        "adts_frames": n_frames,
        "crc_frames": crc_frames,
    }


def encode_adts(frame_payloads, sr_index: int = 4, channels: int = 1,
                profile: int = 1, with_crc: bool = False) -> bytes:
    """Wrap opaque AAC raw_data_block payloads in ADTS frame headers —
    container writer ONLY (the payload bytes are the codec's business),
    the inverse of :func:`_probe_adts` and the fixture for its gate.
    ``with_crc`` emits the 9-byte protected header (CRC bytes zeroed —
    the probe reads presence, not the checksum)."""
    out = bytearray()
    for body in frame_payloads:
        hdr = 9 if with_crc else 7
        flen = hdr + len(body)
        if flen >= 1 << 13:
            raise ValueError("ADTS frame exceeds the 13-bit length field")
        b = bytearray(hdr)
        b[0] = 0xFF
        b[1] = 0xF0 | (0 << 3) | (0 << 1) | (0 if with_crc else 1)
        b[2] = (profile << 6) | (sr_index << 2) | ((channels >> 2) & 1)
        b[3] = ((channels & 0x3) << 6) | ((flen >> 11) & 0x3)
        b[4] = (flen >> 3) & 0xFF
        b[5] = ((flen & 0x7) << 5) | 0x1F  # buffer fullness high bits
        b[6] = 0xFC | 0  # fullness low + 1 raw data block
        out += b + bytes(body)
    return bytes(out)


# --- Ogg container (round 17) ------------------------------------------------
#
# RFC 3533 page framing is fully algorithmic — lacing-value packet
# segmentation, continuation flags, per-page CRC-32 — so the container
# probe (the entry point every Opus/Vorbis podcast file hits) closes
# with zero codec tables. Sample decode of the Opus/Vorbis payloads is
# the named external-codec seam in decode_media.

_OGG_CRC_TABLE = []
for _b in range(256):
    _r = _b << 24
    for _ in range(8):
        _r = ((_r << 1) ^ 0x04C11DB7 if _r & 0x80000000 else _r << 1) \
            & 0xFFFFFFFF
    _OGG_CRC_TABLE.append(_r)
del _b, _r


_OGG_CRC_POS_TABLES = None  # (KMAX, 256) uint32: T_k[b] = (b << (8k+32)) mod P
# Cap the position-table length (round 18, ADVICE): an uncapped table
# scales with the largest payload seen and is retained for process
# lifetime (a 64 KiB page would pin ~67 MB per executor process).
# Larger payloads fold blockwise via CRC linearity:
# crc(a||b) = shift(crc(a), len(b)) ^ crc(b).
_OGG_CRC_POS_CAP = 8192


def _ogg_crc_pos_tables(kmax: int):
    """Position-dependent CRC-32 tables (round 17; the same linearity
    trick as _crc16_pos_tables): crc(data) = XOR_i T_{n-1-i}[data[i]]
    with T_0 the classic byte table and T_{k+1}[b] = (T_k[b] << 8) mod
    P. Capped at ``_OGG_CRC_POS_CAP`` rows (~8 MB)."""
    import numpy as np

    global _OGG_CRC_POS_TABLES
    kmax = min(kmax, _OGG_CRC_POS_CAP)
    if _OGG_CRC_POS_TABLES is None or len(_OGG_CRC_POS_TABLES) < kmax:
        size = _OGG_CRC_POS_CAP
        base = np.asarray(_OGG_CRC_TABLE, dtype=np.uint32)
        tables = np.empty((size, 256), dtype=np.uint32)
        tables[0] = base
        prev = base
        for k in range(1, size):
            prev = base[prev >> 24] ^ (prev << np.uint32(8))
            tables[k] = prev
        _OGG_CRC_POS_TABLES = tables
    return _OGG_CRC_POS_TABLES


def _ogg_crc(data: bytes) -> int:
    """Ogg page CRC-32 (RFC 3533 §6): poly 0x04C11DB7, init 0,
    UNreflected, no final xor — equivalently CRC-32/POSIX (cksum)
    without its final complement, pinned by test against the published
    POSIX check value."""
    n = len(data)
    if n >= 64:
        import numpy as np

        step = _OGG_CRC_POS_CAP
        tables = _ogg_crc_pos_tables(min(n, step))
        # First chunk takes the remainder so every subsequent shift is
        # by a full `step` block (shift amount must stay <= table size).
        first = n % step or step
        crc = 0
        pos = 0
        for m in [first] + [step] * ((n - first) // step):
            b = np.frombuffer(data, dtype=np.uint8, count=m, offset=pos)
            pos += m
            k = np.arange(m - 1, -1, -1)
            block = int(np.bitwise_xor.reduce(tables[k, b]))
            if crc:
                # shift(crc, m bytes): crc = sum_j byte_j * x^(8j), so
                # crc * x^(8m) mod P = XOR_j T_{m-4+j}[byte_j] (m >= 4
                # always holds here: every follow-on chunk is a full step)
                s = 0
                for j in range(4):
                    s ^= int(tables[m - 4 + j, (crc >> (8 * j)) & 0xFF])
                block ^= s
            crc = block
        return crc
    crc = 0
    for byte in data:
        crc = ((crc << 8) & 0xFFFFFFFF) ^ _OGG_CRC_TABLE[
            ((crc >> 24) & 0xFF) ^ byte
        ]
    return crc


def encode_ogg(
    packets, page_granules, serial: int = 0x5370_6172,
    audio_per_page: int = 3, n_header_packets: int = 2,
    max_segs_per_page: int = 255,
) -> bytes:
    """Assemble a REAL Ogg stream (RFC 3533) — the fixture inverse of
    :func:`_probe_ogg`. The first ``n_header_packets`` packets get the
    RFC-mandated layout (ident packet ALONE on the BOS page, remaining
    header packets on page 1); audio packets then fill pages
    ``audio_per_page`` at a time. Packets lace into 255-byte segments
    with a <255 terminator; a packet whose lacing exceeds
    ``max_segs_per_page`` spans pages with the continuation flag set on
    the follow-on page (how real muxers carry >64 KiB packets).
    ``page_granules`` maps AUDIO page index -> granule position; header
    pages carry granule 0, pages where no packet completes carry -1 as
    the spec requires. CRC-32 is computed over each page with the CRC
    field zeroed."""
    import struct

    lacings = []  # per packet: list of lacing values
    for p in packets:
        lv = [255] * (len(p) // 255) + [len(p) % 255]
        lacings.append(lv)
    # page plan: list of (packet slices); header pages first
    pages = []  # each: list of (pkt_idx, seg_lo, seg_hi, is_tail)
    cur: list = []
    cur_segs = 0
    audio_on_page = 0

    def flush():
        nonlocal cur, cur_segs, audio_on_page
        if cur:
            pages.append(cur)
        cur, cur_segs, audio_on_page = [], 0, 0

    for pi, lv in enumerate(lacings):
        if pi == 1 or pi == n_header_packets:
            flush()
        if pi >= n_header_packets and audio_on_page >= audio_per_page:
            flush()
        if pi >= n_header_packets:
            audio_on_page += 1
        lo = 0
        while lo < len(lv):
            room = max_segs_per_page - cur_segs
            hi = min(len(lv), lo + room)
            if hi == lo:
                flush()
                continue
            cur.append((pi, lo, hi, hi == len(lv)))
            cur_segs += hi - lo
            if hi < len(lv):
                flush()
            lo = hi
    flush()
    out = bytearray()
    seq = 0
    audio_page = 0
    for pgi, segs in enumerate(pages):
        htype = 0
        if segs[0][1] > 0:
            htype |= 0x01  # continued packet
        if pgi == 0:
            htype |= 0x02  # BOS
        if pgi == len(pages) - 1:
            htype |= 0x04  # EOS
        completes_audio = any(
            tail and pi >= n_header_packets for pi, _, _, tail in segs
        )
        header_page = all(pi < n_header_packets for pi, _, _, _ in segs)
        if header_page:
            granule = 0
        elif completes_audio:
            granule = page_granules[audio_page]
            audio_page += 1
        else:
            granule = (1 << 64) - 1  # -1: no packet completes here
        lace = []
        body = b""
        for pi, lo, hi, _tail in segs:
            lace.extend(lacings[pi][lo:hi])
            plo = lo * 255
            phi = min(len(packets[pi]), plo + sum(lacings[pi][lo:hi]))
            body += packets[pi][plo:phi]
        hdr = b"OggS" + bytes([0, htype]) + struct.pack(
            "<QIII", granule, serial, seq, 0
        ) + bytes([len(lace)]) + bytes(lace)
        page = bytearray(hdr + body)
        crc = _ogg_crc(bytes(page))
        struct.pack_into("<I", page, 22, crc)
        out += page
        seq += 1
    return bytes(out)


def make_opus_head(
    channels: int = 1, pre_skip: int = 312, input_rate: int = 48000,
) -> bytes:
    """RFC 7845 §5.1 OpusHead identification packet (version 1, mapping
    family 0)."""
    import struct

    return b"OpusHead" + bytes([1, channels]) + struct.pack(
        "<HIh", pre_skip, input_rate, 0
    ) + bytes([0])


def make_vorbis_ident(channels: int = 1, rate: int = 44100) -> bytes:
    """Vorbis I §4.2.2 identification header packet (packet type 1)."""
    import struct

    return b"\x01vorbis" + struct.pack(
        "<IBIiii", 0, channels, rate, 0, 128000, 0
    ) + bytes([0xB8, 0x01])  # blocksizes 2^8/2^11, framing bit


def _probe_ogg(payload: bytes) -> dict:
    """Ogg container probe (RFC 3533 page walk): validates every page's
    magic, version and CRC-32, counts pages and COMPLETED packets
    (continuation-aware lacing), identifies the codec from the first
    packet's magic (OpusHead / \\x01vorbis / \\x7fFLAC), and reads
    duration from the final granule position — for Opus, granules count
    48 kHz samples and include the pre-skip (RFC 7845 §4), which is
    subtracted. Returns the uniform probe keys plus ogg_pages /
    ogg_packets / codec."""
    import struct

    pos = 0
    n_pages = 0
    n_packets = 0
    first_packet = b""
    first_done = False
    last_granule = 0
    mid_packet = False
    while pos < len(payload):
        if payload[pos : pos + 4] != b"OggS":
            raise ValueError("Ogg page boundary missing OggS capture")
        if payload[pos + 4] != 0:
            raise ValueError(f"Ogg stream version {payload[pos + 4]} != 0")
        htype = payload[pos + 5]
        if bool(htype & 0x01) != mid_packet:
            raise ValueError("Ogg continuation flag disagrees with lacing")
        granule, _serial, _seq, crc = struct.unpack_from(
            "<QIII", payload, pos + 6
        )
        n_segs = payload[pos + 26]
        lace = payload[pos + 27 : pos + 27 + n_segs]
        body0 = pos + 27 + n_segs
        body_len = sum(lace)
        if body0 + body_len > len(payload):
            raise ValueError("truncated Ogg page")
        page = bytearray(payload[pos : body0 + body_len])
        struct.pack_into("<I", page, 22, 0)
        if _ogg_crc(bytes(page)) != crc:
            raise ValueError("Ogg page CRC-32 mismatch")
        off = body0
        for lv in lace:
            if not first_done:
                first_packet += payload[off : off + lv]
            off += lv
            mid_packet = lv == 255
            if lv < 255:
                n_packets += 1
                first_done = True
        if granule != (1 << 64) - 1:
            last_granule = granule
        n_pages += 1
        pos = body0 + body_len
    if mid_packet:
        raise ValueError("Ogg stream ends mid-packet")
    if n_pages == 0:
        raise ValueError("empty Ogg stream")
    codec = "unknown"
    rate = None
    ch = None
    n_samples = None
    if first_packet[:8] == b"OpusHead":
        codec = "opus"
        ch = first_packet[9]
        (pre_skip,) = struct.unpack_from("<H", first_packet, 10)
        rate = 48000  # Opus always decodes at 48 kHz; the ident field
        # records the ORIGINAL input rate, informational only
        n_samples = max(0, last_granule - pre_skip)
    elif first_packet[:7] == b"\x01vorbis":
        codec = "vorbis"
        ch = first_packet[11]
        (rate,) = struct.unpack_from("<I", first_packet, 12)
        n_samples = last_granule
    elif first_packet[:5] == b"\x7fFLAC":
        codec = "flac"
        n_samples = last_granule
    if rate == 0:
        raise ValueError("Ogg ident header rate is zero")
    dur = n_samples * 1000 // rate if n_samples and rate else None
    return {
        "container": "ogg",
        "codec": codec,
        "sample_rate": rate,
        "n_channels": ch,
        "n_frames": n_samples or None,
        "duration_ms": dur,
        "mean_bitrate_kbps": (
            len(payload) * 8 * rate // (n_samples * 1000)
            if n_samples and rate else None
        ),
        "vbr": True,
        "ogg_pages": n_pages,
        "ogg_packets": n_packets,
    }


# --- Ogg Vorbis sample decode (round 17) --------------------------------------
#
# Vorbis I is fully self-describing: every Huffman codebook, floor
# configuration and residue cascade arrives in the stream's own setup
# header, so (unlike AAC, whose ~1,500-pair scalefactor/spectrum
# codebooks are spec data this repo cannot certify from recall) a
# complete sample decoder needs NO embedded spec tables beyond two
# closed forms certified below: the floor-1 inverse-dB curve (a pure
# geometric series pinned at both published endpoints) and the
# sin(pi/2 * sin^2) window. Reference behavior: the reference engine's
# media module decodes Ogg Vorbis through its codec adapters; here the
# decode is a from-scratch Vorbis I implementation over the existing
# RFC 3533 page walk. Floor type 0 (LSP) raises by name — libvorbis
# has emitted floor 1 exclusively since 2002, so type 0 exists only in
# ancient beta streams.


class _VEOP(ValueError):
    """End of packet hit mid-read. ONLY a Vorbis audio-packet body may
    treat this as legal truncation (Vorbis I §1.1.4: the packet decodes
    with the remaining vectors zeroed); anywhere else it is an error."""


class _VBits:
    """LSB-first bit reader (Vorbis I §2: bits fill each byte starting
    at the LSB; multi-bit values assemble LSB-first)."""

    __slots__ = ("d", "pos")

    def __init__(self, d: bytes):
        self.d = d
        self.pos = 0

    def read(self, n: int) -> int:
        if n == 0:
            return 0
        pos = self.pos
        end = pos + n
        if end > 8 * len(self.d):
            raise _VEOP("Vorbis packet truncated")
        chunk = int.from_bytes(self.d[pos >> 3: (end + 7) >> 3], "little")
        self.pos = end
        return (chunk >> (pos & 7)) & ((1 << n) - 1)

    def read_bit(self) -> int:
        pos = self.pos
        if pos >= 8 * len(self.d):
            raise _VEOP("Vorbis packet truncated")
        self.pos = pos + 1
        return (self.d[pos >> 3] >> (pos & 7)) & 1


def _vilog(x: int) -> int:
    """Vorbis ilog (§9.2.1): bit position of the highest set bit + 1;
    non-positive inputs yield 0. Pinned by the spec's own examples
    (ilog(0)=0, ilog(1)=1, ilog(2)=2, ilog(3)=2, ilog(4)=3, ilog(7)=3)
    in tests."""
    return x.bit_length() if x > 0 else 0


def _vorbis_float_unpack(x: int) -> float:
    """float32_unpack (§9.2.2): 21-bit mantissa, 10-bit exponent
    (bias 788), sign in bit 31."""
    mantissa = x & 0x1FFFFF
    exponent = (x & 0x7FE00000) >> 21
    if x & 0x80000000:
        mantissa = -mantissa
    return float(mantissa) * 2.0 ** (exponent - 788)


def _vorbis_float_pack(v: float) -> int:
    """Inverse of :func:`_vorbis_float_unpack` for the integral values
    the fixture encoder writes (codebook minimum/delta)."""
    sign = 0
    if v < 0:
        sign, v = 1, -v
    m = int(v)
    if m != v:
        raise ValueError("fixture float pack wants integral values")
    exp = 788
    while m >= (1 << 21):
        if m & 1:
            raise ValueError("mantissa overflow")
        m >>= 1
        exp += 1
    return (sign << 31) | (exp << 21) | m


def _vorbis_codewords(lengths) -> dict:
    """Assign Huffman codewords from lengths exactly as Vorbis I §3.2.1
    prescribes: entries in order, each taking the numerically smallest
    available codeword of its length (MSB-first bit strings). Returns
    {entry: (length, codeword)}; entries with length None are unused
    (sparse). Certified in tests against the spec's own worked example
    (lengths 2,4,4,4,4,2,3,3 -> 00,0100,0101,0110,0111,10,110,111).
    Raises on an over-subscribed tree; an under-subscribed (incomplete)
    tree is legal and simply leaves codeword space unused."""
    free: list[tuple[int, int]] = [(0, 0)]  # (code, len) free subtrees

    def _key(t):
        return t[0] << (34 - t[1])

    out: dict[int, tuple[int, int]] = {}
    for i, ln in enumerate(lengths):
        if ln is None:
            continue
        if not 1 <= ln <= 32:
            raise ValueError("Vorbis codeword length out of range")
        for fi, (c, cl) in enumerate(free):
            if cl <= ln:
                break
        else:
            raise ValueError("over-subscribed Vorbis Huffman tree")
        del free[fi]
        code, cl2 = c, cl
        while cl2 < ln:
            code <<= 1
            cl2 += 1
            free.append((code | 1, cl2))
        out[i] = (ln, code)
        free.sort(key=_key)
    return out


# Byte bit-reversal table: Vorbis packs codewords LSB-first into bytes
# while §3.2.1 codewords are MSB-first bit strings, so the raw 8-bit
# peek at the cursor is the first 8 codeword bits in reversed order.
_VREV8 = tuple(
    int(f"{b:08b}"[::-1], 2) for b in range(256)
)


class _VorbisBook:
    """One parsed codebook: Huffman decode table plus (for lookup types
    1/2) the VQ value vectors (§3.2/§3.3)."""

    __slots__ = ("dims", "entries", "table", "maxlen", "lookup", "vq",
                 "lut8")

    def __init__(self, br: "_VBits"):
        if br.read(24) != 0x564342:
            raise ValueError("Vorbis codebook sync pattern missing")
        self.dims = br.read(16)
        self.entries = br.read(24)
        lengths: list = []
        if br.read_bit():  # ordered
            cur_len = br.read(5) + 1
            while len(lengths) < self.entries:
                num = br.read(_vilog(self.entries - len(lengths)))
                if len(lengths) + num > self.entries:
                    raise ValueError("ordered codebook length overrun")
                lengths.extend([cur_len] * num)
                cur_len += 1
        else:
            sparse = br.read_bit()
            for _ in range(self.entries):
                if sparse and not br.read_bit():
                    lengths.append(None)
                else:
                    lengths.append(br.read(5) + 1)
        codes = _vorbis_codewords(lengths)
        self.table = {v: e for e, v in codes.items()}
        self.maxlen = max((ln for ln, _ in codes.values()), default=0)
        self.lut8 = None  # peek-8 decode LUT, built on first scalar()
        self.lookup = br.read(4)
        self.vq = None
        if self.lookup in (1, 2):
            minimum = _vorbis_float_unpack(br.read(32))
            delta = _vorbis_float_unpack(br.read(32))
            value_bits = br.read(4) + 1
            sequence_p = br.read_bit()
            if self.lookup == 1:
                lv = 0
                while (lv + 1) ** self.dims <= self.entries:
                    lv += 1
                n_mult = lv
            else:
                n_mult = self.entries * self.dims
            mult = [br.read(value_bits) for _ in range(n_mult)]
            import numpy as np

            vq = np.empty((self.entries, self.dims))
            for e in range(self.entries):
                last = 0.0
                if self.lookup == 1:
                    idiv = 1
                    for d in range(self.dims):
                        off = (e // idiv) % n_mult
                        v = mult[off] * delta + minimum + last
                        if sequence_p:
                            last = v
                        vq[e, d] = v
                        idiv *= n_mult
                else:
                    for d in range(self.dims):
                        v = mult[e * self.dims + d] * delta + minimum + last
                        if sequence_p:
                            last = v
                        vq[e, d] = v
            self.vq = vq
        elif self.lookup != 0:
            raise ValueError(f"Vorbis codebook lookup type {self.lookup}")

    def _build_lut8(self) -> list:
        """256-entry peek-8 decode LUT: slot = the next 8 RAW packet
        bits at the cursor (LSB-first order, i.e. exactly the value
        ``peek8`` yields); value = ``(entry, length)`` for the unique
        codeword of length <= 8 prefixing those bits (prefix-free, so
        at most one exists), else None. Codewords are MSB-first bit
        strings, so a length-ln code ``c`` owns every slot whose LOW ln
        bits equal bit-reversed ``c``."""
        lut: list = [None] * 256
        for (ln, code), e in self.table.items():
            if ln > 8:
                continue
            rev = _VREV8[code << (8 - ln)]
            hit = (e, ln)
            for j in range(1 << (8 - ln)):
                lut[rev | (j << ln)] = hit
        self.lut8 = lut
        return lut

    def scalar(self, br: "_VBits") -> int:
        """Decode one codeword to its entry number (scalar context).

        Fast path: probe the peek-8 LUT with the next 8 raw bits —
        one chunked fetch replaces up to 8 per-bit reads. A miss means
        NO prefix of length <= 8 is a codeword (prefix-free code), so
        the per-bit walk resumes at length 9 seeded with those 8 bits.
        Within 8 bits of the packet end the original per-bit walk runs
        unchanged, preserving the exact _VEOP truncation bit position.
        Bits consumed are identical to the per-bit walk by
        construction."""
        d = br.d
        pos = br.pos
        start = 1
        code = 0
        if pos + 8 <= 8 * len(d):
            chunk = (
                int.from_bytes(d[pos >> 3: (pos + 15) >> 3], "little")
                >> (pos & 7)
            ) & 0xFF
            lut = self.lut8
            if lut is None:
                lut = self._build_lut8()
            hit = lut[chunk]
            if hit is not None:
                br.pos = pos + hit[1]
                return hit[0]
            if self.maxlen <= 8:
                raise ValueError("invalid Vorbis codeword")
            br.pos = pos + 8
            code = _VREV8[chunk]
            start = 9
        for ln in range(start, self.maxlen + 1):
            code = (code << 1) | br.read_bit()
            e = self.table.get((ln, code))
            if e is not None:
                return e
        raise ValueError("invalid Vorbis codeword")

    def vector(self, br: "_VBits"):
        """Decode to the entry's VQ value vector (VQ context)."""
        if self.vq is None:
            raise ValueError("VQ read from a lookup-0 codebook")
        return self.vq[self.scalar(br)]


# floor1_inverse_dB_table (Vorbis I §10.1): 256 float32 amplitudes.
# The published table is an exact geometric series — entry i equals
# 1.0649863e-07 * r**i with r chosen so entry 255 is 1.0, i.e.
# table[i] = exp(ln(1.0649863e-07) * (255 - i) / 255). Certified
# generatively: the published endpoints (1.0649863e-07 ... 1.0) pin the
# curve, and the published second/third entries (1.1341951e-07,
# 1.2079015e-07) match this closed form to float32 precision (checked
# in tests), so the whole 256-entry table follows without transcribing
# it — the same closed-form-over-recall rule the G.722 ILB table used.
def _floor1_inverse_db_table():
    import numpy as np

    i = np.arange(256)
    return np.exp(np.log(1.0649863e-07) * (255 - i) / 255.0).astype(
        np.float32
    ).astype(np.float64)


_F1_DB = None


def _f1_db():
    global _F1_DB
    if _F1_DB is None:
        _F1_DB = _floor1_inverse_db_table()
    return _F1_DB


def _render_point(x0: int, y0: int, x1: int, y1: int, x: int) -> int:
    """Floor-1 line prediction (§9.2.6): truncating integer slope."""
    dy = y1 - y0
    adx = x1 - x0
    ady = abs(dy)
    err = ady * (x - x0)
    off = err // adx
    return y0 - off if dy < 0 else y0 + off


def _render_line(x0: int, y0: int, x1: int, y1: int, v) -> None:
    """Floor-1 segment rasterizer (§9.2.7): Bresenham in the quantized
    dB domain, base slope truncated TOWARD ZERO with error
    accumulation. Writes v[x0 .. x1-1]."""
    dy = y1 - y0
    adx = x1 - x0
    base = int(dy / adx)  # trunc toward zero, NOT floor
    sy = base - 1 if dy < 0 else base + 1
    ady = abs(dy) - abs(base) * adx
    v[x0] = y0
    err = 0
    y = y0
    for x in range(x0 + 1, x1):
        err += ady
        if err >= adx:
            err -= adx
            y += sy
        else:
            y += base
        v[x] = y


_FLOOR1_RANGES = (256, 128, 86, 64)


def _parse_floor1(br: "_VBits", n_books: int) -> dict:
    partitions = br.read(5)
    part_classes = [br.read(4) for _ in range(partitions)]
    maxclass = max(part_classes, default=-1)
    class_dims, class_sub, masterbooks, sub_books = [], [], [], []
    for c in range(maxclass + 1):
        class_dims.append(br.read(3) + 1)
        sub = br.read(2)
        class_sub.append(sub)
        if sub:
            mb = br.read(8)
            if mb >= n_books:
                raise ValueError("floor1 masterbook out of range")
            masterbooks.append(mb)
        else:
            masterbooks.append(-1)
        row = []
        for _ in range(1 << sub):
            b = br.read(8) - 1
            if b >= n_books:
                raise ValueError("floor1 subclass book out of range")
            row.append(b)
        sub_books.append(row)
    multiplier = br.read(2) + 1
    rangebits = br.read(4)
    xlist = [0, 1 << rangebits]
    for p in range(partitions):
        for _ in range(class_dims[part_classes[p]]):
            xlist.append(br.read(rangebits))
    if len(set(xlist)) != len(xlist):
        raise ValueError("floor1 X values must be unique")
    return {
        "type": 1,
        "partition_classes": part_classes,
        "class_dims": class_dims,
        "class_subclasses": class_sub,
        "masterbooks": masterbooks,
        "subclass_books": sub_books,
        "multiplier": multiplier,
        "rangebits": rangebits,
        "xlist": xlist,
    }


def _floor1_decode(br: "_VBits", fl: dict, books) -> list | None:
    """Per-channel floor packet decode (§7.2.1). Returns the Y vector
    or None for an unused (silent) channel."""
    if not br.read_bit():
        return None
    rng = _FLOOR1_RANGES[fl["multiplier"] - 1]
    bits = _vilog(rng - 1)
    y = [br.read(bits), br.read(bits)]
    for c in fl["partition_classes"]:
        cdim = fl["class_dims"][c]
        cbits = fl["class_subclasses"][c]
        csub = (1 << cbits) - 1
        cval = 0
        if cbits:
            cval = books[fl["masterbooks"][c]].scalar(br)
        for _ in range(cdim):
            b = fl["subclass_books"][c][cval & csub]
            cval >>= cbits
            y.append(books[b].scalar(br) if b >= 0 else 0)
    return y


def _floor1_synthesis(fl: dict, y: list, n2: int):
    """Floor curve synthesis (§7.2.2-7.2.4): amplitude fit (room/
    prediction arithmetic), sorted-X line rendering, inverse-dB map.
    Returns the linear floor vector of length n2."""
    import numpy as np

    X = fl["xlist"]
    rng = _FLOOR1_RANGES[fl["multiplier"] - 1]
    npts = len(X)
    step2 = [False] * npts
    fy = [0] * npts
    step2[0] = step2[1] = True
    fy[0], fy[1] = y[0], y[1]
    for i in range(2, npts):
        # neighbor search over PRECEDING list positions (coded order)
        lo = hi = None
        for j in range(i):
            if X[j] < X[i] and (lo is None or X[j] > X[lo]):
                lo = j
            if X[j] > X[i] and (hi is None or X[j] < X[hi]):
                hi = j
        pred = _render_point(X[lo], fy[lo], X[hi], fy[hi], X[i])
        val = y[i]
        highroom = rng - pred
        lowroom = pred
        room = 2 * min(highroom, lowroom)
        if val:
            step2[lo] = step2[hi] = step2[i] = True
            if val >= room:
                if highroom > lowroom:
                    fy[i] = val - lowroom + pred
                else:
                    fy[i] = pred - (val - highroom) - 1
            elif val & 1:
                fy[i] = pred - ((val + 1) >> 1)
            else:
                fy[i] = pred + (val >> 1)
        else:
            step2[i] = False
            fy[i] = pred
        fy[i] = min(max(fy[i], 0), rng - 1)
    order = sorted(range(npts), key=lambda i: X[i])
    mult = fl["multiplier"]
    # render on a full-width scratch (X may exceed n2 for a short
    # block) so a clipped segment keeps its TRUE slope, then slice
    vec = np.zeros(max(n2, max(X) + 1), dtype=np.int64)
    lx, ly = 0, fy[order[0]] * mult
    for oi in order[1:]:
        if not step2[oi]:
            continue
        hx, hy = X[oi], fy[oi] * mult
        _render_line(lx, ly, hx, hy, vec)
        lx, ly = hx, hy
    vec[lx:] = ly  # beyond the last point the curve holds its value
    vec = vec[:n2]
    np.clip(vec, 0, 255, out=vec)
    return _f1_db()[vec]


def _parse_residue(br: "_VBits", rtype: int, n_books: int) -> dict:
    begin = br.read(24)
    end = br.read(24)
    psize = br.read(24) + 1
    classifications = br.read(6) + 1
    classbook = br.read(8)
    if classbook >= n_books:
        raise ValueError("residue classbook out of range")
    cascade = []
    for _ in range(classifications):
        low = br.read(3)
        high = br.read(5) if br.read_bit() else 0
        cascade.append((high << 3) | low)
    books = []
    for c in range(classifications):
        row = []
        for p in range(8):
            if cascade[c] & (1 << p):
                b = br.read(8)
                if b >= n_books:
                    raise ValueError("residue book out of range")
                row.append(b)
            else:
                row.append(-1)
        books.append(row)
    return {
        "type": rtype,
        "begin": begin,
        "end": end,
        "psize": psize,
        "classifications": classifications,
        "classbook": classbook,
        "cascade": cascade,
        "books": books,
    }


def _residue_core(br: "_VBits", rc: dict, books, do_decode: list,
                  vlen: int):
    """Residue partition decode (§8.6.2-8.6.4) over `len(do_decode)`
    vectors of length vlen (format 2 passes ONE virtual vector).
    End-of-packet mid-decode is legal and leaves the rest zeroed."""
    import numpy as np

    vs = [np.zeros(vlen) for _ in do_decode]
    begin = min(rc["begin"], vlen)
    end = min(rc["end"], vlen)
    psize = rc["psize"]
    parts = (end - begin) // psize
    if parts <= 0:
        return vs
    cb = books[rc["classbook"]]
    classwords = cb.dims
    nclass = rc["classifications"]
    cls = [[0] * (parts + classwords) for _ in do_decode]
    try:
        for p in range(8):
            pc = 0
            while pc < parts:
                if p == 0:
                    for j, dd in enumerate(do_decode):
                        if not dd:
                            continue
                        temp = cb.scalar(br)
                        for i in range(classwords - 1, -1, -1):
                            cls[j][pc + i] = temp % nclass
                            temp //= nclass
                for _ in range(classwords):
                    if pc >= parts:
                        break
                    for j, dd in enumerate(do_decode):
                        if not dd:
                            continue
                        c = cls[j][pc]
                        if not (rc["cascade"][c] & (1 << p)):
                            continue
                        b = rc["books"][c][p]
                        book = books[b]
                        offset = begin + pc * psize
                        # slice-assign whole VQ vectors (identical
                        # element adds); fall back to per-element
                        # writes when a malformed geometry would
                        # overrun, so the IndexError lands on the
                        # exact offending element as before
                        if rc["type"] == 0:
                            dims = book.dims
                            step = psize // dims
                            for k in range(step):
                                vec = book.vector(br)
                                s = offset + k
                                if s + (dims - 1) * step < vlen:
                                    vs[j][s: s + dims * step: step] \
                                        += vec
                                else:
                                    for d in range(dims):
                                        vs[j][s + d * step] += vec[d]
                        else:
                            k = 0
                            dims = book.dims
                            while k < psize:
                                vec = book.vector(br)
                                s = offset + k
                                if s + dims <= vlen:
                                    vs[j][s: s + dims] += vec
                                    k += dims
                                else:
                                    for d in range(dims):
                                        vs[j][offset + k] += vec[d]
                                        k += 1
                    pc += 1
    except _VEOP:
        pass  # §1.1.4: legal end of packet — remainder stays zero
    return vs


def _imdct(X, n: int, _cache={}):
    """Vorbis inverse MDCT (§ transform definition): y[j] =
    sum_k X[k] cos(pi/(2n) (2j+1+n/2)(2k+1)), j in [0, n). Direct
    matrix product — fixture blocks are <= 2048 so O(n^2/2) is cheap
    and exactly matches the defining formula the tests certify TDAC
    perfect reconstruction against."""
    import numpy as np

    C = _cache.get(n)
    if C is None:
        j = np.arange(n).reshape(-1, 1)
        k = np.arange(n // 2)
        C = np.cos(np.pi / (2 * n) * (2 * j + 1 + n // 2) * (2 * k + 1))
        _cache[n] = C
    return C @ X


def _vorbis_window(n: int, prev_long: bool, next_long: bool, n0: int,
                   _cache={}):
    """Vorbis window (§4.3.1): sin(pi/2 sin^2(...)) slopes; a long
    block adjacent to a short one carries the SHORT slope centered in
    the corresponding half (zeros outside it on the left, ones inside,
    mirrored on the right)."""
    import numpy as np

    key = (n, prev_long, next_long, n0)
    w = _cache.get(key)
    if w is not None:
        return w
    w = np.zeros(n)
    center = n // 2
    if prev_long:
        ls, ln_ = 0, center
    else:
        ls, ln_ = n // 4 - n0 // 4, n0 // 2
    le = ls + ln_
    if next_long:
        rs, rn = center, n - center
    else:
        rs, rn = 3 * n // 4 - n0 // 4, n0 // 2
    re = rs + rn
    i = np.arange(ln_)
    w[ls:le] = np.sin(
        np.pi / 2 * np.sin(np.pi / (2 * ln_) * (i + 0.5)) ** 2
    )
    w[le:rs] = 1.0
    i = np.arange(rn)
    w[rs:re] = np.sin(
        np.pi / 2
        * np.sin(np.pi / (2 * rn) * (i + 0.5) + np.pi / 2) ** 2
    )
    _cache[key] = w
    return w


def _ogg_packets(payload: bytes) -> tuple[list[bytes], int]:
    """Reassemble ALL logical packets from an Ogg stream (lacing- and
    continuation-aware, CRC-checked by reusing the page arithmetic of
    :func:`_probe_ogg`). Returns (packets, last_granule)."""
    import struct

    pos = 0
    packets: list[bytes] = []
    cur = bytearray()
    mid = False
    last_granule = 0
    while pos < len(payload):
        if payload[pos: pos + 4] != b"OggS":
            raise ValueError("Ogg page boundary missing OggS capture")
        htype = payload[pos + 5]
        if bool(htype & 0x01) != mid:
            raise ValueError("Ogg continuation flag disagrees with lacing")
        granule, _serial, _seq, crc = struct.unpack_from(
            "<QIII", payload, pos + 6
        )
        n_segs = payload[pos + 26]
        lace = payload[pos + 27: pos + 27 + n_segs]
        body0 = pos + 27 + n_segs
        body_len = sum(lace)
        if body0 + body_len > len(payload):
            raise ValueError("truncated Ogg page")
        page = bytearray(payload[pos: body0 + body_len])
        struct.pack_into("<I", page, 22, 0)
        if _ogg_crc(bytes(page)) != crc:
            raise ValueError("Ogg page CRC-32 mismatch")
        off = body0
        for lv in lace:
            cur += payload[off: off + lv]
            off += lv
            mid = lv == 255
            if lv < 255:
                packets.append(bytes(cur))
                cur = bytearray()
        if granule != (1 << 64) - 1:
            last_granule = granule
        pos = body0 + body_len
    if mid:
        raise ValueError("Ogg stream ends mid-packet")
    return packets, last_granule


def _vorbis_setup(ident: bytes, setup: bytes) -> dict:
    """Parse the identification + setup headers into decode state."""
    import struct

    if ident[:7] != b"\x01vorbis":
        raise ValueError("Vorbis identification packet missing")
    version, channels, rate = struct.unpack_from("<IBI", ident, 7)
    if version != 0:
        raise ValueError(f"Vorbis version {version} != 0")
    if channels == 0 or rate == 0:
        raise ValueError("Vorbis ident: zero channels or rate")
    bs = ident[28]
    bs0, bs1 = 1 << (bs & 0x0F), 1 << (bs >> 4)
    if not (64 <= bs0 <= 8192 and bs0 <= bs1 <= 8192):
        raise ValueError("Vorbis blocksizes out of range")
    if not ident[29] & 1:
        raise ValueError("Vorbis ident framing bit unset")
    if setup[:7] != b"\x05vorbis":
        raise ValueError("Vorbis setup packet missing")
    br = _VBits(setup[7:])
    books = [_VorbisBook(br) for _ in range(br.read(8) + 1)]
    for _ in range(br.read(6) + 1):  # time domain transforms: all zero
        if br.read(16) != 0:
            raise ValueError("Vorbis time transform != 0")
    floors = []
    for _ in range(br.read(6) + 1):
        ft = br.read(16)
        if ft == 0:
            raise NotImplementedError(
                "Vorbis floor type 0 (LSP) is not implemented; every "
                "libvorbis encoder since 2002 emits floor 1, which "
                "decodes fully"
            )
        if ft != 1:
            raise ValueError(f"Vorbis floor type {ft}")
        floors.append(_parse_floor1(br, len(books)))
    residues = []
    for _ in range(br.read(6) + 1):
        rt = br.read(16)
        if rt not in (0, 1, 2):
            raise ValueError(f"Vorbis residue type {rt}")
        residues.append(_parse_residue(br, rt, len(books)))
    mappings = []
    for _ in range(br.read(6) + 1):
        if br.read(16) != 0:
            raise ValueError("Vorbis mapping type != 0")
        submaps = br.read(4) + 1 if br.read_bit() else 1
        coupling = []
        if br.read_bit():
            for _ in range(br.read(8) + 1):
                mag = br.read(_vilog(channels - 1))
                ang = br.read(_vilog(channels - 1))
                if mag == ang or mag >= channels or ang >= channels:
                    raise ValueError("Vorbis coupling channels invalid")
                coupling.append((mag, ang))
        if br.read(2) != 0:
            raise ValueError("Vorbis mapping reserved bits set")
        if submaps > 1:
            mux = [br.read(4) for _ in range(channels)]
            if any(m >= submaps for m in mux):
                raise ValueError("Vorbis mux out of range")
        else:
            mux = [0] * channels
        submap_floor, submap_residue = [], []
        for _ in range(submaps):
            br.read(8)  # unused time config
            f = br.read(8)
            r = br.read(8)
            if f >= len(floors) or r >= len(residues):
                raise ValueError("Vorbis submap floor/residue range")
            submap_floor.append(f)
            submap_residue.append(r)
        mappings.append({
            "submaps": submaps, "coupling": coupling, "mux": mux,
            "floor": submap_floor, "residue": submap_residue,
        })
    modes = []
    for _ in range(br.read(6) + 1):
        blockflag = br.read_bit()
        if br.read(16) != 0 or br.read(16) != 0:
            raise ValueError("Vorbis mode window/transform type != 0")
        m = br.read(8)
        if m >= len(mappings):
            raise ValueError("Vorbis mode mapping out of range")
        modes.append((blockflag, m))
    if not br.read_bit():
        raise ValueError("Vorbis setup framing bit unset")
    return {
        "channels": channels, "rate": rate, "bs0": bs0, "bs1": bs1,
        "books": books, "floors": floors, "residues": residues,
        "mappings": mappings, "modes": modes,
    }


def _vorbis_decode_packet(st: dict, pkt: bytes):
    """Decode ONE audio packet to (windowed_time_domain (ch, n),
    blockflag). Floor/residue/coupling per §4.3."""
    import numpy as np

    br = _VBits(pkt)
    if br.read_bit() != 0:
        raise ValueError("not a Vorbis audio packet")
    nmodes = len(st["modes"])
    blockflag, mi = st["modes"][br.read(_vilog(nmodes - 1))]
    n = st["bs1"] if blockflag else st["bs0"]
    prev_long = next_long = True
    if blockflag:
        prev_long = bool(br.read_bit())
        next_long = bool(br.read_bit())
    mp = st["mappings"][mi]
    ch = st["channels"]
    n2 = n // 2
    floors = st["floors"]
    residues = st["residues"]
    books = st["books"]
    floor_y = []
    no_residue = []
    try:
        for c in range(ch):
            fl = floors[mp["floor"][mp["mux"][c]]]
            y = _floor1_decode(br, fl, books)
            floor_y.append(y)
            no_residue.append(y is None)
    except _VEOP:
        # EOP before the floors complete: whole packet yields silence
        floor_y += [None] * (ch - len(floor_y))
        no_residue += [True] * (ch - len(no_residue))
    # §4.3.4: a coupled pair decodes residue if EITHER side has floor
    for mag, ang in mp["coupling"]:
        if not (no_residue[mag] and no_residue[ang]):
            no_residue[mag] = no_residue[ang] = False
    resid = [None] * ch
    for s in range(mp["submaps"]):
        rc = residues[mp["residue"][s]]
        chans = [c for c in range(ch) if mp["mux"][c] == s]
        dd = [not no_residue[c] for c in chans]
        if rc["type"] == 2:
            if any(dd):
                virt = _residue_core(br, rc, books, [True],
                                     len(chans) * n2)[0]
                for i, c in enumerate(chans):
                    resid[c] = virt[i::len(chans)].copy()
            else:
                for c in chans:
                    resid[c] = np.zeros(n2)
        else:
            vs = _residue_core(br, rc, books, dd, n2)
            for i, c in enumerate(chans):
                resid[c] = vs[i]
    # inverse coupling (square polar), REVERSE declaration order
    for mag, ang in reversed(mp["coupling"]):
        M = resid[mag]
        A = resid[ang]
        newM = M.copy()
        newA = A.copy()
        pos = M > 0
        ap = A > 0
        newA[pos & ap] = (M - A)[pos & ap]
        newM[pos & ~ap] = (M + A)[pos & ~ap]
        newA[pos & ~ap] = M[pos & ~ap]
        newA[~pos & ap] = (M + A)[~pos & ap]
        newM[~pos & ~ap] = (M - A)[~pos & ~ap]
        newA[~pos & ~ap] = M[~pos & ~ap]
        resid[mag] = newM
        resid[ang] = newA
    out = np.zeros((ch, n))
    w = _vorbis_window(n, prev_long, next_long, st["bs0"])
    for c in range(ch):
        if floor_y[c] is None:
            continue
        fl = floors[mp["floor"][mp["mux"][c]]]
        curve = _floor1_synthesis(fl, floor_y[c], n2)
        out[c] = w * _imdct(curve * resid[c], n)
    return out, n


def _decode_vorbis_float(payload: bytes):
    """Full Ogg Vorbis decode to float PCM in [-1, 1): header parse,
    per-packet floor+residue+coupling+IMDCT, windowed overlap-add on an
    absolute-time accumulator (valid output runs center-of-first-frame
    to center-of-last-frame, §4.3.8), final-granule tail trim."""
    import numpy as np

    packets, last_granule = _ogg_packets(payload)
    if len(packets) < 3:
        raise ValueError("Vorbis stream wants 3 header packets")
    if packets[1][:7] != b"\x03vorbis":
        raise ValueError("Vorbis comment packet missing")
    st = _vorbis_setup(packets[0], packets[2])
    ch = st["channels"]
    sizes = []
    frames = []
    for pkt in packets[3:]:
        td, n = _vorbis_decode_packet(st, pkt)
        frames.append(td)
        sizes.append(n)
    if not frames:
        return np.zeros((ch, 0)), st
    # absolute-time frame starts: consecutive centers advance by
    # (n_k + n_{k+1})/4, so start_{k+1} = start_k + 3n_k/4 - n_{k+1}/4.
    # A long block right after a short one starts BEFORE absolute time
    # zero (its left window is zero outside the short lap region), so
    # the accumulator carries a left margin.
    starts = [0]
    for k in range(len(sizes) - 1):
        starts.append(starts[k] + 3 * sizes[k] // 4 - sizes[k + 1] // 4)
    base = -min(0, min(starts))
    acc = np.zeros(
        (ch, base + max(s + n for s, n in zip(starts, sizes)))
    )
    centers = []
    for start, td, n in zip(starts, frames, sizes):
        acc[:, base + start: base + start + n] += td
        centers.append(base + start + n // 2)
    pcm = acc[:, centers[0]: centers[-1]]
    n_avail = pcm.shape[1]
    if last_granule and last_granule < n_avail:
        pcm = pcm[:, :last_granule]  # spec: final-page tail trim
    return pcm, st


class _VBitsW:
    """LSB-first bit writer — the packing inverse of :class:`_VBits`.

    Round 17: writes buffer ``(value, nbits)`` pairs and
    :meth:`getvalue` assembles the whole stream in one vectorized pass
    — stream bit ``i`` is bit ``i - start`` of its pair's value,
    bytes filled LSB-first (``np.packbits(bitorder="little")``), the
    final partial byte zero-padded — bit-identical to the incremental
    acc/shift packer this replaces."""

    __slots__ = ("pairs",)

    def __init__(self):
        self.pairs: list = []

    def write(self, v: int, n: int) -> None:
        self.pairs.append((v, n))

    def code(self, codes: dict, entry: int) -> None:
        """Emit entry's Huffman codeword MSB-first (§3.2.1 read order):
        one bit-reversed write (the LSB-first packer emits a value's low
        bit first, so reversing the codeword yields exactly the per-bit
        MSB-first emission — round 17, replaces ln single-bit writes)."""
        ln, code = codes[entry]
        if ln <= 8:
            self.pairs.append((_VREV8[code << (8 - ln)], ln))
            return
        v = 0
        for _ in range(ln):
            v = (v << 1) | (code & 1)
            code >>= 1
        self.pairs.append((v, ln))

    def getvalue(self) -> bytes:
        import numpy as np

        if not self.pairs:
            return b""
        values = np.array([p[0] for p in self.pairs], dtype=np.int64)
        widths = np.array([p[1] for p in self.pairs], dtype=np.int64)
        ends = np.cumsum(widths)
        total = int(ends[-1])
        if total == 0:
            return b""
        shift = np.arange(total, dtype=np.int64) - np.repeat(
            ends - widths, widths
        )
        bits = ((np.repeat(values, widths) >> shift) & 1).astype(
            np.uint8
        )
        return np.packbits(bits, bitorder="little").tobytes()


# Fixture codebook set: a residue classbook (2 classes x 2 classwords),
# a 16-entry 2-dim lookup-2 residue VQ book over the integer alphabet
# {-2,-1,0,1}^2, and the floor masterbook/subclass books. All four are
# Kraft-complete (asserted in tests).
_VORBIS_FIX_BOOKS = (
    {"dims": 2, "entries": 4, "lengths": (2, 2, 2, 2), "lookup": 0},
    # entry e decodes to the pair (e//4 - 2, e%4 - 2): the full integer
    # alphabet {-2,-1,0,1}^2 via minimum -2, delta 1, 2-bit multiplicands
    {"dims": 2, "entries": 16, "lengths": (4,) * 16, "lookup": 2,
     "minimum": -2, "delta": 1, "value_bits": 2,
     "mult": tuple(m for e in range(16) for m in (e // 4, e % 4))},
    {"dims": 1, "entries": 4, "lengths": (1, 2, 3, 3), "lookup": 0},
    {"dims": 1, "entries": 8, "lengths": (3,) * 8, "lookup": 0},
)


def _vorbis_write_book(w: "_VBitsW", b: dict) -> None:
    w.write(0x564342, 24)
    w.write(b["dims"], 16)
    w.write(b["entries"], 24)
    w.write(0, 1)  # unordered
    w.write(0, 1)  # dense
    for ln in b["lengths"]:
        w.write(ln - 1, 5)
    w.write(b["lookup"], 4)
    if b["lookup"] == 2:
        w.write(_vorbis_float_pack(b["minimum"]), 32)
        w.write(_vorbis_float_pack(b["delta"]), 32)
        w.write(b["value_bits"] - 1, 4)
        w.write(0, 1)  # sequence_p
        for m in b["mult"]:
            w.write(m, b["value_bits"])


def encode_vorbis(frames, channels: int = 1, rate: int = 8000,
                  blocksizes=(64, 256), residue_type: int = 2,
                  coupling: bool = False,
                  floor_partitioned: bool = False,
                  audio_per_page: int = 3) -> bytes:
    """Assemble a REAL conforming Ogg Vorbis stream — the fixture
    inverse of :func:`_decode_vorbis`. The three header packets carry
    the fixed fixture codebook set, one floor-1 config (simple
    two-point when ``floor_partitioned`` is False: partitions=0,
    multiplier 1, rangebits 6; else a one-partition class with a
    masterbook + one live subclass book, multiplier 2), one residue
    config of ``residue_type`` (begin 0, end clamped by block,
    partition size 8, 2 classifications, cascade 0 / pass-0-only) and
    two modes (short/long). ``frames`` drive the audio packets:

        {"blockflag": 0|1,
         "floors": per channel None (silent) or {"y": [...], "cval": n},
         "res_cls": per decoded vector: class per partition,
         "res_ent": per decoded vector: {partition: [VQ entries]}}

    The encoder mirrors the decode control flow exactly (including the
    coupled-pair do-not-decode rule and the type-2 virtual vector), so
    every emitted bit is read back by spec-order decoding."""
    import math
    import struct

    bs0, bs1 = blocksizes
    books = _VORBIS_FIX_BOOKS
    codes = [_vorbis_codewords(b["lengths"]) for b in books]
    # --- header packet 1: identification
    ident = b"\x01vorbis" + struct.pack(
        "<IBIiii", 0, channels, rate, 0, 0, 0
    ) + bytes([
        (int(math.log2(bs1)) << 4) | int(math.log2(bs0)), 0x01,
    ])
    # --- header packet 2: comment (empty, framing bit set)
    comment = b"\x03vorbis" + struct.pack("<II", 0, 0) + b"\x01"
    # --- header packet 3: setup
    w = _VBitsW()
    w.write(len(books) - 1, 8)
    for b in books:
        _vorbis_write_book(w, b)
    w.write(0, 6)
    w.write(0, 16)  # one time transform, type 0
    w.write(0, 6)   # one floor
    w.write(1, 16)  # floor type 1
    if floor_partitioned:
        w.write(1, 5)      # partitions
        w.write(0, 4)      # partition class list: class 0
        w.write(2 - 1, 3)  # class 0 dims = 2
        w.write(1, 2)      # subclasses = 1 (2 slots)
        w.write(2, 8)      # masterbook: book 2
        w.write(0, 8)      # subclass slot 0: unused (book -1)
        w.write(3 + 1, 8)  # subclass slot 1: book 3
        w.write(2 - 1, 2)  # multiplier 2 (range 128)
        w.write(6, 4)      # rangebits
        w.write(16, 6)     # X[2]
        w.write(40, 6)     # X[3]
        floor_cfg = {"bits": 7, "dims": 2}
    else:
        w.write(0, 5)      # partitions = 0: pure two-point line floor
        w.write(1 - 1, 2)  # multiplier 1 (range 256)
        w.write(6, 4)      # rangebits
        floor_cfg = {"bits": 8, "dims": 0}
    w.write(0, 6)             # one residue
    w.write(residue_type, 16)
    w.write(0, 24)            # begin
    w.write(65536, 24)        # end (clamped per block at decode)
    w.write(8 - 1, 24)        # partition size 8
    w.write(2 - 1, 6)         # 2 classifications
    w.write(0, 8)             # classbook: book 0
    w.write(0, 3)             # class 0 cascade low bits: 0 (no decode)
    w.write(0, 1)
    w.write(1, 3)             # class 1 cascade: pass 0 only
    w.write(0, 1)
    w.write(1, 8)             # class 1 pass 0: book 1
    w.write(0, 6)             # one mapping, type 0
    w.write(0, 16)
    w.write(0, 1)             # one submap
    if coupling:
        if channels < 2:
            raise ValueError("coupling wants 2+ channels")
        w.write(1, 1)
        w.write(0, 8)  # one step
        w.write(0, _vilog(channels - 1))  # magnitude: ch 0
        w.write(1, _vilog(channels - 1))  # angle: ch 1
    else:
        w.write(0, 1)
    w.write(0, 2)             # reserved
    w.write(0, 8)             # submap time placeholder
    w.write(0, 8)             # floor 0
    w.write(0, 8)             # residue 0
    w.write(1, 6)             # two modes
    w.write(0, 1)             # mode 0: short
    w.write(0, 16)
    w.write(0, 16)
    w.write(0, 8)
    w.write(1, 1)             # mode 1: long
    w.write(0, 16)
    w.write(0, 16)
    w.write(0, 8)
    w.write(1, 1)             # framing
    setup = b"\x05vorbis" + w.getvalue()
    # --- audio packets
    flags = [f["blockflag"] for f in frames]
    pkts = [ident, comment, setup]
    for k, f in enumerate(frames):
        w = _VBitsW()
        w.write(0, 1)
        w.write(f["blockflag"], 1)  # mode number == blockflag here
        n = bs1 if f["blockflag"] else bs0
        if f["blockflag"]:
            w.write(flags[k - 1] if k > 0 else 1, 1)   # prev window flag
            w.write(flags[k + 1] if k + 1 < len(flags) else 1, 1)
        no_residue = []
        for c in range(channels):
            spec = f["floors"][c]
            if spec is None:
                w.write(0, 1)
                no_residue.append(True)
                continue
            w.write(1, 1)
            y = spec["y"]
            w.write(y[0], floor_cfg["bits"])
            w.write(y[1], floor_cfg["bits"])
            if floor_partitioned:
                cval = spec["cval"]
                w.code(codes[2], cval)
                for j in range(floor_cfg["dims"]):
                    live = (cval >> j) & 1  # slot 1 = book 3 live
                    if live:
                        w.code(codes[3], y[2 + j])
            no_residue.append(False)
        for mag, ang in ([(0, 1)] if coupling else []):
            if not (no_residue[mag] and no_residue[ang]):
                no_residue[mag] = no_residue[ang] = False
        n2 = n // 2
        if residue_type == 2:
            vecs = [] if all(no_residue) else [0]
            vlen = channels * n2
        else:
            vecs = [c for c in range(channels) if not no_residue[c]]
            vlen = n2
        parts = min(65536, vlen) // 8
        for p in range(8):
            pc = 0
            while pc < parts:
                if p == 0:
                    for vi, _v in enumerate(vecs):
                        cls = f["res_cls"][vi]
                        c0 = cls[pc] if pc < len(cls) else 0
                        c1 = cls[pc + 1] if pc + 1 < len(cls) else 0
                        w.code(codes[0], c0 * 2 + c1)
                for _ in range(2):  # classwords
                    if pc >= parts:
                        break
                    for vi, _v in enumerate(vecs):
                        cls = f["res_cls"][vi]
                        c = cls[pc] if pc < len(cls) else 0
                        if c != 1:
                            continue
                        for e in f["res_ent"][vi][pc]:
                            w.code(codes[1], e)
                    pc += 1
        pkts.append(w.getvalue())
    # --- page granules: cumulative returned samples after each page's
    # last completed audio packet (frame 0 primes the lap, returns 0)
    sizes = [bs1 if bf else bs0 for bf in flags]
    cum = [0]
    for k in range(1, len(sizes)):
        cum.append(cum[-1] + (sizes[k - 1] + sizes[k]) // 4)
    n_pages = (len(cum) + audio_per_page - 1) // audio_per_page
    page_granules = [
        cum[min((i + 1) * audio_per_page, len(cum)) - 1]
        for i in range(n_pages)
    ]
    return encode_ogg(
        pkts, page_granules, audio_per_page=audio_per_page,
        n_header_packets=3,
    )


def _decode_vorbis(payload: bytes) -> dict:
    """Ogg Vorbis to the uniform PCM contract (int16 at the
    conventional full-scale 32768, matching the MP3/AAC-free audio
    matrix)."""
    import numpy as np

    pcm, st = _decode_vorbis_float(payload)
    ch, n = pcm.shape
    ints = np.clip(np.rint(pcm * 32768.0), -32768, 32767).astype(np.int16)
    inter = ints.T.reshape(-1)
    return {
        "n_channels": ch,
        "sample_width": 2,
        "frame_rate": st["rate"],
        "n_frames": n,
        "pcm": inter.tobytes(),
        "codec": "vorbis",
    }


# --- audio training-prep DSP (round 17): resample / VAD / MFCC ---------------
#
# The three preparation steps a large-scale speech/audio training
# pipeline runs on every clip before featurization or packing:
# resample-to-model-rate, voice-activity segmentation, and MFCC
# features. All pure-formula DSP (windowed-sinc polyphase, frame
# energy state machine, mel filterbank + DCT-II) — no spec tables, no
# external libs; numpy-vectorized inside mapInPandas kernels so the
# hot path is C even though the control flow is Python.


def resample_pcm(pcm, sr_in: int, sr_out: int, taps_per_phase: int = 16):
    """Rational polyphase resampler: int16-range float in, float out.
    The rate change L/M = sr_out/sr_in (reduced) is realized as a
    windowed-sinc interpolation filter evaluated at the exact rational
    output instants t_k = k*M/L input samples — mathematically the
    upsample-by-L -> lowpass -> downsample-by-M cascade without
    materializing the upsampled signal. The kernel is a Hann-windowed
    sinc with cutoff min(sr_in, sr_out)/2 (expressed in input-sample
    units: fc = min(1, L/M)/2 cycles/sample), ``taps_per_phase`` input
    samples each side; each output's tap weights are normalized to sum
    1 so DC passes EXACTLY regardless of phase (the polyphase-branch
    normalization rule). Output length is ceil(n * L / M) — the
    convention the oracle recomputes. Edge samples use zero padding."""
    import math

    import numpy as np

    if sr_in <= 0 or sr_out <= 0:
        raise ValueError("sample rates must be positive")
    x = np.asarray(pcm, dtype=np.float64)
    if sr_in == sr_out:
        return x.copy()
    g = math.gcd(sr_in, sr_out)
    L, M = sr_out // g, sr_in // g
    n = len(x)
    n_out = -(-n * L // M)
    if n_out == 0 or n == 0:
        return np.zeros(0)
    k = np.arange(n_out)
    # exact rational instants as integer + fractional parts (avoids
    # float drift at large k: k*M = pos_int*L + rem with rem < L)
    pos_int = (k * M) // L
    fc = 0.5 * min(1.0, L / M)
    offs = np.arange(-taps_per_phase + 1, taps_per_phase + 1)
    if L < n_out:
        # only L distinct phases exist: build the L tap-weight rows once
        # and gather per output (round 17) — elementwise-identical to
        # evaluating the sinc at every output row (same frac = r/L
        # floats, same ufunc results), just without recomputing each
        # phase n_out/L times
        fr = np.arange(L) / L
        t = fr[:, None] - offs[None, :]
        h = 2 * fc * np.sinc(2 * fc * t)
        h *= 0.5 + 0.5 * np.cos(np.pi * t / taps_per_phase)
        h /= h.sum(axis=1, keepdims=True)
        h = h[(k * M) % L]
    else:
        frac = ((k * M) % L) / L  # in [0, 1) input samples
        # tap time distances: (frac - off) for each output row
        t = frac[:, None] - offs[None, :]
        h = 2 * fc * np.sinc(2 * fc * t)
        # Hann window over the tap span keeps sidelobes down
        h *= 0.5 + 0.5 * np.cos(np.pi * t / taps_per_phase)
        h /= h.sum(axis=1, keepdims=True)  # per-phase DC normalization
    idx = pos_int[:, None] + offs[None, :]
    valid = (idx >= 0) & (idx < n)
    xv = np.where(valid, x[np.clip(idx, 0, n - 1)], 0.0)
    return (xv * h).sum(axis=1)


def vad_segments(pcm, sr: int, frame_ms: int = 20,
                 thresh_dbfs: float = -35.0, hang_frames: int = 2):
    """Energy voice-activity detection with hangover: the PCM (int16
    full-scale 32768) is cut into ``frame_ms`` frames; a frame is HOT
    when its RMS exceeds ``thresh_dbfs`` dB below full scale; a
    segment opens at a hot frame and closes only after ``hang_frames``
    consecutive cold frames (the hangover keeps intra-word pauses from
    splitting a segment). Returns (flags, segments) where flags is the
    per-frame hot bool array and segments a list of (start_frame,
    end_frame_exclusive) pairs INCLUDING any trailing hangover frames.
    The state machine is exactly reproducible in SQL over closed-form
    frame energies — the gate's oracle replays it with window
    functions."""
    import numpy as np

    x = np.asarray(pcm, dtype=np.float64)
    flen = max(1, sr * frame_ms // 1000)
    n_frames = len(x) // flen
    if n_frames == 0:
        return np.zeros(0, dtype=bool), []
    frames = x[: n_frames * flen].reshape(n_frames, flen)
    rms = np.sqrt((frames ** 2).mean(axis=1))
    thresh = 32768.0 * (10.0 ** (thresh_dbfs / 20.0))
    hot = rms > thresh
    segments = []
    start = None
    cold = 0
    for i, hflag in enumerate(hot):
        if hflag:
            if start is None:
                start = i
            cold = 0
        elif start is not None:
            cold += 1
            if cold > hang_frames:
                segments.append((start, i - cold + 1 + hang_frames))
                start = None
                cold = 0
    if start is not None:
        segments.append((start, n_frames))
    return hot, segments


def _mel_filterbank(sr: int, n_fft: int, n_mels: int):
    """Triangular mel filterbank (HTK convention: mel = 2595 *
    log10(1 + f/700)), n_mels rows over the n_fft//2+1 rFFT bins,
    edges equally spaced in mel between 0 and sr/2."""
    import numpy as np

    def mel(f):
        return 2595.0 * np.log10(1.0 + np.asarray(f, dtype=np.float64)
                                 / 700.0)

    def imel(m):
        return 700.0 * (10.0 ** (np.asarray(m, np.float64) / 2595.0)
                        - 1.0)

    edges_hz = imel(np.linspace(0.0, float(mel(sr / 2)), n_mels + 2))
    bins = np.floor((n_fft + 1) * edges_hz / sr).astype(np.int64)
    fb = np.zeros((n_mels, n_fft // 2 + 1))
    for m in range(n_mels):
        lo, ce, hi = bins[m], bins[m + 1], bins[m + 2]
        for b in range(lo, ce):
            if ce > lo:
                fb[m, b] = (b - lo) / (ce - lo)
        for b in range(ce, hi):
            if hi > ce:
                fb[m, b] = (hi - b) / (hi - ce)
    return fb


def mfcc_features(pcm, sr: int, n_fft: int = 256, hop: int = 128,
                  n_mels: int = 20, n_mfcc: int = 13):
    """MFCC matrix (n_frames, n_mfcc): Hann-windowed frames -> power
    rFFT -> mel filterbank -> log -> orthonormal DCT-II. Frame count
    is 1 + (n - n_fft)//hop for n >= n_fft (else 0) — the closed form
    the oracle recomputes. All numpy; the log floor 1e-10 keeps silent
    frames finite."""
    import numpy as np

    x = np.asarray(pcm, dtype=np.float64)
    n = len(x)
    if n < n_fft:
        return np.zeros((0, n_mfcc))
    n_frames = 1 + (n - n_fft) // hop
    idx = np.arange(n_fft)[None, :] + hop * np.arange(n_frames)[:, None]
    frames = x[idx] * np.hanning(n_fft)[None, :]
    power = np.abs(np.fft.rfft(frames, axis=1)) ** 2
    fb = _mel_filterbank(sr, n_fft, n_mels)
    logmel = np.log(np.maximum(power @ fb.T, 1e-10))
    # orthonormal DCT-II over the mel axis
    m = np.arange(n_mels)
    dct = np.cos(np.pi / n_mels * (m[None, :] + 0.5) * np.arange(
        n_mfcc)[:, None])
    dct *= np.sqrt(2.0 / n_mels)
    dct[0] /= np.sqrt(2.0)
    return logmel @ dct.T


@register(
    "audio_resample_features",
    oracle="""
    WITH p AS (
        SELECT d.doc_id,
               CAST(d.doc_id % 4 AS INTEGER) AS pair,
               1500 + (d.doc_id % 5) * 200 AS n_in
        FROM documents d
    )
    SELECT doc_id,
           CASE pair WHEN 0 THEN 8000 WHEN 1 THEN 44100
                WHEN 2 THEN 16000 ELSE 22050 END AS sr_in,
           CASE pair WHEN 2 THEN 8000 ELSE 16000 END AS sr_out,
           CAST(n_in AS BIGINT) AS n_in,
           CAST(CASE pair
                WHEN 0 THEN n_in * 2
                WHEN 1 THEN (n_in * 160 + 440) // 441
                WHEN 2 THEN (n_in + 1) // 2
                ELSE (n_in * 320 + 440) // 441 END AS BIGINT) AS n_out,
           TRUE AS dc_exact,
           TRUE AS sine_snr_ok
    FROM p
    ORDER BY doc_id
    """,
)
def audio_resample_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rational resampling under the differential gate (round 17; the
    resample-to-model-rate prep step every speech pipeline runs at
    scale): per doc a rate pair cycles through up (8k->16k), the
    awkward 44.1k->16k (L/M = 160/441), down (16k->8k) and
    22.05k->16k (320/441); the oracle recomputes the EXACT output
    length ceil(n*L/M) per pair from the closed forms. ``dc_exact``
    asserts a constant signal passes the interior bit-exactly (the
    per-phase kernel normalization rule — any tap-weight slip breaks
    it); ``sine_snr_ok`` bounds a doc-dependent pure tone's
    reconstruction above 55 dB SNR against the analytically resampled
    tone. Map-only mapInPandas with the standard core fan-out."""
    import numpy as np

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        pairs = ((8000, 16000), (44100, 16000), (16000, 8000),
                 (22050, 16000))
        for pdf in batches:
            out = {
                "doc_id": [], "sr_in": [], "sr_out": [], "n_in": [],
                "n_out": [], "dc_exact": [], "sine_snr_ok": [],
            }
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                sr_in, sr_out = pairs[d % 4]
                n_in = 1500 + (d % 5) * 200
                g = np.gcd(sr_in, sr_out)
                L, M = sr_out // g, sr_in // g
                marg = 20 * max(1, -(-L // M)) + 20
                dc = np.full(n_in, float(500 + d % 1000))
                ydc = resample_pcm(dc, sr_in, sr_out)
                dc_ok = bool(
                    np.abs(ydc[marg:-marg] - dc[0]).max() < 1e-9
                )
                f0 = 200.0 + (d % 7) * 150.0  # < min(sr)/2 always
                t1 = np.arange(n_in) / sr_in
                x = np.sin(2 * np.pi * f0 * t1) * 10000.0
                y = resample_pcm(x, sr_in, sr_out)
                t2 = np.arange(len(y)) / sr_out
                ref = np.sin(2 * np.pi * f0 * t2) * 10000.0
                e = y[marg:-marg] - ref[marg:-marg]
                snr = 10.0 * np.log10(
                    (ref[marg:-marg] ** 2).sum()
                    / max(float((e ** 2).sum()), 1e-30)
                )
                out["doc_id"].append(d)
                out["sr_in"].append(sr_in)
                out["sr_out"].append(sr_out)
                out["n_in"].append(n_in)
                out["n_out"].append(len(y))
                out["dc_exact"].append(dc_ok)
                out["sine_snr_ok"].append(bool(snr > 55.0))
            yield pd.DataFrame(out)

    schema = (
        "doc_id long, sr_in long, sr_out long, n_in long, n_out long, "
        "dc_exact boolean, sine_snr_ok boolean"
    )
    return docs.mapInPandas(run, schema)


@register(
    "audio_vad_features",
    oracle="""
    WITH p AS (
        SELECT d.doc_id, 20 + d.doc_id % 7 AS nf
        FROM documents d
    ),
    f AS (
        SELECT p.doc_id, p.nf, i.i AS frame,
               ((p.doc_id + i.i) % 5 < 2
                OR (p.doc_id + i.i) % 11 = 7) AS hot
        FROM p,
             LATERAL (SELECT unnest(generate_series(0, p.nf - 1)) AS i) i
    ),
    h AS (
        SELECT doc_id, nf, frame,
               frame - LAG(frame) OVER (
                   PARTITION BY doc_id ORDER BY frame
               ) AS gap
        FROM f WHERE hot
    )
    SELECT p.doc_id,
           CAST(p.nf AS BIGINT) AS n_frames,
           CAST(COALESCE(hh.n_hot, 0) AS BIGINT) AS n_hot,
           CAST(COALESCE(hh.n_segments, 0) AS BIGINT) AS n_segments
    FROM p LEFT JOIN (
        SELECT doc_id, COUNT(*) AS n_hot,
               SUM(CASE WHEN gap IS NULL OR gap > 3 THEN 1 ELSE 0 END)
                   AS n_segments
        FROM h GROUP BY doc_id
    ) hh USING (doc_id)
    ORDER BY p.doc_id
    """,
)
def audio_vad_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Energy VAD under the differential gate (round 17): per doc a
    closed-form hot/cold frame pattern — hot iff (d+f)%5 < 2 or
    (d+f)%11 == 7, so isolated single-frame bursts and short gaps both
    occur — is synthesized as 20 ms PCM frames (5000 amplitude vs
    silence) and segmented by :func:`vad_segments` (threshold -35
    dBFS, hangover 2). The ORACLE REPLAYS THE STATE MACHINE in SQL:
    hot frames via the closed form, and a segment starts exactly at a
    hot frame whose gap from the previous hot frame exceeds
    hangover+1 (the merge rule) — LAG over the hot-frame sequence. A
    drift in the hangover arithmetic or the energy threshold
    misclassifies a frame and flips the counts. Map-only
    mapInPandas."""
    import numpy as np

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        sr = 8000
        flen = sr * 20 // 1000
        for pdf in batches:
            out = {"doc_id": [], "n_frames": [], "n_hot": [],
                   "n_segments": []}
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                nf = 20 + d % 7
                hot_plan = [
                    (d + f) % 5 < 2 or (d + f) % 11 == 7
                    for f in range(nf)
                ]
                pcm = np.concatenate([
                    np.full(flen, 5000.0) if hflag else np.zeros(flen)
                    for hflag in hot_plan
                ])
                hot, segs = vad_segments(pcm, sr)  # REAL state machine
                out["doc_id"].append(d)
                out["n_frames"].append(len(hot))
                out["n_hot"].append(int(hot.sum()))
                out["n_segments"].append(len(segs))
            yield pd.DataFrame(out)

    schema = (
        "doc_id long, n_frames long, n_hot long, n_segments long"
    )
    return docs.mapInPandas(run, schema)


@register(
    "audio_mfcc_features",
    oracle="""
    SELECT d.doc_id,
           CAST(1 + (4000 + (d.doc_id % 4) * 512 - 256) // 128
                AS BIGINT) AS n_frames,
           CAST(13 AS BIGINT) AS n_mfcc,
           TRUE AS all_finite,
           TRUE AS tone_peak_stable,
           TRUE AS louder_is_bigger_c0
    FROM documents d
    ORDER BY d.doc_id
    """,
)
def audio_mfcc_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MFCC extraction under the differential gate (round 17): per doc
    a pure tone at a doc-dependent frequency runs through
    :func:`mfcc_features` (Hann frames, power rFFT, HTK mel
    filterbank, orthonormal DCT-II). The oracle pins the closed-form
    frame count 1 + (n - n_fft)//hop; ``tone_peak_stable`` asserts the
    dominant log-mel bin (recomputed per frame pre-DCT) is the same in
    every interior frame — a windowing or filterbank-edge slip makes
    the peak wander; ``louder_is_bigger_c0`` checks c0 ordering
    between the tone and a 20 dB quieter copy (DCT-II c0 is the
    log-energy aggregate). Map-only mapInPandas."""
    import numpy as np

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        sr = 16000
        for pdf in batches:
            out = {
                "doc_id": [], "n_frames": [], "n_mfcc": [],
                "all_finite": [], "tone_peak_stable": [],
                "louder_is_bigger_c0": [],
            }
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                n = 4000 + (d % 4) * 512
                f0 = 300.0 + (d % 9) * 400.0
                t = np.arange(n) / sr
                x = np.sin(2 * np.pi * f0 * t) * 10000.0
                mf = mfcc_features(x, sr)
                fb = _mel_filterbank(sr, 256, 20)
                idx = np.arange(256)[None, :] + 128 * np.arange(
                    mf.shape[0]
                )[:, None]
                pw = np.abs(np.fft.rfft(
                    x[idx] * np.hanning(256)[None, :], axis=1
                )) ** 2
                peaks = np.argmax(pw @ fb.T, axis=1)
                quiet = mfcc_features(x * 0.1, sr)
                out["doc_id"].append(d)
                out["n_frames"].append(mf.shape[0])
                out["n_mfcc"].append(mf.shape[1])
                out["all_finite"].append(bool(np.isfinite(mf).all()))
                out["tone_peak_stable"].append(
                    bool((peaks == peaks[0]).all())
                )
                out["louder_is_bigger_c0"].append(
                    bool((mf[:, 0] > quiet[:, 0]).all())
                )
            yield pd.DataFrame(out)

    schema = (
        "doc_id long, n_frames long, n_mfcc long, all_finite boolean, "
        "tone_peak_stable boolean, louder_is_bigger_c0 boolean"
    )
    return docs.mapInPandas(run, schema)


# --- audio tag / metadata extraction (round 17) -------------------------------
#
# Provenance metadata (title/artist/album/date) drives curation joins
# and dedup hints in a real training-data pipeline. All four tag
# systems here are algorithmic: ID3v2.3/2.4 (synchsafe sizes, frame
# text encodings, unsynchronization), the trailing ID3v1 block, Vorbis
# comments (Ogg's OpusTags / \x03vorbis packet), and RIFF LIST/INFO.

_ID3V2_TEXT = {
    "TIT2": "title", "TPE1": "artist", "TALB": "album",
    "TDRC": "date", "TYER": "date", "TRCK": "track", "TCON": "genre",
}
_ID3V22_TEXT = {
    "TT2": "title", "TP1": "artist", "TAL": "album",
    "TYE": "date", "TRK": "track", "TCO": "genre",
}
_WAV_INFO = {
    b"INAM": "title", b"IART": "artist", b"IPRD": "album",
    b"ICRD": "date", b"IGNR": "genre",
}
_VORBIS_KEYS = {
    "title": "title", "artist": "artist", "album": "album",
    "date": "date", "tracknumber": "track", "genre": "genre",
}


def _synchsafe(b: bytes) -> int:
    """28-bit synchsafe integer (ID3v2 §6.2): 4 bytes, 7 bits each."""
    if any(x & 0x80 for x in b):
        raise ValueError("ID3v2 synchsafe byte has bit 7 set")
    return (b[0] << 21) | (b[1] << 14) | (b[2] << 7) | b[3]


def _id3_text(body: bytes) -> str:
    """Decode an ID3v2 text frame body: leading encoding byte 0
    (latin-1), 1 (UTF-16 with BOM), 2 (UTF-16BE) or 3 (UTF-8), then
    the text, tolerant of trailing NULs."""
    if not body:
        return ""
    enc = body[0]
    raw = body[1:]
    if enc == 0:
        s = raw.decode("latin-1")
    elif enc == 1:
        s = raw.decode("utf-16")
    elif enc == 2:
        s = raw.decode("utf-16-be")
    elif enc == 3:
        s = raw.decode("utf-8")
    else:
        raise ValueError(f"ID3v2 text encoding {enc} undefined")
    return s.rstrip("\x00")


def _parse_id3v2(payload: bytes) -> tuple[dict, int]:
    """Parse a leading ID3v2.2/2.3/2.4 tag → (normalized tags, tag
    bytes incl. header). v2.2 (round 17) uses 3-char frame ids with
    3-byte sizes and only encodings 0/1; a v2.2 compression flag
    raises. The unsynchronization flag reverses the 0xFF 0x00 -> 0xFF
    insertion before frame parsing (whole-tag semantics)."""
    if payload[:3] != b"ID3" or len(payload) < 10:
        raise ValueError("not an ID3v2 tag")
    ver, rev, flags = payload[3], payload[4], payload[5]
    if ver not in (2, 3, 4):
        raise ValueError(f"ID3v2.{ver} unknown")
    if ver == 2 and flags & 0x40:
        raise NotImplementedError(
            "ID3v2.2 compressed tags are not implemented (the flag was "
            "never given an on-wire definition); uncompressed v2.2 and "
            "v2.3/v2.4 parse"
        )
    size = _synchsafe(payload[6:10])
    total = 10 + size + (10 if ver != 2 and flags & 0x10 else 0)  # footer
    body = payload[10 : 10 + size]
    if flags & 0x80:  # unsynchronized: drop the inserted 0x00s
        body = body.replace(b"\xff\x00", b"\xff")
    pos = 0
    if ver != 2 and flags & 0x40:  # extended header: self-sized, skip
        if len(body) < 4:
            raise ValueError("truncated ID3v2 extended header")
        ehs = (
            _synchsafe(body[0:4]) if ver == 4
            else int.from_bytes(body[0:4], "big") + 4
        )
        pos = ehs
    idn = 3 if ver == 2 else 4
    hdrn = 6 if ver == 2 else 10
    tags: dict = {}
    while pos + hdrn <= len(body):
        fid = body[pos : pos + idn]
        if fid == bytes(idn):
            break  # padding
        if ver == 2:
            fsz = int.from_bytes(body[pos + 3 : pos + 6], "big")
        elif ver == 4:
            fsz = _synchsafe(body[pos + 4 : pos + 8])
        else:
            fsz = int.from_bytes(body[pos + 4 : pos + 8], "big")
        fbody = body[pos + hdrn : pos + hdrn + fsz]
        if len(fbody) < fsz:
            raise ValueError("truncated ID3v2 frame")
        name = fid.decode("latin-1")
        key = (
            _ID3V22_TEXT.get(name) if ver == 2 else _ID3V2_TEXT.get(name)
        )
        if key and key not in tags:
            if ver == 2 and fbody[:1] not in (b"\x00", b"\x01"):
                raise ValueError(
                    "ID3v2.2 text frames define only encodings 0/1"
                )
            tags[key] = _id3_text(fbody)
        pos += hdrn + fsz
    return tags, total


def _parse_id3v1(payload: bytes) -> dict:
    """The trailing 128-byte ID3v1 'TAG' block → normalized tags (empty
    dict when absent)."""
    if len(payload) < 128 or payload[-128:-125] != b"TAG":
        return {}
    blk = payload[-128:]

    def field(a: int, b: int) -> str:
        return blk[a:b].split(b"\x00")[0].decode(
            "latin-1", errors="replace"
        ).strip()

    out = {}
    for key, a, b in (
        ("title", 3, 33), ("artist", 33, 63), ("album", 63, 93),
        ("date", 93, 97),
    ):
        v = field(a, b)
        if v:
            out[key] = v
    return out


def _parse_vorbis_comments(packet: bytes, skip: int) -> dict:
    """A Vorbis-comment block (after its ``skip``-byte magic): LE32
    vendor length + vendor, LE32 count, then count LE32-length-prefixed
    UTF-8 'KEY=value' entries; keys case-insensitive."""
    import struct

    pos = skip
    (vlen,) = struct.unpack_from("<I", packet, pos)
    pos += 4 + vlen
    (count,) = struct.unpack_from("<I", packet, pos)
    pos += 4
    tags: dict = {}
    for _ in range(count):
        if pos + 4 > len(packet):
            raise ValueError("truncated Vorbis comment block")
        (ln,) = struct.unpack_from("<I", packet, pos)
        pos += 4
        entry = packet[pos : pos + ln].decode("utf-8")
        pos += ln
        if "=" not in entry:
            raise ValueError("Vorbis comment entry missing '='")
        k, v = entry.split("=", 1)
        key = _VORBIS_KEYS.get(k.lower())
        if key and key not in tags:
            tags[key] = v
    return tags


def extract_audio_tags(payload: bytes) -> dict:
    """Normalized provenance tags (title/artist/album/date/track/genre,
    missing keys absent) from whatever tag system the container
    carries: a leading ID3v2.3/2.4 tag (with ID3v1 fallback for keys
    v2 lacks), a bare trailing ID3v1 block, the Vorbis-comment packet
    of an Ogg stream (OpusTags or packet-type-3 vorbis), or RIFF
    LIST/INFO. Containers with no tag system yield {}."""
    import struct

    if payload[:3] == b"ID3":
        tags, total = _parse_id3v2(payload)
        for k, v in _parse_id3v1(payload).items():
            tags.setdefault(k, v)
        return tags
    if payload[:4] == b"OggS":
        # find the SECOND packet (the comment header) via the page walk
        pos = 0
        packets: list[bytes] = [b""]
        while pos < len(payload) and len(packets) < 3:
            if payload[pos : pos + 4] != b"OggS":
                raise ValueError("Ogg page boundary missing OggS capture")
            n_segs = payload[pos + 26]
            lace = payload[pos + 27 : pos + 27 + n_segs]
            off = pos + 27 + n_segs
            for lv in lace:
                packets[-1] += payload[off : off + lv]
                off += lv
                if lv < 255:
                    packets.append(b"")
            pos = off
        if len(packets) < 3:
            return {}
        second = packets[1]
        if second[:8] == b"OpusTags":
            return _parse_vorbis_comments(second, 8)
        if second[:7] == b"\x03vorbis":
            return _parse_vorbis_comments(second, 7)
        return {}
    if payload[:4] in (b"RIFF", b"RF64", b"BW64") and payload[8:12] in (
        b"WAVE", b"AVI "
    ):
        tags: dict = {}
        pos = 12
        while pos + 8 <= len(payload):
            cid = payload[pos : pos + 4]
            (size,) = struct.unpack_from("<I", payload, pos + 4)
            body0 = pos + 8
            if cid == b"LIST" and payload[body0 : body0 + 4] == b"INFO":
                at = body0 + 4
                while at + 8 <= body0 + size:
                    sub = payload[at : at + 4]
                    (ssz,) = struct.unpack_from("<I", payload, at + 4)
                    key = _WAV_INFO.get(sub)
                    if key and key not in tags:
                        tags[key] = payload[
                            at + 8 : at + 8 + ssz
                        ].split(b"\x00")[0].decode("utf-8",
                                                   errors="replace")
                    at += 8 + ssz + (ssz & 1)
            pos = body0 + size + (size & 1)
        return tags
    if _parse_id3v1(payload):
        return _parse_id3v1(payload)
    return {}


def encode_id3v2(
    tags: dict, version: int = 4, utf16: bool = False,
    unsync: bool = False, padding: int = 16,
) -> bytes:
    """Assemble a REAL ID3v2.2/2.3/2.4 tag from normalized keys — the
    fixture inverse of :func:`_parse_id3v2`. v2.4 writes synchsafe
    frame sizes and TDRC; v2.3 plain big-endian sizes and TYER; v2.2
    3-char ids with 3-byte sizes; ``utf16`` writes encoding 1 (UTF-16
    with BOM), else UTF-8 (v2.4) or latin-1; ``unsync`` applies the
    whole-tag 0xFF 0x00 insertion and sets the header flag."""
    if version == 2:
        rev = {v: k for k, v in _ID3V22_TEXT.items()}
    else:
        rev = {v: k for k, v in _ID3V2_TEXT.items() if k != "TYER"}
        if version == 3:
            rev["date"] = "TYER"
    body = b""
    for key, val in tags.items():
        fid = rev[key].encode()
        if utf16:
            fb = b"\x01" + val.encode("utf-16")  # BOM included
        elif version == 4:
            fb = b"\x03" + val.encode("utf-8")
        else:
            fb = b"\x00" + val.encode("latin-1")
        if version == 2:
            body += fid + len(fb).to_bytes(3, "big") + fb
        else:
            sz = (
                bytes([(len(fb) >> s) & 0x7F for s in (21, 14, 7, 0)])
                if version == 4
                else len(fb).to_bytes(4, "big")
            )
            body += fid + sz + b"\x00\x00" + fb
    body += bytes(padding)
    flags = 0
    if unsync:
        body = body.replace(b"\xff", b"\xff\x00")
        flags |= 0x80
    hdr = b"ID3" + bytes([version, 0, flags]) + bytes(
        [(len(body) >> s) & 0x7F for s in (21, 14, 7, 0)]
    )
    return hdr + body


def encode_id3v1(tags: dict) -> bytes:
    """The trailing 128-byte ID3v1 block from normalized keys."""
    def pad(s: str, n: int) -> bytes:
        b = s.encode("latin-1", errors="replace")[:n]
        return b + bytes(n - len(b))

    return (
        b"TAG" + pad(tags.get("title", ""), 30)
        + pad(tags.get("artist", ""), 30)
        + pad(tags.get("album", ""), 30)
        + pad(tags.get("date", ""), 4) + bytes(30) + bytes([255])
    )


def make_vorbis_comments(
    tags: dict, opus: bool = True, vendor: str = "fixture"
) -> bytes:
    """An OpusTags / packet-type-3 vorbis comment packet from
    normalized keys — the fixture inverse of
    :func:`_parse_vorbis_comments`."""
    import struct

    rev = {v: k.upper() for k, v in _VORBIS_KEYS.items()}
    out = b"OpusTags" if opus else b"\x03vorbis"
    vb = vendor.encode()
    out += struct.pack("<I", len(vb)) + vb
    out += struct.pack("<I", len(tags))
    for key, val in tags.items():
        entry = (rev[key] + "=" + val).encode("utf-8")
        out += struct.pack("<I", len(entry)) + entry
    if not opus:
        out += b"\x01"  # vorbis framing bit
    return out


def encode_wav_info(wav: bytes, tags: dict) -> bytes:
    """Append a RIFF LIST/INFO chunk with the normalized tags to an
    existing WAV, fixing up the RIFF size."""
    import struct

    rev = {v: k for k, v in _WAV_INFO.items()}
    body = b"INFO"
    for key, val in tags.items():
        vb = val.encode("utf-8") + b"\x00"
        body += rev[key] + struct.pack("<I", len(vb)) + vb
        if len(vb) & 1:
            body += b"\x00"
    chunk = b"LIST" + struct.pack("<I", len(body)) + body
    out = bytearray(wav + chunk)
    struct.pack_into("<I", out, 4, len(out) - 8)
    return bytes(out)


def probe_audio(payload: bytes) -> dict:
    """Container-level audio metadata without decoding samples — the
    audio face of :func:`probe_video`: WAV via the RIFF chunk walk
    (PCM, G.711 and ADPCM formats all probe from 'fmt '/'fact'/'data'
    alone), MP3 via the frame-header walk. Uniform keys: container,
    sample_rate, n_channels, n_frames, duration_ms, mean_bitrate_kbps,
    vbr."""
    if len(payload) >= 12 and payload[:4] in (
        b"RIFF", b"RF64", b"BW64"
    ) and payload[8:12] == b"WAVE":
        w = _parse_wav_chunks(payload)
        if w["block_align"]:
            if w["fact_frames"] is not None:
                frames = w["fact_frames"]
            elif w["tag"] == _WAVE_FORMAT_PCM:
                frames = len(w["data"]) // w["block_align"]
            else:
                frames = None  # compressed without the spec-required 'fact'
        else:
            frames = None
        dur = (
            frames * 1000 // w["frame_rate"]
            if frames is not None and w["frame_rate"]
            else None
        )
        return {
            "container": "wav",
            "sample_rate": w["frame_rate"],
            "n_channels": w["n_channels"],
            "n_frames": frames,
            "duration_ms": dur,
            "mean_bitrate_kbps": (
                w["frame_rate"] * w["block_align"] * 8 // 1000
                if w["frame_rate"] and w["block_align"]
                else None
            ),
            "vbr": False,
        }
    if payload[:4] == b"fLaC":
        # STREAMINFO-only probe: no frame decode needed for metadata
        import struct as _struct

        if len(payload) < 4 + 4 + 34:
            raise ValueError("truncated FLAC STREAMINFO")
        # The spec mandates STREAMINFO (type 0, 34 bytes) as the first
        # metadata block; validate rather than slicing blind so a
        # spec-violating stream raises instead of yielding garbage rates.
        if payload[4] & 0x7F != 0:
            raise ValueError("first FLAC metadata block is not STREAMINFO")
        if int.from_bytes(payload[5:8], "big") != 34:
            raise ValueError("FLAC STREAMINFO block length is not 34")
        body = payload[8:42]
        sr = (body[10] << 12) | (body[11] << 4) | (body[12] >> 4)
        ch = ((body[12] >> 1) & 0x07) + 1
        total = ((body[13] & 0x0F) << 32) | int.from_bytes(body[14:18], "big")
        if sr == 0:
            raise ValueError("STREAMINFO sample rate is zero")
        dur = total * 1000 // sr if total else None
        return {
            "container": "flac",
            "sample_rate": sr,
            "n_channels": ch,
            "n_frames": total or None,
            "duration_ms": dur,
            "mean_bitrate_kbps": (
                len(payload) * 8 * sr // (total * 1000) if total else None
            ),
            "vbr": True,  # FLAC frames are inherently variable-size
        }
    if (
        len(payload) >= 7
        and payload[0] == 0xFF
        and (payload[1] & 0xF6) == 0xF0
    ):
        # ADTS (round 16): the 0xFFF syncword with LAYER 00 — reserved
        # in MPEG audio, so this arm must run BEFORE the MP3 branch,
        # whose 0xFFE mask would swallow it. Container walk only; AAC
        # sample decode stays the named external-codec seam.
        return _probe_adts(payload)
    if payload[:3] == b"ID3" or (
        len(payload) >= 2 and payload[0] == 0xFF and (payload[1] & 0xE0) == 0xE0
    ):
        m = probe_mpeg_audio(payload)
        return {
            "container": "mp3",
            "sample_rate": m["sample_rate"],
            "n_channels": m["n_channels"],
            "n_frames": m["n_frames"],
            "duration_ms": m["duration_ms"],
            "mean_bitrate_kbps": m["mean_bitrate_kbps"],
            "vbr": m["vbr"],
        }
    if payload[:4] == b".snd":
        import struct as _struct

        if len(payload) < 24:
            raise ValueError("truncated AU header")
        off, size, enc, rate, n_ch = _struct.unpack_from(">IIIII", payload, 4)
        n = (len(payload) - off) if size == 0xFFFFFFFF else size
        # bytes per SAMPLE by encoding: G.711 laws / 8-bit PCM 1 byte,
        # PCM16 2, float32/float64 4/8; a frame is one sample per channel
        bps = {1: 1, 2: 1, 27: 1, 3: 2, 4: 3, 5: 4, 6: 4, 7: 8}.get(enc)
        frames = n // (bps * n_ch) if bps and n_ch else None
        return {
            "container": "au",
            "sample_rate": rate,
            "n_channels": n_ch,
            "n_frames": frames,
            "duration_ms": frames * 1000 // rate if frames and rate else None,
            "mean_bitrate_kbps": (
                rate * 8 * bps * n_ch // 1000 if rate and bps else None
            ),
            "vbr": False,
        }
    if payload[:4] == b"OggS":
        # round 17: RFC 3533 page walk + ident-header codec routing
        return _probe_ogg(payload)
    if payload[:4] == b"caff":
        # round 17: desc-chunk probe via the full walk (cheap: CAF data
        # is not parsed, only sliced)
        m = _decode_caf(payload)
        return {
            "container": "caf",
            "sample_rate": m["frame_rate"],
            "n_channels": m["n_channels"],
            "n_frames": m["n_frames"],
            "duration_ms": (
                m["n_frames"] * 1000 // m["frame_rate"]
                if m["n_frames"] and m["frame_rate"] else None
            ),
            "mean_bitrate_kbps": (
                len(payload) * 8 * m["frame_rate"]
                // (m["n_frames"] * 1000) if m["n_frames"] else None
            ),
            "vbr": False,
        }
    if len(payload) >= 12 and payload[:4] == b"FORM" and payload[8:12] in (
        b"AIFF", b"AIFC"
    ):
        # round 17: COMM-only probe — no sample decode needed
        import struct as _struct

        pos, comm, comp = 12, None, b"NONE"
        while pos + 8 <= len(payload):
            cid = payload[pos : pos + 4]
            (size,) = _struct.unpack_from(">I", payload, pos + 4)
            if pos + 8 + size > len(payload):
                raise ValueError("truncated AIFF chunk")
            if cid == b"COMM" and size >= 18:
                ch, nframes, bits = _struct.unpack_from(
                    ">HIH", payload, pos + 8
                )
                rate = int(round(_f80_decode(payload[pos + 16 : pos + 26])))
                if payload[8:12] == b"AIFC" and size >= 22:
                    comp = payload[pos + 26 : pos + 30]
                comm = (ch, nframes, bits, rate)
            pos += 8 + size + (size & 1)
        if comm is None:
            raise ValueError("AIFF payload missing COMM chunk")
        ch, nframes, bits, rate = comm
        # mean wire bitrate by compression: PCM floats/ints carry their
        # sample size; companded laws 8 bits; ima4 4.25 (34 bytes / 64)
        wire_bits = (
            8.0 if comp in _AIFC_ULAW + _AIFC_ALAW
            else 4.25 if comp in _AIFC_IMA4
            else float(bits)
        )
        return {
            "container": "aiff" if payload[8:12] == b"AIFF" else "aifc",
            "sample_rate": rate,
            "n_channels": ch,
            "n_frames": nframes or None,
            "duration_ms": nframes * 1000 // rate if nframes and rate else None,
            "mean_bitrate_kbps": (
                int(rate * wire_bits * ch) // 1000 if rate else None
            ),
            "vbr": False,
        }
    raise NotImplementedError(
        "probe of non-WAV/MP3/AU/AIFF/CAF/Ogg audio containers requires "
        "external media libraries (SURVEY §2.10 U1/U2)"
    )


def extract_audio_metadata(audios: DataFrame) -> DataFrame:
    """Map-only mapInPandas kernel over ``(doc_id, payload)`` audio blobs:
    one metadata row per blob via :func:`probe_audio` — the audio twin of
    :func:`extract_video_metadata`, with the same error-row routing
    (``container='error'``, never a dead task)."""
    import pandas as pd

    def probe(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            out = {
                "doc_id": [], "container": [], "sample_rate": [],
                "n_channels": [], "n_frames": [], "duration_ms": [],
                "mean_bitrate_kbps": [], "vbr": [], "err": [],
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    m = probe_audio(bytes(payload))
                    err = None
                except (ValueError, NotImplementedError) as e:
                    m, err = {}, str(e)
                out["doc_id"].append(doc_id)
                out["container"].append(m.get("container", "error"))
                out["sample_rate"].append(m.get("sample_rate"))
                out["n_channels"].append(m.get("n_channels"))
                out["n_frames"].append(m.get("n_frames"))
                out["duration_ms"].append(m.get("duration_ms"))
                out["mean_bitrate_kbps"].append(m.get("mean_bitrate_kbps"))
                out["vbr"].append(m.get("vbr"))
                out["err"].append(err)
            yield pd.DataFrame(out)

    return audios.mapInPandas(
        probe,
        "doc_id long, container string, sample_rate long, n_channels long, "
        "n_frames long, duration_ms long, mean_bitrate_kbps long, "
        "vbr boolean, err string",
    )


# The differential-gate query: synthesized VBR/CBR Layer III streams per
# document, probed by the REAL frame walk; the oracle recomputes every
# field from the same closed form (including the frame-length arithmetic
# 144000·kbps//sr + padding summed into the byte count).
_MP3Q_KBPS_SQL = "list_value(32,40,48,56,64,80,96,112,128,160,192,224,256,320)"


@register(
    "mp3_probe_features",
    oracle=f"""
    WITH per_frame AS (
      SELECT d.doc_id,
             pf.f,
             {_MP3Q_KBPS_SQL}[
               ((d.doc_id + CASE WHEN d.doc_id % 3 = 0 THEN 0 ELSE pf.f END)
                % 14) + 1] AS kbps,
             (d.doc_id + pf.f) % 2 AS pad,
             list_value(44100, 48000, 32000)[(d.doc_id % 3) + 1] AS sr
      FROM documents d,
           LATERAL (SELECT unnest(generate_series(
               0, CAST(3 + d.doc_id % 5 AS BIGINT))) AS f) pf)
    SELECT doc_id,
           CAST(4 + doc_id % 5 AS BIGINT) AS n_frames,
           CAST(MIN(sr) AS BIGINT) AS sample_rate,
           CAST((4 + doc_id % 5) * 1152 * 1000 // MIN(sr) AS BIGINT)
             AS duration_ms,
           CAST(CASE WHEN doc_id % 17 = 0 THEN 0
                     ELSE 10 + doc_id % 17 END
                + SUM(144000 * kbps // sr + pad) AS BIGINT) AS n_bytes,
           CAST(SUM(kbps) // (4 + doc_id % 5) AS BIGINT) AS mean_bitrate_kbps,
           (COUNT(DISTINCT kbps) > 1) AS vbr
    FROM per_frame
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def mp3_probe_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MPEG-audio probe surface under the differential oracle gate
    (companion to ``audio_decode_features`` / ``video_decode_features``):
    per document, a deterministic Layer III stream — 4-8 frames whose
    bitrate indices cycle a closed form (every third document CBR, the
    rest VBR), alternating padding slots, an ID3v2 tag of varying size —
    is assembled by :func:`encode_mp3` and walked back by the REAL
    :func:`probe_mpeg_audio`. Every output cell (frame count, sample
    rate, exact VBR duration, total byte length, mean bitrate, VBR
    verdict) comes from the probe; the oracle recomputes them from the
    closed form, so an off-by-one in the frame-length arithmetic, a
    mis-skipped ID3 tag, or a wrong bitrate-table row breaks the hash.
    Map-only mapInPandas, same scale shape as every media kernel."""
    # CPU-dense per-row kernel over a tiny id list: fan the ids across
    # every core explicitly — the one-file parquet scan otherwise yields
    # a single partition and the whole decode runs on one thread
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            out = {
                "doc_id": [], "n_frames": [], "sample_rate": [],
                "duration_ms": [], "n_bytes": [], "mean_bitrate_kbps": [],
                "vbr": [],
            }
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                nf = 4 + d % 5
                frames = [
                    (
                        ((d + (0 if d % 3 == 0 else f)) % 14) + 1,
                        (d + f) % 2,
                    )
                    for f in range(nf)
                ]
                blob = encode_mp3(
                    frames, sr_index=d % 3, ver_bits=3, id3_payload=d % 17
                )
                m = probe_mpeg_audio(blob)  # REAL frame-header walk
                out["doc_id"].append(d)
                out["n_frames"].append(m["n_frames"])
                out["sample_rate"].append(m["sample_rate"])
                out["duration_ms"].append(m["duration_ms"])
                out["n_bytes"].append(m["n_bytes"])
                out["mean_bitrate_kbps"].append(m["mean_bitrate_kbps"])
                out["vbr"].append(m["vbr"])
            yield pd.DataFrame(out)

    schema = (
        "doc_id long, n_frames long, sample_rate long, duration_ms long, "
        "n_bytes long, mean_bitrate_kbps long, vbr boolean"
    )
    return docs.mapInPandas(run, schema)


# ---------------------------------------------------------------------------
# FLAC (RFC 9639) — real lossless-compressed audio decode, round 12
# ---------------------------------------------------------------------------

# CRC-8 poly 0x07 and CRC-16 poly 0x8005 (both init 0), per RFC 9639 §9.1.
_FLAC_CRC8 = []
for _b in range(256):
    _c = _b
    for _ in range(8):
        _c = ((_c << 1) ^ 0x07) & 0xFF if _c & 0x80 else (_c << 1) & 0xFF
    _FLAC_CRC8.append(_c)
_FLAC_CRC16 = []
for _b in range(256):
    _c = _b << 8
    for _ in range(8):
        _c = ((_c << 1) ^ 0x8005) & 0xFFFF if _c & 0x8000 else (_c << 1) & 0xFFFF
    _FLAC_CRC16.append(_c)


def _crc8(data: bytes) -> int:
    c = 0
    for b in data:
        c = _FLAC_CRC8[c ^ b]
    return c


_CRC16_POS_TABLES = None  # (KMAX, 256) uint16: T_k[b] = (b << (8k+16)) mod P
# Cap + blockwise fold (round 18, ADVICE): same policy as the Ogg CRC-32
# tables — bound the per-process retention instead of growing with the
# largest FLAC frame seen.
_CRC16_POS_CAP = 4096


def _crc16_pos_tables(kmax: int):
    """Position-dependent CRC-16 tables: CRC is linear over GF(2), so
    crc(data) = XOR_i T_{n-1-i}[data[i]] with T_0 the classic byte table
    and T_{k+1}[b] = (T_k[b] << 8) mod P — one fancy-indexed XOR-reduce
    replaces the per-byte loop (round 17). Capped at ``_CRC16_POS_CAP``
    rows (~2 MB)."""
    import numpy as np

    global _CRC16_POS_TABLES
    kmax = min(kmax, _CRC16_POS_CAP)
    if _CRC16_POS_TABLES is None or len(_CRC16_POS_TABLES) < kmax:
        size = _CRC16_POS_CAP
        base = np.asarray(_FLAC_CRC16, dtype=np.uint16)
        tables = np.empty((size, 256), dtype=np.uint16)
        tables[0] = base
        prev = base
        for k in range(1, size):
            prev = base[prev >> 8] ^ ((prev & 0xFF) << 8).astype(np.uint16)
            tables[k] = prev
        _CRC16_POS_TABLES = tables
    return _CRC16_POS_TABLES


def _crc16(data: bytes) -> int:
    n = len(data)
    if n >= 64:
        import numpy as np

        step = _CRC16_POS_CAP
        tables = _crc16_pos_tables(min(n, step))
        first = n % step or step
        c = 0
        pos = 0
        for m in [first] + [step] * ((n - first) // step):
            b = np.frombuffer(data, dtype=np.uint8, count=m, offset=pos)
            pos += m
            k = np.arange(m - 1, -1, -1)
            block = int(np.bitwise_xor.reduce(tables[k, b]))
            if c:
                # shift(c, m bytes) = XOR_j T_{m-2+j}[byte_j] (m >= 2
                # always: every follow-on chunk is a full step)
                s = int(tables[m - 2, c & 0xFF]) ^ int(
                    tables[m - 1, (c >> 8) & 0xFF]
                )
                block ^= s
            c = block
        return c
    c = 0
    for b in data:
        c = _FLAC_CRC16[((c >> 8) ^ b) & 0xFF] ^ ((c << 8) & 0xFFFF)
    return c


class _BitWriter:
    """MSB-first bit accumulator (the FLAC bitstream order)."""

    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, nbits: int) -> None:
        self.acc = (self.acc << nbits) | (value & ((1 << nbits) - 1))
        self.nbits += nbits
        while self.nbits >= 8:
            self.nbits -= 8
            self.buf.append((self.acc >> self.nbits) & 0xFF)
        self.acc &= (1 << self.nbits) - 1

    def write_unary(self, q: int) -> None:
        while q >= 32:
            self.write(0, 32)
            q -= 32
        self.write(1, q + 1)  # q zeros then a 1

    def align(self) -> None:
        if self.nbits:
            self.write(0, 8 - self.nbits)

    def bytes(self) -> bytes:
        assert self.nbits == 0
        return bytes(self.buf)

    def bit_length(self) -> int:
        return len(self.buf) * 8 + self.nbits

    def bit_list(self) -> list[int]:
        """All written bits in order (for splicing one writer's stream
        into another at a non-byte boundary — MP3 granule packing).
        Vectorized via np.unpackbits (round 17) — same ints."""
        import numpy as np

        out = np.unpackbits(
            np.frombuffer(bytes(self.buf), dtype=np.uint8)
        ).tolist()
        for i in range(self.nbits - 1, -1, -1):
            out.append((self.acc >> i) & 1)
        return out

    def extend(self, other: "_BitWriter") -> None:
        """Splice another writer's entire bit stream onto this one —
        the bulk np.packbits path (round 17); bit-identical to writing
        ``other.bit_list()`` one bit at a time."""
        import numpy as np

        self.write_bits(
            np.unpackbits(np.frombuffer(bytes(other.buf), dtype=np.uint8))
        )
        if other.nbits:
            self.write(other.acc, other.nbits)

    def write_bits(self, bits) -> None:
        """Append a uint8 0/1 array of bits in order — the vectorized
        bulk path (``np.packbits``) for rice-coded residual runs, exactly
        equivalent to ``write(b, 1)`` per element."""
        import numpy as np

        nb = int(len(bits))
        if nb == 0:
            return
        if self.nbits:
            pend = [(self.acc >> (self.nbits - 1 - i)) & 1 for i in range(self.nbits)]
            bits = np.concatenate([np.asarray(pend, dtype=np.uint8), bits])
            nb += self.nbits
            self.acc = 0
            self.nbits = 0
        rem = nb & 7
        main = bits[: nb - rem]
        if len(main):
            self.buf += np.packbits(main).tobytes()
        if rem:
            acc = 0
            for b in bits[nb - rem :]:
                acc = (acc << 1) | int(b)
            self.acc = acc
            self.nbits = rem

    def write_codes(self, values, widths) -> None:
        """Append a run of variable-width codes — exactly equivalent
        to ``write(v, w)`` per pair, vectorized: each code's bits are
        gathered MSB-first by one shift/mask over np.repeat-expanded
        values (bit at stream position i inside code c is
        ``(v >> (end_c - 1 - i)) & 1``), then bulk-packed via
        write_bits. Values must fit int64; negative values mask to
        their low ``w`` two's-complement bits, as write() does."""
        import numpy as np

        values = np.asarray(values, dtype=np.int64)
        widths = np.asarray(widths, dtype=np.int64)
        if values.size == 0:
            return
        ends = np.cumsum(widths)
        total = int(ends[-1])
        if total == 0:
            return
        shift = np.repeat(ends, widths) - 1 - np.arange(
            total, dtype=np.int64
        )
        bits = (
            (np.repeat(values, widths) >> shift) & 1
        ).astype(np.uint8)
        self.write_bits(bits)


class _BitReader:
    """MSB-first bit reader with hard end-of-payload errors."""

    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.byte = pos
        self.bit = 0

    def read(self, nbits: int) -> int:
        # one int.from_bytes over the covering span instead of a per-bit
        # loop — the decode gates spend their time here
        if nbits == 0:
            return 0
        end_bit = self.byte * 8 + self.bit + nbits
        last = (end_bit + 7) >> 3
        if last > len(self.data):
            raise ValueError("truncated FLAC bitstream")
        chunk = int.from_bytes(self.data[self.byte: last], "big")
        shift = ((last - self.byte) << 3) - (self.bit + nbits)
        self.byte = end_bit >> 3
        self.bit = end_bit & 7
        return (chunk >> shift) & ((1 << nbits) - 1)

    def read_signed(self, nbits: int) -> int:
        v = self.read(nbits)
        return v - (1 << nbits) if v & (1 << (nbits - 1)) else v

    def read_unary(self) -> int:
        # scan whole zero bytes, then use bit_length on the first nonzero
        # remainder — same values as the per-bit loop, hard-bounded
        q = 0
        while True:
            if self.byte >= len(self.data):
                raise ValueError("truncated FLAC bitstream")
            cur = self.data[self.byte] & (0xFF >> self.bit)
            if cur == 0:
                q += 8 - self.bit
                self.bit = 0
                self.byte += 1
                if q > 1 << 24:
                    raise ValueError("runaway unary code in FLAC bitstream")
                continue
            zeros = (8 - self.bit) - cur.bit_length()
            q += zeros
            self.bit += zeros + 1
            if self.bit == 8:
                self.bit = 0
                self.byte += 1
            return q

    def peek8(self) -> int:
        """Next 8 bits MSB-first without advancing, zero-padded past the
        end of the payload (round 17; feeds the Huffman peek LUTs —
        callers bound consumption by the true bit budget)."""
        chunk = int.from_bytes(
            self.data[self.byte : self.byte + 2].ljust(2, b"\x00"), "big"
        )
        return (chunk >> (8 - self.bit)) & 0xFF

    def skip(self, nbits: int) -> None:
        """Advance by bits already examined via :meth:`peek8`."""
        end_bit = self.byte * 8 + self.bit + nbits
        self.byte = end_bit >> 3
        self.bit = end_bit & 7

    def avail(self) -> int:
        return len(self.data) * 8 - self.byte * 8 - self.bit

    def align(self) -> None:
        if self.bit:
            self.bit = 0
            self.byte += 1

    def bitpos(self) -> int:
        return self.byte * 8 + self.bit


def _flac_fixed_residual(samples, order: int):
    """Residual of the FIXED predictor of the given order (RFC 9639
    §10.2.2: successive differencing)."""
    import numpy as np

    out = np.asarray(samples, dtype=np.int64)
    for _ in range(order):
        out = np.diff(out)
    return out


def _rice_cost(res: list[int], r: int) -> int:
    return sum(((e << 1) ^ (e >> 63) if e >= 0 else (-e << 1) - 1) >> r for e in res) + len(res) * (r + 1)


def _flac_zigzag(res):
    """Vectorized rice zigzag: non-negative e -> 2e, negative -> -2e-1."""
    import numpy as np

    res = np.asarray(res, dtype=np.int64)
    return np.where(res >= 0, res << 1, ((-res) << 1) - 1)


def _fixed_width_bits(vals, width: int):
    """MSB-first bit matrix of ``vals & ((1 << width) - 1)`` flattened —
    the vectorized equivalent of ``write(v, width)`` per element."""
    import numpy as np

    vals = np.asarray(vals, dtype=np.int64)
    shifts = np.arange(width - 1, -1, -1, dtype=np.int64)
    return ((vals[:, None] >> shifts[None, :]) & 1).astype(np.uint8).ravel()


def _flac_write_residual(
    bw: "_BitWriter",
    res,
    n: int,
    order: int,
    partition_order: int,
    force_escape: bool,
) -> None:
    """Rice/escape residual partition writer shared by the FIXED and LPC
    subframe encoders (RFC 9639 §10.2.4). Vectorized (round 17): each
    rice code is (m >> r) zero bits, a 1, then the r low bits of m — the
    whole partition's bit array is assembled with numpy and packed in one
    ``write_bits`` call, bit-identical to the per-residual loop."""
    import numpy as np

    po = partition_order
    while (n >> po) << po != n or (n >> po) <= order:
        po -= 1  # partition order must divide n and cover warmup
    bw.write(0b00, 2)  # 4-bit rice parameters
    bw.write(po, 4)
    res = np.asarray(res, dtype=np.int64)
    idx = 0
    for p in range(1 << po):
        cnt = (n >> po) - (order if p == 0 else 0)
        part = res[idx : idx + cnt]
        idx += cnt
        if force_escape:
            raw_bits = (
                int(np.maximum(part, ~part).max()).bit_length() + 1
                if cnt
                else 1
            )
            bw.write(0b1111, 4)
            bw.write(raw_bits, 5)
            bw.write_bits(_fixed_width_bits(part, raw_bits))
        else:
            m = _flac_zigzag(part)
            # first-minimum over r in 0..14, same tie rule as min(range(15))
            shifts = np.arange(15, dtype=np.int64)
            costs = (m[None, :] >> shifts[:, None]).sum(axis=1) + cnt * (
                shifts + 1
            )
            r = int(np.argmin(costs))
            bw.write(r, 4)
            q = m >> r
            lens = q + 1 + r
            off = np.cumsum(lens) - lens
            bits = np.zeros(int(lens.sum()), dtype=np.uint8)
            bits[off + q] = 1
            if r:
                tail_idx = (off + q + 1)[:, None] + np.arange(r)[None, :]
                tail_shifts = np.arange(r - 1, -1, -1, dtype=np.int64)
                bits[tail_idx.ravel()] = (
                    (m[:, None] >> tail_shifts[None, :]) & 1
                ).astype(np.uint8).ravel()
            bw.write_bits(bits)


def _flac_bit_aux(data: bytes):
    """Unpacked bit array, set-bit positions and ones-before-position
    prefix counts for a payload — computed once per decode and shared
    by every vectorized residual read. ``cum[p]`` = number of set bits
    strictly before bit ``p`` (so ``cum[p]`` is the index of the first
    one at or after ``p``)."""
    import numpy as np

    bits_arr = np.unpackbits(np.frombuffer(data, dtype=np.uint8))
    cum = np.zeros(len(bits_arr) + 1, dtype=np.int64)
    np.cumsum(bits_arr, dtype=np.int64, out=cum[1:])
    return bits_arr, np.flatnonzero(bits_arr).astype(np.int64), cum


def _read_signed_block(bits_arr, s: int, cnt: int, width: int):
    """``cnt`` MSB-first two's-complement reads of ``width`` bits starting
    at absolute bit ``s`` — the vectorized ``read_signed`` loop."""
    import numpy as np

    if width == 0:
        return np.zeros(cnt, dtype=np.int64), s
    end = s + cnt * width
    if end > len(bits_arr):
        raise ValueError("truncated FLAC bitstream")
    seg = bits_arr[s:end].reshape(cnt, width).astype(np.int64)
    weights = (1 << np.arange(width - 1, -1, -1, dtype=np.int64))
    vals = seg @ weights
    if width > 0:
        vals = np.where(seg[:, 0] == 1, vals - (1 << width), vals)
    return vals, end


def _flac_read_residual(
    br: "_BitReader", block_size: int, order: int, aux=None
):
    """Rice/escape residual partition reader shared by the FIXED and LPC
    subframe decoders. Vectorized (round 17): the payload's set-bit
    positions (``aux``) turn each partition's unary scan into one skip
    loop over one-positions, with the r-bit suffixes and zigzag undone in
    numpy — value-identical to the per-sample reader."""
    import numpy as np

    method = br.read(2)
    if method > 1:
        raise ValueError("reserved FLAC residual coding method")
    pbits = 4 if method == 0 else 5
    po = br.read(4)
    if (block_size >> po) << po != block_size:
        raise ValueError("FLAC partition order does not divide block")
    if aux is None:
        aux = _flac_bit_aux(br.data)
    bits_arr, ones, cum = aux
    nbits = len(bits_arr)
    no = len(ones)

    parts = []
    for p in range(1 << po):
        cnt = (block_size >> po) - (order if p == 0 else 0)
        if cnt < 0:
            raise ValueError("FLAC partition smaller than warmup")
        r = br.read(pbits)
        if r == (1 << pbits) - 1:
            raw = br.read(5)
            s = br.byte * 8 + br.bit
            vals, s = _read_signed_block(bits_arr, s, cnt, raw)
            br.byte, br.bit = s >> 3, s & 7
            parts.append(vals)
        elif cnt == 0:
            parts.append(np.zeros(0, dtype=np.int64))
        else:
            # unary terminators are ones of the payload, but suffix
            # bits contribute ones of their own. r == 0: terminators
            # ARE consecutive ones — pure slice. r > 0: hop the
            # terminator chain through a window of candidate ones
            # (each code consumes 1 terminator + at most r suffix
            # ones) via next-terminator indices computed vectorized
            # from the prefix counts (round 17); value- and
            # error-identical to the per-sample skip loop.
            s = br.byte * 8 + br.bit
            j0 = int(cum[s])
            if r == 0:
                ts = ones[j0: j0 + cnt]
                if len(ts) < cnt:
                    raise ValueError("truncated FLAC bitstream")
            else:
                hi = min(no, j0 + cnt * (1 + r) + 1)
                seg = ones[j0: hi]
                seg_n = len(seg)
                nxt = (
                    cum[np.minimum(seg + (1 + r), nbits)] - j0
                ).tolist()
                js = [0] * cnt
                j = 0
                for k in range(cnt):
                    if j >= seg_n:
                        raise ValueError("truncated FLAC bitstream")
                    js[k] = j
                    j = nxt[j]
                ts = seg[js]
            ss = np.empty(cnt, dtype=np.int64)
            ss[0] = s
            if cnt > 1:
                ss[1:] = ts[:-1] + (1 + r)
            q_arr = ts - ss
            if int(q_arr.max()) > 1 << 24:
                raise ValueError("runaway unary code in FLAC bitstream")
            s = int(ts[-1]) + 1 + r
            if s > nbits:
                raise ValueError("truncated FLAC bitstream")
            br.byte, br.bit = s >> 3, s & 7
            if r:
                idx = ts[:, None] + 1 + np.arange(r, dtype=np.int64)[None, :]
                seg_b = bits_arr[idx].astype(np.int64)
                low = seg_b @ (1 << np.arange(r - 1, -1, -1, dtype=np.int64))
                m = (q_arr << r) | low
            else:
                m = q_arr
            parts.append((m >> 1) ^ -(m & 1))
    if not parts:
        return np.zeros(0, dtype=np.int64)
    return np.concatenate(parts)


def _flac_encode_subframe(
    bw: "_BitWriter",
    block: list[int],
    bits: int,
    partition_order: int,
    force_escape: bool,
    force_verbatim: bool,
    force_lpc,
) -> None:
    """One subframe (RFC 9639 §10.2) at an arbitrary sample width —
    ``bits`` is 16 for plain channels and 17 for the side channel of a
    decorrelated stereo pair."""
    import numpy as np

    n = len(block)
    mask = (1 << bits) - 1
    blk = np.asarray(block, dtype=np.int64)
    if force_verbatim:
        bw.write(0, 1)
        bw.write(0b000001, 6)
        bw.write(0, 1)
        bw.write_bits(_fixed_width_bits(blk, bits))
    elif n and bool((blk == blk[0]).all()):
        bw.write(0, 1)
        bw.write(0b000000, 6)
        bw.write(0, 1)
        bw.write(int(blk[0]) & mask, bits)
    elif force_lpc is not None and n > len(force_lpc[0]):
        coefs, shift, precision = force_lpc
        order = len(coefs)
        # FIR over the ORIGINAL samples (the encoder predicts from the
        # input, not the reconstruction), so the prediction is one
        # correlation; int64 >> is the same arithmetic floor shift
        pred = np.zeros(n - order, dtype=np.int64)
        for j, c in enumerate(coefs):
            pred += int(c) * blk[order - 1 - j : n - 1 - j]
        res = blk[order:] - (pred >> shift)
        bw.write(0, 1)
        bw.write(0b100000 | (order - 1), 6)
        bw.write(0, 1)
        for s in block[:order]:
            bw.write(int(s) & mask, bits)
        bw.write(precision - 1, 4)
        bw.write(shift, 5)
        for c in coefs:
            bw.write(c & ((1 << precision) - 1), precision)
        _flac_write_residual(bw, res, n, order, partition_order, force_escape)
    else:
        orders = [o for o in (0, 1, 2) if o < n]
        costs = [
            int((_flac_zigzag(_flac_fixed_residual(blk, o)) >> 8).sum())
            + (n - o) * 9
            for o in orders
        ]
        best = orders[costs.index(min(costs))]
        res = _flac_fixed_residual(blk, best)
        bw.write(0, 1)
        bw.write(0b001000 | best, 6)
        bw.write(0, 1)
        for s in block[:best]:
            bw.write(int(s) & mask, bits)
        _flac_write_residual(bw, res, n, best, partition_order, force_escape)


_FLAC_STEREO_ASSIGN = {
    "independent": 0b0001,
    "left_side": 0b1000,
    "right_side": 0b1001,
    "mid_side": 0b1010,
}


def encode_flac(
    samples,
    sample_rate: int = 16000,
    block_size: int = 256,
    partition_order: int = 0,
    force_escape: bool = False,
    force_verbatim: bool = False,
    force_lpc: tuple[list[int], int, int] | None = None,
    stereo_mode: str = "independent",
) -> bytes:
    """Assemble a real 16-bit FLAC stream (RFC 9639): fLaC magic,
    STREAMINFO (with the true MD5 of the unencoded interleaved PCM),
    then one frame per block — frame headers with CRC-8, per-channel
    subframe choice (CONSTANT for flat blocks, else the best FIXED
    predictor order 0-2 by exact rice cost; VERBATIM or quantized-LPC on
    demand), rice-coded residuals with the requested partition order,
    frame CRC-16. Mono input is a 1-D int16 array; STEREO input is an
    (n, 2) array encoded under ``stereo_mode`` — independent channels or
    any of the spec's decorrelated pairs (left/side, right/side,
    mid/side; the side channel carries 17-bit samples, per §9.1.4).
    Every bit of this is the published format; a decoder slip anywhere
    (predictor algebra, channel reconstruction, zigzag, unary, CRC, MD5)
    corrupts real checksums."""
    import hashlib

    import numpy as np

    samples = np.asarray(samples, dtype=np.int16)
    stereo = samples.ndim == 2
    if stereo and samples.shape[1] != 2:
        raise ValueError("stereo input must be shaped (n, 2)")
    if stereo and stereo_mode not in _FLAC_STEREO_ASSIGN:
        raise ValueError(f"unknown stereo_mode {stereo_mode!r}")
    n_total = len(samples)
    md5 = hashlib.md5(samples.astype("<i2").tobytes()).digest()
    out = bytearray(b"fLaC")
    si = _BitWriter()
    si.write(block_size, 16)
    si.write(block_size, 16)
    si.write(0, 24)
    si.write(0, 24)
    si.write(sample_rate, 20)
    si.write(1 if stereo else 0, 3)  # channels - 1
    si.write(15, 5)  # bps - 1
    si.write(n_total, 36)
    body = si.bytes() + md5
    out += bytes([0x80]) + len(body).to_bytes(3, "big") + body

    frame_no = 0
    pos = 0
    while pos < n_total or (n_total == 0 and frame_no == 0):
        blk = samples[pos : pos + block_size]
        pos += len(blk)
        bw = _BitWriter()
        bw.write(0b11111111111110, 14)
        bw.write(0, 1)
        bw.write(0, 1)  # fixed-blocksize stream
        # Full (non-final) blocks of exactly 192 samples may use the
        # compact RFC 9639 §9.1.1 code 0b0001 instead of the 16-bit
        # field; everything else uses the explicit 16-bit form.
        compact192 = len(blk) == 192
        bw.write(0b0001 if compact192 else 0b0111, 4)
        bw.write(0b0000, 4)  # sample rate: from STREAMINFO
        bw.write(_FLAC_STEREO_ASSIGN[stereo_mode] if stereo else 0, 4)
        bw.write(0b100, 3)  # 16-bit samples
        bw.write(0, 1)
        # coded number (UTF-8 style); frame counters here stay < 2^7
        if frame_no < 0x80:
            bw.write(frame_no, 8)
        else:
            bw.write(0b110, 3)
            bw.write(frame_no >> 6, 5)
            bw.write(0b10, 2)
            bw.write(frame_no & 0x3F, 6)
        if not compact192:
            bw.write(len(blk) - 1, 16)
        bw.align()
        hdr = bw.bytes()
        bw = _BitWriter()
        if not stereo:
            channels = [(np.asarray(blk, dtype=np.int64), 16)]
        else:
            left = np.asarray(blk[:, 0], dtype=np.int64)
            right = np.asarray(blk[:, 1], dtype=np.int64)
            side = left - right
            if stereo_mode == "independent":
                channels = [(left, 16), (right, 16)]
            elif stereo_mode == "left_side":
                channels = [(left, 16), (side, 17)]
            elif stereo_mode == "right_side":
                channels = [(side, 17), (right, 16)]
            else:  # mid_side
                mid = (left + right) >> 1
                channels = [(mid, 16), (side, 17)]
        for ch_block, bits in channels:
            _flac_encode_subframe(
                bw, ch_block, bits, partition_order,
                force_escape, force_verbatim, force_lpc,
            )
        bw.align()
        frame = hdr + bytes([_crc8(hdr)]) + bw.bytes()
        out += frame + _crc16(frame).to_bytes(2, "big")
        frame_no += 1
        if n_total == 0:
            break
    return bytes(out)


_FLAC_FIXED_COEFS = {
    0: [],
    1: [1],
    2: [2, -1],
    3: [3, -3, 1],
    4: [4, -6, 4, -1],
}


def _flac_read_subframe(
    br: "_BitReader", block_size: int, bits: int, aux=None
):
    """One subframe (any type: CONSTANT/VERBATIM/FIXED/LPC) at the given
    sample width — 16 for plain channels, 17 for the side channel of a
    decorrelated stereo pair (RFC 9639 §9.1.4). Returns int64 samples;
    FIXED reconstruction is the order-fold cumulative sum (round 17),
    value-identical to the per-sample predictor loop."""
    import numpy as np

    if br.read(1) != 0:
        raise ValueError("FLAC subframe padding bit set")
    stype = br.read(6)
    wasted = 0
    if br.read(1):
        wasted = br.read_unary() + 1
    eff = bits - wasted
    if stype == 0b000000:
        block = np.full(block_size, br.read_signed(eff), dtype=np.int64)
    elif stype == 0b000001:
        if aux is None:
            aux = _flac_bit_aux(br.data)
        s = br.byte * 8 + br.bit
        block, s = _read_signed_block(aux[0], s, block_size, eff)
        br.byte, br.bit = s >> 3, s & 7
    elif 0b001000 <= stype <= 0b001100:
        order = stype & 0x07
        if order > 4:
            raise ValueError("reserved FLAC FIXED order")
        warm = [br.read_signed(eff) for _ in range(order)]
        res = _flac_read_residual(br, block_size, order, aux)
        # integrate the order-th difference: seeds are the successive
        # differences of the warmup tail, one exact cumsum per order
        arr = np.asarray(res, dtype=np.int64)
        seeds = []
        cur = np.asarray(warm, dtype=np.int64)
        for _ in range(order):
            seeds.append(int(cur[-1]))
            cur = np.diff(cur)
        for k in range(order - 1, -1, -1):
            arr = np.cumsum(
                np.concatenate((np.asarray([seeds[k]], dtype=np.int64), arr))
            )[1:]
        block = np.concatenate((np.asarray(warm, dtype=np.int64), arr))
    elif stype >= 0b100000:
        # LPC subframe (RFC 9639 §10.2.3): quantized predictor
        # coefficients + arithmetic right shift — pure integer
        # arithmetic, decoded for real since round 12
        order = (stype & 0x1F) + 1
        if order > block_size:
            raise ValueError("FLAC LPC order exceeds block size")
        block = [br.read_signed(eff) for _ in range(order)]
        prec = br.read(4)
        if prec == 0b1111:
            raise ValueError("invalid FLAC LPC coefficient precision")
        prec += 1
        shift = br.read(5)
        if shift & 0x10:
            raise ValueError("negative FLAC LPC shift is forbidden")
        coefs = [br.read_signed(prec) for _ in range(order)]
        res = _flac_read_residual(br, block_size, order, aux)
        for e in res.tolist():
            pred = (
                sum(c * block[-1 - j] for j, c in enumerate(coefs)) >> shift
            )
            block.append(e + pred)
        block = np.asarray(block, dtype=np.int64)
    else:
        raise ValueError("reserved FLAC subframe type")
    if wasted:
        block = block << wasted
    return block


def _decode_flac(payload: bytes) -> dict:
    """REAL FLAC decode (RFC 9639, the FIXED-predictor profile): metadata
    block walk → STREAMINFO, then per frame: header parse + CRC-8 check,
    subframe decode (CONSTANT / VERBATIM / FIXED order 0-4 AND LPC with
    quantized coefficients + arithmetic shift, rice or escape-coded
    residual partitions, wasted-bits rescale), predictor reconstruction,
    CRC-16 check, and a final MD5 comparison against the STREAMINFO
    signature of the unencoded PCM. Every subframe type of the spec
    decodes, and both channel layouts do too: mono, independent stereo,
    and all three decorrelated stereo assignments (left/side,
    right/side, mid/side — the side channel reads at 17 bits per
    §9.1.4). 16-bit profile."""
    import hashlib

    if payload[:4] != b"fLaC":
        raise ValueError("not a FLAC payload (missing fLaC magic)")
    pos = 4
    streaminfo = None
    while True:
        if pos + 4 > len(payload):
            raise ValueError("truncated FLAC metadata block header")
        hdr = payload[pos]
        last, btype = hdr >> 7, hdr & 0x7F
        size = int.from_bytes(payload[pos + 1 : pos + 4], "big")
        body = payload[pos + 4 : pos + 4 + size]
        if len(body) < size:
            raise ValueError("truncated FLAC metadata block")
        if btype == 0:
            if size != 34:
                raise ValueError("malformed STREAMINFO block")
            br = _BitReader(body)
            streaminfo = {
                "min_block": br.read(16),
                "max_block": br.read(16),
                "min_frame": br.read(24),
                "max_frame": br.read(24),
                "sample_rate": br.read(20),
                "n_channels": br.read(3) + 1,
                "bps": br.read(5) + 1,
                "total_samples": br.read(36),
                "md5": body[18:34],
            }
        pos += 4 + size
        if last:
            break
    if streaminfo is None:
        raise ValueError("FLAC stream has no STREAMINFO block")
    if streaminfo["n_channels"] not in (1, 2) or streaminfo["bps"] != 16:
        raise ValueError(
            "FLAC decode supports the mono/stereo 16-bit profile, got "
            f"{streaminfo['n_channels']}ch/{streaminfo['bps']}-bit"
        )
    if streaminfo["sample_rate"] == 0:
        raise ValueError("STREAMINFO sample rate is zero")

    import numpy as np

    aux = _flac_bit_aux(payload)
    chunks: list = []
    decoded_len = 0
    n_ch = streaminfo["n_channels"]
    total = streaminfo["total_samples"]
    while decoded_len < total * n_ch:
        frame_start = pos
        br = _BitReader(payload, pos)
        if br.read(14) != 0b11111111111110:
            raise ValueError(f"lost FLAC frame sync at byte {pos}")
        br.read(1)
        br.read(1)
        bs_code = br.read(4)
        sr_code = br.read(4)
        chan = br.read(4)
        bps_code = br.read(3)
        br.read(1)
        # coded number (UTF-8 style, 1-7 bytes)
        first = br.read(8)
        if first < 0x80:
            pass
        else:
            extra = 0
            probe = first
            while probe & 0x40:
                extra += 1
                probe <<= 1
            for _ in range(extra):
                if br.read(2) != 0b10:
                    raise ValueError("malformed FLAC coded frame number")
                br.read(6)
        if bs_code == 0b0110:
            block_size = br.read(8) + 1
        elif bs_code == 0b0111:
            block_size = br.read(16) + 1
        elif 0b0010 <= bs_code <= 0b0101:
            block_size = 576 << (bs_code - 2)
        elif bs_code >= 0b1000:
            block_size = 256 << (bs_code - 8)
        elif bs_code == 0b0001:
            # RFC 9639 §9.1.1: 0b0001 is a VALID code meaning 192
            # samples; only 0b0000 is reserved.
            block_size = 192
        else:
            raise ValueError("reserved FLAC block-size code")
        if sr_code == 0b1100:
            br.read(8)
        elif sr_code in (0b1101, 0b1110):
            br.read(16)
        elif sr_code == 0b1111:
            raise ValueError("invalid FLAC sample-rate code")
        br.align()
        hdr_len = br.byte - frame_start
        if _crc8(payload[frame_start : frame_start + hdr_len]) != payload[
            frame_start + hdr_len
        ]:
            raise ValueError("FLAC frame header CRC-8 mismatch")
        br = _BitReader(payload, frame_start + hdr_len + 1)
        bps = 16 if bps_code == 0b100 else None
        if bps is None:
            raise ValueError("FLAC decode supports 16-bit samples only")
        if (n_ch == 1) != (chan == 0b0000):
            raise ValueError("frame channel assignment contradicts STREAMINFO")
        bits0 = bps

        def _interleave(a, b):
            out = np.empty(len(a) * 2, dtype=np.int64)
            out[0::2] = a
            out[1::2] = b
            return out

        if chan == 0b0000:
            block = _flac_read_subframe(br, block_size, bits0, aux)
        elif chan == 0b0001:
            left = _flac_read_subframe(br, block_size, bits0, aux)
            right = _flac_read_subframe(br, block_size, bits0, aux)
            block = _interleave(left, right)
        elif chan == 0b1000:  # left/side
            left = _flac_read_subframe(br, block_size, bits0, aux)
            side = _flac_read_subframe(br, block_size, bits0 + 1, aux)
            block = _interleave(left, left - side)
        elif chan == 0b1001:  # right/side
            side = _flac_read_subframe(br, block_size, bits0 + 1, aux)
            right = _flac_read_subframe(br, block_size, bits0, aux)
            block = _interleave(side + right, right)
        elif chan == 0b1010:  # mid/side
            mid = _flac_read_subframe(br, block_size, bits0, aux)
            side = _flac_read_subframe(br, block_size, bits0 + 1, aux)
            m2 = (mid << 1) | (side & 1)
            block = _interleave((m2 + side) >> 1, (m2 - side) >> 1)
        else:
            raise ValueError(
                "FLAC channel assignments beyond mono/stereo are out of "
                "this profile"
            )
        br.align()
        crc_end = br.byte
        if crc_end + 2 > len(payload):
            raise ValueError("truncated FLAC frame footer")
        if _crc16(payload[frame_start:crc_end]) != int.from_bytes(
            payload[crc_end : crc_end + 2], "big"
        ):
            raise ValueError("FLAC frame CRC-16 mismatch")
        chunks.append(block)
        decoded_len += len(block)
        pos = crc_end + 2

    decoded = (
        np.concatenate(chunks) if chunks else np.zeros(0, dtype=np.int64)
    )
    if decoded_len > total * n_ch:
        decoded = decoded[: total * n_ch]
    pcm = decoded.astype(np.int16).astype("<i2").tobytes()
    if streaminfo["md5"] != b"\x00" * 16:
        if hashlib.md5(pcm).digest() != streaminfo["md5"]:
            raise ValueError("FLAC decoded-PCM MD5 mismatch")
    return {
        "n_channels": n_ch,
        "sample_width": 2,
        "frame_rate": streaminfo["sample_rate"],
        "n_frames": total,
        "pcm": pcm,
        "codec": "flac",
    }


@register(
    "flac_decode_features",
    oracle="""
    SELECT d.doc_id,
           CAST(192 + (d.doc_id % 5) * 64 AS BIGINT) AS n_samples,
           CAST(8000 + (d.doc_id % 2) * 8000 AS BIGINT) AS sample_rate,
           CAST(CAST(SUM(ABS((7 * d.doc_id + 11 * s.i) % 2001 - 1000)) AS BIGINT)
                // (192 + (d.doc_id % 5) * 64) AS BIGINT) AS mean_abs,
           CAST(MAX(ABS((7 * d.doc_id + 11 * s.i) % 2001 - 1000)) AS BIGINT) AS peak,
           CAST(CAST(SUM(((7 * d.doc_id + 11 * s.i) % 2001 - 1000)
                         * ((7 * d.doc_id + 11 * s.i) % 2001 - 1000)) AS BIGINT)
                // (192 + (d.doc_id % 5) * 64) AS BIGINT) AS energy_mean
    FROM documents d,
         LATERAL (SELECT unnest(generate_series(
             0, CAST(191 + (d.doc_id % 5) * 64 AS BIGINT))) AS i) s
    GROUP BY d.doc_id
    ORDER BY d.doc_id
    """,
)
def flac_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL compressed-lossless audio surface under the differential
    oracle gate (round 12; companion to ``audio_decode_features`` /
    ``g711_decode_features``): per document a deterministic int16 signal
    (closed form over (doc_id, sample index), range ±1000) is encoded to
    a genuine FLAC stream by :func:`encode_flac` — FIXED predictors
    (two thirds of docs) or quantized-coefficient LPC (every third doc),
    rice-coded residual partitions (partition order varies by doc), frame
    CRC-8/CRC-16, STREAMINFO MD5 — and decoded back through
    :func:`_decode_flac`, whose internal CRC and MD5 checks already
    reject any bitstream slip. Exact integer signal statistics come from
    the decoded PCM only; the oracle recomputes them from the closed
    form, so predictor algebra, zigzag/unary coding, partition geometry
    (block size varies by doc; the last block is short) and checksum
    handling are all under the hash. Map-only mapInPandas."""
    # CPU-dense per-row kernel over a tiny id list: fan the ids across
    # every core explicitly — the one-file parquet scan otherwise yields
    # a single partition and the whole decode runs on one thread
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = {
                "doc_id": [], "n_samples": [], "sample_rate": [],
                "mean_abs": [], "peak": [], "energy_mean": [],
            }
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                n = 192 + (d % 5) * 64
                sr = 8000 + (d % 2) * 8000
                i = np.arange(n, dtype=np.int64)
                samples = ((7 * d + 11 * i) % 2001 - 1000).astype(np.int16)
                blob = encode_flac(
                    samples,
                    sample_rate=sr,
                    block_size=64 << (d % 2),
                    partition_order=d % 3,
                    # every third doc routes through the LPC subframe
                    # path (quantized coefs + arithmetic shift), the
                    # rest through the FIXED predictors — both real
                    force_lpc=([3, -1], 1, 4) if d % 3 == 0 else None,
                )
                meta = decode_media(blob, "audio")  # REAL FLAC decode
                pcm = np.frombuffer(meta["pcm"], np.dtype("<i2")).astype(np.int64)
                out["doc_id"].append(d)
                out["n_samples"].append(meta["n_frames"])
                out["sample_rate"].append(meta["frame_rate"])
                out["mean_abs"].append(int(np.abs(pcm).sum()) // n)
                out["peak"].append(int(np.abs(pcm).max()))
                out["energy_mean"].append(int((pcm * pcm).sum()) // n)
            yield pd.DataFrame(out)

    schema = (
        "doc_id long, n_samples long, sample_rate long, mean_abs long, "
        "peak long, energy_mean long"
    )
    return docs.mapInPandas(run, schema)


# ---------------------------------------------------------------------------
# MPEG-1 Layer III (MP3) SAMPLE-LAYER decode — round 13
#
# Round 12 shipped the frame-header walk (probe_mpeg_audio); this section
# decodes INSIDE the frames: CRC-16, side info, the bit reservoir,
# scalefactors, Huffman-coded spectra, requantization to the xr[576]
# spectrum, alias reduction and the 36-point IMDCT/overlap-add — i.e. the
# whole lossless entropy layer plus the closed-form DSP of ISO/IEC 11172-3
# §2.4.2.7/§2.4.3.4. The reference shells to ffmpeg for exactly this
# (/root/reference/inputs/speech_to_text.py:14-30).
#
# Capability state (the boundaries below closed round by round):
# - Huffman alphabet: COMPLETE since round 16 — tables 0-3, 5-13, 15,
#   the 16/24 linbits families (17-23/25-31 alias their codewords per
#   Table B.7) and both count1 tables, every alphabet shipped only
#   after the Kraft-complete import validation at _MP3_HUFF2.
#   table_select 4/14 are reserved codepoints and raise ValueError.
# - Subband->PCM synthesis (the D[512] window path) shipped in round 14
#   (mp3_pcm_decode_features); short/mixed blocks in round 15; the
#   stereo matrix (combined MS+intensity, intensity-over-short-blocks)
#   and the 48/32 kHz Table B.8 profiles in round 16.
# - Remaining seams (each raises naming itself): MPEG-2/2.5
#   low-sample-rate extensions. The stereo matrix is CLOSED (mixed-block
#   intensity landed late in round 16).
# ---------------------------------------------------------------------------

# scalefac_compress -> (slen1, slen2), ISO 11172-3 §2.4.2.7
_MP3_SLEN = [
    (0, 0), (0, 1), (0, 2), (0, 3), (3, 0), (1, 1), (1, 2), (1, 3),
    (2, 1), (2, 2), (2, 3), (3, 1), (3, 2), (3, 3), (4, 2), (4, 3),
]
# preflag pretab, §2.4.3.4.3 (per long scalefactor band 0..21)
_MP3_PRETAB = [0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 2, 2, 3, 3, 3, 2, 0]
# Long-block scalefactor band boundaries, MPEG-1 44.1 kHz (Table B.8).
_MP3_SFB_LONG_44100 = [
    0, 4, 8, 12, 16, 20, 24, 30, 36, 44, 52, 62, 74, 90, 110, 134,
    162, 196, 238, 288, 342, 418, 576,
]
# Short-block scalefactor band boundaries, MPEG-1 44.1 kHz (Table B.8):
# 13 bands per 192-line window (widths 4,4,4,4,6,8,10,12,14,18,22,30,56);
# bands 0-11 carry scalefactors, band 12 — like long band 21 — has none.
_MP3_SFB_SHORT_44100 = [0, 4, 8, 12, 16, 22, 30, 40, 52, 66, 84, 106, 136, 192]
# The 48 kHz and 32 kHz Table B.8 profiles (round 16). Data stance: pure
# spec tables with no closed form; validated structurally at import
# (_mp3_check_band_tables: 22/13 bands ending exactly at 576/192, first
# six widths of 4, widths non-decreasing through the penultimate band —
# only the FINAL band may shrink, the documented truncation-at-576
# shape every MPEG-1 profile shows). Value-level fidelity against
# third-party encoders is the documented validation boundary, same as
# the Huffman alphabets'.
_MP3_SFB_LONG = {
    44100: _MP3_SFB_LONG_44100,
    48000: [0, 4, 8, 12, 16, 20, 24, 30, 36, 42, 50, 60, 72, 88, 106,
            128, 156, 190, 230, 276, 330, 384, 576],
    32000: [0, 4, 8, 12, 16, 20, 24, 30, 36, 44, 54, 66, 82, 102, 126,
            156, 194, 240, 296, 364, 448, 550, 576],
}
_MP3_SFB_SHORT = {
    44100: _MP3_SFB_SHORT_44100,
    48000: [0, 4, 8, 12, 16, 22, 28, 38, 50, 64, 80, 100, 126, 192],
    32000: [0, 4, 8, 12, 16, 22, 30, 42, 58, 78, 104, 138, 180, 192],
}
# MPEG-2 / MPEG-2.5 LSF Table B.8 profiles (ISO/IEC 13818-3; round 17).
# Data stance: pure spec tables, validated structurally at import by
# _mp3_check_lsf_band_tables (22/13 bands ending exactly at 576/192,
# the first six long / three short widths equal, widths non-decreasing
# through the mid-table — the LSF tables may SHRINK in the tail: the
# 8 kHz long profile famously ends in five 2-wide bands). The spec
# aliases three of the six rates: 16 kHz long = 22.05 kHz long,
# 12 kHz long = 22.05 kHz long, 11.025 kHz = 12 kHz (both shapes),
# 12 kHz short = 24 kHz short. Value-level fidelity against
# third-party encoders is the documented validation boundary.
_MP3_SFB_LONG_22050 = [
    0, 6, 12, 18, 24, 30, 36, 44, 54, 66, 80, 96, 116, 140, 168, 200,
    238, 284, 336, 396, 464, 522, 576,
]
_MP3_SFB_SHORT_24000 = [0, 4, 8, 12, 18, 26, 36, 48, 62, 80, 104, 136,
                        180, 192]
_MP3_SFB_LONG.update({
    22050: _MP3_SFB_LONG_22050,
    24000: [0, 6, 12, 18, 24, 30, 36, 44, 54, 66, 80, 96, 114, 136,
            162, 194, 232, 278, 332, 394, 464, 540, 576],
    16000: _MP3_SFB_LONG_22050,
    12000: _MP3_SFB_LONG_22050,
    11025: _MP3_SFB_LONG_22050,
    8000: [0, 12, 24, 36, 48, 60, 72, 88, 108, 132, 160, 192, 232, 280,
           336, 400, 476, 566, 568, 570, 572, 574, 576],
})
_MP3_SFB_SHORT.update({
    22050: [0, 4, 8, 12, 18, 24, 32, 42, 56, 74, 100, 132, 174, 192],
    24000: _MP3_SFB_SHORT_24000,
    16000: [0, 4, 8, 12, 18, 26, 36, 48, 62, 80, 104, 134, 174, 192],
    12000: _MP3_SFB_SHORT_24000,
    11025: _MP3_SFB_SHORT_24000,
    8000: [0, 8, 16, 24, 36, 52, 72, 96, 124, 160, 162, 164, 166, 192],
})
_MP3_LSF_RATES = (22050, 24000, 16000, 12000, 11025, 8000)


def _mp3_check_band_tables() -> None:
    """Import-time structural validation of the Table B.8 profiles.
    MPEG-1 rates: first six long / four short widths are 4 and widths
    never decrease before the final band. LSF rates: the first six
    long / three short widths are mutually equal and widths are
    non-decreasing through the mid-table only (indices < 16 long / < 9
    short) — the LSF profiles legitimately shrink in the tail."""
    for rate, tab in _MP3_SFB_LONG.items():
        lsf = rate in _MP3_LSF_RATES
        if len(tab) != 23 or tab[0] != 0 or tab[-1] != 576:
            raise AssertionError(f"MP3 long bands {rate}: bad frame")
        w = [tab[i + 1] - tab[i] for i in range(22)]
        if any(x <= 0 for x in w):
            raise AssertionError(f"MP3 long bands {rate}: bad widths")
        if lsf:
            if len(set(w[:6])) != 1 or any(
                w[i + 1] < w[i] for i in range(15)
            ):
                raise AssertionError(f"MP3 long bands {rate}: bad widths")
        elif any(x != 4 for x in w[:6]) or any(
            w[i + 1] < w[i] for i in range(20)
        ):
            raise AssertionError(f"MP3 long bands {rate}: bad widths")
    for rate, tab in _MP3_SFB_SHORT.items():
        lsf = rate in _MP3_LSF_RATES
        if len(tab) != 14 or tab[0] != 0 or tab[-1] != 192:
            raise AssertionError(f"MP3 short bands {rate}: bad frame")
        w = [tab[i + 1] - tab[i] for i in range(13)]
        if any(x <= 0 for x in w):
            raise AssertionError(f"MP3 short bands {rate}: bad widths")
        if lsf:
            if len(set(w[:3])) != 1 or any(
                w[i + 1] < w[i] for i in range(8)
            ):
                raise AssertionError(f"MP3 short bands {rate}: bad widths")
        elif any(x != 4 for x in w[:4]) or any(
            w[i + 1] < w[i] for i in range(11)
        ):
            raise AssertionError(f"MP3 short bands {rate}: bad widths")


_mp3_check_band_tables()
# Huffman table 1 (Annex B Table B.7): (x, y) -> (length, code).
_MP3_HUFF1 = {(0, 0): (1, 0b1), (0, 1): (3, 0b001), (1, 0): (2, 0b01), (1, 1): (3, 0b000)}
_MP3_HUFF1_DEC = {v: k for k, v in _MP3_HUFF1.items()}
# Tables 2 and 3 (round 14; 3x3, no linbits) — reproduced from the public
# Annex B Table B.7 under the same data stance as the T.4 fax alphabets:
# each is validated by the test suite as a COMPLETE prefix code (Kraft
# sum exactly 1 + prefix-free), which any single mis-remembered length or
# codeword would break with overwhelming probability; value-ASSIGNMENT fidelity
# against third-party encoders is the documented validation boundary.
# The alphabet is COMPLETE since round 16 (tables 5-16/24 plus the
# 17-23/25-31 linbits aliases ship below); the remaining MP3-family
# seams are MPEG-2/2.5 LSF and, until round 17, Layer II.
_MP3_HUFF2 = {
    (x, y): (ln, code)
    for x, row in enumerate(
        [[(1, 0b1), (3, 0b010), (6, 0b000001)],
         [(3, 0b011), (3, 0b001), (5, 0b00001)],
         [(5, 0b00011), (5, 0b00010), (6, 0b000000)]]
    )
    for y, (ln, code) in enumerate(row)
}
_MP3_HUFF3 = {
    (x, y): (ln, code)
    for x, row in enumerate(
        [[(2, 0b11), (2, 0b10), (6, 0b000001)],
         [(3, 0b001), (2, 0b01), (5, 0b00001)],
         [(5, 0b00011), (5, 0b00010), (6, 0b000000)]]
    )
    for y, (ln, code) in enumerate(row)
}
def _mp3_table(L, C):
    n = len(L)
    return {
        (x, y): (L[x][y], C[x][y]) for x in range(n) for y in range(n)
    }


def _mp3_table_flat(L, C, n):
    """Row-major flat (hlen, hcod) lists -> {(x, y): (len, code)}."""
    return {
        (x, y): (L[x * n + y], C[x * n + y])
        for x in range(n)
        for y in range(n)
    }


# Tables 5-10 (4x4 through 8x8, no linbits), same stance + validation.
# Tables 11-16 and 24 (round 16): the r14/r15 recollections of 11/12
# failed Kraft (2039/2048, 513/512, 2041/2048, duplicates) and were NOT
# embedded; the r16 transcriptions of 11, 12, 13, 16 and 24 pass the
# full complete-prefix-code validation on the first run (for the
# 256-symbol tables the chance of a mis-transcribed (hlen, hcod) matrix
# passing Kraft-sum-1 + prefix-free + duplicate-free is negligible).
# Table 15's first transcription failed (4087/4096 with its last row
# internally inconsistent) and its row 15 was instead RECONSTRUCTED by
# constraint: rows 0-14 validate alone and leave exactly 16 maximal free
# subtrees whose Kraft mass is the exact deficit, so the 16 (code, len)
# pairs of row 15 are forced as a set — and that forced value multiset
# {0,2,6,6,8,10,16,17,20,21,26,28,30,34,37,71} equals the recalled hcod
# row exactly, pinning every assignment except the duplicated value 6
# (len 12 vs 13), resolved by the strictly-descending code-interval
# order the rest of the row obeys. Tables 17-23 and 25-31 are not
# separate codes: per Annex B Table B.7 they reuse table 16's / table
# 24's codewords with different linbits (the _MP3_TABLE_ALIAS map).
_MP3_HUFF5 = _mp3_table(
    [[1, 3, 6, 7], [3, 3, 6, 7], [6, 6, 7, 8], [7, 6, 7, 8]],
    [[1, 2, 6, 5], [3, 1, 4, 4], [7, 5, 7, 1], [6, 1, 1, 0]],
)
_MP3_HUFF6 = _mp3_table(
    [[3, 3, 5, 7], [3, 2, 4, 5], [4, 4, 5, 6], [6, 5, 6, 7]],
    [[7, 3, 5, 1], [6, 2, 3, 2], [5, 4, 4, 1], [3, 3, 2, 0]],
)
_MP3_HUFF7 = _mp3_table(
    [[1, 3, 6, 8, 8, 9], [3, 4, 6, 7, 7, 8], [6, 5, 7, 8, 8, 9],
     [7, 7, 8, 9, 9, 9], [7, 7, 8, 9, 9, 10], [8, 8, 9, 10, 10, 10]],
    [[1, 2, 10, 19, 16, 10], [3, 3, 7, 10, 5, 3], [11, 4, 13, 17, 8, 4],
     [12, 11, 18, 15, 11, 2], [7, 6, 9, 14, 3, 1], [6, 4, 5, 3, 2, 0]],
)
_MP3_HUFF8 = _mp3_table(
    [[2, 3, 6, 8, 8, 9], [3, 2, 4, 8, 8, 8], [6, 4, 6, 8, 8, 9],
     [8, 8, 8, 9, 9, 10], [8, 7, 8, 9, 10, 10], [9, 8, 9, 9, 11, 11]],
    [[3, 4, 6, 18, 12, 5], [5, 1, 2, 16, 9, 3], [7, 3, 5, 14, 7, 3],
     [19, 17, 15, 13, 10, 4], [13, 5, 8, 11, 5, 1], [12, 4, 4, 1, 1, 0]],
)
_MP3_HUFF9 = _mp3_table(
    [[3, 3, 5, 6, 8, 9], [3, 3, 4, 5, 6, 8], [4, 4, 5, 6, 7, 8],
     [6, 5, 6, 7, 7, 8], [7, 6, 7, 7, 8, 9], [8, 7, 8, 8, 9, 9]],
    [[7, 5, 9, 14, 15, 7], [6, 4, 5, 5, 6, 7], [7, 6, 8, 8, 8, 5],
     [15, 6, 9, 10, 5, 1], [11, 7, 9, 6, 4, 1], [14, 4, 6, 2, 6, 0]],
)
_MP3_HUFF10 = _mp3_table(
    [[1, 3, 6, 8, 9, 9, 9, 10], [3, 4, 6, 7, 8, 9, 8, 8],
     [6, 6, 7, 8, 9, 10, 9, 9], [7, 7, 8, 9, 10, 10, 9, 10],
     [8, 8, 9, 10, 10, 10, 10, 10], [9, 9, 10, 10, 11, 11, 10, 11],
     [8, 8, 9, 10, 10, 10, 11, 11], [9, 8, 9, 10, 10, 11, 11, 11]],
    [[1, 2, 10, 23, 35, 30, 12, 17], [3, 3, 8, 12, 18, 21, 12, 7],
     [11, 9, 15, 21, 32, 40, 19, 6], [14, 13, 22, 34, 46, 23, 18, 7],
     [20, 19, 33, 47, 27, 22, 9, 3], [31, 22, 41, 26, 21, 20, 5, 3],
     [14, 13, 10, 11, 16, 6, 5, 1], [9, 8, 7, 8, 4, 4, 2, 0]],
)
_MP3_HUFF11 = _mp3_table_flat(
    [2, 3, 5, 7, 8, 9, 8, 9, 3, 3, 4, 6, 8, 8, 7, 8,
     5, 5, 6, 7, 8, 9, 8, 8, 7, 6, 7, 9, 8, 10, 8, 9,
     8, 8, 8, 9, 9, 10, 9, 10, 8, 8, 9, 10, 10, 11, 10, 11,
     8, 7, 7, 8, 9, 10, 10, 10, 8, 7, 8, 9, 10, 10, 10, 10],
    [3, 4, 10, 24, 34, 33, 21, 15, 5, 3, 4, 10, 32, 17, 11, 10,
     11, 7, 13, 18, 30, 31, 20, 5, 25, 11, 19, 59, 27, 18, 12, 5,
     35, 33, 31, 58, 30, 16, 7, 5, 28, 26, 32, 19, 17, 15, 8, 14,
     14, 12, 9, 13, 14, 9, 4, 1, 11, 4, 6, 6, 6, 3, 2, 0], 8,
)
_MP3_HUFF12 = _mp3_table_flat(
    [4, 3, 5, 7, 8, 9, 9, 9, 3, 3, 4, 5, 7, 7, 8, 8,
     5, 4, 5, 6, 7, 8, 7, 8, 6, 5, 6, 6, 7, 8, 8, 8,
     7, 6, 7, 7, 8, 8, 8, 9, 8, 7, 8, 8, 8, 9, 8, 9,
     8, 7, 7, 8, 8, 9, 9, 10, 9, 8, 8, 9, 9, 9, 9, 10],
    [9, 6, 16, 33, 41, 39, 38, 26, 7, 5, 6, 9, 23, 16, 26, 11,
     17, 7, 11, 14, 21, 30, 10, 7, 17, 10, 15, 12, 18, 28, 14, 5,
     32, 13, 22, 19, 18, 16, 9, 5, 40, 17, 31, 29, 17, 13, 4, 2,
     27, 12, 11, 15, 10, 7, 4, 1, 27, 12, 8, 12, 6, 3, 1, 0], 8,
)
_MP3_HUFF13 = _mp3_table_flat(
    [1, 4, 6, 7, 8, 9, 9, 10, 9, 10, 11, 11, 12, 12, 13, 13,
     3, 4, 6, 7, 8, 8, 9, 9, 9, 9, 10, 10, 11, 12, 12, 12,
     6, 6, 7, 8, 9, 9, 10, 10, 9, 10, 10, 11, 11, 12, 13, 13,
     7, 7, 8, 9, 9, 10, 10, 10, 10, 11, 11, 11, 11, 12, 13, 13,
     8, 7, 9, 9, 10, 10, 11, 11, 10, 11, 11, 12, 12, 13, 13, 14,
     9, 8, 9, 10, 10, 10, 11, 11, 11, 11, 12, 11, 13, 13, 14, 14,
     9, 9, 10, 10, 11, 11, 11, 11, 11, 12, 12, 12, 13, 13, 14, 14,
     10, 9, 10, 11, 11, 11, 12, 12, 12, 12, 13, 13, 13, 14, 16, 16,
     9, 8, 9, 10, 10, 11, 11, 12, 12, 12, 12, 13, 13, 14, 15, 15,
     10, 9, 10, 10, 11, 11, 11, 13, 12, 13, 13, 14, 14, 14, 16, 15,
     10, 10, 10, 11, 11, 12, 12, 13, 12, 13, 14, 13, 14, 15, 16, 17,
     11, 10, 10, 11, 12, 12, 12, 12, 13, 13, 13, 14, 15, 15, 15, 16,
     11, 11, 11, 12, 12, 13, 12, 13, 14, 14, 15, 15, 15, 16, 16, 16,
     12, 11, 12, 13, 13, 13, 14, 14, 14, 14, 14, 15, 16, 15, 16, 16,
     13, 12, 12, 13, 13, 13, 15, 14, 14, 17, 15, 15, 15, 17, 16, 16,
     12, 12, 13, 14, 14, 14, 15, 14, 15, 15, 16, 16, 19, 18, 19, 16],
    [1, 5, 14, 21, 34, 51, 46, 71, 42, 52, 68, 52, 67, 44, 43, 19,
     3, 4, 12, 19, 31, 26, 44, 33, 31, 24, 32, 24, 31, 35, 22, 14,
     15, 13, 23, 36, 59, 49, 77, 65, 29, 40, 30, 40, 27, 33, 42, 16,
     22, 20, 37, 61, 56, 79, 73, 64, 43, 76, 56, 37, 26, 31, 25, 14,
     35, 16, 60, 57, 97, 75, 114, 91, 54, 73, 55, 41, 48, 53, 23, 24,
     58, 27, 50, 96, 76, 70, 93, 84, 77, 58, 79, 29, 74, 49, 41, 17,
     47, 45, 78, 74, 115, 94, 90, 79, 69, 83, 71, 50, 59, 38, 36, 15,
     72, 34, 56, 95, 92, 85, 91, 90, 86, 73, 77, 65, 51, 44, 43, 42,
     43, 20, 30, 44, 55, 78, 72, 87, 78, 61, 46, 54, 37, 30, 20, 16,
     53, 25, 41, 37, 44, 59, 54, 81, 66, 76, 57, 54, 37, 18, 39, 11,
     35, 33, 31, 57, 42, 82, 72, 80, 47, 58, 55, 21, 22, 26, 38, 22,
     53, 25, 23, 38, 70, 60, 51, 36, 55, 26, 34, 23, 27, 14, 9, 7,
     34, 32, 28, 39, 49, 75, 30, 52, 48, 40, 52, 28, 18, 17, 9, 5,
     45, 21, 34, 64, 56, 50, 49, 45, 31, 19, 12, 15, 10, 7, 6, 3,
     48, 23, 20, 39, 36, 35, 53, 21, 16, 23, 13, 10, 6, 1, 4, 2,
     16, 15, 17, 27, 25, 20, 29, 11, 17, 12, 16, 8, 1, 1, 0, 1], 16,
)
_MP3_HUFF15 = _mp3_table_flat(
    [3, 4, 5, 7, 7, 8, 9, 9, 9, 10, 10, 11, 11, 11, 12, 13,
     4, 3, 5, 6, 7, 7, 8, 8, 8, 9, 9, 10, 10, 10, 11, 11,
     5, 5, 5, 6, 7, 7, 8, 8, 8, 9, 9, 10, 10, 11, 11, 11,
     6, 6, 6, 7, 7, 8, 8, 9, 9, 9, 10, 10, 10, 11, 11, 11,
     7, 6, 7, 7, 8, 8, 9, 9, 9, 9, 10, 10, 10, 11, 11, 11,
     8, 7, 7, 8, 8, 8, 9, 9, 9, 9, 10, 10, 11, 11, 11, 12,
     9, 7, 8, 8, 8, 9, 9, 9, 9, 10, 10, 10, 11, 11, 12, 12,
     9, 8, 8, 9, 9, 9, 9, 10, 10, 10, 10, 10, 11, 11, 11, 12,
     9, 8, 8, 9, 9, 9, 9, 10, 10, 10, 10, 11, 11, 12, 12, 12,
     9, 8, 9, 9, 9, 9, 10, 10, 10, 11, 11, 11, 11, 12, 12, 12,
     10, 9, 9, 9, 10, 10, 10, 10, 10, 11, 11, 11, 11, 12, 13, 12,
     10, 9, 9, 9, 10, 10, 10, 10, 11, 11, 11, 11, 12, 12, 12, 13,
     11, 10, 9, 10, 10, 10, 11, 11, 11, 11, 11, 11, 12, 12, 13, 13,
     11, 10, 10, 10, 10, 11, 11, 11, 11, 12, 12, 12, 12, 12, 13, 13,
     12, 11, 11, 11, 11, 11, 11, 11, 12, 12, 12, 12, 13, 13, 13, 13,
     12, 11, 11, 11, 11, 11, 11, 12, 12, 12, 12, 12, 13, 13, 12, 13],
    [7, 12, 18, 53, 47, 76, 124, 108, 89, 123, 108, 119, 107, 81, 122, 63,
     13, 5, 16, 27, 46, 36, 61, 51, 42, 70, 52, 83, 65, 41, 59, 36,
     19, 17, 15, 24, 41, 34, 59, 48, 40, 64, 50, 78, 62, 80, 56, 33,
     29, 28, 25, 43, 39, 63, 55, 93, 76, 59, 93, 72, 54, 75, 50, 29,
     52, 22, 42, 40, 67, 57, 95, 79, 72, 57, 89, 69, 49, 66, 46, 27,
     77, 37, 35, 66, 58, 52, 91, 74, 62, 48, 79, 63, 90, 62, 40, 38,
     125, 32, 60, 56, 50, 92, 78, 65, 55, 87, 71, 51, 73, 51, 70, 30,
     109, 53, 49, 94, 88, 75, 66, 122, 91, 73, 56, 42, 64, 44, 21, 25,
     90, 43, 41, 77, 73, 63, 56, 92, 77, 66, 47, 67, 48, 53, 36, 20,
     71, 34, 67, 60, 58, 49, 88, 76, 67, 106, 71, 54, 38, 39, 23, 15,
     109, 53, 51, 47, 90, 82, 58, 57, 48, 72, 57, 41, 23, 27, 62, 9,
     86, 42, 40, 37, 70, 64, 52, 43, 70, 55, 42, 25, 29, 18, 11, 11,
     118, 68, 30, 55, 50, 46, 74, 65, 49, 39, 24, 16, 22, 13, 14, 7,
     91, 44, 39, 38, 34, 63, 52, 45, 31, 52, 28, 19, 14, 8, 9, 3,
     123, 60, 58, 53, 47, 43, 32, 22, 37, 24, 17, 12, 15, 10, 2, 1,
     71, 37, 34, 30, 28, 20, 17, 26, 21, 16, 10, 6, 8, 6, 2, 0], 16,
)
_MP3_HUFF16 = _mp3_table_flat(
    [1, 4, 6, 8, 9, 9, 10, 10, 11, 11, 11, 12, 12, 12, 13, 9,
     3, 4, 6, 7, 8, 9, 9, 9, 10, 10, 10, 11, 12, 11, 12, 8,
     6, 6, 7, 8, 9, 9, 10, 10, 11, 10, 11, 11, 11, 12, 12, 9,
     8, 7, 8, 9, 9, 10, 10, 10, 11, 11, 12, 12, 12, 13, 13, 10,
     9, 8, 9, 9, 10, 10, 11, 11, 11, 12, 12, 12, 13, 13, 13, 9,
     9, 8, 9, 9, 10, 11, 11, 12, 11, 12, 12, 13, 13, 13, 14, 10,
     10, 9, 9, 10, 11, 11, 11, 11, 12, 12, 12, 12, 13, 13, 14, 10,
     10, 9, 10, 10, 11, 11, 11, 12, 12, 13, 13, 13, 13, 15, 15, 10,
     10, 10, 10, 11, 11, 11, 12, 12, 13, 13, 13, 13, 14, 14, 14, 10,
     11, 10, 10, 11, 11, 12, 12, 13, 13, 13, 13, 14, 13, 14, 13, 11,
     11, 11, 10, 11, 12, 12, 12, 12, 13, 14, 14, 14, 15, 15, 14, 10,
     12, 11, 11, 11, 12, 12, 13, 14, 14, 14, 14, 14, 14, 13, 14, 11,
     12, 12, 12, 12, 12, 13, 13, 13, 13, 15, 14, 14, 14, 14, 16, 11,
     14, 12, 12, 12, 13, 13, 14, 14, 14, 16, 15, 15, 15, 17, 15, 11,
     13, 13, 11, 12, 14, 14, 13, 14, 14, 15, 16, 15, 17, 15, 14, 11,
     9, 8, 8, 9, 9, 10, 10, 10, 11, 11, 11, 11, 11, 11, 11, 8],
    [1, 5, 14, 44, 74, 63, 110, 93, 172, 149, 138, 242, 225, 195, 376, 17,
     3, 4, 12, 20, 35, 62, 53, 47, 83, 75, 68, 119, 201, 107, 207, 9,
     15, 13, 23, 38, 67, 58, 103, 90, 161, 72, 127, 117, 110, 209, 206, 16,
     45, 21, 39, 69, 64, 114, 99, 87, 158, 140, 252, 212, 199, 387, 365, 26,
     75, 36, 68, 65, 115, 101, 179, 164, 155, 264, 246, 226, 395, 382, 362,
     9,
     66, 30, 59, 56, 102, 185, 173, 265, 142, 253, 232, 400, 388, 378, 445,
     16,
     111, 54, 52, 100, 184, 178, 160, 133, 257, 244, 228, 217, 385, 366,
     715, 10,
     98, 48, 91, 88, 165, 157, 148, 261, 248, 407, 397, 372, 380, 889, 884,
     8,
     85, 84, 81, 159, 156, 143, 260, 249, 427, 401, 392, 383, 727, 713,
     708, 7,
     154, 76, 73, 141, 131, 256, 245, 426, 406, 394, 384, 735, 359, 710,
     352, 11,
     139, 129, 67, 125, 247, 233, 229, 219, 393, 743, 737, 720, 885, 882,
     439, 4,
     243, 120, 118, 115, 227, 223, 396, 746, 742, 736, 721, 712, 706, 223,
     436, 6,
     202, 224, 222, 218, 216, 389, 386, 381, 364, 888, 443, 707, 440, 437,
     1728, 4,
     747, 211, 210, 208, 370, 379, 734, 723, 714, 1735, 883, 877, 876,
     3459, 865, 2,
     377, 369, 102, 187, 726, 722, 358, 711, 709, 866, 1734, 871, 3458,
     870, 434, 0,
     12, 10, 7, 11, 10, 17, 11, 9, 13, 12, 10, 7, 5, 3, 1, 3], 16,
)
_MP3_HUFF24 = _mp3_table_flat(
    [4, 4, 6, 7, 8, 9, 9, 10, 10, 11, 11, 11, 11, 11, 12, 9,
     4, 4, 5, 6, 7, 8, 8, 9, 9, 9, 10, 10, 10, 10, 10, 8,
     6, 5, 6, 7, 7, 8, 8, 9, 9, 9, 9, 10, 10, 10, 11, 7,
     7, 6, 7, 7, 8, 8, 8, 9, 9, 9, 9, 10, 10, 10, 10, 7,
     8, 7, 7, 8, 8, 8, 8, 9, 9, 9, 10, 10, 10, 10, 11, 7,
     9, 7, 8, 8, 8, 8, 9, 9, 9, 9, 10, 10, 10, 10, 10, 7,
     9, 8, 8, 8, 8, 9, 9, 9, 9, 10, 10, 10, 10, 10, 11, 7,
     10, 8, 8, 8, 9, 9, 9, 9, 10, 10, 10, 10, 10, 11, 11, 8,
     10, 9, 9, 9, 9, 9, 9, 9, 9, 10, 10, 10, 10, 11, 11, 8,
     10, 9, 9, 9, 9, 9, 9, 10, 10, 10, 10, 10, 11, 11, 11, 8,
     11, 9, 9, 9, 9, 10, 10, 10, 10, 10, 10, 11, 11, 11, 11, 8,
     11, 10, 9, 9, 9, 10, 10, 10, 10, 10, 10, 11, 11, 11, 11, 8,
     11, 10, 10, 10, 10, 10, 10, 10, 10, 10, 11, 11, 11, 11, 11, 8,
     11, 10, 10, 10, 10, 10, 10, 10, 11, 11, 11, 11, 11, 11, 11, 8,
     12, 10, 10, 10, 10, 10, 10, 11, 11, 11, 11, 11, 11, 11, 11, 8,
     8, 7, 7, 7, 7, 7, 7, 7, 7, 7, 7, 8, 8, 8, 8, 4],
    [15, 13, 46, 80, 146, 262, 248, 434, 426, 669, 653, 649, 621, 517,
     1032, 88,
     14, 12, 21, 38, 71, 130, 122, 216, 209, 198, 327, 345, 319, 297, 279,
     42,
     47, 22, 41, 74, 68, 128, 120, 221, 207, 194, 182, 340, 315, 295, 541,
     18,
     81, 39, 75, 70, 134, 125, 116, 220, 204, 190, 178, 325, 311, 293, 271,
     16,
     147, 72, 69, 135, 127, 118, 112, 210, 200, 188, 352, 323, 306, 285,
     540, 14,
     263, 66, 129, 126, 119, 114, 214, 202, 192, 180, 341, 317, 301, 281,
     262, 12,
     249, 123, 121, 117, 113, 215, 206, 195, 185, 347, 330, 308, 291, 272,
     520, 10,
     435, 115, 111, 109, 211, 203, 196, 187, 353, 332, 313, 298, 283, 531,
     381, 17,
     427, 212, 208, 205, 201, 193, 186, 177, 169, 320, 303, 286, 268, 514,
     377, 16,
     335, 199, 197, 191, 189, 181, 174, 333, 321, 305, 289, 275, 521, 379,
     371, 11,
     668, 184, 183, 179, 175, 344, 331, 314, 304, 290, 277, 530, 383, 373,
     366, 10,
     652, 346, 171, 168, 164, 318, 309, 299, 287, 276, 263, 513, 375, 368,
     362, 6,
     648, 322, 316, 312, 307, 302, 292, 284, 269, 261, 512, 376, 370, 364,
     359, 4,
     620, 300, 296, 294, 288, 282, 273, 266, 515, 380, 374, 369, 365, 361,
     357, 2,
     1033, 280, 278, 274, 267, 264, 259, 382, 378, 372, 367, 363, 360, 358,
     356, 0,
     43, 20, 19, 17, 15, 13, 11, 9, 7, 6, 4, 7, 5, 3, 1, 3], 16,
)
_MP3_HUFF_TABLES = {
    1: _MP3_HUFF1, 2: _MP3_HUFF2, 3: _MP3_HUFF3, 5: _MP3_HUFF5,
    6: _MP3_HUFF6, 7: _MP3_HUFF7, 8: _MP3_HUFF8, 9: _MP3_HUFF9,
    10: _MP3_HUFF10, 11: _MP3_HUFF11, 12: _MP3_HUFF12, 13: _MP3_HUFF13,
    15: _MP3_HUFF15, 16: _MP3_HUFF16, 24: _MP3_HUFF24,
}
# Annex B Table B.7: tables 17-23 / 25-31 reuse the table 16 / 24
# codewords; only linbits (the number of raw extension bits appended to
# an |is| = 15 ESC magnitude) differs across each family.
_MP3_TABLE_ALIAS = {t: 16 for t in range(17, 24)}
_MP3_TABLE_ALIAS.update({t: 24 for t in range(25, 32)})
_MP3_LINBITS = {
    16: 1, 17: 2, 18: 3, 19: 4, 20: 6, 21: 8, 22: 10, 23: 13,
    24: 4, 25: 5, 26: 6, 27: 7, 28: 8, 29: 9, 30: 11, 31: 13,
}
_MP3_HUFF_DEC = {
    t: {v: k for k, v in tab.items()} for t, tab in _MP3_HUFF_TABLES.items()
}
_MP3_HUFF_MAXLEN = {
    t: max(ln for ln, _ in tab.values()) for t, tab in _MP3_HUFF_TABLES.items()
}
# count1 table B: 4-bit code = one's complement of the (v,w,x,y) index.
# count1 table A (round 14): (v,w,x,y) index -> (length, code), same
# Kraft-complete validation stance as tables 2/3 above.
_MP3_COUNT1A = {
    i: (ln, code)
    for i, (ln, code) in enumerate([
        (1, 0b1), (4, 0b0101), (4, 0b0100), (5, 0b00101),
        (4, 0b0110), (6, 0b000101), (5, 0b00100), (6, 0b000100),
        (4, 0b0111), (5, 0b00011), (5, 0b00110), (6, 0b000000),
        (5, 0b00111), (6, 0b000010), (6, 0b000011), (6, 0b000001),
    ])
}
_MP3_COUNT1A_DEC = {v: k for k, v in _MP3_COUNT1A.items()}

# Peek-8 LUTs over the decode maps (round 17): lut[next8bits] resolves
# every code of <= 8 bits to (length << 8) | (x << 4) | y in one lookup
# (-1 -> longer code, fall back to the per-bit walk). Built lazily per
# table; the alphabets are static module data so this is once per
# process, unlike the per-image JPEG tables.
_MP3_HUFF_LUT8: dict[int, list[int]] = {}
_MP3_COUNT1A_LUT8: list[int] | None = None


def _mp3_huff_lut8(base: int) -> list[int]:
    lut = _MP3_HUFF_LUT8.get(base)
    if lut is None:
        lut = [-1] * 256
        for (ln, code), (x, y) in _MP3_HUFF_DEC[base].items():
            if ln <= 8:
                lo = code << (8 - ln)
                lut[lo : lo + (1 << (8 - ln))] = [
                    (ln << 8) | (x << 4) | y
                ] * (1 << (8 - ln))
        _MP3_HUFF_LUT8[base] = lut
    return lut


_MP3_HUFF_LUT8S: dict[int, list[int]] = {}


def _mp3_huff_lut8s(tsel: int) -> list[int]:
    """Sign-folding peek-8 LUT (round 18, VERDICT item 3): resolves the
    big-values codeword AND both sign bits from one 8-bit peek when they
    fit. Keyed by the ORIGINAL table_select (linbits differ across
    aliases of one code table). Slot = -1 when unresolvable (LUT miss,
    an x/y == 15 linbits escape — those read linbits BEFORE the sign —
    or code+signs wider than the peek); otherwise
    ``(consumed << 16) | ((x + 16) << 8) | (y + 16)`` with x/y already
    signed. Census-tested against the per-bit walk over all 256 peeks
    of every table (test_mp3_sign_fold_lut_census)."""
    lut = _MP3_HUFF_LUT8S.get(tsel)
    if lut is None:
        base = _MP3_TABLE_ALIAS.get(tsel, tsel)
        linbits = _MP3_LINBITS.get(tsel, 0)
        lut = [-1] * 256
        for (ln, code), (x, y) in _MP3_HUFF_DEC[base].items():
            if linbits and (x == 15 or y == 15):
                continue
            total = ln + (1 if x else 0) + (1 if y else 0)
            if total > 8:
                continue
            hi = code << (8 - ln)
            for rest in range(1 << (8 - ln)):
                peek = hi | rest
                p = ln
                xv, yv = x, y
                if xv and (peek >> (7 - p)) & 1:
                    xv = -xv
                p += 1 if x else 0
                if yv and (peek >> (7 - p)) & 1:
                    yv = -yv
                p += 1 if y else 0
                lut[peek] = (p << 16) | ((xv + 16) << 8) | (yv + 16)
        _MP3_HUFF_LUT8S[tsel] = lut
    return lut


def _mp3_count1a_lut8() -> list[int]:
    global _MP3_COUNT1A_LUT8
    if _MP3_COUNT1A_LUT8 is None:
        lut = [-1] * 256
        for (ln, code), idx in _MP3_COUNT1A_DEC.items():
            lo = code << (8 - ln)
            lut[lo : lo + (1 << (8 - ln))] = [(ln << 8) | idx] * (
                1 << (8 - ln)
            )
        _MP3_COUNT1A_LUT8 = lut
    return _MP3_COUNT1A_LUT8


# alias-reduction butterflies, §2.4.3.4.10.1
_MP3_ALIAS_C = [-0.6, -0.535, -0.33, -0.185, -0.095, -0.041, -0.0142, -0.0037]


def _crc16_mpeg_bits(bits) -> int:
    """MPEG audio CRC-16 over a BIT sequence (poly 0x8005, init 0xFFFF,
    MSB-first, no xor-out) — Layers I/II protect a non-byte-aligned
    span (header bits 16-31 + the allocation [+ scfsi] fields,
    ISO 11172-3 section 2.4.3.1), unlike Layer III's byte-aligned side
    info."""
    crc = 0xFFFF
    for bit in bits:
        c15 = (crc >> 15) & 1
        crc = (crc << 1) & 0xFFFF
        if c15 ^ bit:
            crc ^= 0x8005
    return crc


def _bits_of(data: bytes, start_bit: int, n_bits: int) -> list:
    """The n_bits bits of ``data`` starting at absolute bit offset
    ``start_bit``, MSB-first."""
    return [
        (data[(start_bit + i) >> 3] >> (7 - ((start_bit + i) & 7))) & 1
        for i in range(n_bits)
    ]


def _crc16_mpeg(data: bytes) -> int:
    """MPEG audio CRC-16: poly 0x8005, init 0xFFFF, MSB-first, no xor-out
    (ISO 11172-3 §2.4.3.1), over header bytes 2-3 + side info."""
    crc = 0xFFFF
    for b in data:
        for i in range(7, -1, -1):
            bit = (b >> i) & 1
            c15 = (crc >> 15) & 1
            crc = ((crc << 1) & 0xFFFF) | 0
            if c15 ^ bit:
                crc ^= 0x8005
    return crc


class _MP3SideInfo:
    __slots__ = (
        "main_data_begin", "scfsi", "granules",
    )


class _MP3Granule:
    __slots__ = (
        "part2_3_length", "big_values", "global_gain", "scalefac_compress",
        "table_select", "region0_count", "region1_count", "preflag",
        "scalefac_scale", "count1table_select", "scalefac", "is_vals", "xr",
        "xr_coded", "count1_quads", "sample_rate",
        # window switching (round 14): block_type 0 long / 1 start /
        # 2 short / 3 stop, the mixed flag, per-window subblock gains,
        # and the 12x3 short scalefactor matrix (scalefac_s[sfb][window])
        "window_switching", "block_type", "mixed_block_flag",
        "subblock_gain", "scalefac_s",
    )


def _mp3_parse_side_info(
    data: bytes, n_ch: int = 1, lsf: bool = False,
) -> "_MP3SideInfo":
    """MPEG-1 side info, §2.4.1.7: 17 bytes mono / 32 bytes stereo
    (private_bits is 5 mono, 3 stereo; scfsi and the 59-bit granule
    blocks repeat per channel). ``si.granules`` is granule-major,
    channel-minor: [[gr0ch0, ...], [gr1ch0, ...]]. LSF (ISO 13818-3
    section 2.4.1.7; round 17): 9 bytes mono / 17 stereo — 8-bit
    main_data_begin, 1/2 private bits, NO scfsi, ONE granule with a
    9-bit scalefac_compress and no preflag bit (implied by sfc)."""
    br = _BitReader(data, 0)
    si = _MP3SideInfo()
    si.main_data_begin = br.read(8 if lsf else 9)
    if lsf:
        br.read(1 if n_ch == 1 else 2)  # private_bits
        si.scfsi = [[0, 0, 0, 0] for _ in range(n_ch)]
    else:
        br.read(5 if n_ch == 1 else 3)  # private_bits
        si.scfsi = [[br.read(1) for _ in range(4)] for _ in range(n_ch)]
    si.granules = []
    for _ in range(1 if lsf else 2):
        chans = []
        for _ in range(n_ch):
            g = _MP3Granule()
            g.part2_3_length = br.read(12)
            g.big_values = br.read(9)
            if g.big_values > 288:
                raise ValueError("MP3 big_values > 288")
            g.global_gain = br.read(8)
            g.scalefac_compress = br.read(9 if lsf else 4)
            wsf = br.read(1)
            g.window_switching = wsf
            if wsf:
                # §2.4.1.7 window-switching layout: block_type(2),
                # mixed_block_flag(1), 2 table selects, 3 subblock gains;
                # region counts are implied (the Huffman regions split at
                # line 36 / end — see _mp3_read_huffman)
                g.block_type = br.read(2)
                if g.block_type == 0:
                    raise ValueError(
                        "MP3 window_switching with block_type 0 is forbidden"
                    )
                g.mixed_block_flag = br.read(1)
                if g.mixed_block_flag and g.block_type != 2:
                    raise ValueError(
                        "MP3 mixed_block_flag requires short blocks"
                    )
                g.table_select = [br.read(5) for _ in range(2)] + [0]
                g.subblock_gain = [br.read(3) for _ in range(3)]
                g.region0_count = 8 if (g.block_type == 2 and not g.mixed_block_flag) else 7
                g.region1_count = 20 - g.region0_count
            else:
                g.block_type = 0
                g.mixed_block_flag = 0
                g.subblock_gain = [0, 0, 0]
                g.table_select = [br.read(5) for _ in range(3)]
                g.region0_count = br.read(4)
                g.region1_count = br.read(3)
            g.scalefac_s = None
            # LSF has no preflag bit; _mp3_read_scalefactors_lsf sets
            # the implied flag from scalefac_compress >= 500
            g.preflag = 0 if lsf else br.read(1)
            g.scalefac_scale = br.read(1)
            g.count1table_select = br.read(1)
            chans.append(g)
        si.granules.append(chans)
    return si


# LSF scalefactor partition (ISO 13818-3 section 2.4.3.2, the Table B.8
# suggestion): scalefac_compress (9 bits) selects one of three slen
# partitions; each partition splits the scalefactor bands into four
# groups of nsfb bands read with slen[part] bits each. Rows: sfc < 400 /
# < 500 / >= 500 (the last implies preflag); columns: long / short /
# mixed block shape. Import-validated: every (row, shape) group count
# must sum to exactly 21 long, 36 short or 33 mixed scalefactors.
_MP3_LSF_NSFB = (
    ((6, 5, 5, 5), (9, 9, 9, 9), (6, 9, 9, 9)),
    ((6, 5, 7, 3), (9, 9, 12, 6), (6, 9, 12, 6)),
    ((11, 10, 0, 0), (18, 18, 0, 0), (15, 18, 0, 0)),
)


def _check_lsf_nsfb() -> None:
    for row in _MP3_LSF_NSFB:
        for shape, total in zip(row, (21, 36, 33)):
            if sum(shape) != total or any(n < 0 for n in shape):
                raise AssertionError(
                    f"LSF nsfb row {shape} does not sum to {total}"
                )


_check_lsf_nsfb()


def _mp3_lsf_slen(sfc: int) -> tuple[tuple[int, int, int, int], int, int]:
    """LSF slen partition for a NORMAL (non-intensity-coded) channel:
    returns (slen[4], nsfb row index, implied preflag). The intensity
    variant (sfc >> 1 with rows 3-5) is a named seam — LSF intensity
    stereo raises in the frame walk."""
    if sfc < 400:
        return (
            ((sfc >> 4) // 5, (sfc >> 4) % 5, (sfc % 16) >> 2, sfc % 4),
            0, 0,
        )
    if sfc < 500:
        c = sfc - 400
        return (((c >> 2) // 5, (c >> 2) % 5, c % 4, 0), 1, 0)
    c = sfc - 500
    return ((c // 3, c % 3, 0, 0), 2, 1)


def _mp3_read_scalefactors_lsf(br: "_BitReader", g: "_MP3Granule") -> int:
    """LSF scalefactors (ISO 13818-3 section 2.4.3.2): four slen groups
    over the nsfb partition, sequential in coded order — long bands
    0-20 for long/start/stop blocks, (sfb, window) pairs window-minor
    for short blocks. Sets the IMPLIED preflag (sfc >= 500). LSF mixed
    blocks (6 long + 27 short scalefactors over a rate-dependent long
    region) raise by name — real LSF encoders do not emit them.
    Returns bits consumed (part2_length)."""
    slen, row, pre = _mp3_lsf_slen(g.scalefac_compress)
    g.preflag = pre
    used = 0
    if g.block_type == 2 and g.mixed_block_flag:
        raise NotImplementedError(
            "LSF mixed-block scalefactors (rate-dependent long region) "
            "are not implemented; long/start/short/stop blocks decode"
        )
    if g.block_type == 2:
        nsfb = _MP3_LSF_NSFB[row][1]
        sf_s = [[0, 0, 0] for _ in range(12)]
        flat = []
        for part in range(4):
            ln = slen[part]
            for _ in range(nsfb[part]):
                flat.append(br.read(ln) if ln else 0)
                used += ln
        for j, v in enumerate(flat):
            sf_s[j // 3][j % 3] = v
        g.scalefac = [0] * 21
        g.scalefac_s = sf_s
        return used
    nsfb = _MP3_LSF_NSFB[row][0]
    sf = [0] * 21
    b = 0
    for part in range(4):
        ln = slen[part]
        for _ in range(nsfb[part]):
            sf[b] = br.read(ln) if ln else 0
            used += ln
            b += 1
    g.scalefac = sf
    return used


def _mp3_read_scalefactors(br: "_BitReader", g: "_MP3Granule",
                           prev: "_MP3Granule | None", scfsi: list[int]) -> int:
    """Scalefactors (§2.4.2.7). Long blocks (incl. start/stop): slen1 for
    sfb 0-10, slen2 for 11-20; scfsi groups (0-5, 6-10, 11-15, 16-20)
    copy granule 0's values in granule 1. Short blocks: slen1 for short
    sfb 0-5 x 3 windows, slen2 for 6-11 x 3 (scfsi never applies to
    short-block granules). Mixed: long sfb 0-7 with slen1, then short
    sfb 3-11 per the short rule. Returns bits consumed (part2_length)."""
    slen1, slen2 = _MP3_SLEN[g.scalefac_compress]
    used = 0
    if g.block_type == 2:
        sf_l = [0] * 21
        sf_s = [[0, 0, 0] for _ in range(12)]
        if g.mixed_block_flag:
            for b in range(8):
                sf_l[b] = br.read(slen1) if slen1 else 0
                used += slen1
            short_start = 3
        else:
            short_start = 0
        for sfb in range(short_start, 12):
            ln = slen1 if sfb < 6 else slen2
            for w in range(3):
                sf_s[sfb][w] = br.read(ln) if ln else 0
                used += ln
        g.scalefac = sf_l
        g.scalefac_s = sf_s
        return used
    groups = [(0, 6), (6, 11), (11, 16), (16, 21)]
    sf = [0] * 21
    for gi, (lo, hi) in enumerate(groups):
        if prev is not None and scfsi[gi] and prev.block_type != 2:
            sf[lo:hi] = prev.scalefac[lo:hi]
            continue
        for b in range(lo, hi):
            ln = slen1 if b < 11 else slen2
            sf[b] = br.read(ln) if ln else 0
            used += ln
    g.scalefac = sf
    return used


def _mp3_read_huffman(br: "_BitReader", g: "_MP3Granule", part2_bits: int) -> None:
    """Big-values pairs + count1 quadruples (§2.4.2.7): region table
    selection, linbits ESC extensions (|is| = 15 markers on tables
    16-31 append linbits raw bits BEFORE the sign bit), sign bits after
    each nonzero magnitude, count1 until part2_3_length bits are
    exhausted or line 576. ALL Annex B tables decode since round 16
    (0-3, 5-13, 15, and the 16/24 linbits families via
    _MP3_TABLE_ALIAS), every alphabet Kraft-validated by test;
    table_select 4 and 14 are reserved codepoints and raise
    ValueError."""
    start_bit = br.bitpos()
    budget = g.part2_3_length - part2_bits
    is_vals = [0] * 576
    rate = getattr(g, "sample_rate", 44100)
    bounds = _MP3_SFB_LONG[rate]
    if g.window_switching:
        # §2.4.2.7: with window switching the region counts are implied
        # (8 short / 7 long sfb steps through the coded-order width
        # sequence) and region2 is empty. At every MPEG-1 rate both
        # forms land on coded line 36; the LSF tables make them
        # rate-dependent (e.g. 54 long / 72 short at 8 kHz).
        if g.block_type == 2 and not g.mixed_block_flag:
            r0_end = 3 * _MP3_SFB_SHORT[rate][3]
        else:
            r0_end = bounds[8]
        r1_end = 576
    else:
        r0_end = bounds[min(g.region0_count + 1, 22)]
        r1_end = bounds[min(g.region0_count + 1 + g.region1_count + 1, 22)]
    # Local bit cursor over a cached peek-8 list (round 17): b8[p] holds
    # the 8 bits starting at bit p (zero-padded past the end), so code
    # resolution is one list index + one LUT hit and sign/linbits reads
    # are shift/mask on locals — no bit-reader method calls in the hot
    # loop. Bits consumed are identical to the per-bit walk; running off
    # the payload raises the same truncation error the reader would.
    b8l = getattr(br, "_b8", None)
    if b8l is None:
        import numpy as np

        u = np.frombuffer(br.data, dtype=np.uint8).astype(np.uint16)
        pairs = (u << 8) | np.concatenate((u[1:], np.zeros(1, np.uint16)))
        b8l = (
            (
                (pairs[:, None] >> (8 - np.arange(8, dtype=np.uint16)[None, :]))
                & 0xFF
            )
            .astype(np.int64)
            .ravel()
            .tolist()
        )
        b8l += [0] * 16
        br._b8 = b8l
    pos = br.bitpos()
    total_bits = len(br.data) * 8
    line = 0
    cur_tsel = -1
    lut8 = lut8s = None
    base = linbits = 0
    for pair in range(g.big_values):
        if line < r0_end:
            tsel = g.table_select[0]
        elif line < r1_end:
            tsel = g.table_select[1]
        else:
            tsel = g.table_select[2]
        if tsel != cur_tsel:
            # per-region table bind (round 18): tsel changes at most
            # twice per granule, so the dict probes leave the pair loop
            cur_tsel = tsel
            if tsel == 0:
                lut8 = lut8s = None
            elif tsel in (4, 14):
                raise ValueError(f"MP3 table_select {tsel} is reserved")
            else:
                base = _MP3_TABLE_ALIAS.get(tsel, tsel)
                linbits = _MP3_LINBITS.get(tsel, 0)
                lut8 = _mp3_huff_lut8(base)
                lut8s = _mp3_huff_lut8s(tsel)
        if tsel == 0:
            x = y = 0
            is_vals[line + 1] = is_vals[line] = 0
            line += 2
            continue
        else:
            # sign-folded fast path (round 18): code + both sign bits
            # resolved from one peek when they fit in 8 bits
            if pos + 8 <= total_bits:
                e2 = lut8s[b8l[pos]]
                if e2 >= 0:
                    pos += e2 >> 16
                    is_vals[line] = ((e2 >> 8) & 0xFF) - 16
                    is_vals[line + 1] = (e2 & 0xFF) - 16
                    line += 2
                    continue
            entry = (
                lut8[b8l[pos]]
                if pos + 8 <= total_bits
                else -1
            )
            if entry >= 0:
                pos += entry >> 8
                x, y = (entry >> 4) & 0xF, entry & 0xF
            else:
                dec = _MP3_HUFF_DEC[base]
                maxlen = _MP3_HUFF_MAXLEN[base]
                ln = 0
                code = 0
                if pos + 8 <= total_bits:
                    code = b8l[pos]
                    pos += 8
                    ln = 8
                while True:
                    if pos >= total_bits:
                        raise ValueError("truncated MP3 bitstream")
                    code = (code << 1) | (b8l[pos] >> 7)
                    pos += 1
                    ln += 1
                    if (ln, code) in dec:
                        x, y = dec[(ln, code)]
                        break
                    if ln > maxlen:
                        raise ValueError(
                            f"invalid MP3 table-{tsel} Huffman code"
                        )
        # §2.4.2.7 bit order: linbits_x, sign_x, linbits_y, sign_y
        if linbits and x == 15:
            if pos + linbits > total_bits:
                raise ValueError("truncated MP3 bitstream")
            x += ((b8l[pos] << 8) | b8l[pos + 8]) >> (16 - linbits)
            pos += linbits
        if x:
            if pos >= total_bits:
                raise ValueError("truncated MP3 bitstream")
            if b8l[pos] >> 7:
                x = -x
            pos += 1
        if linbits and y == 15:
            if pos + linbits > total_bits:
                raise ValueError("truncated MP3 bitstream")
            y += ((b8l[pos] << 8) | b8l[pos + 8]) >> (16 - linbits)
            pos += linbits
        if y:
            if pos >= total_bits:
                raise ValueError("truncated MP3 bitstream")
            if b8l[pos] >> 7:
                y = -y
            pos += 1
        is_vals[line] = x
        is_vals[line + 1] = y
        line += 2
    n_quads = 0
    count1a_lut = _mp3_count1a_lut8() if g.count1table_select != 1 else None
    while pos - start_bit < budget and line + 4 <= 576:
        if g.count1table_select == 1:
            if pos + 4 > total_bits:
                raise ValueError("truncated MP3 bitstream")
            idx = 15 - (b8l[pos] >> 4)  # table B: one's complement code
            pos += 4
        elif pos + 8 <= total_bits:
            # count1-A is a COMPLETE <= 6-bit alphabet: the peek-8 LUT
            # resolves every pattern
            e = count1a_lut[b8l[pos]]
            pos += e >> 8
            idx = e & 0xFF
        else:
            ln = 0
            code = 0
            while True:
                if pos >= total_bits:
                    raise ValueError("truncated MP3 bitstream")
                code = (code << 1) | (b8l[pos] >> 7)
                pos += 1
                ln += 1
                if (ln, code) in _MP3_COUNT1A_DEC:
                    idx = _MP3_COUNT1A_DEC[(ln, code)]
                    break
                if ln > 6:
                    raise ValueError("invalid MP3 count1-A Huffman code")
        quad = [(idx >> 3) & 1, (idx >> 2) & 1, (idx >> 1) & 1, idx & 1]
        for q in range(4):
            if quad[q]:
                if pos >= total_bits:
                    raise ValueError("truncated MP3 bitstream")
                if b8l[pos] >> 7:
                    quad[q] = -quad[q]
                pos += 1
        if pos - start_bit > budget:
            raise ValueError("MP3 count1 quadruple overruns part2_3_length")
        is_vals[line:line + 4] = quad
        line += 4
        n_quads += 1
    if pos - start_bit != budget:
        raise ValueError("MP3 Huffman data does not fill part2_3_length")
    br.byte, br.bit = pos >> 3, pos & 7
    g.is_vals = is_vals
    g.count1_quads = n_quads


_MP3_POW43 = None
_MP3_REQUANT_MAPS: dict = {}


def _mp3_pow43():
    """|is|^(4/3) for the full reachable magnitude range 0..8206
    (15 + the 13-bit linbits ceiling) — each entry computed with the
    SAME Python float pow the scalar requantizer used, built once per
    process."""
    global _MP3_POW43
    if _MP3_POW43 is None:
        import numpy as np

        _MP3_POW43 = np.asarray(
            [float(v ** (4.0 / 3.0)) for v in range(8207)]
        )
    return _MP3_POW43


def _mp3_requant_maps(sr: int, long_end: int):
    """Cached coded-line -> band index maps for one (sample_rate,
    long_end) pair: long sfb per line, and for the short region the
    (short sfb, window) pair per line — exactly the per-line walks of
    the scalar requantizer, run once."""
    key = (sr, long_end)
    m = _MP3_REQUANT_MAPS.get(key)
    if m is None:
        import numpy as np

        bounds = _MP3_SFB_LONG[sr]
        long_sfb = np.empty(576, dtype=np.int64)
        sfb = 0
        for i in range(576):
            while i >= bounds[sfb + 1]:
                sfb += 1
            long_sfb[i] = sfb
        s = _MP3_SFB_SHORT[sr]
        short_sfb = np.zeros(576, dtype=np.int64)
        short_win = np.zeros(576, dtype=np.int64)
        sfb = 0
        for i in range(long_end, 576):
            while 3 * s[sfb + 1] <= i:
                sfb += 1
            width = s[sfb + 1] - s[sfb]
            short_sfb[i] = sfb
            short_win[i] = (i - 3 * s[sfb]) // width
        m = (long_sfb, short_sfb, short_win)
        _MP3_REQUANT_MAPS[key] = m
    return m


def _mp3_requantize(g: "_MP3Granule") -> list[float]:
    """§2.4.3.4.1. Long blocks (incl. start/stop): xr_i = sign(is_i)
    * |is_i|^(4/3) * 2^((global_gain-210)/4)
    * 2^(-(scalefac_scale+1)/2 * (scalefac[sfb] + preflag*pretab[sfb])).
    Short bands additionally subtract 8*subblock_gain[window]/4 from the
    gain exponent, use the per-window short scalefactors, and never take
    the pretab; mixed blocks apply the long rule to coded lines 0-35
    (long sfb 0-7) and the short rule from line 36 (short sfb 3+). The
    result stays in CODED order — :func:`_mp3_reorder_short` maps short
    regions to time-window order afterwards."""
    import numpy as np

    mult = 0.5 * (g.scalefac_scale + 1)
    sr = getattr(g, "sample_rate", 44100)
    # round 17 vectorization, bit-exact by construction: |is| <= 8206
    # (15 + the 13-bit linbits ceiling), so |is|^(4/3) is a lazily built
    # 8207-entry table computed with the SAME Python float pow; every
    # band's 2^exp scale is likewise computed scalar (exp is an exact
    # quarter-integer either way), and numpy only gathers and multiplies
    # elementwise in the scalar loop's order (sign * mag) * scale.
    va = np.asarray(g.is_vals, dtype=np.int64)
    absv = np.abs(va)
    p43 = _mp3_pow43()
    if int(absv.max(initial=0)) < len(p43):
        mag = p43[absv]
    else:  # beyond any conformant stream; same Python pow per element
        mag = np.asarray([float(v ** (4.0 / 3.0)) for v in absv.tolist()])
    sgn = np.sign(va).astype(np.float64)
    base = 0.25 * (g.global_gain - 210)
    if g.block_type == 2:
        long_end = 36 if g.mixed_block_flag else 0
        long_sfb, short_sfb, short_win = _mp3_requant_maps(sr, long_end)
        scale = np.empty(576)
        if long_end:
            # lines < 36 map to long sfb <= 7, so the sfb < 21 guard
            # never fires here; it only keeps the 22-band table build
            # in-bounds
            lsc = [
                2.0 ** (base - mult * (
                    (g.scalefac[sfb] if sfb < 21 else 0)
                    + (_MP3_PRETAB[sfb] if g.preflag else 0)
                ))
                for sfb in range(22)
            ]
            scale[:long_end] = np.asarray(lsc)[long_sfb[:long_end]]
        ssc = np.empty((13, 3))
        for sfb in range(13):
            for win in range(3):
                sf = g.scalefac_s[sfb][win] if sfb < 12 else 0
                ssc[sfb, win] = 2.0 ** (
                    0.25 * (g.global_gain - 210 - 8 * g.subblock_gain[win])
                    - mult * sf
                )
        scale[long_end:] = ssc[
            short_sfb[long_end:], short_win[long_end:]
        ]
        return ((sgn * mag) * scale).tolist()
    long_sfb, _s, _w = _mp3_requant_maps(sr, 0)
    lsc = [
        2.0 ** (base - mult * (
            (g.scalefac[sfb] if sfb < 21 else 0)
            + (_MP3_PRETAB[sfb] if g.preflag else 0)
        ))
        for sfb in range(22)
    ]
    return ((sgn * mag) * np.asarray(lsc)[long_sfb]).tolist()


def _mp3_reorder_short(
    xr: list[float], mixed: bool, sample_rate: int = 44100
) -> list[float]:
    """§2.4.3.4.7-8 short-block reordering: Huffman/requantized data is
    (scalefactor band, window, line) ordered; the filterbank wants
    (subband, window, line) order — per 18-line subband chunk, three
    windows of 6 lines. A coded short line at per-window frequency
    f = s[sfb] + k (source index 3*s[sfb] + win*width + k) lands at
    18*(f//6) + 6*win + (f%6). Mixed blocks keep coded lines 0-35 (the
    long scalefactor bands) in place and reorder from short sfb 3."""
    s = _MP3_SFB_SHORT[sample_rate]
    out = [0.0] * 576
    start_sfb = 3 if mixed else 0
    if mixed:
        out[:36] = xr[:36]
    for sfb in range(start_sfb, 13):
        width = s[sfb + 1] - s[sfb]
        base = 3 * s[sfb]
        for win in range(3):
            for k in range(width):
                f = s[sfb] + k
                out[18 * (f // 6) + 6 * win + (f % 6)] = xr[base + win * width + k]
    return out


_MP3_ALIAS_CSCA = None


def mp3_alias_reduce(xr: list[float], block_type: int = 0,
                     mixed: bool = False) -> list[float]:
    """§2.4.3.4.10.1 anti-alias butterflies across the long-block subband
    boundaries (8 per boundary, closed-form cs/ca). Pure short blocks
    take no alias reduction; mixed blocks reduce only the one boundary
    inside their long region (subbands 0|1)."""
    import math

    import numpy as np

    if block_type == 2 and not mixed:
        return list(xr)
    # round 17 vectorization: every boundary's 8 butterflies touch
    # disjoint lines, so all (boundary, i) pairs compute elementwise in
    # one pass — (a*cs - b*ca, b*cs + a*ca) exactly as the scalar loop;
    # cs/ca are the same closed-form scalars, built once per process
    global _MP3_ALIAS_CSCA
    if _MP3_ALIAS_CSCA is None:
        cs = [1.0 / math.sqrt(1.0 + c * c) for c in _MP3_ALIAS_C]
        ca = [c / math.sqrt(1.0 + c * c) for c in _MP3_ALIAS_C]
        sbs = np.arange(1, 32).reshape(-1, 1)
        i8 = np.arange(8)
        _MP3_ALIAS_CSCA = (
            np.asarray(cs), np.asarray(ca),
            18 * sbs - 1 - i8, 18 * sbs + i8,
        )
    cs_a, ca_a, idx_a, idx_b = _MP3_ALIAS_CSCA
    n_bound = 1 if (block_type == 2 and mixed) else 31
    out = np.asarray(xr, dtype=np.float64)
    ia = idx_a[:n_bound]
    ib = idx_b[:n_bound]
    a = out[ia]
    b = out[ib]
    out[ia] = a * cs_a - b * ca_a
    out[ib] = b * cs_a + a * ca_a
    return out.tolist()


def _mp3_imdct_window(block_type: int) -> list[float]:
    """The four §2.4.3.4.10.3 36-point hybrid windows, all closed-form:
    long sine (0), start (1: sine rise, flat, short-sine fall, zeros) and
    stop (3: zeros, short-sine rise, flat, sine fall). Short (2) windows
    are applied per 12-point block in :func:`_mp3_imdct_36`."""
    import math

    if block_type == 0:
        return [math.sin(math.pi / 36.0 * (n + 0.5)) for n in range(36)]
    if block_type == 1:
        return (
            [math.sin(math.pi / 36.0 * (n + 0.5)) for n in range(18)]
            + [1.0] * 6
            + [math.sin(math.pi / 12.0 * (n - 18 + 0.5)) for n in range(24, 30)]
            + [0.0] * 6
        )
    if block_type == 3:
        return (
            [0.0] * 6
            + [math.sin(math.pi / 12.0 * (n - 6 + 0.5)) for n in range(6, 12)]
            + [1.0] * 6
            + [math.sin(math.pi / 36.0 * (n + 0.5)) for n in range(18, 36)]
        )
    raise ValueError("short windows are per 12-point block")


def _mp3_imdct_mats() -> dict:
    """Cached IMDCT matrices: the 36x18 long cosine kernel, the 12x6
    short kernel, the short sine window, and the three 36-sample hybrid
    windows keyed by block type (all closed-form §2.4.3.4.10.2-3)."""
    import numpy as np

    global _MP3_IMDCT_CACHE
    try:
        return _MP3_IMDCT_CACHE
    except NameError:
        pass
    n36 = np.arange(36)[:, None]
    k18 = np.arange(18)[None, :]
    c36 = np.cos(np.pi / 72.0 * (2 * n36 + 1 + 18) * (2 * k18 + 1))
    n12 = np.arange(12)[:, None]
    k6 = np.arange(6)[None, :]
    c12 = np.cos(np.pi / 24.0 * (2 * n12 + 1 + 6) * (2 * k6 + 1))
    win12 = np.sin(np.pi / 12.0 * (np.arange(12) + 0.5))
    _MP3_IMDCT_CACHE = {
        "c36": c36,
        "c12": c12,
        "win12": win12,
        "w": {bt: np.asarray(_mp3_imdct_window(bt)) for bt in (0, 1, 3)},
    }
    return _MP3_IMDCT_CACHE


def _mp3_imdct_36(X: list[float], block_type: int) -> list[float]:
    """One subband's 18 spectral lines -> 36 windowed time samples.
    Long/start/stop: the 36-point IMDCT with the §2.4.3.4.10.3 window.
    Short: three 12-point IMDCTs (6 lines each, taken from the reordered
    layout's per-window sixths), each windowed with the short sine and
    overlap-added at offsets 6/12/18 inside an otherwise-zero 36-vector
    (§2.4.3.4.10.2)."""
    import numpy as np

    mats = _mp3_imdct_mats()
    Xa = np.asarray(X, dtype=np.float64)
    if block_type != 2:
        return (mats["w"][block_type] * (mats["c36"] @ Xa)).tolist()
    out = np.zeros(36)
    for win in range(3):
        out[6 + 6 * win: 18 + 6 * win] += mats["win12"] * (
            mats["c12"] @ Xa[6 * win: 6 * win + 6]
        )
    return out.tolist()


def mp3_imdct_granule(
    xr: list[float],
    overlap: list[float],
    block_type: int = 0,
    mixed: bool = False,
) -> tuple[list[list[float]], list[float]]:
    """§2.4.3.4.10.2-3: per subband, IMDCT of the 18 lines with the
    block-type window (mixed blocks: long windows for subbands 0-1,
    short for 2+), overlap-add with the previous granule's tail,
    frequency inversion of odd time samples in odd subbands. Returns
    (samples[18][32] subband-time matrix, new 32x18 overlap tail).
    Vectorized: one 36x18 @ 18x32 matmul for the uniform-window subbands
    plus three 12-point matmuls for short columns."""
    import numpy as np

    mats = _mp3_imdct_mats()
    X = np.asarray(xr, dtype=np.float64).reshape(32, 18).T  # 18 x 32
    x36 = np.empty((36, 32))
    if block_type != 2:
        x36[:] = mats["w"][block_type][:, None] * (mats["c36"] @ X)
    else:
        lo = 2 if mixed else 0
        if lo:
            x36[:, :lo] = mats["w"][0][:, None] * (mats["c36"] @ X[:, :lo])
        x36[:, lo:] = 0.0
        for win in range(3):
            x36[6 + 6 * win: 18 + 6 * win, lo:] += mats["win12"][:, None] * (
                mats["c12"] @ X[6 * win: 6 * win + 6, lo:]
            )
    ov = np.asarray(overlap, dtype=np.float64).reshape(32, 18).T  # 18 x 32
    head = x36[:18] + ov
    # frequency inversion: odd subbands, odd time samples
    head[1::2, 1::2] = -head[1::2, 1::2]
    return head.tolist(), x36[18:].T.reshape(-1).tolist()


# ---------------------------------------------------------------------------
# Polyphase synthesis/analysis prototype window (round 14).
#
# HONEST DATA STANCE: ISO 11172-3 Annex B Table B.3 is 512 coefficients of
# pure numeric data with no closed form or public generator; reproducing it
# from memory would risk silently-corrupt audio, which is worse than a
# documented substitute. This window is therefore DERIVED, not the spec
# literal: a linear-phase 512-tap pseudo-QMF prototype fit by damped
# Gauss-Newton least squares to the two conditions the MPEG filterbank
# structure needs -- power complementarity |H(w)|^2 + |H(pi/32 - w)|^2 = 1
# across [0, pi/32] (flat distortion function) and a deep stopband from
# 1.18*pi/32 (non-adjacent alias images; adjacent-band aliasing cancels by
# the +/-16 phase choice of the modulation matrices). The resulting
# analysis+synthesis cascade reconstructs with max error ~1e-5 at unity
# gain and the standard 481-sample delay (pinned by
# tests/test_multimodal.py); round-to-nearest int16 therefore recovers
# PCM bit-exactly, which is what the differential gate hashes. Decoding a
# THIRD-PARTY MP3 with this window instead of the Table B.3 literal
# perturbs each output sample by <~1e-5 relative -- inaudible, but not
# bit-identical to a reference decoder; swapping the literal table into
# _MP3_SYNTH_PROTO is the one-line production upgrade.
#
# The table is embedded as a literal (not generated at import) so results
# cannot drift across BLAS builds. Invariants (symmetry about tap 256,
# complementarity, stopband, cascade reconstruction) are pinned in tests.
# ---------------------------------------------------------------------------
_MP3_SYNTH_PROTO = [
    -6.33369295478564242e-08, -4.61957726091685320e-08, -6.36346080425966991e-08, -8.42996556309975643e-08,
    -1.08448252660406992e-07, -1.36397303489962782e-07, -1.68401711682976706e-07, -2.04771150566095481e-07,
    -2.45748411701894957e-07, -2.91626156439731123e-07, -3.42625313750460110e-07, -3.99011952203288924e-07,
    -4.60975871192906929e-07, -5.28747740059922155e-07, -6.02478029987974653e-07, -6.82354565588132412e-07,
    -7.68481938226364842e-07, -8.60999604071519796e-07, -9.59961903042637411e-07, -1.06545681481375667e-06,
    -1.17748667965201464e-06, -1.29608769052841049e-06, -1.42121137302399275e-06, -1.55284484704176140e-06,
    -1.69089307332970053e-06, -1.83529986360378357e-06, -1.98593084180097752e-06, -2.14269511836551305e-06,
    -2.30542884745261430e-06, -2.47401741124046387e-06, -2.64827938270560267e-06, -2.82808899257447210e-06,
    -3.01326023371623038e-06, -3.20366931043608579e-06, -3.39913854892568065e-06, -3.59955845998999178e-06,
    -3.80477105507522935e-06, -4.01469109335066026e-06, -4.22918834917517327e-06, -4.44820756820375246e-06,
    -4.67164919429370595e-06, -4.89948753134343378e-06, -5.13164942091007956e-06, -5.36813010176604488e-06,
    -5.60886933788027967e-06, -5.85386449049840320e-06, -6.10304363415720375e-06, -6.35637540992000556e-06,
    -6.61373873759157809e-06, -6.87502910654901261e-06, -7.14002459769801318e-06, -7.40848839149426936e-06,
    -7.68003095421991305e-06, -7.95420870157758766e-06, -8.23038238007106526e-06, -8.50781201747747413e-06,
    -8.78551173906661863e-06, -9.06234136034857496e-06, -9.33685811554506583e-06, -9.60740549799604092e-06,
    -9.87196263903002836e-06, -1.01282312705040956e-05, -1.03734837678552093e-05, -1.06046493891138298e-05,
    -1.08181622769232820e-05, -1.10100484082472234e-05, -1.11757751258632944e-05, -1.13103405009067029e-05,
    -1.14081262218014874e-05, -1.14629913153852680e-05, -1.14681304467470789e-05, -1.14161741495079726e-05,
    -1.12990547704911410e-05, -1.11081155110266413e-05, -1.08339863707631024e-05, -1.04667043870819716e-05,
    -9.99560197833045618e-06, -9.40944077339315760e-06, -8.69631471412387420e-06, -7.84379977942973657e-06,
    -6.83887406920608537e-06, -5.66808553638075744e-06, -4.31749103025565448e-06, -2.77284384977930216e-06,
    -1.01955336640264725e-06, 9.57106203131887969e-07, 3.17201444720054169e-06, 5.63997389950810931e-06,
    8.37570640296519770e-06, 1.13935999383486702e-05, 1.47076828385888357e-05, 1.83313488289684685e-05,
    2.22773100245169807e-05, 2.65573015452537633e-05, 3.11820151097938827e-05, 3.61607855049482223e-05,
    4.15015075346701287e-05, 4.72103075932157740e-05, 5.32914477160908808e-05, 5.97469865043137783e-05,
    6.65766750253273768e-05, 7.37776123325808352e-05, 8.13441389481681695e-05, 8.92674931839848324e-05,
    9.75357088695166276e-05, 1.06133279572902638e-04, 1.15041068080246598e-04, 1.24235986399751314e-04,
    1.33690925216093547e-04, 1.43374458200604913e-04, 1.53250800217870738e-04, 1.63279544923322889e-04,
    1.73415660853273748e-04, 1.83609271532906968e-04, 1.93805698702360555e-04, 2.03945294151461028e-04,
    2.13963539193362388e-04, 2.23790937160869195e-04, 2.33353177811420102e-04, 2.42571098841927717e-04,
    2.51360923177316499e-04, 2.59634296972635137e-04, 2.67298606691548956e-04, 2.74257099860439769e-04,
    2.80409287481743832e-04, 2.85651152288256922e-04, 2.89875640367314282e-04, 2.92972959846851916e-04,
    2.94831163648368142e-04, 2.95336539443277312e-04, 2.94374283232954638e-04, 2.91828979077778539e-04,
    2.87585360760449378e-04, 2.81528877253911568e-04, 2.73546537107871904e-04, 2.63527552939012936e-04,
    2.51364260446864610e-04, 2.36952832442727831e-04, 2.20194261616241609e-04, 2.00995131835907977e-04,
    1.79268651025028732e-04, 1.54935464742914948e-04, 1.27924722865294604e-04, 9.81749178711837885e-05,
    6.56349665389655240e-05, 3.02650530019263434e-05, -7.96229554994974907e-06, -4.90613830419748577e-05,
    -9.30322976939751834e-05, -1.39860127091826056e-04, -1.89513964590088454e-04, -2.41946190172401444e-04,
    -2.97091555382289019e-04, -3.54866555553165714e-04, -4.15168618977830356e-04, -4.77875596196003375e-04,
    -5.42845078909893726e-04, -6.09914031493745900e-04, -6.78898264311110695e-04, -7.49592231424732447e-04,
    -8.21768681446137972e-04, -8.95178643558269772e-04, -9.69551276821643978e-04, -1.04459406407728388e-03,
    -1.11999287775509343e-03, -1.19541239801931312e-03, -1.27049640960189285e-03, -1.34486845672426359e-03,
    -1.41813238135811231e-03, -1.48987322306123535e-03, -1.55965800441532619e-03, -1.62703687902466393e-03,
    -1.69154416477799302e-03, -1.75269973796775172e-03, -1.81001030957040438e-03, -1.86297105785788704e-03,
    -1.91106713720154441e-03, -1.95377553578675789e-03, -1.99056680064632098e-03, -2.02090710128519655e-03,
    -2.04426014887540636e-03, -2.06008944088981096e-03, -2.06786034678445871e-03, -2.06704250327235245e-03,
    -2.05711203352552637e-03, -2.03755405763681764e-03, -2.00786500753710869e-03, -1.96755521263729336e-03,
    -1.91615126841554614e-03, -1.85319865333872700e-03, -1.77826410556081822e-03, -1.69093822411835594e-03,
    -1.59083780551297024e-03, -1.47760837996964607e-03, -1.35092645795638713e-03, -1.21050195108078542e-03,
    -1.05608027791119865e-03, -8.87444618938727455e-04, -7.04417831468477228e-04, -5.06864489039597654e-04,
    -2.94692556688467178e-04, -6.78551673228805876e-05, 1.73647988668522565e-04, 4.29769194354371502e-04,
    7.00411644536059249e-04, 9.85428323924535414e-04, 1.28462131066107402e-03, 1.59774103627584427e-03,
    1.92448598594045198e-03, 2.26450236841206545e-03, 2.61738423772749952e-03, 2.98267359415409911e-03,
    3.35986094448110324e-03, 3.74838584710977026e-03, 4.14763791991398182e-03, 4.55695783416549659e-03,
    4.97563877029021540e-03, 5.40292785651560591e-03, 5.83802806392479546e-03, 6.28010007672232581e-03,
    6.72826460898030311e-03, 7.18160468444442330e-03, 7.63916834847699639e-03, 8.09997132657152251e-03,
    8.56300009643045680e-03, 9.02721488602678708e-03, 9.49155306271115030e-03, 9.95493242395067805e-03,
    1.04162548530337060e-02, 1.08744098487167772e-02, 1.13282783906659169e-02, 1.17767366483239756e-02,
    1.22186599938575464e-02, 1.26529268257708320e-02, 1.30784226629570653e-02, 1.34940440150594990e-02,
    1.38987024883702771e-02, 1.42913286327740821e-02, 1.46708759887807585e-02, 1.50363248401525866e-02,
    1.53866861313534543e-02, 1.57210050556932761e-02, 1.60383647739461774e-02, 1.63378897700487309e-02,
    1.66187493045683275e-02, 1.68801604736340573e-02, 1.71213913352757478e-02, 1.73417636122823043e-02,
    1.75406554350998611e-02, 1.77175036356039366e-02, 1.78718060571281291e-02, 1.80031233935750573e-02,
    1.81110810251021229e-02, 1.81953703654254700e-02, 1.82557501905477558e-02, 1.82920474663491595e-02,
    1.83041581473131973e-02, 1.82920474663491595e-02, 1.82557501905477558e-02, 1.81953703654254700e-02,
    1.81110810251021229e-02, 1.80031233935750573e-02, 1.78718060571281291e-02, 1.77175036356039366e-02,
    1.75406554350998611e-02, 1.73417636122823043e-02, 1.71213913352757478e-02, 1.68801604736340573e-02,
    1.66187493045683275e-02, 1.63378897700487309e-02, 1.60383647739461774e-02, 1.57210050556932761e-02,
    1.53866861313534543e-02, 1.50363248401525866e-02, 1.46708759887807585e-02, 1.42913286327740821e-02,
    1.38987024883702771e-02, 1.34940440150594990e-02, 1.30784226629570653e-02, 1.26529268257708320e-02,
    1.22186599938575464e-02, 1.17767366483239756e-02, 1.13282783906659169e-02, 1.08744098487167772e-02,
    1.04162548530337060e-02, 9.95493242395067805e-03, 9.49155306271115030e-03, 9.02721488602678708e-03,
    8.56300009643045680e-03, 8.09997132657152251e-03, 7.63916834847699639e-03, 7.18160468444442330e-03,
    6.72826460898030311e-03, 6.28010007672232581e-03, 5.83802806392479546e-03, 5.40292785651560591e-03,
    4.97563877029021540e-03, 4.55695783416549659e-03, 4.14763791991398182e-03, 3.74838584710977026e-03,
    3.35986094448110324e-03, 2.98267359415409911e-03, 2.61738423772749952e-03, 2.26450236841206545e-03,
    1.92448598594045198e-03, 1.59774103627584427e-03, 1.28462131066107402e-03, 9.85428323924535414e-04,
    7.00411644536059249e-04, 4.29769194354371502e-04, 1.73647988668522565e-04, -6.78551673228805876e-05,
    -2.94692556688467178e-04, -5.06864489039597654e-04, -7.04417831468477228e-04, -8.87444618938727455e-04,
    -1.05608027791119865e-03, -1.21050195108078542e-03, -1.35092645795638713e-03, -1.47760837996964607e-03,
    -1.59083780551297024e-03, -1.69093822411835594e-03, -1.77826410556081822e-03, -1.85319865333872700e-03,
    -1.91615126841554614e-03, -1.96755521263729336e-03, -2.00786500753710869e-03, -2.03755405763681764e-03,
    -2.05711203352552637e-03, -2.06704250327235245e-03, -2.06786034678445871e-03, -2.06008944088981096e-03,
    -2.04426014887540636e-03, -2.02090710128519655e-03, -1.99056680064632098e-03, -1.95377553578675789e-03,
    -1.91106713720154441e-03, -1.86297105785788704e-03, -1.81001030957040438e-03, -1.75269973796775172e-03,
    -1.69154416477799302e-03, -1.62703687902466393e-03, -1.55965800441532619e-03, -1.48987322306123535e-03,
    -1.41813238135811231e-03, -1.34486845672426359e-03, -1.27049640960189285e-03, -1.19541239801931312e-03,
    -1.11999287775509343e-03, -1.04459406407728388e-03, -9.69551276821643978e-04, -8.95178643558269772e-04,
    -8.21768681446137972e-04, -7.49592231424732447e-04, -6.78898264311110695e-04, -6.09914031493745900e-04,
    -5.42845078909893726e-04, -4.77875596196003375e-04, -4.15168618977830356e-04, -3.54866555553165714e-04,
    -2.97091555382289019e-04, -2.41946190172401444e-04, -1.89513964590088454e-04, -1.39860127091826056e-04,
    -9.30322976939751834e-05, -4.90613830419748577e-05, -7.96229554994974907e-06, 3.02650530019263434e-05,
    6.56349665389655240e-05, 9.81749178711837885e-05, 1.27924722865294604e-04, 1.54935464742914948e-04,
    1.79268651025028732e-04, 2.00995131835907977e-04, 2.20194261616241609e-04, 2.36952832442727831e-04,
    2.51364260446864610e-04, 2.63527552939012936e-04, 2.73546537107871904e-04, 2.81528877253911568e-04,
    2.87585360760449378e-04, 2.91828979077778539e-04, 2.94374283232954638e-04, 2.95336539443277312e-04,
    2.94831163648368142e-04, 2.92972959846851916e-04, 2.89875640367314282e-04, 2.85651152288256922e-04,
    2.80409287481743832e-04, 2.74257099860439769e-04, 2.67298606691548956e-04, 2.59634296972635137e-04,
    2.51360923177316499e-04, 2.42571098841927717e-04, 2.33353177811420102e-04, 2.23790937160869195e-04,
    2.13963539193362388e-04, 2.03945294151461028e-04, 1.93805698702360555e-04, 1.83609271532906968e-04,
    1.73415660853273748e-04, 1.63279544923322889e-04, 1.53250800217870738e-04, 1.43374458200604913e-04,
    1.33690925216093547e-04, 1.24235986399751314e-04, 1.15041068080246598e-04, 1.06133279572902638e-04,
    9.75357088695166276e-05, 8.92674931839848324e-05, 8.13441389481681695e-05, 7.37776123325808352e-05,
    6.65766750253273768e-05, 5.97469865043137783e-05, 5.32914477160908808e-05, 4.72103075932157740e-05,
    4.15015075346701287e-05, 3.61607855049482223e-05, 3.11820151097938827e-05, 2.65573015452537633e-05,
    2.22773100245169807e-05, 1.83313488289684685e-05, 1.47076828385888357e-05, 1.13935999383486702e-05,
    8.37570640296519770e-06, 5.63997389950810931e-06, 3.17201444720054169e-06, 9.57106203131887969e-07,
    -1.01955336640264725e-06, -2.77284384977930216e-06, -4.31749103025565448e-06, -5.66808553638075744e-06,
    -6.83887406920608537e-06, -7.84379977942973657e-06, -8.69631471412387420e-06, -9.40944077339315760e-06,
    -9.99560197833045618e-06, -1.04667043870819716e-05, -1.08339863707631024e-05, -1.11081155110266413e-05,
    -1.12990547704911410e-05, -1.14161741495079726e-05, -1.14681304467470789e-05, -1.14629913153852680e-05,
    -1.14081262218014874e-05, -1.13103405009067029e-05, -1.11757751258632944e-05, -1.10100484082472234e-05,
    -1.08181622769232820e-05, -1.06046493891138298e-05, -1.03734837678552093e-05, -1.01282312705040956e-05,
    -9.87196263903002836e-06, -9.60740549799604092e-06, -9.33685811554506583e-06, -9.06234136034857496e-06,
    -8.78551173906661863e-06, -8.50781201747747413e-06, -8.23038238007106526e-06, -7.95420870157758766e-06,
    -7.68003095421991305e-06, -7.40848839149426936e-06, -7.14002459769801318e-06, -6.87502910654901261e-06,
    -6.61373873759157809e-06, -6.35637540992000556e-06, -6.10304363415720375e-06, -5.85386449049840320e-06,
    -5.60886933788027967e-06, -5.36813010176604488e-06, -5.13164942091007956e-06, -4.89948753134343378e-06,
    -4.67164919429370595e-06, -4.44820756820375246e-06, -4.22918834917517327e-06, -4.01469109335066026e-06,
    -3.80477105507522935e-06, -3.59955845998999178e-06, -3.39913854892568065e-06, -3.20366931043608579e-06,
    -3.01326023371623038e-06, -2.82808899257447210e-06, -2.64827938270560267e-06, -2.47401741124046387e-06,
    -2.30542884745261430e-06, -2.14269511836551305e-06, -1.98593084180097752e-06, -1.83529986360378357e-06,
    -1.69089307332970053e-06, -1.55284484704176140e-06, -1.42121137302399275e-06, -1.29608769052841049e-06,
    -1.17748667965201464e-06, -1.06545681481375667e-06, -9.59961903042637411e-07, -8.60999604071519796e-07,
    -7.68481938226364842e-07, -6.82354565588132412e-07, -6.02478029987974653e-07, -5.28747740059922155e-07,
    -4.60975871192906929e-07, -3.99011952203288924e-07, -3.42625313750460110e-07, -2.91626156439731123e-07,
    -2.45748411701894957e-07, -2.04771150566095481e-07, -1.68401711682976706e-07, -1.36397303489962782e-07,
    -1.08448252660406992e-07, -8.42996556309975643e-08, -6.36346080425966991e-08, -4.61957726091685320e-08,
]


def _mp3_filterbank_mats():
    """The §2.4.3.4.10.4 / Annex C modulation matrices and the signed
    window tables, built once per process: synthesis N(i,k) =
    cos((16+i)(2k+1)pi/64) (64x32), analysis M(k,j) =
    cos((2k+1)(j-16)pi/64) (32x64), C = (-1)^floor(j/64) * proto (the
    sign pattern that folds the cosine's per-64-block alternation into
    the Y-accumulation, making the effective filters
    h(j)cos((2k+1)(j-16)pi/64)), and D = 128 * C (the spec's 32x factor
    times the unity-gain normalization of this prototype)."""
    import numpy as np

    global _MP3_FB_CACHE
    try:
        return _MP3_FB_CACHE
    except NameError:
        pass
    proto = np.asarray(_MP3_SYNTH_PROTO, dtype=np.float64)
    sign = (-1.0) ** (np.arange(512) // 64)
    C = sign * proto
    D = 128.0 * C
    N = np.cos(
        np.pi / 64.0
        * (16.0 + np.arange(64)[:, None])
        * (2 * np.arange(32)[None, :] + 1)
    )
    M = np.cos(
        np.pi / 64.0
        * (2 * np.arange(32)[:, None] + 1)
        * (np.arange(64)[None, :] - 16.0)
    )
    _MP3_FB_CACHE = (C, D, M, N)
    return _MP3_FB_CACHE


def mp3_analysis_filterbank(samples, state=None):
    """§C.1.3 (encoder) 32-band polyphase analysis: per 32 input samples,
    shift them (newest first) into the 512-sample X FIFO, window by C,
    fold Y[j] = sum_i Z[j+64i], matrix S[k] = sum_j M(k,j) Y[j]. Returns
    (list of 32-float numpy vectors, fifo state). len(samples) must be a
    multiple of 32. The incoming ``state`` is copied, never mutated —
    callers may keep and replay a FIFO snapshot."""
    import numpy as np

    C, _, M, _ = _mp3_filterbank_mats()
    x = np.asarray(samples, dtype=np.float64)
    if len(x) % 32:
        raise ValueError("analysis filterbank wants a multiple of 32 samples")
    fifo = np.zeros(512) if state is None else np.array(state, dtype=np.float64)
    T = len(x) // 32
    if T == 0:
        return [], fifo
    # round 16 vectorization: the newest-first FIFO at step t is a
    # 512-window of reversed(x) ++ old-FIFO-tail, so every window comes
    # from ONE sliding view; the window product, 8-fold and per-step
    # M @ y matvec keep the loop form's exact arithmetic (pinned by
    # test — the matvec stays per-row, a batched gemm would not be
    # bit-identical)
    xp = np.concatenate([x[::-1], fifo[:480]])
    wins = np.lib.stride_tricks.sliding_window_view(xp, 512)
    starts = len(x) - 32 * (np.arange(T) + 1)
    W = wins[starts]                              # (T, 512), newest-first
    Y = (W * C).reshape(T, 8, 64).sum(axis=1)     # (T, 64)
    out = [M @ Y[t] for t in range(T)]
    return out, np.ascontiguousarray(W[-1])


def mp3_synthesize_pcm(subband_samples, state=None):
    """§2.4.3.4.10.4 32-band polyphase synthesis, structure exactly per
    the spec's decoder flow: per 32-subband vector S, shift the 1024 V
    FIFO by 64 and matrix V[i] = sum_k N(i,k) S[k]; build the 512 U
    vector from alternating half-blocks (U[64i+j] = V[128i+j],
    U[64i+32+j] = V[128i+96+j]); window W = U * D; emit 32 samples
    s[j] = sum_i W[j+32i]. The window D is the derived near-perfect-
    reconstruction prototype documented at _MP3_SYNTH_PROTO (the Table
    B.3 literal is the one-line production swap; the reference instead
    shells out to ffmpeg for the whole decode,
    inputs/speech_to_text.py:24-26). Returns (float64 sample array,
    V-FIFO state); feed 16 zero vectors to flush the 481-sample tail.
    The incoming ``state`` is copied, never mutated — callers may keep
    and replay a FIFO snapshot."""
    import numpy as np

    _, D, _, N = _mp3_filterbank_mats()
    # copy: callers may keep and replay a V-FIFO snapshot
    V = np.zeros(1024) if state is None else np.array(state, dtype=np.float64)
    T = len(subband_samples)
    if T == 0:
        return np.empty(0), V
    # round 16 vectorization: the V FIFO at step t is the stack of the
    # 16 newest 64-vectors v_k = N @ S_k, so compute every v_k up front
    # and gather each step's 512-entry U with a precomputed (block,
    # column) index map instead of shifting 1024 floats per step.
    # Per-sample arithmetic (each N @ S matvec, the U*D window, the
    # 16-term sum) is BIT-identical to the loop form — pinned by test.
    S_all = np.asarray(subband_samples, dtype=np.float64)  # (T, 32)
    vs = np.empty((16 + T, 64))
    vs[:16] = V.reshape(16, 64)[::-1]  # oldest-first history
    # per-vector matvec (NOT one batched gemm): BLAS gemm sums in a
    # different order than gemv and costs bit-exactness vs the loop
    # form; the matvec call here is byte-identical to the original.
    # round 18: dot(..., out=row) is the SAME cblas dgemv call — `out`
    # only removes the per-step temporary + copy (the loop's cost was
    # numpy dispatch, not flops); byte-identity re-pinned by the golden
    # gate harness after the change
    dot = np.dot
    for t in range(T):
        dot(N, S_all[t], out=vs[16 + t])
    p_idx = np.arange(512)
    i_blk = p_idx // 64
    j_col = p_idx % 64
    # U[64i + j] = v_{t-2i}[j] for j < 32, v_{t-2i-1}[j] for j >= 32
    blk_off = np.where(j_col < 32, 2 * i_blk, 2 * i_blk + 1)
    rows = (np.arange(T)[:, None] + 16) - blk_off[None, :]
    U_all = vs[rows, j_col[None, :]]              # (T, 512)
    out = (U_all * D).reshape(T, 16, 32).sum(axis=1).reshape(-1)
    # final FIFO = the 16 newest 64-blocks, newest first (T >= 1 here,
    # so the slice stop T-1 >= 0 keeps exactly 16 entries)
    V_out = np.ascontiguousarray(
        vs[16 + T - 1: T - 1 if T > 1 else None: -1][:16]
    ).reshape(-1)
    return out, V_out


# Layer I bitrate table (kbps), MPEG-1 (ISO 11172-3 section 2.4.2.3)
_MP1_KBPS = (32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384,
             416, 448)


def _mp1_scalefactor(idx: int) -> float:
    """Table B.1 scalefactors ARE their closed form 2.0 * 2^(-idx/3)
    (indices 0-62; 63 is invalid) — certified by formula, no
    recollected data."""
    if not 0 <= idx <= 62:
        raise ValueError(f"Layer I scalefactor index {idx} invalid")
    return 2.0 * 2.0 ** (-idx / 3.0)


def decode_mpeg1_layer1(payload: bytes, flush: bool = True) -> dict:
    """MPEG-1 LAYER I sample decode (round 16): frame walk (sync, the
    Layer I bitrate table, 4-byte slot framing), per-subband 4-bit
    allocations (nb = alloc + 1 bits, code 15 forbidden), 6-bit Table
    B.1 scalefactor indices (the table IS 2*2^(-idx/3), closed form),
    and the section 2.4.3.2.1 requantizer — value = (2^nb/(2^nb-1)) *
    (fraction + 2^(1-nb)) over the offset-binary wire fraction read
    directly (the spec encoder's "invert the MSB" of the
    two's-complement sample PRODUCES offset binary, so no decoder-side
    XOR; r16 ADVICE high fix), the EXACT inverse of the Table C.2
    quantizer pair
    (A = (2^nb-1)/2^nb, B = -2^(-nb)), verified to reconstruct at the
    textbook 6.02*nb + 1.76 dB with zero bias — then the SAME 32-band
    polyphase synthesis the Layer III chain uses (Layers I-III share
    the bank by construction). Mono, stereo, dual and — round 17 —
    joint (intensity) stereo: subbands at/above the §2.4.2.4 bound
    4*(mode_extension+1) carry one allocation and one sample code,
    scaled per channel. Returns the decode_mp3_to_pcm contract (pcm_f
    float64 in [-1, 1) nominal units, 384 samples per frame per
    channel plus the flush tail)."""
    pos = 0
    if payload[:3] == b"ID3":
        if len(payload) < 10:
            raise ValueError("truncated ID3v2 header")
        sz = ((payload[6] & 0x7F) << 21) | ((payload[7] & 0x7F) << 14) | (
            (payload[8] & 0x7F) << 7) | (payload[9] & 0x7F)
        pos = 10 + sz
    sample_rate = None
    n_ch = None
    svecs_per_ch = None
    n_frames = 0
    while pos < len(payload):
        if pos + 4 > len(payload):
            raise ValueError("truncated Layer I frame header")
        h0, h1, h2, h3 = payload[pos: pos + 4]
        if h0 != 0xFF or (h1 & 0xE0) != 0xE0:
            raise ValueError("lost Layer I sync")
        if (h1 >> 3) & 0x3 != 3 or (h1 >> 1) & 0x3 != 0b11:
            raise ValueError("not an MPEG-1 Layer I frame")
        protection = h1 & 1
        bitrate_index = (h2 >> 4) & 0xF
        sr_index = (h2 >> 2) & 0x3
        padding = (h2 >> 1) & 1
        mode = (h3 >> 6) & 0x3
        if bitrate_index in (0, 15):
            raise ValueError("free-format/invalid Layer I bitrate")
        if sr_index == 3:
            raise ValueError("reserved Layer I sampling_frequency index")
        mode_ext = (h3 >> 4) & 0x3
        # §2.4.2.4 joint (intensity) stereo: subbands at/above
        # bound = 4*(mode_extension+1) carry ONE allocation and ONE set
        # of sample codes applied to both channels, each scaled by its
        # own scalefactor (round 17, r16 verdict task 8)
        bound = 4 * (mode_ext + 1) if mode == 0b01 else 32
        sr = _MP3_RATES[3][sr_index]
        if sample_rate is None:
            sample_rate = sr
        elif sr != sample_rate:
            raise ValueError("Layer I sampling rate changes mid-stream")
        kbps = _MP1_KBPS[bitrate_index - 1]
        flen = (12 * kbps * 1000 // sr + padding) * 4
        if pos + flen > len(payload):
            raise ValueError("truncated Layer I frame")
        ch = 1 if mode == 0b11 else 2
        if n_ch is None:
            n_ch = ch
            svecs_per_ch = [[] for _ in range(ch)]
        elif ch != n_ch:
            raise ValueError("Layer I channel mode changes mid-stream")
        body = pos + 4 + (2 if protection == 0 else 0)
        br = _BitReader(payload, body)
        alloc = []
        for sb in range(32):
            if sb < bound:
                alloc.append([br.read(4) for _ in range(n_ch)])
            else:
                a = br.read(4)
                alloc.append([a] * n_ch)
        if protection == 0:
            # §2.4.3.1: the Layer I CRC protects header bits 16-31 +
            # the (non-byte-aligned in joint mode) allocation field
            n_prot = (br.byte - body) * 8 + br.bit
            calc = _crc16_mpeg_bits(
                _bits_of(payload, (pos + 2) * 8, 16)
                + _bits_of(payload, body * 8, n_prot)
            )
            if calc != int.from_bytes(payload[pos + 4: pos + 6], "big"):
                raise ValueError("Layer I CRC-16 mismatch")
        for sb in range(32):
            for c in range(n_ch):
                if alloc[sb][c] == 15:
                    raise ValueError(
                        "forbidden Layer I allocation code 15"
                    )
        sf = [[0.0] * n_ch for _ in range(32)]
        for sb in range(32):
            for c in range(n_ch):
                if alloc[sb][c]:
                    sf[sb][c] = _mp1_scalefactor(br.read(6))
        # Vectorized sample section (round 17): the (t, sb, c) slot
        # layout is fully determined by the allocations, so compute
        # every slot's width and bit offset up front, gather all codes
        # with one fancy-indexed 16-bit peek, and requantize
        # elementwise. The wire code IS the offset-binary fraction: the
        # encoder's "invert the MSB of the two's-complement sample"
        # (§C.1.5.3.4) produces offset binary, so the decoder reads it
        # directly (wire 0 -> -1.0). An extra XOR here would decode
        # every code to the opposite half-range (the r16 defect the r16
        # ADVICE flagged; cross-checked against libmad layer12.c
        # I_sample, whose XOR + two's-complement sign-extend is
        # algebraically this same direct mapping). The per-slot float
        # math (q / 2^(nb-1) - 1, the 2^nb/(2^nb-1) gain, the sf
        # multiply) is the same IEEE ops elementwise as the scalar loop.
        import numpy as np

        slot_nb = []   # read width per coded slot, stream order
        slot_t = []
        slot_sb = []
        slot_c = []    # -1 -> intensity slot shared by both channels
        for t in range(12):
            for sb in range(32):
                if sb >= bound:
                    a = alloc[sb][0]
                    if a:
                        slot_nb.append(a + 1)
                        slot_t.append(t)
                        slot_sb.append(sb)
                        slot_c.append(-1)
                else:
                    for c in range(n_ch):
                        a = alloc[sb][c]
                        if a:
                            slot_nb.append(a + 1)
                            slot_t.append(t)
                            slot_sb.append(sb)
                            slot_c.append(c)
        nb_arr = np.asarray(slot_nb, dtype=np.int64)
        n_slots = len(slot_nb)
        frames_np = np.zeros((n_ch, 12, 32))
        if n_slots:
            start = br.byte * 8 + br.bit
            offs = start + np.cumsum(nb_arr) - nb_arr
            end_bit = int(offs[-1] + nb_arr[-1])
            if end_bit > len(payload) * 8:
                raise ValueError("truncated Layer I frame")
            lo_byte = start >> 3
            hi_byte = ((end_bit + 7) >> 3) + 3
            raw = payload[lo_byte:hi_byte].ljust(hi_byte - lo_byte, b"\x00")
            by = np.frombuffer(raw, dtype=np.uint8).astype(np.int64)
            # 24-bit windows: widths reach 15 bits at bit offsets up to
            # 7 within a byte, so a 3-byte window always covers a slot
            tri = (by[:-2] << 16) | (by[1:-1] << 8) | by[2:]
            rel = offs - (lo_byte << 3)
            q = (tri[rel >> 3] >> (24 - (rel & 7) - nb_arr)) & (
                (np.int64(1) << nb_arr) - 1
            )
            p2m1 = np.power(2.0, nb_arr - 1)
            frac = q / p2m1 - 1.0
            p2 = p2m1 * 2.0
            val = (p2 / (p2 - 1.0)) * (frac + 2.0 / p2)
            sf_np = np.asarray(sf)  # (32, n_ch)
            t_a = np.asarray(slot_t)
            sb_a = np.asarray(slot_sb)
            c_a = np.asarray(slot_c)
            own = c_a >= 0
            frames_np[
                np.where(own, c_a, 0), t_a, sb_a
            ] = sf_np[sb_a, np.where(own, c_a, 0)] * val
            if n_ch == 2:
                sh = ~own
                frames_np[1, t_a[sh], sb_a[sh]] = (
                    sf_np[sb_a[sh], 1] * val[sh]
                )
            br.byte, br.bit = end_bit >> 3, end_bit & 7
        for c in range(n_ch):
            svecs_per_ch[c].extend(frames_np[c].tolist())
        n_frames += 1
        pos += flen
    if not n_frames:
        raise ValueError("no Layer I frames")
    chans = []
    for c in range(n_ch):
        svecs = svecs_per_ch[c]
        if flush:
            svecs = svecs + [[0.0] * 32] * 16
        pcm, _ = mp3_synthesize_pcm(svecs)
        chans.append(pcm)
    return {
        "sample_rate": sample_rate,
        "n_channels": n_ch,
        "n_frames": n_frames,
        "pcm_f": chans,
    }


def encode_mpeg1_layer1(
    frames: list, bitrate_index: int = 6, sample_rate: int = 44100,
    mode: str = "mono", use_crc: bool = False,
) -> bytes:
    """Assemble a REAL MPEG-1 Layer I stream — the exact inverse of
    :func:`decode_mpeg1_layer1` and its gate fixture. Mono frame
    spec: ``alloc`` (32 ints, 0 or 1-14), ``scf_idx`` (32 Table B.1
    indices, used where alloc > 0) and ``codes`` (12 x 32 ints, each
    the OFFSET-BINARY wire code, below 2^(alloc+1)). Offset binary is
    already the transmitted form (§C.1.5.3.4's "invert the MSB" of the
    two's-complement sample yields exactly it), so codes go on the
    wire verbatim. ``mode`` "stereo" and "joint" (round 17) take
    two-channel specs (``alloc``/``scf_idx``/``codes`` each a [ch0,
    ch1] pair) plus, for joint, ``bound`` in {4, 8, 12, 16}: subbands
    at/above it must agree on allocation between channels and transmit
    ONE sample code (channel 0's) with per-channel scalefactors.
    Zero-padded to the slot-aligned frame length."""
    if sample_rate not in (44100, 48000, 32000):
        raise ValueError("MPEG-1 rates are 32/44.1/48 kHz")
    if mode not in ("mono", "stereo", "joint"):
        raise ValueError("Layer I encoder modes: mono/stereo/joint")
    sr_index = {44100: 0, 48000: 1, 32000: 2}[sample_rate]
    kbps = _MP1_KBPS[bitrate_index - 1]
    flen = 12 * kbps * 1000 // sample_rate * 4
    n_ch = 1 if mode == "mono" else 2
    out = bytearray()
    for spec in frames:
        alloc = [spec["alloc"]] if n_ch == 1 else spec["alloc"]
        scf = [spec["scf_idx"]] if n_ch == 1 else spec["scf_idx"]
        codes = [spec["codes"]] if n_ch == 1 else spec["codes"]
        if mode == "joint":
            bound = spec.get("bound", 16)
            if bound not in (4, 8, 12, 16):
                raise ValueError("Layer I joint bound is 4/8/12/16")
            mode_ext = bound // 4 - 1
            if any(alloc[0][sb] != alloc[1][sb]
                   for sb in range(bound, 32)):
                raise ValueError(
                    "joint-stereo allocations must match above the bound"
                )
        else:
            bound = 32
            mode_ext = 0
        bw = _BitWriter()
        for c in range(n_ch):
            for sb in range(32):
                if not 0 <= alloc[c][sb] <= 14:
                    raise ValueError("Layer I allocation must be 0-14")
        for sb in range(32):
            for c in range(n_ch if sb < bound else 1):
                bw.write(alloc[c][sb], 4)
        n_prot = bw.bit_length()  # CRC span: the allocation field
        for sb in range(32):
            for c in range(n_ch):
                if alloc[c][sb]:
                    idx = scf[c][sb]
                    _mp1_scalefactor(idx)  # validates 0-62
                    bw.write(idx, 6)
        # sample section, vectorized (round 17): one (granule x slot)
        # layout bulk-spliced — identical bits to the per-slot write
        # loop (granule-major, slot order = (sb, then channel up to
        # the joint bound)); offset binary IS the wire form
        import numpy as np

        C = [
            np.asarray(codes[c], dtype=np.int64).reshape(12, 32)
            for c in range(n_ch)
        ]
        cols: list = []
        wrow: list = []
        for sb in range(32):
            for c in range(n_ch if sb < bound else 1):
                a = alloc[c][sb]
                if not a:
                    continue
                col = C[c][:, sb]
                if bool(np.any((col < 0) | (col >= (1 << (a + 1))))):
                    raise ValueError(
                        "Layer I sample code exceeds nb bits"
                    )
                cols.append(col.reshape(12, 1))
                wrow.append(a + 1)
        if cols:
            vmat = np.concatenate(cols, axis=1)
            bw.write_codes(
                vmat.ravel(),
                np.tile(np.asarray(wrow, dtype=np.int64), 12),
            )
        body_bits = bw.bit_list()
        bw.align()
        body = bw.bytes()
        hdr_len = 4 + (2 if use_crc else 0)
        if hdr_len + len(body) > flen:
            raise ValueError(
                "Layer I frame data exceeds the slot budget: raise the "
                "bitrate"
            )
        b1 = 0xE0 | (3 << 3) | (0b11 << 1) | (0 if use_crc else 1)
        b2 = (bitrate_index << 4) | (sr_index << 2)
        b3 = {
            "mono": 0b11 << 6, "stereo": 0b00 << 6,
            "joint": (0b01 << 6) | (mode_ext << 4),
        }[mode]
        out += bytes([0xFF, b1, b2, b3])
        if use_crc:
            crc = _crc16_mpeg_bits(
                _bits_of(bytes([b2, b3]), 0, 16) + body_bits[:n_prot]
            )
            out += crc.to_bytes(2, "big")
        out += body
        out += bytes(flen - hdr_len - len(body))
    return bytes(out)


# --- MPEG-1 Layer II (round 17; ISO 11172-3 sections 2.4.2.7/2.4.3.3) ---

# Layer II bitrate table (kbps), MPEG-1 (ISO 11172-3 section 2.4.2.3)
_MP2_KBPS = (32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384)

# Table B.4 published decimals (C, D) in nlevels order — recollected spec
# data used ONLY to certify the closed form below, never consumed directly.
_MP2_B4_PUBLISHED = (
    (3, 1.33333333333, 0.50000000000),
    (5, 1.60000000000, 0.50000000000),
    (7, 1.14285714286, 0.25000000000),
    (9, 1.77777777778, 0.50000000000),
    (15, 1.06666666667, 0.12500000000),
    (31, 1.03225806452, 0.06250000000),
    (63, 1.01587301587, 0.03125000000),
    (127, 1.00787401575, 0.01562500000),
    (255, 1.00392156863, 0.00781250000),
    (511, 1.00195694716, 0.00390625000),
    (1023, 1.00097751711, 0.00195312500),
    (2047, 1.00048851979, 0.00097656250),
    (4095, 1.00024420024, 0.00048828125),
    (8191, 1.00012208522, 0.00024414063),
    (16383, 1.00006103888, 0.00012207031),
    (32767, 1.00003051851, 0.00006103516),
    (65535, 1.00001525902, 0.00003051758),
)


def _mp2_quant_classes() -> tuple:
    """Table B.4 quantization classes ARE their closed form — certified
    at import against the published decimals, the same stance as the
    G.722 ILB table (r15). For nlevels n the per-sample bit width is
    nb = ceil(log2(n)) for the three GROUPED classes (n in {3, 5, 9};
    three samples share one base-n group code of 5/7/10 bits = the
    tightest integer cover of n^3) and nb = log2(n + 1) for the
    ungrouped power-of-two-minus-one classes; the requantizer constants
    are C = 2^nb / n (maps the extreme codes to +/-(n-1)/n) and
    D = 1 - (n - 1) / 2^nb (centers the middle code on zero). Each
    entry: (nlevels, wire_bits, grouped, C, D) with wire_bits the
    GROUP-code width when grouped, else nb."""
    out = []
    for n, c_pub, d_pub in _MP2_B4_PUBLISHED:
        grouped = n in (3, 5, 9)
        nb = n.bit_length() if grouped else (n + 1).bit_length() - 1
        if not grouped and (1 << nb) - 1 != n:
            raise AssertionError(f"Layer II class {n} is not 2^nb - 1")
        C = (1 << nb) / n
        D = 1.0 - (n - 1) / (1 << nb)
        if abs(C - c_pub) > 5e-9 or abs(D - d_pub) > 5e-9:
            raise AssertionError(
                f"Table B.4 closed form disagrees with the published "
                f"decimals at nlevels={n}: C {C} vs {c_pub}, D {D} vs "
                f"{d_pub}"
            )
        if grouped:
            gbits = {3: 5, 5: 7, 9: 10}[n]
            if not (1 << (gbits - 1)) < n ** 3 <= (1 << gbits):
                raise AssertionError(
                    f"group width {gbits} is not the tightest cover of "
                    f"{n}^3"
                )
            out.append((n, gbits, True, C, D, nb))
        else:
            out.append((n, nb, False, C, D, nb))
    return tuple(out)


_MP2_QC = _mp2_quant_classes()

# Table B.2 allocation rows: each maps allocation code k (1-based; 0 =
# silent) to an index into _MP2_QC. Six distinct rows cover all four
# tables; every row fully populates its nbal code space (len = 2^nbal -
# 1), so unlike Layer I there are no forbidden allocation codes. Row
# fidelity against the printed spec page is the documented validation
# boundary (the import check below certifies shape + monotonicity).
_B2_ROW_A = (0, 2, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16)
_B2_ROW_B = (0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 16)
_B2_ROW_C = (0, 1, 2, 3, 4, 5, 16)
_B2_ROW_D = (0, 1, 16)
_B2_ROW_E = (0, 1, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)
_B2_ROW_F = (0, 1, 3, 4, 5, 6, 7)
# MPEG-2 LSF Layer II rows (ISO 13818-3 Table B.1; round 17): one table
# for every half-rate stream — 4 subbands of nbal 4 (no 7-step class,
# tops at 65535), 7 of nbal 3 (= the B.2c/d row), 19 of nbal 2 capped
# at 9 steps. MPEG-2.5 does not define Layer II; that header raises.
_B2_ROW_G = (0, 1, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 16)
_B2_ROW_H = (0, 1, 3)

_MP2_ALLOC_TABLES = {
    "a": tuple([_B2_ROW_A] * 3 + [_B2_ROW_B] * 8
               + [_B2_ROW_C] * 12 + [_B2_ROW_D] * 4),   # sblimit 27
    "b": tuple([_B2_ROW_A] * 3 + [_B2_ROW_B] * 8
               + [_B2_ROW_C] * 12 + [_B2_ROW_D] * 7),   # sblimit 30
    "c": tuple([_B2_ROW_E] * 2 + [_B2_ROW_F] * 6),      # sblimit 8
    "d": tuple([_B2_ROW_E] * 2 + [_B2_ROW_F] * 10),     # sblimit 12
    "lsf": tuple([_B2_ROW_G] * 4 + [_B2_ROW_F] * 7
                 + [_B2_ROW_H] * 19),                   # sblimit 30
}


def _validate_mp2_alloc_tables() -> None:
    for key, tab in _MP2_ALLOC_TABLES.items():
        for row in tab:
            nbal = len(row).bit_length()
            if len(row) + 1 != (1 << nbal):
                raise AssertionError(
                    f"B.2{key} row does not fill its nbal space"
                )
            lev = [_MP2_QC[i][0] for i in row]
            if lev[0] != 3 or any(
                a >= b for a, b in zip(lev, lev[1:])
            ):
                raise AssertionError(
                    f"B.2{key} row not strictly increasing from 3 levels"
                )


_validate_mp2_alloc_tables()


def _mp2_nbal(row: tuple) -> int:
    return len(row).bit_length()


def _mp2_table_select(kbps: int, nch: int, sr: int) -> str:
    """Table B.2a-d selection (section 2.4.2.7, the dist10 pick_table
    decision rules over bitrate-per-channel and sampling rate)."""
    br = kbps // nch
    if (sr == 48000 and br >= 56) or (56 <= br <= 80):
        return "a"
    if sr != 48000 and br >= 96:
        return "b"
    if sr != 32000 and br <= 48:
        return "c"
    return "d"


def decode_mpeg1_layer2(payload: bytes, flush: bool = True) -> dict:
    """MPEG-1 LAYER II sample decode (round 17): frame walk (sync, the
    Layer II bitrate table, single-byte slot framing at 1152 samples),
    Table B.2a-d allocation walk (nbal bits per subband, table chosen
    by the section 2.4.2.7 bitrate/rate rules), 2-bit scfsi and Table
    B.1 scalefactors per third-of-frame part, and the Table B.4 classed
    requantizer s'' = C * (s''' + D) over the offset-binary wire
    fraction — base-n degrouping first for the grouped 3/5/9-level
    classes — then the SAME 32-band polyphase synthesis Layers I and
    III use. Mono, stereo, dual, and joint (intensity) stereo with the
    (mode_extension + 1) * 4 bound. Returns the decode_mp3_to_pcm
    contract (pcm_f float64, 1152 samples per frame per channel plus
    the flush tail). Reference behavior parity: the reference's
    pipeline (reference repo ``transcribe_audio.py``) never parses
    MPEG frames itself — this decoder is the engine-native replacement
    for its external-tool decode step."""
    pos = 0
    if payload[:3] == b"ID3":
        if len(payload) < 10:
            raise ValueError("truncated ID3v2 header")
        sz = ((payload[6] & 0x7F) << 21) | ((payload[7] & 0x7F) << 14) | (
            (payload[8] & 0x7F) << 7) | (payload[9] & 0x7F)
        pos = 10 + sz
    sample_rate = None
    n_ch = None
    svecs_per_ch: list = []
    n_frames = 0
    while pos + 4 <= len(payload):
        if payload[pos] == 0 and all(
            b == 0 for b in payload[pos: pos + 4]
        ):
            break  # zero padding tail
        h0, h1, h2, h3 = payload[pos: pos + 4]
        if h0 != 0xFF or (h1 & 0xE0) != 0xE0:
            raise ValueError("lost Layer II sync")
        ver = (h1 >> 3) & 0x3
        if (h1 >> 1) & 0x3 != 0b10:
            raise ValueError("not a Layer II frame")
        if ver == 0:
            raise NotImplementedError(
                "MPEG-2.5 does not define Layer II; only Layer III "
                "uses the quarter rates"
            )
        if ver == 1:
            raise ValueError("reserved MPEG version bits")
        protection = h1 & 1
        bitrate_index = (h2 >> 4) & 0xF
        sr_index = (h2 >> 2) & 0x3
        padding = (h2 >> 1) & 1
        mode = (h3 >> 6) & 0x3
        mode_ext = (h3 >> 4) & 0x3
        if bitrate_index in (0, 15):
            raise ValueError("free-format/invalid Layer II bitrate")
        if sr_index == 3:
            raise ValueError("reserved Layer II sampling_frequency index")
        sr = _MP3_RATES[ver][sr_index]
        if sample_rate is None:
            sample_rate = sr
        elif sr != sample_rate:
            raise ValueError("Layer II sampling rate changes mid-stream")
        kbps = (_MP2_KBPS if ver == 3 else _MP3_KBPS[2])[bitrate_index - 1]
        flen = 144 * kbps * 1000 // sr + padding
        if pos + flen > len(payload):
            raise ValueError("truncated Layer II frame")
        ch = 1 if mode == 0b11 else 2
        if n_ch is None:
            n_ch = ch
            svecs_per_ch = [[] for _ in range(ch)]
        elif ch != n_ch:
            raise ValueError("Layer II channel mode changes mid-stream")
        # MPEG-2 LSF (round 17): ONE allocation table (13818-3 Table
        # B.1) for every half-rate stream; MPEG-1 selects B.2a-d by the
        # section 2.4.2.7 bitrate/rate rules
        tab = _MP2_ALLOC_TABLES[
            "lsf" if ver == 2 else _mp2_table_select(kbps, ch, sr)
        ]
        sblimit = len(tab)
        bound = sblimit
        if mode == 0b01:
            bound = min(4 * (mode_ext + 1), sblimit)
        body2 = pos + 4 + (2 if protection == 0 else 0)
        br = _BitReader(payload, body2)
        alloc = [[0] * ch for _ in range(sblimit)]
        for sb in range(sblimit):
            nbal = _mp2_nbal(tab[sb])
            if sb < bound:
                for c in range(ch):
                    alloc[sb][c] = br.read(nbal)
            else:
                a = br.read(nbal)
                for c in range(ch):
                    alloc[sb][c] = a
        scfsi = [[0] * ch for _ in range(sblimit)]
        for sb in range(sblimit):
            for c in range(ch):
                if alloc[sb][c]:
                    scfsi[sb][c] = br.read(2)
        if protection == 0:
            # §2.4.3.1: the Layer II CRC protects header bits 16-31 +
            # the allocation AND scfsi fields (data-dependent length —
            # scfsi exists only for allocated subbands)
            n_prot = (br.byte - body2) * 8 + br.bit
            calc = _crc16_mpeg_bits(
                _bits_of(payload, (pos + 2) * 8, 16)
                + _bits_of(payload, body2 * 8, n_prot)
            )
            if calc != int.from_bytes(payload[pos + 4: pos + 6], "big"):
                raise ValueError("Layer II CRC-16 mismatch")
        sf = [[(0.0, 0.0, 0.0)] * ch for _ in range(sblimit)]
        for sb in range(sblimit):
            for c in range(ch):
                if not alloc[sb][c]:
                    continue
                si = scfsi[sb][c]
                if si == 0:
                    idx = (br.read(6), br.read(6), br.read(6))
                elif si == 1:
                    a_, b_ = br.read(6), br.read(6)
                    idx = (a_, a_, b_)
                elif si == 3:
                    a_, b_ = br.read(6), br.read(6)
                    idx = (a_, b_, b_)
                else:
                    a_ = br.read(6)
                    idx = (a_, a_, a_)
                sf[sb][c] = tuple(_mp1_scalefactor(i) for i in idx)
        # Vectorized sample section (round 17, the Layer I recipe): the
        # slot sequence of ONE granule repeats 12x, so compute each
        # slot's class/width once, lay out every read's bit offset with
        # a cumsum, gather all codes through 24-bit windows, degroup and
        # requantize elementwise (s'' = C * (s''' + D) in the scalar
        # loop's exact evaluation order: (scale*C) * (sddd + D)).
        import numpy as np

        sl_sb, sl_c = [], []  # c = -1 -> intensity slot (both channels)
        sl_n, sl_C, sl_D, sl_nb = [], [], [], []
        sl_grouped = []
        read_w = []  # widths per read, one granule, stream order
        sl_rpos = []  # first read index of each slot
        for sb in range(sblimit):
            row = tab[sb]
            cs = range(ch) if sb < bound else (-1,)
            for c in cs:
                a = alloc[sb][c if c >= 0 else 0]
                if not a:
                    continue
                n, wbits, grouped, C, D, nb = _MP2_QC[row[a - 1]]
                sl_sb.append(sb)
                sl_c.append(c)
                sl_n.append(n)
                sl_C.append(C)
                sl_D.append(D)
                sl_nb.append(nb)
                sl_grouped.append(bool(grouped))
                sl_rpos.append(len(read_w))
                if grouped:
                    read_w.append(wbits)
                else:
                    read_w.extend((nb, nb, nb))
        n_slots = len(sl_sb)
        frames_np = np.zeros((ch, 36, 32))
        if n_slots:
            w1 = np.asarray(read_w, dtype=np.int64)
            wg = np.tile(w1, 12)  # 12 granules, same layout
            start = br.byte * 8 + br.bit
            offs = start + np.cumsum(wg) - wg
            end_bit = int(offs[-1] + wg[-1])
            if end_bit > len(payload) * 8:
                raise ValueError("truncated Layer II frame")
            lo_byte = start >> 3
            hi_byte = ((end_bit + 7) >> 3) + 3
            raw = payload[lo_byte:hi_byte].ljust(hi_byte - lo_byte, b"\x00")
            by = np.frombuffer(raw, dtype=np.uint8).astype(np.int64)
            tri = (by[:-2] << 16) | (by[1:-1] << 8) | by[2:]
            rel = offs - (lo_byte << 3)
            vals = (
                tri[rel >> 3] >> (24 - (rel & 7) - wg)
            ) & ((np.int64(1) << wg) - 1)
            vals = vals.reshape(12, len(read_w))
            rpos = np.asarray(sl_rpos)
            grp = np.asarray(sl_grouped)
            n_arr = np.asarray(sl_n, dtype=np.int64)
            # per-slot 3 read indices: grouped slots reference the one
            # group code three times, then degroup base-n
            idx3 = rpos[:, None] + np.where(
                grp[:, None], 0, np.arange(3)[None, :]
            )
            V = vals[:, idx3]  # (12, n_slots, 3)
            code = V[:, :, 0]
            if bool(np.any(code[:, grp] >= (n_arr[grp] ** 3)[None, :])):
                raise ValueError("Layer II group code exceeds nlevels^3")
            if bool(np.any(V[:, ~grp, :] == n_arr[~grp][None, :, None])):
                raise ValueError("forbidden all-ones Layer II sample code")
            deg = np.stack(
                (
                    code % n_arr[None, :],
                    (code // n_arr[None, :]) % n_arr[None, :],
                    code // (n_arr[None, :] ** 2),
                ),
                axis=2,
            )
            s3 = np.where(grp[None, :, None], deg, V)
            half = (np.int64(1) << (np.asarray(sl_nb) - 1)).astype(np.float64)
            sddd = s3 / half[None, :, None] - 1.0
            base = sddd + np.asarray(sl_D)[None, :, None]
            sf_np = np.asarray(sf)  # (sblimit, ch, 3)
            C_arr = np.asarray(sl_C)
            sb_a = np.asarray(sl_sb)
            c_a = np.asarray(sl_c)
            part = (np.arange(12) >> 2)  # (12,)
            t_idx = (3 * np.arange(12))[:, None, None] + np.arange(3)[
                None, None, :
            ]  # (12, 1, 3)
            own = c_a >= 0
            c_own = np.where(own, c_a, 0)
            scale0 = sf_np[sb_a[None, :], c_own[None, :], part[:, None]]
            res0 = (scale0 * C_arr[None, :])[:, :, None] * base
            frames_np[
                np.broadcast_to(c_own[None, :, None], res0.shape),
                np.broadcast_to(t_idx, res0.shape),
                np.broadcast_to(sb_a[None, :, None], res0.shape),
            ] = res0
            if ch == 2 and bool(np.any(~own)):
                sh = ~own
                scale1 = sf_np[sb_a[sh][None, :], 1, part[:, None]]
                res1 = (scale1 * C_arr[sh][None, :])[:, :, None] * base[
                    :, sh, :
                ]
                frames_np[
                    np.broadcast_to(
                        np.asarray([1])[None, :, None], res1.shape
                    ),
                    np.broadcast_to(t_idx, res1.shape),
                    np.broadcast_to(sb_a[sh][None, :, None], res1.shape),
                ] = res1
            br.byte, br.bit = end_bit >> 3, end_bit & 7
        for c in range(ch):
            svecs_per_ch[c].extend(frames_np[c].tolist())
        n_frames += 1
        pos += flen
    if not n_frames:
        raise ValueError("no Layer II frames")
    chans = []
    for c in range(n_ch):
        svecs = svecs_per_ch[c]
        if flush:
            svecs = svecs + [[0.0] * 32] * 16
        pcm, _ = mp3_synthesize_pcm(svecs)
        chans.append(pcm)
    return {
        "sample_rate": sample_rate,
        "n_channels": n_ch,
        "n_frames": n_frames,
        "pcm_f": chans,
    }


def encode_mpeg1_layer2(
    frames: list, bitrate_index: int = 11, sample_rate: int = 44100,
    mode: str = "mono", use_crc: bool = False,
) -> bytes:
    """Assemble a REAL Layer II stream — the exact inverse of
    :func:`decode_mpeg1_layer2` — at the MPEG-1 rates (Table B.2a-d
    selection) or, round 17, the MPEG-2 LSF half rates (22.05/24/16
    kHz, the single Table B.1 allocation table). Mono frame spec:
    ``alloc`` (one allocation CODE per subband up to the selected
    table's sblimit; 0 = silent), ``scfsi`` (2-bit pattern per
    allocated subband), ``scf_idx`` (per subband a 3-tuple of Table
    B.1 indices; the scfsi pattern decides how many are transmitted)
    and ``samples`` (12 granules x sblimit, each a 3-tuple of sample
    values below the class's nlevels — grouped classes are base-n
    packed here, ungrouped written as offset-binary wire codes
    directly, all-ones naturally unreachable because values stop at
    nlevels - 1). ``mode`` "stereo" and "joint" take two-channel specs
    ([ch0, ch1] pairs for each key) plus, for joint, ``bound`` in
    {4, 8, 12, 16}: subbands at/above min(bound, sblimit) must agree
    on allocation and transmit ONE sample triplet (channel 0's) with
    per-channel scalefactors. Zero-padded to the slot-aligned frame
    length."""
    if mode not in ("mono", "stereo", "joint"):
        raise ValueError("Layer II encoder modes: mono/stereo/joint")
    if sample_rate in (44100, 48000, 32000):
        ver = 3
        sr_index = {44100: 0, 48000: 1, 32000: 2}[sample_rate]
        kbps = _MP2_KBPS[bitrate_index - 1]
    elif sample_rate in (22050, 24000, 16000):
        ver = 2
        sr_index = {22050: 0, 24000: 1, 16000: 2}[sample_rate]
        kbps = _MP3_KBPS[2][bitrate_index - 1]
    else:
        raise ValueError(
            "Layer II rates are 32/44.1/48 kHz (MPEG-1) and "
            "16/22.05/24 kHz (MPEG-2 LSF)"
        )
    flen = 144 * kbps * 1000 // sample_rate
    n_ch = 1 if mode == "mono" else 2
    tab = _MP2_ALLOC_TABLES[
        "lsf" if ver == 2 else _mp2_table_select(kbps, n_ch, sample_rate)
    ]
    sblimit = len(tab)
    out = bytearray()
    for spec in frames:
        alloc = [spec["alloc"]] if n_ch == 1 else spec["alloc"]
        scf = [spec["scf_idx"]] if n_ch == 1 else spec["scf_idx"]
        samples = [spec["samples"]] if n_ch == 1 else spec["samples"]
        scfsi_in = spec.get("scfsi")
        if scfsi_in is None:
            scfsi = [[0] * sblimit for _ in range(n_ch)]
        else:
            scfsi = [scfsi_in] if n_ch == 1 else scfsi_in
        if mode == "joint":
            bound = spec.get("bound", 16)
            if bound not in (4, 8, 12, 16):
                raise ValueError("Layer II joint bound is 4/8/12/16")
            mode_ext = bound // 4 - 1
            ebound = min(bound, sblimit)
            if any(alloc[0][sb] != alloc[1][sb]
                   for sb in range(ebound, sblimit)):
                raise ValueError(
                    "joint-stereo allocations must match above the bound"
                )
        else:
            ebound = sblimit
            mode_ext = 0
        bw = _BitWriter()
        for c in range(n_ch):
            for sb in range(sblimit):
                nbal = _mp2_nbal(tab[sb])
                if not 0 <= alloc[c][sb] < (1 << nbal):
                    raise ValueError(
                        f"Layer II allocation code {alloc[c][sb]} "
                        f"exceeds nbal={nbal} at subband {sb}"
                    )
        for sb in range(sblimit):
            nbal = _mp2_nbal(tab[sb])
            for c in range(n_ch if sb < ebound else 1):
                bw.write(alloc[c][sb], nbal)
        for sb in range(sblimit):
            for c in range(n_ch):
                if alloc[c][sb]:
                    bw.write(scfsi[c][sb], 2)
        n_prot = bw.bit_length()  # CRC span: allocation + scfsi fields
        for sb in range(sblimit):
            for c in range(n_ch):
                if not alloc[c][sb]:
                    continue
                idx = scf[c][sb]
                for i in idx:
                    _mp1_scalefactor(i)  # validates 0-62
                si = scfsi[c][sb]
                if si == 0:
                    parts = (idx[0], idx[1], idx[2])
                elif si == 1:
                    parts = (idx[0], idx[2])
                elif si == 3:
                    parts = (idx[0], idx[1])
                else:
                    parts = (idx[0],)
                for i in parts:
                    bw.write(i, 6)
        # sample section, vectorized (round 17): one (granule x slot)
        # layout assembled per frame and bulk-spliced — identical bits
        # to the per-slot write loop (granule-major stream order, slot
        # order = (sb, then channel up to the joint bound))
        import numpy as np

        S = [
            np.asarray(samples[c], dtype=np.int64).reshape(
                12, sblimit, 3
            )
            for c in range(n_ch)
        ]
        val_cols: list = []   # per slot: (12, k) codes (k = 1 or 3)
        wid_row: list = []    # per slot: k widths
        viol: list = []       # (first_bad_gr, slot_pos, sb, n)
        pos = 0
        for sb in range(sblimit):
            for c in range(n_ch if sb < ebound else 1):
                a = alloc[c][sb]
                if not a:
                    continue
                n, wbits, grouped, _C, _D, nb = _MP2_QC[tab[sb][a - 1]]
                col = S[c][:, sb, :]            # (12, 3)
                bad = (col < 0) | (col >= n)
                if bad.any():
                    viol.append(
                        (int(np.argmax(bad.any(axis=1))), pos, sb, n)
                    )
                if grouped:
                    val_cols.append(
                        (col[:, 0] + n * col[:, 1] + n * n * col[:, 2])
                        .reshape(12, 1)
                    )
                    wid_row.append([wbits])
                else:
                    val_cols.append(col)
                    wid_row.append([nb] * 3)
                pos += 1
        if viol:
            _gr, _p, bad_sb, bad_n = min(viol)
            raise ValueError(
                f"Layer II sample value out of [0, {bad_n}) at "
                f"granule {_gr} subband {bad_sb}"
            )
        if val_cols:
            vmat = np.concatenate(val_cols, axis=1)       # (12, K)
            wrow = np.concatenate(wid_row)                # (K,)
            bw.write_codes(vmat.ravel(), np.tile(wrow, 12))
        body_bits = bw.bit_list()
        bw.align()
        body = bw.bytes()
        hdr_len = 4 + (2 if use_crc else 0)
        if hdr_len + len(body) > flen:
            raise ValueError(
                "Layer II frame data exceeds the slot budget: raise "
                "the bitrate"
            )
        b1 = 0xE0 | (ver << 3) | (0b10 << 1) | (0 if use_crc else 1)
        b2 = (bitrate_index << 4) | (sr_index << 2)
        b3 = {
            "mono": 0b11 << 6, "stereo": 0b00 << 6,
            "joint": (0b01 << 6) | (mode_ext << 4),
        }[mode]
        out += bytes([0xFF, b1, b2, b3])
        if use_crc:
            crc = _crc16_mpeg_bits(
                _bits_of(bytes([b2, b3]), 0, 16) + body_bits[:n_prot]
            )
            out += crc.to_bytes(2, "big")
        out += body
        out += bytes(flen - hdr_len - len(body))
    return bytes(out)


def decode_mp3_to_pcm(payload: bytes, flush: bool = True) -> dict:
    """FULL Layer III decode to PCM (MPEG-1 and, round 17, the
    MPEG-2/2.5 LSF profiles): the entropy layer
    (:func:`_decode_mp3_l3`), then per channel the §2.4.3.4.10 DSP chain
    — alias-reduction butterflies (31 boundaries long, 1 mixed, none
    short), block-type-windowed IMDCT with overlap-add and frequency
    inversion, and the 32-band polyphase synthesis. ``flush`` appends 16
    zero subband vectors so the filterbank's 481-sample tail drains into
    the output. Returns sample_rate, n_channels, n_frames and ``pcm_f``
    (list of float64 arrays, one per channel, 1152 samples per frame
    plus the flush tail)."""
    m = _decode_mp3_l3(payload)
    n_ch = m["n_channels"]
    chans = []
    for ch in range(n_ch):
        gs = m["granules"][ch::n_ch]
        overlap = [0.0] * 576
        svecs = []
        for g in gs:
            xr = mp3_alias_reduce(
                g.xr, g.block_type, bool(g.mixed_block_flag)
            )
            S, overlap = mp3_imdct_granule(
                xr, overlap, g.block_type, bool(g.mixed_block_flag)
            )
            svecs.extend(S)
        if flush:
            svecs.extend([[0.0] * 32] * 16)
        pcm, _ = mp3_synthesize_pcm(svecs)
        chans.append(pcm)
    return {
        "sample_rate": m["sample_rate"],
        "n_channels": n_ch,
        "n_frames": m["n_frames"],
        "pcm_f": chans,
    }


def _mp3_stereo_process(chans, ms: bool, intensity: bool) -> None:
    """§2.4.3.4.9 stereo processing in the CODED domain (before short-
    block reordering). Pure MS (mode_ext 0b10): the (m+s)/sqrt2,
    (m-s)/sqrt2 butterfly over all 576 lines (§2.4.3.4.9.2). Intensity
    (0b01, §2.4.3.4.9.3): every scalefactor band whose coded LOWER
    bound lies at/after the end of the right channel's Huffman data
    (2*big_values + 4*count1 lines) reuses the right channel's
    scalefactors as is_pos angles — l = v*k_l, r = v*k_r with
    ratio = tan(is_pos*pi/12), closed form, no table; is_pos 6 is the
    fully-left pole and the illegal is_pos 7 leaves the band as coded.
    Combined MS+intensity (0b11, round 16): MS applies BELOW the
    intensity bound and to illegal-is_pos bands (the standard decoder
    fallback); intensity above. Short blocks (round 16): the per-(sfb,
    window) scalefac_s entries are the is_pos map over the coded
    triplet layout [3*s[sfb] + w*width, ...); band 12 — like long band
    21 — has no scalefactor of its own and copies band 11's windows.
    Mixed blocks (round 16) apply the long-band is_pos map to coded
    lines 0-35 (long sfb 0-7) and the short map from sfb 3. Long bands
    21 / 20 convention per the standard decoders. Sets ``xr_coded``
    (the pre-stereo coded-domain spectra) on both granules."""
    import math

    l_g, r_g = chans
    l_g.xr_coded = l_g.xr
    r_g.xr_coded = r_g.xr
    left = list(l_g.xr)
    right = list(r_g.xr)
    sq2 = math.sqrt(2.0)

    def butterfly(lo: int, hi: int) -> None:
        for i in range(lo, hi):
            m, s = l_g.xr_coded[i], r_g.xr_coded[i]
            left[i] = (m + s) / sq2
            right[i] = (m - s) / sq2

    def intensity_band(lo: int, hi: int, is_pos: int) -> None:
        if is_pos == 7:  # illegal position: MS fallback in combined mode
            if ms:
                butterfly(lo, hi)
            return
        if is_pos == 6:
            kl, kr = 1.0, 0.0
        else:
            ratio = math.tan(is_pos * math.pi / 12.0)
            kl, kr = ratio / (1.0 + ratio), 1.0 / (1.0 + ratio)
        for i in range(lo, hi):
            v = l_g.xr_coded[i]
            left[i] = v * kl
            right[i] = v * kr

    if not intensity:
        butterfly(0, 576)
    else:
        bound_line = 2 * r_g.big_values + 4 * r_g.count1_quads
        if r_g.block_type == 2:
            s = _MP3_SFB_SHORT[getattr(r_g, "sample_rate", 44100)]
            if r_g.mixed_block_flag:
                # mixed (round 16): coded lines 0-35 are long sfb 0-7
                # (is_pos from the long scalefac array), the short sfb
                # 3+ triplets follow (every Table B.8 profile puts both
                # boundaries at exactly 36)
                lb = _MP3_SFB_LONG[getattr(r_g, "sample_rate", 44100)]
                for sfb in range(8):
                    lo, hi = lb[sfb], lb[sfb + 1]
                    if lo >= bound_line:
                        intensity_band(lo, hi, r_g.scalefac[sfb])
                    elif ms:
                        butterfly(lo, hi)
                start_sfb = 3
            else:
                start_sfb = 0
            for sfb in range(start_sfb, 13):
                width = s[sfb + 1] - s[sfb]
                base = 3 * s[sfb]
                if base >= bound_line:
                    for w in range(3):
                        is_pos = r_g.scalefac_s[min(sfb, 11)][w]
                        intensity_band(
                            base + w * width, base + (w + 1) * width, is_pos
                        )
                elif ms:
                    butterfly(base, 3 * s[sfb + 1])
        else:
            bounds = _MP3_SFB_LONG[getattr(r_g, "sample_rate", 44100)]
            for sfb in range(22):
                lo, hi = bounds[sfb], bounds[sfb + 1]
                if lo >= bound_line:
                    is_pos = r_g.scalefac[min(sfb, 20)]
                    intensity_band(lo, hi, is_pos)
                elif ms:
                    butterfly(lo, hi)
    l_g.xr, r_g.xr = left, right


def _decode_mp3_l3(payload: bytes) -> dict:
    """Full entropy-layer decode of a Layer III stream — MPEG-1 at all
    three rates (two granules per frame) and, round 17, the MPEG-2 /
    MPEG-2.5 LSF profiles (ISO 13818-3: one granule, 8-bit
    main_data_begin, 9-bit scalefac_compress with the four-slen nsfb
    partition and implied preflag, the six LSF Table B.8 band tables;
    LSF intensity stereo and LSF mixed blocks raise by name) —
    mono (mode 0b11), independent/dual stereo (0b00/0b10), and MID/SIDE
    joint stereo (0b01 with the MS mode_extension bit; §2.4.3.4.9.2
    butterfly l=(m+s)/sqrt2, r=(m-s)/sqrt2 applied after requantization,
    with the coded-domain spectrum kept in ``xr_coded``), and — round
    14 — intensity stereo (0b01 with the intensity mode_extension bit;
    §2.4.3.4.9.3, closed-form tan(is_pos*pi/12) angles) and — round 16
    — combined MS+intensity (mode_ext 0b11) plus intensity over SHORT
    blocks, all via :func:`_mp3_stereo_process` in the coded domain:
    frame walk, CRC-16 verification when the protection bit is set,
    side info, bit-reservoir main_data resolution, per-channel
    scalefactors with scfsi, Huffman spectra, requantized xr — plus
    per-granule alias reduction + IMDCT subband samples via the helpers
    above. Raises on any malformed structure; never guesses.
    ``granules`` is flattened granule-major, channel-minor."""
    pos = 0
    if payload[:3] == b"ID3":
        if len(payload) < 10:
            raise ValueError("truncated ID3v2 header")
        sz = ((payload[6] & 0x7F) << 21) | ((payload[7] & 0x7F) << 14) | (
            (payload[8] & 0x7F) << 7) | (payload[9] & 0x7F)
        pos = 10 + sz
    pool = bytearray()
    frames = []  # (side_info, pool_offset_of_frame_area)
    sample_rate = None
    while pos < len(payload):
        if pos + 4 > len(payload):
            raise ValueError("truncated MP3 frame header")
        h0, h1, h2, h3 = payload[pos: pos + 4]
        if h0 != 0xFF or (h1 & 0xE0) != 0xE0:
            raise ValueError("lost MP3 sync")
        ver = (h1 >> 3) & 0x3
        layer = (h1 >> 1) & 0x3
        protection = h1 & 1
        if ver == 1 or layer != 1:
            raise ValueError(
                "Layer III sample decode supports MPEG-1/2/2.5 headers"
            )
        lsf = ver != 3
        bitrate_index = (h2 >> 4) & 0xF
        sr_index = (h2 >> 2) & 0x3
        padding = (h2 >> 1) & 1
        mode = (h3 >> 6) & 0x3
        mode_ext = (h3 >> 4) & 0x3
        n_ch = 1 if mode == 0b11 else 2
        ms_stereo = mode == 0b01 and bool(mode_ext & 0x2)
        intensity = mode == 0b01 and bool(mode_ext & 0x1)
        if lsf and intensity:
            raise NotImplementedError(
                "LSF intensity stereo (ISO 13818-3 is_pos scalefactors "
                "with the sfc>>1 partition) is not implemented; LSF "
                "mono/stereo/dual/MS decode"
            )
        if sr_index == 3:
            raise ValueError("reserved MP3 sampling_frequency index")
        if sample_rate is not None and _MP3_RATES[ver][sr_index] != sample_rate:
            raise ValueError("MP3 sampling rate changes mid-stream")
        if bitrate_index in (0, 15):
            raise ValueError("free-format/invalid MP3 bitrate")
        sample_rate = _MP3_RATES[ver][sr_index]
        kbps = _MP3_KBPS[ver][bitrate_index - 1]
        flen = _mp3_frame_len(ver, kbps, sample_rate, padding)
        if pos + flen > len(payload):
            raise ValueError("truncated MP3 frame")
        body = pos + 4
        if lsf:
            side_len = 9 if n_ch == 1 else 17
        else:
            side_len = 17 if n_ch == 1 else 32
        if protection == 0:
            crc_stored = int.from_bytes(payload[body: body + 2], "big")
            body += 2
            if _crc16_mpeg(
                payload[pos + 2: pos + 4] + payload[body: body + side_len]
            ) != crc_stored:
                raise ValueError("MP3 CRC-16 mismatch")
        si = _mp3_parse_side_info(
            payload[body: body + side_len], n_ch, lsf=lsf,
        )
        body += side_len
        frames.append((si, len(pool), n_ch, ms_stereo, intensity, lsf))
        pool += payload[body: pos + flen]
        pos += flen
    if not frames:
        raise ValueError("no MP3 frames")
    granules = []
    n_channels = frames[0][2]
    for si, area_off, n_ch, ms, intensity, lsf in frames:
        start = area_off - si.main_data_begin
        if start < 0:
            raise ValueError("MP3 main_data_begin reaches before the stream")
        br = _BitReader(bytes(pool), start)
        for gi, chans in enumerate(si.granules):
            for ch, g in enumerate(chans):
                if lsf:
                    part2 = _mp3_read_scalefactors_lsf(br, g)
                else:
                    part2 = _mp3_read_scalefactors(
                        br, g, si.granules[0][ch] if gi == 1 else None,
                        si.scfsi[ch],
                    )
                g.sample_rate = sample_rate
                _mp3_read_huffman(br, g, part2)
                g.xr = _mp3_requantize(g)  # CODED order; reorder below
            if n_ch == 2 and (ms or intensity) and (
                chans[0].block_type != chans[1].block_type
                or chans[0].mixed_block_flag != chans[1].mixed_block_flag
            ):
                raise ValueError(
                    "MP3 joint stereo with mismatched block types"
                )
            if n_ch == 2 and (ms or intensity):
                # stereo processing happens in the CODED domain (round
                # 16: the intensity region and its per-window is_pos map
                # are defined over coded sfb order; short-block
                # reordering scatters a band's triplet across the
                # spectrum, so it must run AFTER this)
                _mp3_stereo_process(chans, ms, intensity)
            else:
                for g in chans:
                    g.xr_coded = g.xr
            for g in chans:
                if g.block_type == 2:
                    g.xr = _mp3_reorder_short(
                        g.xr, bool(g.mixed_block_flag), sample_rate
                    )
            granules.extend(chans)
    return {
        "sample_rate": sample_rate,
        "n_frames": len(frames),
        "n_channels": n_channels,
        "n_granules": len(granules),
        "granules": granules,
    }


_MP3_PAIR_ARRAYS: dict = {}
_MP3_COUNT1A_ARR = None


def _mp3_pair_arrays(key: int):
    """(length, codeword) lookup arrays for one Annex B pair alphabet —
    the dict flattened to 16x16 gather tables (length -1 marks absent
    pairs), built once per process per table."""
    m = _MP3_PAIR_ARRAYS.get(key)
    if m is None:
        import numpy as np

        ln_t = np.full((16, 16), -1, dtype=np.int64)
        code_t = np.zeros((16, 16), dtype=np.int64)
        for (x, y), (ln, code) in _MP3_HUFF_TABLES[key].items():
            ln_t[x, y] = ln
            code_t[x, y] = code
        m = (ln_t, code_t)
        _MP3_PAIR_ARRAYS[key] = m
    return m


def _mp3_count1a_arrays():
    """Count1 table A as gather arrays (lengths, codewords)."""
    global _MP3_COUNT1A_ARR
    if _MP3_COUNT1A_ARR is None:
        import numpy as np

        ln1 = np.empty(16, dtype=np.int64)
        code1 = np.empty(16, dtype=np.int64)
        for i in range(16):
            ln, code = _MP3_COUNT1A[i]
            ln1[i] = ln
            code1[i] = code
        _MP3_COUNT1A_ARR = (ln1, code1)
    return _MP3_COUNT1A_ARR


def _mp3_granule_bits(
    spec: dict, skip_groups: list[bool], sample_rate: int = 44100,
    lsf: bool = False,
) -> tuple["_BitWriter", dict]:
    """Encode one granule's main_data bits (scalefactors + Huffman) and
    derive the side-info fields. ``spec``: is (576 ints in CODED order,
    |v|<=1), global_gain, scalefac (21 ints), scalefac_compress,
    big_values, region0_count, region1_count, scalefac_scale, preflag;
    window-switching granules add block_type (1/2/3), mixed_block_flag,
    subblock_gain ([3]) and — for short blocks — scalefac_s (12x3)."""
    is_vals = spec["is"]
    huff_table = spec.get("huff_table")  # None -> auto table 0/1
    # largest |is| the chosen alphabet can carry: table size - 1 for the
    # plain tables, 15 + the full linbits extension for ESC tables
    if huff_table is None:
        big_cap = 1
    elif huff_table in _MP3_LINBITS:
        big_cap = 15 + (1 << _MP3_LINBITS[huff_table]) - 1
    elif huff_table in _MP3_HUFF_TABLES:
        big_cap = max(x for x, _ in _MP3_HUFF_TABLES[huff_table])
    else:
        raise ValueError(
            "encoder accepts huff_table 1-3, 5-13, 15 and the linbits "
            "families 16-23/25-31 (table 0 is auto-selected for "
            f"all-zero regions, never passed), not {huff_table}"
        )
    if len(is_vals) != 576:
        raise ValueError("encoder profile: 576 spectral lines")
    if max(map(abs, is_vals)) > big_cap:
        raise ValueError(
            f"encoder profile: |is| <= {big_cap} for this table choice"
        )
    scfc = spec.get("scalefac_compress", 9)
    sf = spec["scalefac"]
    block_type = spec.get("block_type", 0)
    mixed = bool(spec.get("mixed_block_flag", 0))
    if block_type and any(skip_groups):
        raise ValueError("scfsi is not allowed with window switching")
    bw = _BitWriter()
    part2 = 0
    if lsf:
        # LSF scalefactor layout (ISO 13818-3 section 2.4.3.2): the
        # four-slen nsfb partition, preflag implied by sfc >= 500
        if any(skip_groups):
            raise ValueError("LSF side info has no scfsi")
        if mixed:
            raise ValueError("LSF mixed-block encoding is not supported")
        slen, row, pre = _mp3_lsf_slen(scfc)
        if spec.get("preflag", pre) != pre:
            raise ValueError(
                "LSF preflag is implied by scalefac_compress >= 500"
            )
        if block_type == 2:
            sfs = spec["scalefac_s"]
            flat = [sfs[j // 3][j % 3] for j in range(36)]
            nsfb = _MP3_LSF_NSFB[row][1]
        else:
            flat = list(sf[:21])
            nsfb = _MP3_LSF_NSFB[row][0]
        j = 0
        for part in range(4):
            ln = slen[part]
            for _ in range(nsfb[part]):
                v = flat[j]
                j += 1
                if ln:
                    if v >= (1 << ln):
                        raise ValueError("LSF scalefactor exceeds slen")
                    bw.write(v, ln)
                    part2 += ln
                elif v:
                    raise ValueError(
                        "LSF scalefactor in a zero-slen group must be 0"
                    )
    elif block_type == 2:
        slen1, slen2 = _MP3_SLEN[scfc]
        sfs = spec["scalefac_s"]
        if mixed:
            for b in range(8):
                if slen1:
                    if sf[b] >= (1 << slen1):
                        raise ValueError("scalefactor exceeds slen")
                    bw.write(sf[b], slen1)
                    part2 += slen1
        for sfb in range(3 if mixed else 0, 12):
            ln = slen1 if sfb < 6 else slen2
            for w in range(3):
                if ln:
                    if sfs[sfb][w] >= (1 << ln):
                        raise ValueError("short scalefactor exceeds slen")
                    bw.write(sfs[sfb][w], ln)
                    part2 += ln
    else:
        slen1, slen2 = _MP3_SLEN[scfc]
        groups = [(0, 6), (6, 11), (11, 16), (16, 21)]
        for gi, (lo, hi) in enumerate(groups):
            if skip_groups[gi]:
                continue
            for b in range(lo, hi):
                ln = slen1 if b < 11 else slen2
                if ln:
                    if sf[b] >= (1 << ln):
                        raise ValueError("scalefactor exceeds slen")
                    bw.write(sf[b], ln)
                    part2 += ln
    big_values = spec["big_values"]
    bounds = _MP3_SFB_LONG[sample_rate]
    if block_type:
        # window switching: implied regions (36 at MPEG-1 rates; the
        # table-derived coded-line split at LSF rates, mirroring
        # _mp3_read_huffman)
        r0c = 8 if (block_type == 2 and not mixed) else 7
        r1c = 20 - r0c
        if block_type == 2 and not mixed:
            r0_end = 3 * _MP3_SFB_SHORT[sample_rate][3]
        else:
            r0_end = bounds[8]
        r1_end = 576
    else:
        r0c = spec.get("region0_count", 3)
        r1c = spec.get("region1_count", 3)
        r0_end = bounds[r0c + 1]
        r1_end = bounds[r0c + 1 + r1c + 1]
    # pick region tables FIRST: a region whose pairs are all (0,0) uses
    # table 0, which codes NO bits — writing table-1 codes there would
    # desynchronize the decoder's region-table dispatch
    import numpy as np

    tsel_used = huff_table or 1
    tsel_key = _MP3_TABLE_ALIAS.get(tsel_used, tsel_used)
    linbits = _MP3_LINBITS.get(tsel_used, 0)
    # round 17: the whole big-values + count1 emission assembles as one
    # (value, width) matrix — row-major flatten reproduces the per-pair
    # write order exactly (§2.4.2.7: code, linbits_x, sign_x, linbits_y,
    # sign_y), absent slots carry width 0 and emit nothing
    va = np.asarray(is_vals, dtype=np.int64)
    regions = [0, 0, 0]
    n_vals: list = []
    n_wids: list = []
    if big_values:
        px = va[0: 2 * big_values: 2]
        py = va[1: 2 * big_values: 2]
        lines = np.arange(big_values, dtype=np.int64) * 2
        ridx = np.where(lines < r0_end, 0, np.where(lines < r1_end, 1, 2))
        nz = (px != 0) | (py != 0)
        for r in range(3):
            if bool(np.any(nz & (ridx == r))):
                regions[r] = 1
        coded = np.asarray(regions, dtype=bool)[ridx]
        ax = np.abs(px)
        ay = np.abs(py)
        if linbits:
            cx = np.minimum(ax, 15)
            cy = np.minimum(ay, 15)
        else:
            cx, cy = ax, ay
        over = np.maximum(ax - cx, ay - cy) >= (
            (1 << linbits) if linbits else 1
        )
        ln_t, code_t = _mp3_pair_arrays(tsel_key)
        ln_p = ln_t[cx, cy]
        bad = coded & (over | (ln_p < 0))
        if bool(np.any(bad)):
            k = int(np.argmax(bad))
            if over[k]:
                raise ValueError(
                    f"|is| = {max(int(ax[k]), int(ay[k]))} exceeds table "
                    f"{tsel_used}'s 15 + linbits({linbits}) range"
                )
            raise ValueError(
                f"|is| pair ({int(ax[k])}, {int(ay[k])}) exceeds table "
                f"{tsel_used}'s alphabet"
            )
        one = np.ones(big_values, dtype=np.int64)
        zero = np.zeros(big_values, dtype=np.int64)
        V = np.stack(
            [code_t[cx, cy], ax - 15, (px < 0).astype(np.int64),
             ay - 15, (py < 0).astype(np.int64)], axis=1,
        )
        W = np.stack(
            [ln_p,
             np.where(cx == 15, linbits, 0) if linbits else zero,
             np.where(px != 0, one, zero),
             np.where(cy == 15, linbits, 0) if linbits else zero,
             np.where(py != 0, one, zero)], axis=1,
        ) * coded[:, None]
        n_vals.append(V.ravel())
        n_wids.append(W.ravel())
    line = 2 * big_values
    nz_idx = np.flatnonzero(va)
    last_nz = int(nz_idx[-1]) if len(nz_idx) else -1
    if last_nz >= line:
        n_quads = (last_nz - line) // 4 + 1
    else:
        n_quads = 0
    if line + 4 * n_quads > 576:
        raise ValueError("count1 region overruns 576 lines")
    count1_a = spec.get("count1table", "B") == "A"
    if n_quads:
        quads = va[line: line + 4 * n_quads].reshape(-1, 4)
        aq = np.abs(quads)
        if bool(np.any(aq > 1)):
            raise ValueError("count1 region carries |is| > 1")
        idx = (aq[:, 0] << 3) | (aq[:, 1] << 2) | (aq[:, 2] << 1) | aq[:, 3]
        if count1_a:
            ln1, code1 = _mp3_count1a_arrays()
            qv = code1[idx]
            qw = ln1[idx]
        else:
            qv = 15 - idx  # count1 table B
            qw = np.full(n_quads, 4, dtype=np.int64)
        n_vals.append(
            np.concatenate(
                [qv[:, None], (quads < 0).astype(np.int64)], axis=1
            ).ravel()
        )
        n_wids.append(
            np.concatenate(
                [qw[:, None], (quads != 0).astype(np.int64)], axis=1
            ).ravel()
        )
    if n_vals:
        bw.write_codes(np.concatenate(n_vals), np.concatenate(n_wids))
    # any table-1 region containing only (0,0) pairs still consumed bits;
    # regions with zero coded pairs keep table 0
    fields = {
        "part2_3_length": bw.bit_length(),
        "big_values": big_values,
        "global_gain": spec["global_gain"],
        "scalefac_compress": scfc,
        "window_switching": 1 if block_type else 0,
        "block_type": block_type,
        "mixed_block_flag": 1 if mixed else 0,
        "subblock_gain": list(spec.get("subblock_gain", (0, 0, 0))),
        "table_select": [tsel_used if r else 0 for r in regions],
        "region0_count": r0c,
        "region1_count": r1c,
        "preflag": (_mp3_lsf_slen(scfc)[2] if lsf
                    else spec.get("preflag", 0)),
        "scalefac_scale": spec.get("scalefac_scale", 1),
        "count1table_select": 0 if count1_a else 1,
    }
    return bw, fields


def encode_mp3_l3(
    granules: list[dict],
    bitrate_index: int = 9,
    use_crc: bool = False,
    use_reservoir: bool = False,
    scfsi: list[int] | None = None,
    mode: str = "mono",
    sample_rate: int = 44100,
) -> bytes:
    """Assemble a REAL decodable MPEG-1 Layer III stream at any of the
    three MPEG-1 rates (32/44.1/48 kHz via ``sample_rate``)
    (two granules per frame): true side info, bit-exact part2_3_length
    accounting, table-1/count1-B Huffman data, optional CRC-16, and
    optional bit-reservoir packing (main_data_begin pointing into prior
    frames' areas). ``mode``: "mono" (one spec per granule), "stereo"
    (independent L/R — two specs per granule, granule-major channel-
    minor), "ms_stereo" (joint stereo with the MS mode_extension bit:
    channel 0 is the MID spectrum, channel 1 the SIDE; the decoder
    reconstructs L/R) or "intensity_stereo" (joint stereo with the
    intensity mode_extension bit: channel 1's data must end on a
    scalefactor-band boundary, and its scalefactors at/after that
    boundary are is_pos angles the decoder expands via tan(is_pos *
    pi/12)) or "ms_intensity_stereo" (round 16 — mode_ext 0b11:
    channel 0 is MID below the intensity bound and the intensity
    carrier above it, per §2.4.3.4.9). The entropy layer is fully
    spec-real; the encoder
    carries the complete Annex B alphabet — tables 1-3, 5-13, 15 and
    the 16/24 linbits families (0 auto-selected for all-zero regions)
    plus both count1 tables (per-granule spec keys
    ``huff_table``/``count1table``) — so any |is| magnitude up to
    15 + 2^linbits - 1 of the chosen table encodes, ESC extensions
    included."""
    n_ch = 1 if mode == "mono" else 2
    per_frame = 2 * n_ch
    if len(granules) % per_frame:
        raise ValueError(f"{mode} granule specs come {per_frame} per frame")
    if sample_rate not in _MP3_SFB_LONG:
        raise ValueError(
            f"MPEG-1 Layer III sampling rates are 32/44.1/48 kHz, "
            f"got {sample_rate}"
        )
    scfsi = scfsi or [0, 0, 0, 0]
    sr = sample_rate
    kbps = _MP3_KBPS[3][bitrate_index - 1]
    flen = _mp3_frame_len(3, kbps, sr, 0)
    side_len = 17 if n_ch == 1 else 32
    cap = flen - 4 - (2 if use_crc else 0) - side_len
    n_frames = len(granules) // per_frame
    mds: list[bytes] = []
    sides: list[list[list[dict]]] = []  # [frame][granule][channel]
    for f in range(n_frames):
        bw = _BitWriter()
        fields_frame = []
        for gi in range(2):
            fields_chans = []
            for ch in range(n_ch):
                spec = granules[per_frame * f + n_ch * gi + ch]
                skip = [bool(b) for b in scfsi] if gi == 1 else [False] * 4
                if gi == 1:
                    gr0 = granules[per_frame * f + ch]
                    for grp, (lo, hi) in enumerate(
                        [(0, 6), (6, 11), (11, 16), (16, 21)]
                    ):
                        if skip[grp] and spec["scalefac"][lo:hi] != gr0["scalefac"][lo:hi]:
                            raise ValueError("scfsi set but scalefactors differ")
                gbits, fields = _mp3_granule_bits(spec, skip, sample_rate)
                bw.extend(gbits)
                fields_chans.append(fields)
            fields_frame.append(fields_chans)
        bw.align()
        mds.append(bw.bytes())
        sides.append(fields_frame)
    # reservoir packing: frame f's main data starts at S_f in the pooled
    # area stream; its area starts at A_f; main_data_begin = A_f - S_f
    area_offsets = [f * cap for f in range(n_frames)]
    if use_reservoir:
        # main_data_begin is a 9-bit field: when the natural tight packing
        # would look back further than 511 bytes, insert stuffing (skip
        # pool bytes) exactly as real encoders bound their reservoir
        starts = []
        s = 0
        for f in range(n_frames):
            start_f = max(s, area_offsets[f] - 511)
            starts.append(start_f)
            s = start_f + len(mds[f])
    else:
        starts = area_offsets
    pool = bytearray(n_frames * cap)
    for f in range(n_frames):
        begin = area_offsets[f] - starts[f]
        if begin < 0:
            raise ValueError("main data would start in a future frame: lower the bitrate")
        if begin > 511:
            raise ValueError("main_data_begin exceeds 9 bits: raise the bitrate")
        if starts[f] + len(mds[f]) > area_offsets[f] + cap:
            raise ValueError("frame main data exceeds its area: raise the bitrate")
        pool[starts[f]: starts[f] + len(mds[f])] = mds[f]
    out = bytearray()
    mode_bits = {
        "mono": 0b11, "stereo": 0b00,
        "ms_stereo": 0b01, "intensity_stereo": 0b01,
        "ms_intensity_stereo": 0b01,
    }[mode]
    # mode_extension: MS bit / intensity bit / both (combined, round 16)
    mode_ext = {
        "ms_stereo": 0b10, "intensity_stereo": 0b01,
        "ms_intensity_stereo": 0b11,
    }.get(mode, 0b00)
    sr_index = {44100: 0, 48000: 1, 32000: 2}[sample_rate]
    for f in range(n_frames):
        b1 = 0xE0 | (3 << 3) | (0b01 << 1) | (0 if use_crc else 1)
        b2 = (bitrate_index << 4) | (sr_index << 2) | (0 << 1)
        b3 = (mode_bits << 6) | (mode_ext << 4)
        out += bytes([0xFF, b1, b2, b3])
        sw = _BitWriter()
        sw.write(area_offsets[f] - starts[f], 9)
        sw.write(0, 5 if n_ch == 1 else 3)
        for _ in range(n_ch):
            for b in scfsi:
                sw.write(b, 1)
        for fields_chans in sides[f]:
            for fields in fields_chans:
                sw.write(fields["part2_3_length"], 12)
                sw.write(fields["big_values"], 9)
                sw.write(fields["global_gain"], 8)
                sw.write(fields["scalefac_compress"], 4)
                sw.write(fields["window_switching"], 1)
                if fields["window_switching"]:
                    sw.write(fields["block_type"], 2)
                    sw.write(fields["mixed_block_flag"], 1)
                    for t in fields["table_select"][:2]:
                        sw.write(t, 5)
                    for gain in fields["subblock_gain"]:
                        sw.write(gain, 3)
                else:
                    for t in fields["table_select"]:
                        sw.write(t, 5)
                    sw.write(fields["region0_count"], 4)
                    sw.write(fields["region1_count"], 3)
                sw.write(fields["preflag"], 1)
                sw.write(fields["scalefac_scale"], 1)
                sw.write(fields["count1table_select"], 1)
        sw.align()
        side = sw.bytes()
        assert len(side) == side_len
        if use_crc:
            out += _crc16_mpeg(out[-2:] + side).to_bytes(2, "big")
        out += side
        out += pool[area_offsets[f]: area_offsets[f] + cap]
    return bytes(out)


def encode_mp3_lsf(
    granules: list[dict],
    bitrate_index: int = 8,
    mode: str = "mono",
    sample_rate: int = 22050,
) -> bytes:
    """Assemble a REAL decodable MPEG-2 / MPEG-2.5 LSF Layer III stream
    (ISO 13818-3; round 17): ONE granule per frame, 72·kbps/rate slot
    framing, the 9-byte-mono/17-byte-stereo side info (8-bit
    main_data_begin, no scfsi, 9-bit scalefac_compress, no preflag
    bit), and the four-slen nsfb scalefactor partition — over the SAME
    Huffman/region machinery the MPEG-1 encoder uses. ``mode``: "mono",
    "stereo" or "ms_stereo" (LSF intensity is a named decoder seam).
    No reservoir (main_data_begin = 0) and no CRC — the gate profile.
    Granule specs as in :func:`_mp3_granule_bits` with LSF semantics:
    scalefac_compress 0-511, preflag implied."""
    n_ch = 1 if mode == "mono" else 2
    if len(granules) % n_ch:
        raise ValueError(f"{mode} granule specs come {n_ch} per frame")
    if sample_rate not in _MP3_LSF_RATES:
        raise ValueError(
            f"LSF sampling rates are 22.05/24/16 and 11.025/12/8 kHz, "
            f"got {sample_rate}"
        )
    ver_bits = 2 if sample_rate in (22050, 24000, 16000) else 0
    sr_index = {
        22050: 0, 24000: 1, 16000: 2, 11025: 0, 12000: 1, 8000: 2,
    }[sample_rate]
    kbps = _MP3_KBPS[ver_bits][bitrate_index - 1]
    flen = _mp3_frame_len(ver_bits, kbps, sample_rate, 0)
    side_len = 9 if n_ch == 1 else 17
    cap = flen - 4 - side_len
    mode_bits = {"mono": 0b11, "stereo": 0b00, "ms_stereo": 0b01}[mode]
    mode_ext = 0b10 if mode == "ms_stereo" else 0b00
    out = bytearray()
    n_frames = len(granules) // n_ch
    for f in range(n_frames):
        bw = _BitWriter()
        fields_chans = []
        for ch in range(n_ch):
            spec = granules[n_ch * f + ch]
            gbits, fields = _mp3_granule_bits(
                spec, [False] * 4, sample_rate, lsf=True,
            )
            bw.extend(gbits)
            fields_chans.append(fields)
        bw.align()
        md = bw.bytes()
        if len(md) > cap:
            raise ValueError(
                "LSF frame main data exceeds its area: raise the bitrate"
            )
        b1 = 0xE0 | (ver_bits << 3) | (0b01 << 1) | 1   # Layer III, no CRC
        b2 = (bitrate_index << 4) | (sr_index << 2)
        b3 = (mode_bits << 6) | (mode_ext << 4)
        out += bytes([0xFF, b1, b2, b3])
        sw = _BitWriter()
        sw.write(0, 8)                    # main_data_begin: no reservoir
        sw.write(0, 1 if n_ch == 1 else 2)
        for fields in fields_chans:
            sw.write(fields["part2_3_length"], 12)
            sw.write(fields["big_values"], 9)
            sw.write(fields["global_gain"], 8)
            sw.write(fields["scalefac_compress"], 9)
            sw.write(fields["window_switching"], 1)
            if fields["window_switching"]:
                sw.write(fields["block_type"], 2)
                sw.write(fields["mixed_block_flag"], 1)
                for t in fields["table_select"][:2]:
                    sw.write(t, 5)
                for gain in fields["subblock_gain"]:
                    sw.write(gain, 3)
            else:
                for t in fields["table_select"]:
                    sw.write(t, 5)
                sw.write(fields["region0_count"], 4)
                sw.write(fields["region1_count"], 3)
            sw.write(fields["scalefac_scale"], 1)
            sw.write(fields["count1table_select"], 1)
        sw.align()
        side = sw.bytes()
        assert len(side) == side_len
        out += side
        out += md + bytes(cap - len(md))
    return bytes(out)


_MP3Q_BOUNDS_SQL = "[0, 4, 8, 12, 16, 20, 24, 30, 36, 44, 52, 62, 74, 90]"


@register(
    "mp3_decode_features",
    oracle=f"""
    SELECT d.doc_id,
           CAST(2 + 2 * (d.doc_id % 2) AS BIGINT) AS n_granules,
           CAST(SUM(CASE WHEN (7 * s.i + d.doc_id + g.gi) % 13 = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS nonzero_lines,
           CAST(SUM(CASE WHEN (7 * s.i + d.doc_id + g.gi) % 13 = 0
                          AND (s.i + d.doc_id) % 2 = 1
                         THEN 1 ELSE 0 END) AS BIGINT) AS neg_lines,
           CAST(SUM(CASE WHEN s.i = 0
                         THEN 210 + 4 * ((d.doc_id + g.gi) % 8)
                         ELSE 0 END) AS BIGINT) AS gg_sum,
           CAST(ROUND(1000000 * SUM(
             CASE WHEN (7 * s.i + d.doc_id + g.gi) % 13 = 0
                  THEN POWER(4.0,
                       (d.doc_id + g.gi) % 8
                       - (d.doc_id + g.gi
                          + len(list_filter({_MP3Q_BOUNDS_SQL},
                                            b -> b <= s.i)) - 1) % 4)
                  ELSE 0 END)) AS BIGINT) AS energy_micros
    FROM documents d,
         LATERAL (SELECT unnest(range(0, 2 + 2 * (d.doc_id % 2))) AS gi) g,
         LATERAL (SELECT unnest(range(0, 96)) AS i) s
    GROUP BY d.doc_id
    ORDER BY d.doc_id
    """,
)
def mp3_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MP3 Layer III SAMPLE-LAYER decode under the differential gate
    (round 13; the probe-only ``mp3_probe_features`` was round 12). Per
    document a deterministic granule set — nonzero pattern, signs,
    global_gain, and scalefactors all closed-form over (doc_id, granule,
    line) — is encoded by :func:`encode_mp3_l3` into a REAL mono MPEG-1
    Layer III stream (1-2 frames; every even doc carries a verified
    CRC-16, every third doc packs its main_data through the BIT
    RESERVOIR so main_data_begin resolution is under the hash) and
    decoded back by :func:`_decode_mp3_l3`: side info, scalefactor and
    Huffman (table 1 + count1 table B) parsing, and the §2.4.3.4.1
    requantization to xr. The oracle recomputes every feature in closed
    form — including the spectral energy, whose xr values are exact
    powers of two (|is| = 1, scalefac_scale = 1, gain offsets multiples
    of 4), so the float comparison is bit-exact. Map-only mapInPandas.

    Scale shape: one pass over doc ids, no shuffle but the final sort;
    per-row cost is bounded by the fixed 576-line granule geometry."""
    # CPU-dense per-row kernel over a tiny id list: fan the ids across
    # every core explicitly — the one-file parquet scan otherwise yields
    # a single partition and the whole decode runs on one thread
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        bounds = _MP3_SFB_LONG_44100

        def granule_spec(d: int, gi: int) -> dict:
            is_vals = [0] * 576
            for i in range(96):
                if (7 * i + d + gi) % 13 == 0:
                    is_vals[i] = -1 if (i + d) % 2 else 1
            return {
                "is": is_vals,
                "global_gain": 210 + 4 * ((d + gi) % 8),
                "scalefac": [(d + s + gi) % 4 for s in range(21)],
                "big_values": 36,
                "scalefac_scale": 1,
            }

        for pdf in batches:
            out = {
                "doc_id": [], "n_granules": [], "nonzero_lines": [],
                "neg_lines": [], "gg_sum": [], "energy_micros": [],
            }
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                n_gran = 2 + 2 * (d % 2)
                blob = encode_mp3_l3(
                    [granule_spec(d, gi) for gi in range(n_gran)],
                    use_crc=(d % 2 == 0),
                    use_reservoir=(d % 3 == 0),
                )
                m = _decode_mp3_l3(blob)  # REAL entropy-layer decode
                nz = neg = gg = 0
                energy = 0.0
                for g in m["granules"]:
                    nz += sum(1 for v in g.is_vals if v)
                    neg += sum(1 for v in g.is_vals if v < 0)
                    gg += g.global_gain
                    energy += sum(x * x for x in g.xr)
                out["doc_id"].append(d)
                out["n_granules"].append(m["n_granules"])
                out["nonzero_lines"].append(nz)
                out["neg_lines"].append(neg)
                out["gg_sum"].append(gg)
                out["energy_micros"].append(int(round(1_000_000 * energy)))
            yield pd.DataFrame(out)

    schema = (
        "doc_id long, n_granules long, nonzero_lines long, neg_lines long, "
        "gg_sum long, energy_micros long"
    )
    return docs.mapInPandas(run, schema)


@register(
    "mp3_stereo_decode_features",
    oracle=f"""
    SELECT d.doc_id,
           CAST(4 AS BIGINT) AS n_granule_channels,
           (d.doc_id % 2 = 1) AS ms_mode,
           CAST(SUM(CASE WHEN (7 * s.i + d.doc_id + g.gi) % 13 = 0
                         THEN 1 ELSE 0 END
                  + CASE WHEN (5 * s.i + d.doc_id + g.gi) % 11 = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS nonzero_lines,
           CAST(ROUND(1000000 * SUM(
             CASE WHEN (7 * s.i + d.doc_id + g.gi) % 13 = 0
                  THEN POWER(4.0,
                       (d.doc_id + g.gi) % 8
                       - (d.doc_id + g.gi
                          + len(list_filter({_MP3Q_BOUNDS_SQL},
                                            b -> b <= s.i)) - 1) % 4)
                  ELSE 0 END)) AS BIGINT) AS ch0_energy_micros,
           CAST(ROUND(1000000 * SUM(
             CASE WHEN (5 * s.i + d.doc_id + g.gi) % 11 = 0
                  THEN POWER(4.0,
                       (d.doc_id + 2 * g.gi + 1) % 8
                       - (d.doc_id + g.gi
                          + 2 * (len(list_filter({_MP3Q_BOUNDS_SQL},
                                                 b -> b <= s.i)) - 1)) % 4)
                  ELSE 0 END)) AS BIGINT) AS ch1_energy_micros
    FROM documents d,
         LATERAL (SELECT unnest(range(0, 2)) AS gi) g,
         LATERAL (SELECT unnest(range(0, 96)) AS i) s
    GROUP BY d.doc_id
    ORDER BY d.doc_id
    """,
)
def mp3_stereo_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STEREO MP3 Layer III decode under the differential gate (round 13
    second tranche; companion to the mono ``mp3_decode_features``): per
    document one frame of TWO-CHANNEL granules — even docs as independent
    L/R (mode 0b00), odd docs as MID/SIDE joint stereo (mode 0b01 with
    the MS mode_extension bit, so the 32-byte stereo side info,
    per-channel scfsi layout, channel-interleaved granule data, and the
    MS butterfly all execute) — encoded by :func:`encode_mp3_l3` and
    decoded back by :func:`_decode_mp3_l3`. Features come from the
    decoder's COD-domain spectra (``xr_coded``: exact powers of two, so
    the oracle recomputes them bit-exactly in closed form); the
    irrational 1/sqrt(2) MS reconstruction itself is pinned by pytest
    where float-exactness rules don't bind the hash. Map-only
    mapInPandas."""
    # CPU-dense per-row kernel over a tiny id list: fan the ids across
    # every core explicitly — the one-file parquet scan otherwise yields
    # a single partition and the whole decode runs on one thread
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        def chan_spec(d: int, gi: int, ch: int) -> dict:
            is_vals = [0] * 576
            for i in range(96):
                if ch == 0:
                    if (7 * i + d + gi) % 13 == 0:
                        is_vals[i] = -1 if (i + d) % 2 else 1
                else:
                    if (5 * i + d + gi) % 11 == 0:
                        is_vals[i] = -1 if (i + gi) % 2 else 1
            return {
                "is": is_vals,
                "global_gain": 210 + 4 * (
                    (d + gi) % 8 if ch == 0 else (d + 2 * gi + 1) % 8
                ),
                "scalefac": [
                    (d + s + gi) % 4 if ch == 0 else (d + 2 * s + gi) % 4
                    for s in range(21)
                ],
                "big_values": 36,
                "scalefac_scale": 1,
            }

        for pdf in batches:
            out = {
                "doc_id": [], "n_granule_channels": [], "ms_mode": [],
                "nonzero_lines": [], "ch0_energy_micros": [],
                "ch1_energy_micros": [],
            }
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                specs = [
                    chan_spec(d, gi, ch) for gi in range(2) for ch in range(2)
                ]
                blob = encode_mp3_l3(
                    specs,
                    mode="ms_stereo" if d % 2 else "stereo",
                    use_crc=(d % 3 == 0),
                    use_reservoir=(d % 4 == 0),
                )
                m = _decode_mp3_l3(blob)  # REAL stereo decode
                assert m["n_channels"] == 2
                nz = 0
                e = [0.0, 0.0]
                for k, g in enumerate(m["granules"]):
                    nz += sum(1 for v in g.is_vals if v)
                    e[k % 2] += sum(x * x for x in g.xr_coded)
                out["doc_id"].append(d)
                out["n_granule_channels"].append(m["n_granules"])
                out["ms_mode"].append(d % 2 == 1)
                out["nonzero_lines"].append(nz)
                out["ch0_energy_micros"].append(int(round(1_000_000 * e[0])))
                out["ch1_energy_micros"].append(int(round(1_000_000 * e[1])))
            yield pd.DataFrame(out)

    schema = (
        "doc_id long, n_granule_channels long, ms_mode boolean, "
        "nonzero_lines long, ch0_energy_micros long, ch1_energy_micros long"
    )
    return docs.mapInPandas(run, schema)


# Short-band boundary tables as DuckDB list literals (1-indexed in SQL).
_MP3Q_SB_SQL = "[0, 4, 8, 12, 16, 22, 30, 40, 52, 66, 84, 106, 136, 192]"
_MP3Q_SB3_SQL = "[0, 12, 24, 36, 48, 66, 90, 120, 156, 198, 252, 318, 408]"
_MP3Q_LB_SQL = (
    "[0, 4, 8, 12, 16, 20, 24, 30, 36, 44, 52, 62, 74, 90, 110, 134, "
    "162, 196, 238, 288, 342, 418, 576]"
)


@register(
    "mp3_shortblock_decode_features",
    oracle=f"""
    WITH lines AS (
        SELECT d.doc_id AS doc_id, g.gi AS gi, 7 * j.j AS i, j.j AS j,
               (d.doc_id % 2 = 1) AS mixed
        FROM documents d,
             LATERAL (SELECT unnest(range(0, 2)) AS gi) g,
             LATERAL (SELECT unnest(range(0, 43)) AS j) j
    ), m1 AS (
        SELECT *,
               len(list_filter({_MP3Q_SB3_SQL}, b -> b <= i)) AS sfbn,
               len(list_filter({_MP3Q_LB_SQL}, b -> b <= i)) AS lbn
        FROM lines
    ), m2 AS (
        SELECT *, sfbn - 1 AS sfb0,
               ({_MP3Q_SB_SQL})[sfbn] AS s_lo,
               ({_MP3Q_SB_SQL})[sfbn + 1] - ({_MP3Q_SB_SQL})[sfbn] AS width
        FROM m1
    ), m3 AS (
        SELECT *, (i - 3 * s_lo) // width AS win FROM m2
    ), mapped AS (
        SELECT doc_id, gi, i, j, mixed,
               CASE WHEN mixed AND i < 36 THEN CAST(i AS BIGINT)
                    ELSE 18 * ((s_lo + i - 3 * s_lo - win * width) // 6)
                         + 6 * win
                         + ((s_lo + i - 3 * s_lo - win * width) % 6)
               END AS ri,
               CASE WHEN mixed AND i < 36 THEN
                    3 + (doc_id + gi) % 5 - (doc_id + gi + lbn - 1) % 2
                    ELSE
                    3 + (doc_id + gi) % 5
                      - 2 * (CASE win WHEN 0 THEN doc_id % 2
                                      WHEN 1 THEN (doc_id + gi + 1) % 2
                                      ELSE gi % 2 END)
                      - (doc_id + gi + sfb0 + win) % 2
               END AS e,
               ((j + doc_id + gi) % 2 = 1) AS neg
        FROM m3
    )
    SELECT doc_id,
           (doc_id % 2 = 1) AS mixed,
           CAST(COUNT(*) AS BIGINT) AS nonzero_lines,
           CAST(SUM(CASE WHEN neg THEN 1 ELSE 0 END) AS BIGINT) AS neg_lines,
           CAST(2 * 210 + 4 * (3 + doc_id % 5) + 4 * (3 + (doc_id + 1) % 5)
                AS BIGINT) AS gg_sum,
           CAST(SUM(ri + 1) AS BIGINT) AS pos_weight,
           CAST(ROUND(1000000 * SUM(POWER(4.0, e))) AS BIGINT) AS energy_micros
    FROM mapped
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def mp3_shortblock_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MP3 SHORT/MIXED blocks under the differential gate (round 14).
    Every doc carries one frame of two short-block granules (odd docs
    mixed: coded lines 0-35 stay long scalefactor bands); nonzero coded
    lines at every 7th position through line 294 carry closed-form
    signs, short scalefactors, per-window subblock gains and global
    gains, all with exponents pinned >= 0 so xr energy times 1e6 is an
    exact integer. The oracle recomputes, per coded line, the Table B.8
    short-band lookup, the window index, the §2.4.3.4.1 short-block
    exponent (global_gain - 8*subblock_gain[win], scalefactor, no
    pretab) AND the §2.4.3.4.8 reorder destination 18*(f//6) + 6*win +
    f%6 — so the hash pins the reorder permutation (``pos_weight``), the
    requantization (``energy_micros``), and the entropy layer
    (``nonzero_lines``/``neg_lines``/``gg_sum``) against the REAL
    decoder. Map-only mapInPandas with the standard core fan-out."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        def granule_spec(d: int, gi: int, mixed: bool) -> dict:
            is_vals = [0] * 576
            for j in range(43):
                is_vals[7 * j] = -1 if (j + d + gi) % 2 else 1
            return {
                "is": is_vals,
                "global_gain": 210 + 4 * (3 + (d + gi) % 5),
                "scalefac": [(d + gi + b) % 2 for b in range(21)],
                "scalefac_s": [
                    [(d + gi + sfb + w) % 2 for w in range(3)]
                    for sfb in range(12)
                ],
                "big_values": 150,
                "block_type": 2,
                "mixed_block_flag": 1 if mixed else 0,
                "subblock_gain": [d % 2, (d + gi + 1) % 2, gi % 2],
                "scalefac_compress": 5,
                "scalefac_scale": 1,
            }

        for pdf in batches:
            out = {
                "doc_id": [], "mixed": [], "nonzero_lines": [],
                "neg_lines": [], "gg_sum": [], "pos_weight": [],
                "energy_micros": [],
            }
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                mixed = d % 2 == 1
                blob = encode_mp3_l3(
                    [granule_spec(d, gi, mixed) for gi in range(2)]
                )
                m = _decode_mp3_l3(blob)  # REAL short-block decode
                nz = neg = gg = posw = 0
                energy = 0.0
                for g in m["granules"]:
                    nz += sum(1 for v in g.is_vals if v)
                    neg += sum(1 for v in g.is_vals if v < 0)
                    gg += g.global_gain
                    posw += sum(ri + 1 for ri, v in enumerate(g.xr) if v)
                    energy += sum(x * x for x in g.xr)
                out["doc_id"].append(d)
                out["mixed"].append(mixed)
                out["nonzero_lines"].append(nz)
                out["neg_lines"].append(neg)
                out["gg_sum"].append(gg)
                out["pos_weight"].append(posw)
                out["energy_micros"].append(int(round(1_000_000 * energy)))
            yield pd.DataFrame(out)

    schema = (
        "doc_id long, mixed boolean, nonzero_lines long, neg_lines long, "
        "gg_sum long, pos_weight long, energy_micros long"
    )
    return docs.mapInPandas(run, schema)


@register(
    "mp3_pcm_decode_features",
    oracle=f"""
    WITH base AS (
        SELECT doc_id AS d, CAST(doc_id % 4 AS INTEGER) AS v,
               7 + doc_id % 5 AS st, 7 + (doc_id + 2) % 5 AS st2
        FROM documents
    ), ch0_raw AS (
        SELECT b.d, b.v, g.gi, l.i
        FROM base b,
             LATERAL (SELECT unnest(range(0, 2)) AS gi) g,
             LATERAL (SELECT unnest(range(0, 480)) AS i) l
        WHERE l.i % b.st = 0 AND l.i < CASE WHEN b.v = 1 THEN 300 ELSE 480 END
    ), ch0 AS (
        SELECT d, v, gi, i,
               len(list_filter({_MP3Q_LB_SQL}, x -> x <= i)) AS lbn
        FROM ch0_raw
    ), e0 AS (
        -- intensity halves band energy where is_pos = 3 (tan(pi/4) = 1);
        -- the last band (21) has no scalefactor and copies band 20's is_pos
        SELECT d,
               SUM(CASE WHEN v = 3 AND i >= 36
                         AND (d + gi + LEAST(lbn - 1, 20)) % 4 = 1
                        THEN 0.5 ELSE 1.0 END
                   * POWER(4.0, (d + gi) % 6)) AS energy
        FROM ch0 GROUP BY d
    ), ch1 AS (
        SELECT b.d,
               CASE WHEN b.v = 2 THEN POWER(4.0, (b.d + g.gi + 3) % 6)
                    ELSE POWER(4.0, (b.d + g.gi + 1) % 6) END AS p
        FROM base b,
             LATERAL (SELECT unnest(range(0, 2)) AS gi) g,
             LATERAL (SELECT unnest(range(0, 480)) AS i) l
        WHERE (b.v = 2 AND l.i % b.st2 = 3 AND l.i < 480)
           OR (b.v = 3 AND l.i % 5 = 0 AND l.i < 36)
    ), e1 AS (
        SELECT d, SUM(p) AS energy FROM ch1 GROUP BY d
    ), rt AS (
        SELECT d.doc_id AS d,
               CAST(MAX(ABS((11 * d.doc_id + 5 * s.i) % 4001 - 2000))
                    AS BIGINT) AS rt_peak,
               CAST(SUM(ABS((11 * d.doc_id + 5 * s.i) % 4001 - 2000))
                    AS BIGINT) AS rt_sum_abs
        FROM documents d,
             LATERAL (SELECT unnest(range(
                 0, 1024 + 32 * (d.doc_id % 4))) AS i) s
        GROUP BY d.doc_id
    )
    SELECT b.d AS doc_id,
           CASE b.v WHEN 0 THEN 'long'
                    WHEN 1 THEN (CASE WHEN b.d % 8 = 5
                                      THEN 'short_mixed' ELSE 'short' END)
                    WHEN 2 THEN 'ms' ELSE 'intensity' END AS variant,
           CAST(CASE WHEN b.v >= 2 THEN 2 ELSE 1 END AS BIGINT) AS n_channels,
           CAST(CASE WHEN b.v = 1 THEN 3 ELSE 2 END AS BIGINT) AS n_frames,
           CAST(CASE WHEN b.v = 1 THEN 3 ELSE 2 END * 1152 + 512
                AS BIGINT) AS n_samples,
           CAST(ROUND(1000000 * (e0.energy + COALESCE(e1.energy, 0)))
                AS BIGINT) AS xr_energy_micros,
           CAST(1000 AS BIGINT) AS chain_energy_milli,
           rt.rt_peak, rt.rt_sum_abs
    FROM base b
    JOIN e0 ON e0.d = b.d
    LEFT JOIN e1 ON e1.d = b.d
    JOIN rt ON rt.d = b.d
    ORDER BY doc_id
    """,
)
def mp3_pcm_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MP3 decode ALL THE WAY TO PCM under the differential gate (round
    14; closes the polyphase seam named in rounds 12-13). Docs rotate
    four stream shapes — long mono, short (every eighth doc mixed) with
    a spec-legal long/start/short/stop/long window sequence, MS stereo,
    and intensity stereo — with silent edge granules so the chain's
    energy identity is exact: E_pcm = 1152 * (E_xr_long + E_xr_short/3)
    (IMDCT atom norms; alias butterflies and MS are rotations; the
    polyphase bank is unity-gain to its ~1e-5 NPR ripple).
    ``chain_energy_milli`` hashes that identity per doc (1000 = within
    0.05%); ``xr_energy_micros`` is the exact closed-form spectrum
    energy the oracle recomputes (exponents pinned >= 0, intensity
    halves where tan(is_pos*pi/12) = 1); ``rt_peak``/``rt_sum_abs``
    drive a SECOND chain — closed-form int16 PCM through the in-repo
    ANALYSIS filterbank then :func:`mp3_synthesize_pcm` — whose
    481-sample-delay reconstruction is exact under round-to-nearest, so
    any synthesis indexing error breaks the hash. Map-only mapInPandas
    with the standard core fan-out."""
    import numpy as np

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        def silent(bt: int = 0) -> dict:
            s = {"is": [0] * 576, "global_gain": 210, "scalefac": [0] * 21,
                 "big_values": 0, "scalefac_scale": 1, "scalefac_compress": 0}
            if bt:
                s["block_type"] = bt
                s["subblock_gain"] = [0, 0, 0]
                if bt == 2:
                    s["scalefac_s"] = [[0] * 3 for _ in range(12)]
            return s

        def active(d: int, gi: int, st: int, lim: int, bv: int,
                   exp_shift: int = 0, phase: int = 0) -> dict:
            is_vals = [0] * 576
            for i in range(phase, lim, st):
                is_vals[i] = 1 if (i // st + d + gi) % 2 == 0 else -1
            return {"is": is_vals,
                    "global_gain": 210 + 4 * ((d + gi + exp_shift) % 6),
                    "scalefac": [0] * 21, "big_values": bv,
                    "scalefac_scale": 1, "scalefac_compress": 0}

        def short_active(d: int, gi: int, st: int, mixed: bool) -> dict:
            s = active(d, gi, st, 300, 150)
            s["block_type"] = 2
            s["mixed_block_flag"] = 1 if mixed else 0
            s["subblock_gain"] = [0, 0, 0]
            s["scalefac_s"] = [[0] * 3 for _ in range(12)]
            return s

        def intensity_right(d: int, gi: int) -> dict:
            s = active(d, gi, 5, 36, 18, exp_shift=1)
            s["scalefac_compress"] = 15
            s["scalefac"] = [0] * 8 + [
                [0, 3, 6, 7][(d + gi + b) % 4] for b in range(8, 21)
            ]
            return s

        for pdf in batches:
            out = {
                "doc_id": [], "variant": [], "n_channels": [],
                "n_frames": [], "n_samples": [], "xr_energy_micros": [],
                "chain_energy_milli": [], "rt_peak": [], "rt_sum_abs": [],
            }
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                v = d % 4
                st = 7 + d % 5
                st2 = 7 + (d + 2) % 5
                if v == 0:
                    variant, mode = "long", "mono"
                    specs = [silent(), active(d, 0, st, 480, 240),
                             active(d, 1, st, 480, 240), silent()]
                elif v == 1:
                    mixed = d % 8 == 5
                    variant, mode = ("short_mixed" if mixed else "short"), "mono"
                    specs = [silent(), silent(1),
                             short_active(d, 0, st, mixed),
                             short_active(d, 1, st, mixed),
                             silent(3), silent()]
                elif v == 2:
                    variant, mode = "ms", "ms_stereo"
                    specs = [silent(), silent(),
                             active(d, 0, st, 480, 240),
                             active(d, 0, st2, 480, 240, exp_shift=3, phase=3),
                             active(d, 1, st, 480, 240),
                             active(d, 1, st2, 480, 240, exp_shift=3, phase=3),
                             silent(), silent()]
                else:
                    variant, mode = "intensity", "intensity_stereo"
                    specs = [silent(), silent(),
                             active(d, 0, st, 480, 240), intensity_right(d, 0),
                             active(d, 1, st, 480, 240), intensity_right(d, 1),
                             silent(), silent()]
                blob = encode_mp3_l3(specs, mode=mode)
                m = _decode_mp3_l3(blob)
                dec = decode_mp3_to_pcm(blob)  # REAL full chain
                e_xr = 0.0
                e_weighted = 0.0
                for g in m["granules"]:
                    e_g = sum(x * x for x in g.xr)
                    e_xr += e_g
                    if g.block_type == 2 and g.mixed_block_flag:
                        e_long = sum(x * x for x in g.xr[:36])
                        e_weighted += e_long + (e_g - e_long) / 3.0
                    elif g.block_type == 2:
                        e_weighted += e_g / 3.0
                    else:
                        e_weighted += e_g
                e_pcm = sum(float(np.sum(p * p)) for p in dec["pcm_f"])
                # roundtrip: closed-form int16 PCM -> analysis -> synthesis
                n_rt = 1024 + 32 * (d % 4)
                i = np.arange(n_rt, dtype=np.int64)
                x = ((11 * d + 5 * i) % 4001 - 2000).astype(np.float64)
                svecs, fb_state = mp3_analysis_filterbank(x)
                tail, _ = mp3_analysis_filterbank(np.zeros(512), fb_state)
                y, _ = mp3_synthesize_pcm(list(svecs) + list(tail))
                r = np.rint(y[481: 481 + n_rt]).astype(np.int64)
                out["doc_id"].append(d)
                out["variant"].append(variant)
                out["n_channels"].append(dec["n_channels"])
                out["n_frames"].append(dec["n_frames"])
                out["n_samples"].append(len(dec["pcm_f"][0]))
                out["xr_energy_micros"].append(int(round(1_000_000 * e_xr)))
                out["chain_energy_milli"].append(
                    int(round(1000.0 * e_pcm / (1152.0 * e_weighted)))
                )
                out["rt_peak"].append(int(np.abs(r).max()))
                out["rt_sum_abs"].append(int(np.abs(r).sum()))
            yield pd.DataFrame(out)

    schema = (
        "doc_id long, variant string, n_channels long, n_frames long, "
        "n_samples long, xr_energy_micros long, chain_energy_milli long, "
        "rt_peak long, rt_sum_abs long"
    )
    return docs.mapInPandas(run, schema)


@register(
    "cross_codec_audio_dedup",
    oracle="""
    SELECT doc_id,
           CAST(5 AS BIGINT) AS n_variants,
           CAST(1 AS BIGINT) AS n_exact_keys,
           CAST(1 AS BIGINT) AS n_robust_keys,
           CAST(2816 AS BIGINT) AS n_samples,
           CAST(2 AS BIGINT) AS probe_frames,
           CAST(1 AS BIGINT) AS exact_cluster_docs
    FROM documents
    ORDER BY doc_id
    """,
)
def cross_codec_audio_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-CODEC audio dedup (round 14; the reference folds re-encodes
    by normalizing every upload through ffmpeg to WAV before keying,
    inputs/speech_to_text.py:24-26 — this is that semantic on the
    in-repo decoders). Per doc, the same audio ships in FOUR containers
    — a real MPEG-1 Layer III stream (doc-keyed pseudo-random spectra,
    full entropy+IMDCT+polyphase decode), the WAV rip of its decoded
    PCM, a FLAC encode, a float32 AU, and an IEEE float32 WAV — and all
    five must collapse
    to ONE :func:`audio_content_key` (sha256 over decoded PCM + playback
    params: four independent decoders, one identity) and ONE
    :func:`audio_robust_key` (five independent decoders, one identity).
    A groupBy over the exact keys then proves
    no two DOCS collide (``exact_cluster_docs`` = 1): the line pattern
    is md5-derived per (doc, granule), so distinct docs carry distinct
    spectra by construction (a modular-polynomial pattern collides —
    a quadratic's image mod p covers only the residue classes; the
    oracle never models the pattern, so the crypto mix costs nothing).
    The per-doc decode fan-out is map-only; the
    cross-doc cluster count is one hash-aggregate on a 32-byte key —
    at 100 TB that is the same shuffle shape as ``dedup_exact``."""
    import pyspark.sql.functions as F

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        def silent() -> dict:
            return {"is": [0] * 576, "global_gain": 210,
                    "scalefac": [0] * 21, "big_values": 0,
                    "scalefac_scale": 1, "scalefac_compress": 0}

        def active(d: int, gi: int, gg: int) -> dict:
            # md5-derived line pattern: doc-injective by construction (a
            # modular-polynomial pattern collides — its image mod p only
            # covers the quadratic residues). The oracle never models the
            # pattern (its columns are decode-parity constants), so a
            # cryptographic mix is free here.
            import hashlib

            seed = hashlib.md5(f"xc:{d}:{gi}".encode()).digest()
            is_vals = [0] * 576
            for i in range(480):
                b = hashlib.md5(seed + i.to_bytes(2, "big")).digest()[0]
                if b < 64:
                    is_vals[i] = 1 if b % 2 == 0 else -1
            return {"is": is_vals, "global_gain": gg,
                    "scalefac": [0] * 21, "big_values": 240,
                    "scalefac_scale": 1, "scalefac_compress": 0}

        for pdf in batches:
            out = {
                "doc_id": [], "n_variants": [], "n_exact_keys": [],
                "n_robust_keys": [], "n_samples": [], "probe_frames": [],
                "exact_key": [],
            }
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                gg = 170 + 4 * (d % 3)
                mp3 = encode_mp3_l3(
                    [silent(), active(d, 0, gg), active(d, 1, gg), silent()]
                )
                meta = decode_media(mp3, "audio")  # REAL full MP3 decode
                y = np.frombuffer(meta["pcm"], "<i2")
                variants = [
                    mp3,
                    encode_wav(y, 44100),
                    encode_flac(y, sample_rate=44100),
                    encode_au(y, sample_rate=44100, float_width=4),
                    encode_wav_float(y, frame_rate=44100),
                ]
                # one REAL decode per container, both keys from it
                metas = [meta] + [
                    decode_media(b, "audio") for b in variants[1:]
                ]
                ek = [_content_key_from_meta(m) for m in metas]
                rk = [_robust_key_from_meta(m) for m in metas]
                out["doc_id"].append(d)
                out["n_variants"].append(len(variants))
                out["n_exact_keys"].append(len(set(ek)))
                out["n_robust_keys"].append(len(set(rk)))
                out["n_samples"].append(len(y))
                out["probe_frames"].append(probe_audio(mp3)["n_frames"])
                out["exact_key"].append(ek[0])
            yield pd.DataFrame(out)

    schema = (
        "doc_id long, n_variants long, n_exact_keys long, "
        "n_robust_keys long, n_samples long, probe_frames long, "
        "exact_key string"
    )
    # The 5-encode/5-decode kernel is the most expensive map stage in the
    # repo and feeds TWO consumers (the cluster groupBy and the probe
    # side of the join-back). Without a materialization barrier Spark
    # re-executes the mapInPandas subtree once per consumer — the
    # image_dhash_near_dups idiom applies: localCheckpoint so the kernel
    # runs exactly once.
    keyed = docs.mapInPandas(run, schema).localCheckpoint(eager=False)
    clusters = keyed.groupBy("exact_key").agg(
        F.count("*").alias("exact_cluster_docs")
    )
    return (
        keyed.join(clusters, "exact_key")
        .drop("exact_key")
        # no trailing orderBy (round 17, r16 verdict task 9) — same
        # rationale as image_dhash_near_dups above
    )


_MP3Q_S3_SQL = (
    "[0, 12, 24, 36, 48, 66, 90, 120, 156, 198, 252, 318, 408, 576]"
)
# 48/32 kHz Table B.8 profiles for the rate-profile oracle: long bounds
# and 3x short triplet starts
_MP3Q_L48_SQL = (
    "[0, 4, 8, 12, 16, 20, 24, 30, 36, 42, 50, 60, 72, 88, 106, 128, "
    "156, 190, 230, 276, 330, 384, 576]"
)
_MP3Q_L32_SQL = (
    "[0, 4, 8, 12, 16, 20, 24, 30, 36, 44, 54, 66, 82, 102, 126, 156, "
    "194, 240, 296, 364, 448, 550, 576]"
)
_MP3Q_S48_SQL = (
    "[0, 12, 24, 36, 48, 66, 84, 114, 150, 192, 240, 300, 378, 576]"
)
_MP3Q_S32_SQL = (
    "[0, 12, 24, 36, 48, 66, 90, 126, 174, 234, 312, 414, 540, 576]"
)


@register(
    "mp3_rate_profiles_decode_features",
    oracle=f"""
    WITH base AS (
        SELECT doc_id AS d, CAST(doc_id % 4 AS INTEGER) AS v,
               7 + doc_id % 5 AS st
        FROM documents
    ), lines AS (
        SELECT b.d, b.v, b.st, g.gi, l.i,
               CASE b.v
                    WHEN 0 THEN len(list_filter({_MP3Q_L48_SQL},
                                                x -> x <= l.i))
                    WHEN 1 THEN len(list_filter({_MP3Q_S48_SQL},
                                                x -> x <= l.i))
                    WHEN 2 THEN len(list_filter({_MP3Q_L32_SQL},
                                                x -> x <= l.i))
                    ELSE len(list_filter({_MP3Q_S32_SQL},
                                         x -> x <= l.i))
               END AS lbn
        FROM base b,
             LATERAL (SELECT unnest(range(0, 2)) AS gi) g,
             LATERAL (SELECT unnest(range(0, 480)) AS i) l
        WHERE l.i % b.st = 0
          AND l.i < CASE WHEN b.v % 2 = 0 THEN 480 ELSE 300 END
    ), scaled AS (
        SELECT d, v, gi, i, lbn,
               CASE
                 WHEN v % 2 = 0 THEN      -- long: sfb 21 has no scalefactor
                   CASE WHEN lbn - 1 >= 21 THEN 0
                        ELSE (d + gi + lbn - 1) % 4 END
                 ELSE                     -- short: per-(sfb, window) is_pos
                   CASE WHEN lbn - 1 >= 12 THEN 0
                        ELSE (d + gi + (lbn - 1)
                              + (i - (CASE WHEN v = 1
                                           THEN ({_MP3Q_S48_SQL})[lbn]
                                           ELSE ({_MP3Q_S32_SQL})[lbn]
                                      END))
                                // ((CASE WHEN v = 1
                                          THEN ({_MP3Q_S48_SQL})[lbn + 1]
                                               - ({_MP3Q_S48_SQL})[lbn]
                                          ELSE ({_MP3Q_S32_SQL})[lbn + 1]
                                               - ({_MP3Q_S32_SQL})[lbn]
                                     END) // 3)) % 4
                   END
               END AS sf
        FROM lines
    )
    SELECT s.d AS doc_id,
           CASE s.v WHEN 0 THEN 'long_48000' WHEN 1 THEN 'short_48000'
                    WHEN 2 THEN 'long_32000' ELSE 'short_32000'
           END AS variant,
           CAST(CASE WHEN s.v < 2 THEN 48000 ELSE 32000 END AS BIGINT)
               AS sample_rate,
           CAST(CASE WHEN s.v % 2 = 0 THEN 2 ELSE 3 END AS BIGINT)
               AS n_frames,
           CAST(ROUND(1000000 * SUM(
               POWER(4.0, (s.d + s.gi) % 6 - s.sf))) AS BIGINT)
               AS xr_energy_micros
    FROM scaled s
    GROUP BY s.d, s.v
    ORDER BY doc_id
    """,
)
def mp3_rate_profiles_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The non-44.1 kHz MPEG-1 Table B.8 profiles under the
    differential gate (round 16; r15 verdict task 7): docs rotate
    48 kHz long, 48 kHz short, 32 kHz long and 32 kHz short streams
    whose scalefactors cycle (d+gi+sfb[+w]) % 4, so the decoded
    spectrum energy depends on WHICH scalefactor band each line falls
    in — the oracle recomputes it from its own copy of the 48/32 kHz
    band boundaries, and any transcription slip in either long table
    (attenuation bands), either short table (per-window triplet
    geometry + reordering), or the region-boundary dispatch breaks the
    hash or the decode outright. Map-only mapInPandas with the
    standard core fan-out."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        def silent(bt: int = 0) -> dict:
            s = {"is": [0] * 576, "global_gain": 210, "scalefac": [0] * 21,
                 "big_values": 0, "scalefac_scale": 1,
                 "scalefac_compress": 0}
            if bt:
                s["block_type"] = bt
                s["subblock_gain"] = [0, 0, 0]
                if bt == 2:
                    s["scalefac_s"] = [[0] * 3 for _ in range(12)]
            return s

        def long_a(d: int, gi: int, st: int) -> dict:
            iv = [0] * 576
            for i in range(0, 480, st):
                iv[i] = 1 if (i // st + d + gi) % 2 == 0 else -1
            return {"is": iv, "global_gain": 210 + 4 * ((d + gi) % 6),
                    "scalefac": [(d + gi + b) % 4 for b in range(21)],
                    "scalefac_compress": 9, "big_values": 240,
                    "scalefac_scale": 1}

        def short_a(d: int, gi: int, st: int) -> dict:
            iv = [0] * 576
            for i in range(0, 300, st):
                iv[i] = 1 if (i // st + d + gi) % 2 == 0 else -1
            return {"is": iv, "global_gain": 210 + 4 * ((d + gi) % 6),
                    "scalefac": [0] * 21, "big_values": 150,
                    "scalefac_scale": 1, "scalefac_compress": 9,
                    "block_type": 2, "mixed_block_flag": 0,
                    "subblock_gain": [0, 0, 0],
                    "scalefac_s": [
                        [(d + gi + sfb + w) % 4 for w in range(3)]
                        for sfb in range(12)
                    ]}

        for pdf in batches:
            out = {
                "doc_id": [], "variant": [], "sample_rate": [],
                "n_frames": [], "xr_energy_micros": [],
            }
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                v = d % 4
                st = 7 + d % 5
                rate = 48000 if v < 2 else 32000
                if v % 2 == 0:
                    variant = f"long_{rate}"
                    specs = [silent(), long_a(d, 0, st),
                             long_a(d, 1, st), silent()]
                else:
                    variant = f"short_{rate}"
                    specs = [silent(), silent(1), short_a(d, 0, st),
                             short_a(d, 1, st), silent(3), silent()]
                m = _decode_mp3_l3(
                    encode_mp3_l3(specs, sample_rate=rate)
                )
                e = sum(
                    sum(x * x for x in g.xr) for g in m["granules"]
                )
                out["doc_id"].append(d)
                out["variant"].append(variant)
                out["sample_rate"].append(m["sample_rate"])
                out["n_frames"].append(m["n_frames"])
                out["xr_energy_micros"].append(int(round(1e6 * e)))
            yield pd.DataFrame(out)

    schema = (
        "doc_id long, variant string, sample_rate long, n_frames long, "
        "xr_energy_micros long"
    )
    return docs.mapInPandas(run, schema)


@register(
    "mp3_stereo_matrix_decode_features",
    oracle=f"""
    WITH base AS (
        SELECT doc_id AS d, CAST(doc_id % 4 AS INTEGER) AS v,
               7 + doc_id % 5 AS st
        FROM documents
    ), ch0 AS (
        SELECT b.d, b.v, g.gi, l.i,
               CASE WHEN b.v = 0
                    THEN LEAST(len(list_filter({_MP3Q_LB_SQL},
                                               x -> x <= l.i)) - 1, 20)
                    ELSE LEAST(len(list_filter({_MP3Q_S3_SQL},
                                               x -> x <= l.i)) - 1, 11)
               END AS sfb_eff,
               CASE WHEN b.v = 0 THEN 0
                    ELSE (l.i - ({_MP3Q_S3_SQL})[
                              len(list_filter({_MP3Q_S3_SQL},
                                              x -> x <= l.i))])
                         // ((({_MP3Q_S3_SQL})[
                                 len(list_filter({_MP3Q_S3_SQL},
                                                 x -> x <= l.i)) + 1]
                              - ({_MP3Q_S3_SQL})[
                                 len(list_filter({_MP3Q_S3_SQL},
                                                 x -> x <= l.i))]) // 3)
               END AS w
        FROM base b,
             LATERAL (SELECT unnest(range(0, 2)) AS gi) g,
             LATERAL (SELECT unnest(range(0, 480)) AS i) l
        WHERE l.i % b.st = 0
          AND l.i < CASE WHEN b.v = 0 THEN 480 ELSE 300 END
    ), ch0x AS (
        SELECT d, v, gi, i,
               CAST((d + gi + sfb_eff + CASE WHEN v = 0 THEN 0 ELSE w END)
                    % 4 AS INTEGER) AS ipx,
               i >= CASE WHEN v IN (0, 3) THEN 36 ELSE 48 END AS int_region,
               POWER(4.0, (d + gi) % 6) AS e
        FROM ch0
    ), e0 AS (
        SELECT d,
               SUM(CASE WHEN int_region AND ipx = 1
                        THEN 0.5 * e ELSE e END) AS energy,
               SUM(CASE WHEN NOT int_region THEN 0
                        WHEN ipx = 0 THEN e
                        WHEN ipx = 1 THEN 0.25 * e
                        WHEN ipx = 2 THEN 0
                        WHEN v IN (1, 3) THEN 0  -- pure: is_pos 7 as coded
                        ELSE 0.5 * e END) AS r_int
        FROM ch0x GROUP BY d
    ), e1 AS (
        SELECT b.d, SUM(POWER(4.0, (b.d + g.gi + 2) % 6)) AS energy
        FROM base b,
             LATERAL (SELECT unnest(range(0, 2)) AS gi) g,
             LATERAL (SELECT unnest(range(0, 480)) AS i) l
        WHERE l.i % 5 = 0
          AND l.i < CASE WHEN b.v IN (0, 3) THEN 36 ELSE 48 END
        GROUP BY b.d
    )
    SELECT b.d AS doc_id,
           CASE b.v WHEN 0 THEN 'combined_long'
                    WHEN 1 THEN 'intensity_short'
                    WHEN 2 THEN 'combined_short'
                    ELSE 'intensity_mixed' END AS variant,
           CAST(2 AS BIGINT) AS n_channels,
           CAST(CASE WHEN b.v = 0 THEN 2 ELSE 3 END AS BIGINT) AS n_frames,
           CAST(ROUND(1000000 * (e0.energy + e1.energy)) AS BIGINT)
               AS xr_energy_micros,
           CAST(ROUND(1000000 * e0.r_int) AS BIGINT)
               AS right_int_energy_micros
    FROM base b
    JOIN e0 ON e0.d = b.d
    JOIN e1 ON e1.d = b.d
    ORDER BY doc_id
    """,
)
def mp3_stereo_matrix_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CLOSED MP3 stereo matrix under the differential gate (round
    16; r15 verdict task 5): docs rotate combined MS+intensity over
    long blocks, pure intensity over SHORT blocks (per-window
    scalefac_s is_pos over the coded triplet layout), combined over
    short blocks, and intensity over MIXED blocks (the long-band is_pos
    map on coded lines 0-35, the short map from sfb 3). The is_pos pattern cycles {{0, 3, 6, 7}} per (doc,
    granule, band, window), so every arm of the §2.4.3.4.9 arithmetic
    fires: the 0.5 energy factor at is_pos 3 (tan(pi/4) = 1), the
    fully-left pole at 6, and the ILLEGAL position 7 — MS fallback in
    combined mode, band-as-coded in pure mode, which the
    ``right_int_energy_micros`` column (right-channel energy restricted
    to the intensity region, located through the spec's reorder
    permutation for short blocks) distinguishes: 7 contributes half the
    line energy under combined, zero under pure. Total xr energy is the
    rotation-invariant closed form (MS preserves it; intensity scales
    by (k_l^2 + k_r^2)). Map-only mapInPandas with the standard core
    fan-out."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        sb = _MP3_SFB_SHORT_44100

        def silent(bt: int = 0) -> dict:
            s = {"is": [0] * 576, "global_gain": 210, "scalefac": [0] * 21,
                 "big_values": 0, "scalefac_scale": 1,
                 "scalefac_compress": 0}
            if bt:
                s["block_type"] = bt
                s["subblock_gain"] = [0, 0, 0]
                if bt == 2:
                    s["scalefac_s"] = [[0] * 3 for _ in range(12)]
            return s

        def ch0_long(d: int, gi: int, st: int) -> dict:
            iv = [0] * 576
            for i in range(0, 480, st):
                iv[i] = 1 if (i // st + d + gi) % 2 == 0 else -1
            return {"is": iv, "global_gain": 210 + 4 * ((d + gi) % 6),
                    "scalefac": [0] * 21, "big_values": 240,
                    "scalefac_scale": 1, "scalefac_compress": 0}

        def ch1_long(d: int, gi: int) -> dict:
            iv = [0] * 576
            for i in range(0, 36, 5):
                iv[i] = 1 if i % 2 == 0 else -1
            return {"is": iv, "global_gain": 210 + 4 * ((d + gi + 2) % 6),
                    "scalefac_compress": 15,
                    "scalefac": [0] * 8 + [[0, 3, 6, 7][(d + gi + b) % 4]
                                           for b in range(8, 21)],
                    "big_values": 18, "scalefac_scale": 1}

        def ch0_short(d: int, gi: int, st: int) -> dict:
            iv = [0] * 576
            for i in range(0, 300, st):
                iv[i] = 1 if (i // st + d + gi) % 2 == 0 else -1
            return {"is": iv, "global_gain": 210 + 4 * ((d + gi) % 6),
                    "scalefac": [0] * 21, "big_values": 150,
                    "scalefac_scale": 1, "scalefac_compress": 0,
                    "block_type": 2, "mixed_block_flag": 0,
                    "subblock_gain": [0, 0, 0],
                    "scalefac_s": [[0] * 3 for _ in range(12)]}

        def ch1_short(d: int, gi: int) -> dict:
            iv = [0] * 576
            for i in range(0, 48, 5):
                iv[i] = 1 if i % 2 == 0 else -1
            # scalefac_s rows 0-3 (the sub-bound bands carrying REAL
            # data) stay zero: there they are true scalefactors and
            # would attenuate; rows 4+ are is_pos angles
            return {"is": iv, "global_gain": 210 + 4 * ((d + gi + 2) % 6),
                    "scalefac": [0] * 21, "big_values": 24,
                    "scalefac_scale": 1, "scalefac_compress": 15,
                    "block_type": 2, "mixed_block_flag": 0,
                    "subblock_gain": [0, 0, 0],
                    "scalefac_s": [
                        [[0, 3, 6, 7][(d + gi + sfb + w) % 4]
                         if sfb >= 4 else 0
                         for w in range(3)] for sfb in range(12)
                    ]}

        def ch0_mixed(d: int, gi: int, st: int) -> dict:
            spec = ch0_short(d, gi, st)
            spec["mixed_block_flag"] = 1
            return spec

        def ch1_mixed(d: int, gi: int) -> dict:
            # real data fills the LONG part (coded lines < 36, where the
            # long scalefac rows are true scalefactors and stay zero);
            # every scalefac_s row is an is_pos angle — the whole short
            # region is the intensity zone
            iv = [0] * 576
            for i in range(0, 36, 5):
                iv[i] = 1 if i % 2 == 0 else -1
            return {"is": iv, "global_gain": 210 + 4 * ((d + gi + 2) % 6),
                    "scalefac": [0] * 21, "big_values": 18,
                    "scalefac_scale": 1, "scalefac_compress": 15,
                    "block_type": 2, "mixed_block_flag": 1,
                    "subblock_gain": [0, 0, 0],
                    "scalefac_s": [
                        [[0, 3, 6, 7][(d + gi + sfb + w) % 4]
                         for w in range(3)] for sfb in range(12)
                    ]}

        def short_int_region_indices(bound: int) -> list[int]:
            # reordered-domain image of coded lines >= bound (whole
            # triplets; the gate's bound sits on a triplet boundary)
            idxs = []
            for sfb in range(13):
                width = sb[sfb + 1] - sb[sfb]
                if 3 * sb[sfb] < bound:
                    continue
                for w in range(3):
                    for k in range(width):
                        f = sb[sfb] + k
                        idxs.append(18 * (f // 6) + 6 * w + (f % 6))
            return idxs

        short_idxs = short_int_region_indices(48)
        mixed_idxs = short_int_region_indices(36)  # sfb 3+: all >= 36

        for pdf in batches:
            out = {
                "doc_id": [], "variant": [], "n_channels": [],
                "n_frames": [], "xr_energy_micros": [],
                "right_int_energy_micros": [],
            }
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                v = d % 4
                st = 7 + d % 5
                if v == 0:
                    variant, mode = "combined_long", "ms_intensity_stereo"
                    specs = [silent(), silent(),
                             ch0_long(d, 0, st), ch1_long(d, 0),
                             ch0_long(d, 1, st), ch1_long(d, 1),
                             silent(), silent()]
                elif v == 3:
                    variant, mode = "intensity_mixed", "intensity_stereo"
                    specs = [silent(), silent(), silent(1), silent(1),
                             ch0_mixed(d, 0, st), ch1_mixed(d, 0),
                             ch0_mixed(d, 1, st), ch1_mixed(d, 1),
                             silent(3), silent(3), silent(), silent()]
                else:
                    variant = ("intensity_short" if v == 1
                               else "combined_short")
                    mode = ("intensity_stereo" if v == 1
                            else "ms_intensity_stereo")
                    specs = [silent(), silent(), silent(1), silent(1),
                             ch0_short(d, 0, st), ch1_short(d, 0),
                             ch0_short(d, 1, st), ch1_short(d, 1),
                             silent(3), silent(3), silent(), silent()]
                m = _decode_mp3_l3(encode_mp3_l3(specs, mode=mode))
                e_tot = 0.0
                r_int = 0.0
                gr = m["granules"]
                for j in range(0, len(gr), 2):
                    l_g, r_g = gr[j], gr[j + 1]
                    e_tot += sum(x * x for x in l_g.xr)
                    e_tot += sum(x * x for x in r_g.xr)
                    if r_g.block_type == 2:
                        idxs = (mixed_idxs if r_g.mixed_block_flag
                                else short_idxs)
                        r_int += sum(r_g.xr[i] * r_g.xr[i] for i in idxs)
                    else:
                        bound = 36 if v == 0 else 48
                        r_int += sum(x * x for x in r_g.xr[bound:])
                out["doc_id"].append(d)
                out["variant"].append(variant)
                out["n_channels"].append(m["n_channels"])
                out["n_frames"].append(m["n_frames"])
                out["xr_energy_micros"].append(int(round(1e6 * e_tot)))
                out["right_int_energy_micros"].append(
                    int(round(1e6 * r_int))
                )
            yield pd.DataFrame(out)

    schema = (
        "doc_id long, variant string, n_channels long, n_frames long, "
        "xr_energy_micros long, right_int_energy_micros long"
    )
    return docs.mapInPandas(run, schema)


@register(
    "mp3_huffman_tables_decode_features",
    oracle="""
    WITH base AS (
        SELECT doc_id,
               CASE CAST(doc_id % 8 AS INTEGER)
                    WHEN 0 THEN 2 WHEN 1 THEN 3 WHEN 2 THEN 5
                    WHEN 3 THEN 5 WHEN 4 THEN 7 WHEN 5 THEN 15
                    WHEN 6 THEN 16 ELSE 40 END AS cap0,
               CASE CAST(doc_id % 8 AS INTEGER)
                    WHEN 0 THEN 2 WHEN 1 THEN 3 WHEN 2 THEN 5
                    WHEN 3 THEN 7 WHEN 4 THEN 7 WHEN 5 THEN 15
                    WHEN 6 THEN 30 ELSE 50 END AS cap1
        FROM documents
    ), big AS (
        SELECT b.doc_id AS doc_id, g.gi AS gi, j.j AS j,
               1 + (j.j + b.doc_id + g.gi)
                   % (CASE WHEN g.gi = 0 THEN b.cap0 ELSE b.cap1 END) AS mag,
               ((j.j + b.doc_id) % 2 = 1) AS neg
        FROM base b,
             LATERAL (SELECT unnest(range(0, 2)) AS gi) g,
             LATERAL (SELECT unnest(range(0, 29)) AS j) j
    ), quad AS (
        SELECT d.doc_id AS doc_id, g.gi AS gi, q.q AS q,
               200 + 4 * q.q + (d.doc_id + q.q) % 4 AS i,
               (q.q % 2 = 1) AS neg
        FROM documents d,
             LATERAL (SELECT unnest(range(0, 2)) AS gi) g,
             LATERAL (SELECT unnest(range(0, 25)) AS q) q
        WHERE (q.q + d.doc_id) % 3 = 0
    ), bigf AS (
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS big_lines,
               CAST(SUM(mag) AS BIGINT) AS mag_sum,
               CAST(SUM(CASE WHEN neg THEN 1 ELSE 0 END)
                    AS BIGINT) AS big_neg,
               CAST(SUM(7 * j + 1) AS BIGINT) AS big_pos_weight,
               CAST(ROUND(1000000 * SUM(
                   CASE WHEN mag = 1
                        THEN POWER(4.0, (doc_id + gi) % 6) ELSE 0 END))
                    AS BIGINT) AS energy1_micros
        FROM big GROUP BY doc_id
    ), quadf AS (
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS quad_lines,
               CAST(SUM(i + 1) AS BIGINT) AS quad_pos_weight,
               CAST(SUM(CASE WHEN neg THEN 1 ELSE 0 END)
                    AS BIGINT) AS quad_neg
        FROM quad GROUP BY doc_id
    )
    SELECT b.doc_id, b.big_lines, b.mag_sum, b.big_neg,
           b.big_pos_weight, b.energy1_micros,
           COALESCE(q.quad_lines, 0) AS quad_lines,
           COALESCE(q.quad_pos_weight, 0) AS quad_pos_weight,
           COALESCE(q.quad_neg, 0) AS quad_neg
    FROM bigf b LEFT JOIN quadf q ON q.doc_id = b.doc_id
    ORDER BY b.doc_id
    """,
)
def mp3_huffman_tables_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE MP3 Annex B Huffman alphabet under the differential
    gate: tables 2-10 (round 14) plus 11-13, 15 and the 16/24 linbits
    families (round 16 — every alphabet ships only after the
    Kraft-complete import validation documented at _MP3_HUFF2, which
    rejected two earlier 11/12 recollections). Docs rotate eight table
    pairs across their two granules — (2,3) (5,6) (7,8) (9,10) (11,12)
    (13,15) (16,24) (21,29) — with magnitudes sweeping past 15 on the
    ESC tables so linbits extension bits are actually exercised (caps
    16/30/40/50 force |is|-15 extensions of up to 35 into the 8- and
    9-linbits codes), and both granules route count1 quadruples through
    TABLE A (zero-quads included). The oracle recomputes line counts,
    the MAGNITUDE SUM (pinning every decoded |is| value incl. the
    linbits reconstruction), signs and coded positions per region plus
    the exact spectrum energy of the |is| = 1 lines (larger magnitudes
    requantize to irrational |is|^(4/3) scales, so they are pinned by
    mag_sum and position, keeping the hash float-exact). Map-only
    mapInPandas with the standard core fan-out."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        pairs = [(2, 3), (5, 6), (7, 8), (9, 10),
                 (11, 12), (13, 15), (16, 24), (21, 29)]
        caps = {2: 2, 3: 2, 5: 3, 6: 3, 7: 5, 8: 5, 9: 5, 10: 7,
                11: 7, 12: 7, 13: 15, 15: 15, 16: 16, 24: 30,
                21: 40, 29: 50}

        def granule_spec(d: int, gi: int, table: int) -> dict:
            cap = caps[table]
            is_vals = [0] * 576
            for j in range(29):
                mag = 1 + (j + d + gi) % cap
                is_vals[7 * j] = mag if (j + d) % 2 == 0 else -mag
            for q in range(25):
                if (q + d) % 3 == 0:
                    is_vals[200 + 4 * q + (d + q) % 4] = (
                        1 if q % 2 == 0 else -1
                    )
            return {
                "is": is_vals,
                "global_gain": 210 + 4 * ((d + gi) % 6),
                "scalefac": [0] * 21,
                "big_values": 100,
                "scalefac_scale": 1,
                "scalefac_compress": 0,
                "huff_table": table,
                "count1table": "A",
            }

        for pdf in batches:
            out = {
                "doc_id": [], "big_lines": [], "mag_sum": [],
                "big_neg": [], "big_pos_weight": [], "energy1_micros": [],
                "quad_lines": [], "quad_pos_weight": [], "quad_neg": [],
            }
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                t0, t1 = pairs[d % 8]
                blob = encode_mp3_l3(
                    [granule_spec(d, 0, t0), granule_spec(d, 1, t1)]
                )
                m = _decode_mp3_l3(blob)  # REAL multi-table decode
                bl = ms = bn = bpw = ql = qpw = qn = 0
                e1 = 0.0
                for g in m["granules"]:
                    assert g.count1table_select == 0
                    for i, v in enumerate(g.is_vals):
                        if not v:
                            continue
                        if i < 200:
                            bl += 1
                            ms += abs(v)
                            if v < 0:
                                bn += 1
                            bpw += i + 1
                            if abs(v) == 1:
                                e1 += g.xr[i] * g.xr[i]
                        else:
                            ql += 1
                            if v < 0:
                                qn += 1
                            qpw += i + 1
                out["doc_id"].append(d)
                out["big_lines"].append(bl)
                out["mag_sum"].append(ms)
                out["big_neg"].append(bn)
                out["big_pos_weight"].append(bpw)
                out["energy1_micros"].append(int(round(1_000_000 * e1)))
                out["quad_lines"].append(ql)
                out["quad_pos_weight"].append(qpw)
                out["quad_neg"].append(qn)
            yield pd.DataFrame(out)

    schema = (
        "doc_id long, big_lines long, mag_sum long, big_neg long, "
        "big_pos_weight long, energy1_micros long, quad_lines long, "
        "quad_pos_weight long, quad_neg long"
    )
    return docs.mapInPandas(run, schema)


@register(
    "mpeg1_layer1_decode_features",
    oracle="""
    SELECT d.doc_id,
           CAST(CASE CAST(d.doc_id % 3 AS INTEGER)
                     WHEN 0 THEN 44100 WHEN 1 THEN 48000
                     ELSE 32000 END AS BIGINT) AS sample_rate,
           CAST(2 + d.doc_id % 3 AS BIGINT) AS n_frames,
           CAST((2 + d.doc_id % 3) * 384 + 512 AS BIGINT) AS n_samples,
           CAST((2 + d.doc_id % 3)
                * (12 * 384000 // (CASE CAST(d.doc_id % 3 AS INTEGER)
                                        WHEN 0 THEN 44100 WHEN 1 THEN 48000
                                        ELSE 32000 END) * 4)
                AS BIGINT) AS stream_bytes,
           TRUE AS parity_exact,
           TRUE AS snr_ok
    FROM documents d
    ORDER BY d.doc_id
    """,
)
def mpeg1_layer1_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MPEG-1 LAYER I sample decode under the differential gate (round
    16): per doc a deterministic stream — allocations, Table B.1
    scalefactor indices and offset-binary sample codes all closed-form
    over (doc, frame, band, sample), across all three MPEG-1 sampling
    rates, and (round 17) every fourth doc a JOINT (intensity) stereo
    stream whose subbands above the 4*(mode_extension+1) bound share
    one sample code per the §2.4.2.4 rule — is assembled by
    :func:`encode_mpeg1_layer1` and decoded
    through :func:`decode_media`'s routed Layer I path.
    ``parity_exact`` asserts the decoded PCM is BIT-IDENTICAL to
    synthesizing the independently recomputed subband values through
    the filterbank — it pins the allocation walk, scalefactor layout
    and bit packing, but NOT the wire sign convention, because the
    recomputation shares the §2.4.3.2.1 requantizer formula. The wire
    convention itself (offset binary read directly; r16 ADVICE high
    fix) is pinned by hard-coded spec-derived PCM constants in
    ``tests/test_multimodal.py::test_mpeg1_layer1_wire_convention``;
    ``snr_ok`` runs a REAL sine through the analysis bank + the Table
    C.2 quantizer at 9 bits and asserts >= 25 dB reconstruction (the
    textbook property that pinned the quantizer pair). Geometry hashes
    against the slot-framing closed forms. Map-only mapInPandas with
    the standard explicit core fan-out."""
    import numpy as np

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        rates = (44100, 48000, 32000)

        def frame_spec(d: int, f: int) -> dict:
            alloc = [
                (3 + (d + sb) % 9) if (sb + d + f) % 3 else 0
                for sb in range(32)
            ]
            scf = [3 * ((d + sb) % 10) for sb in range(32)]
            codes = [
                [
                    int((11 * d + 7 * t + 13 * sb) % (1 << (alloc[sb] + 1)))
                    if alloc[sb] else 0
                    for sb in range(32)
                ]
                for t in range(12)
            ]
            return {"alloc": alloc, "scf_idx": scf, "codes": codes}

        def frame_spec_joint(d: int, f: int, bound: int) -> dict:
            # sparser allocations than the mono profile (two channels
            # share the slot budget); above the bound channel 1 copies
            # channel 0's allocation and its codes go unused (one
            # shared sample code per the §2.4.2.4 intensity rule)
            def al(c: int) -> list:
                return [
                    (2 + (d + c + sb) % 6) if (sb + d + f) % 3 else 0
                    for sb in range(32)
                ]

            a0, a1 = al(0), al(1)
            for sb in range(bound, 32):
                a1[sb] = a0[sb]
            alloc = [a0, a1]
            scf = [
                [3 * ((d + c + sb) % 10) for sb in range(32)]
                for c in range(2)
            ]
            codes = [
                [
                    [
                        int((11 * d + 7 * t + 13 * sb + 5 * c)
                            % (1 << (alloc[c][sb] + 1)))
                        if alloc[c][sb] else 0
                        for sb in range(32)
                    ]
                    for t in range(12)
                ]
                for c in range(2)
            ]
            return {"alloc": alloc, "scf_idx": scf, "codes": codes,
                    "bound": bound}

        def _req(nb: int, q: int) -> float:
            frac = q / 2.0 ** (nb - 1) - 1.0
            return (1 << nb) / ((1 << nb) - 1) * (frac + 2.0 ** (1 - nb))

        def _req_rows(alloc: list, scf_idx: list):
            # per-subband scalar constants, computed with the exact
            # _req/_mp1_scalefactor expressions (vectorized round 17:
            # numpy then only divides/multiplies elementwise in _req's
            # order; unallocated columns are zeroed explicitly)
            sfv = np.empty(32)
            gain = np.empty(32)
            add = np.empty(32)
            div = np.empty(32)
            for sb in range(32):
                a = alloc[sb]
                nb = a + 1
                sfv[sb] = _mp1_scalefactor(scf_idx[sb]) if a else 0.0
                gain[sb] = (1 << nb) / ((1 << nb) - 1)
                add[sb] = 2.0 ** (1 - nb)
                div[sb] = 2.0 ** (nb - 1)
            return sfv, gain, add, div

        def expected_svecs(specs: list) -> list:
            out = []
            for sp in specs:
                sfv, gain, add, div = _req_rows(sp["alloc"], sp["scf_idx"])
                codes = np.asarray(sp["codes"], dtype=np.int64)
                M = sfv * (gain * (codes / div - 1.0 + add))
                zero = [sb for sb in range(32) if not sp["alloc"][sb]]
                if zero:
                    M[:, zero] = 0.0
                out.extend(M.tolist())
            return out

        def expected_svecs_joint(specs: list, c: int) -> list:
            out = []
            for sp in specs:
                bound = sp["bound"]
                sfv, gain, add, div = _req_rows(
                    sp["alloc"][c], sp["scf_idx"][c]
                )
                codes = np.asarray(sp["codes"][c], dtype=np.int64).copy()
                codes0 = np.asarray(sp["codes"][0], dtype=np.int64)
                codes[:, bound:] = codes0[:, bound:]
                M = sfv * (gain * (codes / div - 1.0 + add))
                zero = [sb for sb in range(32) if not sp["alloc"][c][sb]]
                if zero:
                    M[:, zero] = 0.0
                out.extend(M.tolist())
            return out

        # the SNR leg is doc-independent: compute once per executor
        snr_cache = {}

        def chain_snr() -> float:
            if "v" in snr_cache:
                return snr_cache["v"]
            t = np.arange(384 * 6) / 44100.0
            src = 0.6 * np.sin(2 * np.pi * 700.0 * t)
            svecs, _ = mp3_analysis_filterbank(src)
            nbv = 9
            A = (2 ** nbv - 1) / 2 ** nbv
            B = -(2.0 ** (-nbv))
            frames = []
            for f in range(6):
                codes = []
                for tt in range(12):
                    S = svecs[f * 12 + tt]
                    row = []
                    for sb in range(32):
                        sv = float(np.clip(S[sb] / 2.0, -0.999, 0.999))
                        q = int(np.floor((A * sv + B + 1.0) * 2 ** (nbv - 1)))
                        row.append(max(0, min((1 << nbv) - 1, q)))
                    codes.append(row)
                frames.append({"alloc": [nbv - 1] * 32,
                               "scf_idx": [0] * 32, "codes": codes})
            out = decode_mpeg1_layer1(
                encode_mpeg1_layer1(frames, bitrate_index=14)
            )["pcm_f"][0]
            best = -1e9
            for dshift in range(480, 620):
                n = len(src) - dshift
                e = out[dshift: dshift + n] - src[:n]
                v = 10 * np.log10(
                    np.sum(src[:n] ** 2) / max(np.sum(e ** 2), 1e-12)
                )
                best = max(best, v)
            snr_cache["v"] = best
            return best

        for pdf in batches:
            out = {
                "doc_id": [], "sample_rate": [], "n_frames": [],
                "n_samples": [], "stream_bytes": [], "parity_exact": [],
                "snr_ok": [],
            }
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                rate = rates[d % 3]
                nf = 2 + d % 3
                if d % 4 == 3:
                    # joint (intensity) stereo variant (round 17): the
                    # emitted geometry columns keep the same closed
                    # forms (per-channel frame/sample counts and the
                    # slot framing are mode-independent), so the oracle
                    # is untouched; parity_exact now also pins the
                    # shared-sample bound rule for both channels
                    bound = 4 * (d % 3 + 1)
                    specs = [
                        frame_spec_joint(d, f, bound) for f in range(nf)
                    ]
                    blob = encode_mpeg1_layer1(
                        specs, bitrate_index=12, sample_rate=rate,
                        mode="joint", use_crc=(d % 7 == 5),
                    )
                    meta = decode_media(blob, "audio")
                    refs = []
                    for c in range(2):
                        sv = expected_svecs_joint(specs, c)
                        pc, _ = mp3_synthesize_pcm(
                            sv + [[0.0] * 32] * 16
                        )
                        refs.append(pc)
                    ref_pcm = np.stack(refs, axis=1).reshape(-1)
                else:
                    specs = [frame_spec(d, f) for f in range(nf)]
                    # every seventh doc emits a CRC-protected stream
                    # (round 17): the slot framing is bitrate-fixed, so
                    # every geometry column is CRC-invariant and the
                    # oracle is untouched; a CRC-span slip in either
                    # half fails the decode outright
                    blob = encode_mpeg1_layer1(
                        specs, bitrate_index=12, sample_rate=rate,
                        use_crc=(d % 7 == 5),
                    )
                    meta = decode_media(blob, "audio")  # routed Layer I
                    ref_svecs = expected_svecs(specs) + [[0.0] * 32] * 16
                    ref_pcm, _ = mp3_synthesize_pcm(ref_svecs)
                ref16 = np.clip(
                    np.rint(np.asarray(ref_pcm) * 32768.0), -32768, 32767
                ).astype("<i2")
                got = np.frombuffer(meta["pcm"], "<i2")
                out["doc_id"].append(d)
                out["sample_rate"].append(meta["frame_rate"])
                out["n_frames"].append(nf)
                out["n_samples"].append(meta["n_frames"])
                out["stream_bytes"].append(len(blob))
                out["parity_exact"].append(
                    bool(np.array_equal(got, ref16))
                )
                out["snr_ok"].append(bool(chain_snr() >= 25.0))
            yield pd.DataFrame(out)

    schema = (
        "doc_id long, sample_rate long, n_frames long, n_samples long, "
        "stream_bytes long, parity_exact boolean, snr_ok boolean"
    )
    return docs.mapInPandas(run, schema)


# LSF Table B.8 band boundaries as independent SQL literals (the oracle's
# own copies, mirroring the r16 _MP3Q_* constants): long per rate class
# and TRIPLED short bounds (coded-order line offsets).
_MP3Q_LSF_L22_SQL = (
    "[0, 6, 12, 18, 24, 30, 36, 44, 54, 66, 80, 96, 116, 140, 168, "
    "200, 238, 284, 336, 396, 464, 522, 576]"
)
_MP3Q_LSF_L24_SQL = (
    "[0, 6, 12, 18, 24, 30, 36, 44, 54, 66, 80, 96, 114, 136, 162, "
    "194, 232, 278, 332, 394, 464, 540, 576]"
)
_MP3Q_LSF_L8_SQL = (
    "[0, 12, 24, 36, 48, 60, 72, 88, 108, 132, 160, 192, 232, 280, "
    "336, 400, 476, 566, 568, 570, 572, 574, 576]"
)
_MP3Q_LSF_S22_SQL = (
    "[0, 12, 24, 36, 54, 72, 96, 126, 168, 222, 300, 396, 522, 576]"
)
_MP3Q_LSF_S24_SQL = (
    "[0, 12, 24, 36, 54, 78, 108, 144, 186, 240, 312, 408, 540, 576]"
)
_MP3Q_LSF_S16_SQL = (
    "[0, 12, 24, 36, 54, 78, 108, 144, 186, 240, 312, 402, 522, 576]"
)
_MP3Q_LSF_S8_SQL = (
    "[0, 24, 48, 72, 108, 156, 216, 288, 372, 480, 486, 492, 498, 576]"
)
_MP3Q_PRETAB_SQL = (
    "[0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 2, 2, 3, 3, 3, 2, 0]"
)
_LSF_SHORT_ARR_SQL = f"""CASE b.vr
    WHEN 0 THEN {_MP3Q_LSF_S22_SQL}
    WHEN 1 THEN {_MP3Q_LSF_S24_SQL}
    WHEN 2 THEN {_MP3Q_LSF_S16_SQL}
    WHEN 5 THEN {_MP3Q_LSF_S8_SQL}
    ELSE {_MP3Q_LSF_S24_SQL} END"""


@register(
    "mp3_lsf_decode_features",
    oracle=f"""
    WITH base AS (
        SELECT doc_id AS d,
               CAST(doc_id % 6 AS INTEGER) AS vr,
               CAST(doc_id % 3 AS INTEGER) AS vs,
               7 + doc_id % 5 AS st
        FROM documents
    ), lines AS (
        SELECT b.d, b.vr, b.vs, c.c, g.gi, l.i,
               CASE WHEN b.vs = 1
                    THEN len(list_filter({_LSF_SHORT_ARR_SQL},
                                         x -> x <= l.i))
                    ELSE len(list_filter(CASE b.vr
                                 WHEN 1 THEN {_MP3Q_LSF_L24_SQL}
                                 WHEN 5 THEN {_MP3Q_LSF_L8_SQL}
                                 ELSE {_MP3Q_LSF_L22_SQL} END,
                             x -> x <= l.i))
               END AS lbn,
               CASE WHEN b.vs = 1
                    THEN ({_LSF_SHORT_ARR_SQL}) END AS sarr
        FROM base b,
             LATERAL (SELECT unnest(range(0, 2)) AS c) c,
             LATERAL (SELECT unnest(range(0, 2)) AS gi) g,
             LATERAL (SELECT unnest(range(0, 480)) AS i) l
        WHERE l.i % b.st = 0
          AND l.i < CASE WHEN b.vs = 1 THEN 300 ELSE 480 END
          AND c.c < CASE WHEN b.vs = 2 THEN 2 ELSE 1 END
    ), scaled AS (
        SELECT d, vr, vs, c, gi, i,
               CASE
                 WHEN vs = 1 THEN
                   CASE WHEN lbn - 1 >= 12 THEN 0
                        ELSE (d + gi + (lbn - 1)
                              + (i - sarr[lbn])
                                // ((sarr[lbn + 1] - sarr[lbn]) // 3)
                             ) % 4
                   END
                 WHEN vs = 2 THEN
                   (d + c + gi + lbn - 1) % 4
                   + ({_MP3Q_PRETAB_SQL})[lbn]
                 ELSE
                   CASE WHEN lbn - 1 >= 21 THEN 0
                        ELSE (d + gi + lbn - 1) % 4 END
               END AS sfp
        FROM lines
    )
    SELECT s.d AS doc_id,
           CASE s.vs WHEN 0 THEN 'long_' WHEN 1 THEN 'short_'
                     ELSE 'ms_' END ||
           CAST(([22050, 24000, 16000, 12000, 11025, 8000])[s.vr + 1]
                AS VARCHAR) AS variant,
           CAST(([22050, 24000, 16000, 12000, 11025, 8000])[s.vr + 1]
                AS BIGINT) AS sample_rate,
           CAST(CASE s.vs WHEN 0 THEN 4 WHEN 1 THEN 5 ELSE 2 END
                AS BIGINT) AS n_frames,
           CAST(SUM(POWER(4.0,
                (s.d + s.c + s.gi) % 6 - s.sfp + 6)) AS BIGINT)
               AS xr_energy_q12,
           TRUE AS ms_exact
    FROM scaled s
    GROUP BY s.d, s.vr, s.vs
    ORDER BY doc_id
    """,
)
def mp3_lsf_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MPEG-2 / MPEG-2.5 LSF Layer III sample decode under the
    differential gate (round 17; r16 verdict task 3): docs rotate the
    SIX LSF sampling rates (22.05/24/16 kHz half-rate and 11.025/12/
    8 kHz quarter-rate) against three stream shapes — long-block mono
    (scalefac_compress 202: all four slen groups live), short-block
    mono (the per-window triplet geometry over the LSF short tables)
    and long-block MID/SIDE stereo at scalefac_compress 508 (the
    sfc >= 500 partition whose IMPLIED preflag attenuates by pretab).
    Scalefactors cycle (d[+c]+gi+sfb[+w]) % 4, so the coded-domain
    spectrum energy — in exact 2^-12 units — depends on which LSF
    band each line falls in: the oracle recomputes it from its OWN
    copies of the 13818-3 band boundaries, and any slip in the LSF
    side-info layout (8-bit main_data_begin, one granule, 9-bit sfc),
    the four-slen nsfb partition, the implied preflag, or any of the
    seven LSF band tables breaks the hash or the decode outright.
    ``ms_exact`` pins the MS butterfly's energy preservation.
    Map-only mapInPandas with the standard explicit core fan-out.
    Reference parity: the reference's yt-dlp download path
    (reference repo ``transcribe_audio.py``) constantly yields
    low-rate voice files; this closes the LSF seam engine-side."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        rates = (22050, 24000, 16000, 12000, 11025, 8000)

        def silent(bt: int = 0) -> dict:
            s = {"is": [0] * 576, "global_gain": 210,
                 "scalefac": [0] * 21, "big_values": 0,
                 "scalefac_scale": 1, "scalefac_compress": 0}
            if bt:
                s["block_type"] = bt
                s["subblock_gain"] = [0, 0, 0]
                if bt == 2:
                    s["scalefac_s"] = [[0] * 3 for _ in range(12)]
            return s

        def long_a(dd: int, gi: int, st: int, sfc: int) -> dict:
            iv = [0] * 576
            for i in range(0, 480, st):
                iv[i] = 1 if (i // st + dd + gi) % 2 == 0 else -1
            return {"is": iv, "global_gain": 210 + 4 * ((dd + gi) % 6),
                    "scalefac": [(dd + gi + b) % 4 for b in range(21)],
                    "scalefac_compress": sfc, "big_values": 240,
                    "scalefac_scale": 1}

        def short_a(dd: int, gi: int, st: int) -> dict:
            iv = [0] * 576
            for i in range(0, 300, st):
                iv[i] = 1 if (i // st + dd + gi) % 2 == 0 else -1
            return {"is": iv, "global_gain": 210 + 4 * ((dd + gi) % 6),
                    "scalefac": [0] * 21, "big_values": 150,
                    "scalefac_scale": 1, "scalefac_compress": 202,
                    "block_type": 2, "mixed_block_flag": 0,
                    "subblock_gain": [0, 0, 0],
                    "scalefac_s": [
                        [(dd + gi + sfb + w) % 4 for w in range(3)]
                        for sfb in range(12)
                    ]}

        for pdf in batches:
            out = {
                "doc_id": [], "variant": [], "sample_rate": [],
                "n_frames": [], "xr_energy_q12": [], "ms_exact": [],
            }
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                rate = rates[d % 6]
                vs = d % 3
                st = 7 + d % 5
                if vs == 0:
                    variant = f"long_{rate}"
                    specs = [silent(), long_a(d, 0, st, 202),
                             long_a(d, 1, st, 202), silent()]
                    mode = "mono"
                elif vs == 1:
                    variant = f"short_{rate}"
                    specs = [silent(), silent(1), short_a(d, 0, st),
                             short_a(d, 1, st), silent(3)]
                    mode = "mono"
                else:
                    variant = f"ms_{rate}"
                    # channel-minor: frame f = [ch0 gr, ch1 gr]
                    specs = [long_a(d, 0, st, 508),
                             long_a(d + 1, 0, st, 508),
                             long_a(d, 1, st, 508),
                             long_a(d + 1, 1, st, 508)]
                    mode = "ms_stereo"
                m = _decode_mp3_l3(
                    encode_mp3_lsf(specs, bitrate_index=13, mode=mode,
                                   sample_rate=rate)
                )
                e_coded = sum(
                    sum(x * x for x in g.xr_coded)
                    for g in m["granules"]
                )
                e_post = sum(
                    sum(x * x for x in g.xr) for g in m["granules"]
                )
                out["doc_id"].append(d)
                out["variant"].append(variant)
                out["sample_rate"].append(m["sample_rate"])
                out["n_frames"].append(m["n_frames"])
                out["xr_energy_q12"].append(int(round(4096.0 * e_coded)))
                out["ms_exact"].append(
                    bool(abs(e_post - e_coded)
                         <= 1e-9 * max(1.0, e_coded))
                )
            yield pd.DataFrame(out)

    schema = (
        "doc_id long, variant string, sample_rate long, n_frames long, "
        "xr_energy_q12 long, ms_exact boolean"
    )
    return docs.mapInPandas(run, schema)


@register(
    "mpeg1_layer2_decode_features",
    oracle="""
    SELECT d.doc_id,
           CAST(([48000, 44100, 44100, 32000, 22050, 16000])
                [CAST(d.doc_id % 6 AS INTEGER) + 1] AS BIGINT)
               AS sample_rate,
           CAST(CASE CAST(d.doc_id % 6 AS INTEGER)
                     WHEN 0 THEN 27 WHEN 2 THEN 8 WHEN 3 THEN 12
                     ELSE 30 END AS BIGINT) AS sblimit,
           CAST(2 + d.doc_id % 2 AS BIGINT) AS n_frames,
           CAST((2 + d.doc_id % 2) * 1152 + 512 AS BIGINT) AS n_samples,
           CAST((2 + d.doc_id % 2)
                * (144 * (CASE WHEN d.doc_id % 6 < 2 THEN 192000
                               WHEN d.doc_id % 6 < 4 THEN 48000
                               ELSE 96000 END)
                   // ([48000, 44100, 44100, 32000, 22050, 16000])
                      [CAST(d.doc_id % 6 AS INTEGER) + 1])
                AS BIGINT) AS stream_bytes,
           TRUE AS parity_exact,
           TRUE AS snr_ok
    FROM documents d
    ORDER BY d.doc_id
    """,
)
def mpeg1_layer2_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MPEG-1 LAYER II sample decode under the differential gate (round
    17): per doc a deterministic stream — Table B.2 allocation codes,
    all four 2-bit scfsi sharing patterns, Table B.1 scalefactor
    indices and classed sample values, all closed-form over (doc,
    frame, granule, band) — is assembled by
    :func:`encode_mpeg1_layer2` and decoded through
    :func:`decode_media`'s routed Layer II path. The doc_id % 6
    profiles cover ALL FIVE allocation tables (B.2a at 48 kHz/192
    kbps, B.2b at 44.1/192, B.2c at 44.1/48, B.2d at 32/48, and the
    MPEG-2 LSF Table B.1 at both 22.05/96 and 16/96) and hence the
    section 2.4.2.7 selection rules plus the version routing; docs
    with d % 5 == 4 on the wide-table profiles additionally encode
    JOINT (intensity) stereo with the (mode_extension+1)*4 bound —
    one sample triplet above the bound, per-channel scalefactors.
    ``parity_exact`` asserts the
    decoded PCM is BIT-IDENTICAL to synthesizing the independently
    recomputed subband values through the filterbank — it pins the
    allocation walk, scfsi/scalefactor layout, grouped base-n
    degrouping and bit packing; the offset-binary wire convention the
    Table B.4 requantizer shares with Layer I is pinned by the
    hard-coded constants in tests/test_multimodal.py (wire-convention
    test). ``snr_ok`` runs a REAL sine through the analysis bank + the
    14-bit class quantizer and asserts >= 25 dB reconstruction.
    Geometry hashes against the 144*kbps/sr slot-framing closed forms.
    Map-only mapInPandas with the standard explicit core fan-out.
    Reference parity: the reference decodes downloaded audio with
    external tools (reference ``transcribe_audio.py``); this closes
    the last MPEG-1 audio layer engine-side."""
    import numpy as np

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        profiles = (  # (rate, bitrate_index) -> B.2a/b/c/d + LSF B.1 x2
            (48000, 10), (44100, 10), (44100, 2), (32000, 2),
            (22050, 10), (16000, 10),
        )

        def eff_scf(idx: tuple, si: int) -> tuple:
            if si == 0:
                return idx
            if si == 1:
                return (idx[0], idx[0], idx[2])
            if si == 3:
                return (idx[0], idx[1], idx[1])
            return (idx[0], idx[0], idx[0])

        def frame_spec(d: int, f: int, tab: tuple, c: int = 0) -> dict:
            sblimit = len(tab)
            alloc, scfsi, scf, samples = [], [], [], []
            for sb in range(sblimit):
                nbal = _mp2_nbal(tab[sb])
                a = (
                    (d + c + sb + f) % min(4, (1 << nbal) - 1)
                    if (sb + d + c + f) % 3 else 0
                )
                alloc.append(a)
                scfsi.append((d + c + sb) % 4)
                scf.append((
                    (3 * (d + c + sb)) % 63, (d + c + 2 * sb) % 63,
                    (2 * d + c + 5 * sb) % 63,
                ))
            for gr in range(12):
                row = []
                for sb in range(sblimit):
                    a = alloc[sb]
                    if a:
                        n = _MP2_QC[tab[sb][a - 1]][0]
                        row.append((
                            (7 * d + 13 * gr + sb + c) % n,
                            (11 * d + 3 * gr + 5 * sb) % n,
                            (5 * d + gr + 2 * sb + c) % n,
                        ))
                    else:
                        row.append((0, 0, 0))
                samples.append(row)
            return {"alloc": alloc, "scfsi": scfsi, "scf_idx": scf,
                    "samples": samples}

        def expected_one(sp: dict, tab: tuple,
                         samples_src: list | None = None) -> list:
            # vectorized closed form (round 17): identical IEEE ops in
            # the scalar loop's order — (sf * C) * ((v / 2^(nb-1) -
            # 1.0) + D) elementwise over the (granule, k, subband)
            # block; unallocated subbands stay exactly 0.0
            src = samples_src if samples_src is not None else sp["samples"]
            out = np.zeros((12, 3, 32))
            sbs = [sb for sb in range(len(tab)) if sp["alloc"][sb]]
            if sbs:
                Cs, Ds, divs = [], [], []
                sfv = np.empty((3, len(sbs)))
                for i, sb in enumerate(sbs):
                    _n, _w, _g, C, D, nb = _MP2_QC[
                        tab[sb][sp["alloc"][sb] - 1]
                    ]
                    Cs.append(C)
                    Ds.append(D)
                    divs.append(float(1 << (nb - 1)))
                    eff = eff_scf(sp["scf_idx"][sb], sp["scfsi"][sb])
                    for part in range(3):
                        sfv[part, i] = _mp1_scalefactor(eff[part])
                A = np.asarray(src, dtype=np.float64)[:, sbs, :]
                Vt = A.transpose(0, 2, 1)            # (12, k, sb)
                part_idx = np.arange(12) >> 2
                out[:, :, sbs] = (
                    sfv[part_idx][:, None, :] * np.asarray(Cs)
                ) * (
                    Vt / np.asarray(divs) - 1.0 + np.asarray(Ds)
                )
            return out.reshape(36, 32).tolist()

        def expected_svecs(specs: list, tab: tuple) -> list:
            out = []
            for sp in specs:
                out.extend(expected_one(sp, tab))
            return out

        # the SNR leg is doc-independent: compute once per executor
        snr_cache = {}

        def chain_snr() -> float:
            if "v" in snr_cache:
                return snr_cache["v"]
            tab = _MP2_ALLOC_TABLES["a"]
            n, _w, _g, C, D, nb = _MP2_QC[tab[0][12]]  # code 13: 16383
            t = np.arange(1152 * 4) / 48000.0
            src = 0.6 * np.sin(2 * np.pi * 700.0 * t)
            svecs, _ = mp3_analysis_filterbank(src)
            frames = []
            for f in range(4):
                samples = []
                for gr in range(12):
                    row = [(0, 0, 0)] * 27
                    for sb in range(3):
                        vals = []
                        for k in range(3):
                            S = svecs[f * 36 + 3 * gr + k]
                            s = float(np.clip(S[sb] / 2.0, -0.99, 0.99))
                            v = int(np.floor(
                                (s / C - D + 1.0) * (1 << (nb - 1)) + 0.5
                            ))
                            vals.append(max(0, min(n - 1, v)))
                        row[sb] = tuple(vals)
                    samples.append(row)
                frames.append({
                    "alloc": [13, 13, 13] + [0] * 24,
                    "scfsi": [0] * 27,
                    "scf_idx": [(0, 0, 0)] * 27,
                    "samples": samples,
                })
            out = decode_mpeg1_layer2(
                encode_mpeg1_layer2(frames, bitrate_index=10,
                                    sample_rate=48000)
            )["pcm_f"][0]
            best = -1e9
            for dshift in range(450, 620):
                m = len(src) - dshift
                e = out[dshift: dshift + m] - src[:m]
                v = 10 * np.log10(
                    np.sum(src[:m] ** 2) / max(np.sum(e ** 2), 1e-12)
                )
                best = max(best, v)
            snr_cache["v"] = best
            return best

        for pdf in batches:
            out = {
                "doc_id": [], "sample_rate": [], "sblimit": [],
                "n_frames": [], "n_samples": [], "stream_bytes": [],
                "parity_exact": [], "snr_ok": [],
            }
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                rate, bi = profiles[d % 6]
                lsf = rate in (22050, 24000, 16000)
                tab = _MP2_ALLOC_TABLES[
                    "lsf" if lsf else
                    _mp2_table_select(_MP2_KBPS[bi - 1], 1, rate)
                ]
                sblimit = len(tab)
                nf = 2 + d % 2
                joint = d % 6 in (0, 1, 4, 5) and d % 5 == 4
                if joint:
                    bound = 4 * (d % 4 + 1)
                    eb = min(bound, sblimit)
                    specs = []
                    for f in range(nf):
                        c0 = frame_spec(d, f, tab, 0)
                        c1 = frame_spec(d, f, tab, 1)
                        for sb in range(eb, sblimit):
                            c1["alloc"][sb] = c0["alloc"][sb]
                        specs.append({
                            "alloc": [c0["alloc"], c1["alloc"]],
                            "scfsi": [c0["scfsi"], c1["scfsi"]],
                            "scf_idx": [c0["scf_idx"], c1["scf_idx"]],
                            "samples": [c0["samples"], c1["samples"]],
                            "bound": bound, "_chs": (c0, c1),
                        })
                    blob = encode_mpeg1_layer2(
                        specs, bitrate_index=bi, sample_rate=rate,
                        mode="joint", use_crc=(d % 7 == 5),
                    )
                    meta = decode_media(blob, "audio")
                    refs = []
                    for c in range(2):
                        sv = []
                        for sp in specs:
                            c0, c1 = sp["_chs"]
                            cs = (c0, c1)[c]
                            src = [
                                [c0["samples"][gr][sb] if sb >= eb
                                 else cs["samples"][gr][sb]
                                 for sb in range(sblimit)]
                                for gr in range(12)
                            ]
                            sv.extend(expected_one(cs, tab, src))
                        pc, _ = mp3_synthesize_pcm(
                            sv + [[0.0] * 32] * 16
                        )
                        refs.append(pc)
                    ref_pcm = np.stack(refs, axis=1).reshape(-1)
                else:
                    specs = [frame_spec(d, f, tab) for f in range(nf)]
                    # CRC-protected every seventh doc (round 17) — see
                    # the Layer I gate note; oracle-invariant
                    blob = encode_mpeg1_layer2(
                        specs, bitrate_index=bi, sample_rate=rate,
                        use_crc=(d % 7 == 5),
                    )
                    meta = decode_media(blob, "audio")  # routed path
                    ref_svecs = (
                        expected_svecs(specs, tab) + [[0.0] * 32] * 16
                    )
                    ref_pcm, _ = mp3_synthesize_pcm(ref_svecs)
                ref16 = np.clip(
                    np.rint(np.asarray(ref_pcm) * 32768.0),
                    -32768, 32767,
                ).astype("<i2")
                got = np.frombuffer(meta["pcm"], "<i2")
                out["doc_id"].append(d)
                out["sample_rate"].append(meta["frame_rate"])
                out["sblimit"].append(len(tab))
                out["n_frames"].append(nf)
                out["n_samples"].append(meta["n_frames"])
                out["stream_bytes"].append(len(blob))
                out["parity_exact"].append(
                    bool(meta["codec"] == "mp2")
                    and bool(np.array_equal(got, ref16))
                )
                out["snr_ok"].append(bool(chain_snr() >= 25.0))
            yield pd.DataFrame(out)

    schema = (
        "doc_id long, sample_rate long, sblimit long, n_frames long, "
        "n_samples long, stream_bytes long, parity_exact boolean, "
        "snr_ok boolean"
    )
    return docs.mapInPandas(run, schema)


@register(
    "adts_probe_features",
    oracle="""
    WITH base AS (
        SELECT doc_id AS d,
               3 + doc_id % 4 AS nf,
               ([96000, 88200, 64000, 48000, 44100, 32000, 24000, 22050,
                 16000, 12000, 11025, 8000, 7350])
                   [CAST(doc_id % 13 AS INTEGER) + 1] AS sr,
               1 + doc_id % 3 AS ch,
               doc_id % 2 = 1 AS crc,
               doc_id % 5 = 0 AS cbr
        FROM documents
    ), sz AS (
        SELECT b.d,
               SUM(CASE WHEN b.cbr THEN 40 ELSE 40 + (b.d + k.k) % 25 END
                   + CASE WHEN b.crc THEN 9 ELSE 7 END) AS total_bytes
        FROM base b,
             LATERAL (SELECT unnest(range(0, b.nf)) AS k) k
        GROUP BY b.d
    )
    SELECT b.d AS doc_id,
           CAST(b.sr AS BIGINT) AS sample_rate,
           CAST(b.ch AS BIGINT) AS n_channels,
           CAST(b.nf AS BIGINT) AS adts_frames,
           CAST(1024 * b.nf AS BIGINT) AS n_samples,
           CAST(1024 * b.nf * 1000 // b.sr AS BIGINT) AS duration_ms,
           CAST(s.total_bytes * 8 * b.sr // (1024 * b.nf * 1000)
                AS BIGINT) AS mean_bitrate_kbps,
           NOT b.cbr AS vbr,
           CAST(CASE WHEN b.crc THEN b.nf ELSE 0 END AS BIGINT)
               AS crc_frames
    FROM base b JOIN sz s ON s.d = b.d
    ORDER BY doc_id
    """,
)
def adts_probe_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADTS (raw AAC transport) container probing under the
    differential gate (round 16): per doc a REAL ADTS stream — frame
    count, sampling index sweeping the whole 14496-3 rate table,
    channel configuration, CRC-protected and unprotected headers,
    constant- and variable-size frames — is written by
    :func:`encode_adts` and walked back by the probe; every header
    field, the 13-bit length chain, the 1024-samples-per-block
    arithmetic and the derived duration/bitrate hash against closed
    forms. Sample decode is the named AAC codec seam; this is the
    ffprobe-shaped half a pipeline needs to route and budget those
    files. Map-only mapInPandas with the standard core fan-out."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            out = {
                "doc_id": [], "sample_rate": [], "n_channels": [],
                "adts_frames": [], "n_samples": [], "duration_ms": [],
                "mean_bitrate_kbps": [], "vbr": [], "crc_frames": [],
            }
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                nf = 3 + d % 4
                cbr = d % 5 == 0
                payloads = [
                    bytes((11 * d + 7 * k + j) % 256 for j in range(
                        40 if cbr else 40 + (d + k) % 25
                    ))
                    for k in range(nf)
                ]
                blob = encode_adts(
                    payloads, sr_index=d % 13, channels=1 + d % 3,
                    with_crc=(d % 2 == 1),
                )
                m = probe_audio(blob)  # REAL ADTS header walk
                out["doc_id"].append(d)
                out["sample_rate"].append(m["sample_rate"])
                out["n_channels"].append(m["n_channels"])
                out["adts_frames"].append(m["adts_frames"])
                out["n_samples"].append(m["n_frames"])
                out["duration_ms"].append(m["duration_ms"])
                out["mean_bitrate_kbps"].append(m["mean_bitrate_kbps"])
                out["vbr"].append(m["vbr"])
                out["crc_frames"].append(m["crc_frames"])
            yield pd.DataFrame(out)

    schema = (
        "doc_id long, sample_rate long, n_channels long, "
        "adts_frames long, n_samples long, duration_ms long, "
        "mean_bitrate_kbps long, vbr boolean, crc_frames long"
    )
    return docs.mapInPandas(run, schema)


@register(
    "ogg_probe_features",
    oracle="""
    WITH p AS (
        SELECT d.doc_id,
               (d.doc_id % 2 = 0) AS is_opus,
               5 + d.doc_id % 7 AS na,
               CASE WHEN d.doc_id % 2 = 0 THEN 48000
                    WHEN d.doc_id % 4 = 1 THEN 22050
                    ELSE 44100 END AS rate
        FROM documents d
    ),
    b AS (
        SELECT p.doc_id,
               SUM(40 + (p.doc_id + i.i) % 50) AS audio_bytes
        FROM p,
             LATERAL (SELECT unnest(generate_series(0, p.na - 1)) AS i) i
        GROUP BY p.doc_id
    )
    SELECT p.doc_id,
           CASE WHEN is_opus THEN 'opus' ELSE 'vorbis' END AS codec,
           CAST(CASE WHEN p.doc_id % 3 = 0 THEN 2 ELSE 1 END
                AS BIGINT) AS n_channels,
           CAST(rate AS BIGINT) AS sample_rate,
           CAST(2 + (na + 2) // 3 AS BIGINT) AS n_pages,
           CAST(na + CASE WHEN is_opus THEN 2 ELSE 3 END
                AS BIGINT) AS n_packets,
           CAST(na * CASE WHEN is_opus THEN 960 ELSE 512 END
                AS BIGINT) AS n_samples,
           CAST(na * CASE WHEN is_opus THEN 960 ELSE 512 END
                * 1000 // rate AS BIGINT) AS duration_ms,
           CAST(27 * (2 + (na + 2) // 3) + na
                + CASE WHEN is_opus THEN 44 ELSE 76 END
                + b.audio_bytes AS BIGINT) AS ogg_bytes
    FROM p JOIN b USING (doc_id)
    ORDER BY p.doc_id
    """,
)
def ogg_probe_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ogg container probe under the differential gate (round 17): per
    doc a REAL RFC 3533 stream — OpusHead (even docs) or a Vorbis ident
    header (odd docs), a comment header (+ the Vorbis setup packet),
    then 5-11 opaque audio packets laced three per page with real
    per-page CRC-32s and granule positions — is assembled by
    :func:`encode_ogg` and walked back by :func:`probe_audio`'s OggS
    arm, which validates EVERY page's magic, version and CRC, counts
    pages and completed packets continuation-aware, routes the codec
    from the first packet's magic, and derives duration from the final
    granule (Opus granules run at 48 kHz and include the pre-skip,
    subtracted per RFC 7845 §4). Every geometry column — page count,
    packet count, sample count, duration, total container bytes — is
    recomputed by the oracle closed-form, so a lacing slip, a wrong
    header-page split, a CRC over the wrong span, or a pre-skip sign
    error breaks the hash. Sample decode of the packet payloads is the
    named external-codec seam. Map-only mapInPandas with the standard
    core fan-out."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            out = {
                "doc_id": [], "codec": [], "n_channels": [],
                "sample_rate": [], "n_pages": [], "n_packets": [],
                "n_samples": [], "duration_ms": [], "ogg_bytes": [],
            }
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                opus = d % 2 == 0
                ch = 2 if d % 3 == 0 else 1
                na = 5 + d % 7
                audio = [
                    bytes([(d + i) % 256]) * (40 + (d + i) % 50)
                    for i in range(na)
                ]
                if opus:
                    pre = 312
                    pk = [
                        make_opus_head(
                            channels=ch, pre_skip=pre, input_rate=44100
                        ),
                        b"OpusTags" + (7).to_bytes(4, "little")
                        + b"fixture" + (0).to_bytes(4, "little"),
                    ] + audio
                    nh, spp = 2, 960
                    grans = [
                        pre + spp * min(na, 3 * (k + 1))
                        for k in range((na + 2) // 3)
                    ]
                else:
                    rate = 22050 if d % 4 == 1 else 44100
                    pk = [
                        make_vorbis_ident(channels=ch, rate=rate),
                        b"\x03vorbis" + bytes(8) + b"\x01",
                        b"\x05vorbis" + bytes(20),
                    ] + audio
                    nh, spp = 3, 512
                    grans = [
                        spp * min(na, 3 * (k + 1))
                        for k in range((na + 2) // 3)
                    ]
                blob = encode_ogg(
                    pk, grans, n_header_packets=nh, audio_per_page=3
                )
                m = probe_audio(blob)  # REAL page walk + CRC + ident
                out["doc_id"].append(d)
                out["codec"].append(m["codec"])
                out["n_channels"].append(m["n_channels"])
                out["sample_rate"].append(m["sample_rate"])
                out["n_pages"].append(m["ogg_pages"])
                out["n_packets"].append(m["ogg_packets"])
                out["n_samples"].append(m["n_frames"])
                out["duration_ms"].append(m["duration_ms"])
                out["ogg_bytes"].append(len(blob))
            yield pd.DataFrame(out)

    schema = (
        "doc_id long, codec string, n_channels long, sample_rate long, "
        "n_pages long, n_packets long, n_samples long, duration_ms long, "
        "ogg_bytes long"
    )
    return docs.mapInPandas(run, schema)


def _vorbis_fixture_plan(d: int):
    """Deterministic per-doc Vorbis fixture plan shared by the gate's
    encode and its primitive-layer re-synthesis: frame blockflags,
    per-channel floor Y values, residue classes and VQ entries. The
    pytest suite re-derives the same plan INDEPENDENTLY and synthesizes
    expected PCM with its own numpy floor/IMDCT/window code."""
    ch = 1 + d % 2
    rtype = d % 3
    coupling = d % 4 == 3
    partitioned = d % 5 == 2
    silent = d % 7 == 3
    K = 4 + d % 3
    flags = [(d + k) % 2 for k in range(K)]
    frames = []
    for f, bf in enumerate(flags):
        n2 = (256 if bf else 64) // 2
        floors = []
        for c in range(ch):
            if silent and c == ch - 1 and f % 2 == 0:
                floors.append(None)
                continue
            if partitioned:
                cval = (d + f + c) % 4
                floors.append({"cval": cval, "y": [
                    (3 * d + 7 * f + c) % 128,
                    (5 * d + 11 * f + 3 * c) % 128,
                    ((2 * d + f) % 8) if (cval & 1) else 0,
                    ((3 * d + 2 * f) % 8) if (cval & 2) else 0,
                ]})
            else:
                floors.append({"y": [(3 * d + 7 * f + c) % 256,
                                     (5 * d + 11 * f + 3 * c) % 256]})
        no_res = [fl is None for fl in floors]
        if coupling and not all(no_res):
            no_res = [False] * ch
        if rtype == 2:
            vecs = 0 if all(no_res) else 1
            vlen = ch * n2
        else:
            vecs = sum(1 for x in no_res if not x)
            vlen = n2
        res_cls, res_ent = [], []
        for vi in range(vecs):
            parts = vlen // 8
            cls = [(d + f + p + vi) % 2 for p in range(parts)]
            ent = {p: [(13 * d + 5 * f + 7 * p + 3 * s + vi) % 16
                       for s in range(4)]
                   for p in range(parts) if cls[p] == 1}
            res_cls.append(cls)
            res_ent.append(ent)
        frames.append({"blockflag": bf, "floors": floors,
                       "res_cls": res_cls, "res_ent": res_ent})
    return {
        "channels": ch, "rtype": rtype, "coupling": coupling,
        "partitioned": partitioned, "silent": silent, "flags": flags,
        "frames": frames, "rate": 8000 + (d % 3) * 4000,
    }


def _vorbis_plan_synthesis(plan: dict):
    """Expected PCM from the plan via the PRIMITIVE layer only —
    floor-1 synthesis, IMDCT, window, absolute-time OLA — with no
    bitstream in the loop. Comparing :func:`_decode_vorbis_float`
    against this certifies the entire bitstream layer (LSB packing,
    codeword assignment/decode, VQ lookup, residue control flow,
    coupling wiring, granule math); the primitive layer itself is
    certified in tests against an independent numpy synthesis plus the
    spec's external anchors (codeword worked example, TDAC perfect
    reconstruction, published inverse-dB entries)."""
    import numpy as np

    ch = plan["channels"]
    rtype = plan["rtype"]
    flags = plan["flags"]
    fl_simple = {"type": 1, "partition_classes": [], "class_dims": [],
                 "class_subclasses": [], "masterbooks": [],
                 "subclass_books": [], "multiplier": 1, "rangebits": 6,
                 "xlist": [0, 64]}
    fl_part = {"type": 1, "partition_classes": [0], "class_dims": [2],
               "class_subclasses": [1], "masterbooks": [2],
               "subclass_books": [[-1, 3]], "multiplier": 2,
               "rangebits": 6, "xlist": [0, 64, 16, 40]}
    fl = fl_part if plan["partitioned"] else fl_simple
    sizes = [256 if bf else 64 for bf in flags]
    starts = [0]
    for k in range(len(sizes) - 1):
        starts.append(starts[k] + 3 * sizes[k] // 4 - sizes[k + 1] // 4)
    base = -min(0, min(starts))
    acc = np.zeros((ch, base + max(s + n for s, n in zip(starts, sizes))))
    centers = []
    for f, bf in enumerate(flags):
        n = sizes[f]
        n2 = n // 2
        fr = plan["frames"][f]
        vlen = ch * n2 if rtype == 2 else n2
        rv = []
        for vi in range(len(fr["res_cls"])):
            v = np.zeros(vlen)
            for p, cls in enumerate(fr["res_cls"][vi]):
                if cls != 1:
                    continue
                for k4, e in enumerate(fr["res_ent"][vi][p]):
                    a, b = e // 4 - 2, e % 4 - 2
                    if rtype == 0:
                        v[p * 8 + k4] += a
                        v[p * 8 + k4 + 4] += b
                    else:
                        v[p * 8 + 2 * k4] += a
                        v[p * 8 + 2 * k4 + 1] += b
            rv.append(v)
        res = [np.zeros(n2) for _ in range(ch)]
        if rtype == 2:
            if rv:
                for c in range(ch):
                    res[c] = rv[0][c::ch].copy()
        else:
            vi = 0
            no_res = [x is None for x in fr["floors"]]
            if plan["coupling"] and not all(no_res):
                no_res = [False] * ch
            for c in range(ch):
                if not no_res[c]:
                    res[c] = rv[vi]
                    vi += 1
        if plan["coupling"]:
            M, A = res[0], res[1]
            nM, nA = M.copy(), A.copy()
            pos = M > 0
            ap = A > 0
            nA[pos & ap] = (M - A)[pos & ap]
            nM[pos & ~ap] = (M + A)[pos & ~ap]
            nA[pos & ~ap] = M[pos & ~ap]
            nA[~pos & ap] = (M + A)[~pos & ap]
            nM[~pos & ~ap] = (M - A)[~pos & ~ap]
            nA[~pos & ~ap] = M[~pos & ~ap]
            res = [nM, nA]
        pl = bool(flags[f - 1]) if f > 0 else True
        nl = bool(flags[f + 1]) if f + 1 < len(flags) else True
        if not bf:
            pl = nl = True
        w = _vorbis_window(n, pl, nl, 64)
        for c in range(ch):
            if fr["floors"][c] is None:
                continue
            curve = _floor1_synthesis(fl, fr["floors"][c]["y"], n2)
            acc[c, base + starts[f]: base + starts[f] + n] += (
                w * _imdct(curve * res[c], n)
            )
        centers.append(base + starts[f] + n // 2)
    return acc[:, centers[0]: centers[-1]]


@register(
    "vorbis_decode_features",
    oracle="""
    WITH p AS (
        SELECT d.doc_id,
               4 + d.doc_id % 3 AS nf,
               CAST(1 + d.doc_id % 2 AS BIGINT) AS ch,
               CAST(8000 + (d.doc_id % 3) * 4000 AS BIGINT) AS rate
        FROM documents d
    ),
    h AS (
        SELECT p.doc_id,
               CAST(SUM((64 + 192 * ((p.doc_id + k.k - 1) % 2)
                    + 64 + 192 * ((p.doc_id + k.k) % 2)) // 4)
                   AS BIGINT) AS n_samples
        FROM p,
             LATERAL (SELECT unnest(generate_series(1, p.nf - 1)) AS k) k
        GROUP BY p.doc_id
    )
    SELECT p.doc_id,
           CAST(p.doc_id % 3 AS BIGINT) AS residue_type,
           (p.doc_id % 4 = 3) AS coupled,
           (p.doc_id % 5 = 2) AS floor_partitioned,
           p.ch AS n_channels,
           p.rate AS sample_rate,
           h.n_samples,
           CAST(2 + (p.nf + 2) // 3 AS BIGINT) AS n_pages,
           CAST(3 + p.nf AS BIGINT) AS n_packets,
           TRUE AS pcm_matches_plan,
           TRUE AS probe_agrees
    FROM p JOIN h USING (doc_id)
    ORDER BY p.doc_id
    """,
)
def vorbis_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Ogg Vorbis sample decode under the differential gate
    (round 17; closes the Vorbis half of the Ogg named seam): per doc a
    conforming Vorbis I stream — self-describing codebooks, floor 1
    (simple two-point line, or every fifth doc the partitioned
    masterbook/subclass form), residue type cycling 0/1/2 by doc,
    stereo with square-polar coupling every fourth doc, a silent
    channel every seventh, and a mixed 64/256 blockflag pattern so
    short/long lapping (including the negative-start long-after-short
    window) is always live — is assembled by :func:`encode_vorbis` and
    decoded back by :func:`_decode_vorbis_float` (LSB-first packing,
    spec codeword assignment, VQ lookup types, floor amplitude fit +
    inverse-dB curve, residue cascade/classword control flow, inverse
    coupling, IMDCT + windowed overlap-add, granule trim).
    ``pcm_matches_plan`` pins the decode BIT-EXACTLY (<=1e-12) against
    :func:`_vorbis_plan_synthesis`, which rebuilds expected PCM from
    the plan through the primitive layer with no bitstream in the loop
    — any slip in the bitstream layer breaks it; the primitive layer is
    itself certified in tests against an independent numpy synthesis
    and the spec's external anchors (§3.2.1 worked example, TDAC
    perfect reconstruction at scale 4/n, published inverse-dB table
    entries). The oracle recomputes n_samples from the lapping
    arithmetic — hop (n_prev+n_cur)/4 per frame — plus page/packet
    counts from the mux plan. Map-only mapInPandas with the standard
    core fan-out."""
    import numpy as np

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            out = {
                "doc_id": [], "residue_type": [], "coupled": [],
                "floor_partitioned": [], "n_channels": [],
                "sample_rate": [], "n_samples": [], "n_pages": [],
                "n_packets": [], "pcm_matches_plan": [],
                "probe_agrees": [],
            }
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                plan = _vorbis_fixture_plan(d)
                blob = encode_vorbis(
                    plan["frames"], channels=plan["channels"],
                    rate=plan["rate"], residue_type=plan["rtype"],
                    coupling=plan["coupling"],
                    floor_partitioned=plan["partitioned"],
                )
                pcm, st = _decode_vorbis_float(blob)  # REAL decode
                exp = _vorbis_plan_synthesis(plan)
                probe = _probe_ogg(blob)  # REAL page walk + CRC
                out["doc_id"].append(d)
                out["residue_type"].append(plan["rtype"])
                out["coupled"].append(plan["coupling"])
                out["floor_partitioned"].append(plan["partitioned"])
                out["n_channels"].append(plan["channels"])
                out["sample_rate"].append(st["rate"])
                out["n_samples"].append(pcm.shape[1])
                out["n_pages"].append(probe["ogg_pages"])
                out["n_packets"].append(probe["ogg_packets"])
                out["pcm_matches_plan"].append(bool(
                    pcm.shape == exp.shape
                    and float(np.abs(pcm - exp).max()) <= 1e-12
                ))
                out["probe_agrees"].append(
                    probe["n_frames"] == pcm.shape[1]
                    and probe["codec"] == "vorbis"
                )
            yield pd.DataFrame(out)

    schema = (
        "doc_id long, residue_type long, coupled boolean, "
        "floor_partitioned boolean, n_channels long, sample_rate long, "
        "n_samples long, n_pages long, n_packets long, "
        "pcm_matches_plan boolean, probe_agrees boolean"
    )
    return docs.mapInPandas(run, schema)


@register(
    "wav_ext_decode_features",
    oracle="""
    WITH p AS (
        SELECT d.doc_id,
               CAST(d.doc_id % 4 AS INTEGER) AS v,
               160 + (d.doc_id % 7) * 16 AS n,
               CASE WHEN d.doc_id % 3 = 0 THEN 2 ELSE 1 END AS ch,
               CASE CAST(d.doc_id % 3 AS INTEGER)
                    WHEN 0 THEN 16000 WHEN 1 THEN 22050
                    ELSE 48000 END AS rate
        FROM documents d
    ),
    s AS (
        SELECT p.doc_id, p.v, p.n, p.ch, p.rate,
               CASE WHEN p.v = 2 THEN
                   CASE WHEN xor((17 * p.doc_id + 31 * j.j) % 256, 85)
                             >= 128 THEN 1 ELSE -1 END *
                   CASE WHEN (xor((17 * p.doc_id + 31 * j.j) % 256, 85)
                              // 16) % 8 = 0
                            THEN (xor((17 * p.doc_id + 31 * j.j) % 256,
                                      85) % 16) * 16 + 8
                        WHEN (xor((17 * p.doc_id + 31 * j.j) % 256, 85)
                              // 16) % 8 = 1
                            THEN (xor((17 * p.doc_id + 31 * j.j) % 256,
                                      85) % 16) * 16 + 264
                        ELSE ((xor((17 * p.doc_id + 31 * j.j) % 256, 85)
                               % 16) * 16 + 264)
                             * (1 << ((xor((17 * p.doc_id + 31 * j.j)
                                           % 256, 85) // 16) % 8 - 1))
                   END
               ELSE (11 * p.doc_id + 7 * j.j) % 2001 - 1000
               END AS s
        FROM p,
             LATERAL (SELECT unnest(generate_series(
                 0, p.n * p.ch - 1)) AS j) j
    )
    SELECT doc_id,
           CASE v WHEN 0 THEN 'ext_pcm16' WHEN 1 THEN 'ext_f32'
                  WHEN 2 THEN 'ext_alaw' ELSE 'rf64_pcm16' END AS variant,
           CAST(n AS BIGINT) AS n_frames,
           CAST(rate AS BIGINT) AS frame_rate,
           CAST(ch AS BIGINT) AS n_channels,
           CAST(CASE WHEN ch = 2 THEN 3 ELSE 4 END AS BIGINT)
               AS channel_mask,
           CAST(2 AS BIGINT) AS sample_width,
           CAST(SUM(ABS(s)) // (n * ch) AS BIGINT) AS mean_abs,
           CAST(MAX(ABS(s)) AS BIGINT) AS peak,
           CAST(SUM(s * s) // (n * ch) AS BIGINT) AS energy_mean
    FROM s GROUP BY doc_id, v, n, ch, rate ORDER BY doc_id
    """,
)
def wav_ext_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAVE_FORMAT_EXTENSIBLE and RF64 — the two container forms modern
    WAV writers emit — under the differential gate (round 17): per doc
    a closed-form signal is wrapped as extensible PCM16 / extensible
    IEEE float32 / extensible A-law (closed-form CODE bytes, expanded
    in SQL exactly as the g711 gate does) / RF64 PCM16 with 0xFFFFFFFF
    size sentinels resolved through the mandatory ds64 chunk, and
    decoded back through :func:`decode_media`'s WAV arm, which resolves
    the SubFormat GUID's embedded tag (tail validated) and dispatches
    the SAME per-codec arms as classic WAVs. ``channel_mask`` is read
    back from the extension, and exact integer signal statistics hash
    against the oracle's recomputation — a GUID slip, ds64 misread, or
    sentinel mishandling breaks the decode outright. Map-only
    mapInPandas with the standard explicit core fan-out."""
    import numpy as np

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        names = ("ext_pcm16", "ext_f32", "ext_alaw", "rf64_pcm16")
        rates = (16000, 22050, 48000)
        for pdf in batches:
            out = {
                "doc_id": [], "variant": [], "n_frames": [],
                "frame_rate": [], "n_channels": [], "channel_mask": [],
                "sample_width": [], "mean_abs": [], "peak": [],
                "energy_mean": [],
            }
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                v = d % 4
                ch = 2 if d % 3 == 0 else 1
                rate = rates[d % 3]
                n = 160 + (d % 7) * 16
                mask = 0x3 if ch == 2 else 0x4
                j = np.arange(n * ch, dtype=np.int64)
                src = ((11 * d + 7 * j) % 2001 - 1000).astype(np.int16)
                if v == 0:
                    blob = encode_wav_extensible(
                        src.astype("<i2").tobytes(), _WAVE_FORMAT_PCM,
                        ch, rate, 16, channel_mask=mask,
                    )
                elif v == 1:
                    f = (
                        src.astype(np.float32) / np.float32(32768.0)
                    ).astype("<f4").tobytes()
                    blob = encode_wav_extensible(
                        f, _WAVE_FORMAT_IEEE_FLOAT, ch, rate, 32,
                        channel_mask=mask,
                    )
                elif v == 2:
                    codes = (
                        (17 * d + 31 * j) % 256
                    ).astype(np.uint8).tobytes()
                    blob = encode_wav_extensible(
                        codes, _WAVE_FORMAT_ALAW, ch, rate, 8,
                        valid_bits=8, channel_mask=mask,
                    )
                else:
                    blob = encode_wav_extensible(
                        src.astype("<i2").tobytes(), _WAVE_FORMAT_PCM,
                        ch, rate, 16, channel_mask=mask, n_frames=n,
                        rf64=True,
                    )
                meta = decode_media(blob, "audio")  # REAL container walk
                pcm = np.frombuffer(meta["pcm"], "<i2").astype(np.int64)
                w = _parse_wav_chunks(blob)
                out["doc_id"].append(d)
                out["variant"].append(names[v])
                out["n_frames"].append(meta["n_frames"])
                out["frame_rate"].append(meta["frame_rate"])
                out["n_channels"].append(meta["n_channels"])
                out["channel_mask"].append(w["channel_mask"])
                out["sample_width"].append(meta["sample_width"])
                out["mean_abs"].append(int(np.abs(pcm).sum()) // len(pcm))
                out["peak"].append(int(np.abs(pcm).max()))
                out["energy_mean"].append(int((pcm * pcm).sum()) // len(pcm))
            yield pd.DataFrame(out)

    schema = (
        "doc_id long, variant string, n_frames long, frame_rate long, "
        "n_channels long, channel_mask long, sample_width long, "
        "mean_abs long, peak long, energy_mean long"
    )
    return docs.mapInPandas(run, schema)


@register(
    "netpbm_tga_decode_features",
    oracle="""
    WITH p AS (
        SELECT d.doc_id,
               CAST(d.doc_id % 11 AS INTEGER) AS v,
               6 + d.doc_id % 5 AS w,
               5 + d.doc_id % 4 AS h
        FROM documents d
    ),
    px AS (
        SELECT p.doc_id, p.v, p.w, p.h,
               CASE WHEN p.v IN (1, 7)
                        THEN (19 * p.doc_id + 7 * g.r + 31 * g.c) % 256
                    WHEN p.v = 3
                        THEN ((19 * p.doc_id + 7 * g.r + 31 * g.c) % 16)
                             * 17
                    WHEN p.v = 4
                        THEN 255 * (1 - (p.doc_id + g.r + g.c) % 2)
                    WHEN p.v IN (8, 9) THEN
                        (7 * p.doc_id
                         + 11 * ((p.doc_id + 3 * g.r + 5 * g.c) % 16))
                        % 256
                    WHEN p.v = 10 THEN
                        ((7 * p.doc_id
                          + 11 * ((p.doc_id + 3 * g.r + 5 * g.c) % 16))
                         % 256 // 8) * 8
                        + ((7 * p.doc_id
                            + 11 * ((p.doc_id + 3 * g.r + 5 * g.c) % 16))
                           % 256 // 8) // 4
                    ELSE (19 * p.doc_id + 7 * g.r + 31 * g.c) % 256
               END AS b,
               CASE WHEN p.v IN (0, 2, 5, 6)
                        THEN (11 * p.doc_id + 5 * g.r + 23 * g.c) % 256
                    WHEN p.v IN (1, 7)
                        THEN (19 * p.doc_id + 7 * g.r + 31 * g.c) % 256
                    WHEN p.v = 3
                        THEN ((19 * p.doc_id + 7 * g.r + 31 * g.c) % 16)
                             * 17
                    WHEN p.v IN (8, 9) THEN
                        (13 * p.doc_id
                         + 5 * ((p.doc_id + 3 * g.r + 5 * g.c) % 16))
                        % 256
                    WHEN p.v = 10 THEN
                        ((13 * p.doc_id
                          + 5 * ((p.doc_id + 3 * g.r + 5 * g.c) % 16))
                         % 256 // 8) * 8
                        + ((13 * p.doc_id
                            + 5 * ((p.doc_id + 3 * g.r + 5 * g.c) % 16))
                           % 256 // 8) // 4
                    ELSE 255 * (1 - (p.doc_id + g.r + g.c) % 2)
               END AS g,
               CASE WHEN p.v IN (0, 2, 5, 6)
                        THEN (3 * p.doc_id + 13 * g.r + 37 * g.c) % 256
                    WHEN p.v IN (1, 7)
                        THEN (19 * p.doc_id + 7 * g.r + 31 * g.c) % 256
                    WHEN p.v = 3
                        THEN ((19 * p.doc_id + 7 * g.r + 31 * g.c) % 16)
                             * 17
                    WHEN p.v IN (8, 9) THEN
                        (3 * p.doc_id
                         + 17 * ((p.doc_id + 3 * g.r + 5 * g.c) % 16))
                        % 256
                    WHEN p.v = 10 THEN
                        ((3 * p.doc_id
                          + 17 * ((p.doc_id + 3 * g.r + 5 * g.c) % 16))
                         % 256 // 8) * 8
                        + ((3 * p.doc_id
                            + 17 * ((p.doc_id + 3 * g.r + 5 * g.c) % 16))
                           % 256 // 8) // 4
                    ELSE 255 * (1 - (p.doc_id + g.r + g.c) % 2)
               END AS r
        FROM p,
             LATERAL (SELECT unnest(generate_series(0, p.h - 1)) AS r) gr,
             LATERAL (SELECT unnest(generate_series(0, p.w - 1)) AS c) gc,
             LATERAL (SELECT gr.r AS r, gc.c AS c) g
    )
    SELECT doc_id,
           CASE v WHEN 0 THEN 'p6' WHEN 1 THEN 'p5' WHEN 2 THEN 'p3'
                  WHEN 3 THEN 'p2_maxval15' WHEN 4 THEN 'p4'
                  WHEN 5 THEN 'tga_raw' WHEN 6 THEN 'tga_rle'
                  WHEN 7 THEN 'tga_gray_rle'
                  WHEN 8 THEN 'tga_cmap_raw' WHEN 9 THEN 'tga_cmap_rle'
                  ELSE 'tga_cmap16' END AS variant,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST(CAST(SUM(b) AS BIGINT) // (w * h) AS BIGINT) AS mean_b,
           CAST(CAST(SUM(g) AS BIGINT) // (w * h) AS BIGINT) AS mean_g,
           CAST(CAST(SUM(r) AS BIGINT) // (w * h) AS BIGINT) AS mean_r
    FROM px GROUP BY doc_id, v, w, h ORDER BY doc_id
    """,
)
def netpbm_tga_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """netpbm + TGA under the differential gate (round 17): per doc a
    closed-form test card is written through :func:`encode_netpbm` /
    :func:`encode_tga` cycling ELEVEN variants — binary and ASCII PPM,
    binary PGM, ASCII PGM at maxval 15 (exercising 255*v//maxval
    scaling), packed-bit PBM (1 = black), raw bottom-up TGA, RLE
    top-down TGA, grayscale RLE TGA, and (round-17 continuation) three
    COLORMAPPED TGA forms: raw type 1 with a 24-bit map and nonzero
    first-entry index, RLE type 9 with a 32-bit map, and a raw 16-bit
    A1R5G5B5 map exercising the (c<<3)|(c>>2) expansion — and decoded
    back through :func:`decode_media`'s image arm. The oracle
    recomputes each channel's exact mean from the same closed form, so
    a token-scanner slip, a bit-order error in P4, a missed row flip,
    an RLE run/literal confusion, a maxval scaling bug, a palette
    lookup off by the first-entry index, or a 5-bit expansion slip
    breaks the hash. Map-only mapInPandas with the standard explicit
    core fan-out."""
    import numpy as np

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        names = ("p6", "p5", "p3", "p2_maxval15", "p4", "tga_raw",
                 "tga_rle", "tga_gray_rle", "tga_cmap_raw",
                 "tga_cmap_rle", "tga_cmap16")
        for pdf in batches:
            out = {
                "doc_id": [], "variant": [], "width": [], "height": [],
                "mean_b": [], "mean_g": [], "mean_r": [],
            }
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                v = d % 11
                w, h = 6 + d % 5, 5 + d % 4
                r = np.arange(h, dtype=np.int64).reshape(-1, 1)
                c = np.arange(w, dtype=np.int64)
                bgr = np.stack([
                    (19 * d + 7 * r + 31 * c) % 256,
                    (11 * d + 5 * r + 23 * c) % 256,
                    (3 * d + 13 * r + 37 * c) % 256,
                ], axis=2).astype(np.uint8)
                gray = ((19 * d + 7 * r + 31 * c) % 256).astype(np.uint8)
                k = np.arange(16, dtype=np.int64)
                pal = np.stack([
                    (7 * d + 11 * k) % 256,
                    (13 * d + 5 * k) % 256,
                    (3 * d + 17 * k) % 256,
                ], axis=1).astype(np.uint8)
                idx = ((d + 3 * r + 5 * c) % 16).astype(np.uint8)
                if v == 0:
                    blob = encode_netpbm(bgr, 6)
                elif v == 1:
                    blob = encode_netpbm(gray, 5)
                elif v == 2:
                    blob = encode_netpbm(bgr, 3)
                elif v == 3:
                    blob = encode_netpbm(
                        (gray % 16).astype(np.uint8), 2, maxval=15
                    )
                elif v == 4:
                    blob = encode_netpbm(
                        ((d + r + c) % 2).astype(np.uint8), 4
                    )
                elif v == 5:
                    blob = encode_tga(bgr)
                elif v == 6:
                    blob = encode_tga(bgr, rle=True, top_down=True)
                elif v == 7:
                    blob = encode_tga(gray, rle=True)
                elif v == 8:
                    blob = encode_tga(idx, palette=pal, cmap_first=4)
                elif v == 9:
                    blob = encode_tga(
                        idx, rle=True, top_down=True, palette=pal,
                        cmap_bits=32,
                    )
                else:
                    blob = encode_tga(idx, palette=pal, cmap_bits=16)
                meta = decode_media(blob, "image")  # REAL decode
                px = np.frombuffer(meta["pixels"], np.uint8).reshape(
                    meta["height"], meta["width"], 3
                ).astype(np.int64)
                out["doc_id"].append(d)
                out["variant"].append(names[v])
                out["width"].append(meta["width"])
                out["height"].append(meta["height"])
                out["mean_b"].append(int(px[:, :, 0].sum()) // (w * h))
                out["mean_g"].append(int(px[:, :, 1].sum()) // (w * h))
                out["mean_r"].append(int(px[:, :, 2].sum()) // (w * h))
            yield pd.DataFrame(out)

    schema = (
        "doc_id long, variant string, width long, height long, "
        "mean_b long, mean_g long, mean_r long"
    )
    return docs.mapInPandas(run, schema)


@register(
    "jpeg_lossless_decode_features",
    oracle="""
    WITH base AS (
        SELECT doc_id AS d,
               CAST(1 + doc_id % 7 AS BIGINT) AS predictor,
               CAST(CASE CAST(doc_id % 3 AS INTEGER)
                         WHEN 0 THEN 8 WHEN 1 THEN 12 ELSE 16
                    END AS BIGINT) AS precision,
               CAST(6 + doc_id % 5 AS BIGINT) AS h,
               CAST(9 + doc_id % 6 AS BIGINT) AS w,
               CASE CAST(doc_id % 3 AS INTEGER)
                    WHEN 0 THEN 256 WHEN 1 THEN 4096 ELSE 65536
               END AS modv
        FROM documents
    )
    SELECT b.d AS doc_id, b.predictor, b.precision, b.w AS width,
           b.h AS height,
           CAST(SUM((3 * b.d + 7 * p.i * p.j + 11 * p.i + 5 * p.j)
                    % b.modv) AS BIGINT) AS sample_sum,
           CAST(SUM(((3 * b.d + 7 * p.i * p.j + 11 * p.i + 5 * p.j)
                     % b.modv) * (p.i + 1) * (p.j + 1)) AS BIGINT)
               AS sample_posw
    FROM base b,
         LATERAL (SELECT unnest(generate_series(0, b.h - 1)) AS i) pr,
         LATERAL (SELECT unnest(generate_series(0, b.w - 1)) AS j) pc,
         LATERAL (SELECT pr.i AS i, pc.j AS j) p
    GROUP BY b.d, b.predictor, b.precision, b.w, b.h
    ORDER BY doc_id
    """,
)
def jpeg_lossless_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOSSLESS JPEG (SOF3, T.81 Annex H — round 16; the first of the
    r15 verdict's 'rare foreign modes' to land) under the differential
    gate: per doc a closed-form sample grid — values sweeping the FULL
    2^precision range, so 12- and 16-bit samples actually exceed 8 bits
    — is encoded with the doc's predictor (cycling all seven Annex H
    functions) and decoded back; the oracle recomputes the exact sample
    sum AND the position-weighted sum, so a single wrong prediction,
    modulo step or extension bit anywhere in the raster breaks the
    hash. Map-only mapInPandas with the standard core fan-out."""
    import numpy as np

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            out = {
                "doc_id": [], "predictor": [], "precision": [],
                "width": [], "height": [], "sample_sum": [],
                "sample_posw": [],
            }
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                pred = 1 + d % 7
                prec = [8, 12, 16][d % 3]
                h, w = 6 + d % 5, 9 + d % 6
                i, j = np.mgrid[0:h, 0:w]
                x = (3 * d + 7 * i * j + 11 * i + 5 * j) % (1 << prec)
                blob = encode_jpeg_lossless(
                    x, predictor=pred, precision=prec
                )
                m = decode_media(blob, "image")  # REAL SOF3 decode
                got = m["samples"][:, :, 0].astype(np.int64)
                out["doc_id"].append(d)
                out["predictor"].append(pred)
                out["precision"].append(prec)
                out["width"].append(m["width"])
                out["height"].append(m["height"])
                out["sample_sum"].append(int(got.sum()))
                out["sample_posw"].append(
                    int((got * (i + 1) * (j + 1)).sum())
                )
            yield pd.DataFrame(out)

    schema = (
        "doc_id long, predictor long, precision long, width long, "
        "height long, sample_sum long, sample_posw long"
    )
    return docs.mapInPandas(run, schema)


@register(
    "mp4_pcm_variants_features",
    oracle="""
    WITH p AS (
        SELECT d.doc_id,
               CAST(d.doc_id % 6 AS INTEGER) AS v,
               192 + (d.doc_id % 4) * 64 AS n,
               CASE WHEN d.doc_id % 6 < 2 THEN 8000
                    WHEN d.doc_id % 3 = 0 THEN 16000
                    WHEN d.doc_id % 3 = 1 THEN 22050
                    ELSE 44100 END AS rate
        FROM documents d
    ),
    s AS (
        SELECT p.doc_id, p.v, p.n, p.rate,
               CASE
               WHEN p.v = 0 THEN
                   CASE WHEN (255 - (17 * p.doc_id + 31 * i.i) % 256)
                             >= 128
                        THEN 132 - (((255 - (17 * p.doc_id + 31 * i.i)
                                      % 256) % 16) * 8 + 132)
                             * (1 << (((255 - (17 * p.doc_id
                                       + 31 * i.i) % 256) // 16) % 8))
                        ELSE (((255 - (17 * p.doc_id + 31 * i.i) % 256)
                               % 16) * 8 + 132)
                             * (1 << (((255 - (17 * p.doc_id
                                       + 31 * i.i) % 256) // 16) % 8))
                             - 132
                   END
               WHEN p.v = 1 THEN
                   CASE WHEN xor((17 * p.doc_id + 31 * i.i) % 256, 85)
                             >= 128 THEN 1 ELSE -1 END *
                   CASE WHEN (xor((17 * p.doc_id + 31 * i.i) % 256, 85)
                              // 16) % 8 = 0
                            THEN (xor((17 * p.doc_id + 31 * i.i) % 256,
                                      85) % 16) * 16 + 8
                        WHEN (xor((17 * p.doc_id + 31 * i.i) % 256, 85)
                              // 16) % 8 = 1
                            THEN (xor((17 * p.doc_id + 31 * i.i) % 256,
                                      85) % 16) * 16 + 264
                        ELSE ((xor((17 * p.doc_id + 31 * i.i) % 256, 85)
                               % 16) * 16 + 264)
                             * (1 << ((xor((17 * p.doc_id + 31 * i.i)
                                           % 256, 85) // 16) % 8 - 1))
                   END
               ELSE (13 * p.doc_id + 7 * i.i) % 3201 - 1600
               END AS s
        FROM p,
             LATERAL (SELECT unnest(generate_series(0, p.n - 1)) AS i) i
    )
    SELECT doc_id,
           CASE v WHEN 0 THEN 'ulaw' WHEN 1 THEN 'alaw'
                  WHEN 2 THEN 'pcm_f32be' WHEN 3 THEN 'pcm_f64be'
                  WHEN 4 THEN 'pcm_s24be' ELSE 'pcm_s32be' END AS codec,
           CAST(rate AS BIGINT) AS sample_rate,
           CAST(n AS BIGINT) AS n_samples,
           CAST(MAX(ABS(s)) AS BIGINT) AS peak,
           CAST(SUM(ABS(s)) AS BIGINT) AS sum_abs
    FROM s GROUP BY doc_id, v, n, rate ORDER BY doc_id
    """,
)
def mp4_pcm_variants_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QuickTime PCM/G.711 sample entries in MP4/MOV under the
    differential gate (round 17, additive next to
    mp4_audio_extract_features which stays on the mp3/twos/sowt cycle
    the driver window pinned): per doc one of SIX sample-entry codecs —
    'ulaw'/'alaw' carrying closed-form CODE bytes (the oracle expands
    both laws in SQL exactly as the g711 gate does), big-endian
    'fl32'/'fl64' floats (int16/32768 exact), and 'in24'/'in32'
    big-endian integers (values scaled by 256/65536 so the decoded
    wide samples map back onto the same closed form) — is muxed by
    :func:`encode_mp4_audio` across three chunks and decoded back
    through the §8.7.4 stbl walk. Exact integer stats at int16 scale
    hash against the oracle. Map-only mapInPandas with the standard
    explicit core fan-out."""
    import numpy as np

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        fmts = ("ulaw", "alaw", "fl32", "fl64", "in24", "in32")
        for pdf in batches:
            out = {
                "doc_id": [], "codec": [], "sample_rate": [],
                "n_samples": [], "peak": [], "sum_abs": [],
            }
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                v = d % 6
                n = 192 + (d % 4) * 64
                rate = (
                    8000 if v < 2
                    else (16000, 22050, 44100)[d % 3]
                )
                i = np.arange(n, dtype=np.int64)
                if v < 2:
                    stream = ((17 * d + 31 * i) % 256).astype(
                        np.uint8
                    ).tobytes()
                else:
                    s = ((13 * d + 7 * i) % 3201 - 1600).astype(np.int16)
                    if v == 2:
                        stream = (
                            s.astype(np.float32) / np.float32(32768.0)
                        ).astype(">f4").tobytes()
                    elif v == 3:
                        stream = (
                            s.astype(np.float64) / 32768.0
                        ).astype(">f8").tobytes()
                    elif v == 4:
                        w24 = (s.astype(np.int64) * 256).astype("<i4")
                        stream = (
                            w24.view(np.uint8).reshape(-1, 4)[:, 2::-1]
                        ).tobytes()
                    else:
                        stream = (
                            s.astype(np.int64) * 65536
                        ).astype(">i4").tobytes()
                blob = encode_mp4_audio(
                    stream, codec=fmts[v], sample_rate=rate, n_chunks=3
                )
                meta = decode_media(blob, "audio")  # REAL stbl walk
                if meta["sample_width"] == 2:
                    vals = np.frombuffer(meta["pcm"], "<i2").astype(
                        np.int64
                    )
                elif meta["sample_width"] == 3:
                    b3 = np.frombuffer(meta["pcm"], np.uint8).reshape(
                        -1, 3
                    ).astype(np.int64)
                    raw = b3[:, 0] | (b3[:, 1] << 8) | (b3[:, 2] << 16)
                    raw = np.where(raw >= 1 << 23, raw - (1 << 24), raw)
                    vals = raw // 256
                else:
                    vals = np.frombuffer(meta["pcm"], "<i4").astype(
                        np.int64
                    ) // 65536
                out["doc_id"].append(d)
                out["codec"].append(meta["codec"])
                out["sample_rate"].append(meta["frame_rate"])
                out["n_samples"].append(meta["n_frames"])
                out["peak"].append(int(np.abs(vals).max()))
                out["sum_abs"].append(int(np.abs(vals).sum()))
            yield pd.DataFrame(out)

    schema = (
        "doc_id long, codec string, sample_rate long, n_samples long, "
        "peak long, sum_abs long"
    )
    return docs.mapInPandas(run, schema)


@register(
    "mp4_audio_extract_features",
    oracle="""
    WITH pcm AS (
        SELECT d.doc_id,
               CAST(MAX(ABS((11 * d.doc_id + 5 * s.i) % 4001 - 2000))
                    AS BIGINT) AS peak,
               CAST(SUM(ABS((11 * d.doc_id + 5 * s.i) % 4001 - 2000))
                    AS BIGINT) AS sum_abs
        FROM documents d,
             LATERAL (SELECT unnest(generate_series(
                 0, CAST(255 + (d.doc_id % 5) * 64 AS BIGINT))) AS i) s
        WHERE d.doc_id % 2 = 1
        GROUP BY d.doc_id
    )
    SELECT d.doc_id,
           CASE CAST(d.doc_id % 4 AS INTEGER)
                WHEN 0 THEN 'mp3_2chunk' WHEN 1 THEN 'pcm_be'
                WHEN 2 THEN 'mp3_1chunk' ELSE 'pcm_le' END AS variant,
           CASE WHEN d.doc_id % 2 = 0 THEN 'mp3'
                WHEN d.doc_id % 4 = 1 THEN 'pcm_s16be'
                ELSE 'pcm_s16le' END AS codec,
           CAST(CASE WHEN d.doc_id % 2 = 0 THEN 44100 ELSE 16000 END
                AS BIGINT) AS sample_rate,
           CAST(CASE WHEN d.doc_id % 2 = 0 THEN 2816
                     ELSE 256 + (d.doc_id % 5) * 64 END
                AS BIGINT) AS n_samples,
           CAST(COALESCE(p.peak, 0) AS BIGINT) AS peak,
           CAST(COALESCE(p.sum_abs, 0) AS BIGINT) AS sum_abs,
           TRUE AS parity_raw
    FROM documents d LEFT JOIN pcm p ON p.doc_id = d.doc_id
    ORDER BY d.doc_id
    """,
)
def mp4_audio_extract_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MP4/ISO-BMFF AUDIO extraction under the differential gate (round
    16; closes the container half of the r15 verdict's 'MP4/AAC' gap —
    sample decode now raises ONLY for genuinely external codecs like
    AAC). Even docs carry a 2-frame MP3 elementary stream as an mp4a
    track (esds objectTypeIndication 0x6B), split one-sample-per-frame
    across TWO mdat chunks (doc %% 4 == 0) or one (== 2), so the
    §8.7.4 stsc/stco walk is exercised both ways; ``parity_raw``
    asserts the extracted-and-decoded PCM is byte-identical to decoding
    the bare stream. Odd docs carry closed-form 16-bit PCM as 'twos'
    (big-endian) or 'sowt' (little-endian) sample entries over three
    chunks; decoded peak and sum-of-abs hash against the closed forms.
    Map-only mapInPandas with the standard explicit core fan-out."""
    import numpy as np

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        def granule(d: int, gi: int) -> dict:
            iv = [0] * 576
            for i in range(0, 480, 7):
                iv[i] = 1 if (i // 7 + d + gi) % 2 == 0 else -1
            return {"is": iv, "global_gain": 210 + 4 * ((d + gi) % 6),
                    "scalefac": [0] * 21, "big_values": 240,
                    "scalefac_scale": 1, "scalefac_compress": 0}

        def mp3_frame_sizes(mp3: bytes) -> list[int]:
            sizes = []
            pos = 0
            while pos < len(mp3):
                h2 = mp3[pos + 2]
                kbps = _MP3_KBPS[3][((h2 >> 4) & 0xF) - 1]
                fl = _mp3_frame_len(3, kbps, 44100, (h2 >> 1) & 1)
                sizes.append(fl)
                pos += fl
            return sizes

        for pdf in batches:
            out = {
                "doc_id": [], "variant": [], "codec": [],
                "sample_rate": [], "n_samples": [], "peak": [],
                "sum_abs": [], "parity_raw": [],
            }
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                v = d % 4
                if v % 2 == 0:
                    variant = "mp3_2chunk" if v == 0 else "mp3_1chunk"
                    mp3 = encode_mp3_l3(
                        [granule(d, 0), granule(d, 1),
                         granule(d, 2), granule(d, 3)]
                    )
                    raw = decode_media(mp3, "audio")
                    blob = encode_mp4_audio(
                        mp3, codec="mp3", sample_rate=44100,
                        sample_sizes=mp3_frame_sizes(mp3),
                        n_chunks=2 if v == 0 else 1,
                    )
                    meta = decode_media(blob, "audio")
                    parity = meta["pcm"] == raw["pcm"]
                    peak = sum_abs = 0
                else:
                    variant = "pcm_be" if v == 1 else "pcm_le"
                    codec = "twos" if v == 1 else "sowt"
                    n = 256 + (d % 5) * 64
                    i = np.arange(n, dtype=np.int64)
                    y = ((11 * d + 5 * i) % 4001 - 2000).astype(np.int16)
                    stream = y.astype(">i2" if v == 1 else "<i2").tobytes()
                    blob = encode_mp4_audio(
                        stream, codec=codec, sample_rate=16000, n_chunks=3
                    )
                    meta = decode_media(blob, "audio")
                    got = np.frombuffer(meta["pcm"], "<i2")
                    parity = np.array_equal(got, y)
                    peak = int(np.abs(got.astype(np.int64)).max())
                    sum_abs = int(np.abs(got.astype(np.int64)).sum())
                out["doc_id"].append(d)
                out["variant"].append(variant)
                out["codec"].append(meta["codec"])
                out["sample_rate"].append(meta["frame_rate"])
                out["n_samples"].append(meta["n_frames"])
                out["peak"].append(peak)
                out["sum_abs"].append(sum_abs)
                out["parity_raw"].append(bool(parity))
            yield pd.DataFrame(out)

    schema = (
        "doc_id long, variant string, codec string, sample_rate long, "
        "n_samples long, peak long, sum_abs long, parity_raw boolean"
    )
    return docs.mapInPandas(run, schema)


@register(
    "mp3_container_routing_features",
    oracle="""
    SELECT d.doc_id,
           CASE WHEN d.doc_id % 2 = 0 THEN 'wav' ELSE 'avi' END AS container,
           'mp3' AS codec,
           CAST(44100 AS BIGINT) AS sample_rate,
           CAST(CASE WHEN d.doc_id % 2 = 0
                     THEN 1200 + (d.doc_id % 5) * 100
                     ELSE 1664 END AS BIGINT) AS n_samples,
           CAST(CASE WHEN d.doc_id % 2 = 0
                     THEN 0 ELSE 2 + d.doc_id % 3 END AS BIGINT)
               AS n_video_frames,
           TRUE AS parity_raw
    FROM documents d
    ORDER BY d.doc_id
    """,
)
def mp3_container_routing_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MP3-in-WAV / MP3-in-AVI container routing under the differential
    gate (round 16; r15 verdict task 2 — the seam was stale container
    plumbing, not a codec gap, once the full MP3 PCM chain landed). Per
    doc a 2-granule MP3 stream (md5-derived doc-injective line pattern)
    is wrapped EITHER in a WAV with format tag 0x0055
    (MPEGLAYER3WAVEFORMAT + a truncating ``fact`` chunk — even docs) or
    as the 'auds' stream of a two-stream AVI (wFormatTag 0x0055 — odd
    docs), then decoded through :func:`decode_media` /
    :func:`extract_avi_audio`. ``parity_raw`` asserts the
    container-routed PCM is BYTE-IDENTICAL to decoding the bare stream
    (fact-truncated on the WAV side), pinning the whole routing path;
    geometry (sample counts, the AVI's coexisting video frame count)
    hashes against closed forms. Map-only mapInPandas with the standard
    explicit core fan-out."""
    import numpy as np

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import hashlib

        import pandas as pd

        def granule(d: int, gi: int, gg: int) -> dict:
            seed = hashlib.md5(f"mc:{d}:{gi}".encode()).digest()
            is_vals = [0] * 576
            for i in range(480):
                b = hashlib.md5(seed + i.to_bytes(2, "big")).digest()[0]
                if b < 64:
                    is_vals[i] = 1 if b % 2 == 0 else -1
            return {"is": is_vals, "global_gain": gg,
                    "scalefac": [0] * 21, "big_values": 240,
                    "scalefac_scale": 1, "scalefac_compress": 0}

        for pdf in batches:
            out = {
                "doc_id": [], "container": [], "codec": [],
                "sample_rate": [], "n_samples": [], "n_video_frames": [],
                "parity_raw": [],
            }
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                gg = 170 + 4 * (d % 3)
                mp3 = encode_mp3_l3([granule(d, 0, gg), granule(d, 1, gg)])
                raw = decode_media(mp3, "audio")  # bare-stream reference
                if d % 2 == 0:
                    fact = 1200 + (d % 5) * 100
                    meta = decode_media(
                        encode_wav_mp3(mp3, 44100, n_frames=fact), "audio"
                    )
                    ref = raw["pcm"][: fact * 2]
                    container, nvid = "wav", 0
                else:
                    nvid = 2 + d % 3
                    frames = [
                        np.full((3, 4, 3), (d + 17 * f) % 256, np.uint8)
                        for f in range(nvid)
                    ]
                    meta = extract_avi_audio(
                        encode_avi(frames, audio=mp3, audio_rate=44100,
                                   audio_format="mp3")
                    )
                    ref = raw["pcm"]
                    container = "avi"
                out["doc_id"].append(d)
                out["container"].append(container)
                out["codec"].append(meta["codec"])
                out["sample_rate"].append(meta["frame_rate"])
                out["n_samples"].append(meta["n_frames"])
                out["n_video_frames"].append(nvid)
                out["parity_raw"].append(bool(meta["pcm"] == ref))
            yield pd.DataFrame(out)

    schema = (
        "doc_id long, container string, codec string, sample_rate long, "
        "n_samples long, n_video_frames long, parity_raw boolean"
    )
    return docs.mapInPandas(run, schema)


# ---------------------------------------------------------------------------
# TIFF baseline (TIFF 6.0): uncompressed + PackBits, II and MM byte orders
# — round 13
# ---------------------------------------------------------------------------

def _packbits_encode(data: bytes) -> bytes:
    """TIFF 6.0 §9 PackBits: runs of >=2 identical bytes become
    (257-n, byte); literals become (n-1, bytes). Row-independent (the
    spec packs each row separately; callers pass one row at a time)."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        run = 1
        while i + run < n and run < 128 and data[i + run] == data[i]:
            run += 1
        if run >= 2:
            out.append(257 - run)
            out.append(data[i])
            i += run
            continue
        lit = i
        while (
            i < n
            and i - lit < 128
            and not (i + 1 < n and data[i + 1] == data[i])
        ):
            i += 1
        out.append(i - lit - 1)
        out += data[lit:i]
    return bytes(out)


def _packbits_decode(data: bytes, expect: int) -> bytes:
    """PackBits inverse with hard bounds: n in 0..127 copies n+1 literal
    bytes, 129..255 repeats the next byte 257-n times, 128 is a no-op."""
    out = bytearray()
    i = 0
    while i < len(data) and len(out) < expect:
        n = data[i]
        i += 1
        if n < 128:
            if i + n + 1 > len(data):
                raise ValueError("truncated PackBits literal")
            out += data[i: i + n + 1]
            i += n + 1
        elif n > 128:
            if i >= len(data):
                raise ValueError("truncated PackBits run")
            out += bytes([data[i]]) * (257 - n)
            i += 1
        # n == 128: no-op
    if len(out) != expect:
        raise ValueError("PackBits output length mismatch")
    return bytes(out)


def _ojpeg_split_tables(stream: bytes):
    """Split a baseline JPEG interchange stream into the pieces the
    deprecated TIFF 6.0 §22 tag-51x form stores separately: the
    quantization tables (64 zigzag bytes each, keyed by destination),
    the Huffman tables (16 BITS counts + VALUES, keyed by class and
    destination), the SOF0 component specs, the SOS table bindings,
    and the raw entropy-coded bytes (byte-stuffed, EOI stripped).
    The inverse of the reassembly :func:`_decode_tiff` performs for
    compression-6 files without tags 513/514."""
    pos = 2
    dqt: dict[int, bytes] = {}
    dht: dict[tuple[int, int], bytes] = {}
    sof = None
    sos = None
    while pos + 4 <= len(stream):
        if stream[pos] != 0xFF:
            raise ValueError("bad JPEG segment stream")
        m = stream[pos + 1]
        ln = int.from_bytes(stream[pos + 2: pos + 4], "big")
        body = stream[pos + 4: pos + 2 + ln]
        if m == 0xDB:
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 15
                if pq:
                    raise ValueError("tag-51x OJPEG stores 8-bit Q tables")
                dqt[tq] = bytes(body[i + 1: i + 65])
                i += 65
        elif m == 0xC4:
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 15
                n = sum(body[i + 1: i + 17])
                dht[(tc, th)] = bytes(body[i + 1: i + 17 + n])
                i += 17 + n
        elif m == 0xC0:
            ncomp = body[5]
            sof = [
                (body[6 + 3 * k], body[7 + 3 * k] >> 4,
                 body[7 + 3 * k] & 15, body[8 + 3 * k])
                for k in range(ncomp)
            ]
        elif m == 0xDA:
            ns = body[0]
            scomps = [
                (body[1 + 2 * k], body[2 + 2 * k] >> 4,
                 body[2 + 2 * k] & 15)
                for k in range(ns)
            ]
            entropy = stream[pos + 2 + ln:]
            if entropy.endswith(b"\xff\xd9"):
                entropy = entropy[:-2]
            sos = (scomps, bytes(entropy))
            break
        elif m != 0xC0 and 0xC1 <= m <= 0xCF and m not in (0xC4, 0xC8, 0xCC):
            raise ValueError("tag-51x OJPEG wants a baseline (SOF0) stream")
        pos += 2 + ln
    if sof is None or sos is None:
        raise ValueError("JPEG stream missing SOF0/SOS")
    return dqt, dht, sof, sos


def encode_tiff(
    plane,
    big_endian: bool = False,
    packbits: bool = False,
    rows_per_strip: int | None = None,
    lzw: bool = False,
    predictor2: bool = False,
    deflate: bool = False,
    planar2: bool = False,
    jpeg: bool = False,
    jpeg_tables: bool = False,
    jpeg_subsampling="444",
    ojpeg: bool = False,
    ojpeg_headerless: bool = False,
) -> bytes:
    """Encode a top-down (h, w, 3) BGR uint8 array as a baseline TIFF 6.0
    RGB file: 8-byte header (II little- or MM big-endian), one IFD with
    the ten baseline tags, out-of-line BitsPerSample and strip tables,
    pixel data in ``rows_per_strip``-row strips, optionally PackBits- or
    LZW-compressed per strip (TIFF 6.0 §9 / §13). Real structure end to
    end — a decoder slip in endianness, tag typing, strip assembly, RLE,
    or LZW code widths corrupts the pixel plane.

    ``planar2`` (round 15) writes PlanarConfiguration 2 (TIFF 6.0 §3):
    each component is stored as its OWN sequence of strips —
    StripsPerImage = SamplesPerPixel x ceil(h/rps), the full R-plane
    strip run first, then G, then B — and each strip carries w (not 3w)
    bytes per row. Compression and the horizontal predictor apply per
    strip exactly as in chunky layout.

    ``jpeg`` (round 17) writes new-style JPEG-in-TIFF (compression 7,
    photometric 6): each strip is a complete baseline JPEG stream from
    the in-repo encoder; ``jpeg_tables`` additionally hoists the shared
    DQT segments into a tag-347 abbreviated table stream (SOI tables
    EOI) and strips them from the per-strip streams — the TTN2 splice
    the decoder must perform (Huffman tables stay inline per strip:
    this encoder's canonical DHTs cover exactly each strip's emitted
    symbols, so they legitimately differ strip to strip).

    ``ojpeg`` (round 17) writes old-style OJPEG in its
    JPEGInterchangeFormat form (compression 6, photometric 6, tags
    513/514 pointing at ONE whole-image JPEG interchange stream, NO
    strip tags — the shape real OJPEG scanners emitted and libtiff's
    shim trusts).

    ``ojpeg_headerless`` (round 17) writes the fully deprecated
    HEADERLESS OJPEG form (TIFF 6.0 §22): the strip carries raw
    entropy-coded bytes with NO JPEG markers at all, and every table
    the codestream would normally declare inline is scattered across
    the tag-51x family — 512 JPEGProc, 519 JPEGQTables / 520
    JPEGDCTables / 521 JPEGACTables (one offset per component, each
    pointing at raw table bytes), 530 YCbCrSubSampling. A decoder must
    reassemble a conforming interchange stream from the tags before it
    can decode a single MCU — exactly the reassembly libtiff's OJPEG
    shim performs for tag-51x files."""
    if ojpeg_headerless and (packbits or lzw or deflate or predictor2
                             or planar2 or jpeg or ojpeg):
        raise ValueError("ojpeg_headerless excludes the other codings")
    if ojpeg and (packbits or lzw or deflate or predictor2 or planar2
                  or jpeg):
        raise ValueError("ojpeg excludes the other codings")
    if sum((packbits, lzw, deflate)) > 1:
        raise ValueError("pick one of packbits/lzw/deflate")
    if jpeg and (packbits or lzw or deflate or predictor2 or planar2):
        raise ValueError("jpeg strips exclude the other codings")
    if jpeg_tables and not jpeg:
        raise ValueError("jpeg_tables requires jpeg")
    if predictor2 and not (lzw or deflate):
        raise ValueError("predictor 2 pairs with LZW/deflate (TIFF 6.0 section 14)")
    import struct

    import numpy as np

    arr = np.asarray(plane, dtype=np.uint8)
    if arr.ndim != 3 or arr.shape[2] != 3:
        raise ValueError("encode_tiff wants (h, w, 3) BGR")
    h, w = arr.shape[:2]
    rps = rows_per_strip or h
    rgb = arr[:, :, ::-1]  # TIFF stores RGB samples
    if ojpeg_headerless:
        import struct as _struct

        stream = encode_jpeg(rows_rgb=rgb, subsampling=jpeg_subsampling)
        dqt, dht, sof, (scomps, entropy) = _ojpeg_split_tables(stream)
        ncomp = len(sof)
        if ncomp != 3:
            raise ValueError("headerless OJPEG fixture wants 3 components")
        y_h, y_v = sof[0][1], sof[0][2]
        if any(c[1] != 1 or c[2] != 1 for c in sof[1:]):
            raise ValueError("tag 530 expresses Y-factor subsampling only")
        td = {c[0]: c[1] for c in scomps}
        ta = {c[0]: c[2] for c in scomps}
        # per-component raw table blobs in the tag-51x shape (Q: 64
        # zigzag bytes; DC/AC: 16 BITS counts + VALUES, no class/dest
        # byte — TIFF 6.0 §22's field definitions)
        qblob = [dqt[sof[k][3]] for k in range(ncomp)]
        dblob = [dht[(0, td[sof[k][0]])] for k in range(ncomp)]
        ablob = [dht[(1, ta[sof[k][0]])] for k in range(ncomp)]
        e = ">" if big_endian else "<"
        n_tags = 14
        ifd_size = 2 + n_tags * 12 + 4
        bps_off = 8 + ifd_size
        qoff_off = bps_off + 6
        doff_off = qoff_off + 4 * ncomp
        aoff_off = doff_off + 4 * ncomp
        tbl_off = aoff_off + 4 * ncomp
        # identical table bytes are stored ONCE and every component's
        # offset points at the same place — the dedup-by-offset case a
        # reassembling decoder must handle when binding destinations
        blob_at: dict[bytes, int] = {}
        table_bytes = bytearray()

        def _place(b: bytes) -> int:
            if b not in blob_at:
                blob_at[b] = tbl_off + len(table_bytes)
                table_bytes.extend(b)
            return blob_at[b]

        qoffs = [_place(b) for b in qblob]
        doffs = [_place(b) for b in dblob]
        aoffs = [_place(b) for b in ablob]
        data_off = tbl_off + len(table_bytes)

        def _htag(tid: int, ttype: int, count: int, value: int) -> bytes:
            if ttype == 3 and count == 1:
                return _struct.pack(
                    e + "HHI", tid, ttype, count
                ) + _struct.pack(e + "HH", value, 0)
            return _struct.pack(e + "HHII", tid, ttype, count, value)

        ifd = _struct.pack(e + "H", n_tags)
        ifd += _htag(256, 4, 1, w)
        ifd += _htag(257, 4, 1, h)
        ifd += _htag(258, 3, 3, bps_off)
        ifd += _htag(259, 3, 1, 6)            # Compression: OJPEG
        ifd += _htag(262, 3, 1, 6)            # Photometric: YCbCr
        ifd += _htag(273, 4, 1, data_off)     # StripOffsets: raw entropy
        ifd += _htag(277, 3, 1, 3)
        ifd += _htag(278, 4, 1, h)
        ifd += _htag(279, 4, 1, len(entropy))
        ifd += _htag(512, 3, 1, 1)            # JPEGProc: baseline
        ifd += _htag(519, 4, ncomp, qoff_off)  # JPEGQTables
        ifd += _htag(520, 4, ncomp, doff_off)  # JPEGDCTables
        ifd += _htag(521, 4, ncomp, aoff_off)  # JPEGACTables
        # YCbCrSubSampling: two SHORTs, packed INLINE in the value slot
        ifd += _struct.pack(e + "HHI", 530, 3, 2) + _struct.pack(
            e + "HH", y_h, y_v
        )
        ifd += _struct.pack(e + "I", 0)
        out = bytearray()
        out += (b"MM" if big_endian else b"II") + _struct.pack(e + "H", 42)
        out += _struct.pack(e + "I", 8)
        out += ifd
        out += _struct.pack(e + "HHH", 8, 8, 8)
        for o in qoffs + doffs + aoffs:
            out += _struct.pack(e + "I", o)
        out += table_bytes
        out += entropy
        return bytes(out)
    if ojpeg:
        import struct as _struct

        stream = encode_jpeg(rows_rgb=rgb, subsampling=jpeg_subsampling)
        e = ">" if big_endian else "<"
        n_tags = 9
        ifd_size = 2 + n_tags * 12 + 4
        bps_off = 8 + ifd_size
        data_off = bps_off + 6

        def _tag(tid: int, ttype: int, count: int, value: int) -> bytes:
            if ttype == 3 and count == 1:
                return _struct.pack(
                    e + "HHI", tid, ttype, count
                ) + _struct.pack(e + "HH", value, 0)
            return _struct.pack(e + "HHII", tid, ttype, count, value)

        ifd = _struct.pack(e + "H", n_tags)
        ifd += _tag(256, 4, 1, w)
        ifd += _tag(257, 4, 1, h)
        ifd += _tag(258, 3, 3, bps_off)
        ifd += _tag(259, 3, 1, 6)          # Compression: OJPEG
        ifd += _tag(262, 3, 1, 6)          # Photometric: YCbCr
        ifd += _tag(277, 3, 1, 3)
        ifd += _tag(278, 4, 1, h)
        ifd += _tag(513, 4, 1, data_off)   # JPEGInterchangeFormat
        ifd += _tag(514, 4, 1, len(stream))
        ifd += _struct.pack(e + "I", 0)
        out = bytearray()
        out += (b"MM" if big_endian else b"II") + _struct.pack(e + "H", 42)
        out += _struct.pack(e + "I", 8)
        out += ifd
        out += _struct.pack(e + "HHH", 8, 8, 8)
        out += stream
        return bytes(out)
    if predictor2:
        # horizontal differencing per row, per sample channel (mod 256)
        import numpy as _np

        diff = rgb.astype(_np.int16)
        diff[:, 1:, :] = diff[:, 1:, :] - rgb[:, :-1, :].astype(_np.int16)
        rgb = (diff % 256).astype(_np.uint8)
    tables347 = b""
    if jpeg:
        strips = []
        for s0 in range(0, h, rps):
            strips.append(encode_jpeg(
                rows_rgb=rgb[s0: s0 + rps],
                subsampling=jpeg_subsampling,
            ))
        if jpeg_tables:
            def _hoist_dqt(stream: bytes) -> tuple[bytes, bytes]:
                pos = 2
                dqt = b""
                rest = b""
                while True:
                    if stream[pos] != 0xFF:
                        raise ValueError("bad JPEG segment stream")
                    m = stream[pos + 1]
                    if m == 0xDA:
                        rest += stream[pos:]
                        break
                    ln = int.from_bytes(stream[pos + 2: pos + 4], "big")
                    seg = stream[pos: pos + 2 + ln]
                    if m == 0xDB:
                        dqt += seg
                    else:
                        rest += seg
                    pos += 2 + ln
                return dqt, rest

            dqt0 = None
            hoisted = []
            for s in strips:
                dqt, rest = _hoist_dqt(s)
                if dqt0 is None:
                    dqt0 = dqt
                elif dqt != dqt0:
                    raise ValueError("strip DQT tables must agree")
                hoisted.append(b"\xff\xd8" + rest)
            strips = hoisted
            tables347 = b"\xff\xd8" + (dqt0 or b"") + b"\xff\xd9"
    elif planar2:
        # planar: one row source per component, R strips then G then B
        sources = [[rgb[r, :, k].tobytes() for r in range(h)] for k in range(3)]
    else:
        sources = [[rgb[r].tobytes() for r in range(h)]]
    if not jpeg:
        strips = []
        for raw_rows in sources:
            for s0 in range(0, h, rps):
                block = b"".join(raw_rows[s0: s0 + rps])
                if packbits:
                    block = _packbits_encode(block)
                elif lzw:
                    block = _tiff_lzw_encode(block)
                elif deflate:
                    import zlib

                    block = zlib.compress(block, 6)
                strips.append(block)
    e = ">" if big_endian else "<"
    n_strips = len(strips)
    # layout: header(8) | IFD | bits_per_sample(6) | offsets(4n) |
    # counts(4n) | [JPEGTables] | strips
    n_tags = 10 + (1 if predictor2 else 0) + (1 if tables347 else 0)
    ifd_size = 2 + n_tags * 12 + 4
    bps_off = 8 + ifd_size
    soff_off = bps_off + 6
    scnt_off = soff_off + 4 * n_strips
    tbl_off = scnt_off + 4 * n_strips
    data_off = tbl_off + len(tables347)
    strip_offsets = []
    pos = data_off
    for s in strips:
        strip_offsets.append(pos)
        pos += len(s)

    def tag(tid: int, ttype: int, count: int, value: int) -> bytes:
        # SHORT values sit left-justified in the 4-byte value slot
        if ttype == 3 and count == 1:
            return struct.pack(e + "HHI", tid, ttype, count) + struct.pack(
                e + "HH", value, 0
            )
        return struct.pack(e + "HHII", tid, ttype, count, value)

    ifd = struct.pack(e + "H", n_tags)
    ifd += tag(256, 4, 1, w)                     # ImageWidth LONG
    ifd += tag(257, 4, 1, h)                     # ImageLength LONG
    ifd += tag(258, 3, 3, bps_off)               # BitsPerSample 3xSHORT
    comp_tag = 7 if jpeg else (
        32773 if packbits else (5 if lzw else (8 if deflate else 1))
    )
    ifd += tag(259, 3, 1, comp_tag)              # Compression
    ifd += tag(262, 3, 1, 6 if jpeg else 2)      # Photometric: YCbCr/RGB
    ifd += tag(273, 4, n_strips, strip_offsets[0] if n_strips == 1 else soff_off)
    ifd += tag(277, 3, 1, 3)                     # SamplesPerPixel
    ifd += tag(278, 4, 1, rps)                   # RowsPerStrip
    ifd += tag(279, 4, n_strips, len(strips[0]) if n_strips == 1 else scnt_off)
    ifd += tag(284, 3, 1, 2 if planar2 else 1)   # PlanarConfig
    if predictor2:
        ifd += tag(317, 3, 1, 2)                 # Predictor: horizontal
    if tables347:
        ifd += tag(347, 7, len(tables347), tbl_off)  # JPEGTables
    ifd += struct.pack(e + "I", 0)               # next IFD: none
    out = bytearray()
    out += (b"MM" if big_endian else b"II") + struct.pack(e + "H", 42)
    out += struct.pack(e + "I", 8)
    out += ifd
    out += struct.pack(e + "HHH", 8, 8, 8)
    for o in strip_offsets:
        out += struct.pack(e + "I", o)
    for s in strips:
        out += struct.pack(e + "I", len(s))
    out += tables347
    for s in strips:
        out += s
    return bytes(out)


def _decode_tiff(payload: bytes) -> dict:
    """Parse a baseline TIFF 6.0 RGB image (both byte orders, chunky OR
    planar configuration 2, 8-bit samples, uncompressed/PackBits/LZW/
    deflate, any strip layout) into the uniform top-down BGR contract.
    Unsupported baseline variants raise by name; nothing is guessed."""
    import struct

    if payload[:4] == b"II*\x00":
        e = "<"
    elif payload[:4] == b"MM\x00*":
        e = ">"
    else:
        raise ValueError("not a TIFF payload (missing II*/MM* magic)")
    (ifd_off,) = struct.unpack_from(e + "I", payload, 4)
    if ifd_off + 2 > len(payload):
        raise ValueError("truncated TIFF: IFD offset past payload")
    (n_tags,) = struct.unpack_from(e + "H", payload, ifd_off)
    # tag id -> (type, count, scalar value, offset of the 4-byte value slot)
    tags: dict[int, tuple[int, int, int, int]] = {}
    for t in range(n_tags):
        off = ifd_off + 2 + 12 * t
        tid, ttype, count = struct.unpack_from(e + "HHI", payload, off)
        if ttype == 3 and count == 1:
            (value,) = struct.unpack_from(e + "H", payload, off + 8)
        else:
            (value,) = struct.unpack_from(e + "I", payload, off + 8)
        tags[tid] = (ttype, count, value, off + 8)

    def arr(tid: int) -> list[int]:
        ttype, count, value, slot = tags[tid]
        if count == 1:
            return [value]
        fmt, size = (e + "H", 2) if ttype == 3 else (e + "I", 4)
        # TIFF 6.0 packs arrays INLINE in the 4-byte value slot when they
        # fit (SHORT x2); only larger arrays live out-of-line at `value`
        base = slot if count * size <= 4 else value
        return [
            struct.unpack_from(fmt, payload, base + i * size)[0]
            for i in range(count)
        ]

    comp = tags.get(259, (3, 1, 1))[2]
    # interchange-form OJPEG files carry tags 513/514 INSTEAD of strip
    # tables (TIFF 6.0 §22 files commonly omit or corrupt them)
    required = (
        (256, 257) if comp == 6 and 513 in tags else (256, 257, 273, 279)
    )
    for req in required:
        if req not in tags:
            raise ValueError(f"TIFF missing required tag {req}")
    w = tags[256][2]
    h = tags[257][2]
    photo = tags.get(262, (3, 1, 2))[2]
    spp = tags.get(277, (3, 1, 3))[2]
    planar = tags.get(284, (3, 1, 1))[2]
    if planar not in (1, 2):
        raise ValueError(f"TIFF planar configuration {planar} unsupported")
    if comp in (2, 3, 4):
        if planar == 2:
            # one sample per pixel: separate planes are meaningless
            raise ValueError(
                "TIFF planar configuration 2 with bilevel CCITT unsupported"
            )
        # CCITT bilevel — round 14: Group 4 (T.6, comp 4), Group 3 (T.4
        # with EOLs, comp 3, 1D and 2D per T4Options bit 0) and Modified
        # Huffman (1D T.4 rows, comp 2). Strips reset the coder state,
        # so each decodes independently.
        import numpy as np

        if spp != 1 or photo not in (0, 1):
            raise ValueError(
                "TIFF G4 decode supports bilevel photometric 0/1 only"
            )
        if 258 in tags and arr(258) != [1]:
            raise ValueError("TIFF G4 requires BitsPerSample 1")
        t4opts = tags.get(292, (4, 1, 0, 0))[2]
        if comp == 3 and (t4opts & 0b10) and not (t4opts & 0b1):
            # the Annex A escape lives in the 2D mode alphabet; a pure-1D
            # stream advertising uncompressed mode has no spec'd entry
            # our decoder recognizes
            raise ValueError(
                "TIFF G3 uncompressed mode with 1D-only coding "
                "(T4Options bit 1 without bit 0) unsupported; 2D "
                "uncompressed decodes (round 16)"
            )
        rps_g4 = tags.get(278, (4, 1, h))[2] or h
        if 273 not in tags or 279 not in tags:
            raise ValueError("TIFF missing StripOffsets/StripByteCounts")
        offsets, counts = arr(273), arr(279)
        if len(offsets) != len(counts):
            raise ValueError("TIFF strip offset/count tables disagree")
        parts = []
        for si, (o, c) in enumerate(zip(offsets, counts)):
            if o + c > len(payload):
                raise ValueError("truncated TIFF strip")
            n_rows = min(rps_g4, h - si * rps_g4)
            if comp == 4:
                parts.append(_g4_decode(payload[o: o + c], w, n_rows))
            elif comp == 3:
                parts.append(
                    _g3_decode(payload[o: o + c], w, n_rows,
                               bool(t4opts & 0b1))
                )
            else:
                parts.append(_mh_decode(payload[o: o + c], w, n_rows))
        black = np.concatenate(parts, axis=0)
        if black.shape != (h, w):
            raise ValueError("TIFF G4 pixel plane incomplete")
        # photometric 0 (WhiteIsZero, fax convention): G4 black -> dark
        gray = (
            (1 - black) * 255 if photo == 0 else black * 255
        ).astype(np.uint8)
        bgr = np.repeat(gray[:, :, None], 3, axis=2)
        return {
            "width": w,
            "height": h,
            "bit_count": 24,
            "n_pixels": w * h,
            "pixels": bgr.tobytes(),
        }
    if comp == 7:
        # New-style JPEG-in-TIFF (round 17; TIFF Technical Note 2 /
        # TIFF-EP): each strip is a complete — or, with tag 347
        # (JPEGTables), abbreviated — JPEG interchange stream, decoded
        # by the SAME in-repo JPEG decoder (baseline + progressive):
        # the shared table stream's body splices in after each strip's
        # SOI, exactly the TTN2 rule. Strips stack top-down.
        import numpy as np

        if planar != 1:
            raise ValueError(
                "JPEG-in-TIFF requires chunky planar configuration"
            )
        if spp != 3 or photo != 6:
            # photometric 6: the strips carry ordinary YCbCr JPEG (the
            # only form real writers emit); an RGB-in-JPEG photometric
            # 2 file would skip the BT.601 step our decoder applies
            raise ValueError(
                "JPEG-in-TIFF decode supports 3-sample photometric 6 "
                "(YCbCr) only"
            )
        tables = b""
        if 347 in tags:
            ttype, count, value, slot = tags[347]
            base = slot if count <= 4 else value
            if base + count > len(payload):
                raise ValueError("truncated JPEGTables tag")
            tbl = payload[base: base + count]
            if tbl[:2] != b"\xff\xd8" or tbl[-2:] != b"\xff\xd9":
                raise ValueError(
                    "JPEGTables must be an abbreviated SOI..EOI stream"
                )
            tables = tbl[2:-2]
        rps_j = tags.get(278, (4, 1, h))[2] or h
        offsets, counts = arr(273), arr(279)
        if len(offsets) != len(counts):
            raise ValueError("TIFF strip offset/count tables disagree")
        rows_out = []
        for si, (o, c) in enumerate(zip(offsets, counts)):
            if o + c > len(payload):
                raise ValueError("truncated TIFF strip")
            strip = payload[o: o + c]
            if strip[:2] != b"\xff\xd8":
                raise ValueError("JPEG-in-TIFF strip missing SOI")
            m = _decode_jpeg(b"\xff\xd8" + tables + strip[2:])
            n_rows = min(rps_j, h - si * rps_j)
            if m["width"] != w or m["height"] != n_rows:
                raise ValueError("JPEG-in-TIFF strip geometry mismatch")
            rows_out.append(
                np.frombuffer(m["pixels"], np.uint8).reshape(
                    n_rows, w, 3
                )
            )
        bgr = np.concatenate(rows_out, axis=0)
        if bgr.shape != (h, w, 3):
            raise ValueError("JPEG-in-TIFF pixel plane incomplete")
        return {
            "width": w,
            "height": h,
            "bit_count": 24,
            "n_pixels": w * h,
            "pixels": bgr.tobytes(),
        }
    if comp == 6:
        # Old-style OJPEG (round 17): TIFF 6.0 §22 was underspecified
        # enough that TTN2 deprecated it, but real scanner/digicam files
        # exist in two shapes. The JPEGInterchangeFormat form — tags
        # 513/514 point at ONE complete JPEG interchange stream
        # embedded whole — is the form libtiff's shim trusts when
        # present. The HEADERLESS tag-51x form (closed later in round
        # 17) carries raw markerless entropy strips plus the deprecated
        # table tags (512 JPEGProc, 519/520/521 per-component Q/DC/AC
        # table offsets, 515 restart interval, 530 subsampling); the
        # decoder reassembles a conforming interchange stream per strip
        # — exactly libtiff's tif_ojpeg reassembly — and routes it
        # through the same in-repo JPEG decoder.
        import numpy as np

        if spp != 3 or photo != 6:
            raise ValueError(
                "OJPEG decode supports 3-sample photometric 6 (YCbCr) "
                "only"
            )
        if 513 in tags and 514 in tags:
            o, c = tags[513][2], tags[514][2]
            if o + c > len(payload):
                raise ValueError("truncated JPEGInterchangeFormat stream")
            stream = payload[o : o + c]
            if stream[:2] != b"\xff\xd8":
                raise ValueError(
                    "JPEGInterchangeFormat stream missing SOI"
                )
            m = _decode_jpeg(stream)
            if m["width"] != w or m["height"] != h:
                raise ValueError("OJPEG stream geometry disagrees with IFD")
            return {
                "width": w,
                "height": h,
                "bit_count": 24,
                "n_pixels": w * h,
                "pixels": m["pixels"],
            }
        proc = tags.get(512, (3, 1, 1, 0))[2]
        if proc != 1:
            raise NotImplementedError(
                f"OJPEG JPEGProc {proc} (14 = lossless) requires the "
                "tag-517/518 lossless path; baseline (proc 1) decodes"
            )
        for t in (519, 520, 521):
            if t not in tags:
                raise ValueError(
                    "headerless OJPEG missing tag-51x table offsets "
                    "(519/520/521)"
                )
        qoffs, dcoffs, acoffs = arr(519), arr(520), arr(521)
        if not (len(qoffs) == len(dcoffs) == len(acoffs) == spp):
            raise ValueError(
                "tag-51x table counts disagree with SamplesPerPixel"
            )
        sub = arr(530) if 530 in tags else [2, 2]  # TIFF 6.0 default
        sub_h, sub_v = sub[0], sub[1] if len(sub) > 1 else sub[0]
        dri = tags.get(515, (3, 1, 0, 0))[2]

        def _dests(offs: list[int]) -> tuple[list[int], list[int]]:
            # components sharing one table point at ONE offset; dedupe
            # to destinations so the rebuilt stream stays within the
            # 4-slot baseline limit
            uniq: list[int] = []
            ids = []
            for o in offs:
                if o not in uniq:
                    uniq.append(o)
                ids.append(uniq.index(o))
            return uniq, ids

        quniq, qids = _dests(qoffs)
        duniq, dids = _dests(dcoffs)
        auniq, aids = _dests(acoffs)
        head = bytearray(b"\xff\xd8")
        for tid, o in enumerate(quniq):
            if o + 64 > len(payload):
                raise ValueError("truncated JPEGQTables data")
            head += b"\xff\xdb" + (67).to_bytes(2, "big")
            head += bytes([tid]) + payload[o: o + 64]
        for cls, uniq in ((0, duniq), (1, auniq)):
            for tid, o in enumerate(uniq):
                if o + 16 > len(payload):
                    raise ValueError("truncated JPEG Huffman table tag")
                n = 16 + sum(payload[o: o + 16])
                if o + n > len(payload):
                    raise ValueError("truncated JPEG Huffman table tag")
                head += b"\xff\xc4" + (3 + n).to_bytes(2, "big")
                head += bytes([(cls << 4) | tid]) + payload[o: o + n]
        if dri:
            head += b"\xff\xdd\x00\x04" + int(dri).to_bytes(2, "big")
        rps_o = tags.get(278, (4, 1, h))[2] or h
        if 273 not in tags or 279 not in tags:
            raise ValueError("TIFF missing StripOffsets/StripByteCounts")
        offsets, counts = arr(273), arr(279)
        if len(offsets) != len(counts):
            raise ValueError("TIFF strip offset/count tables disagree")
        rows_out = []
        for si, (o, c) in enumerate(zip(offsets, counts)):
            if o + c > len(payload):
                raise ValueError("truncated OJPEG strip")
            n_rows = min(rps_o, h - si * rps_o)
            sof = b"\xff\xc0" + (8 + 3 * spp).to_bytes(2, "big")
            sof += bytes([8]) + int(n_rows).to_bytes(2, "big")
            sof += int(w).to_bytes(2, "big") + bytes([spp])
            for k in range(spp):
                hv = (sub_h << 4) | sub_v if k == 0 else 0x11
                sof += bytes([k + 1, hv, qids[k]])
            sos = b"\xff\xda" + (6 + 2 * spp).to_bytes(2, "big")
            sos += bytes([spp])
            for k in range(spp):
                sos += bytes([k + 1, (dids[k] << 4) | aids[k]])
            sos += b"\x00\x3f\x00"
            m = _decode_jpeg(
                bytes(head) + sof + sos + payload[o: o + c] + b"\xff\xd9"
            )
            if m["width"] != w or m["height"] != n_rows:
                raise ValueError("OJPEG strip geometry disagrees with IFD")
            rows_out.append(
                np.frombuffer(m["pixels"], np.uint8).reshape(n_rows, w, 3)
            )
        bgr = np.concatenate(rows_out, axis=0)
        if bgr.shape != (h, w, 3):
            raise ValueError("OJPEG pixel plane incomplete")
        return {
            "width": w,
            "height": h,
            "bit_count": 24,
            "n_pixels": w * h,
            "pixels": bgr.tobytes(),
        }
    if photo != 2 or spp != 3:
        raise ValueError("TIFF decode supports 3-sample RGB (photometric 2)")
    if 258 in tags and arr(258) != [8, 8, 8]:
        raise ValueError("TIFF decode supports 8-bit samples only")
    if comp not in (1, 5, 8, 32773):
        raise ValueError(
            f"TIFF compression {comp} requires external media libraries "
            "(SURVEY §2.10 U1/U2)"
        )
    predictor = tags.get(317, (3, 1, 1))[2]
    if predictor not in (1, 2):
        raise ValueError(f"TIFF predictor {predictor} unsupported")
    rps = tags.get(278, (4, 1, h))[2] or h
    offsets, counts = arr(273), arr(279)
    if len(offsets) != len(counts):
        raise ValueError("TIFF strip offset/count tables disagree")
    # planar config 2 (round 15): StripsPerImage = 3 x ceil(h/rps), the
    # full R-plane strip run first, then G, then B; strip rows carry one
    # byte per pixel instead of three
    bands = (h + rps - 1) // rps
    if planar == 2 and len(offsets) != 3 * bands:
        raise ValueError("TIFF planar strip count disagrees with geometry")
    rows = bytearray()
    row_bytes = w if planar == 2 else w * 3
    for si, (o, c) in enumerate(zip(offsets, counts)):
        if o + c > len(payload):
            raise ValueError("truncated TIFF strip")
        band = si % bands if planar == 2 else si
        n_rows = min(rps, h - band * rps)
        raw = payload[o: o + c]
        if comp == 32773:
            raw = _packbits_decode(raw, n_rows * row_bytes)
        elif comp == 5:
            raw = _tiff_lzw_decode(raw, n_rows * row_bytes)
        elif comp == 8:
            import zlib

            raw = zlib.decompress(raw)
        if len(raw) != n_rows * row_bytes:
            raise ValueError("TIFF strip length mismatch")
        rows += raw
    if len(rows) != h * w * 3:
        raise ValueError("TIFF pixel plane incomplete")
    import numpy as np

    if planar == 2:
        # (plane, h, w) -> interleaved (h, w, 3); the predictor undo
        # below is layout-independent (it differences within a component
        # row, which storage order does not change)
        rgb = np.transpose(
            np.frombuffer(bytes(rows), np.uint8).reshape(3, h, w), (1, 2, 0)
        )
    else:
        rgb = np.frombuffer(bytes(rows), np.uint8).reshape(h, w, 3)
    if predictor == 2:
        # undo horizontal differencing: per-row cumulative sum mod 256
        rgb = np.cumsum(rgb.astype(np.int64), axis=1) % 256
        rgb = rgb.astype(np.uint8)
    return {
        "width": w,
        "height": h,
        "bit_count": 24,
        "n_pixels": w * h,
        "pixels": rgb[:, :, ::-1].tobytes(),  # RGB -> BGR contract
    }


@register(
    "jpeg_precision12_features",
    oracle="""
    SELECT d.doc_id,
           CAST(10 + d.doc_id % 7 AS BIGINT) AS width,
           CAST(9 + d.doc_id % 6 AS BIGINT) AS height,
           CAST((10 + d.doc_id % 7) * (9 + d.doc_id % 6) AS BIGINT)
               AS n_pixels,
           (d.doc_id % 2 = 1) AS grayscale,
           TRUE AS err_ok,
           TRUE AS consistent_with_8bit
    FROM documents d
    ORDER BY d.doc_id
    """,
)
def jpeg_precision12_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """12-bit extended-sequential JPEG (SOF1) under the differential
    gate (round 17; closes the '12-bit JPEG' named seam from the
    r14-r16 COVERAGE lists): per doc a closed-form 12-bit card —
    grayscale on odd docs, neutral-chroma color on even — is encoded
    at precision 12 (2048 level shift, SOF1 marker) and decoded
    through :func:`decode_media`'s JPEG path onto the uniform 8-bit
    BGR contract. ``err_ok`` bounds the reconstruction against
    card/16 by 2 8-bit units (quant 1); ``consistent_with_8bit``
    asserts the 12-bit encode of v*16+8 decodes within stacked
    rounding (<= 4) of the 8-bit encode of v — the scaling-convention
    pin. Geometry hashes against the closed forms. Map-only
    mapInPandas with the standard explicit core fan-out."""
    import numpy as np

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            out = {
                "doc_id": [], "width": [], "height": [], "n_pixels": [],
                "grayscale": [], "err_ok": [], "consistent_with_8bit": [],
            }
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w, h = 10 + d % 7, 9 + d % 6
                gray = d % 2 == 1
                r_idx = np.arange(h, dtype=np.int64).reshape(-1, 1)
                c_idx = np.arange(w, dtype=np.int64)
                card = ((97 * d + 173 * r_idx + 311 * c_idx) % 4096
                        ).astype(np.float64)
                if gray:
                    jp = encode_jpeg(gray_rows=card, precision=12)
                else:
                    jp = encode_jpeg(
                        rows_rgb=np.stack([card] * 3, axis=2),
                        precision=12,
                    )
                meta = decode_media(jp, "image")  # routed SOF1 decode
                px = np.frombuffer(meta["pixels"], np.uint8).reshape(
                    meta["height"], meta["width"], 3
                )
                err = np.abs(
                    px[:, :, 0].astype(np.float64) - card / 16.0
                ).max()
                v8 = (97 * d + 173 * r_idx + 311 * c_idx) % 256
                pa = np.frombuffer(decode_media(encode_jpeg(
                    gray_rows=v8.astype(np.float64)), "image",
                )["pixels"], np.uint8).astype(np.int64)
                pb = np.frombuffer(decode_media(encode_jpeg(
                    gray_rows=v8.astype(np.float64) * 16 + 8,
                    precision=12), "image",
                )["pixels"], np.uint8).astype(np.int64)
                out["doc_id"].append(d)
                out["width"].append(meta["width"])
                out["height"].append(meta["height"])
                out["n_pixels"].append(meta["n_pixels"])
                out["grayscale"].append(gray)
                out["err_ok"].append(bool(err <= 2.0))
                out["consistent_with_8bit"].append(
                    bool(np.abs(pa - pb).max() <= 4)
                )
            yield pd.DataFrame(out)

    schema = (
        "doc_id long, width long, height long, n_pixels long, "
        "grayscale boolean, err_ok boolean, consistent_with_8bit boolean"
    )
    return docs.mapInPandas(run, schema)


@register(
    "jpeg_in_tiff_decode_features",
    oracle="""
    SELECT d.doc_id,
           CAST(9 + d.doc_id % 8 AS BIGINT) AS width,
           CAST(8 + d.doc_id % 5 AS BIGINT) AS height,
           CASE CAST(d.doc_id % 7 AS INTEGER)
                WHEN 4 THEN 'interchange' WHEN 2 THEN 'headerless'
                ELSE 'jpeg7' END AS form,
           (d.doc_id % 2 = 1 AND d.doc_id % 7 <> 4
            AND d.doc_id % 7 <> 2) AS tables_hoisted,
           CAST(CASE WHEN d.doc_id % 7 IN (2, 4) THEN 1
                ELSE (8 + d.doc_id % 5 + (3 + d.doc_id % 3) - 1)
                     // (3 + d.doc_id % 3) END AS BIGINT) AS n_strips,
           TRUE AS strips_match_reference,
           TRUE AS err_ok
    FROM documents d
    ORDER BY d.doc_id
    """,
)
def jpeg_in_tiff_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-style JPEG-in-TIFF (compression 7) under the differential
    gate (round 17; closes a named seam from the r14-r16 COVERAGE
    lists): per doc a closed-form neutral-chroma card is wrapped as a
    multi-strip JPEG-in-TIFF — odd docs hoist the shared DQT segments
    into a tag-347 JPEGTables stream the decoder must splice after
    each strip's SOI (TIFF Technical Note 2), strip height cycling
    3-5 rows so reassembly is always multi-strip — and decoded through
    :func:`decode_media`'s TIFF path. ``strips_match_reference``
    asserts the container decode is BYTE-IDENTICAL to decoding each
    strip's standalone JPEG and stacking (any slip in the tag-347
    splice, strip walk or geometry breaks it); ``err_ok`` bounds the
    lossy JPEG error against the card (|err| <= 4 at quant 1, the
    jpeg_decode_features bound). Docs at doc_id % 7 == 4 are OLD-style
    OJPEG (compression 6 in its JPEGInterchangeFormat form — tags
    513/514, ONE whole-image stream, no strip tables); docs at
    doc_id % 7 == 2 are the fully deprecated HEADERLESS OJPEG form
    (raw markerless entropy strip + tag-51x table offsets 519/520/521,
    JPEGProc 512, YCbCrSubSampling 530 — odd docs 4:2:0 so the tag-530
    sampling reassembly is live), closing both named OJPEG seams: the
    decoder rebuilds a conforming interchange stream from the
    scattered tags before a single MCU decodes. Geometry hashes
    against the closed forms. Map-only mapInPandas with the standard
    core fan-out."""
    import numpy as np

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            out = {
                "doc_id": [], "width": [], "height": [], "form": [],
                "tables_hoisted": [], "n_strips": [],
                "strips_match_reference": [], "err_ok": [],
            }
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w, h = 9 + d % 8, 8 + d % 5
                rps = 3 + d % 3
                # doc_id % 7 == 4: OLD-style OJPEG (round 17, closing
                # the named compression-6 seam): tags 513/514 point at
                # one whole-image interchange stream, no strip tags at
                # all — hoisting/striping do not apply.
                # doc_id % 7 == 2: HEADERLESS OJPEG (round 17, closing
                # the last OJPEG seam): raw markerless entropy strip +
                # tag-51x tables the decoder must reassemble; odd docs
                # 4:2:0 so tag 530 drives a real subsampled rebuild
                oj = d % 7 == 4
                hl = d % 7 == 2
                hoist = d % 2 == 1 and not oj and not hl
                # every fifth doc additionally exercises NON-DIVISOR
                # sampling (round 17): a monotone luma ramp card under
                # Y factor 2 vs chroma 3 — the decoder's nearest-floor
                # fractional upsampler reconstructs a gentle ramp
                # within a small bound, while a mapping slip compresses
                # the ramp and blows past it; divisor docs keep the
                # neutral-chroma card and the tight quant-1 bound
                # (tag 530 cannot express a non-divisor factor, so the
                # headerless docs stay divisor-sampled)
                nondiv = d % 5 == 3 and not oj and not hl
                if nondiv:
                    # monotone, wrap-free ramp: a fractional-upsample
                    # index is off by at most ~1 source pixel, so the
                    # reconstruction error stays within ~2 ramp steps
                    ramp = (3 * d) % 120 + 8 * np.arange(w, dtype=np.int64)
                    g = np.tile(ramp, (h, 1)).astype(np.uint8)
                else:
                    r_idx = np.arange(h, dtype=np.int64).reshape(-1, 1)
                    c_idx = np.arange(w, dtype=np.int64)
                    g = ((7 * d + 11 * r_idx + 5 * c_idx) % 256).astype(
                        np.uint8
                    )
                plane = np.dstack([g, g, g])
                if nondiv:
                    sub = ((2, 1), (3, 1), (3, 1))
                elif hl and d % 2 == 1:
                    sub = "420"
                else:
                    sub = "444"
                if oj:
                    blob = encode_tiff(
                        plane, ojpeg=True, big_endian=(d % 3 == 2),
                        jpeg_subsampling=sub,
                    )
                elif hl:
                    blob = encode_tiff(
                        plane, ojpeg_headerless=True,
                        big_endian=(d % 3 == 2), jpeg_subsampling=sub,
                    )
                else:
                    blob = encode_tiff(
                        plane, rows_per_strip=rps, jpeg=True,
                        jpeg_tables=hoist, big_endian=(d % 3 == 2),
                        jpeg_subsampling=sub,
                    )
                meta = decode_media(blob, "image")  # REAL TIFF decode
                px = np.frombuffer(meta["pixels"], np.uint8).reshape(
                    meta["height"], meta["width"], 3
                )
                refs = []
                whole = oj or hl
                for s0 in range(0, h, h if whole else rps):
                    jp = encode_jpeg(
                        rows_rgb=plane[s0: s0 + (h if whole else rps)][
                            :, :, ::-1
                        ],
                        subsampling=sub,
                    )
                    mm = _decode_jpeg(jp)
                    refs.append(
                        np.frombuffer(mm["pixels"], np.uint8).reshape(
                            -1, w, 3
                        )
                    )
                ref = np.concatenate(refs)
                err = np.abs(
                    px.astype(np.int64) - plane.astype(np.int64)
                ).max()
                out["doc_id"].append(d)
                out["width"].append(meta["width"])
                out["height"].append(meta["height"])
                out["form"].append(
                    "interchange" if oj
                    else ("headerless" if hl else "jpeg7")
                )
                out["tables_hoisted"].append(hoist)
                out["n_strips"].append(
                    1 if whole else (h + rps - 1) // rps
                )
                out["strips_match_reference"].append(
                    bool(np.array_equal(px, ref))
                )
                out["err_ok"].append(bool(err <= (25 if nondiv else 4)))
            yield pd.DataFrame(out)

    schema = (
        "doc_id long, width long, height long, form string, "
        "tables_hoisted boolean, "
        "n_strips long, strips_match_reference boolean, err_ok boolean"
    )
    return docs.mapInPandas(run, schema)


@register(
    "jpeg_hierarchical_features",
    oracle="""
    SELECT d.doc_id,
           CAST(9 + d.doc_id % 8 AS BIGINT) AS width,
           CAST(8 + d.doc_id % 5 AS BIGINT) AS height,
           (d.doc_id % 2 = 0) AS gray,
           CAST(2 + d.doc_id % 3 AS BIGINT) AS levels,
           CAST(1 + d.doc_id % 3 AS BIGINT) AS n_differential,
           TRUE AS err_ok
    FROM documents d
    ORDER BY d.doc_id
    """,
)
def jpeg_hierarchical_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical JPEG (T.81 Annex J) under the differential gate
    (round 17; closes the hierarchical half of the arithmetic/
    hierarchical named seam): per doc a closed-form card — grayscale on
    even docs, neutral-chroma color on odd — is encoded as a DHP-led
    pyramid of 2-4 levels (point-sampled coarsest frame, then per stage
    an EXP reference doubling plus a differential SOF5 frame coding the
    residual with PRED=0 DC) and decoded back through
    :func:`decode_media`'s JPEG path. ``err_ok`` bounds |err| <= 2:
    because the LAST stage codes the full-resolution residual at quant
    1, the pyramid reconstructs TIGHTER than a plain baseline encode —
    a slip in the EXP interpolator, the differential no-level-shift
    rule, or the PRED=0 DC convention blows the bound immediately
    (cumulative per-block drift). ``n_differential`` counts the SOF5
    markers on the wire. Map-only mapInPandas with the standard core
    fan-out."""
    import numpy as np

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            out = {
                "doc_id": [], "width": [], "height": [], "gray": [],
                "levels": [], "n_differential": [], "err_ok": [],
            }
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w, h = 9 + d % 8, 8 + d % 5
                gray = d % 2 == 0
                levels = 2 + d % 3
                r_idx = np.arange(h, dtype=np.int64).reshape(-1, 1)
                c_idx = np.arange(w, dtype=np.int64)
                g = ((7 * d + 11 * r_idx + 5 * c_idx) % 256).astype(
                    np.uint8
                )
                if gray:
                    blob = encode_jpeg_hierarchical(
                        gray_rows=g, levels=levels
                    )
                else:
                    blob = encode_jpeg_hierarchical(
                        rows_rgb=np.dstack([g, g, g]), levels=levels
                    )
                meta = decode_media(blob, "image")  # REAL decode
                px = np.frombuffer(meta["pixels"], np.uint8).reshape(
                    meta["height"], meta["width"], 3
                )
                ref = np.dstack([g, g, g])
                err = np.abs(
                    px.astype(np.int64) - ref.astype(np.int64)
                ).max()
                out["doc_id"].append(d)
                out["width"].append(meta["width"])
                out["height"].append(meta["height"])
                out["gray"].append(gray)
                out["levels"].append(levels)
                out["n_differential"].append(blob.count(b"\xff\xc5"))
                out["err_ok"].append(bool(err <= 2))
            yield pd.DataFrame(out)

    schema = (
        "doc_id long, width long, height long, gray boolean, "
        "levels long, n_differential long, err_ok boolean"
    )
    return docs.mapInPandas(run, schema)


@register(
    "tiff_decode_features",
    oracle="""
    SELECT d.doc_id,
           (d.doc_id % 2 = 1) AS big_endian,
           CASE CAST(d.doc_id % 3 AS INTEGER)
                WHEN 0 THEN 'packbits' WHEN 1 THEN 'lzw' ELSE 'none'
           END AS compression,
           (d.doc_id % 5 = 2) AS planar,
           CAST(6 + d.doc_id % 3 AS BIGINT) AS width,
           CAST(5 + d.doc_id % 4 AS BIGINT) AS height,
           CAST(CAST(SUM((19 * d.doc_id + 7 * p.r + 31 * p.c) % 256) AS BIGINT)
                // ((6 + d.doc_id % 3) * (5 + d.doc_id % 4)) AS BIGINT) AS mean_b,
           CAST(CAST(SUM((11 * d.doc_id + 5 * p.r + 23 * p.c) % 256) AS BIGINT)
                // ((6 + d.doc_id % 3) * (5 + d.doc_id % 4)) AS BIGINT) AS mean_g,
           CAST(CAST(SUM((3 * d.doc_id + 13 * p.r + 37 * p.c) % 256) AS BIGINT)
                // ((6 + d.doc_id % 3) * (5 + d.doc_id % 4)) AS BIGINT) AS mean_r
    FROM documents d,
         LATERAL (SELECT unnest(generate_series(
             0, CAST(4 + d.doc_id % 4 AS BIGINT))) AS r) pr,
         LATERAL (SELECT unnest(generate_series(
             0, CAST(5 + d.doc_id % 3 AS BIGINT))) AS c) pc,
         LATERAL (SELECT pr.r AS r, pc.c AS c) p
    GROUP BY d.doc_id
    ORDER BY d.doc_id
    """,
)
def tiff_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Baseline TIFF under the differential oracle gate (round 13;
    companion to ``image_decode_features``): per document a closed-form
    test card is encoded to a REAL TIFF — odd docs big-endian (MM),
    compression cycling none/PackBits/LZW by doc, every fifth doc in
    PLANAR configuration 2 (separate R/G/B strip runs, round 15; mod 5
    cross-cuts the mod-3 compression and mod-2 endianness cycles so every
    planar x codec pairing occurs), strip height cycling
    1..3 rows so multi-strip assembly is always exercised — and decoded
    back through :func:`decode_media`'s TIFF path (IFD walk, tag typing,
    out-of-line arrays, strip reassembly, RLE, LZW early-change code
    widths). The oracle recomputes the per-channel
    means from the closed form; a byte misread anywhere in either half
    breaks the hash. Map-only mapInPandas."""
    # CPU-dense per-row kernel over a tiny id list: fan the ids across
    # every core explicitly — the one-file parquet scan otherwise yields
    # a single partition and the whole decode runs on one thread
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = {
                "doc_id": [], "big_endian": [], "compression": [],
                "planar": [], "width": [], "height": [], "mean_b": [],
                "mean_g": [], "mean_r": [],
            }
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w, h = 6 + d % 3, 5 + d % 4
                r_idx = np.arange(h, dtype=np.int64).reshape(-1, 1)
                c_idx = np.arange(w, dtype=np.int64)
                plane = np.dstack([
                    (19 * d + 7 * r_idx + 31 * c_idx) % 256,
                    (11 * d + 5 * r_idx + 23 * c_idx) % 256,
                    (3 * d + 13 * r_idx + 37 * c_idx) % 256,
                ]).astype(np.uint8)
                blob = encode_tiff(
                    plane,
                    big_endian=(d % 2 == 1),
                    packbits=(d % 3 == 0),
                    lzw=(d % 3 == 1),
                    # half the LZW docs difference horizontally first —
                    # the decoder must undo it or the means break
                    predictor2=(d % 6 == 1),
                    rows_per_strip=1 + d % 3,
                    planar2=(d % 5 == 2),
                )
                meta = decode_media(blob, "image")  # REAL TIFF decode
                px = np.frombuffer(meta["pixels"], np.uint8).reshape(
                    meta["height"], meta["width"], 3
                )
                n = meta["n_pixels"]
                sums = px.reshape(-1, 3).sum(axis=0, dtype=np.int64)
                out["doc_id"].append(d)
                out["big_endian"].append(d % 2 == 1)
                out["compression"].append(
                    ("packbits", "lzw", "none")[d % 3]
                )
                out["planar"].append(d % 5 == 2)
                out["width"].append(meta["width"])
                out["height"].append(meta["height"])
                out["mean_b"].append(int(sums[0]) // n)
                out["mean_g"].append(int(sums[1]) // n)
                out["mean_r"].append(int(sums[2]) // n)
            yield pd.DataFrame(out)

    schema = (
        "doc_id long, big_endian boolean, compression string, "
        "planar boolean, width long, height long, mean_b long, "
        "mean_g long, mean_r long"
    )
    return docs.mapInPandas(run, schema)


# TIFF 6.0 §13 LZW: MSB-first code packing, 9->12 bit widths with the
# spec's EARLY CHANGE (width bumps one code before the table fills),
# ClearCode 256 / EOI 257, table reset at 4094.

def _tiff_lzw_encode(data: bytes) -> bytes:
    out = _BitWriter()
    CLEAR, EOI = 256, 257

    def reset():
        return {bytes([b]): b for b in range(256)}, 258, 9

    table, next_code, width = reset()
    out.write(CLEAR, width)
    w = b""
    for ch in data:
        k = w + bytes([ch])
        if k in table:
            w = k
            continue
        out.write(table[w], width)
        table[k] = next_code
        next_code += 1
        # early change: the WIDTH of the next emitted code grows when
        # next_code reaches 511/1023/2047 (one before the power of two)
        if next_code in (511, 1023, 2047):
            width += 1
        elif next_code == 4094:
            out.write(CLEAR, width)
            table, next_code, width = reset()
        w = bytes([ch])
    if w:
        out.write(table[w], width)
        if next_code in (510, 1022, 2046):
            width += 1
    out.write(EOI, width)
    out.align()
    return out.bytes()


def _tiff_lzw_decode(data: bytes, expect: int) -> bytes:
    br = _BitReader(data, 0)
    CLEAR, EOI = 256, 257
    out = bytearray()
    table: list[bytes] = []
    width = 9
    prev: bytes | None = None
    while len(out) < expect:
        code = br.read(width)
        if code == EOI:
            break
        if code == CLEAR:
            table = [bytes([b]) for b in range(256)] + [b"", b""]
            width = 9
            prev = None
            continue
        if not table:
            raise ValueError("TIFF LZW stream must begin with ClearCode")
        if prev is None:
            if code >= 256:
                raise ValueError("TIFF LZW: first code after clear not a byte")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):  # KwKwK
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError("TIFF LZW: code beyond table")
        out += entry
        prev = entry
        # early change on the DECODER: it lags the encoder by one table
        # entry (the encoder assigns while emitting; the decoder assigns
        # one code later), so its width bumps at 510/1022/2046 where the
        # encoder bumps at 511/1023/2047 — the libtiff asymmetry
        if len(table) in (510, 1022, 2046):
            width += 1
    if len(out) != expect:
        raise ValueError("TIFF LZW output length mismatch")
    return bytes(out)


# ---------------------------------------------------------------------------
# Sun AU (.snd) audio container — round 13
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# TIFF CCITT Group 4 (ITU-T T.6 / MMR) — round 14: the scanned-document
# corpus format. Pure 2D coding: every row is coded against the row above
# (an imaginary all-white row first) with pass/vertical/horizontal modes;
# horizontal mode falls back to the T.4 run-length alphabets.
#
# DATA STANCE: the T.4 white/black terminating + makeup code tables below
# are reproduced from the public ITU-T T.4 standard (the same tables every
# public fax implementation embeds). They are self-checked at import for
# per-alphabet prefix-freeness — a transposition that broke the prefix
# property would fail fast — and the differential gate proves encoder ->
# decoder consistency over all three modes; fidelity of individual rare
# long-run codewords against third-party encoders is the documented
# validation boundary (no external fax material ships in this container).
# ---------------------------------------------------------------------------

_T4_WHITE = {
    0: "00110101", 1: "000111", 2: "0111", 3: "1000", 4: "1011",
    5: "1100", 6: "1110", 7: "1111", 8: "10011", 9: "10100",
    10: "00111", 11: "01000", 12: "001000", 13: "000011", 14: "110100",
    15: "110101", 16: "101010", 17: "101011", 18: "0100111",
    19: "0001100", 20: "0001000", 21: "0010111", 22: "0000011",
    23: "0000100", 24: "0101000", 25: "0101011", 26: "0010011",
    27: "0100100", 28: "0011000", 29: "00000010", 30: "00000011",
    31: "00011010", 32: "00011011", 33: "00010010", 34: "00010011",
    35: "00010100", 36: "00010101", 37: "00010110", 38: "00010111",
    39: "00101000", 40: "00101001", 41: "00101010", 42: "00101011",
    43: "00101100", 44: "00101101", 45: "00000100", 46: "00000101",
    47: "00001010", 48: "00001011", 49: "01010010", 50: "01010011",
    51: "01010100", 52: "01010101", 53: "00100100", 54: "00100101",
    55: "01011000", 56: "01011001", 57: "01011010", 58: "01011011",
    59: "01001010", 60: "01001011", 61: "00110010", 62: "00110011",
    63: "00110100",
    64: "11011", 128: "10010", 192: "010111", 256: "0110111",
    320: "00110110", 384: "00110111", 448: "01100100", 512: "01100101",
    576: "01101000", 640: "01100111", 704: "011001100", 768: "011001101",
    832: "011010010", 896: "011010011", 960: "011010100",
    1024: "011010101", 1088: "011010110", 1152: "011010111",
    1216: "011011000", 1280: "011011001", 1344: "011011010",
    1408: "011011011", 1472: "010011000", 1536: "010011001",
    1600: "010011010", 1664: "011000", 1728: "010011011",
}
_T4_BLACK = {
    0: "0000110111", 1: "010", 2: "11", 3: "10", 4: "011", 5: "0011",
    6: "0010", 7: "00011", 8: "000101", 9: "000100", 10: "0000100",
    11: "0000101", 12: "0000111", 13: "00000100", 14: "00000111",
    15: "000011000", 16: "0000010111", 17: "0000011000",
    18: "0000001000", 19: "00001100111", 20: "00001101000",
    21: "00001101100", 22: "00000110111", 23: "00000101000",
    24: "00000010111", 25: "00000011000", 26: "000011001010",
    27: "000011001011", 28: "000011001100", 29: "000011001101",
    30: "000001101000", 31: "000001101001", 32: "000001101010",
    33: "000001101011", 34: "000011010010", 35: "000011010011",
    36: "000011010100", 37: "000011010101", 38: "000011010110",
    39: "000011010111", 40: "000001101100", 41: "000001101101",
    42: "000011011010", 43: "000011011011", 44: "000001010100",
    45: "000001010101", 46: "000001010110", 47: "000001010111",
    48: "000001100100", 49: "000001100101", 50: "000001010010",
    51: "000001010011", 52: "000000100100", 53: "000000110111",
    54: "000000111000", 55: "000000100111", 56: "000000101000",
    57: "000001011000", 58: "000001011001", 59: "000000101011",
    60: "000000101100", 61: "000001011010", 62: "000001100110",
    63: "000001100111",
    64: "0000001111", 128: "000011001000", 192: "000011001001",
    256: "000001011011", 320: "000000110011", 384: "000000110100",
    448: "000000110101", 512: "0000001101100", 576: "0000001101101",
    640: "0000001001010", 704: "0000001001011", 768: "0000001001100",
    832: "0000001001101", 896: "0000001110010", 960: "0000001110011",
    1024: "0000001110100", 1088: "0000001110101", 1152: "0000001110110",
    1216: "0000001110111", 1280: "0000001010010", 1344: "0000001010011",
    1408: "0000001010100", 1472: "0000001010101", 1536: "0000001011010",
    1600: "0000001011011", 1664: "0000001100100", 1728: "0000001100101",
}
# extended makeup codes 1792-2560 are shared by both alphabets (T.4 §2)
_T4_EXT = {
    1792: "00000001000", 1856: "00000001100", 1920: "00000001101",
    1984: "000000010010", 2048: "000000010011", 2112: "000000010100",
    2176: "000000010101", 2240: "000000010110", 2304: "000000010111",
    2368: "000000011100", 2432: "000000011101", 2496: "000000011110",
    2560: "000000011111",
}
# T.6 2D mode codes
_G4_MODES = {
    "P": "0001", "H": "001", "V0": "1",
    "VR1": "011", "VR2": "000011", "VR3": "0000011",
    "VL1": "010", "VL2": "000010", "VL3": "0000010",
    # T.4 §4.2.1.3.5 / T.6 extension escape: 0000001 + 3 xxx bits;
    # xxx = 111 enters uncompressed mode (Annex A), others raise by name
    "EXT": "0000001",
}


def _t4_check_prefix_free() -> None:
    """Import-time self-check: each run-length alphabet (terminating +
    makeup + shared extension) and the 2D mode code set are prefix-free."""
    for name, table in (
        ("white", {**_T4_WHITE, **_T4_EXT}),
        ("black", {**_T4_BLACK, **_T4_EXT}),
        ("modes", _G4_MODES),
    ):
        codes = sorted(table.values(), key=len)
        for a_i, a in enumerate(codes):
            for b in codes[a_i + 1:]:
                if b.startswith(a):
                    raise AssertionError(f"T.4 {name} alphabet not prefix-free: {a} < {b}")


_t4_check_prefix_free()


def _t4_run_bits(run: int, white: bool) -> str:
    """T.4 run-length encoding: zero or more makeup codes (largest first)
    plus exactly one terminating code 0-63."""
    table = _T4_WHITE if white else _T4_BLACK
    out = []
    while run > 2560:
        out.append(_T4_EXT[2560])
        run -= 2560
    if run >= 64:
        mk = (run // 64) * 64
        if mk > 1728:
            out.append(_T4_EXT[mk])
        else:
            out.append(table[mk])
        run -= mk
    out.append(table[run])
    return "".join(out)


def _row_changes(row) -> list[int]:
    """Positions where the pixel color changes, per T.4/T.6 convention
    (position of the first pixel of each new run), terminated by two
    sentinels at width."""
    w = len(row)
    ch = [j for j in range(1, w) if row[j] != row[j - 1]]
    if w and row[0] != 0:
        ch.insert(0, 0)
    ch.extend([w, w])
    return ch


def _g4_row_bits(row, ref, counts: dict) -> str:
    """Code ONE row in T.6/T.4-2D mode against its reference line:
    pass when b2 < a1, vertical within +/-3, horizontal otherwise (the
    spec's decision order). Shared by the G4 encoder and the G3 2D rows;
    increments ``counts`` per mode."""
    bits: list[str] = []
    w = len(row)
    a0 = -1
    color = 0
    cur_ch = _row_changes(row)
    ref_ch = _row_changes(ref)
    while True:
        a1 = w
        for c in cur_ch:
            if c > a0 and (c == w or (row[c] != color)):
                a1 = c
                break
        b1 = w
        for c in ref_ch:
            if c > a0 and (c == w or ref[c] != color):
                b1 = c
                break
        b2 = w
        for c in ref_ch:
            if c > b1:
                b2 = c
                break
        if b2 < a1:
            bits.append(_G4_MODES["P"])
            counts["P"] += 1
            a0 = b2
            continue
        d = a1 - b1
        if -3 <= d <= 3:
            key = "V0" if d == 0 else (f"VR{d}" if d > 0 else f"VL{-d}")
            bits.append(_G4_MODES[key])
            counts["V"] += 1
            a0 = a1
            color ^= 1
        else:
            a2 = w
            for c in cur_ch:
                if c > a1 and (c == w or row[c] == color):
                    a2 = c
                    break
            start = 0 if a0 < 0 else a0
            bits.append(_G4_MODES["H"])
            bits.append(_t4_run_bits(a1 - start, white=(color == 0)))
            bits.append(_t4_run_bits(a2 - a1, white=(color != 0)))
            counts["H"] += 1
            a0 = a2
        if a0 >= w:
            break
    return "".join(bits)


def _mh_row_bits(row) -> str:
    """Code ONE row as T.4 1D alternating white/black runs (white first,
    possibly zero-length). Shared by Modified Huffman and G3 1D rows."""
    bits = []
    w = len(row)
    j = 0
    color = 0
    while j < w:
        run = 0
        while j + run < w and row[j + run] == color:
            run += 1
        bits.append(_t4_run_bits(run, white=(color == 0)))
        j += run
        color ^= 1
    return "".join(bits)


def _bits_to_bytes(s: str) -> bytes:
    s += "0" * (-len(s) % 8)
    return bytes(int(s[i: i + 8], 2) for i in range(0, len(s), 8))


def g4_encode(rows) -> tuple[bytes, dict]:
    """ITU-T T.6 (Group 4 / MMR) encoder over a bilevel bitmap (iterable
    of rows; 0 = white, 1 = black): pure 2D coding against the previous
    row (imaginary all-white first reference). Returns (bytes padded to
    a byte boundary, mode-count dict) so tests can assert all three
    modes were exercised."""
    counts = {"P": 0, "H": 0, "V": 0}
    w = len(rows[0])
    ref = [0] * w
    bits = []
    for row in rows:
        bits.append(_g4_row_bits(row, ref, counts))
        ref = row
    return _bits_to_bytes("".join(bits)), counts


_G3_EOL = "000000000001"


def _uncompressed_row_bits(row) -> str:
    """Code one whole row in T.4 Annex A uncompressed mode: the 2D
    extension escape (0000001 111), literal codes ("0"*n + "1" for n<=4
    whites before each black, "000001" per five whites), and the exit
    code whose 0-4 trailing zeros absorb the row's final white run
    (next-run colour bit 0 — the row is complete, the decoder discards
    it at the row boundary)."""
    bits = ["0000001", "111"]
    zeros = 0
    for v in row:
        if v:
            while zeros >= 5:
                bits.append("000001")
                zeros -= 5
            bits.append("0" * zeros + "1")
            zeros = 0
        else:
            zeros += 1
    while zeros > 4:
        bits.append("000001")
        zeros -= 5
    bits.append("0" * (6 + zeros) + "1" + "0")  # exit + next-colour bit
    return "".join(bits)


def g3_encode(rows, two_d: bool = False,
              uncompressed: bool = False) -> tuple[bytes, dict]:
    """ITU-T T.4 (Group 3) encoder, TIFF compression 3: an EOL before
    EVERY row; 1D rows are the Modified Huffman alphabet. With
    ``two_d`` (T4Options bit 0), each EOL carries a tag bit — the first
    row is 1D (tag 1), subsequent rows 2D (tag 0) against the previous
    row, the K-factor pattern a fax sender uses between full resyncs.
    With ``uncompressed`` (T4Options bit 1, requires ``two_d``) every
    2D row is coded through the Annex A uncompressed escape instead."""
    if uncompressed and not two_d:
        raise ValueError(
            "T.4 uncompressed mode is entered through the 2D extension "
            "escape; pass two_d=True"
        )
    counts = {"P": 0, "H": 0, "V": 0, "1D": 0, "U": 0}
    bits = []
    ref = None
    for row in rows:
        bits.append(_G3_EOL)
        if two_d:
            bits.append("1" if ref is None else "0")
        if ref is None or not two_d:
            bits.append(_mh_row_bits(row))
            counts["1D"] += 1
        elif uncompressed:
            bits.append(_uncompressed_row_bits(row))
            counts["U"] += 1
        else:
            bits.append(_g4_row_bits(row, ref, counts))
        ref = row
    return _bits_to_bytes("".join(bits)), counts


class _FaxBits:
    """MSB-first bit reader over the fax alphabets: prefix-code lookup
    for the 2D mode set and the T.4 white/black run alphabets (makeup
    chains folded in), plus EOL scanning with fill-bit tolerance."""

    _MODE_DEC = None
    _WHITE_DEC = None
    _BLACK_DEC = None

    def __init__(self, data: bytes):
        if _FaxBits._MODE_DEC is None:
            _FaxBits._MODE_DEC = {v: k for k, v in _G4_MODES.items()}
            _FaxBits._WHITE_DEC = {
                v: k for k, v in {**_T4_WHITE, **_T4_EXT}.items()
            }
            _FaxBits._BLACK_DEC = {
                v: k for k, v in {**_T4_BLACK, **_T4_EXT}.items()
            }
        self.bits = "".join(f"{b:08b}" for b in data)
        self.pos = 0

    def code(self, table: dict, what: str):
        for ln in range(1, 14):
            c = self.bits[self.pos: self.pos + ln]
            if len(c) < ln:
                raise ValueError(f"fax bit stream exhausted inside {what}")
            if c in table:
                self.pos += ln
                return table[c]
        raise ValueError(f"invalid fax {what} code at bit {self.pos}")

    def mode(self):
        return self.code(_FaxBits._MODE_DEC, "mode")

    def run(self, white: bool) -> int:
        total = 0
        while True:
            r = self.code(
                _FaxBits._WHITE_DEC if white else _FaxBits._BLACK_DEC, "run"
            )
            total += r
            if r < 64:
                return total

    def bit(self) -> int:
        if self.pos >= len(self.bits):
            raise ValueError("fax bit stream exhausted at a tag bit")
        b = self.bits[self.pos]
        self.pos += 1
        return int(b)

    def eol(self) -> None:
        """Consume fill zeros + the 000000000001 EOL: at least 11 zeros
        then a one (fill bits only lengthen the zero run)."""
        zeros = 0
        while self.pos < len(self.bits) and self.bits[self.pos] == "0":
            zeros += 1
            self.pos += 1
        if self.pos >= len(self.bits):
            raise ValueError("fax bit stream exhausted looking for EOL")
        if zeros < 11:
            raise ValueError(f"malformed G3 EOL (only {zeros} zero bits)")
        self.pos += 1  # the terminating 1

    def align(self) -> None:
        self.pos += -self.pos % 8


def _fax_row_1d(fb: "_FaxBits", width: int) -> list[int]:
    """Decode one T.4 1D row: alternating white/black runs, white first,
    exactly filling the row."""
    row = [0] * width
    j = 0
    color = 0
    while j < width:
        total = fb.run(white=(color == 0))
        if j + total > width:
            raise ValueError("fax 1D run overruns the row")
        if color:
            for k in range(j, j + total):
                row[k] = 1
        j += total
        color ^= 1
    return row


def _fax_row_2d(fb: "_FaxBits", ref: list[int], width: int) -> list[int]:
    """Decode one 2D-coded row (T.6, or a G3 2D row) against its
    reference line."""
    row = [0] * width
    a0 = -1
    color = 0
    ref_ch = _row_changes(ref)
    while a0 < width:
        mode = fb.mode()
        b1 = width
        for c in ref_ch:
            if c > a0 and (c == width or ref[c] != color):
                b1 = c
                break
        b2 = width
        for c in ref_ch:
            if c > b1:
                b2 = c
                break
        start = 0 if a0 < 0 else a0
        if mode == "P":
            for j in range(start, b2):
                row[j] = color
            a0 = b2
        elif mode == "H":
            r1 = fb.run(white=(color == 0))
            r2 = fb.run(white=(color != 0))
            if start + r1 + r2 > width:
                # same contract as the 1D path: corrupt data raises by
                # name, never decodes to a plausible wrong raster
                raise ValueError("fax horizontal runs overrun the row")
            for j in range(start, start + r1):
                row[j] = color
            for j in range(start + r1, start + r1 + r2):
                row[j] = color ^ 1
            a0 = start + r1 + r2
        elif mode == "EXT":
            ext = f"{fb.bit()}{fb.bit()}{fb.bit()}"
            if ext != "111":
                raise ValueError(
                    f"fax extension code 0000001{ext} unsupported "
                    "(only 111 = T.4/T.6 uncompressed mode decodes)"
                )
            # T.4 Annex A uncompressed mode (round 16): literal pixel
            # codes — n<=4 zeros + an emitted black ("0"*n + "1"),
            # "000001" = five white pixels, exit = 6-10 zeros + "1"
            # (coding 0-4 trailing whites) + the next-run colour bit
            pos = start
            while True:
                zeros = 0
                while not fb.bit():
                    zeros += 1
                    if zeros > 10:
                        raise ValueError(
                            "invalid T.4 uncompressed code (>10 zeros)"
                        )
                if zeros <= 4:
                    if pos + zeros + 1 > width:
                        raise ValueError(
                            "T.4 uncompressed run overruns the row"
                        )
                    pos += zeros  # row is zero-initialized: whites free
                    row[pos] = 1
                    pos += 1
                elif zeros == 5:
                    if pos + 5 > width:
                        raise ValueError(
                            "T.4 uncompressed run overruns the row"
                        )
                    pos += 5
                else:
                    trailing = zeros - 6
                    if pos + trailing > width:
                        raise ValueError(
                            "T.4 uncompressed exit overruns the row"
                        )
                    pos += trailing
                    color = fb.bit()  # colour of the next 2D-coded run
                    break
            a0 = pos
        else:
            d = {"V0": 0, "VR1": 1, "VR2": 2, "VR3": 3,
                 "VL1": -1, "VL2": -2, "VL3": -3}[mode]
            a1 = b1 + d
            if a1 < 0 or a1 > width:
                raise ValueError("fax vertical mode escapes the row")
            for j in range(start, a1):
                row[j] = color
            a0 = a1
            color ^= 1
    return row


def _g4_decode(data: bytes, width: int, height: int):
    """ITU-T T.6 decoder: MSB-first bit stream, per-row 2D modes against
    the previous row, T.4 run alphabets inside horizontal mode. Raises
    by name on any unrecognized code (never guesses). Returns a
    height x width numpy uint8 bitmap (1 = black)."""
    import numpy as np

    fb = _FaxBits(data)
    out = np.zeros((height, width), np.uint8)
    ref = [0] * width
    for y in range(height):
        row = _fax_row_2d(fb, ref, width)
        out[y] = row
        ref = row
    return out


def _g3_decode(data: bytes, width: int, height: int, two_d: bool):
    """ITU-T T.4 (Group 3) decoder, TIFF compression 3: every row is
    preceded by an EOL (fill zeros tolerated); with the 2D option each
    EOL carries a tag bit selecting 1D or 2D coding for the next row.
    Raises by name; never guesses."""
    import numpy as np

    fb = _FaxBits(data)
    out = np.zeros((height, width), np.uint8)
    ref = [0] * width
    for y in range(height):
        fb.eol()
        if two_d:
            tag = fb.bit()
            row = (
                _fax_row_1d(fb, width) if tag else _fax_row_2d(fb, ref, width)
            )
        else:
            row = _fax_row_1d(fb, width)
        out[y] = row
        ref = row
    return out


def mh_encode(rows) -> bytes:
    """CCITT Modified Huffman (TIFF compression 2, 'CCITT RLE'): each row
    is an independent 1D sequence of alternating white/black run lengths
    in the T.4 alphabets, always starting with a (possibly zero-length)
    white run, and each row starts on a byte boundary."""
    out = []
    for row in rows:
        out.append(_bits_to_bytes(_mh_row_bits(row)))
    return b"".join(out)


def _mh_decode(data: bytes, width: int, height: int):
    """CCITT Modified Huffman decoder: per byte-aligned row, alternating
    white/black T.4 runs until the row is exactly filled. Raises by name
    on invalid codes or overrun rows; never guesses."""
    import numpy as np

    fb = _FaxBits(data)
    out = np.zeros((height, width), np.uint8)
    for y in range(height):
        out[y] = _fax_row_1d(fb, width)
        fb.align()  # rows are byte-aligned
    return out


def encode_tiff_g4(bitmap, big_endian: bool = False,
                   photometric: int = 0, compression: int = 4,
                   two_d: bool = False,
                   uncompressed: bool = False) -> bytes:
    """Encode a bilevel (h, w) bitmap (1 = black) as a TIFF 6.0 CCITT
    fax file: compression 4 (Group 4 / T.6 2D), 3 (Group 3 / T.4 with
    EOLs; ``two_d`` sets T4Options bit 0 and codes rows 2D after the 1D
    resync row) or 2 (Modified Huffman 1D rows), BitsPerSample 1,
    SamplesPerPixel 1, photometric 0 (WhiteIsZero, the fax convention)
    or 1 (inverted), single strip."""
    import struct

    import numpy as np

    arr = np.asarray(bitmap, dtype=np.uint8)
    if arr.ndim != 2:
        raise ValueError("encode_tiff_g4 wants (h, w) bilevel")
    if compression not in (2, 3, 4):
        raise ValueError("bilevel compression must be 2 (MH), 3 (G3) or 4 (G4)")
    h, w = arr.shape
    rows = (arr if photometric == 0 else 1 - arr).tolist()
    if compression == 2:
        strip = mh_encode(rows)
    elif compression == 3:
        strip = g3_encode(rows, two_d=two_d, uncompressed=uncompressed)[0]
    else:
        strip = g4_encode(rows)[0]
    e = ">" if big_endian else "<"
    hdr = (b"MM\x00*" if big_endian else b"II*\x00") + struct.pack(e + "I", 8)
    n_tags = 9 + (1 if compression == 3 else 0)
    ifd_size = 2 + 12 * n_tags + 4
    data_off = 8 + ifd_size

    def tag(tid: int, ttype: int, count: int, value: int) -> bytes:
        if ttype == 3:
            return struct.pack(e + "HHIHH", tid, ttype, count, value, 0)
        return struct.pack(e + "HHII", tid, ttype, count, value)

    ifd = struct.pack(e + "H", n_tags)
    ifd += tag(256, 4, 1, w)
    ifd += tag(257, 4, 1, h)
    ifd += tag(258, 3, 1, 1)             # BitsPerSample 1
    ifd += tag(259, 3, 1, compression)   # Compression: T.6 / T.4 / MH
    ifd += tag(262, 3, 1, photometric)
    ifd += tag(273, 4, 1, data_off)      # StripOffsets
    ifd += tag(277, 3, 1, 1)             # SamplesPerPixel
    ifd += tag(278, 4, 1, h)             # RowsPerStrip
    ifd += tag(279, 4, 1, len(strip))    # StripByteCounts
    if compression == 3:
        # T4Options: bit 0 = 2D coding, bit 1 = uncompressed mode allowed
        ifd += tag(292, 4, 1, (1 if two_d else 0) | (2 if uncompressed else 0))
    ifd += struct.pack(e + "I", 0)
    return hdr + ifd + strip


@register(
    "tiff_g4_decode_features",
    oracle="""
    SELECT d.doc_id,
           CAST(18 + d.doc_id % 13 AS BIGINT) AS width,
           CAST(10 + d.doc_id % 7 AS BIGINT) AS height,
           (d.doc_id % 2 = 1) AS big_endian,
           CAST(d.doc_id // 2 % 2 AS BIGINT) AS photometric,
           CAST(CASE CAST(d.doc_id % 7 AS INTEGER)
                     WHEN 0 THEN 2 WHEN 4 THEN 3 WHEN 5 THEN 3
                     WHEN 6 THEN 3 ELSE 4 END AS BIGINT) AS compression,
           (d.doc_id % 7 = 6 OR d.doc_id % 7 = 4) AS t4_two_d,
           (d.doc_id % 7 = 4) AS t4_uncompressed,
           CAST(SUM(CASE WHEN (7 * p.j + 3 * p.i * p.i + d.doc_id) % 11 < 4
                         THEN 1 ELSE 0 END) AS BIGINT) AS black_count,
           CAST(SUM(CASE WHEN (7 * p.j + 3 * p.i * p.i + d.doc_id) % 11 < 4
                         THEN (p.i + 1) * (p.j + 1) ELSE 0 END)
                AS BIGINT) AS pos_weight
    FROM documents d,
         LATERAL (SELECT unnest(generate_series(
             0, CAST(9 + d.doc_id % 7 AS BIGINT))) AS i) pr,
         LATERAL (SELECT unnest(generate_series(
             0, CAST(17 + d.doc_id % 13 AS BIGINT))) AS j) pc,
         LATERAL (SELECT pr.i AS i, pc.j AS j) p
    GROUP BY d.doc_id
    ORDER BY d.doc_id
    """,
)
def tiff_g4_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIFF CCITT Group 4 (T.6) under the differential gate (round 14 —
    the scanned-document corpus format the r13 verdict named as the next
    TIFF seam). Per doc a closed-form bilevel page (quadratic row drift,
    so the encoder's pass/vertical/horizontal decision logic all fire —
    pinned by pytest mode counts) round-trips through
    :func:`encode_tiff_g4` -> the REAL :func:`_g4_decode` (2D modes
    against the reference line + T.4 run alphabets inside horizontal
    mode), across both byte orders and both bilevel photometrics. The
    oracle recomputes black-pixel count AND the position-weighted sum
    (i+1)*(j+1) — the raster must be right pixel-for-pixel, not just in
    aggregate. Docs rotate the FULL fax matrix by doc_id %% 7: Modified
    Huffman (compression 2, independent byte-aligned 1D rows), Group 3
    (compression 3, EOL-per-row; one variant 1D, one 2D with the
    T4Options tag bit and per-row tag bits, and — round 16 — one 2D
    with T4Options bit 1 coding every 2D row through the Annex A
    UNCOMPRESSED escape: literal pixel codes + the trailing-zeros exit)
    and Group 4 — five CCITT shapes under the same hash. Map-only
    mapInPandas with the standard core fan-out."""
    import numpy as np

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            out = {
                "doc_id": [], "width": [], "height": [], "big_endian": [],
                "photometric": [], "compression": [], "t4_two_d": [],
                "t4_uncompressed": [], "black_count": [], "pos_weight": [],
            }
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w = 18 + d % 13
                h = 10 + d % 7
                photo = (d // 2) % 2
                sel = d % 7
                comp = {0: 2, 4: 3, 5: 3, 6: 3}.get(sel, 4)
                two_d = sel in (4, 6)
                uncomp = sel == 4
                i, j = np.mgrid[0:h, 0:w]
                bm = (((7 * j + 3 * i * i + d) % 11) < 4).astype(np.uint8)
                blob = encode_tiff_g4(
                    bm, big_endian=(d % 2 == 1), photometric=photo,
                    compression=comp, two_d=two_d, uncompressed=uncomp,
                )
                m = decode_media(blob, "image")  # REAL G4 decode
                px = np.frombuffer(m["pixels"], np.uint8).reshape(h, w, 3)
                black = (px[:, :, 0] == 0)
                out["doc_id"].append(d)
                out["width"].append(m["width"])
                out["height"].append(m["height"])
                out["big_endian"].append(d % 2 == 1)
                out["photometric"].append(photo)
                out["compression"].append(comp)
                out["t4_two_d"].append(two_d)
                out["t4_uncompressed"].append(uncomp)
                out["black_count"].append(int(black.sum()))
                out["pos_weight"].append(
                    int((((i + 1) * (j + 1)) * black).sum())
                )
            yield pd.DataFrame(out)

    schema = (
        "doc_id long, width long, height long, big_endian boolean, "
        "photometric long, compression long, t4_two_d boolean, "
        "t4_uncompressed boolean, black_count long, pos_weight long"
    )
    return docs.mapInPandas(run, schema)


_AU_MAGIC = b".snd"
_AU_ULAW = 1
_AU_PCM8 = 2
_AU_PCM16 = 3
_AU_PCM24 = 4
_AU_PCM32 = 5
_AU_FLOAT32 = 6
_AU_FLOAT64 = 7
_AU_G721 = 23
_AU_G722 = 24
_AU_G723_24 = 25
_AU_G723_40 = 26
_AU_ALAW = 27


# ---------------------------------------------------------------------------
# CCITT G.721 / G.723 ADPCM (AU encodings 23/25/26) — round 15.
#
# The ITU G.726 family (G.721 32 kbit/s 4-bit; G.723 24 kbit/s 3-bit and
# 40 kbit/s 5-bit) is an adaptive-predictive coder: a 2-pole/6-zero
# adaptive predictor, a log-domain adaptive quantizer with locked/
# unlocked scale factors, speed control, and tone/transition detection —
# all exactly specified fixed-point arithmetic (the reference pipeline
# would shell this to ffmpeg like every other codec,
# inputs/speech_to_text.py:24-26; here it is the same stdlib-only
# differential-gate stance as the MP3/FLAC/G.711 paths).
#
# Data stance (the round-14 Kraft discipline, adapted): the per-codec
# quantizer tables below are reproduced from the public spec and
# validated at import by _g72x_check_tables() — decision levels strictly
# increasing, output levels mirror-symmetric with the -2048 (log2 -16,
# i.e. zero-magnitude) sentinel at both ends, every positive-half output
# level lying strictly INSIDE its decision interval, and W(I)/F(I)
# mirror-symmetric and nondecreasing in |I|. A mis-remembered entry
# breaks one of these structural invariants with high probability;
# value-assignment fidelity against third-party codecs is the documented
# validation boundary, as for the Huffman/fax alphabets.
# ---------------------------------------------------------------------------

_G72X_POW2 = (1, 2, 4, 8, 16, 32, 64, 128, 256, 512,
              1024, 2048, 4096, 8192, 16384)

# Per-codec tables, all in the spec's fixed-point units: decision levels
# and output levels are log2-domain Q7 (so -2048 = -16.0 means "zero
# magnitude"), W(I) is Q9 (G.721 stores Q4 and shifts by 5 at use, the
# published convention), F(I) is Q9 (F values 0..7 << 9).
_G721_QTAB = (-124, 80, 178, 246, 300, 349, 400)
_G721_DQLN = (-2048, 4, 135, 213, 273, 323, 373, 425,
              425, 373, 323, 273, 213, 135, 4, -2048)
_G721_WI = (-12, 18, 41, 64, 112, 198, 355, 1122,
            1122, 355, 198, 112, 64, 41, 18, -12)  # Q4: <<5 at use
_G721_FI = (0, 0, 0, 0x200, 0x200, 0x200, 0x600, 0xE00,
            0xE00, 0x600, 0x200, 0x200, 0x200, 0, 0, 0)

_G723_24_QTAB = (8, 218, 331)
_G723_24_DQLN = (-2048, 135, 273, 373, 373, 273, 135, -2048)
_G723_24_WI = (-128, 960, 4384, 18624, 18624, 4384, 960, -128)  # Q9
_G723_24_FI = (0, 0x200, 0x400, 0xE00, 0xE00, 0x400, 0x200, 0)

_G723_40_QTAB = (-122, -16, 67, 138, 197, 249, 297, 338,
                 377, 412, 444, 474, 501, 527, 553)
_G723_40_DQLN = (-2048, -66, 28, 104, 169, 224, 274, 318,
                 358, 395, 429, 459, 488, 514, 539, 566,
                 566, 539, 514, 488, 459, 429, 395, 358,
                 318, 274, 224, 169, 104, 28, -66, -2048)
_G723_40_WI = (448, 448, 768, 1248, 1280, 1312, 1856, 3200,
               4512, 5728, 7008, 8960, 11456, 14080, 16928, 22272,
               22272, 16928, 14080, 11456, 8960, 7008, 5728, 4512,
               3200, 1856, 1312, 1280, 1248, 768, 448, 448)  # Q9
_G723_40_FI = (0, 0, 0, 0, 0, 0x200, 0x200, 0x200,
               0x200, 0x200, 0x400, 0x600, 0x800, 0xA00, 0xC00, 0xC00,
               0xC00, 0xC00, 0xA00, 0x800, 0x600, 0x400, 0x200, 0x200,
               0x200, 0x200, 0x200, 0, 0, 0, 0, 0)

# law -> (code bits, qtab, dqln, wi already Q9?, fi)
_G72X_LAWS = {
    "g721": (4, _G721_QTAB, _G721_DQLN,
             tuple(w << 5 for w in _G721_WI), _G721_FI),
    "g723_24": (3, _G723_24_QTAB, _G723_24_DQLN, _G723_24_WI, _G723_24_FI),
    "g723_40": (5, _G723_40_QTAB, _G723_40_DQLN, _G723_40_WI, _G723_40_FI),
}


def _g72x_check_tables() -> None:
    """Import-time structural validation of the G.72x quantizer tables
    (see the data stance above)."""
    for law, (bits, qtab, dqln, wi, fi) in _G72X_LAWS.items():
        n = 1 << bits
        size = len(qtab)
        if len(dqln) != n or len(wi) != n or len(fi) != n:
            raise AssertionError(f"{law}: table sizes disagree with {bits} bits")
        if size != (n // 2) - 1:
            raise AssertionError(f"{law}: qtab size {size} != 2^(bits-1)-1")
        if list(qtab) != sorted(set(qtab)):
            raise AssertionError(f"{law}: decision levels not increasing")
        for i in range(n // 2):
            if dqln[i] != dqln[n - 1 - i] or wi[i] != wi[n - 1 - i] \
                    or fi[i] != fi[n - 1 - i]:
                raise AssertionError(f"{law}: tables not mirror-symmetric")
        if dqln[0] != -2048 or dqln[n - 1] != -2048:
            raise AssertionError(f"{law}: missing zero-magnitude sentinel")
        # each positive-half output level sits strictly inside its
        # decision interval (the defining property of a quantizer)
        for i in range(1, n // 2):
            lo = qtab[i - 1]
            hi = qtab[i] if i < size else None
            if dqln[i] <= lo or (hi is not None and dqln[i] >= hi):
                raise AssertionError(
                    f"{law}: output level {i} outside its decision interval"
                )
        pos_wi, pos_fi = wi[: n // 2], fi[: n // 2]
        if list(pos_wi) != sorted(pos_wi) or list(pos_fi) != sorted(pos_fi):
            raise AssertionError(f"{law}: W(I)/F(I) not nondecreasing in |I|")


_g72x_check_tables()


class _G72xState:
    """Predictor/quantizer state (G.726 §4): locked+unlocked scale
    factors, speed control, 2 poles, 6 zeros, signal history in the
    spec's 4-bit-exponent/6-bit-mantissa floating format."""

    __slots__ = ("yl", "yu", "dms", "dml", "ap",
                 "a", "b", "pk", "dq", "sr", "td")

    def __init__(self) -> None:
        self.yl = 34816
        self.yu = 544
        self.dms = 0
        self.dml = 0
        self.ap = 0
        self.a = [0, 0]
        self.b = [0] * 6
        self.pk = [0, 0]
        self.dq = [32] * 6
        self.sr = [32, 32]
        self.td = 0


def _g72x_quan(val: int, table) -> int:
    for i, t in enumerate(table):
        if val < t:
            return i
    return len(table)


def _g72x_fmult(an: int, srn: int) -> int:
    """Fixed-point multiply of a predictor coefficient by a signal value
    stored in the spec's sign/exponent/mantissa floating format.
    int.bit_length() IS _g72x_quan(v, _G72X_POW2) on the 0..32767
    domain every caller is bounded to (round-16 hot-path swap, verified
    bit-exact by the tracking gates)."""
    anmag = an if an > 0 else (-an) & 0x1FFF
    anexp = anmag.bit_length() - 6
    if anmag == 0:
        anmant = 32
    elif anexp >= 0:
        anmant = anmag >> anexp
    else:
        anmant = anmag << -anexp
    wanexp = anexp + ((srn >> 6) & 0xF) - 13
    wanmant = (anmant * (srn & 0o77) + 0x30) >> 4
    if wanexp >= 0:
        retval = (wanmant << wanexp) & 0x7FFF
    else:
        retval = wanmant >> -wanexp
    return -retval if (an ^ srn) < 0 else retval


def _g72x_predictor_zero(st: _G72xState) -> int:
    # FMULT sum over the six zero taps, unrolled (round 17): same
    # integer terms in the same order, without generator/sum frames on
    # the per-sample hot path
    b = st.b
    dq = st.dq
    f = _g72x_fmult
    return (
        f(b[0] >> 2, dq[0]) + f(b[1] >> 2, dq[1]) + f(b[2] >> 2, dq[2])
        + f(b[3] >> 2, dq[3]) + f(b[4] >> 2, dq[4]) + f(b[5] >> 2, dq[5])
    )


def _g72x_predictor_pole(st: _G72xState) -> int:
    return (_g72x_fmult(st.a[1] >> 2, st.sr[1])
            + _g72x_fmult(st.a[0] >> 2, st.sr[0]))


def _g72x_step_size(st: _G72xState) -> int:
    """Blend the unlocked (fast) and locked (slow) scale factors by the
    adaptation speed ap (G.726 §4.2.4 MIX)."""
    if st.ap >= 256:
        return st.yu
    y = st.yl >> 6
    dif = st.yu - y
    al = st.ap >> 2
    if dif > 0:
        y += (dif * al) >> 6
    elif dif < 0:
        y += (dif * al + 0x3F) >> 6
    return y


def _g72x_quantize(d: int, y: int, qtab) -> int:
    """Quantize the prediction difference in the log2 domain scaled by
    y (G.726 §4.2.3 LOG/SUBTB/QUAN); negative differences take the
    one's complement code, and the all-zeros positive code is remapped
    to the top code (the 1988 revision)."""
    size = len(qtab)
    dqm = abs(d)
    exp = (dqm >> 1).bit_length()
    mant = ((dqm << 7) >> exp) & 0x7F
    dl = (exp << 7) + mant
    dln = dl - (y >> 2)
    i = _g72x_quan(dln, qtab)
    if d < 0:
        return (size << 1) + 1 - i
    if i == 0:
        return (size << 1) + 1
    return i


def _g72x_reconstruct(sign: bool, dqln: int, y: int) -> int:
    """Inverse quantizer (G.726 §4.2.5): log-domain output level plus
    scale, back to linear; negative values carry the sign in bit 15
    with a 14-bit magnitude (the fixed-point convention the predictor
    update relies on)."""
    dql = dqln + (y >> 2)
    if dql < 0:
        return -0x8000 if sign else 0
    dex = (dql >> 7) & 15
    dqt = 128 + (dql & 127)
    dq = (dqt << 7) >> (14 - dex)
    return dq - 0x8000 if sign else dq


def _g72x_update(st: _G72xState, code_bits: int, y: int, wi: int, fi: int,
                 dq: int, sr: int, dqsez: int) -> None:
    """State update common to encoder and decoder (G.726 §4.2.4-§4.2.8):
    scale-factor adaptation, adaptive predictor coefficient updates with
    stability limits, tone/transition detection, speed control."""
    pk0 = 1 if dqsez < 0 else 0
    mag = dq & 0x7FFF

    # transition detect (§4.2.7): a large magnitude while in tone state
    ylint = st.yl >> 15
    ylfrac = (st.yl >> 10) & 0x1F
    thr1 = (32 + ylfrac) << ylint
    thr2 = (31 << 10) if ylint > 9 else thr1
    dqthr = (thr2 + (thr2 >> 1)) >> 1
    if st.td == 0 or mag <= dqthr:
        tr = 0
    else:
        tr = 1

    # quantizer scale factor adaptation (§4.2.4): yu fast, yl slow
    st.yu = y + ((wi - y) >> 5)
    if st.yu < 544:
        st.yu = 544
    elif st.yu > 5120:
        st.yu = 5120
    st.yl += st.yu + ((-st.yl) >> 6)

    a2p = 0
    if tr == 1:
        st.a = [0, 0]
        st.b = [0] * 6
    else:
        pks1 = pk0 ^ st.pk[0]
        a2p = st.a[1] - (st.a[1] >> 7)
        if dqsez != 0:
            fa1 = st.a[0] if pks1 else -st.a[0]
            if fa1 < -8191:
                a2p -= 0x100
            elif fa1 > 8191:
                a2p += 0xFF
            else:
                a2p += fa1 >> 5
            if pk0 ^ st.pk[1]:
                if a2p <= -12160:
                    a2p = -12288
                elif a2p >= 12416:
                    a2p = 12288
                else:
                    a2p -= 0x80
            elif a2p <= -12416:
                a2p = -12288
            elif a2p >= 12160:
                a2p = 12288
            else:
                a2p += 0x80
        st.a[1] = a2p

        st.a[0] -= st.a[0] >> 8
        if dqsez != 0:
            if pks1 == 0:
                st.a[0] += 192
            else:
                st.a[0] -= 192
        a1ul = 15360 - a2p  # keep |a1| <= 1 - 2^-4 - a2 (stability)
        if st.a[0] < -a1ul:
            st.a[0] = -a1ul
        elif st.a[0] > a1ul:
            st.a[0] = a1ul

        for cnt in range(6):
            if code_bits == 5:  # 40 kbit/s leaks slower
                st.b[cnt] -= st.b[cnt] >> 9
            else:
                st.b[cnt] -= st.b[cnt] >> 8
            if mag:
                if (dq ^ st.dq[cnt]) >= 0:
                    st.b[cnt] += 128
                else:
                    st.b[cnt] -= 128

    # shift dq history, converting dq to the floating format (FLOAT A)
    for cnt in range(5, 0, -1):
        st.dq[cnt] = st.dq[cnt - 1]
    if mag == 0:
        st.dq[0] = 0x20 if dq >= 0 else 0x20 - 0x400
    else:
        exp = mag.bit_length()
        val = (exp << 6) + ((mag << 6) >> exp)
        st.dq[0] = val if dq >= 0 else val - 0x400

    st.sr[1] = st.sr[0]
    if sr == 0:
        st.sr[0] = 0x20
    elif sr > 0:
        exp = sr.bit_length()
        st.sr[0] = (exp << 6) + ((sr << 6) >> exp)
    elif sr > -32768:
        mag_sr = -sr
        exp = mag_sr.bit_length()
        st.sr[0] = (exp << 6) + ((mag_sr << 6) >> exp) - 0x400
    else:
        st.sr[0] = 0x20 - 0x400

    st.pk[1] = st.pk[0]
    st.pk[0] = pk0

    # tone detect (§4.2.7): a strongly negative second pole flags tone
    if tr == 1:
        st.td = 0
    elif a2p < -11776:
        st.td = 1
    else:
        st.td = 0

    # adaptation speed control (§4.2.6)
    st.dms += (fi - st.dms) >> 5
    st.dml += ((fi << 2) - st.dml) >> 7
    if tr == 1:
        st.ap = 256
    elif y < 1536 or st.td == 1 \
            or abs((st.dms << 2) - st.dml) >= (st.dml >> 3):
        st.ap += (0x200 - st.ap) >> 4
    else:
        st.ap += (-st.ap) >> 4


def _g72x_encode_ref(samples, law: str = "g721",
                     return_reconstruction: bool = False):
    """Spec-block reference encoder: the per-sample loop composed from
    the named G.726 blocks above (FMULT/MIX/QUAN/RECONST/update). Kept
    as the certification surface; :func:`g72x_encode` is the inlined
    hot path, pinned bit-identical to this by test."""
    import numpy as np

    if law not in _G72X_LAWS:
        raise ValueError(f"unknown G.72x law {law!r}")
    bits, qtab, dqln_tab, wi_tab, fi_tab = _G72X_LAWS[law]
    st = _G72xState()
    sign_bit = 1 << (bits - 1)
    codes = np.empty(len(samples), np.uint8)
    recon = np.empty(len(samples), np.int16) if return_reconstruction else None
    # .tolist(): plain-int iteration is ~2x faster than numpy scalars in
    # this per-sample state machine
    for k, s in enumerate(np.asarray(samples, dtype=np.int16).tolist()):
        sl = s >> 2  # 16-bit -> the spec's 14-bit uniform PCM
        sezi = _g72x_predictor_zero(st)
        sez = sezi >> 1
        se = (sezi + _g72x_predictor_pole(st)) >> 1
        d = sl - se
        y = _g72x_step_size(st)
        i = _g72x_quantize(d, y, qtab)
        dq = _g72x_reconstruct(bool(i & sign_bit), dqln_tab[i], y)
        sr = se - (dq & 0x3FFF) if dq < 0 else se + dq
        dqsez = sr + sez - se
        _g72x_update(st, bits, y, wi_tab[i], fi_tab[i], dq, sr, dqsez)
        codes[k] = i
        if recon is not None:
            recon[k] = max(-32768, min(32767, sr << 2))
    return (codes, recon) if return_reconstruction else codes


def _g72x_decode_ref(codes, law: str = "g721"):
    """Spec-block reference decoder (see :func:`_g72x_encode_ref`)."""
    import numpy as np

    if law not in _G72X_LAWS:
        raise ValueError(f"unknown G.72x law {law!r}")
    bits, _qtab, dqln_tab, wi_tab, fi_tab = _G72X_LAWS[law]
    st = _G72xState()
    mask = (1 << bits) - 1
    sign_bit = 1 << (bits - 1)
    out = np.empty(len(codes), np.int16)
    code_list = codes.tolist() if hasattr(codes, "tolist") else codes
    for k, c in enumerate(code_list):
        i = int(c) & mask
        sezi = _g72x_predictor_zero(st)
        sez = sezi >> 1
        se = (sezi + _g72x_predictor_pole(st)) >> 1
        y = _g72x_step_size(st)
        dq = _g72x_reconstruct(bool(i & sign_bit), dqln_tab[i], y)
        sr = se - (dq & 0x3FFF) if dq < 0 else se + dq
        dqsez = sr - se + sez
        _g72x_update(st, bits, y, wi_tab[i], fi_tab[i], dq, sr, dqsez)
        out[k] = max(-32768, min(32767, sr << 2))
    return out


# Packed FMULT decomposition table (round 18): for every reachable
# anmag, _G72X_FLT[anmag] = (anexp + 6) << 6 | anmant with anexp =
# bit_length - 6 and anmant = anmag >> anexp (or << -anexp; 32 for zero)
# — one list index replaces a bit_length call + two branches on the
# 8-FMULT-per-sample hot path. Values verified against the inline
# decomposition at build time. Reachable range: a negative an is masked
# to 0..0x1FFF, but a positive zero tap b = b - (b >> sh) + 128 climbs
# to 2^15 (sh = 8) or 2^16 (sh = 9, G.723 40 kbit/s) under a sustained
# same-sign code run, so an = b >> 2 reaches 2^14; the poles stay below
# (|a0| <= 27648, |a1| <= 12288).
def _g72x_build_flt():
    out = []
    for anmag in range((1 << 14) + 1):
        anexp = anmag.bit_length() - 6
        if anmag == 0:
            anmant = 32
        elif anexp >= 0:
            anmant = anmag >> anexp
        else:
            anmant = anmag << -anexp
        assert 32 <= anmant <= 63 or (anmag == 0 and anmant == 32)
        out.append(((anexp + 6) << 6) | anmant)
    return tuple(out)


_G72X_FLT = _g72x_build_flt()


def _g72x_run(values, law: str, is_decode: bool, want_recon: bool):
    """Shared inlined G.72x state machine (round 18, guide §4.2: the
    per-sample helper calls — 8 FMULTs, MIX, QUAN, RECONST and the
    whole update block per sample — were ~60% of the au_adpcm kernel;
    this single loop body keeps every state variable in a local and
    transcribes the SAME integer expressions in the same order. The
    spec-block composition survives as ``_g72x_encode_ref`` /
    ``_g72x_decode_ref``; byte-identity on every law/branch is pinned
    by ``test_g72x_inlined_loop_matches_spec_blocks``).

    ``values``: 14-bit ``sl`` inputs (encode) or raw codes (decode).
    Returns (codes, recon) with either possibly None."""
    bits, qtab, dqln_tab, wi_tab, fi_tab = _G72X_LAWS[law]
    sign_bit = 1 << (bits - 1)
    mask = (1 << bits) - 1
    top_code = (len(qtab) << 1) + 1
    sh = 9 if bits == 5 else 8  # 40 kbit/s zeros leak slower
    # _G72xState() initial values, as locals
    yl, yu, dms, dml, ap = 34816, 544, 0, 0, 0
    a0 = a1 = 0
    b0 = b1 = b2 = b3 = b4 = b5 = 0
    pk0s = pk1s = 0
    dq0 = dq1 = dq2 = dq3 = dq4 = dq5 = 32
    sr0 = sr1 = 32
    td = 0
    codes = [] if not is_decode else None
    recon = [] if want_recon else None
    for v in values:
        # FMULT x6 over the zero taps (SEZI), then x2 over the poles
        an = b0 >> 2
        t = _G72X_FLT[an if an > 0 else (-an) & 0x1FFF]
        wanexp = (t >> 6) + ((dq0 >> 6) & 0xF) - 19
        wanmant = ((t & 63) * (dq0 & 0o77) + 0x30) >> 4
        r = (wanmant << wanexp) & 0x7FFF if wanexp >= 0 else wanmant >> -wanexp
        sezi = -r if (an ^ dq0) < 0 else r
        an = b1 >> 2
        t = _G72X_FLT[an if an > 0 else (-an) & 0x1FFF]
        wanexp = (t >> 6) + ((dq1 >> 6) & 0xF) - 19
        wanmant = ((t & 63) * (dq1 & 0o77) + 0x30) >> 4
        r = (wanmant << wanexp) & 0x7FFF if wanexp >= 0 else wanmant >> -wanexp
        sezi += -r if (an ^ dq1) < 0 else r
        an = b2 >> 2
        t = _G72X_FLT[an if an > 0 else (-an) & 0x1FFF]
        wanexp = (t >> 6) + ((dq2 >> 6) & 0xF) - 19
        wanmant = ((t & 63) * (dq2 & 0o77) + 0x30) >> 4
        r = (wanmant << wanexp) & 0x7FFF if wanexp >= 0 else wanmant >> -wanexp
        sezi += -r if (an ^ dq2) < 0 else r
        an = b3 >> 2
        t = _G72X_FLT[an if an > 0 else (-an) & 0x1FFF]
        wanexp = (t >> 6) + ((dq3 >> 6) & 0xF) - 19
        wanmant = ((t & 63) * (dq3 & 0o77) + 0x30) >> 4
        r = (wanmant << wanexp) & 0x7FFF if wanexp >= 0 else wanmant >> -wanexp
        sezi += -r if (an ^ dq3) < 0 else r
        an = b4 >> 2
        t = _G72X_FLT[an if an > 0 else (-an) & 0x1FFF]
        wanexp = (t >> 6) + ((dq4 >> 6) & 0xF) - 19
        wanmant = ((t & 63) * (dq4 & 0o77) + 0x30) >> 4
        r = (wanmant << wanexp) & 0x7FFF if wanexp >= 0 else wanmant >> -wanexp
        sezi += -r if (an ^ dq4) < 0 else r
        an = b5 >> 2
        t = _G72X_FLT[an if an > 0 else (-an) & 0x1FFF]
        wanexp = (t >> 6) + ((dq5 >> 6) & 0xF) - 19
        wanmant = ((t & 63) * (dq5 & 0o77) + 0x30) >> 4
        r = (wanmant << wanexp) & 0x7FFF if wanexp >= 0 else wanmant >> -wanexp
        sezi += -r if (an ^ dq5) < 0 else r
        sez = sezi >> 1
        an = a1 >> 2
        t = _G72X_FLT[an if an > 0 else (-an) & 0x1FFF]
        wanexp = (t >> 6) + ((sr1 >> 6) & 0xF) - 19
        wanmant = ((t & 63) * (sr1 & 0o77) + 0x30) >> 4
        r = (wanmant << wanexp) & 0x7FFF if wanexp >= 0 else wanmant >> -wanexp
        sei = sezi + (-r if (an ^ sr1) < 0 else r)
        an = a0 >> 2
        t = _G72X_FLT[an if an > 0 else (-an) & 0x1FFF]
        wanexp = (t >> 6) + ((sr0 >> 6) & 0xF) - 19
        wanmant = ((t & 63) * (sr0 & 0o77) + 0x30) >> 4
        r = (wanmant << wanexp) & 0x7FFF if wanexp >= 0 else wanmant >> -wanexp
        se = (sei + (-r if (an ^ sr0) < 0 else r)) >> 1
        # MIX (step size)
        if ap >= 256:
            y = yu
        else:
            y = yl >> 6
            dif = yu - y
            al = ap >> 2
            if dif > 0:
                y += (dif * al) >> 6
            elif dif < 0:
                y += (dif * al + 0x3F) >> 6
        if is_decode:
            i = v & mask
        else:
            # LOG/SUBTB/QUAN
            d = v - se
            dqm = d if d >= 0 else -d
            exp = (dqm >> 1).bit_length()
            dln = (exp << 7) + (((dqm << 7) >> exp) & 0x7F) - (y >> 2)
            i = 0
            for t in qtab:
                if dln < t:
                    break
                i += 1
            if d < 0:
                i = top_code - i
            elif i == 0:
                i = top_code
            codes.append(i)
        # RECONST
        dql = dqln_tab[i] + (y >> 2)
        if dql < 0:
            dq = -0x8000 if i & sign_bit else 0
        else:
            dq = ((128 + (dql & 127)) << 7) >> (14 - ((dql >> 7) & 15))
            if i & sign_bit:
                dq -= 0x8000
        sr = se - (dq & 0x3FFF) if dq < 0 else se + dq
        dqsez = sr + sez - se
        if recon is not None:
            recon.append(-32768 if sr < -8192 else
                         (32767 if sr > 8191 else sr << 2))
        # --- update block (G.726 §4.2.4-§4.2.8), same ints in order ---
        pk0 = 1 if dqsez < 0 else 0
        mag = dq & 0x7FFF
        ylint = yl >> 15
        thr2 = (31 << 10) if ylint > 9 else (32 + ((yl >> 10) & 0x1F)) << ylint
        tr = 1 if td != 0 and mag > (thr2 + (thr2 >> 1)) >> 1 else 0
        yu = y + ((wi_tab[i] - y) >> 5)
        if yu < 544:
            yu = 544
        elif yu > 5120:
            yu = 5120
        yl += yu + ((-yl) >> 6)
        a2p = 0
        if tr == 1:
            a0 = a1 = 0
            b0 = b1 = b2 = b3 = b4 = b5 = 0
        else:
            pks1 = pk0 ^ pk0s
            a2p = a1 - (a1 >> 7)
            if dqsez != 0:
                fa1 = a0 if pks1 else -a0
                if fa1 < -8191:
                    a2p -= 0x100
                elif fa1 > 8191:
                    a2p += 0xFF
                else:
                    a2p += fa1 >> 5
                if pk0 ^ pk1s:
                    if a2p <= -12160:
                        a2p = -12288
                    elif a2p >= 12416:
                        a2p = 12288
                    else:
                        a2p -= 0x80
                elif a2p <= -12416:
                    a2p = -12288
                elif a2p >= 12160:
                    a2p = 12288
                else:
                    a2p += 0x80
            a1 = a2p
            a0 -= a0 >> 8
            if dqsez != 0:
                a0 += 192 if pks1 == 0 else -192
            a1ul = 15360 - a2p
            if a0 < -a1ul:
                a0 = -a1ul
            elif a0 > a1ul:
                a0 = a1ul
            if mag:
                # leak first, then the sign-agreement nudge (ref order)
                b0 = b0 - (b0 >> sh) + (128 if (dq ^ dq0) >= 0 else -128)
                b1 = b1 - (b1 >> sh) + (128 if (dq ^ dq1) >= 0 else -128)
                b2 = b2 - (b2 >> sh) + (128 if (dq ^ dq2) >= 0 else -128)
                b3 = b3 - (b3 >> sh) + (128 if (dq ^ dq3) >= 0 else -128)
                b4 = b4 - (b4 >> sh) + (128 if (dq ^ dq4) >= 0 else -128)
                b5 = b5 - (b5 >> sh) + (128 if (dq ^ dq5) >= 0 else -128)
            else:
                b0 -= b0 >> sh
                b1 -= b1 >> sh
                b2 -= b2 >> sh
                b3 -= b3 >> sh
                b4 -= b4 >> sh
                b5 -= b5 >> sh
        # FLOAT A + dq delay line
        dq5, dq4, dq3, dq2, dq1 = dq4, dq3, dq2, dq1, dq0
        if mag == 0:
            dq0 = 0x20 if dq >= 0 else 0x20 - 0x400
        else:
            exp = mag.bit_length()
            val = (exp << 6) + ((mag << 6) >> exp)
            dq0 = val if dq >= 0 else val - 0x400
        sr1 = sr0
        if sr == 0:
            sr0 = 0x20
        elif sr > 0:
            exp = sr.bit_length()
            sr0 = (exp << 6) + ((sr << 6) >> exp)
        elif sr > -32768:
            mag_sr = -sr
            exp = mag_sr.bit_length()
            sr0 = (exp << 6) + ((mag_sr << 6) >> exp) - 0x400
        else:
            sr0 = 0x20 - 0x400
        pk1s = pk0s
        pk0s = pk0
        if tr == 1:
            td = 0
        elif a2p < -11776:
            td = 1
        else:
            td = 0
        fi = fi_tab[i]
        dms += (fi - dms) >> 5
        dml += ((fi << 2) - dml) >> 7
        if tr == 1:
            ap = 256
        elif y < 1536 or td == 1 \
                or abs((dms << 2) - dml) >= (dml >> 3):
            ap += (0x200 - ap) >> 4
        else:
            ap += (-ap) >> 4
    return codes, recon


def g72x_encode(samples, law: str = "g721", return_reconstruction: bool = False):
    """Encode mono int16 PCM to G.721/G.723 ADPCM codes (one int per
    sample, ``bits`` wide). With ``return_reconstruction`` also returns
    the encoder's internal reconstructed signal — bit-identical to what
    :func:`g72x_decode` produces, because encoder and decoder run the
    SAME state machine (the G.726 backward-adaptation property the
    differential gate asserts). Inlined hot loop; the spec-block
    composition is :func:`_g72x_encode_ref`, bit-identity pinned by
    test."""
    import numpy as np

    if law not in _G72X_LAWS:
        raise ValueError(f"unknown G.72x law {law!r}")
    sl = [s >> 2 for s in np.asarray(samples, dtype=np.int16).tolist()]
    codes, recon = _g72x_run(sl, law, False, return_reconstruction)
    codes_np = np.asarray(codes, np.uint8) if codes else \
        np.empty(0, np.uint8)
    if not return_reconstruction:
        return codes_np
    recon_np = np.asarray(recon, np.int16) if recon else np.empty(0, np.int16)
    return codes_np, recon_np


def g72x_decode(codes, law: str = "g721"):
    """Decode G.721/G.723 ADPCM codes back to int16 PCM (the mirror of
    :func:`g72x_encode`; same state machine, fed the code stream).
    Inlined hot loop; spec-block composition in
    :func:`_g72x_decode_ref`, bit-identity pinned by test."""
    import numpy as np

    if law not in _G72X_LAWS:
        raise ValueError(f"unknown G.72x law {law!r}")
    code_list = codes.tolist() if hasattr(codes, "tolist") else [
        int(c) for c in codes
    ]
    _, recon = _g72x_run(code_list, law, True, True)
    return np.asarray(recon, np.int16) if recon else np.empty(0, np.int16)


# ---------------------------------------------------------------------------
# ITU G.722 subband ADPCM (AU encoding 24) — round 15, closing the AU
# matrix. 16 kHz audio splits through a 24-tap quadrature-mirror filter
# into two 8 kHz subbands, each coded by a backward-adaptive ADPCM loop
# (the G.726-family shape: pole/zero predictor, log-domain scale factor).
# G.722's EMBEDDED property: the lower band's 6-bit codes carry their two
# finest bits as droppable enhancement, and a decoder using only the top
# 4 bits (mode 3) stays bit-synchronized with every encoder. This
# implementation codes/decodes the embedded 4-bit core (+ the full
# 2-bit upper band) and, since round 17, the full 6-bit MODE-1 lattice
# on both sides (the certified QM6 table below; state always adapts on
# the core, so modes interoperate). Data stance: the QMF taps are
# validated at import by
# near-perfect-reconstruction ARITHMETIC (tap sum exactly 2^13, symmetry,
# power-complementarity flat within 1%); the log scale-factor table is
# GENERATED from its closed form round(2048*2^(i/32)) (verified identical
# to the published table); the small quantizer/adaptation tables carry
# mirror/monotonicity invariants. The encoder's decision levels are
# DERIVED midpoints of the mode-3 reconstruction alphabet (documented —
# we do not claim the spec's Table 13 deadzone values); decode fidelity
# of foreign 64 kbit streams is unaffected because every decode-side
# table is structural or closed-form.
# ---------------------------------------------------------------------------

_G722_QMF = (3, -11, -11, 53, 12, -156, 32, 362, -210, -805, 951, 3876,
             3876, 951, -805, -210, 362, 32, -156, 12, 53, -11, -11, 3)
_G722_ILB = tuple(round(2048 * 2 ** (i / 32)) for i in range(32))
_G722_WL = (-60, -30, 58, 172, 334, 538, 1198, 3042)
_G722_RL42 = (0, 7, 6, 5, 4, 3, 2, 1, 7, 6, 5, 4, 3, 2, 1, 0)
_G722_QM4 = (0, -20456, -12896, -8968, -6288, -4240, -2584, -1200,
             20456, 12896, 8968, 6288, 4240, 2584, 1200, 0)
_G722_WH = (0, -214, 798)
_G722_RH2 = (2, 1, 2, 1)
_G722_QM2 = (-7408, -1616, 7408, 1616)
# Mode-1 (64 kbit/s) lower-band output lattice, G.722 Table 14 (round
# 17, closing the r15/r16 enhancement-bit seam). Certification (the
# condition the r16 verdict set for shipping it): beyond monotonicity,
# the table must cross-check against the already-certified 4-bit core —
# _g722_check_tables asserts (a) exact mirror anti-symmetry between the
# negative branch (codes 4-31 strictly increasing) and the positive
# branch (codes 32-59), and between the zero-region tails (60-61 vs
# 62-63), and (b) the REFINEMENT property: for every il4 in 1-7 the
# four QM6 values of codes 4*il4..4*il4+3 strictly bracket QM4[il4],
# and each mirrored positive group brackets its QM4 twin — so a
# mis-recalled entry would have to stay inside its 4-group bracket,
# keep both monotone chains, AND keep its mirror twin consistent.
_G722_QM6 = (
    -136, -136, -136, -136,
    -24808, -21904, -19008, -16704,
    -14984, -13512, -12280, -11192,
    -10232, -9360, -8576, -7856,
    -7192, -6576, -6000, -5456,
    -4944, -4464, -4008, -3576,
    -3168, -2776, -2400, -2032,
    -1688, -1360, -1040, -728,
    24808, 21904, 19008, 16704,
    14984, 13512, 12280, 11192,
    10232, 9360, 8576, 7856,
    7192, 6576, 6000, 5456,
    4944, 4464, 4008, 3576,
    3168, 2776, 2400, 2032,
    1688, 1360, 1040, 728,
    432, 136, -432, -136,
)
# Mode-2 (56 kbit/s) lower-band output lattice, G.722 Table 14 (round-17
# continuation, closing the QM5 seam). Certified THREE ways in
# _g722_check_tables — it must sit exactly between the two
# already-certified lattices: (a) mirror anti-symmetry + strict
# monotonicity within each branch; (b) every code pair (2*il4, 2*il4+1)
# strictly brackets its 4-bit core value QM4[il4]; (c) every entry is
# strictly bracketed by its own two QM6 children (codes 2*il5,
# 2*il5+1) — so a mis-recalled entry would have to survive both
# sandwich constraints, both monotone chains, and its mirror twin.
# Codes 0/1 are the spec's -280 zero region (exempt from (b)/(c), like
# QM6's -136 region).
_G722_QM5 = (
    -280, -280, -23352, -17560,
    -14120, -11664, -9752, -8184,
    -6864, -5712, -4696, -3784,
    -2960, -2208, -1520, -880,
    23352, 17560, 14120, 11664,
    9752, 8184, 6864, 5712,
    4696, 3784, 2960, 2208,
    1520, 880, 280, -280,
)


def _g722_check_tables() -> None:
    """Import-time validation (the Kraft-discipline analog): QMF taps
    prove near-perfect reconstruction arithmetically; the quantizer and
    adaptation tables prove their mirror/monotonicity structure."""
    import numpy as np

    h = np.asarray(_G722_QMF, dtype=np.float64)
    if len(h) != 24 or int(h.sum()) != 8192:
        raise AssertionError("G.722 QMF taps: sum must be exactly 2^13")
    if any(_G722_QMF[i] != _G722_QMF[23 - i] for i in range(12)):
        raise AssertionError("G.722 QMF taps not symmetric")
    mag = np.abs(np.fft.rfft(h, 4096)) ** 2
    comb = mag + mag[::-1]
    if comb.max() / comb.mean() > 1.01 or comb.min() / comb.mean() < 0.99:
        raise AssertionError("G.722 QMF taps fail power complementarity")
    if list(_G722_ILB) != sorted(set(_G722_ILB)) or _G722_ILB[0] != 2048 \
            or _G722_ILB[31] != 4008:
        raise AssertionError("G.722 log scale table broken")
    neg = sorted(-v for v in _G722_QM4[:8])
    pos = sorted(_G722_QM4[8:])
    if neg != pos:
        raise AssertionError("G.722 QM4 halves not mirror-symmetric")
    if any(_G722_RL42[i] != _G722_RL42[i + 7] for i in range(1, 8)) \
            or _G722_RL42[0] != 0 or _G722_RL42[15] != 0:
        raise AssertionError("G.722 RL42 region map broken")
    if list(_G722_WL) != sorted(_G722_WL):
        raise AssertionError("G.722 WL multipliers not monotone")
    if sorted(-v for v in _G722_QM2[:2]) != sorted(_G722_QM2[2:]):
        raise AssertionError("G.722 QM2 halves not mirror-symmetric")
    # QM6 (mode-1) certificate — see the table's comment block
    q6 = _G722_QM6
    if len(q6) != 64:
        raise AssertionError("G.722 QM6 must have 64 entries")
    if any(q6[i] != -136 for i in range(4)):
        raise AssertionError("G.722 QM6 codes 0-3 are the -136 region")
    if any(q6[4 + i] != -q6[32 + i] for i in range(28)):
        raise AssertionError("G.722 QM6 branches not mirror-antisymmetric")
    if q6[60] != -q6[62] or q6[61] != -q6[63]:
        raise AssertionError("G.722 QM6 zero-region tails not mirrored")
    if list(q6[4:32]) != sorted(q6[4:32]) or len(set(q6[4:32])) != 28:
        raise AssertionError("G.722 QM6 negative branch not monotone")
    for il4 in range(1, 8):
        grp = q6[4 * il4: 4 * il4 + 4]
        if not (min(grp) < _G722_QM4[il4] < max(grp)):
            raise AssertionError(
                f"G.722 QM6 group {il4} does not bracket QM4[{il4}]"
            )
        pgrp = q6[32 + 4 * (il4 - 1): 32 + 4 * (il4 - 1) + 4]
        if not (min(pgrp) < _G722_QM4[7 + il4] < max(pgrp)):
            raise AssertionError(
                f"G.722 QM6 positive group {il4} does not bracket its "
                f"QM4 twin"
            )
    # QM5 (mode-2) certificate — see the table's comment block
    q5 = _G722_QM5
    if len(q5) != 32:
        raise AssertionError("G.722 QM5 must have 32 entries")
    if q5[0] != -280 or q5[1] != -280 or q5[31] != -280 or q5[30] != 280:
        raise AssertionError("G.722 QM5 zero region broken")
    if any(q5[2 + i] != -q5[16 + i] for i in range(14)):
        raise AssertionError("G.722 QM5 branches not mirror-antisymmetric")
    if list(q5[2:16]) != sorted(q5[2:16]) or len(set(q5[2:16])) != 14:
        raise AssertionError("G.722 QM5 negative branch not monotone")
    for il4 in range(1, 16):
        pair = q5[2 * il4: 2 * il4 + 2]
        if not (min(pair) < _G722_QM4[il4] < max(pair)):
            raise AssertionError(
                f"G.722 QM5 pair {il4} does not bracket QM4[{il4}]"
            )
    for il5 in range(2, 32):
        kids = (q6[2 * il5], q6[2 * il5 + 1])
        if not (min(kids) < q5[il5] < max(kids)):
            raise AssertionError(
                f"G.722 QM5[{il5}] not bracketed by its QM6 children"
            )


_g722_check_tables()


def _g722_sat(x: int) -> int:
    return -32768 if x < -32768 else (32767 if x > 32767 else x)


class _G722Band:
    """One subband's predictor + scale-factor state (G.722 §3/§4)."""

    __slots__ = ("s", "sp", "sz", "r", "p", "a", "b", "d", "nb", "det")

    def __init__(self, det: int) -> None:
        self.s = self.sp = self.sz = 0
        self.r = [0, 0, 0]
        self.p = [0, 0, 0]
        self.a = [0, 0, 0]
        self.b = [0] * 7
        self.d = [0] * 7
        self.nb = 0
        self.det = det


def _g722_block4_ref(bd: _G722Band, d: int) -> None:
    """Spec-block reference for the shared predictor update (G.722
    block 4): reconstruct, adapt the two poles (with the same stability
    region as G.726) and six zeros by sign agreement, then form the next
    pole/zero predictions. :func:`_g722_block4` is the unrolled hot
    path, pinned bit-identical by test."""
    bd.d[0] = d
    bd.r[0] = _g722_sat(bd.s + d)
    bd.p[0] = _g722_sat(bd.sz + d)

    # UPPOL2
    sg0, sg1, sg2 = bd.p[0] >> 15, bd.p[1] >> 15, bd.p[2] >> 15
    wd1 = _g722_sat(bd.a[1] << 2)
    wd2 = -wd1 if sg0 == sg1 else wd1
    if wd2 > 32767:
        wd2 = 32767
    wd3 = (128 if sg0 == sg2 else -128) + (wd2 >> 7) + ((bd.a[2] * 32512) >> 15)
    if wd3 > 12288:
        wd3 = 12288
    elif wd3 < -12288:
        wd3 = -12288
    ap2 = wd3

    # UPPOL1
    wd1 = 192 if sg0 == sg1 else -192
    ap1 = _g722_sat(wd1 + ((bd.a[1] * 32640) >> 15))
    wd3 = _g722_sat(15360 - ap2)
    if ap1 > wd3:
        ap1 = wd3
    elif ap1 < -wd3:
        ap1 = -wd3

    # UPZERO (locals bound once per sample — round 17; same ints)
    wd1 = 0 if d == 0 else 128
    sgd = d >> 15
    dl = bd.d
    bl = bd.b
    sat = _g722_sat
    bp = [0] * 7
    for i in range(1, 7):
        wd2 = wd1 if (dl[i] >> 15) == sgd else -wd1
        bp[i] = sat(wd2 + ((bl[i] * 32640) >> 15))

    # DELAY
    for i in range(6, 0, -1):
        dl[i] = dl[i - 1]
        bl[i] = bp[i]
    bd.r[2], bd.r[1] = bd.r[1], bd.r[0]
    bd.p[2], bd.p[1] = bd.p[1], bd.p[0]
    bd.a[2], bd.a[1] = ap2, ap1

    # FILTEP + FILTEZ + PREDIC
    wd1 = (ap1 * sat(bd.r[1] + bd.r[1])) >> 15
    wd2 = (ap2 * sat(bd.r[2] + bd.r[2])) >> 15
    bd.sp = sp = sat(wd1 + wd2)
    sz = 0
    for i in range(6, 0, -1):
        sz += (bl[i] * sat(dl[i] + dl[i])) >> 15
    bd.sz = sz = sat(sz)
    bd.s = sat(sp + sz)


def _g722_block4(bd: _G722Band, d: int) -> None:
    """Unrolled block-4 hot path (round 18, guide §4.2): same integer
    expressions as :func:`_g722_block4_ref` with the saturations inline,
    both 6-tap loops unrolled, and every state slot bound to a local —
    the per-sample call was ~25% of the au_adpcm kernel. Bit-identity
    pinned by ``test_g722_block4_unrolled_matches_ref``."""
    dl = bd.d
    bl = bd.b
    # d1..d6 = the PRIOR six differences (ref's dl[1..6]; dl[0] is a
    # stale duplicate of dl[1] between calls)
    d1, d2, d3, d4, d5, d6 = dl[1], dl[2], dl[3], dl[4], dl[5], dl[6]
    b1, b2, b3, b4, b5, b6 = bl[1], bl[2], bl[3], bl[4], bl[5], bl[6]
    rl = bd.r
    pl = bd.p
    al = bd.a
    a1, a2 = al[1], al[2]
    r0 = bd.s + d
    r0 = -32768 if r0 < -32768 else (32767 if r0 > 32767 else r0)
    p0 = bd.sz + d
    p0 = -32768 if p0 < -32768 else (32767 if p0 > 32767 else p0)

    # UPPOL2
    sg0, sg1, sg2 = p0 >> 15, pl[1] >> 15, pl[2] >> 15
    wd1 = a1 << 2
    wd1 = -32768 if wd1 < -32768 else (32767 if wd1 > 32767 else wd1)
    wd2 = -wd1 if sg0 == sg1 else wd1
    if wd2 > 32767:
        wd2 = 32767
    ap2 = (128 if sg0 == sg2 else -128) + (wd2 >> 7) + ((a2 * 32512) >> 15)
    if ap2 > 12288:
        ap2 = 12288
    elif ap2 < -12288:
        ap2 = -12288

    # UPPOL1
    ap1 = (192 if sg0 == sg1 else -192) + ((a1 * 32640) >> 15)
    ap1 = -32768 if ap1 < -32768 else (32767 if ap1 > 32767 else ap1)
    wd3 = 15360 - ap2  # always within int16 given the ap2 clamp
    if ap1 > wd3:
        ap1 = wd3
    elif ap1 < -wd3:
        ap1 = -wd3

    # UPZERO, unrolled over the six zeros
    nudge = 0 if d == 0 else 128
    sgd = d >> 15
    bp1 = (nudge if (d1 >> 15) == sgd else -nudge) + ((b1 * 32640) >> 15)
    bp1 = -32768 if bp1 < -32768 else (32767 if bp1 > 32767 else bp1)
    bp2 = (nudge if (d2 >> 15) == sgd else -nudge) + ((b2 * 32640) >> 15)
    bp2 = -32768 if bp2 < -32768 else (32767 if bp2 > 32767 else bp2)
    bp3 = (nudge if (d3 >> 15) == sgd else -nudge) + ((b3 * 32640) >> 15)
    bp3 = -32768 if bp3 < -32768 else (32767 if bp3 > 32767 else bp3)
    bp4 = (nudge if (d4 >> 15) == sgd else -nudge) + ((b4 * 32640) >> 15)
    bp4 = -32768 if bp4 < -32768 else (32767 if bp4 > 32767 else bp4)
    bp5 = (nudge if (d5 >> 15) == sgd else -nudge) + ((b5 * 32640) >> 15)
    bp5 = -32768 if bp5 < -32768 else (32767 if bp5 > 32767 else bp5)
    bp6 = (nudge if (d6 >> 15) == sgd else -nudge) + ((b6 * 32640) >> 15)
    bp6 = -32768 if bp6 < -32768 else (32767 if bp6 > 32767 else bp6)

    # DELAY (ref: dl[0]=d first, then dl[i]=dl[i-1] — so dl[1] takes the
    # CURRENT d and d6 drops out)
    dl[0] = d
    dl[1] = d
    dl[2] = d1
    dl[3] = d2
    dl[4] = d3
    dl[5] = d4
    dl[6] = d5
    bl[1] = bp1
    bl[2] = bp2
    bl[3] = bp3
    bl[4] = bp4
    bl[5] = bp5
    bl[6] = bp6
    r1 = rl[1]
    rl[2] = r1
    rl[1] = r0
    rl[0] = r0
    pl[2] = pl[1]
    pl[1] = p0
    pl[0] = p0
    al[2] = ap2
    al[1] = ap1

    # FILTEP + FILTEZ + PREDIC (sat(x+x) of an int16 value is exact for
    # |x| <= 16383 and clamps at the same points as the ref)
    t = r0 + r0
    t = -32768 if t < -32768 else (32767 if t > 32767 else t)
    wd1 = (ap1 * t) >> 15
    t = r1 + r1
    t = -32768 if t < -32768 else (32767 if t > 32767 else t)
    sp = wd1 + ((ap2 * t) >> 15)
    sp = -32768 if sp < -32768 else (32767 if sp > 32767 else sp)
    bd.sp = sp
    # FILTEZ over the POST-delay history: tap 1 takes the current d,
    # taps 2..6 take d1..d5 (d6 dropped out)
    t = d5 + d5
    t = -32768 if t < -32768 else (32767 if t > 32767 else t)
    sz = (bp6 * t) >> 15
    t = d4 + d4
    t = -32768 if t < -32768 else (32767 if t > 32767 else t)
    sz += (bp5 * t) >> 15
    t = d3 + d3
    t = -32768 if t < -32768 else (32767 if t > 32767 else t)
    sz += (bp4 * t) >> 15
    t = d2 + d2
    t = -32768 if t < -32768 else (32767 if t > 32767 else t)
    sz += (bp3 * t) >> 15
    t = d1 + d1
    t = -32768 if t < -32768 else (32767 if t > 32767 else t)
    sz += (bp2 * t) >> 15
    t = d + d
    t = -32768 if t < -32768 else (32767 if t > 32767 else t)
    sz += (bp1 * t) >> 15
    sz = -32768 if sz < -32768 else (32767 if sz > 32767 else sz)
    bd.sz = sz
    s = sp + sz
    bd.s = -32768 if s < -32768 else (32767 if s > 32767 else s)


def _g722_lower_adapt(bd: _G722Band, il4: int) -> None:
    """Lower-band log scale-factor adaptation (blocks 3L: LOGSCL +
    SCALEL), driven by the 4-bit core code — by design, so embedded
    decoders at every mode stay synchronized."""
    nb = ((bd.nb * 127) >> 7) + _G722_WL[_G722_RL42[il4]]
    bd.nb = 0 if nb < 0 else (18432 if nb > 18432 else nb)
    wd1 = (bd.nb >> 6) & 31
    wd2 = 8 - (bd.nb >> 11)
    wd3 = _G722_ILB[wd1] << -wd2 if wd2 < 0 else _G722_ILB[wd1] >> wd2
    bd.det = wd3 << 2


def _g722_upper_adapt(bd: _G722Band, ih: int) -> None:
    """Upper-band adaptation (blocks 3H: LOGSCH + SCALEH)."""
    nb = ((bd.nb * 127) >> 7) + _G722_WH[_G722_RH2[ih]]
    bd.nb = 0 if nb < 0 else (22528 if nb > 22528 else nb)
    wd1 = (bd.nb >> 6) & 31
    wd2 = 10 - (bd.nb >> 11)
    wd3 = _G722_ILB[wd1] << -wd2 if wd2 < 0 else _G722_ILB[wd1] >> wd2
    bd.det = wd3 << 2


# derived decision midpoints over the mode-3 reconstruction magnitudes
# (see the data stance above): positive branch includes the zero level,
# negative branch starts at 1200
_G722_Q4_MAGS = (0, 1200, 2584, 4240, 6288, 8968, 12896, 20456)
_G722_Q4_MIDS = tuple(
    (_G722_Q4_MAGS[i] + _G722_Q4_MAGS[i + 1]) // 2 for i in range(7)
)
_G722_Q2_MID = (1616 + 7408) // 2
# mode-1 (6-bit) derived quantizer (round 17): candidate codes per sign
# ordered by output magnitude, decision thresholds at the midpoints of
# the certified QM6 lattice — the same derivation stance as the 4-bit
# quantizer above (we do not claim the spec's Table 13 decision levels)
_G722_Q6_POS = tuple(sorted(range(32, 62), key=lambda i: _G722_QM6[i]))
_G722_Q6_NEG = tuple(
    sorted([63, 62, *range(4, 32)], key=lambda i: -_G722_QM6[i])
)
_G722_Q6_POS_MIDS = tuple(
    (_G722_QM6[_G722_Q6_POS[i]] + _G722_QM6[_G722_Q6_POS[i + 1]]) // 2
    for i in range(len(_G722_Q6_POS) - 1)
)
_G722_Q6_NEG_MIDS = tuple(
    (-_G722_QM6[_G722_Q6_NEG[i]] - _G722_QM6[_G722_Q6_NEG[i + 1]]) // 2
    for i in range(len(_G722_Q6_NEG) - 1)
)
# mode-2 (5-bit) derived quantizer (round-17 continuation): same
# midpoint stance over the certified QM5 lattice
_G722_Q5_POS = tuple(sorted([*range(16, 30), 30], key=lambda i: _G722_QM5[i]))
_G722_Q5_NEG = tuple(
    sorted([31, *range(2, 16)], key=lambda i: -_G722_QM5[i])
)
_G722_Q5_POS_MIDS = tuple(
    (_G722_QM5[_G722_Q5_POS[i]] + _G722_QM5[_G722_Q5_POS[i + 1]]) // 2
    for i in range(len(_G722_Q5_POS) - 1)
)
_G722_Q5_NEG_MIDS = tuple(
    (-_G722_QM5[_G722_Q5_NEG[i]] - _G722_QM5[_G722_Q5_NEG[i + 1]]) // 2
    for i in range(len(_G722_Q5_NEG) - 1)
)


def _g722_qmf_synthesize(rl, rh):
    """Vectorized 24-tap QMF synthesis (round 16): the per-pair loop's
    interleaved FIFO is algebraically two FIRs — with d[m] = rl-rh and
    s[m] = rl+rh, the first output of pair m is sum_i d[m-11+i] *
    h(2(11-i)) = convolve(d, even_taps)[m] and the second is
    convolve(s, odd_taps)[m] (verified bit-exact against the loop;
    the odd FIFO entries take the ODD taps h(2i+1) = h(2(11-i)) — the
    r16 QMF fix: both branches using the even-tap order broke alias
    cancellation on foreign streams, ~3.8 dB broadband SNR)."""
    import numpy as np

    qe = np.array([_G722_QMF[2 * i] for i in range(12)], np.int64)
    qo = np.array([_G722_QMF[2 * (11 - i)] for i in range(12)], np.int64)
    n = len(rl)
    d_seq = rl - rh
    s_seq = rl + rh
    xout1 = np.convolve(d_seq, qe)[:n]
    xout2 = np.convolve(s_seq, qo)[:n]
    out = np.empty(2 * n, np.int16)
    out[0::2] = np.clip(xout1 >> 11, -32768, 32767)
    out[1::2] = np.clip(xout2 >> 11, -32768, 32767)
    return out


def g722_decode(data: bytes, mode: int = 3):
    """Decode a G.722 64 kbit/s octet stream (one byte per pair of
    16 kHz samples: bits 0-5 lower band, 6-7 upper band) to int16 PCM.
    ``mode`` selects the lower-band reconstruction lattice: 3 (default)
    uses the embedded 4-bit core — spec-sanctioned for ANY conforming
    stream, since the adaptation path only ever reads the 4-bit core —
    1 (round 17) honors both enhancement bits via the certified
    Table 14 QM6 lattice for full 64 kbit fidelity, and 2 (round-17
    continuation) honors ONE enhancement bit via the certified QM5
    lattice (56 kbit audio: the octet's LSB is the auxiliary data
    channel, so decode reads ``il6 >> 1``). The mode is a
    session-level negotiation parameter in real G.722 use (not carried
    in-band), so container paths default to the always-safe mode 3.
    All modes run the identical adaptation, so they stay
    bit-synchronized with every conforming encoder — plus the full
    2-bit upper band and the 24-tap QMF synthesis bank (vectorized —
    the band coders are the only sample-sequential part).

    The r15 advice-#3 limitation (enhancement bits ignored) closed in
    round 17: QM6 ships behind the mirror/monotone/4-group-bracketing
    certificate in _g722_check_tables, which cross-checks every entry
    against the DERIVED 4-bit core alphabet — the condition the r16
    verdict set for shipping it — and QM5 behind the same stance
    tightened to a two-sided sandwich (bracketed by QM4 pairs below
    and QM6 children above)."""
    import numpy as np

    if mode not in (1, 2, 3):
        raise NotImplementedError(
            "G.722 decode modes: 1 (6-bit QM6), 2 (5-bit QM5) and "
            "3 (4-bit core)"
        )
    low = _G722Band(det=32)
    high = _G722Band(det=8)
    n = len(data)
    rl = np.empty(n, np.int64)
    rh = np.empty(n, np.int64)
    for k, byte in enumerate(data):
        il6 = byte & 0x3F
        il4 = il6 >> 2  # mode-3 core of the 6-bit code
        ih = (byte >> 6) & 0x03
        # the predictor/adaptation state runs on the 4-bit CORE
        # difference in every mode (the embedded property: enhancement
        # bits refine the OUTPUT lattice only, never the state — this
        # is what keeps any-mode decoders bit-synchronized with any
        # conforming encoder)
        dcore = (_G722_QM4[il4] * low.det) >> 15
        if mode == 1:
            dlow = (_G722_QM6[il6] * low.det) >> 15
        elif mode == 2:
            dlow = (_G722_QM5[il6 >> 1] * low.det) >> 15
        else:
            dlow = dcore
        rlow = low.s + dlow
        rlow = -16384 if rlow < -16384 else (16383 if rlow > 16383 else rlow)
        _g722_block4(low, dcore)
        _g722_lower_adapt(low, il4)
        dhigh = (_G722_QM2[ih] * high.det) >> 15
        rhigh = high.s + dhigh
        rhigh = -16384 if rhigh < -16384 else (16383 if rhigh > 16383 else rhigh)
        _g722_block4(high, dhigh)
        _g722_upper_adapt(high, ih)
        rl[k] = rlow
        rh[k] = rhigh
    return _g722_qmf_synthesize(rl, rh)


def g722_encode(samples, return_reconstruction: bool = False,
                mode: int = 3):
    """Encode 16 kHz int16 PCM (even sample count) to G.722 octets:
    QMF analysis, then per subband the derived-midpoint quantizer
    against the SAME backward-adaptive state machine the decoder runs
    (the encoder embeds the decoder, so with ``return_reconstruction``
    the synthesized signal is bit-identical to :func:`g722_decode` of
    the emitted stream AT THE SAME MODE — the tracking property the
    gate asserts). ``mode`` 3 (default) emits the 4-bit core with zero
    enhancement bits; mode 1 (round 17) quantizes the lower band on
    the full 6-bit QM6 lattice — the state still adapts on the 4-bit
    core, so a mode-3 decoder of a mode-1 stream stays synchronized,
    merely coarser (the embedded property); mode 2 (round-17
    continuation) quantizes on the 5-bit QM5 lattice and emits the
    code in bits 1-5 with a zero auxiliary LSB."""
    import numpy as np

    if mode not in (1, 2, 3):
        raise NotImplementedError(
            "G.722 encode modes: 1 (6-bit), 2 (5-bit) and 3 (4-bit core)"
        )
    pcm = np.asarray(samples, dtype=np.int16)
    if pcm.ndim != 1:
        raise ValueError("g722_encode wants mono int16")
    if len(pcm) % 2:
        raise ValueError("g722_encode wants an even sample count "
                         "(one octet codes a pair)")
    low = _G722Band(det=32)
    high = _G722Band(det=8)
    out = bytearray()
    # vectorized QMF analysis (round 16; non-adaptive, so it lifts out
    # of the sequential loop): even/odd input phases against the
    # even/odd tap orders — odd FIFO entries take the ODD taps (r16
    # QMF fix, see decode). Verified bit-exact against the loop.
    ev = pcm[0::2].astype(np.int64)
    od = pcm[1::2].astype(np.int64)
    qe = np.array([_G722_QMF[2 * i] for i in range(12)], np.int64)
    qo = np.array([_G722_QMF[2 * (11 - i)] for i in range(12)], np.int64)
    m = len(ev)
    sumeven_a = np.convolve(ev, qe[::-1])[:m]
    sumodd_a = np.convolve(od, qo[::-1])[:m]
    xlow_a = (sumeven_a + sumodd_a) >> 14
    xhigh_a = (sumodd_a - sumeven_a) >> 14
    rl_a = np.empty(m, np.int64) if return_reconstruction else None
    rh_a = np.empty(m, np.int64) if return_reconstruction else None
    for j2 in range(m):
        xlow = int(xlow_a[j2])
        xhigh = int(xhigh_a[j2])
        # lower band: quantize the prediction error against the
        # det-scaled derived midpoints
        el = _g722_sat(xlow - low.s)
        wd = abs(el)
        if mode == 1:
            cands, mids = (
                (_G722_Q6_POS, _G722_Q6_POS_MIDS) if el >= 0
                else (_G722_Q6_NEG, _G722_Q6_NEG_MIDS)
            )
            m = 0
            for mid in mids:
                if wd >= (mid * low.det) >> 15:
                    m += 1
            il6 = cands[m]
            il4 = il6 >> 2
        elif mode == 2:
            cands, mids = (
                (_G722_Q5_POS, _G722_Q5_POS_MIDS) if el >= 0
                else (_G722_Q5_NEG, _G722_Q5_NEG_MIDS)
            )
            m = 0
            for mid in mids:
                if wd >= (mid * low.det) >> 15:
                    m += 1
            il5 = cands[m]
            il6 = il5 << 1  # auxiliary data LSB stays zero
            il4 = il5 >> 1
        else:
            m = 0
            for mid in _G722_Q4_MIDS:
                if wd >= (mid * low.det) >> 15:
                    m += 1
            il4 = 15 - m if el >= 0 else (8 - m) % 8
            il6 = il4 << 2
        dcore = (_G722_QM4[il4] * low.det) >> 15
        if mode == 1:
            dlow = (_G722_QM6[il6] * low.det) >> 15
        elif mode == 2:
            dlow = (_G722_QM5[il6 >> 1] * low.det) >> 15
        else:
            dlow = dcore
        rlow = low.s + dlow
        rlow = -16384 if rlow < -16384 else (16383 if rlow > 16383 else rlow)
        _g722_block4(low, dcore)
        _g722_lower_adapt(low, il4)
        # upper band
        eh = _g722_sat(xhigh - high.s)
        big = abs(eh) >= (_G722_Q2_MID * high.det) >> 15
        ih = (2 if big else 3) if eh >= 0 else (0 if big else 1)
        dhigh = (_G722_QM2[ih] * high.det) >> 15
        rhigh = high.s + dhigh
        rhigh = -16384 if rhigh < -16384 else (16383 if rhigh > 16383 else rhigh)
        _g722_block4(high, dhigh)
        _g722_upper_adapt(high, ih)
        out.append((ih << 6) | il6)  # mode 3: zero enhancement bits
        if rl_a is not None:
            rl_a[j2] = rlow
            rh_a[j2] = rhigh
    data = bytes(out)
    if rl_a is None:
        return data
    return data, _g722_qmf_synthesize(rl_a, rh_a)


def _g72x_pack(codes, bits: int) -> bytes:
    """Pack code words into the AU MSB-first bitstream (final byte
    zero-padded on the right when n*bits is not a byte multiple)."""
    acc = nb = 0
    out = bytearray()
    mask = (1 << bits) - 1
    for c in codes:
        acc = (acc << bits) | (int(c) & mask)
        nb += bits
        while nb >= 8:
            nb -= 8
            out.append((acc >> nb) & 0xFF)
    if nb:
        out.append((acc << (8 - nb)) & 0xFF)
    return bytes(out)


def _g72x_unpack(data: bytes, bits: int):
    """Unpack the AU MSB-first bitstream to codes; trailing bits that
    cannot form a whole code are padding."""
    import numpy as np

    n = len(data) * 8 // bits
    out = np.empty(n, np.uint8)
    acc = nb = k = 0
    for byte in data:
        acc = (acc << 8) | byte
        nb += 8
        while nb >= bits and k < n:
            nb -= bits
            out[k] = (acc >> nb) & ((1 << bits) - 1)
            k += 1
        acc &= (1 << nb) - 1
    return out


def _g711_compress(samples, law: str):
    """Vectorized G.711 COMPRESSION of linear int16 to code bytes
    (ITU-T G.711 1988) — the exact inverse of :func:`_g711_expand` on the
    decoder's output lattice (compress(expand(c)) == c for all 256 codes
    up to the laws' double-zero/sign-of-zero conventions, pinned by
    test). mu-law: bias 0x84, 8 segments, complemented output. A-law:
    segment search on the raw magnitude, mantissa at seg-dependent shift,
    XOR 0x55, sign bit SET for non-negative."""
    import numpy as np

    x = np.asarray(samples, dtype=np.int64)
    if law == "ulaw":
        sign = np.where(x < 0, 0x80, 0)
        mag = np.abs(x)
        mag = np.minimum(mag, 32635) + 0x84
        # segment = highest set bit of mag in bits 7..14, as 0..7
        seg = np.clip(np.floor(np.log2(mag)).astype(np.int64) - 7, 0, 7)
        mantissa = (mag >> (seg + 3)) & 0x0F
        code = ~(sign | (seg << 4) | mantissa) & 0xFF
        return code.astype(np.uint8)
    if law == "alaw":
        sign = np.where(x >= 0, 0x80, 0)
        mag = np.minimum(np.abs(x), 32767)
        # segment 0: mag < 256 (linear); else highest bit position - 7
        seg = np.clip(
            np.floor(np.log2(np.maximum(mag, 1))).astype(np.int64) - 7, 0, 7
        )
        mantissa = np.where(
            seg == 0, mag >> 4, (mag >> (seg + 3)) & 0x0F
        )
        code = (sign | (seg << 4) | mantissa) ^ 0x55
        return code.astype(np.uint8)
    raise ValueError(f"unknown G.711 law {law!r}")


def encode_au(
    samples,
    sample_rate: int = 8000,
    ulaw: bool = False,
    alaw: bool = False,
    float_width: int = 0,
    annotation: bytes = b"",
    adpcm: str | None = None,
) -> bytes:
    """Encode mono int16 samples as a Sun AU file: big-endian 24-byte
    header (magic, data offset, data size, encoding, rate, channels) plus
    an optional annotation field, then big-endian 16-bit PCM, G.711
    mu-law/A-law codes (the same companding transform the WAV path
    carries), ``float_width`` 4/8 — IEEE big-endian float32/float64
    samples scaled to [-1, 1) by 1/32768 (exact: every int16/2**15 is
    representable in float32, so the round-trip is bit-true) — or,
    round 15, ``adpcm`` in {'g721','g723_24','g723_40'}: CCITT ADPCM
    codes MSB-first-packed (AU encodings 23/25/26)."""
    import struct

    import numpy as np

    samples = np.asarray(samples, dtype=np.int16)
    if samples.ndim != 1:
        raise ValueError("encode_au wants mono int16")
    if ulaw and alaw:
        raise ValueError("pick one companding law")
    if adpcm is not None:
        if ulaw or alaw or float_width:
            raise ValueError("adpcm excludes the other sample formats")
        if adpcm == "g722":
            data = g722_encode(samples)
            enc = _AU_G722
        else:
            bits = {"g721": 4, "g723_24": 3, "g723_40": 5}.get(adpcm)
            if bits is None:
                raise ValueError(f"unknown G.72x law {adpcm!r}")
            data = _g72x_pack(g72x_encode(samples, adpcm), bits)
            enc = {"g721": _AU_G721, "g723_24": _AU_G723_24,
                   "g723_40": _AU_G723_40}[adpcm]
    elif ulaw:
        data = _g711_compress(samples, "ulaw").astype(np.uint8).tobytes()
        enc = _AU_ULAW
    elif alaw:
        data = _g711_compress(samples, "alaw").astype(np.uint8).tobytes()
        enc = _AU_ALAW
    elif float_width == 4:
        data = (samples.astype(np.float32) / np.float32(32768.0)).astype(">f4").tobytes()
        enc = _AU_FLOAT32
    elif float_width == 8:
        data = (samples.astype(np.float64) / 32768.0).astype(">f8").tobytes()
        enc = _AU_FLOAT64
    elif float_width:
        raise ValueError("float_width must be 4 or 8")
    else:
        data = samples.astype(">i2").tobytes()
        enc = _AU_PCM16
    off = 24 + len(annotation)
    hdr = struct.pack(
        ">4sIIIII", _AU_MAGIC, off, len(data), enc, sample_rate, 1
    )
    return hdr + annotation + data


def _decode_au(payload: bytes) -> dict:
    """Parse a Sun AU file into the uniform audio-decode contract:
    big-endian header walk, annotation skip, mu-law/A-law expansion
    through the REAL G.711 transform, signed 8-bit PCM widening
    (encoding 2, round 14), big-endian PCM16 byteswap, or IEEE
    big-endian float32/float64 (encodings 6/7) scaled to int16 by
    round-half-away(v * 32768) with clipping, and 24/32-bit linear PCM
    (encodings 4/5) narrowed to int16 by round-half-away at the shift,
    or — round 15 — CCITT G.721/G.723 ADPCM (encodings 23/25/26)
    through the REAL G.726-family state machine and G.722 subband ADPCM
    (encoding 24: QMF split + embedded-mode band coders). Multichannel
    files decode with their interleaving preserved (AU frames are
    channel-interleaved, same convention as WAV); ADPCM is mono-only.
    Every standard AU audio encoding now decodes; unknown ids raise by
    name."""
    import struct

    import numpy as np

    if payload[:4] != _AU_MAGIC:
        raise ValueError("not an AU payload (missing .snd magic)")
    if len(payload) < 24:
        raise ValueError("truncated AU header")
    off, size, enc, rate, n_ch = struct.unpack_from(">IIIII", payload, 4)
    if off < 24:
        raise ValueError("AU data offset inside the header")
    if n_ch == 0:
        raise ValueError("AU channel count 0")
    data = payload[off:]
    if size != 0xFFFFFFFF:
        if len(data) < size:
            raise ValueError("truncated AU data")
        data = data[:size]
    if enc in (_AU_ULAW, _AU_ALAW):
        codes = np.frombuffer(data, np.uint8)
        if len(codes) % n_ch:
            raise ValueError("AU data not a whole number of frames")
        law = "ulaw" if enc == _AU_ULAW else "alaw"
        pcm = _g711_expand(codes, law)
        return {
            "n_channels": n_ch, "sample_width": 2, "frame_rate": rate,
            "n_frames": len(codes) // n_ch, "pcm": pcm.tobytes(),
            "codec": law,
        }
    if enc == _AU_PCM8:
        pcm = (np.frombuffer(data, np.int8).astype(np.int16) << 8)
        if len(pcm) % n_ch:
            raise ValueError("AU data not a whole number of frames")
        return {
            "n_channels": n_ch, "sample_width": 2, "frame_rate": rate,
            "n_frames": len(pcm) // n_ch, "pcm": pcm.astype("<i2").tobytes(),
            "codec": "pcm_s8",
        }
    if enc == _AU_PCM16:
        if len(data) % 2:
            raise ValueError("odd AU PCM16 byte count")
        pcm = np.frombuffer(data, ">i2").astype("<i2")
        if len(pcm) % n_ch:
            raise ValueError("AU data not a whole number of frames")
        return {
            "n_channels": n_ch, "sample_width": 2, "frame_rate": rate,
            "n_frames": len(pcm) // n_ch, "pcm": pcm.tobytes(),
            "codec": "pcm_s16be",
        }
    if enc in (_AU_PCM24, _AU_PCM32):
        # round 14: wide linear PCM narrows to the uniform int16 contract
        # by round-half-away at the 8/16-bit shift (same convention as
        # the float path); big-endian like all AU sample formats
        width = 3 if enc == _AU_PCM24 else 4
        if len(data) % width:
            raise ValueError("AU wide-PCM data not a whole number of samples")
        n = len(data) // width
        if n % n_ch:
            raise ValueError("AU data not a whole number of frames")
        raw = np.frombuffer(data, np.uint8).reshape(n, width)
        val = np.zeros(n, np.int64)
        for b in range(width):
            val = (val << 8) | raw[:, b].astype(np.int64)
        bits = width * 8
        val = np.where(val >= (1 << (bits - 1)), val - (1 << bits), val)
        shift = 1 << (bits - 17)  # half of the 2**(bits-16) step
        pcm = np.clip(
            np.sign(val) * ((np.abs(val) + shift) >> (bits - 16)),
            -32768, 32767,
        ).astype(np.int16)
        return {
            "n_channels": n_ch, "sample_width": 2, "frame_rate": rate,
            "n_frames": n // n_ch, "pcm": pcm.astype("<i2").tobytes(),
            "codec": "pcm_s24be" if width == 3 else "pcm_s32be",
        }
    if enc in (_AU_FLOAT32, _AU_FLOAT64):
        width = 4 if enc == _AU_FLOAT32 else 8
        if len(data) % width:
            raise ValueError("AU float data not a whole number of samples")
        f = np.frombuffer(data, ">f4" if width == 4 else ">f8").astype(np.float64)
        if len(f) % n_ch:
            raise ValueError("AU data not a whole number of frames")
        if not np.isfinite(f).all():
            raise ValueError("non-finite AU float sample")
        # nominal [-1, 1) range -> int16: scale by 2**15, round half away
        # from zero (the G.711 convention used throughout), clip to int16
        scaled = f * 32768.0
        pcm = np.clip(
            np.sign(scaled) * np.floor(np.abs(scaled) + 0.5), -32768, 32767
        ).astype(np.int16)
        return {
            "n_channels": n_ch, "sample_width": 2, "frame_rate": rate,
            "n_frames": len(pcm) // n_ch, "pcm": pcm.tobytes(),
            "codec": "pcm_f32be" if width == 4 else "pcm_f64be",
        }
    if enc in (_AU_G721, _AU_G723_24, _AU_G723_40):
        # round 15: CCITT ADPCM — 4/3/5-bit codes, MSB-first bitstream;
        # the decoder is a stateful backward-adaptive filter, so multi-
        # channel interleaving (rare; no standard channel-state layout)
        # raises by name rather than guessing
        if n_ch != 1:
            raise ValueError("AU G.72x ADPCM supports mono only")
        law, bits = {
            _AU_G721: ("g721", 4),
            _AU_G723_24: ("g723_24", 3),
            _AU_G723_40: ("g723_40", 5),
        }[enc]
        codes = _g72x_unpack(data, bits)
        pcm = g72x_decode(codes, law)
        return {
            "n_channels": 1, "sample_width": 2, "frame_rate": rate,
            "n_frames": len(pcm), "pcm": pcm.astype("<i2").tobytes(),
            "codec": law,
        }
    if enc == _AU_G722:
        # round 15: subband ADPCM — one octet per PAIR of 16 kHz samples
        if n_ch != 1:
            raise ValueError("AU G.722 supports mono only")
        pcm = g722_decode(data)
        return {
            "n_channels": 1, "sample_width": 2, "frame_rate": rate,
            "n_frames": len(pcm), "pcm": pcm.astype("<i2").tobytes(),
            "codec": "g722",
        }
    raise ValueError(
        f"AU encoding {enc} requires external media libraries "
        "(SURVEY §2.10 U1/U2)"
    )


@register(
    "au_decode_features",
    oracle="""
    WITH samp AS (
        SELECT d.doc_id AS doc_id,
               CASE WHEN d.doc_id % 4 = 0 THEN
                   -- mu-law expansion of code byte c (u = 255 - c), the
                   -- proven g711_decode_features closed form
                   CASE WHEN (255 - ((13 * d.doc_id + 7 * s.i) % 256)) >= 128
                        THEN 132 - (((255 - ((13 * d.doc_id + 7 * s.i) % 256)) % 16) * 8 + 132)
                                 * (1 << (((255 - ((13 * d.doc_id + 7 * s.i) % 256)) // 16) % 8))
                        ELSE (((255 - ((13 * d.doc_id + 7 * s.i) % 256)) % 16) * 8 + 132)
                                 * (1 << (((255 - ((13 * d.doc_id + 7 * s.i) % 256)) // 16) % 8)) - 132
                   END
               ELSE (11 * d.doc_id + 5 * s.i) % 4001 - 2000
               END AS v
        FROM documents d,
             LATERAL (SELECT unnest(generate_series(
                 0, CAST(255 + (d.doc_id % 4) * 64 AS BIGINT))) AS i) s
    )
    SELECT doc_id,
           CASE CAST(doc_id % 4 AS INTEGER)
                WHEN 0 THEN 'ulaw' WHEN 1 THEN 'pcm_s16be'
                WHEN 2 THEN 'pcm_f32be' ELSE 'pcm_f64be' END AS codec,
           CAST(8000 + (doc_id % 3) * 4000 AS BIGINT) AS sample_rate,
           CAST(256 + (doc_id % 4) * 64 AS BIGINT) AS n_samples,
           CAST(MAX(ABS(v)) AS BIGINT) AS peak,
           CAST(SUM(ABS(v)) AS BIGINT) AS sum_abs
    FROM samp
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def au_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sun AU container under the differential gate (round 13; float
    encodings round 14): docs cycle through the four decodable encodings
    by doc_id % 4 — mu-law CODE bytes (sweeping the code space) which
    the oracle expands through the ITU G.711 closed form (sign, segment
    power, mantissa, bias — the same arithmetic ``_g711_expand``
    vectorizes); big-endian PCM16 whose byteswap round-trips exactly;
    and IEEE big-endian float32/float64 (AU encodings 6/7) carrying
    k/32768 values that rescale to the source int16s bit-exactly (every
    int16/2**15 is float32-representable, so the closed form needs no
    float modelling). Decoded peak and sum-of-abs hash against the
    closed forms. Map-only mapInPandas with the same explicit core
    fan-out as the other decode gates."""
    import numpy as np

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            out = {
                "doc_id": [], "codec": [], "sample_rate": [],
                "n_samples": [], "peak": [], "sum_abs": [],
            }
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                n = 256 + (d % 4) * 64
                sr = 8000 + (d % 3) * 4000
                i = np.arange(n, dtype=np.int64)
                if d % 4 == 0:
                    codes = ((13 * d + 7 * i) % 256).astype(np.uint8)
                    pcm_src = _g711_expand(codes, "ulaw").astype(np.int16)
                    blob = (
                        b".snd"
                        + (24).to_bytes(4, "big")
                        + len(codes).to_bytes(4, "big")
                        + (1).to_bytes(4, "big")
                        + sr.to_bytes(4, "big")
                        + (1).to_bytes(4, "big")
                        + codes.tobytes()
                    )
                else:
                    pcm_src = ((11 * d + 5 * i) % 4001 - 2000).astype(np.int16)
                    blob = encode_au(
                        pcm_src,
                        sample_rate=sr,
                        float_width={1: 0, 2: 4, 3: 8}[d % 4],
                    )
                meta = decode_media(blob, "audio")  # REAL AU decode
                pcm = np.frombuffer(meta["pcm"], "<i2").astype(np.int64)
                out["doc_id"].append(d)
                out["codec"].append(meta["codec"])
                out["sample_rate"].append(meta["frame_rate"])
                out["n_samples"].append(meta["n_frames"])
                out["peak"].append(int(np.abs(pcm).max()))
                out["sum_abs"].append(int(np.abs(pcm).sum()))
            yield pd.DataFrame(out)

    schema = (
        "doc_id long, codec string, sample_rate long, n_samples long, "
        "peak long, sum_abs long"
    )
    return docs.mapInPandas(run, schema)


@register(
    "au_adpcm_decode_features",
    oracle="""
    SELECT d.doc_id,
           CASE CAST(d.doc_id % 4 AS INTEGER)
                WHEN 0 THEN 'g721' WHEN 1 THEN 'g723_24'
                WHEN 2 THEN 'g723_40' ELSE 'g722' END AS codec,
           CAST(384 + (d.doc_id % 4) * 64 AS BIGINT) AS n_samples,
           CAST(24 + CAST(((384 + (d.doc_id % 4) * 64)
                * (CASE CAST(d.doc_id % 4 AS INTEGER)
                        WHEN 0 THEN 4 WHEN 1 THEN 3
                        WHEN 2 THEN 5 ELSE 4 END) + 7) // 8
                AS BIGINT) AS BIGINT) AS au_bytes,
           TRUE AS tracking_exact,
           TRUE AS snr_ok
    FROM documents d
    ORDER BY d.doc_id
    """,
)
def au_adpcm_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCITT G.72x ADPCM-in-AU under the differential gate (round 15):
    per doc a deterministic sine card (amplitude/period varying by doc)
    is G.721/G.723_24/G.723_40/G.722-encoded (doc_id % 4) into a REAL AU
    file
    and decoded back through :func:`decode_media`'s AU path (header
    walk, MSB-first bit unpacking, the full G.726-family state machine:
    adaptive quantizer, 2-pole/6-zero predictor, scale-factor and speed
    adaptation; the G.722 docs additionally run the 24-tap QMF
    analysis/synthesis banks and both embedded-mode band coders at
    16 kHz). Two fidelity gates ride the hash: ``tracking_exact``
    asserts the standalone decoder reproduces the encoder's internal
    reconstruction BIT-EXACTLY (the G.726 backward-adaptation property —
    any divergence in any table or update step breaks it), and
    ``snr_ok`` asserts codec-appropriate reconstruction quality (floors
    25/20/30 dB sit far under the ~48/41/51 dB these cards measure and
    far above the ~0 dB a broken state machine produces). Container
    geometry (sample count, file bytes) hashes against the closed form.
    Like the MP3 gates, the lossy sample values themselves are not
    SQL-expressible; the paired structural+fidelity columns are the
    documented oracle surface. Map-only mapInPandas with the standard
    explicit core fan-out."""
    import numpy as np

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        laws = ("g721", "g723_24", "g723_40", "g722")
        floors = {"g721": 25.0, "g723_24": 20.0, "g723_40": 30.0,
                  "g722": 25.0}
        for pdf in batches:
            out = {
                "doc_id": [], "codec": [], "n_samples": [], "au_bytes": [],
                "tracking_exact": [], "snr_ok": [],
            }
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                law = laws[d % 4]
                n = 384 + (d % 4) * 64
                amp = 4000.0 + 125.0 * (d % 8)
                period = 24 + d % 16
                i = np.arange(n, dtype=np.float64)
                src = np.round(
                    amp * np.sin(2.0 * np.pi * i / period)
                ).astype(np.int16)
                # one encoder pass feeds BOTH the container bytes and the
                # tracking reference (encode_au would re-run the state
                # machine; at 5k docs that third pass is real money)
                if law == "g722":
                    # the g722 docs (d%4==3) cycle the THREE modes by
                    # d%16: 7 -> mode 1 (round 17: the 6-bit QM6
                    # lattice end-to-end, SNR floor 40 dB), 15 ->
                    # mode 2 (round-17 continuation: the 5-bit QM5
                    # lattice, floor 35 dB — above the 4-bit core's
                    # measured 32.3 dB worst on these cards, below
                    # mode 2's 38.9), 3/11 -> mode 3 (the always-safe
                    # core, floor 25). Encode emits real enhancement
                    # bits, decode honors them. Mode is a session
                    # parameter, so the mode-1/2 legs decode via
                    # g722_decode(mode=) on the AU payload; container
                    # columns still come from the decode_media walk.
                    g722_mode = {7: 1, 15: 2}.get(d % 16, 3)
                    data, recon = g722_encode(
                        src, return_reconstruction=True, mode=g722_mode,
                    )
                    enc_id, rate, delay = 24, 16000, 22
                else:
                    g722_mode = 3
                    codes, recon = g72x_encode(
                        src, law, return_reconstruction=True
                    )
                    bits = {"g721": 4, "g723_24": 3, "g723_40": 5}[law]
                    data = _g72x_pack(codes, bits)
                    enc_id = {"g721": 23, "g723_24": 25, "g723_40": 26}[law]
                    rate, delay = 8000, 0
                blob = (
                    b".snd" + (24).to_bytes(4, "big")
                    + len(data).to_bytes(4, "big")
                    + enc_id.to_bytes(4, "big")
                    + rate.to_bytes(4, "big") + (1).to_bytes(4, "big")
                    + data
                )
                meta = decode_media(blob, "audio")  # REAL AU ADPCM decode
                if law == "g722" and g722_mode != 3:
                    pcm = np.asarray(
                        g722_decode(data, mode=g722_mode), dtype="<i2"
                    )
                else:
                    pcm = np.frombuffer(meta["pcm"], "<i2")
                # SNR against the source, past warm-up; G.722's QMF
                # cascade delays by 22 samples (deterministic; re-measured
                # after the r16 odd-tap fix), so the comparison shifts by
                # that group delay
                a = pcm[256 + delay:].astype(np.float64)
                b = src[256: len(src) - delay if delay else None].astype(
                    np.float64
                )
                m = min(len(a), len(b))
                err = a[:m] - b[:m]
                sig = (b[:m] ** 2).mean()
                snr = 10.0 * np.log10(sig / max((err ** 2).mean(), 1e-12))
                out["doc_id"].append(d)
                out["codec"].append(meta["codec"])
                out["n_samples"].append(meta["n_frames"])
                out["au_bytes"].append(len(blob))
                out["tracking_exact"].append(bool(np.array_equal(pcm, recon)))
                floor = floors[law]
                if law == "g722" and g722_mode == 1:
                    floor = 40.0  # above the 4-bit core's band
                elif law == "g722" and g722_mode == 2:
                    floor = 35.0  # between the core and mode-1 bands
                out["snr_ok"].append(bool(snr >= floor))
            yield pd.DataFrame(out)

    schema = (
        "doc_id long, codec string, n_samples long, au_bytes long, "
        "tracking_exact boolean, snr_ok boolean"
    )
    return docs.mapInPandas(run, schema)


@register(
    "ms_adpcm_decode_features",
    oracle="""
    SELECT d.doc_id,
           CASE WHEN d.doc_id % 2 = 0 THEN 'mono' ELSE 'stereo' END AS mode,
           CAST(CASE CAST(d.doc_id % 3 AS INTEGER)
                WHEN 0 THEN 8000 WHEN 1 THEN 11025
                ELSE 16000 END AS BIGINT) AS sample_rate,
           CAST(128 * (2 + d.doc_id % 3)
                - CASE WHEN d.doc_id % 5 = 0 THEN 7 ELSE 0 END
                AS BIGINT) AS n_samples,
           CAST(90 + (2 + d.doc_id % 3) * 70
                * (1 + d.doc_id % 2) AS BIGINT) AS wav_bytes,
           TRUE AS tracking_exact,
           TRUE AS snr_ok
    FROM documents d
    ORDER BY d.doc_id
    """,
)
def ms_adpcm_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MS ADPCM-in-WAV (format tag 0x0002) under the differential gate
    (round 17): per doc a deterministic sine card — mono or stereo by
    parity, sample rate and block count cycling by doc — is
    MS-ADPCM-encoded (:func:`encode_ms_adpcm`, the predictor pinned by
    doc so all seven spec pairs are exercised corpus-wide at 1/7 the
    trial cost) into a spec-complete WAV (WAVEFORMATEX cbSize 32 + the
    seven aCoef pairs + the mandatory 'fact' chunk) and decoded back
    through :func:`decode_media`'s 0x0002 arm. ``tracking_exact``
    asserts the standalone decoder reproduces the encoder's internal
    reconstruction BIT-EXACTLY (any slip in the adaptation table, the
    truncate-toward-zero predictor division, or the iDelta floor breaks
    it); ``snr_ok`` gates reconstruction fidelity with PER-PREDICTOR
    floors ~5-10 dB under each pinned pair's measured worst on these
    cards (predictor 2 is the spec's degenerate no-prediction (0, 0)
    pair and legitimately bottoms out ~15 dB; a broken state machine
    measures ~0 on every predictor). Every fifth doc's 'fact' count
    truncates the final block's padding frames.
    Container geometry hashes against the closed form. Map-only
    mapInPandas with the standard explicit core fan-out."""
    import numpy as np

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        rates = (8000, 11025, 16000)
        for pdf in batches:
            out = {
                "doc_id": [], "mode": [], "sample_rate": [],
                "n_samples": [], "wav_bytes": [], "tracking_exact": [],
                "snr_ok": [],
            }
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                ch = 1 + d % 2
                rate = rates[d % 3]
                n = 128 * (2 + d % 3)
                fact = n - (7 if d % 5 == 0 else 0)
                amp = 2500.0 + 100.0 * (d % 8)
                period = 20 + d % 12
                i = np.arange(n, dtype=np.float64)
                chans = [
                    np.round(
                        amp * np.sin(2.0 * np.pi * (i + c * 5.0) / period)
                    ).astype(np.int16)
                    for c in range(ch)
                ]
                src = np.stack(chans, axis=1).reshape(-1)
                # pin the predictor by doc (all seven exercised
                # corpus-wide) instead of trialling all seven per block
                # — 7x less fixture CPU, identical wire validity
                data, ba, recon = encode_ms_adpcm(
                    src, n_channels=ch, frames_per_block=128,
                    predictor=d % 7,
                )
                wav = encode_wav_ms_adpcm(data, ba, ch, rate, fact, 128)
                meta = decode_media(wav, "audio")  # REAL MS ADPCM decode
                pcm = np.frombuffer(meta["pcm"], "<i2")
                track = bool(np.array_equal(pcm, recon[: fact * ch]))
                a = pcm.astype(np.float64)
                b = src[: fact * ch].astype(np.float64)
                err = a - b
                snr = 10.0 * np.log10(
                    (b * b).mean() / max((err * err).mean(), 1e-12)
                )
                out["doc_id"].append(d)
                out["mode"].append("mono" if ch == 1 else "stereo")
                out["sample_rate"].append(meta["frame_rate"])
                out["n_samples"].append(meta["n_frames"])
                out["wav_bytes"].append(len(wav))
                out["tracking_exact"].append(track)
                # measured worst per pinned predictor on these cards:
                # 26.6/39.5/15.4/24.3/26.7/40.3/20.1 dB
                floor = (20.0, 33.0, 10.0, 18.0, 20.0, 33.0, 14.0)[d % 7]
                out["snr_ok"].append(bool(snr >= floor))
            yield pd.DataFrame(out)

    schema = (
        "doc_id long, mode string, sample_rate long, n_samples long, "
        "wav_bytes long, tracking_exact boolean, snr_ok boolean"
    )
    return docs.mapInPandas(run, schema)


@register(
    "aiff_decode_features",
    oracle="""
    WITH p AS (
        SELECT d.doc_id,
               CAST(d.doc_id % 7 AS INTEGER) AS v,
               64 * (3 + d.doc_id % 3) AS n,
               CASE WHEN d.doc_id % 3 = 0 THEN 2 ELSE 1 END AS ch
        FROM documents d
    )
    SELECT doc_id,
           CASE v WHEN 0 THEN 'pcm_s16be' WHEN 1 THEN 'pcm_s16le'
                  WHEN 2 THEN 'pcm_s8' WHEN 3 THEN 'pcm_f32be'
                  WHEN 4 THEN 'ulaw' WHEN 5 THEN 'alaw'
                  ELSE 'ima4' END AS codec,
           CASE WHEN v IN (0, 2) THEN 'aiff' ELSE 'aifc' END AS container,
           CAST(n AS BIGINT) AS n_samples,
           CAST(ch AS BIGINT) AS n_channels,
           CAST(CASE CAST(doc_id % 3 AS INTEGER)
                WHEN 0 THEN 8000 WHEN 1 THEN 22050
                ELSE 44100 END AS BIGINT) AS sample_rate,
           CAST(12 + CASE WHEN v IN (0, 2) THEN 26 ELSE 32 END + 16
                + CASE v WHEN 0 THEN 2 * n * ch WHEN 1 THEN 2 * n * ch
                         WHEN 2 THEN n * ch WHEN 3 THEN 4 * n * ch
                         WHEN 4 THEN n * ch WHEN 5 THEN n * ch
                         ELSE (n // 64) * 34 * ch END
                AS BIGINT) AS aiff_bytes,
           TRUE AS pcm_exact,
           TRUE AS snr_ok
    FROM p
    ORDER BY doc_id
    """,
)
def aiff_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AIFF / AIFF-C under the differential gate (round 17): per doc a
    deterministic sine card — stereo every third doc, frame count a
    64-multiple so every variant shares one geometry — is written
    through :func:`encode_aiff` cycling SEVEN compression variants
    (big-endian PCM16, sowt little-endian, signed 8-bit, fl32 float,
    mu-law, A-law, Apple ima4) and decoded back through
    :func:`decode_media`'s FORM arm (IFF chunk walk, 80-bit extended
    sample rate, per-compression codec routing). ``pcm_exact`` asserts
    the decoded PCM equals the variant's independently computed
    expectation (identity for the lossless forms — int16/32768 is exact
    in binary32 — G.711 expand∘compress for the companded laws, the
    encoder's tracked reconstruction for ima4); ``snr_ok`` gates
    reconstruction fidelity against the SOURCE with per-variant floors.
    Container geometry (file bytes, frames, rate decoded from the
    80-bit extended field) hashes against the closed form. Map-only
    mapInPandas with the standard explicit core fan-out."""
    import numpy as np

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        comps = (
            (b"NONE", 2), (b"sowt", 2), (b"NONE", 1), (b"fl32", 2),
            (b"ulaw", 2), (b"alaw", 2), (b"ima4", 2),
        )
        rates = (8000, 22050, 44100)
        # lossless variants must be exact; 8-bit loses the low byte of a
        # ±3k-amplitude card (~14 dB here), companded laws ~38 dB, ima4
        # ~30 dB on these cards
        floors = {0: None, 1: None, 3: None, 2: 8.0, 4: 30.0, 5: 30.0,
                  6: 20.0}
        for pdf in batches:
            out = {
                "doc_id": [], "codec": [], "container": [],
                "n_samples": [], "n_channels": [], "sample_rate": [],
                "aiff_bytes": [], "pcm_exact": [], "snr_ok": [],
            }
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                v = d % 7
                comp, width = comps[v]
                ch = 2 if d % 3 == 0 else 1
                rate = rates[d % 3]
                n = 64 * (3 + d % 3)
                amp = 2600.0 + 90.0 * (d % 9)
                period = 19 + d % 14
                i = np.arange(n, dtype=np.float64)
                chans = [
                    np.round(
                        amp * np.sin(2.0 * np.pi * (i + 7.0 * c) / period)
                    ).astype(np.int16)
                    for c in range(ch)
                ]
                src = np.stack(chans, axis=1).reshape(-1)
                blob = encode_aiff(
                    src, rate, comp=comp, n_channels=ch, width=width
                )
                meta = decode_media(blob, "audio")  # REAL AIFF decode
                if meta["sample_width"] == 2:
                    pcm = np.frombuffer(meta["pcm"], "<i2")
                else:
                    pcm = np.frombuffer(meta["pcm"], np.uint8)
                if v in (0, 1, 3):
                    expect = src
                elif v == 2:
                    expect = (
                        (src.astype(np.int16) >> 8).astype(np.int16) + 128
                    ).astype(np.uint8)
                elif v in (4, 5):
                    law = "ulaw" if v == 4 else "alaw"
                    expect = _g711_expand(_g711_compress(src, law), law)
                else:
                    _, expect = encode_ima4(src, n_channels=ch)
                exact = bool(np.array_equal(pcm, expect))
                floor = floors[v]
                if floor is None:
                    snr_ok = exact
                else:
                    # ima4 starts from (pred 0, index 0): its attack
                    # transient spans the first block, so the fidelity
                    # window opens after 64 frames (worst card measures
                    # ~32 dB there vs the 20 dB floor; including the
                    # ramp it can dip under 16)
                    skip = 64 * ch if v == 6 else 0
                    a = (
                        (pcm.astype(np.float64) - 128.0) * 256.0
                        if v == 2 else pcm.astype(np.float64)
                    )[skip:]
                    b = src.astype(np.float64)[skip:]
                    err = a - b
                    snr = 10.0 * np.log10(
                        max((b * b).mean(), 1e-12)
                        / max((err * err).mean(), 1e-12)
                    )
                    snr_ok = bool(snr >= floor)
                out["doc_id"].append(d)
                out["codec"].append(meta["codec"])
                out["container"].append(
                    "aiff" if blob[8:12] == b"AIFF" else "aifc"
                )
                out["n_samples"].append(meta["n_frames"])
                out["n_channels"].append(meta["n_channels"])
                out["sample_rate"].append(meta["frame_rate"])
                out["aiff_bytes"].append(len(blob))
                out["pcm_exact"].append(exact)
                out["snr_ok"].append(snr_ok)
            yield pd.DataFrame(out)

    schema = (
        "doc_id long, codec string, container string, n_samples long, "
        "n_channels long, sample_rate long, aiff_bytes long, "
        "pcm_exact boolean, snr_ok boolean"
    )
    return docs.mapInPandas(run, schema)


@register(
    "caf_decode_features",
    oracle="""
    WITH p AS (
        SELECT d.doc_id,
               CAST(d.doc_id % 8 AS INTEGER) AS v,
               64 * (3 + d.doc_id % 3) AS n,
               CASE WHEN d.doc_id % 3 = 0 THEN 2 ELSE 1 END AS ch
        FROM documents d
    )
    SELECT doc_id,
           CASE v WHEN 0 THEN 'pcm_s16be' WHEN 1 THEN 'pcm_s16le'
                  WHEN 2 THEN 'pcm_f32le' WHEN 3 THEN 'pcm_f64be'
                  WHEN 4 THEN 'pcm_s8' WHEN 5 THEN 'ulaw'
                  WHEN 6 THEN 'alaw' ELSE 'ima4' END AS codec,
           CAST(n AS BIGINT) AS n_samples,
           CAST(ch AS BIGINT) AS n_channels,
           CAST(CASE CAST(doc_id % 3 AS INTEGER)
                WHEN 0 THEN 16000 WHEN 1 THEN 22050
                ELSE 44100 END AS BIGINT) AS sample_rate,
           CAST(68 + CASE v WHEN 0 THEN 2 * n * ch WHEN 1 THEN 2 * n * ch
                            WHEN 2 THEN 4 * n * ch WHEN 3 THEN 8 * n * ch
                            WHEN 4 THEN n * ch WHEN 5 THEN n * ch
                            WHEN 6 THEN n * ch
                            ELSE (n // 64) * 34 * ch END
                AS BIGINT) AS caf_bytes,
           TRUE AS pcm_exact,
           TRUE AS snr_ok
    FROM p
    ORDER BY doc_id
    """,
)
def caf_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apple CAF under the differential gate (round 17): per doc a
    deterministic sine card — stereo every third doc, frame count a
    64-multiple so ima4 shares the geometry — is written through
    :func:`encode_caf` cycling EIGHT variants (lpcm int16 both
    endiannesses, float32 LE, float64 BE, signed 8-bit, mu-law, A-law,
    ima4; every seventh doc uses the unsized streaming-form data
    chunk) and decoded back through :func:`decode_media`'s caff arm
    (chunk walk, float64 BE sample rate, lpcm flag decoding, packet
    geometry validation). ``pcm_exact`` asserts the decoded PCM equals
    the variant's independently computed expectation; ``snr_ok`` gates
    fidelity against the SOURCE with per-variant floors (ima4 past its
    one-block attack transient, 8-bit at its quantization bound).
    Container geometry hashes against the closed form. Map-only
    mapInPandas with the standard explicit core fan-out."""
    import numpy as np

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        kw = (
            dict(width=2), dict(width=2, little=True),
            dict(width=4, is_float=True, little=True),
            dict(width=8, is_float=True), dict(width=1), {}, {}, {},
        )
        fmts = (b"lpcm", b"lpcm", b"lpcm", b"lpcm", b"lpcm", b"ulaw",
                b"alaw", b"ima4")
        rates = (16000, 22050, 44100)
        floors = {4: 8.0, 5: 30.0, 6: 30.0, 7: 20.0}
        for pdf in batches:
            out = {
                "doc_id": [], "codec": [], "n_samples": [],
                "n_channels": [], "sample_rate": [], "caf_bytes": [],
                "pcm_exact": [], "snr_ok": [],
            }
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                v = d % 8
                ch = 2 if d % 3 == 0 else 1
                rate = rates[d % 3]
                n = 64 * (3 + d % 3)
                amp = 2550.0 + 85.0 * (d % 9)
                period = 18 + d % 15
                i = np.arange(n, dtype=np.float64)
                chans = [
                    np.round(
                        amp * np.sin(2.0 * np.pi * (i + 6.0 * c) / period)
                    ).astype(np.int16)
                    for c in range(ch)
                ]
                src = np.stack(chans, axis=1).reshape(-1)
                blob = encode_caf(
                    src, rate, fmt=fmts[v], n_channels=ch,
                    unsized_data=(d % 7 == 2), **kw[v],
                )
                meta = decode_media(blob, "audio")  # REAL CAF decode
                if meta["sample_width"] == 2:
                    pcm = np.frombuffer(meta["pcm"], "<i2")
                else:
                    pcm = np.frombuffer(meta["pcm"], np.uint8)
                if v in (0, 1, 2, 3):
                    expect = src
                elif v == 4:
                    expect = (
                        (src.astype(np.int16) >> 8).astype(np.int16) + 128
                    ).astype(np.uint8)
                elif v in (5, 6):
                    law = "ulaw" if v == 5 else "alaw"
                    expect = _g711_expand(_g711_compress(src, law), law)
                else:
                    _, expect = encode_ima4(src, n_channels=ch)
                exact = bool(np.array_equal(pcm, expect))
                floor = floors.get(v)
                if floor is None:
                    snr_ok = exact
                else:
                    skip = 64 * ch if v == 7 else 0
                    a = (
                        (pcm.astype(np.float64) - 128.0) * 256.0
                        if v == 4 else pcm.astype(np.float64)
                    )[skip:]
                    b = src.astype(np.float64)[skip:]
                    err = a - b
                    snr = 10.0 * np.log10(
                        max((b * b).mean(), 1e-12)
                        / max((err * err).mean(), 1e-12)
                    )
                    snr_ok = bool(snr >= floor)
                out["doc_id"].append(d)
                out["codec"].append(meta["codec"])
                out["n_samples"].append(meta["n_frames"])
                out["n_channels"].append(meta["n_channels"])
                out["sample_rate"].append(meta["frame_rate"])
                out["caf_bytes"].append(len(blob))
                out["pcm_exact"].append(exact)
                out["snr_ok"].append(snr_ok)
            yield pd.DataFrame(out)

    schema = (
        "doc_id long, codec string, n_samples long, n_channels long, "
        "sample_rate long, caf_bytes long, pcm_exact boolean, "
        "snr_ok boolean"
    )
    return docs.mapInPandas(run, schema)


@register(
    "y4m_decode_features",
    oracle="""
    WITH p AS (
        SELECT d.doc_id,
               CAST(d.doc_id % 6 AS INTEGER) AS v,
               2 + d.doc_id % 3 AS nf,
               8 + 2 * (d.doc_id % 4) AS w,
               6 + 2 * (d.doc_id % 3) AS h,
               CASE CAST(d.doc_id % 3 AS INTEGER)
                    WHEN 0 THEN 25 WHEN 1 THEN 30 ELSE 24 END AS fps
        FROM documents d
    ),
    px AS (
        SELECT p.doc_id, p.v, p.nf, p.w, p.h, p.fps,
               CASE WHEN p.v = 3 THEN
                   LEAST(255, GREATEST(0, ROUND(
                       ((19 * p.doc_id + 7 * g.r + 31 * g.c + 11 * g.t)
                        % 256 - 16) * 255.0 / 219.0)))
               ELSE (19 * p.doc_id + 7 * g.r + 31 * g.c + 11 * g.t) % 256
               END AS y
        FROM p,
             LATERAL (SELECT unnest(generate_series(0, p.nf - 1)) AS t) gt,
             LATERAL (SELECT unnest(generate_series(0, p.h - 1)) AS r) gr,
             LATERAL (SELECT unnest(generate_series(0, p.w - 1)) AS c) gc,
             LATERAL (SELECT gt.t AS t, gr.r AS r, gc.c AS c) g
    )
    SELECT doc_id,
           CASE v WHEN 0 THEN 'c444' WHEN 1 THEN 'c420jpeg'
                  WHEN 2 THEN 'cmono' WHEN 3 THEN 'c444_limited'
                  WHEN 4 THEN 'c420mpeg2' ELSE 'c420paldv'
           END AS variant,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST(nf AS BIGINT) AS n_frames,
           CAST(1000000 // fps AS BIGINT) AS usec_per_frame,
           CAST(CAST(SUM(y) AS BIGINT) // (nf * w * h) AS BIGINT)
               AS mean_px,
           TRUE AS chroma_ok
    FROM px GROUP BY doc_id, v, nf, w, h, fps ORDER BY doc_id
    """,
)
def y4m_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """YUV4MPEG2 under the differential gate (round 17): per doc a
    closed-form luma card over 2-4 frames is written through
    :func:`encode_y4m` cycling SIX variants — C444 / C420jpeg / Cmono
    full-range, C444 LIMITED-range (the Y4M convention without
    XCOLORRANGE=FULL), and (round-17 continuation) C420mpeg2 and
    C420paldv — neutral chroma (128 reconstructs to 128 under every
    siting filter), so the decoded gray channel is the exact Y and the
    oracle recomputes its mean closed-form across every frame.
    ``chroma_ok`` separately feeds one NON-neutral frame IN THE DOC'S
    OWN COLORSPACE through the decoder and checks it against an
    independent per-pixel in-kernel reference — the BT.601 matrix for
    the C444 variants, and matrix PLUS the co-sited half-pel
    H-then-V reconstruction (Cb even rows / Cr odd rows for paldv)
    for the 4:2:0 sitings — so neutral-chroma stats can't mask a
    matrix or siting slip. Frame geometry (count from the byte
    stream, usec per frame from the F rational) hashes against the
    closed form. Map-only mapInPandas with the standard explicit core
    fan-out."""
    import numpy as np

    def ref_upsample(plane, w, h, mode, comp):
        # independent per-pixel reference for the siting arithmetic
        # (scalar loops; the decoder is vectorized)
        p = plane.astype(np.int64)
        ch, cw = p.shape

        def hval(row, xx):
            j = xx // 2
            if xx % 2 == 0:
                return p[row, j]
            return (p[row, j] + p[row, min(j + 1, cw - 1)] + 1) // 2

        out = np.empty((h, w), np.int64)
        for yy in range(h):
            i = yy // 2
            for xx in range(w):
                if mode == "mpeg2":
                    out[yy, xx] = hval(i, xx)
                elif comp == "cb":
                    if yy % 2 == 0:
                        out[yy, xx] = hval(i, xx)
                    else:
                        out[yy, xx] = (
                            hval(i, xx) + hval(min(i + 1, ch - 1), xx) + 1
                        ) // 2
                else:
                    if yy % 2 == 1:
                        out[yy, xx] = hval(i, xx)
                    else:
                        out[yy, xx] = (
                            hval(max(i - 1, 0), xx) + hval(i, xx) + 1
                        ) // 2
        return out

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        names = ("c444", "c420jpeg", "cmono", "c444_limited",
                 "c420mpeg2", "c420paldv")
        for pdf in batches:
            out = {
                "doc_id": [], "variant": [], "width": [], "height": [],
                "n_frames": [], "usec_per_frame": [], "mean_px": [],
                "chroma_ok": [],
            }
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                v = d % 6
                nf = 2 + d % 3
                w, h = 8 + 2 * (d % 4), 6 + 2 * (d % 3)
                fps = (25, 30, 24)[d % 3]
                r = np.arange(h, dtype=np.int64).reshape(-1, 1)
                c = np.arange(w, dtype=np.int64)
                ys = [
                    ((19 * d + 7 * r + 31 * c + 11 * t) % 256).astype(
                        np.uint8
                    )
                    for t in range(nf)
                ]
                if v == 0 or v == 3:
                    neutral = np.full((h, w), 128, np.uint8)
                    frames = [(y, neutral, neutral) for y in ys]
                    cs, full = b"C444", v == 0
                elif v == 1 or v >= 4:
                    n2 = np.full((h // 2, w // 2), 128, np.uint8)
                    frames = [(y, n2, n2) for y in ys]
                    cs = (b"C420jpeg", b"C420mpeg2", b"C420paldv")[
                        0 if v == 1 else v - 3
                    ]
                    full = True
                else:
                    frames = [(y, None, None) for y in ys]
                    cs, full = b"Cmono", True
                blob = encode_y4m(
                    frames, frame_rate=(fps, 1), colorspace=cs,
                    full_range=full,
                )
                m = decode_media(blob, "video")  # REAL Y4M decode
                stride = (w * 3 + 3) // 4 * 4
                total = 0
                for f in m["frames"]:
                    a = np.frombuffer(f, np.uint8).reshape(h, stride)
                    total += int(a[:, 0 : w * 3 : 3].astype(np.int64).sum())
                # chroma leg: one colored frame in the doc's own
                # colorspace vs an independent reference computed here
                # from the same planes (per-pixel siting + BT.601)
                if v in (4, 5):
                    r2 = np.arange(h // 2, dtype=np.int64).reshape(-1, 1)
                    c2 = np.arange(w // 2, dtype=np.int64)
                    cb = ((r2 + 2 * c2 + d) % 256).astype(np.uint8)
                    cr = ((3 * r2 + c2 + d) % 256).astype(np.uint8)
                    mode = "mpeg2" if v == 4 else "paldv"
                    cbu = ref_upsample(cb, w, h, mode, "cb").astype(
                        np.float64
                    )
                    cru = ref_upsample(cr, w, h, mode, "cr").astype(
                        np.float64
                    )
                    ccs = b"C420mpeg2" if v == 4 else b"C420paldv"
                else:
                    cb = ((r + 2 * c + d) % 256).astype(np.uint8)
                    cr = ((3 * r + c + d) % 256).astype(np.uint8)
                    cbu = cb.astype(np.float64)
                    cru = cr.astype(np.float64)
                    ccs = b"C444"
                cblob = encode_y4m(
                    [(ys[0], cb, cr)], colorspace=ccs,
                    full_range=True,
                )
                cm = decode_media(cblob, "video")
                got = np.frombuffer(
                    cm["frames"][0], np.uint8
                ).reshape(h, stride)[:, : w * 3][::-1].reshape(h, w, 3)
                yf = ys[0].astype(np.float64)
                cbf = cbu - 128.0
                crf = cru - 128.0
                ref = np.clip(np.round(np.stack([
                    yf + 1.772 * cbf,
                    yf - 0.344136 * cbf - 0.714136 * crf,
                    yf + 1.402 * crf,
                ], axis=2)), 0, 255).astype(np.uint8)
                out["doc_id"].append(d)
                out["variant"].append(names[v])
                out["width"].append(m["width"])
                out["height"].append(m["height"])
                out["n_frames"].append(m["n_frames"])
                out["usec_per_frame"].append(m["usec_per_frame"])
                out["mean_px"].append(total // (nf * w * h))
                out["chroma_ok"].append(bool(np.array_equal(got, ref)))
            yield pd.DataFrame(out)

    schema = (
        "doc_id long, variant string, width long, height long, "
        "n_frames long, usec_per_frame long, mean_px long, "
        "chroma_ok boolean"
    )
    return docs.mapInPandas(run, schema)


@register(
    "audio_tags_features",
    oracle="""
    SELECT d.doc_id,
           CASE CAST(d.doc_id % 5 AS INTEGER)
                WHEN 0 THEN 'id3v24' WHEN 1 THEN 'id3v23_unsync'
                WHEN 2 THEN 'ogg' WHEN 3 THEN 'wav_info'
                ELSE 'id3v22_utf16' END AS source,
           'Tïtle-' || CAST(d.doc_id AS VARCHAR) AS title,
           'Ärtist-' || CAST(d.doc_id % 97 AS VARCHAR) AS artist,
           'Album-' || CAST(d.doc_id % 53 AS VARCHAR) AS album,
           CAST(1990 + d.doc_id % 30 AS VARCHAR) AS date_tag
    FROM documents d
    ORDER BY d.doc_id
    """,
)
def audio_tags_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Provenance-tag extraction under the differential gate (round
    17): per doc the SAME four normalized tags (non-ASCII title/artist
    on purpose) are carried by the doc's tag system — ID3v2.4 UTF-8
    frames, ID3v2.3 UTF-16 frames under whole-tag unsynchronization,
    an Ogg OpusTags comment packet (real pages, CRC'd), a RIFF
    LIST/INFO chunk appended to a real WAV, or an ID3v2.2 tag (3-char
    frame ids, 3-byte sizes, UTF-16 text) — and recovered through
    :func:`extract_audio_tags`. The ID3 variants carry the album ONLY
    in a trailing ID3v1 block, so the v2-with-v1-fallback merge is on
    the hash path, as are synchsafe sizes, text encodings 1/3, the
    0xFF 0x00 unsync reversal, Vorbis comment length framing, and INFO
    sub-chunk padding. The oracle rebuilds every string closed-form.
    Map-only mapInPandas with the standard explicit core fan-out."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        names = ("id3v24", "id3v23_unsync", "ogg", "wav_info",
                 "id3v22_utf16")
        for pdf in batches:
            out = {
                "doc_id": [], "source": [], "title": [], "artist": [],
                "album": [], "date_tag": [],
            }
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                v = d % 5
                tags = {
                    "title": f"Tïtle-{d}",
                    "artist": f"Ärtist-{d % 97}",
                    "album": f"Album-{d % 53}",
                    "date": str(1990 + d % 30),
                }
                if v in (0, 1, 4):
                    v2 = {k: tags[k] for k in ("title", "artist", "date")}
                    blob = encode_id3v2(
                        v2, version={0: 4, 1: 3, 4: 2}[v],
                        utf16=(v in (1, 4)), unsync=(v == 1),
                    ) + encode_id3v1({"album": tags["album"]})
                elif v == 2:
                    pk = [
                        make_opus_head(),
                        make_vorbis_comments(tags),
                        bytes(40),
                    ]
                    blob = encode_ogg(pk, [960], n_header_packets=2)
                else:
                    i = np.arange(64, dtype=np.int64)
                    wav = encode_wav(
                        ((7 * d + 11 * i) % 1001 - 500).astype(np.int16)
                    )
                    blob = encode_wav_info(wav, tags)
                got = extract_audio_tags(blob)  # REAL tag walk
                out["doc_id"].append(d)
                out["source"].append(names[v])
                out["title"].append(got.get("title"))
                out["artist"].append(got.get("artist"))
                out["album"].append(got.get("album"))
                out["date_tag"].append(got.get("date"))
            yield pd.DataFrame(out)

    schema = (
        "doc_id long, source string, title string, artist string, "
        "album string, date_tag string"
    )
    return docs.mapInPandas(run, schema)


@register(
    "jpeg_decode_features",
    oracle="""
    SELECT d.doc_id,
           CASE CAST(d.doc_id % 4 AS INTEGER)
                WHEN 0 THEN 'baseline_444' WHEN 1 THEN 'baseline_420_dri'
                WHEN 2 THEN 'progressive_444'
                ELSE 'progressive_420' END AS variant,
           (d.doc_id % 4 < 2 AND d.doc_id % 5 = 0) AS quant16,
           CAST(9 + d.doc_id % 8
                + CASE WHEN d.doc_id % 4 = 1 THEN 8 ELSE 0 END
                AS BIGINT) AS width,
           CAST(8 + d.doc_id % 5 AS BIGINT) AS height,
           CAST((9 + d.doc_id % 8
                 + CASE WHEN d.doc_id % 4 = 1 THEN 8 ELSE 0 END)
                * (8 + d.doc_id % 5) AS BIGINT) AS n_pixels,
           TRUE AS err_ok,
           TRUE AS prog_matches_baseline
    FROM documents d
    ORDER BY d.doc_id
    """,
)
def jpeg_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JPEG under the differential gate (round 15; until now the one
    codec whose evidence was pytest-only because its encoders lived in
    the test fixtures): per doc a closed-form neutral-chroma test card
    (equal RGB, so chroma subsampling costs no luma detail) is encoded
    baseline (SOF0) or progressive (SOF2), 4:4:4 or 4:2:0 — the 4:2:0
    baseline rows carry a DRI restart interval, and every fifth baseline
    doc writes its unit quant table at 16-bit Pq=1 precision (identical
    dequantization, exercising the r15 DQT branch) — then decoded
    through :func:`decode_media`'s full marker-walk/huffman/IDCT path.
    Fidelity gates ride the hash: ``err_ok`` bounds the decoded plane
    against the closed-form source (max abs error 2 at 4:4:4 flat
    quant=1; 6 at 4:2:0 where neutral chroma still wobbles one code
    value through BT.601), and ``prog_matches_baseline`` asserts the
    SOF2 decode is BYTE-IDENTICAL to the SOF0 decode of the same
    quantized coefficients (the Annex G invariant the pytest gate pins;
    lossy sample values themselves are not SQL-expressible — the mp3
    oracle precedent). Geometry hashes against the closed form.
    Map-only mapInPandas with the standard explicit core fan-out."""
    import numpy as np

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        variants = ("baseline_444", "baseline_420_dri",
                    "progressive_444", "progressive_420")
        for pdf in batches:
            out = {
                "doc_id": [], "variant": [], "quant16": [], "width": [],
                "height": [], "n_pixels": [], "err_ok": [],
                "prog_matches_baseline": [],
            }
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                v = d % 4
                # the DRI variant widens past one 16x16 MCU so restart
                # markers actually flow (ri=1 restarts at every MCU
                # boundary; a single-MCU card would never emit one)
                w = 9 + d % 8 + (8 if v == 1 else 0)
                h = 8 + d % 5
                r_idx = np.arange(h, dtype=np.int64).reshape(-1, 1)
                c_idx = np.arange(w, dtype=np.int64)
                gray = (7 * d + 5 * r_idx + 3 * c_idx) % 236 + 10
                rows = [[(int(gray[r, c]),) * 3 for c in range(w)]
                        for r in range(h)]
                sub = "444" if v % 2 == 0 else "420"
                q16 = v < 2 and d % 5 == 0
                base_blob = encode_jpeg(
                    rows_rgb=rows, quant=1, subsampling=sub,
                    restart_interval=1 if v == 1 else 0, quant16=q16,
                )
                if v < 2:
                    blob = base_blob
                else:
                    blob = encode_jpeg_progressive(
                        rows_rgb=rows, quant=1, subsampling=sub
                    )
                meta = decode_media(blob, "image")  # the REAL decode
                px = np.frombuffer(meta["pixels"], np.uint8).reshape(
                    meta["height"], meta["width"], 3
                )
                err = np.abs(px.astype(np.int64) - gray[:, :, None]).max()
                bound = 2 if sub == "444" else 6
                if v < 2:
                    prog_same = True  # vacuous for the baseline rows
                else:
                    base = decode_media(
                        encode_jpeg(rows_rgb=rows, quant=1, subsampling=sub),
                        "image",
                    )
                    prog_same = meta["pixels"] == base["pixels"]
                out["doc_id"].append(d)
                out["variant"].append(variants[v])
                out["quant16"].append(q16)
                out["width"].append(meta["width"])
                out["height"].append(meta["height"])
                out["n_pixels"].append(meta["n_pixels"])
                out["err_ok"].append(bool(err <= bound))
                out["prog_matches_baseline"].append(bool(prog_same))
            yield pd.DataFrame(out)

    schema = (
        "doc_id long, variant string, quant16 boolean, width long, "
        "height long, n_pixels long, err_ok boolean, "
        "prog_matches_baseline boolean"
    )
    return docs.mapInPandas(run, schema)


@register(
    "avi_audio_extract_features",
    oracle="""
    WITH samp AS (
        SELECT d.doc_id AS doc_id,
               CASE WHEN d.doc_id % 2 = 0 THEN
                   CASE WHEN (255 - ((13 * d.doc_id + 7 * s.i) % 256)) >= 128
                        THEN 132 - (((255 - ((13 * d.doc_id + 7 * s.i) % 256)) % 16) * 8 + 132)
                                 * (1 << (((255 - ((13 * d.doc_id + 7 * s.i) % 256)) // 16) % 8))
                        ELSE (((255 - ((13 * d.doc_id + 7 * s.i) % 256)) % 16) * 8 + 132)
                                 * (1 << (((255 - ((13 * d.doc_id + 7 * s.i) % 256)) // 16) % 8)) - 132
                   END
               ELSE (11 * d.doc_id + 5 * s.i) % 4001 - 2000
               END AS v
        FROM documents d,
             LATERAL (SELECT unnest(generate_series(
                 0, CAST(255 + (d.doc_id % 4) * 64 AS BIGINT))) AS i) s
    )
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'ulaw' ELSE 'pcm_s16le' END AS codec,
           CAST(8000 + (doc_id % 3) * 4000 AS BIGINT) AS sample_rate,
           CAST(256 + (doc_id % 4) * 64 AS BIGINT) AS n_samples,
           CAST(2 + doc_id % 3 AS BIGINT) AS n_video_frames,
           CAST(MAX(ABS(v)) AS BIGINT) AS peak,
           CAST(SUM(ABS(v)) AS BIGINT) AS sum_abs
    FROM samp
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def avi_audio_extract_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AVI AUDIO under the differential gate (round 15): per doc a tiny
    uncompressed-DIB video plus a closed-form audio track — G.711 mu-law
    codes sweeping the code space on even docs (the proven
    ``au_decode_features`` expansion closed form; companded-lattice
    samples roundtrip the compress/expand pair exactly), plain 16-bit
    PCM on odd docs — is packed into a REAL two-stream AVI and the audio
    pulled back through :func:`extract_avi_audio` (RIFF walk → 'auds'
    WAVEFORMATEX + '..wb' chunk reassembly → the WAV decode matrix).
    Decoded peak and sum-of-abs hash against the closed forms; the video
    stream's frame count rides along from the container probe, proving
    the two streams coexist without perturbing each other. Map-only
    mapInPandas with the standard explicit core fan-out."""
    import numpy as np

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            out = {
                "doc_id": [], "codec": [], "sample_rate": [],
                "n_samples": [], "n_video_frames": [], "peak": [],
                "sum_abs": [],
            }
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                n = 256 + (d % 4) * 64
                sr = 8000 + (d % 3) * 4000
                nf = 2 + d % 3
                i = np.arange(n, dtype=np.int64)
                frames = [
                    np.full((3, 4, 3), (d + 17 * f) % 256, np.uint8)
                    for f in range(nf)
                ]
                if d % 2 == 0:
                    codes = ((13 * d + 7 * i) % 256).astype(np.uint8)
                    src = _g711_expand(codes, "ulaw").astype(np.int16)
                    blob = encode_avi(frames, audio=src, audio_rate=sr,
                                      audio_format="ulaw")
                else:
                    src = ((11 * d + 5 * i) % 4001 - 2000).astype(np.int16)
                    blob = encode_avi(frames, audio=src, audio_rate=sr)
                meta = extract_avi_audio(blob)  # REAL container + decode
                pcm = np.frombuffer(meta["pcm"], "<i2").astype(np.int64)
                probe = _decode_avi(blob, probe=True)
                out["doc_id"].append(d)
                out["codec"].append(meta.get("codec", "pcm_s16le"))
                out["sample_rate"].append(meta["frame_rate"])
                out["n_samples"].append(meta["n_frames"])
                out["n_video_frames"].append(probe["n_frames"])
                out["peak"].append(int(np.abs(pcm).max()))
                out["sum_abs"].append(int(np.abs(pcm).sum()))
            yield pd.DataFrame(out)

    schema = (
        "doc_id long, codec string, sample_rate long, n_samples long, "
        "n_video_frames long, peak long, sum_abs long"
    )
    return docs.mapInPandas(run, schema)
