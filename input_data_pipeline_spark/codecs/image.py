"""Still-image codecs: BMP, PNG, GIF, netpbm (PBM/PGM/PPM/PAM) and TGA.

Each decoder returns the uniform raster contract ``width, height,
bit_count, n_pixels, pixels`` (``pixels`` a top-down BGR(A) byte plane);
each encoder is the fixture inverse of its decoder.
"""

from __future__ import annotations


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
