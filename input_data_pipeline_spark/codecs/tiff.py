"""TIFF: the IFD walk with uncompressed, PackBits, LZW, CCITT fax and
JPEG (old- and new-style) strips, plus the fixture encoders.
"""

from __future__ import annotations

from input_data_pipeline_spark.codecs.bits import _BitReader, _BitWriter
from input_data_pipeline_spark.codecs.fax import (
    _g3_decode,
    _g4_decode,
    _mh_decode,
    g3_encode,
    g4_encode,
    mh_encode,
)
from input_data_pipeline_spark.codecs.jpeg import _decode_jpeg, encode_jpeg


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
