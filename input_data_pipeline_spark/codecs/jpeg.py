"""JPEG (ITU-T T.81): baseline, progressive, 12-bit, lossless and
hierarchical decode, with the matching fixture encoders.
"""

from __future__ import annotations


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


# ---------------------------------------------------------------------------
# The JPEG segment layer (T.81 Annex B), shared by every decoder and
# encoder here and in ``tiff``: one marker-segment reader and writer, one
# DQT and one DHT parser, one byte-stuffing entropy writer.
# ---------------------------------------------------------------------------

def _jpeg_segment(payload: bytes, pos: int) -> tuple[int, int, int]:
    """Read the marker segment at ``pos``: ``(marker, body_start,
    body_end)``, the next segment starting at ``body_end``. 0xFF fill
    bytes (B.1.1.2) and standalone RSTn markers are skipped; EOI, and
    the end of the payload where an EOI is missing, read as
    ``(0xD9, end, end)``. A length below 2 or a segment running past
    the payload raises ``ValueError("truncated JPEG segment")``. What
    follows an SOS segment (entropy data) is the caller's to walk."""
    n = len(payload)
    while pos + 2 <= n:
        if payload[pos] != 0xFF:
            raise ValueError(f"bad marker alignment at offset {pos}")
        marker = payload[pos + 1]
        if marker == 0xFF:
            pos += 1
        elif 0xD0 <= marker <= 0xD7:
            pos += 2
        elif marker == 0xD9:
            return marker, pos + 2, pos + 2
        else:
            seglen = int.from_bytes(payload[pos + 2: pos + 4], "big")
            if pos + 4 > n or seglen < 2 or pos + 2 + seglen > n:
                raise ValueError("truncated JPEG segment")
            return marker, pos + 4, pos + 2 + seglen
    return 0xD9, n, n


def _jpeg_dqt(body: bytes, qtabs: dict) -> None:
    """Parse a DQT segment body into ``qtabs``: ``{Tq: 8x8 int32 steps
    in row-major order}``. Pq=1 tables carry 16-bit big-endian steps
    (B.2.4.1; low-quality and high-dynamic-range encoders emit steps
    past 255)."""
    import numpy as np

    i = 0
    while i < len(body):
        pq, tq = body[i] >> 4, body[i] & 0xF
        if pq not in (0, 1):
            raise ValueError(f"bad JPEG DQT precision {pq}")
        step = 2 if pq else 1
        if i + 1 + 64 * step > len(body):
            raise ValueError("truncated JPEG DQT segment")
        q = np.zeros(64, dtype=np.int32)
        q[_JPEG_ZIGZAG] = np.frombuffer(
            body[i + 1: i + 1 + 64 * step], ">u2" if pq else np.uint8
        )
        qtabs[tq] = q.reshape(8, 8)
        i += 1 + 64 * step


def _jpeg_dht(body: bytes, htabs: dict) -> None:
    """Parse a DHT segment body into ``htabs``: ``{(Tc, Th): table}``,
    each the canonical Huffman code of its BITS/HUFFVAL arrays (Annex C)
    as ``{(code_length, code): symbol}``. Key ``-1`` holds a 256-entry
    peek-8 LUT: ``lut[next8bits]`` is ``(length << 8) | symbol`` for
    codes of at most 8 bits, -1 otherwise (the fast path of
    :func:`_jpeg_decode_sym`; integer keys never collide with the tuple
    keys). Raises ValueError when the BITS counts outrun the segment or
    a length holds more codes than its bits can spell."""
    i = 0
    while i < len(body):
        bits = body[i + 1: i + 17]
        nv = sum(bits)
        if len(bits) != 16 or i + 17 + nv > len(body):
            raise ValueError("truncated JPEG DHT segment")
        vals = body[i + 17: i + 17 + nv]
        table = {}
        lut = [-1] * 256
        code = 0
        k = 0
        for length in range(1, 17):
            if code + bits[length - 1] > 1 << length:
                raise ValueError("JPEG DHT code lengths overflow")
            for _ in range(bits[length - 1]):
                table[(length, code)] = vals[k]
                if length <= 8:
                    lo = code << (8 - length)
                    lut[lo: lo + (1 << (8 - length))] = [
                        (length << 8) | vals[k]
                    ] * (1 << (8 - length))
                code += 1
                k += 1
            code <<= 1
        table[-1] = lut
        htabs[(body[i] >> 4, body[i] & 0xF)] = table
        i += 17 + nv


def _jpeg_segment_bytes(marker: int, body: bytes) -> bytes:
    """One marker segment: 0xFF, the marker, the 16-bit length (which
    counts itself) and the body."""
    if len(body) > 0xFFFD:
        raise ValueError("JPEG segment body longer than 65533 bytes")
    return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body


def _jpeg_stuffed_bits(values, widths) -> bytes:
    """One restart interval of entropy-coded data (F.1.2.3, B.1.1.5):
    the low ``widths[i]`` bits of each ``values[i]``, MSB first (a zero
    width adds nothing), the last byte padded with 1-bits, and a 0x00
    stuffed after every 0xFF byte. All the bits go through one
    ``np.packbits``; ``tests/codec_reference.py`` keeps the bit-at-a-time
    form this must match."""
    import numpy as np

    if not len(widths):
        return b""
    v = np.asarray(values, dtype=np.int64)
    w = np.asarray(widths, dtype=np.int64)
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
    return arr.tobytes()


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
    import numpy as np

    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (missing SOI marker)")
    htabs: dict[tuple[int, int], dict] = {}
    sof = None
    pos = 2
    while True:
        marker, body0, pos = _jpeg_segment(payload, pos)
        if marker == 0xD9:
            break
        body = payload[body0:pos]
        if marker == 0xDB:  # unused by lossless, but a bad one is bad here too
            _jpeg_dqt(body, {})
        elif marker == 0xC4:
            _jpeg_dht(body, htabs)
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
            scan = _jpeg_sos_selectors(body, comps)
            ns = len(scan)
            if ns != len(comps):
                raise ValueError(
                    "lossless JPEG scan must cover every frame component"
                )
            tds = {cs: td for cs, (td, _ta) in scan.items()}
            ss = body[1 + 2 * ns]      # predictor selection 1-7
            al = body[3 + 2 * ns] & 0xF  # point transform
            if not 1 <= ss <= 7:
                raise ValueError(f"lossless JPEG predictor {ss} invalid")
            if al >= prec:
                raise ValueError("point transform exceeds precision")
            nc = len(comps)
            default = 1 << (prec - al - 1)
            # each sample costs at least one Huffman bit: refuse a frame
            # the entropy data cannot fill before allocating its raster
            if h * w * nc > 8 * (len(payload) - pos):
                raise ValueError("lossless JPEG frame exceeds its scan data")
            r = _JpegBitReader(payload, pos)
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

    toks = []  # (component, SSSS, extra bits, their width) in MCU order
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
                toks.append((ci, *mag(int(coded[y, x, ci]) - px)))
    tabs = [
        _jpeg_canonical_tables({t for c, t, _, _ in toks if c == ci} or {0})
        for ci in range(nc)
    ]
    vals, widths = [], []
    for ci, t, bv, nb in toks:
        L, code = tabs[ci][2][t]
        vals += (code, bv)
        widths += (L, nb)

    sofb = struct.pack(">BHHB", precision, h, w, nc)
    for ci in range(nc):
        sofb += bytes([ci + 1, 0x11, 0])
    hdr = b"\xff\xd8" + _jpeg_segment_bytes(0xC3, sofb)
    for ci in range(nc):
        bits, vals_ci, _enc = tabs[ci]
        hdr += _jpeg_segment_bytes(0xC4, bytes([ci]) + bytes(bits) + vals_ci)
    sos = bytes([nc])
    for ci in range(nc):
        sos += bytes([ci + 1, ci << 4])
    sos += bytes([predictor, 0, point_transform])
    hdr += _jpeg_segment_bytes(0xDA, sos)
    return hdr + _jpeg_stuffed_bits(vals, widths) + b"\xff\xd9"


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

    SOF3 lossless and DHP-led hierarchical streams hand over to
    :func:`_decode_jpeg_lossless` and :func:`_decode_jpeg_hierarchical`.
    Out of scope, rejected by name: arithmetic coding — at that point a
    real libjpeg belongs behind the per-executor singleton codec seam
    (U2). Only the per-symbol huffman loop is per-bit Python; everything
    after the coefficient tensor is numpy.
    """
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
    while True:
        marker, body0, pos = _jpeg_segment(payload, pos)
        if marker == 0xD9:
            break
        body = payload[body0:pos]
        if marker == 0xDB:
            _jpeg_dqt(body, qtabs)
        elif marker == 0xC4:
            _jpeg_dht(body, htabs)
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
            width, height, comps, prec = sof
            by_id = {c["id"]: c for c in comps}
            scan = _jpeg_sos_selectors(body, by_id)
            ns = len(scan)
            scan_comps = []
            for cid, (td, ta) in scan.items():
                c = by_id[cid]
                c["td"], c["ta"] = td, ta
                if c["tq"] not in qtabs:
                    raise ValueError("JPEG component references undefined DQT table")
                scan_comps.append(c)
            if not progressive:
                if ns != len(comps):
                    raise ValueError("JPEG scan must cover all frame components")
                return _jpeg_scan(
                    payload, pos, width, height, comps, qtabs, htabs,
                    restart_interval, prec,
                )
            ss, se = body[1 + 2 * ns], body[2 + 2 * ns]
            ah, al = body[3 + 2 * ns] >> 4, body[3 + 2 * ns] & 0xF
            if prog_state is None:
                prog_state = _jpeg_progressive_init(
                    payload, pos, width, height, comps, qtabs
                )
                prog_state["prec"] = prec
            pos = _jpeg_progressive_scan(
                prog_state, pos, scan_comps, ss, se, ah, al, htabs,
                restart_interval,
            )
        # APPn / COM / unknown: skipped
    if prog_state is not None:  # after EOI, or a missing one
        return _jpeg_finish(prog_state)
    raise ValueError("no JPEG scan (SOS) found")


def _jpeg_sos_selectors(body: bytes, comp_ids) -> dict[int, tuple[int, int]]:
    """An SOS header's component selectors, ``{id: (Td, Ta)}`` in scan
    order. Raises ValueError for a truncated segment, an empty or
    duplicated list, or an id the frame (``comp_ids``) does not declare;
    which components a scan must cover is the caller's rule."""
    if not body or len(body) < 4 + 2 * body[0]:
        raise ValueError("truncated JPEG SOS segment")
    scan = {}
    for s in range(body[0]):
        cs, tables = body[1 + 2 * s], body[2 + 2 * s]
        if cs in scan:
            raise ValueError("JPEG scan component list duplicated")
        if cs not in comp_ids:
            raise ValueError(f"scan names unknown component {cs}")
        scan[cs] = (tables >> 4, tables & 0xF)
    if not scan:
        raise ValueError("JPEG scan component list empty")
    return scan


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
    tabs = [(htabs.get((0, c["td"])), htabs.get((1, c["ta"]))) for c in comps]
    if any(None in t for t in tabs):
        raise ValueError("JPEG scan references undefined huffman table")
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
                dc_tab, ac_tab = tabs[ci]
                gx = grids[ci][0]
                for v in range(c["vc"]):
                    for hh in range(c["hc"]):
                        t = _jpeg_decode_sym(r, dc_tab)
                        if t > 16:
                            raise ValueError(f"JPEG DC category {t} invalid")
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
    """Shared back half of baseline and progressive decode: the planes
    of :func:`_jpeg_planes`, then :func:`_jpeg_bgr`."""
    return _jpeg_bgr(_jpeg_planes(state), state["width"], state["height"])


def _jpeg_planes(state: dict, differential: bool = False) -> list:
    """Dequant + IDCT over a scan state's coefficient grids, one frame-
    size float plane per component: level shift by 2^(P-1) except in a
    differential hierarchical frame (its samples are differences, T.81
    A.3.1), 12-bit planes rescaled onto the 8-bit range, and
    subsampled components upsampled."""
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
        spatial = np.einsum("ki,nkl,lj->nij", m8, deq, m8)
        if not differential:
            spatial += float(1 << (prec - 1))
        # 12-bit planes (round 17, SOF1/SOF2) rescale to the uniform
        # 8-bit BGR contract — the chroma center 2048/16 lands back on
        # 128, so the BT.601 step is unchanged
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
    return planes


def _jpeg_bgr(planes: list, width: int, height: int) -> dict:
    """The image contract from decoded component planes: grayscale
    replicated into all three channels, or BT.601 YCbCr to BGR."""
    import numpy as np

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
    while True:
        marker, body0, pos = _jpeg_segment(payload, pos)
        if marker == 0xD9:
            break
        body = payload[body0:pos]
        if marker == 0xDB:
            _jpeg_dqt(body, qtabs)
        elif marker == 0xC4:
            _jpeg_dht(body, htabs)
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
            ids = [_jpeg_unpack(">B", body, 6 + 3 * c, "DHP")[0] for c in range(nc)]
            dhp = (w, h, ids)
        elif marker == 0xDF:  # EXP: expand references before next frame
            if refs is None:
                raise ValueError("JPEG EXP before any reference frame")
            (e,) = _jpeg_unpack(">B", body, 0, "EXP")
            eh, ev = e >> 4, e & 0xF
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
            scan = _jpeg_sos_selectors(body, [c["id"] for c in comps])
            if len(scan) != len(comps):
                raise NotImplementedError(
                    "hierarchical scope is one interleaved scan per "
                    "frame"
                )
            for c in comps:
                c["td"], c["ta"] = scan[c["id"]]
                if c["tq"] not in qtabs:
                    raise ValueError(
                        "JPEG component references undefined DQT table"
                    )
            state = _jpeg_scan(
                payload, pos, w, h, comps, qtabs, htabs,
                restart_interval, finish=False,
                dc_predict=not differential,
            )
            planes = _jpeg_planes(state, differential)
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
            pos = _jpeg_next_marker(payload, pos)
    if refs is None or dhp is None:
        raise ValueError("hierarchical JPEG produced no image")
    w, h, _ids = dhp
    if any(r.shape != (h, w) for r in refs):
        raise ValueError(
            "hierarchical references do not reach the DHP dimensions"
        )
    return _jpeg_bgr(refs, w, h)


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
        seg_v, seg_w = [], []
        for ci, toks in stream:
            for kind, sym, bv, nb in toks:
                L, code = (
                    dc_tabs if kind == "dc" else ac_tabs
                )[dest[ci]][2][sym]
                seg_v += (code, bv)
                seg_w += (L, nb)

        segs = b""
        for t in range(n_dest):
            for tc, (bits, vals, _) in ((0, dc_tabs[t]),
                                        (1, ac_tabs[t])):
                segs += _jpeg_segment_bytes(
                    0xC4, bytes([(tc << 4) | t]) + bytes(bits) + vals
                )
        sof = struct.pack(">BHHB", 8, fh, fw, ncomp)
        for ci in range(ncomp):
            sof += bytes([ci + 1, 0x11, 0])
        segs += _jpeg_segment_bytes(0xC5 if differential else 0xC0, sof)
        sos = bytes([ncomp])
        for ci in range(ncomp):
            sos += bytes([ci + 1, (dest[ci] << 4) | dest[ci]])
        sos += b"\x00\x3f\x00"
        segs += _jpeg_segment_bytes(0xDA, sos)
        return segs + _jpeg_stuffed_bits(seg_v, seg_w), recon

    out = bytearray(b"\xff\xd8")
    zz_q = bytes(int(qtab.reshape(-1)[z]) for z in _JPEG_ZIGZAG)
    out += _jpeg_segment_bytes(0xDB, bytes([0x00]) + zz_q)
    dhp = struct.pack(">BHHB", 8, h, w, ncomp)
    for ci in range(ncomp):
        dhp += bytes([ci + 1, 0x11, 0])
    out += _jpeg_segment_bytes(0xDE, dhp)
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
            out += _jpeg_segment_bytes(0xDF, bytes([(eh << 4) | ev]))
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

    # pass 2: the entropy stream, one stuffed writer call per restart
    # interval
    out = bytearray()
    seg_v: list = []
    seg_w: list = []
    for item in stream:
        if item[0] == "rst":
            out += _jpeg_stuffed_bits(seg_v, seg_w)
            out += bytes([0xFF, 0xD0 + item[1]])
            seg_v, seg_w = [], []
            continue
        _, ci, toks = item
        for kind, sym, bv, nb in toks:
            enc = (dc_tabs if kind == "dc" else ac_tabs)[dest[ci]][2]
            L, code = enc[sym]
            seg_v += (code, bv)
            seg_w += (L, nb)
    out += _jpeg_stuffed_bits(seg_v, seg_w)

    hdr = b"\xff\xd8"
    hdr += _jpeg_segment_bytes(
        0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    )
    if quant16:  # Pq=1: 16-bit big-endian table entries (T.81 B.2.4.1)
        zz_q = b"".join(
            struct.pack(">H", int(qtab.reshape(-1)[z])) for z in _JPEG_ZIGZAG
        )
        hdr += _jpeg_segment_bytes(0xDB, bytes([0x10]) + zz_q)
    else:
        zz_q = bytes(int(qtab.reshape(-1)[z]) for z in _JPEG_ZIGZAG)
        hdr += _jpeg_segment_bytes(0xDB, bytes([0x00]) + zz_q)
    sof = struct.pack(">BHHB", precision, height, width, ncomp)
    for ci, (hc, vc) in enumerate(facs):
        sof += bytes([ci + 1, (hc << 4) | vc, 0])
    hdr += _jpeg_segment_bytes(0xC0 if precision == 8 else 0xC1, sof)
    for t in range(n_dest):
        for tc, (bits, vals, _) in ((0, dc_tabs[t]), (1, ac_tabs[t])):
            hdr += _jpeg_segment_bytes(
                0xC4, bytes([(tc << 4) | t]) + bytes(bits) + vals
            )
    if restart_interval:
        hdr += _jpeg_segment_bytes(0xDD, struct.pack(">H", restart_interval))
    sos = bytes([ncomp])
    for ci in range(ncomp):
        sos += bytes([ci + 1, (dest[ci] << 4) | dest[ci]])
    sos += b"\x00\x3f\x00"
    hdr += _jpeg_segment_bytes(0xDA, sos)
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

    out = bytearray(b"\xff\xd8")
    out += _jpeg_segment_bytes(
        0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    )
    zz_q = bytes(int(qtab.reshape(-1)[z]) for z in zz)
    out += _jpeg_segment_bytes(0xDB, bytes([0x00]) + zz_q)
    sof = struct.pack(">BHHB", 8, height, width, ncomp)
    for ci, (hc, vc) in enumerate(facs):
        sof += bytes([ci + 1, (hc << 4) | vc, 0])
    out += _jpeg_segment_bytes(0xC2, sof)  # SOF2: progressive
    if restart_interval:
        out += _jpeg_segment_bytes(0xDD, struct.pack(">H", restart_interval))

    for scan_cis, ss, se, ah, al, toks in scans:
        # per-scan canonical tables over the symbols actually emitted
        syms = {}
        for tok in toks:
            if tok[0] == "sym":
                syms.setdefault(tok[1], set()).add(tok[2])
        encs = {}
        for (tc, ci), ss_set in syms.items():
            bits, vals, enc = _jpeg_canonical_tables(ss_set)
            out += _jpeg_segment_bytes(
                0xC4, bytes([(tc << 4) | ci]) + bytes(bits) + vals
            )
            encs[(tc, ci)] = enc
        sos = bytes([len(scan_cis)])
        for ci in scan_cis:
            sos += bytes([ci + 1, (ci << 4) | ci])
        sos += bytes([ss, se, (ah << 4) | al])
        out += _jpeg_segment_bytes(0xDA, sos)
        # entropy data, one stuffed writer call per restart interval
        seg_v, seg_w = [], []
        for tok in toks:
            if tok[0] == "rst":
                out += _jpeg_stuffed_bits(seg_v, seg_w)
                out += bytes([0xFF, 0xD0 + tok[1]])
                seg_v, seg_w = [], []
            elif tok[0] == "sym":
                L, code = encs[tok[1]][tok[2]]
                seg_v.append(code)
                seg_w.append(L)
            else:
                seg_v.append(tok[1])
                seg_w.append(tok[2])
        out += _jpeg_stuffed_bits(seg_v, seg_w)
    out += b"\xff\xd9"
    return bytes(out)
