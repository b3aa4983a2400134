"""Ogg (RFC 3533) page framing and the Vorbis I codec: probe, setup and
audio-packet decode, and the fixture encoder.
"""

from __future__ import annotations


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
        if pos + 27 > len(payload):
            raise ValueError("truncated Ogg page header")
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
        if pos + 27 > len(payload):
            raise ValueError("truncated Ogg page header")
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
