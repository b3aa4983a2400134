"""CCITT fax coding (ITU-T T.4 Modified Huffman, T.4 2D and T.6 / Group 4)
for bilevel TIFF strips.
"""

from __future__ import annotations


# ---------------------------------------------------------------------------
# TIFF CCITT Group 4 (ITU-T T.6 / MMR) — round 14: the scanned-document
# corpus format. Pure 2D coding: every row is coded against the row above
# (an imaginary all-white row first) with pass/vertical/horizontal modes;
# horizontal mode falls back to the T.4 run-length alphabets.
#
# DATA STANCE: the T.4 white/black terminating + makeup code tables below
# are reproduced from the public ITU-T T.4 standard (the same tables every
# public fax implementation embeds). A test self-checks them for
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
