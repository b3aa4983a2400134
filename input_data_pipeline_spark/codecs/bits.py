"""MSB-first bit reader and writer shared by the FLAC, MPEG audio
(Layers I-III) and TIFF LZW codecs.
"""

from __future__ import annotations


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
