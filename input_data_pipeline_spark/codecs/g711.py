"""G.711 mu-law / A-law companding: expansion to 16-bit PCM and its
inverse.
"""

from __future__ import annotations


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
