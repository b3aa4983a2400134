"""Sun AU (.snd) audio container: the header parse shared by probe and
decode, every standard sample encoding, and the fixture encoder.
"""

from __future__ import annotations

from input_data_pipeline_spark.codecs.g711 import _g711_compress, _g711_expand
from input_data_pipeline_spark.codecs.g72x import (
    _g72x_pack,
    _g72x_unpack,
    g722_decode,
    g722_encode,
    g72x_decode,
    g72x_encode,
)


# ---------------------------------------------------------------------------
# Sun AU (.snd) audio container — round 13
# ---------------------------------------------------------------------------

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


def _au_header(payload: bytes) -> tuple:
    """Parse the AU header: ``(encoding, sample_rate, n_channels, data)``
    with ``data`` the sample bytes after the annotation field, cut to the
    declared size. Raises ``ValueError`` on a bad magic, a truncated
    header or data, a data offset inside the header, or zero channels."""
    import struct

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
    return enc, rate, n_ch, data


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
    import numpy as np

    enc, rate, n_ch, data = _au_header(payload)
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
