"""AIFF / AIFF-C and Apple CAF containers, including IMA4 ADPCM and the
80-bit extended sample-rate field.
"""

from __future__ import annotations

from input_data_pipeline_spark.codecs.g711 import _g711_compress, _g711_expand
from input_data_pipeline_spark.codecs.riff import _iff_chunk, _iff_chunks
from input_data_pipeline_spark.codecs.wav import (
    _ima_adpcm_decode_block,
    _IMA_INDEX_ADJ,
    _IMA_STEPS,
)


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
    if exp > 16383 + 63:  # 2**64 Hz or more: no rate, and may overflow
        raise ValueError(f"AIFF sample rate exponent {exp - 16383} out of range")
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


def _aiff_chunks(payload: bytes) -> tuple:
    """Walk a FORM AIFF / AIFC payload's chunks: ``(form, (n_channels,
    n_frames, sample_size, sample_rate), compression, ssnd)`` with the
    80-bit rate rounded to an int and ``ssnd`` the SSND sample bytes
    (None when the chunk is absent). Raises ``ValueError`` on a bad magic
    or form type, a truncated or undersized chunk, a missing COMM chunk,
    or zero channels / a non-positive rate."""
    import struct

    if len(payload) < 12 or payload[:4] != b"FORM":
        raise ValueError("not an AIFF payload (missing FORM magic)")
    form = payload[8:12]
    if form not in (b"AIFF", b"AIFC"):
        raise ValueError(f"FORM type {form!r} is not AIFF/AIFC")
    comm = None
    comp = b"NONE"
    ssnd = None
    for cid, body0, body1 in _iff_chunks(payload, 12, len(payload), ">"):
        size = body1 - body0
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
    if comm is None:
        raise ValueError("AIFF payload missing COMM chunk")
    ch, nframes, bits, rate = comm
    if ch < 1 or rate <= 0:
        raise ValueError("AIFF COMM channels/rate invalid")
    return form, (ch, nframes, bits, int(round(rate))), comp, ssnd


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
    import numpy as np

    _, (ch, nframes, bits, irate), comp, ssnd = _aiff_chunks(payload)
    if ssnd is None:
        raise ValueError("AIFF payload missing SSND chunk")
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
    body = form + _iff_chunk(b"COMM", commbody, ">") + _iff_chunk(
        b"SSND", struct.pack(">II", 0, 0) + data, ">"
    )
    return _iff_chunk(b"FORM", body, ">")


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
