"""RIFF WAVE: the chunk walk (including WAVE_FORMAT_EXTENSIBLE and RF64),
IMA and MS ADPCM, and the MP3-in-WAV stream metadata, with the fixture
encoders.
"""

from __future__ import annotations

from input_data_pipeline_spark.codecs.mpeg import (
    decode_mp3_to_pcm,
    decode_mpeg1_layer1,
    decode_mpeg1_layer2,
)


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
