"""Reference code the codec tests compare against, kept out of the package.

- The G.72x spec-block composition (``_g72x_encode_ref`` /
  ``_g72x_decode_ref``) and the G.722 block-4 reference
  (``_g722_block4_ref``), which the inlined production loops must match
  bit for bit.
- ``encode_ima_wav``, the IMA ADPCM WAV fixture encoder.
- The structural self-checks of the embedded spec tables. Each raises
  ``AssertionError`` naming the broken invariant; tests run them against
  the shipped tables and against deliberately corrupted copies.
"""

from __future__ import annotations

from input_data_pipeline_spark.codecs.fax import (
    _G4_MODES,
    _T4_BLACK,
    _T4_EXT,
    _T4_WHITE,
)
from input_data_pipeline_spark.codecs.g72x import (
    _G722_ILB,
    _G722_QM2,
    _G722_QM4,
    _G722_QM5,
    _G722_QM6,
    _G722_QMF,
    _G722_RL42,
    _g722_sat,
    _G722_WL,
    _G722Band,
    _G72X_LAWS,
)
from input_data_pipeline_spark.codecs.mpeg import (
    _MP2_ALLOC_TABLES,
    _MP2_QC,
    _MP3_LSF_NSFB,
    _MP3_LSF_RATES,
    _MP3_SFB_LONG,
    _MP3_SFB_SHORT,
)
from input_data_pipeline_spark.codecs.wav import (
    _IMA_INDEX_ADJ,
    _IMA_STEPS,
    _MS_ADPCM_ADAPT,
    _MS_ADPCM_COEFS,
    _WAVE_FORMAT_IMA_ADPCM,
)


def encode_ima_wav(
    samples, n_channels: int = 1, frames_per_block: int = 505,
    frame_rate: int = 8000, n_frames: int | None = None,
) -> bytes:
    """Encode interleaved int16 PCM as a REAL IMA-ADPCM WAV — the exact
    inverse of :func:`_decode_ima_adpcm`'s arm (mono low-nibble-first
    stream; stereo 4-byte channel-word interleave). Each block's header
    carries its first frame verbatim plus the carried step index, and
    the quantizer advances through the DECODER's own expansion so any
    conforming decoder reproduces the returned stream exactly. Frame
    count must be a multiple of ``frames_per_block``; the block's
    nibble payload must pack into whole bytes (mono) or whole 4-byte
    words (stereo): frames_per_block of the form 8k+1 works for both."""
    import struct

    import numpy as np

    ch = n_channels
    pcm = np.asarray(samples, dtype=np.int16).reshape(-1, ch)
    fpb = frames_per_block
    if (fpb - 1) % (2 if ch == 1 else 8):
        raise ValueError("frames_per_block must pack whole nibble words")
    if len(pcm) % fpb:
        raise ValueError("sample count must be a multiple of frames_per_block")
    block_align = 4 * ch + (fpb - 1) * ch // 2
    out = bytearray()
    index = [0] * ch
    for b0 in range(0, len(pcm), fpb):
        nib = [[] for _ in range(ch)]
        for c in range(ch):
            pred = int(pcm[b0, c])
            out += struct.pack("<hBB", pred, index[c], 0)
            for t in range(1, fpb):
                s = int(pcm[b0 + t, c])
                step = _IMA_STEPS[index[c]]
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
                d = step >> 3
                if n & 1:
                    d += step >> 2
                if n & 2:
                    d += step >> 1
                if n & 4:
                    d += step
                pred = pred - d if n & 8 else pred + d
                pred = max(-32768, min(32767, pred))
                index[c] = max(
                    0, min(88, index[c] + _IMA_INDEX_ADJ[n & 0x07])
                )
                nib[c].append(n)
        if ch == 1:
            out += bytes(
                nib[0][i] | (nib[0][i + 1] << 4)
                for i in range(0, len(nib[0]), 2)
            )
        else:
            for w0 in range(0, len(nib[0]), 8):
                for c in range(2):
                    grp = nib[c][w0 : w0 + 8]
                    out += bytes(
                        grp[i] | (grp[i + 1] << 4) for i in range(0, 8, 2)
                    )
    data = bytes(out)
    fmt = struct.pack(
        "<HHIIHHHH", _WAVE_FORMAT_IMA_ADPCM, ch, frame_rate,
        frame_rate * block_align // fpb, block_align, 4, 2, fpb,
    )
    fact = struct.pack("<I", n_frames if n_frames is not None
                       else len(pcm))
    body = (
        b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"fact" + struct.pack("<I", len(fact)) + fact
        + b"data" + struct.pack("<I", len(data)) + data
        + (b"\x00" if len(data) & 1 else b"")
    )
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body


def _ms_adpcm_check_tables() -> None:
    a = _MS_ADPCM_ADAPT
    if len(a) != 16 or len(_MS_ADPCM_COEFS) != 7:
        raise AssertionError("MS ADPCM table sizes")
    if any(a[16 - k] != a[k] for k in range(1, 8)):
        raise AssertionError("MS ADPCM adaptation table is not sign-mirror")
    if any(a[k + 1] < a[k] for k in range(8)):
        raise AssertionError("MS ADPCM adaptation not monotone in magnitude")
    if not (min(a) < 256 < max(a)):
        raise AssertionError("MS ADPCM adaptation must straddle unity")
    if (256, 0) not in _MS_ADPCM_COEFS:
        raise AssertionError("MS ADPCM identity predictor missing")
    for a1, a2 in _MS_ADPCM_COEFS:
        if abs(a2) > 256 or a1 + a2 > 256 or a2 - a1 > 256:
            raise AssertionError(
                f"MS ADPCM predictor ({a1},{a2}) outside the stability "
                "triangle"
            )


def _mp3_check_band_tables() -> None:
    """Structural validation of the Table B.8 profiles.
    MPEG-1 rates: first six long / four short widths are 4 and widths
    never decrease before the final band. LSF rates: the first six
    long / three short widths are mutually equal and widths are
    non-decreasing through the mid-table only (indices < 16 long / < 9
    short) — the LSF profiles legitimately shrink in the tail."""
    for rate, tab in _MP3_SFB_LONG.items():
        lsf = rate in _MP3_LSF_RATES
        if len(tab) != 23 or tab[0] != 0 or tab[-1] != 576:
            raise AssertionError(f"MP3 long bands {rate}: bad frame")
        w = [tab[i + 1] - tab[i] for i in range(22)]
        if any(x <= 0 for x in w):
            raise AssertionError(f"MP3 long bands {rate}: bad widths")
        if lsf:
            if len(set(w[:6])) != 1 or any(
                w[i + 1] < w[i] for i in range(15)
            ):
                raise AssertionError(f"MP3 long bands {rate}: bad widths")
        elif any(x != 4 for x in w[:6]) or any(
            w[i + 1] < w[i] for i in range(20)
        ):
            raise AssertionError(f"MP3 long bands {rate}: bad widths")
    for rate, tab in _MP3_SFB_SHORT.items():
        lsf = rate in _MP3_LSF_RATES
        if len(tab) != 14 or tab[0] != 0 or tab[-1] != 192:
            raise AssertionError(f"MP3 short bands {rate}: bad frame")
        w = [tab[i + 1] - tab[i] for i in range(13)]
        if any(x <= 0 for x in w):
            raise AssertionError(f"MP3 short bands {rate}: bad widths")
        if lsf:
            if len(set(w[:3])) != 1 or any(
                w[i + 1] < w[i] for i in range(8)
            ):
                raise AssertionError(f"MP3 short bands {rate}: bad widths")
        elif any(x != 4 for x in w[:4]) or any(
            w[i + 1] < w[i] for i in range(11)
        ):
            raise AssertionError(f"MP3 short bands {rate}: bad widths")


def _check_lsf_nsfb() -> None:
    for row in _MP3_LSF_NSFB:
        for shape, total in zip(row, (21, 36, 33)):
            if sum(shape) != total or any(n < 0 for n in shape):
                raise AssertionError(
                    f"LSF nsfb row {shape} does not sum to {total}"
                )


def _validate_mp2_alloc_tables() -> None:
    for key, tab in _MP2_ALLOC_TABLES.items():
        for row in tab:
            nbal = len(row).bit_length()
            if len(row) + 1 != (1 << nbal):
                raise AssertionError(
                    f"B.2{key} row does not fill its nbal space"
                )
            lev = [_MP2_QC[i][0] for i in row]
            if lev[0] != 3 or any(
                a >= b for a, b in zip(lev, lev[1:])
            ):
                raise AssertionError(
                    f"B.2{key} row not strictly increasing from 3 levels"
                )


def _t4_check_prefix_free() -> None:
    """Self-check: each run-length alphabet (terminating +
    makeup + shared extension) and the 2D mode code set are prefix-free."""
    for name, table in (
        ("white", {**_T4_WHITE, **_T4_EXT}),
        ("black", {**_T4_BLACK, **_T4_EXT}),
        ("modes", _G4_MODES),
    ):
        codes = sorted(table.values(), key=len)
        for a_i, a in enumerate(codes):
            for b in codes[a_i + 1:]:
                if b.startswith(a):
                    raise AssertionError(f"T.4 {name} alphabet not prefix-free: {a} < {b}")


def _g72x_check_tables() -> None:
    """Structural validation of the G.72x quantizer tables (see the data
    stance in ``codecs/g72x.py``)."""
    for law, (bits, qtab, dqln, wi, fi) in _G72X_LAWS.items():
        n = 1 << bits
        size = len(qtab)
        if len(dqln) != n or len(wi) != n or len(fi) != n:
            raise AssertionError(f"{law}: table sizes disagree with {bits} bits")
        if size != (n // 2) - 1:
            raise AssertionError(f"{law}: qtab size {size} != 2^(bits-1)-1")
        if list(qtab) != sorted(set(qtab)):
            raise AssertionError(f"{law}: decision levels not increasing")
        for i in range(n // 2):
            if dqln[i] != dqln[n - 1 - i] or wi[i] != wi[n - 1 - i] \
                    or fi[i] != fi[n - 1 - i]:
                raise AssertionError(f"{law}: tables not mirror-symmetric")
        if dqln[0] != -2048 or dqln[n - 1] != -2048:
            raise AssertionError(f"{law}: missing zero-magnitude sentinel")
        # each positive-half output level sits strictly inside its
        # decision interval (the defining property of a quantizer)
        for i in range(1, n // 2):
            lo = qtab[i - 1]
            hi = qtab[i] if i < size else None
            if dqln[i] <= lo or (hi is not None and dqln[i] >= hi):
                raise AssertionError(
                    f"{law}: output level {i} outside its decision interval"
                )
        pos_wi, pos_fi = wi[: n // 2], fi[: n // 2]
        if list(pos_wi) != sorted(pos_wi) or list(pos_fi) != sorted(pos_fi):
            raise AssertionError(f"{law}: W(I)/F(I) not nondecreasing in |I|")


class _G72xState:
    """Predictor/quantizer state (G.726 §4): locked+unlocked scale
    factors, speed control, 2 poles, 6 zeros, signal history in the
    spec's 4-bit-exponent/6-bit-mantissa floating format."""

    __slots__ = ("yl", "yu", "dms", "dml", "ap",
                 "a", "b", "pk", "dq", "sr", "td")

    def __init__(self) -> None:
        self.yl = 34816
        self.yu = 544
        self.dms = 0
        self.dml = 0
        self.ap = 0
        self.a = [0, 0]
        self.b = [0] * 6
        self.pk = [0, 0]
        self.dq = [32] * 6
        self.sr = [32, 32]
        self.td = 0


def _g72x_quan(val: int, table) -> int:
    for i, t in enumerate(table):
        if val < t:
            return i
    return len(table)


def _g72x_fmult(an: int, srn: int) -> int:
    """Fixed-point multiply of a predictor coefficient by a signal value
    stored in the spec's sign/exponent/mantissa floating format.
    int.bit_length() IS _g72x_quan(v, (1, 2, 4, ..., 16384)) on the 0..32767
    domain every caller is bounded to (round-16 hot-path swap, verified
    bit-exact by the tracking gates)."""
    anmag = an if an > 0 else (-an) & 0x1FFF
    anexp = anmag.bit_length() - 6
    if anmag == 0:
        anmant = 32
    elif anexp >= 0:
        anmant = anmag >> anexp
    else:
        anmant = anmag << -anexp
    wanexp = anexp + ((srn >> 6) & 0xF) - 13
    wanmant = (anmant * (srn & 0o77) + 0x30) >> 4
    if wanexp >= 0:
        retval = (wanmant << wanexp) & 0x7FFF
    else:
        retval = wanmant >> -wanexp
    return -retval if (an ^ srn) < 0 else retval


def _g72x_predictor_zero(st: _G72xState) -> int:
    # FMULT sum over the six zero taps, unrolled (round 17): same
    # integer terms in the same order, without generator/sum frames on
    # the per-sample hot path
    b = st.b
    dq = st.dq
    f = _g72x_fmult
    return (
        f(b[0] >> 2, dq[0]) + f(b[1] >> 2, dq[1]) + f(b[2] >> 2, dq[2])
        + f(b[3] >> 2, dq[3]) + f(b[4] >> 2, dq[4]) + f(b[5] >> 2, dq[5])
    )


def _g72x_predictor_pole(st: _G72xState) -> int:
    return (_g72x_fmult(st.a[1] >> 2, st.sr[1])
            + _g72x_fmult(st.a[0] >> 2, st.sr[0]))


def _g72x_step_size(st: _G72xState) -> int:
    """Blend the unlocked (fast) and locked (slow) scale factors by the
    adaptation speed ap (G.726 §4.2.4 MIX)."""
    if st.ap >= 256:
        return st.yu
    y = st.yl >> 6
    dif = st.yu - y
    al = st.ap >> 2
    if dif > 0:
        y += (dif * al) >> 6
    elif dif < 0:
        y += (dif * al + 0x3F) >> 6
    return y


def _g72x_quantize(d: int, y: int, qtab) -> int:
    """Quantize the prediction difference in the log2 domain scaled by
    y (G.726 §4.2.3 LOG/SUBTB/QUAN); negative differences take the
    one's complement code, and the all-zeros positive code is remapped
    to the top code (the 1988 revision)."""
    size = len(qtab)
    dqm = abs(d)
    exp = (dqm >> 1).bit_length()
    mant = ((dqm << 7) >> exp) & 0x7F
    dl = (exp << 7) + mant
    dln = dl - (y >> 2)
    i = _g72x_quan(dln, qtab)
    if d < 0:
        return (size << 1) + 1 - i
    if i == 0:
        return (size << 1) + 1
    return i


def _g72x_reconstruct(sign: bool, dqln: int, y: int) -> int:
    """Inverse quantizer (G.726 §4.2.5): log-domain output level plus
    scale, back to linear; negative values carry the sign in bit 15
    with a 14-bit magnitude (the fixed-point convention the predictor
    update relies on)."""
    dql = dqln + (y >> 2)
    if dql < 0:
        return -0x8000 if sign else 0
    dex = (dql >> 7) & 15
    dqt = 128 + (dql & 127)
    dq = (dqt << 7) >> (14 - dex)
    return dq - 0x8000 if sign else dq


def _g72x_update(st: _G72xState, code_bits: int, y: int, wi: int, fi: int,
                 dq: int, sr: int, dqsez: int) -> None:
    """State update common to encoder and decoder (G.726 §4.2.4-§4.2.8):
    scale-factor adaptation, adaptive predictor coefficient updates with
    stability limits, tone/transition detection, speed control."""
    pk0 = 1 if dqsez < 0 else 0
    mag = dq & 0x7FFF

    # transition detect (§4.2.7): a large magnitude while in tone state
    ylint = st.yl >> 15
    ylfrac = (st.yl >> 10) & 0x1F
    thr1 = (32 + ylfrac) << ylint
    thr2 = (31 << 10) if ylint > 9 else thr1
    dqthr = (thr2 + (thr2 >> 1)) >> 1
    if st.td == 0 or mag <= dqthr:
        tr = 0
    else:
        tr = 1

    # quantizer scale factor adaptation (§4.2.4): yu fast, yl slow
    st.yu = y + ((wi - y) >> 5)
    if st.yu < 544:
        st.yu = 544
    elif st.yu > 5120:
        st.yu = 5120
    st.yl += st.yu + ((-st.yl) >> 6)

    a2p = 0
    if tr == 1:
        st.a = [0, 0]
        st.b = [0] * 6
    else:
        pks1 = pk0 ^ st.pk[0]
        a2p = st.a[1] - (st.a[1] >> 7)
        if dqsez != 0:
            fa1 = st.a[0] if pks1 else -st.a[0]
            if fa1 < -8191:
                a2p -= 0x100
            elif fa1 > 8191:
                a2p += 0xFF
            else:
                a2p += fa1 >> 5
            if pk0 ^ st.pk[1]:
                if a2p <= -12160:
                    a2p = -12288
                elif a2p >= 12416:
                    a2p = 12288
                else:
                    a2p -= 0x80
            elif a2p <= -12416:
                a2p = -12288
            elif a2p >= 12160:
                a2p = 12288
            else:
                a2p += 0x80
        st.a[1] = a2p

        st.a[0] -= st.a[0] >> 8
        if dqsez != 0:
            if pks1 == 0:
                st.a[0] += 192
            else:
                st.a[0] -= 192
        a1ul = 15360 - a2p  # keep |a1| <= 1 - 2^-4 - a2 (stability)
        if st.a[0] < -a1ul:
            st.a[0] = -a1ul
        elif st.a[0] > a1ul:
            st.a[0] = a1ul

        for cnt in range(6):
            if code_bits == 5:  # 40 kbit/s leaks slower
                st.b[cnt] -= st.b[cnt] >> 9
            else:
                st.b[cnt] -= st.b[cnt] >> 8
            if mag:
                if (dq ^ st.dq[cnt]) >= 0:
                    st.b[cnt] += 128
                else:
                    st.b[cnt] -= 128

    # shift dq history, converting dq to the floating format (FLOAT A)
    for cnt in range(5, 0, -1):
        st.dq[cnt] = st.dq[cnt - 1]
    if mag == 0:
        st.dq[0] = 0x20 if dq >= 0 else 0x20 - 0x400
    else:
        exp = mag.bit_length()
        val = (exp << 6) + ((mag << 6) >> exp)
        st.dq[0] = val if dq >= 0 else val - 0x400

    st.sr[1] = st.sr[0]
    if sr == 0:
        st.sr[0] = 0x20
    elif sr > 0:
        exp = sr.bit_length()
        st.sr[0] = (exp << 6) + ((sr << 6) >> exp)
    elif sr > -32768:
        mag_sr = -sr
        exp = mag_sr.bit_length()
        st.sr[0] = (exp << 6) + ((mag_sr << 6) >> exp) - 0x400
    else:
        st.sr[0] = 0x20 - 0x400

    st.pk[1] = st.pk[0]
    st.pk[0] = pk0

    # tone detect (§4.2.7): a strongly negative second pole flags tone
    if tr == 1:
        st.td = 0
    elif a2p < -11776:
        st.td = 1
    else:
        st.td = 0

    # adaptation speed control (§4.2.6)
    st.dms += (fi - st.dms) >> 5
    st.dml += ((fi << 2) - st.dml) >> 7
    if tr == 1:
        st.ap = 256
    elif y < 1536 or st.td == 1 \
            or abs((st.dms << 2) - st.dml) >= (st.dml >> 3):
        st.ap += (0x200 - st.ap) >> 4
    else:
        st.ap += (-st.ap) >> 4


def _g72x_encode_ref(samples, law: str = "g721",
                     return_reconstruction: bool = False):
    """Spec-block reference encoder: the per-sample loop composed from
    the named G.726 blocks above (FMULT/MIX/QUAN/RECONST/update). Kept
    as the certification surface; :func:`g72x_encode` is the inlined
    hot path, pinned bit-identical to this by test."""
    import numpy as np

    if law not in _G72X_LAWS:
        raise ValueError(f"unknown G.72x law {law!r}")
    bits, qtab, dqln_tab, wi_tab, fi_tab = _G72X_LAWS[law]
    st = _G72xState()
    sign_bit = 1 << (bits - 1)
    codes = np.empty(len(samples), np.uint8)
    recon = np.empty(len(samples), np.int16) if return_reconstruction else None
    # .tolist(): plain-int iteration is ~2x faster than numpy scalars in
    # this per-sample state machine
    for k, s in enumerate(np.asarray(samples, dtype=np.int16).tolist()):
        sl = s >> 2  # 16-bit -> the spec's 14-bit uniform PCM
        sezi = _g72x_predictor_zero(st)
        sez = sezi >> 1
        se = (sezi + _g72x_predictor_pole(st)) >> 1
        d = sl - se
        y = _g72x_step_size(st)
        i = _g72x_quantize(d, y, qtab)
        dq = _g72x_reconstruct(bool(i & sign_bit), dqln_tab[i], y)
        sr = se - (dq & 0x3FFF) if dq < 0 else se + dq
        dqsez = sr + sez - se
        _g72x_update(st, bits, y, wi_tab[i], fi_tab[i], dq, sr, dqsez)
        codes[k] = i
        if recon is not None:
            recon[k] = max(-32768, min(32767, sr << 2))
    return (codes, recon) if return_reconstruction else codes


def _g72x_decode_ref(codes, law: str = "g721"):
    """Spec-block reference decoder (see :func:`_g72x_encode_ref`)."""
    import numpy as np

    if law not in _G72X_LAWS:
        raise ValueError(f"unknown G.72x law {law!r}")
    bits, _qtab, dqln_tab, wi_tab, fi_tab = _G72X_LAWS[law]
    st = _G72xState()
    mask = (1 << bits) - 1
    sign_bit = 1 << (bits - 1)
    out = np.empty(len(codes), np.int16)
    code_list = codes.tolist() if hasattr(codes, "tolist") else codes
    for k, c in enumerate(code_list):
        i = int(c) & mask
        sezi = _g72x_predictor_zero(st)
        sez = sezi >> 1
        se = (sezi + _g72x_predictor_pole(st)) >> 1
        y = _g72x_step_size(st)
        dq = _g72x_reconstruct(bool(i & sign_bit), dqln_tab[i], y)
        sr = se - (dq & 0x3FFF) if dq < 0 else se + dq
        dqsez = sr - se + sez
        _g72x_update(st, bits, y, wi_tab[i], fi_tab[i], dq, sr, dqsez)
        out[k] = max(-32768, min(32767, sr << 2))
    return out


def _g722_check_tables() -> None:
    """Validation (the Kraft-discipline analog): QMF taps
    prove near-perfect reconstruction arithmetically; the quantizer and
    adaptation tables prove their mirror/monotonicity structure."""
    import numpy as np

    h = np.asarray(_G722_QMF, dtype=np.float64)
    if len(h) != 24 or int(h.sum()) != 8192:
        raise AssertionError("G.722 QMF taps: sum must be exactly 2^13")
    if any(_G722_QMF[i] != _G722_QMF[23 - i] for i in range(12)):
        raise AssertionError("G.722 QMF taps not symmetric")
    mag = np.abs(np.fft.rfft(h, 4096)) ** 2
    comb = mag + mag[::-1]
    if comb.max() / comb.mean() > 1.01 or comb.min() / comb.mean() < 0.99:
        raise AssertionError("G.722 QMF taps fail power complementarity")
    if list(_G722_ILB) != sorted(set(_G722_ILB)) or _G722_ILB[0] != 2048 \
            or _G722_ILB[31] != 4008:
        raise AssertionError("G.722 log scale table broken")
    neg = sorted(-v for v in _G722_QM4[:8])
    pos = sorted(_G722_QM4[8:])
    if neg != pos:
        raise AssertionError("G.722 QM4 halves not mirror-symmetric")
    if any(_G722_RL42[i] != _G722_RL42[i + 7] for i in range(1, 8)) \
            or _G722_RL42[0] != 0 or _G722_RL42[15] != 0:
        raise AssertionError("G.722 RL42 region map broken")
    if list(_G722_WL) != sorted(_G722_WL):
        raise AssertionError("G.722 WL multipliers not monotone")
    if sorted(-v for v in _G722_QM2[:2]) != sorted(_G722_QM2[2:]):
        raise AssertionError("G.722 QM2 halves not mirror-symmetric")
    # QM6 (mode-1) certificate — see the table's comment block
    q6 = _G722_QM6
    if len(q6) != 64:
        raise AssertionError("G.722 QM6 must have 64 entries")
    if any(q6[i] != -136 for i in range(4)):
        raise AssertionError("G.722 QM6 codes 0-3 are the -136 region")
    if any(q6[4 + i] != -q6[32 + i] for i in range(28)):
        raise AssertionError("G.722 QM6 branches not mirror-antisymmetric")
    if q6[60] != -q6[62] or q6[61] != -q6[63]:
        raise AssertionError("G.722 QM6 zero-region tails not mirrored")
    if list(q6[4:32]) != sorted(q6[4:32]) or len(set(q6[4:32])) != 28:
        raise AssertionError("G.722 QM6 negative branch not monotone")
    for il4 in range(1, 8):
        grp = q6[4 * il4: 4 * il4 + 4]
        if not (min(grp) < _G722_QM4[il4] < max(grp)):
            raise AssertionError(
                f"G.722 QM6 group {il4} does not bracket QM4[{il4}]"
            )
        pgrp = q6[32 + 4 * (il4 - 1): 32 + 4 * (il4 - 1) + 4]
        if not (min(pgrp) < _G722_QM4[7 + il4] < max(pgrp)):
            raise AssertionError(
                f"G.722 QM6 positive group {il4} does not bracket its "
                f"QM4 twin"
            )
    # QM5 (mode-2) certificate — see the table's comment block
    q5 = _G722_QM5
    if len(q5) != 32:
        raise AssertionError("G.722 QM5 must have 32 entries")
    if q5[0] != -280 or q5[1] != -280 or q5[31] != -280 or q5[30] != 280:
        raise AssertionError("G.722 QM5 zero region broken")
    if any(q5[2 + i] != -q5[16 + i] for i in range(14)):
        raise AssertionError("G.722 QM5 branches not mirror-antisymmetric")
    if list(q5[2:16]) != sorted(q5[2:16]) or len(set(q5[2:16])) != 14:
        raise AssertionError("G.722 QM5 negative branch not monotone")
    for il4 in range(1, 16):
        pair = q5[2 * il4: 2 * il4 + 2]
        if not (min(pair) < _G722_QM4[il4] < max(pair)):
            raise AssertionError(
                f"G.722 QM5 pair {il4} does not bracket QM4[{il4}]"
            )
    for il5 in range(2, 32):
        kids = (q6[2 * il5], q6[2 * il5 + 1])
        if not (min(kids) < q5[il5] < max(kids)):
            raise AssertionError(
                f"G.722 QM5[{il5}] not bracketed by its QM6 children"
            )


def _g722_block4_ref(bd: _G722Band, d: int) -> None:
    """Spec-block reference for the shared predictor update (G.722
    block 4): reconstruct, adapt the two poles (with the same stability
    region as G.726) and six zeros by sign agreement, then form the next
    pole/zero predictions. :func:`_g722_block4` is the unrolled hot
    path, pinned bit-identical by test."""
    bd.d[0] = d
    bd.r[0] = _g722_sat(bd.s + d)
    bd.p[0] = _g722_sat(bd.sz + d)

    # UPPOL2
    sg0, sg1, sg2 = bd.p[0] >> 15, bd.p[1] >> 15, bd.p[2] >> 15
    wd1 = _g722_sat(bd.a[1] << 2)
    wd2 = -wd1 if sg0 == sg1 else wd1
    if wd2 > 32767:
        wd2 = 32767
    wd3 = (128 if sg0 == sg2 else -128) + (wd2 >> 7) + ((bd.a[2] * 32512) >> 15)
    if wd3 > 12288:
        wd3 = 12288
    elif wd3 < -12288:
        wd3 = -12288
    ap2 = wd3

    # UPPOL1
    wd1 = 192 if sg0 == sg1 else -192
    ap1 = _g722_sat(wd1 + ((bd.a[1] * 32640) >> 15))
    wd3 = _g722_sat(15360 - ap2)
    if ap1 > wd3:
        ap1 = wd3
    elif ap1 < -wd3:
        ap1 = -wd3

    # UPZERO (locals bound once per sample — round 17; same ints)
    wd1 = 0 if d == 0 else 128
    sgd = d >> 15
    dl = bd.d
    bl = bd.b
    sat = _g722_sat
    bp = [0] * 7
    for i in range(1, 7):
        wd2 = wd1 if (dl[i] >> 15) == sgd else -wd1
        bp[i] = sat(wd2 + ((bl[i] * 32640) >> 15))

    # DELAY
    for i in range(6, 0, -1):
        dl[i] = dl[i - 1]
        bl[i] = bp[i]
    bd.r[2], bd.r[1] = bd.r[1], bd.r[0]
    bd.p[2], bd.p[1] = bd.p[1], bd.p[0]
    bd.a[2], bd.a[1] = ap2, ap1

    # FILTEP + FILTEZ + PREDIC
    wd1 = (ap1 * sat(bd.r[1] + bd.r[1])) >> 15
    wd2 = (ap2 * sat(bd.r[2] + bd.r[2])) >> 15
    bd.sp = sp = sat(wd1 + wd2)
    sz = 0
    for i in range(6, 0, -1):
        sz += (bl[i] * sat(dl[i] + dl[i])) >> 15
    bd.sz = sz = sat(sz)
    bd.s = sat(sp + sz)
