"""Audio DSP over decoded PCM: resampling, energy VAD and MFCC features.
"""

from __future__ import annotations


# --- audio training-prep DSP (round 17): resample / VAD / MFCC ---------------
#
# The three preparation steps a large-scale speech/audio training
# pipeline runs on every clip before featurization or packing:
# resample-to-model-rate, voice-activity segmentation, and MFCC
# features. All pure-formula DSP (windowed-sinc polyphase, frame
# energy state machine, mel filterbank + DCT-II) — no spec tables, no
# external libs; numpy-vectorized inside mapInPandas kernels so the
# hot path is C even though the control flow is Python.


def resample_pcm(pcm, sr_in: int, sr_out: int, taps_per_phase: int = 16):
    """Rational polyphase resampler: int16-range float in, float out.
    The rate change L/M = sr_out/sr_in (reduced) is realized as a
    windowed-sinc interpolation filter evaluated at the exact rational
    output instants t_k = k*M/L input samples — mathematically the
    upsample-by-L -> lowpass -> downsample-by-M cascade without
    materializing the upsampled signal. The kernel is a Hann-windowed
    sinc with cutoff min(sr_in, sr_out)/2 (expressed in input-sample
    units: fc = min(1, L/M)/2 cycles/sample), ``taps_per_phase`` input
    samples each side; each output's tap weights are normalized to sum
    1 so DC passes EXACTLY regardless of phase (the polyphase-branch
    normalization rule). Output length is ceil(n * L / M) — the
    convention the oracle recomputes. Edge samples use zero padding."""
    import math

    import numpy as np

    if sr_in <= 0 or sr_out <= 0:
        raise ValueError("sample rates must be positive")
    x = np.asarray(pcm, dtype=np.float64)
    if sr_in == sr_out:
        return x.copy()
    g = math.gcd(sr_in, sr_out)
    L, M = sr_out // g, sr_in // g
    n = len(x)
    n_out = -(-n * L // M)
    if n_out == 0 or n == 0:
        return np.zeros(0)
    k = np.arange(n_out)
    # exact rational instants as integer + fractional parts (avoids
    # float drift at large k: k*M = pos_int*L + rem with rem < L)
    pos_int = (k * M) // L
    fc = 0.5 * min(1.0, L / M)
    offs = np.arange(-taps_per_phase + 1, taps_per_phase + 1)
    if L < n_out:
        # only L distinct phases exist: build the L tap-weight rows once
        # and gather per output (round 17) — elementwise-identical to
        # evaluating the sinc at every output row (same frac = r/L
        # floats, same ufunc results), just without recomputing each
        # phase n_out/L times
        fr = np.arange(L) / L
        t = fr[:, None] - offs[None, :]
        h = 2 * fc * np.sinc(2 * fc * t)
        h *= 0.5 + 0.5 * np.cos(np.pi * t / taps_per_phase)
        h /= h.sum(axis=1, keepdims=True)
        h = h[(k * M) % L]
    else:
        frac = ((k * M) % L) / L  # in [0, 1) input samples
        # tap time distances: (frac - off) for each output row
        t = frac[:, None] - offs[None, :]
        h = 2 * fc * np.sinc(2 * fc * t)
        # Hann window over the tap span keeps sidelobes down
        h *= 0.5 + 0.5 * np.cos(np.pi * t / taps_per_phase)
        h /= h.sum(axis=1, keepdims=True)  # per-phase DC normalization
    idx = pos_int[:, None] + offs[None, :]
    valid = (idx >= 0) & (idx < n)
    xv = np.where(valid, x[np.clip(idx, 0, n - 1)], 0.0)
    return (xv * h).sum(axis=1)


def vad_segments(pcm, sr: int, frame_ms: int = 20,
                 thresh_dbfs: float = -35.0, hang_frames: int = 2):
    """Energy voice-activity detection with hangover: the PCM (int16
    full-scale 32768) is cut into ``frame_ms`` frames; a frame is HOT
    when its RMS exceeds ``thresh_dbfs`` dB below full scale; a
    segment opens at a hot frame and closes only after ``hang_frames``
    consecutive cold frames (the hangover keeps intra-word pauses from
    splitting a segment). Returns (flags, segments) where flags is the
    per-frame hot bool array and segments a list of (start_frame,
    end_frame_exclusive) pairs INCLUDING any trailing hangover frames.
    The state machine is exactly reproducible in SQL over closed-form
    frame energies — the gate's oracle replays it with window
    functions."""
    import numpy as np

    x = np.asarray(pcm, dtype=np.float64)
    flen = max(1, sr * frame_ms // 1000)
    n_frames = len(x) // flen
    if n_frames == 0:
        return np.zeros(0, dtype=bool), []
    frames = x[: n_frames * flen].reshape(n_frames, flen)
    rms = np.sqrt((frames ** 2).mean(axis=1))
    thresh = 32768.0 * (10.0 ** (thresh_dbfs / 20.0))
    hot = rms > thresh
    segments = []
    start = None
    cold = 0
    for i, hflag in enumerate(hot):
        if hflag:
            if start is None:
                start = i
            cold = 0
        elif start is not None:
            cold += 1
            if cold > hang_frames:
                segments.append((start, i - cold + 1 + hang_frames))
                start = None
                cold = 0
    if start is not None:
        segments.append((start, n_frames))
    return hot, segments


def _mel_filterbank(sr: int, n_fft: int, n_mels: int):
    """Triangular mel filterbank (HTK convention: mel = 2595 *
    log10(1 + f/700)), n_mels rows over the n_fft//2+1 rFFT bins,
    edges equally spaced in mel between 0 and sr/2."""
    import numpy as np

    def mel(f):
        return 2595.0 * np.log10(1.0 + np.asarray(f, dtype=np.float64)
                                 / 700.0)

    def imel(m):
        return 700.0 * (10.0 ** (np.asarray(m, np.float64) / 2595.0)
                        - 1.0)

    edges_hz = imel(np.linspace(0.0, float(mel(sr / 2)), n_mels + 2))
    bins = np.floor((n_fft + 1) * edges_hz / sr).astype(np.int64)
    fb = np.zeros((n_mels, n_fft // 2 + 1))
    for m in range(n_mels):
        lo, ce, hi = bins[m], bins[m + 1], bins[m + 2]
        for b in range(lo, ce):
            if ce > lo:
                fb[m, b] = (b - lo) / (ce - lo)
        for b in range(ce, hi):
            if hi > ce:
                fb[m, b] = (hi - b) / (hi - ce)
    return fb


def mfcc_features(pcm, sr: int, n_fft: int = 256, hop: int = 128,
                  n_mels: int = 20, n_mfcc: int = 13):
    """MFCC matrix (n_frames, n_mfcc): Hann-windowed frames -> power
    rFFT -> mel filterbank -> log -> orthonormal DCT-II. Frame count
    is 1 + (n - n_fft)//hop for n >= n_fft (else 0) — the closed form
    the oracle recomputes. All numpy; the log floor 1e-10 keeps silent
    frames finite."""
    import numpy as np

    x = np.asarray(pcm, dtype=np.float64)
    n = len(x)
    if n < n_fft:
        return np.zeros((0, n_mfcc))
    n_frames = 1 + (n - n_fft) // hop
    idx = np.arange(n_fft)[None, :] + hop * np.arange(n_frames)[:, None]
    frames = x[idx] * np.hanning(n_fft)[None, :]
    power = np.abs(np.fft.rfft(frames, axis=1)) ** 2
    fb = _mel_filterbank(sr, n_fft, n_mels)
    logmel = np.log(np.maximum(power @ fb.T, 1e-10))
    # orthonormal DCT-II over the mel axis
    m = np.arange(n_mels)
    dct = np.cos(np.pi / n_mels * (m[None, :] + 0.5) * np.arange(
        n_mfcc)[:, None])
    dct *= np.sqrt(2.0 / n_mels)
    dct[0] /= np.sqrt(2.0)
    return logmel @ dct.T
