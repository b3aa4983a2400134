"""Format routing: ``decode_media``, ``probe_audio`` and ``probe_video``
sniff a payload's magic bytes and call the matching codec module;
``extract_avi_audio`` decodes an AVI's audio stream through the same
router.
"""

from __future__ import annotations

from input_data_pipeline_spark.codecs.aiff_caf import (
    _AIFC_ALAW,
    _AIFC_IMA4,
    _AIFC_ULAW,
    _aiff_chunks,
    _decode_aiff,
    _decode_caf,
)
from input_data_pipeline_spark.codecs.au import _au_header, _decode_au
from input_data_pipeline_spark.codecs.avi import _decode_avi
from input_data_pipeline_spark.codecs.flac import _decode_flac, _flac_streaminfo
from input_data_pipeline_spark.codecs.g711 import _g711_expand
from input_data_pipeline_spark.codecs.image import (
    _decode_bmp,
    _decode_gif,
    _decode_netpbm,
    _decode_png,
    _decode_tga,
    _looks_like_tga,
    _PNG_SIG,
)
from input_data_pipeline_spark.codecs.jpeg import _decode_jpeg
from input_data_pipeline_spark.codecs.mp4 import _probe_mp4, extract_mp4_audio
from input_data_pipeline_spark.codecs.mpeg import _probe_adts, probe_mpeg_audio
from input_data_pipeline_spark.codecs.ogg import _decode_vorbis, _probe_ogg
from input_data_pipeline_spark.codecs.riff import _iff_chunks
from input_data_pipeline_spark.codecs.tiff import _decode_tiff
from input_data_pipeline_spark.codecs.wav import (
    _decode_ima_adpcm,
    _mp3_stream_meta,
    _ms_adpcm_decode,
    _parse_wav_chunks,
    _wav_file,
    _WAVE_FORMAT_ALAW,
    _WAVE_FORMAT_IEEE_FLOAT,
    _WAVE_FORMAT_IMA_ADPCM,
    _WAVE_FORMAT_MPEGLAYER3,
    _WAVE_FORMAT_MS_ADPCM,
    _WAVE_FORMAT_MULAW,
    _WAVE_FORMAT_PCM,
)
from input_data_pipeline_spark.codecs.y4m import _decode_y4m, _y4m_header


def extract_avi_audio(payload: bytes) -> dict:
    """Extract and DECODE the audio stream of an AVI container (round
    15): a RIFF walk collects the 'auds' stream's strf — a WAVEFORMATEX,
    byte-identical to a WAV 'fmt ' chunk body — and its '..wb' data
    chunks in order, repackages them as an in-memory RIFF/WAVE, and
    delegates to :func:`decode_media`'s audio path. AVI audio therefore
    inherits the ENTIRE WAV decode matrix (PCM widths, IEEE float,
    G.711 both laws, IMA-ADPCM) with zero new codec code, and feeds
    ``audio_content_key`` like any first-class audio container. An AVI
    without an audio stream, or with several, raises by name."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not an AVI payload (missing RIFF/'AVI ' magic)")
    fmts: list[bytes] = []
    audio = bytearray()

    def walk(start: int, end: int) -> None:
        stream_type = None
        for cid, body0, body1 in _iff_chunks(payload, start, end, "<"):
            if cid == b"LIST":
                walk(body0 + 4, body1)
            elif cid == b"strh":
                stream_type = payload[body0 : body0 + 4]
            elif cid == b"strf" and stream_type == b"auds":
                if body1 - body0 < 16:
                    raise ValueError(
                        f"audio 'strf' chunk too small ({body1 - body0} bytes)"
                    )
                fmts.append(payload[body0:body1])
            elif cid[2:4] == b"wb":
                audio.extend(payload[body0:body1])

    walk(12, len(payload))
    if not fmts:
        raise ValueError("AVI has no audio ('auds') stream")
    if len(fmts) > 1:
        raise ValueError(f"AVI has {len(fmts)} audio streams; expected one")
    return decode_media(_wav_file(fmts[0], None, bytes(audio)), "audio")


def probe_video(payload: bytes) -> dict:
    """Container-level video metadata without decoding samples — the
    ffprobe-shaped probe a pipeline runs on every blob before deciding
    what to decode: AVI via the full RIFF walk (:func:`_decode_avi`),
    MP4/MOV via the metadata-only box walk (:func:`_probe_mp4`).
    Uniform keys: container, width, height, n_frames (None when the
    container doesn't declare it), duration_ms, n_tracks. The AVI walk
    runs in probe mode — frame chunks counted, never copied, and
    compressed ('..dc') files probe fine: routing them to the codec
    seam is exactly what the probe is FOR."""
    if payload[:4] == b"RIFF" and payload[8:12] == b"AVI ":
        m = _decode_avi(payload, probe=True)
        return {
            "container": "avi",
            "width": m["width"],
            "height": m["height"],
            "n_frames": m["n_frames"],
            "duration_ms": m["n_frames"] * m["usec_per_frame"] // 1000,
            "n_tracks": 1,
        }
    if len(payload) >= 12 and payload[4:8] == b"ftyp":
        m = _probe_mp4(payload)
        vid = next(
            (t for t in m["tracks"] if t["handler"] == "vide"), {}
        )
        return {
            "container": "mp4",
            "width": vid.get("width"),
            "height": vid.get("height"),
            # exact frame count from the stbl sample tables when present
            # (stts sum, stsz fallback); None for metadata-only streams
            "n_frames": vid.get("n_samples"),
            "duration_ms": m["duration_ms"],
            "n_tracks": m["n_tracks"],
        }
    if payload.startswith(b"YUV4MPEG2"):
        # header parse + frame-size arithmetic only — the frame count
        # falls out of the byte length, no plane is touched
        w, h, num, den, sub, _, _, start = _y4m_header(payload)
        csz = 0 if sub is None else ((w + sub[0] - 1) // sub[0]) * (
            (h + sub[1] - 1) // sub[1]
        )
        per = 6 + w * h + 2 * csz  # "FRAME\n" + planes
        nf = (len(payload) - start) // per
        return {
            "container": "y4m",
            "width": w,
            "height": h,
            "n_frames": nf,
            "duration_ms": nf * (den * 1_000_000 // num) // 1000,
            "n_tracks": 1,
        }
    raise NotImplementedError(
        "probe of non-AVI/MP4/Y4M video containers requires external "
        "media libraries (SURVEY §2.10 U1/U2)"
    )


def _decode_wav(w: dict) -> dict:
    """Decode a parsed WAV (:func:`_parse_wav_chunks`) that stdlib
    ``wave`` cannot read: the companded, ADPCM, float and MP3 format
    tags, and PCM in the extensible or RF64 form."""
    tag = w["tag"]

    def int16_pcm(pcm: bytes, codec: str) -> dict:
        return {
            "n_channels": w["n_channels"],
            "sample_width": 2,
            "frame_rate": w["frame_rate"],
            "n_frames": len(pcm) // 2 // w["n_channels"],
            "pcm": pcm,
            "codec": codec,
        }

    if tag in (_WAVE_FORMAT_ALAW, _WAVE_FORMAT_MULAW):
        if w["bits"] != 8:
            raise ValueError(
                f"G.711 WAV must be 8-bit, got {w['bits']}-bit"
            )
        law = "alaw" if tag == _WAVE_FORMAT_ALAW else "ulaw"
        codes = w["data"]
        if w["fact_frames"] is not None:
            # fact counts FRAMES; expansion itself is per-byte and
            # channel-agnostic (round 17: stereo G.711 decodes)
            codes = codes[: w["fact_frames"] * w["n_channels"]]
        import numpy as np

        # the EXPANDED width is 2; the source codes are 8-bit
        pcm = _g711_expand(np.frombuffer(codes, np.uint8), law)
        return int16_pcm(pcm.tobytes(), law)
    if tag == _WAVE_FORMAT_IMA_ADPCM:
        pcm = _decode_ima_adpcm(
            w["data"], w["block_align"], w["fact_frames"],
            w["n_channels"],
        )
        return int16_pcm(pcm, "ima_adpcm")
    if tag == _WAVE_FORMAT_IEEE_FLOAT:
        # round 14: IEEE float WAV (little-endian float32/float64),
        # the same nominal [-1, 1) -> int16 transform as float AU
        import numpy as np

        if w["bits"] not in (32, 64):
            raise ValueError(
                f"IEEE float WAV must be 32- or 64-bit, got {w['bits']}"
            )
        width = w["bits"] // 8
        data = w["data"]
        if w["fact_frames"] is not None:
            data = data[: w["fact_frames"] * width * w["n_channels"]]
        if len(data) % width:
            raise ValueError("float WAV data not a whole number of samples")
        f = np.frombuffer(
            data, "<f4" if width == 4 else "<f8"
        ).astype(np.float64)
        if len(f) % w["n_channels"]:
            raise ValueError("float WAV data not a whole number of frames")
        if not np.isfinite(f).all():
            raise ValueError("non-finite float WAV sample")
        scaled = f * 32768.0
        pcm = np.clip(
            np.sign(scaled) * np.floor(np.abs(scaled) + 0.5),
            -32768, 32767,
        ).astype(np.int16)
        return int16_pcm(pcm.tobytes(), f"pcm_f{8 * width}le")
    if tag == _WAVE_FORMAT_MPEGLAYER3:
        # round 16: MP3-in-WAV (MPEGLAYER3WAVEFORMAT) routes the
        # 'data' chunk — a plain MP3 elementary stream — to the
        # EXISTING full MP3 PCM chain; the container's fact chunk
        # (dwSampleLength) truncates the decode when present.
        # extract_avi_audio repackages AVI 'auds' streams as WAV, so
        # wFormatTag 0x0055 AVI audio inherits this arm for free.
        meta = _mp3_stream_meta(w["data"])
        if (
            w["fact_frames"] is not None
            and w["fact_frames"] < meta["n_frames"]
        ):
            n = w["fact_frames"]
            meta["pcm"] = meta["pcm"][: n * 2 * meta["n_channels"]]
            meta["n_frames"] = n
        return meta
    if tag == _WAVE_FORMAT_MS_ADPCM:
        # round 17: MS ADPCM (the other ubiquitous WAV speech codec
        # next to IMA) — mono or stereo, exact integer transform
        pcm = _ms_adpcm_decode(
            w["data"], w["block_align"], w["n_channels"],
            w["fact_frames"],
        )
        return int16_pcm(pcm, "ms_adpcm")
    if tag != _WAVE_FORMAT_PCM:
        raise NotImplementedError(
            f"WAV format tag 0x{tag:04x} (e.g. AAC-in-WAV; MP3-in-WAV "
            "decodes since round 16) requires external media libraries "
            "(SURVEY §2.10 U1/U2)"
        )
    # extensible-PCM / RF64-PCM: stdlib wave cannot read either
    # container form, but the samples are plain interleaved LE PCM —
    # emit the exact dict shape of the stdlib path so the content key
    # matches the same audio in a classic WAV
    if w["bits"] % 8 or not 1 <= w["bits"] // 8 <= 4:
        raise ValueError(f"PCM bit depth {w['bits']} unsupported")
    width = w["bits"] // 8
    data = w["data"]
    if w["fact_frames"] is not None:
        data = data[: w["fact_frames"] * width * w["n_channels"]]
    if len(data) % (width * w["n_channels"]):
        raise ValueError("PCM data not a whole number of frames")
    return {
        "n_channels": w["n_channels"],
        "sample_width": width,
        "frame_rate": w["frame_rate"],
        "n_frames": len(data) // width // w["n_channels"],
        "pcm": data,
    }


def decode_media(payload: bytes, modality: str = "audio") -> dict:
    """Decode an opaque media payload to typed fields.

    REAL for PCM WAV audio: stdlib ``wave`` over an in-memory buffer — the
    same parser the reference opens its capture files with
    (``inputs/system_audio_collector.py:31``: ``wave.open(wav_path)``).
    Returns header fields plus the raw PCM frame bytes.

    REAL for BMP images (round 8): stdlib ``struct`` over the
    BITMAPINFOHEADER layout — de-padded, orientation-normalized pixel
    plane plus typed dimensions (see :func:`_decode_bmp`).

    REAL for 8-bit truecolor PNG (round 9): chunk walk + stdlib ``zlib``
    inflate + scanline unfilter (see :func:`_decode_png`), normalized to
    the same BGR(A) plane as BMP.

    REAL for JFIF JPEG (round 10): huffman entropy decode + dequant +
    numpy IDCT + BT.601 color conversion (see :func:`_decode_jpeg`) —
    baseline SOF0 AND progressive SOF2 (spectral selection + successive
    approximation), grayscale and 4:4:4 / 4:2:2 / 4:2:0 YCbCr
    (sampling-factor MCU geometry + chroma sample replication), restart
    markers in baseline.

    REAL for GIF87a/GIF89a (round 10): pure-Python GIF-variant LZW +
    palette lookup (see :func:`_decode_gif`) — interlacing, local color
    tables, transparency (→ the 32-bit BGRA face) and partial-screen
    first frames composited on the background color; animation frames
    beyond the first are counted, not rendered.

    REAL for Motion-JPEG AVI (round 10): ``..dc`` frames under a
    ``MJPG`` fourcc route per-frame through :func:`_decode_jpeg` and
    come back as the same bottom-up DIB plane as raw AVI (see
    :func:`_decode_avi`).

    REAL for FLAC (rounds 12-13, RFC 9639): metadata block walk, frame
    header parse with CRC-8, CONSTANT/VERBATIM/FIXED/LPC subframes with
    rice- or escape-coded residual partitions, stereo decorrelation,
    frame CRC-16 and the STREAMINFO MD5 check (see :func:`_decode_flac`)
    — compressed lossless audio is no longer a seam.

    REAL for MPEG-1 Layer III (rounds 13-14): the full sample chain —
    entropy layer, IMDCT, polyphase synthesis — to int16 PCM (see
    :func:`decode_mp3_to_pcm`; the synthesis window stance is documented
    at ``_MP3_SYNTH_PROTO``), and REAL for CCITT bilevel TIFF — G4/MH
    round 14, T.4-with-EOL G3 (1D and 2D) also round 14, JPEG-in-TIFF
    round 17, both OJPEG forms round 17. Only genuinely external
    codecs (compressed video/audio SAMPLE decode: H.264/AAC in MP4,
    interframe AVI codecs, Ogg Opus payloads, arithmetic-coded JPEG)
    stay the documented
    seam: those aren't in this container, and on a real cluster the
    call MUST go through a per-executor singleton (one codec/model
    instance per worker process), never per row — reference pattern U2.
    """
    if modality == "image":
        if payload[:2] == b"BM":
            return _decode_bmp(payload)
        if payload[:8] == _PNG_SIG:
            return _decode_png(payload)
        if payload[:2] == b"\xff\xd8":
            return _decode_jpeg(payload)
        if payload[:6] in (b"GIF87a", b"GIF89a"):
            return _decode_gif(payload)
        if payload[:4] in (b"II*\x00", b"MM\x00*"):
            return _decode_tiff(payload)
        if payload[:1] == b"P" and payload[1:2] in b"123456":
            # round 17: the netpbm family (PBM/PGM/PPM, ASCII + binary)
            return _decode_netpbm(payload)
        if _looks_like_tga(payload):
            return _decode_tga(payload)
        raise NotImplementedError(
            "real decode of non-BMP/PNG/JPEG/GIF/TIFF/netpbm/TGA image "
            "formats requires external media libraries; wire PIL here "
            "on a real cluster (SURVEY §2.10 U1/U2)"
        )
    if modality == "video":
        if payload[:4] == b"RIFF" and payload[8:12] == b"AVI ":
            return _decode_avi(payload)
        if payload.startswith(b"YUV4MPEG2"):
            # round 17: raw planar YUV interchange — full sample decode
            return _decode_y4m(payload)
        raise NotImplementedError(
            "real decode of non-AVI/Y4M video requires external media "
            "libraries; wire ffmpeg here on a real cluster (SURVEY §2.10 U1/U2)"
        )
    if modality != "audio":
        raise NotImplementedError(
            f"real {modality} decode requires external media libraries; "
            "wire ffmpeg/PIL here on a real cluster (SURVEY §2.10 U1/U2)"
        )
    if payload[:4] == b"fLaC":
        return _decode_flac(payload)
    if payload[:4] == b".snd":
        return _decode_au(payload)
    if len(payload) >= 12 and payload[:4] == b"FORM" and payload[8:12] in (
        b"AIFF", b"AIFC"
    ):
        # round 17: the big-endian Apple interchange container —
        # PCM/sowt/fl32/fl64/ulaw/alaw/ima4 all decode for real
        return _decode_aiff(payload)
    if payload[:4] == b"caff":
        # round 17: Apple Core Audio Format — lpcm (every combination),
        # ulaw/alaw, ima4 all decode for real
        return _decode_caf(payload)
    if payload[:4] == b"OggS":
        # round 17: Ogg Vorbis decodes for REAL (self-describing
        # codebooks, floor 1, residues 0/1/2, coupling, mixed block
        # lapping); Opus stays a named seam — its SILK/CELT layers
        # need spec data tables this repo cannot certify. Route on the
        # first packet's magic; a stream cut before it is a bad payload
        n_segs = payload[26] if len(payload) > 26 else 0
        lace0 = payload[27] if n_segs and len(payload) > 27 else 0
        first = payload[27 + n_segs: 27 + n_segs + lace0]
        if first[:7] == b"\x01vorbis":
            return _decode_vorbis(payload)
        if first[:8] == b"OpusHead":
            raise NotImplementedError(
                "Ogg Opus sample decode requires external media libraries "
                "(SURVEY §2.10 U1/U2); Ogg Vorbis decodes for real (round "
                "17) and the container probes cover Opus/FLAC framing"
            )
        raise ValueError("Ogg stream's first packet is incomplete or unknown")
    if len(payload) >= 12 and payload[4:8] == b"ftyp":
        # ISO BMFF (round 16): sample-table walk + per-codec routing
        return extract_mp4_audio(payload)
    if payload[:3] == b"ID3" or (
        len(payload) >= 2 and payload[0] == 0xFF and (payload[1] & 0xE0) == 0xE0
    ):
        # MP3 (round 14): full sample decode — entropy layer, IMDCT,
        # polyphase synthesis — scaled to int16 at the conventional
        # full-scale 32768 and folded into the uniform PCM contract, so
        # audio_content_key treats an MP3 like any other container
        return _mp3_stream_meta(payload)
    walk_error = None
    if (
        len(payload) >= 12
        and payload[:4] in (b"RIFF", b"RF64", b"BW64")
        and payload[8:12] == b"WAVE"
    ):
        # one chunk walk picks the arm: stdlib wave reads only classic
        # PCM, and every other WAV form decodes in _decode_wav
        try:
            w = _parse_wav_chunks(payload)
        except ValueError as e:
            if payload[:4] != b"RIFF":
                raise
            walk_error = e  # stdlib wave may still read a classic PCM WAV
        else:
            if (
                w["tag"] != _WAVE_FORMAT_PCM
                or w["rf64"]
                or w["valid_bits"] is not None  # set only when extensible
            ):
                return _decode_wav(w)
    import io
    import wave

    # stdlib wave reports a malformed or unrecognised payload as
    # wave.Error, RuntimeError (its chunk seek) or EOFError; the decode
    # contract raises ValueError so callers route it as a bad payload,
    # with the chunk walk's reason when the walk refused it too
    try:
        with wave.open(io.BytesIO(payload), "rb") as wf:
            n_channels, width = wf.getnchannels(), wf.getsampwidth()
            pcm = wf.readframes(wf.getnframes())
            # the header's frame count can overstate a short data chunk
            return {
                "n_channels": n_channels,
                "sample_width": width,
                "frame_rate": wf.getframerate(),
                "n_frames": len(pcm) // (n_channels * width),
                "pcm": pcm,
            }
    except (wave.Error, RuntimeError, EOFError) as e:
        if walk_error is not None:
            raise walk_error from e
        raise ValueError(f"undecodable audio payload: {e}") from e


def probe_audio(payload: bytes) -> dict:
    """Container-level audio metadata without decoding samples — the
    audio face of :func:`probe_video`: WAV via the RIFF chunk walk
    (PCM, G.711 and ADPCM formats all probe from 'fmt '/'fact'/'data'
    alone), MP3 via the frame-header walk. Uniform keys: container,
    sample_rate, n_channels, n_frames, duration_ms, mean_bitrate_kbps,
    vbr."""
    if len(payload) >= 12 and payload[:4] in (
        b"RIFF", b"RF64", b"BW64"
    ) and payload[8:12] == b"WAVE":
        w = _parse_wav_chunks(payload)
        if w["block_align"]:
            if w["fact_frames"] is not None:
                frames = w["fact_frames"]
            elif w["tag"] == _WAVE_FORMAT_PCM:
                frames = len(w["data"]) // w["block_align"]
            else:
                frames = None  # compressed without the spec-required 'fact'
        else:
            frames = None
        dur = (
            frames * 1000 // w["frame_rate"]
            if frames is not None and w["frame_rate"]
            else None
        )
        return {
            "container": "wav",
            "sample_rate": w["frame_rate"],
            "n_channels": w["n_channels"],
            "n_frames": frames,
            "duration_ms": dur,
            "mean_bitrate_kbps": (
                w["frame_rate"] * w["block_align"] * 8 // 1000
                if w["frame_rate"] and w["block_align"]
                else None
            ),
            "vbr": False,
        }
    if payload[:4] == b"fLaC":
        # STREAMINFO-only probe: no frame decode needed for metadata
        si, _ = _flac_streaminfo(payload)
        sr, ch, total = si["sample_rate"], si["n_channels"], si["total_samples"]
        dur = total * 1000 // sr if total else None
        return {
            "container": "flac",
            "sample_rate": sr,
            "n_channels": ch,
            "n_frames": total or None,
            "duration_ms": dur,
            "mean_bitrate_kbps": (
                len(payload) * 8 * sr // (total * 1000) if total else None
            ),
            "vbr": True,  # FLAC frames are inherently variable-size
        }
    if (
        len(payload) >= 7
        and payload[0] == 0xFF
        and (payload[1] & 0xF6) == 0xF0
    ):
        # ADTS (round 16): the 0xFFF syncword with LAYER 00 — reserved
        # in MPEG audio, so this arm must run BEFORE the MP3 branch,
        # whose 0xFFE mask would swallow it. Container walk only; AAC
        # sample decode stays the named external-codec seam.
        return _probe_adts(payload)
    if payload[:3] == b"ID3" or (
        len(payload) >= 2 and payload[0] == 0xFF and (payload[1] & 0xE0) == 0xE0
    ):
        m = probe_mpeg_audio(payload)
        return {
            "container": "mp3",
            "sample_rate": m["sample_rate"],
            "n_channels": m["n_channels"],
            "n_frames": m["n_frames"],
            "duration_ms": m["duration_ms"],
            "mean_bitrate_kbps": m["mean_bitrate_kbps"],
            "vbr": m["vbr"],
        }
    if payload[:4] == b".snd":
        enc, rate, n_ch, data = _au_header(payload)
        # bytes per SAMPLE by encoding: G.711 laws / 8-bit PCM 1 byte,
        # PCM16 2, float32/float64 4/8; a frame is one sample per channel
        bps = {1: 1, 2: 1, 27: 1, 3: 2, 4: 3, 5: 4, 6: 4, 7: 8}.get(enc)
        frames = len(data) // (bps * n_ch) if bps else None
        return {
            "container": "au",
            "sample_rate": rate,
            "n_channels": n_ch,
            "n_frames": frames,
            "duration_ms": frames * 1000 // rate if frames and rate else None,
            "mean_bitrate_kbps": (
                rate * 8 * bps * n_ch // 1000 if rate and bps else None
            ),
            "vbr": False,
        }
    if payload[:4] == b"OggS":
        # round 17: RFC 3533 page walk + ident-header codec routing
        return _probe_ogg(payload)
    if payload[:4] == b"caff":
        # round 17: desc-chunk probe via the full walk (cheap: CAF data
        # is not parsed, only sliced)
        m = _decode_caf(payload)
        return {
            "container": "caf",
            "sample_rate": m["frame_rate"],
            "n_channels": m["n_channels"],
            "n_frames": m["n_frames"],
            "duration_ms": (
                m["n_frames"] * 1000 // m["frame_rate"]
                if m["n_frames"] and m["frame_rate"] else None
            ),
            "mean_bitrate_kbps": (
                len(payload) * 8 * m["frame_rate"]
                // (m["n_frames"] * 1000) if m["n_frames"] else None
            ),
            "vbr": False,
        }
    if len(payload) >= 12 and payload[:4] == b"FORM" and payload[8:12] in (
        b"AIFF", b"AIFC"
    ):
        # COMM-only probe — no sample decode needed
        form, (ch, nframes, bits, rate), comp, _ = _aiff_chunks(payload)
        # mean wire bitrate by compression: PCM floats/ints carry their
        # sample size; companded laws 8 bits; ima4 4.25 (34 bytes / 64)
        wire_bits = (
            8.0 if comp in _AIFC_ULAW + _AIFC_ALAW
            else 4.25 if comp in _AIFC_IMA4
            else float(bits)
        )
        return {
            "container": "aiff" if form == b"AIFF" else "aifc",
            "sample_rate": rate,
            "n_channels": ch,
            "n_frames": nframes or None,
            "duration_ms": nframes * 1000 // rate if nframes and rate else None,
            "mean_bitrate_kbps": (
                int(rate * wire_bits * ch) // 1000 if rate else None
            ),
            "vbr": False,
        }
    raise NotImplementedError(
        "probe of non-WAV/MP3/AU/AIFF/CAF/Ogg audio containers requires "
        "external media libraries (SURVEY §2.10 U1/U2)"
    )
