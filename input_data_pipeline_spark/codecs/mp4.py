"""ISO-BMFF (MP4/MOV) box walk: metadata probe, audio-track extraction
and the fixture muxer.
"""

from __future__ import annotations

from input_data_pipeline_spark.codecs.aiff_caf import _swap24
from input_data_pipeline_spark.codecs.g711 import _g711_expand
from input_data_pipeline_spark.codecs.wav import _mp3_stream_meta


def _probe_mp4(payload: bytes) -> dict:
    """ISO BMFF (MP4/MOV) container METADATA probe with stdlib ``struct``
    — no codec needed for metadata: a box walk (ISO/IEC 14496-12 §4.2,
    64-bit largesize and size-0 run-to-end boxes included) reads
    ``moov/mvhd`` (timescale + duration) and each ``trak``'s ``tkhd``
    (16.16 fixed-point display dims) + ``mdia/hdlr`` (handler fourcc:
    vide/soun/...). Returns ``{container, duration_ms, timescale,
    n_tracks, tracks: [{handler, width, height}]}``. Sample DECODE
    (H.264/AAC payloads) stays the external-codec seam — this is the
    ffprobe-shaped half a pipeline needs for routing, budgeting and
    stats before any decode."""
    import struct

    if len(payload) < 12 or payload[4:8] != b"ftyp":
        raise ValueError("not an MP4 payload (missing ftyp box)")

    def boxes(start: int, end: int):
        pos = start
        while pos + 8 <= end:
            (size,) = struct.unpack_from(">I", payload, pos)
            typ = payload[pos + 4 : pos + 8]
            hdr = 8
            if size == 1:  # 64-bit largesize
                if pos + 16 > end:
                    raise ValueError("truncated MP4 box (largesize header)")
                (size,) = struct.unpack_from(">Q", payload, pos + 8)
                hdr = 16
            elif size == 0:  # box runs to the end of its container
                size = end - pos
            if size < hdr or pos + size > end:
                raise ValueError(f"truncated MP4 box '{typ.decode(errors='replace')}'")
            yield typ, pos + hdr, pos + size
            pos += size

    def field(fmt, b0, b1, off, box_name):
        # bounds-checked read INSIDE the box: a truncated/lying box must
        # surface as the ValueError every malformed-payload path raises,
        # never a bare struct.error/IndexError (which would escape
        # extract_video_metadata's error-row routing), and never silently
        # read bytes of a sibling box
        end = off + struct.calcsize(fmt)
        if b0 + end > b1:
            raise ValueError(f"truncated MP4 '{box_name}' box")
        return struct.unpack_from(fmt, payload, b0 + off)

    duration_ms = timescale = None
    found_mvhd = False
    tracks: list[dict] = []
    for typ, b0, b1 in boxes(0, len(payload)):
        if typ != b"moov":
            continue
        for t2, c0, c1 in boxes(b0, b1):
            if t2 == b"mvhd":
                (ver,) = field(">B", c0, c1, 0, "mvhd")
                if ver == 1:
                    (ts,) = field(">I", c0, c1, 20, "mvhd")
                    (dur,) = field(">Q", c0, c1, 24, "mvhd")
                    unknown = dur == 0xFFFFFFFFFFFFFFFF
                else:
                    (ts,) = field(">I", c0, c1, 12, "mvhd")
                    (dur,) = field(">I", c0, c1, 16, "mvhd")
                    unknown = dur == 0xFFFFFFFF
                if ts == 0:
                    raise ValueError("mvhd timescale is zero")
                timescale = ts
                found_mvhd = True
                # all-ones duration is the 14496-12 'unknown' sentinel
                # (live/fragmented recordings) — report None, not ~49 days
                duration_ms = None if unknown else dur * 1000 // ts
            elif t2 == b"trak":
                trk = {
                    "handler": None, "width": None, "height": None,
                    "n_samples": None,
                }
                for t3, d0, d1 in boxes(c0, c1):
                    if t3 == b"tkhd":
                        (tver,) = field(">B", d0, d1, 0, "tkhd")
                        off = 88 if tver == 1 else 76
                        w_fx, h_fx = field(">II", d0, d1, off, "tkhd")
                        trk["width"], trk["height"] = w_fx >> 16, h_fx >> 16
                    elif t3 == b"mdia":
                        for t4, e0, e1 in boxes(d0, d1):
                            if t4 == b"hdlr":
                                (hdl,) = field(">4s", e0, e1, 8, "hdlr")
                                trk["handler"] = hdl.decode(
                                    "ascii", errors="replace"
                                )
                            elif t4 == b"minf":
                                # sample tables (ISO 14496-12 §8.6.1/§8.7.3):
                                # stts sums to the exact sample count;
                                # stsz's count field is the fallback
                                for t5, f0, f1 in boxes(e0, e1):
                                    if t5 != b"stbl":
                                        continue
                                    for t6, g0, g1 in boxes(f0, f1):
                                        if t6 == b"stts":
                                            (ne,) = field(
                                                ">I", g0, g1, 4, "stts"
                                            )
                                            tot = 0
                                            for k in range(ne):
                                                cnt, _delta = field(
                                                    ">II", g0, g1,
                                                    8 + 8 * k, "stts",
                                                )
                                                tot += cnt
                                            trk["n_samples"] = tot
                                        elif (
                                            t6 == b"stsz"
                                            and trk["n_samples"] is None
                                        ):
                                            (_sz, cnt) = field(
                                                ">II", g0, g1, 4, "stsz"
                                            )
                                            trk["n_samples"] = cnt
                tracks.append(trk)
    if not found_mvhd:
        raise ValueError("no moov/mvhd box found (streaming-fragment MP4?)")
    return {
        "container": "mp4",
        "duration_ms": duration_ms,
        "timescale": timescale,
        "n_tracks": len(tracks),
        "tracks": tracks,
    }


def _mp4_boxes(payload: bytes, start: int, end: int):
    """ISO BMFF box iterator (module-level twin of :func:`_probe_mp4`'s
    closure, for the sample extractor): yields (type, body_start,
    body_end) handling 64-bit largesize and size-0 run-to-end boxes."""
    import struct

    pos = start
    while pos + 8 <= end:
        (size,) = struct.unpack_from(">I", payload, pos)
        typ = payload[pos + 4: pos + 8]
        hdr = 8
        if size == 1:
            if pos + 16 > end:
                raise ValueError("truncated MP4 box (largesize header)")
            (size,) = struct.unpack_from(">Q", payload, pos + 8)
            hdr = 16
        elif size == 0:
            size = end - pos
        if size < hdr or pos + size > end:
            raise ValueError(
                f"truncated MP4 box '{typ.decode(errors='replace')}'"
            )
        yield typ, pos + hdr, pos + size
        pos += size


def _mp4_read_descriptor(buf: bytes, pos: int) -> tuple[int, int, int]:
    """Read one MPEG-4 descriptor header (14496-1 §8.3.3 expandable
    length): returns (tag, body_start, body_end)."""
    tag = buf[pos]
    pos += 1
    ln = 0
    for _ in range(4):
        b = buf[pos]
        pos += 1
        ln = (ln << 7) | (b & 0x7F)
        if not b & 0x80:
            break
    else:
        raise ValueError("MP4 descriptor length field overruns 4 bytes")
    return tag, pos, pos + ln


def extract_mp4_audio(payload: bytes) -> dict:
    """Extract and DECODE the audio track of an ISO BMFF (MP4/M4A/MOV)
    container (round 16): a box walk finds the 'soun' trak, reads its
    sample tables (stsd entry format + esds objectTypeIndication, stsz
    sizes, stsc sample-to-chunk runs, stco/co64 chunk offsets — the
    full §8.7 layout, not just the single-chunk case), reassembles the
    samples in order, and dispatches by codec: mp4a with OTI 0x6B/0x69
    (MPEG-1/2 audio = MP3) routes to the EXISTING full MP3 PCM chain,
    'twos'/'sowt' route as big-/little-endian 16-bit PCM, and mp4a OTI
    0x40 (AAC) raises naming the codec seam. An MP4 without an audio
    track raises by name. The reference shells to ffmpeg for exactly
    this (``inputs/speech_to_text.py:14-30``)."""
    import struct

    import numpy as np

    if len(payload) < 12 or payload[4:8] != b"ftyp":
        raise ValueError("not an MP4 payload (missing ftyp box)")
    fmt = None          # stsd entry fourcc
    oti = None          # mp4a esds objectTypeIndication
    n_channels = 1
    stsd_rate = None
    sizes: list[int] = []
    chunk_offsets: list[int] = []
    stsc_runs: list[tuple[int, int]] = []  # (first_chunk, samples_per_chunk)
    found_soun = False

    def stbl_walk(f0: int, f1: int) -> None:
        nonlocal fmt, oti, n_channels, stsd_rate, sizes
        nonlocal chunk_offsets, stsc_runs
        for t6, g0, g1 in _mp4_boxes(payload, f0, f1):
            if t6 == b"stsd":
                (ne,) = struct.unpack_from(">I", payload, g0 + 4)
                if ne < 1:
                    raise ValueError("MP4 stsd has no sample entries")
                for typ, h0, h1 in _mp4_boxes(payload, g0 + 8, g1):
                    fmt = typ.decode("ascii", errors="replace")
                    # AudioSampleEntry: 8 reserved/dri + 8 version-etc,
                    # channelcount(2) samplesize(2) pre(4) rate(16.16)
                    n_channels = struct.unpack_from(
                        ">H", payload, h0 + 16
                    )[0]
                    stsd_rate = struct.unpack_from(
                        ">I", payload, h0 + 24
                    )[0] >> 16
                    if typ == b"mp4a":
                        for t7, i0, i1 in _mp4_boxes(
                            payload, h0 + 28, h1
                        ):
                            if t7 != b"esds":
                                continue
                            # version/flags then the ES_Descriptor tree
                            buf = payload[i0 + 4: i1]
                            tag, p0, p1 = _mp4_read_descriptor(buf, 0)
                            if tag != 0x03:
                                raise ValueError(
                                    "MP4 esds missing ES_Descriptor"
                                )
                            # ES_ID(2) + flags(1), no optional fields in
                            # the flags=0 layout every muxer writes
                            p = p0 + 3
                            tag, q0, q1 = _mp4_read_descriptor(buf, p)
                            if tag != 0x04:
                                raise ValueError(
                                    "MP4 esds missing "
                                    "DecoderConfigDescriptor"
                                )
                            oti = buf[q0]
                    break  # first entry governs (ne > 1 is archaic)
            elif t6 == b"stsz":
                const_sz, cnt = struct.unpack_from(">II", payload, g0 + 4)
                if const_sz:
                    sizes = [const_sz] * cnt
                else:
                    sizes = [
                        struct.unpack_from(">I", payload, g0 + 12 + 4 * k)[0]
                        for k in range(cnt)
                    ]
            elif t6 == b"stco":
                (cnt,) = struct.unpack_from(">I", payload, g0 + 4)
                chunk_offsets = [
                    struct.unpack_from(">I", payload, g0 + 8 + 4 * k)[0]
                    for k in range(cnt)
                ]
            elif t6 == b"co64":
                (cnt,) = struct.unpack_from(">I", payload, g0 + 4)
                chunk_offsets = [
                    struct.unpack_from(">Q", payload, g0 + 8 + 8 * k)[0]
                    for k in range(cnt)
                ]
            elif t6 == b"stsc":
                (cnt,) = struct.unpack_from(">I", payload, g0 + 4)
                stsc_runs = [
                    struct.unpack_from(">II", payload, g0 + 8 + 12 * k)[:2]
                    for k in range(cnt)
                ]

    for typ, b0, b1 in _mp4_boxes(payload, 0, len(payload)):
        if typ != b"moov":
            continue
        for t2, c0, c1 in _mp4_boxes(payload, b0, b1):
            if t2 != b"trak":
                continue
            handler = None
            stbl_span = None
            for t3, d0, d1 in _mp4_boxes(payload, c0, c1):
                if t3 != b"mdia":
                    continue
                for t4, e0, e1 in _mp4_boxes(payload, d0, d1):
                    if t4 == b"hdlr":
                        handler = payload[e0 + 8: e0 + 12]
                    elif t4 == b"minf":
                        for t5, f0, f1 in _mp4_boxes(payload, e0, e1):
                            if t5 == b"stbl":
                                stbl_span = (f0, f1)
            if handler == b"soun":
                if found_soun:
                    raise ValueError(
                        "MP4 has several audio tracks; expected one"
                    )
                found_soun = True
                if stbl_span is None:
                    raise ValueError("MP4 audio trak has no stbl")
                stbl_walk(*stbl_span)
    if not found_soun:
        raise ValueError("MP4 has no audio ('soun') track")
    if not sizes or not chunk_offsets or not stsc_runs:
        raise ValueError("MP4 audio stbl missing stsz/stco/stsc")
    # §8.7.4: expand stsc runs across the stco chunk list, walking each
    # chunk's samples contiguously from its offset
    stream = bytearray()
    si = 0
    for ci in range(len(chunk_offsets)):
        spc = 0
        for first, per in stsc_runs:
            if first <= ci + 1:
                spc = per
        off = chunk_offsets[ci]
        for _ in range(spc):
            if si >= len(sizes):
                break
            if off + sizes[si] > len(payload):
                raise ValueError("MP4 sample extends past the payload")
            stream += payload[off: off + sizes[si]]
            off += sizes[si]
            si += 1
    if si != len(sizes):
        raise ValueError(
            f"MP4 chunk map covers {si} of {len(sizes)} samples"
        )
    if fmt == "mp4a":
        if oti in (0x6B, 0x69):  # MPEG-1 / MPEG-2 audio (MP3)
            return _mp3_stream_meta(bytes(stream))
        raise NotImplementedError(
            f"MP4 mp4a objectTypeIndication 0x{(oti or 0):02x} (AAC is "
            "0x40) requires external media libraries; on a real cluster "
            "wire the decoder through the per-executor singleton seam "
            "(SURVEY §2.10 U1/U2). MP3-in-MP4 (0x6b/0x69) decodes"
        )
    if fmt in ("twos", "sowt"):  # big-/little-endian 16-bit PCM
        raw = np.frombuffer(
            bytes(stream), ">i2" if fmt == "twos" else "<i2"
        ).astype("<i2")
        return {
            "n_channels": n_channels,
            "sample_width": 2,
            "frame_rate": stsd_rate,
            "n_frames": len(raw) // max(n_channels, 1),
            "pcm": raw.tobytes(),
            "codec": "pcm_s16be" if fmt == "twos" else "pcm_s16le",
        }
    if fmt in ("ulaw", "alaw"):
        # round 17: QuickTime G.711 sample entries — per-byte expansion
        pcm = _g711_expand(np.frombuffer(bytes(stream), np.uint8), fmt)
        return {
            "n_channels": n_channels,
            "sample_width": 2,
            "frame_rate": stsd_rate,
            "n_frames": len(pcm) // max(n_channels, 1),
            "pcm": pcm.tobytes(),
            "codec": fmt,
        }
    if fmt in ("fl32", "fl64"):
        # round 17: QuickTime big-endian float PCM, the same nominal
        # [-1, 1) -> int16 transform as float WAV/AU/AIFF
        width = 4 if fmt == "fl32" else 8
        f = np.frombuffer(bytes(stream), f">f{width}").astype(np.float64)
        if not np.isfinite(f).all():
            raise ValueError("non-finite MP4 float sample")
        scaled = f * 32768.0
        pcm = np.clip(
            np.sign(scaled) * np.floor(np.abs(scaled) + 0.5),
            -32768, 32767,
        ).astype(np.int16)
        return {
            "n_channels": n_channels,
            "sample_width": 2,
            "frame_rate": stsd_rate,
            "n_frames": len(pcm) // max(n_channels, 1),
            "pcm": pcm.tobytes(),
            "codec": f"pcm_f{width * 8}be",
        }
    if fmt in ("in24", "in32"):
        # round 17: QuickTime big-endian 24/32-bit integer PCM
        width = 3 if fmt == "in24" else 4
        raw = bytes(stream)
        if len(raw) % width:
            raise ValueError("MP4 integer PCM not whole samples")
        pcm = (
            _swap24(raw) if width == 3
            else np.frombuffer(raw, ">i4").astype("<i4").tobytes()
        )
        return {
            "n_channels": n_channels,
            "sample_width": width,
            "frame_rate": stsd_rate,
            "n_frames": len(raw) // width // max(n_channels, 1),
            "pcm": pcm,
            "codec": f"pcm_s{width * 8}be",
        }
    raise NotImplementedError(
        f"MP4 audio sample entry '{fmt}' requires external media "
        "libraries (SURVEY §2.10 U1/U2); mp4a-MP3, twos/sowt, "
        "ulaw/alaw, fl32/fl64 and in24/in32 PCM decode"
    )


def encode_mp4_audio(
    stream: bytes, codec: str = "mp3", sample_rate: int = 44100,
    sample_sizes: list[int] | None = None, n_chunks: int = 1,
    timescale: int | None = None, n_samples_total: int | None = None,
) -> bytes:
    """Write a minimal conforming ISO BMFF container carrying one audio
    track — the sink half of the MP4 surface and the exact inverse of
    :func:`extract_mp4_audio`. ``codec``: "mp3" (mp4a + esds OTI 0x6B;
    ``sample_sizes`` partitions the elementary stream into samples —
    normally one MP3 frame each) or "twos"/"sowt" (16-bit PCM, 2-byte
    samples). ``n_chunks`` splits the samples across several mdat
    chunks with a multi-run stsc/stco map, so the extractor's full
    §8.7.4 walk is exercised, not just the one-chunk fast path."""
    import struct

    def box(typ: bytes, body: bytes) -> bytes:
        return struct.pack(">I", len(body) + 8) + typ + body

    if codec == "mp3":
        if not sample_sizes or sum(sample_sizes) != len(stream):
            raise ValueError(
                "mp3 MP4 audio wants sample_sizes summing to the stream"
            )
        sizes = list(sample_sizes)
    elif codec in ("twos", "sowt"):
        if len(stream) % 2:
            raise ValueError("PCM16 MP4 stream must be whole samples")
        sizes = [2] * (len(stream) // 2)
    elif codec in ("ulaw", "alaw"):
        sizes = [1] * len(stream)
    elif codec in ("fl32", "fl64", "in24", "in32"):
        w = {"fl32": 4, "fl64": 8, "in24": 3, "in32": 4}[codec]
        if len(stream) % w:
            raise ValueError("MP4 PCM stream must be whole samples")
        sizes = [w] * (len(stream) // w)
    else:
        raise ValueError(f"unknown MP4 audio codec {codec!r}")
    n = len(sizes)
    ts = timescale or sample_rate
    dur = n_samples_total if n_samples_total is not None else n

    # split samples into n_chunks contiguous chunks (sizes may differ)
    n_chunks = max(1, min(n_chunks, n))
    per = -(-n // n_chunks)
    chunk_lens = []
    k = 0
    while k < n:
        take = min(per, n - k)
        chunk_lens.append(take)
        k += take

    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isommp42")
    mdat = box(b"mdat", stream)

    # sample table boxes
    stts = box(b"stts", struct.pack(">II II", 0, 1, n, 1))
    entries = []
    prev = None
    for ci, cl in enumerate(chunk_lens):
        if cl != prev:
            entries.append((ci + 1, cl))
            prev = cl
    stsc = box(
        b"stsc",
        struct.pack(">II", 0, len(entries))
        + b"".join(struct.pack(">III", f, c, 1) for f, c in entries),
    )
    stsz = box(
        b"stsz",
        struct.pack(">III", 0, 0, n)
        + b"".join(struct.pack(">I", s) for s in sizes),
    )
    # chunk offsets point into mdat: ftyp + mdat header precede
    base = len(ftyp) + 8
    offs = []
    pos = 0
    si = 0
    for cl in chunk_lens:
        offs.append(base + pos)
        pos += sum(sizes[si: si + cl])
        si += cl
    stco = box(
        b"stco",
        struct.pack(">II", 0, len(offs))
        + b"".join(struct.pack(">I", o) for o in offs),
    )
    if codec == "mp3":
        dcd = bytes([0x04, 13, 0x6B, 0x15, 0x00, 0x00, 0x00]) + \
            struct.pack(">II", 0, 0)
        sl = bytes([0x06, 1, 0x02])
        es = bytes([0x03, 3 + len(dcd) + len(sl), 0x00, 0x00, 0x00]) + \
            dcd + sl
        esds = box(b"esds", struct.pack(">I", 0) + es)
        entry = box(
            b"mp4a",
            b"\x00" * 6 + struct.pack(">H", 1) + b"\x00" * 8
            + struct.pack(">HHI I", 1, 16, 0, sample_rate << 16) + esds,
        )
    else:
        entry = box(
            codec.encode(),
            b"\x00" * 6 + struct.pack(">H", 1) + b"\x00" * 8
            + struct.pack(">HHI I", 1, 16, 0, sample_rate << 16),
        )
    stsd = box(b"stsd", struct.pack(">II", 0, 1) + entry)
    stbl = box(b"stbl", stsd + stts + stsc + stsz + stco)
    url = box(b"url ", struct.pack(">I", 1))
    dref = box(b"dref", struct.pack(">II", 0, 1) + url)
    dinf = box(b"dinf", dref)
    smhd = box(b"smhd", struct.pack(">I HH", 0, 0, 0))
    minf = box(b"minf", smhd + dinf + stbl)
    hdlr = box(
        b"hdlr", struct.pack(">I I", 0, 0) + b"soun" + b"\x00" * 12 + b"\x00"
    )
    mdhd = box(
        b"mdhd", struct.pack(">I II I I HH", 0, 0, 0, ts, dur, 0x55C4, 0)
    )
    mdia = box(b"mdia", mdhd + hdlr + minf)
    tkhd = box(
        b"tkhd",
        struct.pack(">I II I 4x I 8x HHHH", 7, 0, 0, 1, dur, 0, 0, 0x0100, 0)
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + struct.pack(">II", 0, 0),
    )
    trak = box(b"trak", tkhd + mdia)
    mvhd = box(
        b"mvhd",
        struct.pack(">I II I I I H 10x", 0, 0, 0, ts, dur, 0x00010000, 0x0100)
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + struct.pack(">6I I", 0, 0, 0, 0, 0, 0, 2),
    )
    moov = box(b"moov", mvhd + trak)
    return ftyp + mdat + moov
