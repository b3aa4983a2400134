"""AVI (RIFF) video: the chunk walk over uncompressed and MJPEG streams,
and the fixture muxer.
"""

from __future__ import annotations

from input_data_pipeline_spark.codecs.g711 import _g711_compress
from input_data_pipeline_spark.codecs.jpeg import _decode_jpeg


def encode_avi(frames, usec_per_frame: int = 40000, audio=None,
               audio_rate: int = 8000, audio_format: str = "pcm16") -> bytes:
    """Encode a list of top-down (h, w, 3) BGR uint8 arrays as an
    uncompressed-DIB AVI ('00db' frames, bottom-up 4-byte-padded rows) —
    the sink half of the video surface and the exact inverse of
    :func:`_decode_avi`'s uncompressed path, roundtrip-pinned by test.

    ``audio`` (round 15): a mono int16 sample array written as a second
    'auds' stream — strh + a WAVEFORMATEX strf and one '01wb' data chunk
    in movi — as 16-bit PCM or (``audio_format='ulaw'/'alaw'``) G.711
    codes, the layouts :func:`extract_avi_audio` reads back. The avih
    frame count stays the VIDEO frame count per the spec."""
    import struct

    import numpy as np

    if not frames:
        raise ValueError("encode_avi needs at least one frame")
    planes = [np.ascontiguousarray(f, dtype=np.uint8) for f in frames]
    h, w, ch = planes[0].shape
    if ch != 3 or any(p.shape != (h, w, 3) for p in planes):
        raise ValueError("encode_avi wants uniform (h, w, 3) BGR frames")
    stride = (w * 3 + 3) // 4 * 4

    def dib(p) -> bytes:
        rows = np.zeros((h, stride), np.uint8)
        rows[:, : w * 3] = p.reshape(h, w * 3)[::-1]
        return rows.tobytes()

    def chunk(cid: bytes, body: bytes) -> bytes:
        return cid + struct.pack("<I", len(body)) + body + (
            b"\x00" if len(body) % 2 else b""
        )

    def lst(ltype: bytes, body: bytes) -> bytes:
        return b"LIST" + struct.pack("<I", 4 + len(body)) + ltype + body

    avih = struct.pack(
        "<10I4x4x4x4x", usec_per_frame, 0, 0, 0, len(planes), 0,
        2 if audio is not None else 1, 0, w, h
    )
    strh = (b"vids" + b"DIB ").ljust(56, b"\x00")
    strf = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, stride * h, 0, 0, 0, 0
    )
    strls = lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf))
    movi_chunks = b"".join(chunk(b"00db", dib(p)) for p in planes)
    if audio is not None:
        ext = b""
        if audio_format == "mp3":
            # round 16: a PRE-ENCODED MP3 elementary stream rides as the
            # 'auds' payload (wFormatTag 0x0055, MPEGLAYER3WAVEFORMAT
            # extension); extract_avi_audio's WAV repack routes it to
            # the full MP3 PCM chain
            if not isinstance(audio, (bytes, bytearray)):
                raise ValueError(
                    "mp3 AVI audio wants the pre-encoded stream bytes"
                )
            adata, tag, bits, align = bytes(audio), 0x0055, 0, 1
            ext = struct.pack("<HIHHH", 1, 0, min(len(adata), 0xFFFF), 1, 0)
        else:
            pcm = np.asarray(audio, dtype=np.int16)
            if pcm.ndim != 1:
                raise ValueError("encode_avi wants mono int16 audio")
            if audio_format == "pcm16":
                adata, tag, bits, align = pcm.astype("<i2").tobytes(), 1, 16, 2
            elif audio_format in ("ulaw", "alaw"):
                tag = 7 if audio_format == "ulaw" else 6
                adata = _g711_compress(pcm, audio_format).astype(
                    np.uint8
                ).tobytes()
                bits, align = 8, 1
            else:
                raise ValueError(f"unknown AVI audio format {audio_format!r}")
        astrh = (b"auds" + b"\x00" * 4).ljust(56, b"\x00")
        astrf = struct.pack(  # WAVEFORMATEX, the WAV 'fmt ' body layout
            "<HHIIHH", tag, 1, audio_rate, audio_rate * align, align, bits
        )
        if ext:
            astrf += struct.pack("<H", len(ext)) + ext  # cbSize + extension
        strls += lst(b"strl", chunk(b"strh", astrh) + chunk(b"strf", astrf))
        movi_chunks += chunk(b"01wb", adata)
    hdrl = lst(b"hdrl", chunk(b"avih", avih) + strls)
    movi = lst(b"movi", movi_chunks)
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body




def _decode_avi(payload: bytes, probe: bool = False) -> dict:
    """Parse an uncompressed-DIB AVI container with stdlib ``struct``.

    The video analogue of the WAV/BMP paths: a RIFF chunk walk finds the
    ``avih`` main header (dimensions, frame count, frame interval) and
    collects the frame chunks from the ``movi`` list. Returns ``width,
    height, n_frames, usec_per_frame, frames`` with ``frames`` the list
    of raw bottom-up DIB pixel buffers (frame pixel layout follows the
    BMP convention; :func:`sample_video_frames` normalizes).

    Two frame encodings are REAL here: ``..db`` chunks (uncompressed
    DIB, passed through exactly as stored) and — when the video strf's
    ``biCompression`` fourcc is ``MJPG`` — ``..dc`` chunks, each of
    which is a self-contained JFIF JPEG decoded through
    :func:`_decode_jpeg` and re-laid-out as a bottom-up padded 24-bit
    DIB, so every downstream kernel (frame sampling, fingerprints,
    resize) consumes MJPEG and raw AVIs identically. Per the MJPG
    convention each frame must carry its own quant/huffman tables (the
    table-less ``AVI1``/OpenDML variant with implied tables is out of
    scope and surfaces as the decoder's missing-table ValueError). Any
    OTHER compressed fourcc (``cvid``, ``h264``, …) is rejected loudly
    — interframe codecs need real external decoders, the documented
    seam — as is a file mixing ``..db`` and ``..dc`` frames.

    ``probe=True`` is the metadata-only mode :func:`probe_video` uses
    for routing/budgeting: frame chunks are COUNTED, never copied or
    decoded (a multi-GB blob probes without materializing its pixels),
    compressed ``..dc`` frames count instead of raising (probing exists
    precisely to route those files), and the result carries
    ``compressed``/``n_frames``/``codec`` instead of ``frames``.
    """
    import struct

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not an AVI payload (missing RIFF/'AVI ' magic)")

    avih = None
    bit_count = None
    compression = None  # video strf biCompression fourcc (b"\0\0\0\0" = BI_RGB)
    raw_frames: list[tuple[str, bytes]] = []  # ("db"|"dc", chunk body)
    n_seen = 0
    compressed = False

    def walk(start: int, end: int) -> None:
        nonlocal avih, bit_count, compression, n_seen, compressed
        # fccType of the most recent 'strh' in THIS list only: each LIST
        # level gets its own, so a child strl can never leak its stream
        # type to a later sibling (a stray 'strf' after an audio strl
        # would otherwise be read against the stale type), and a strl
        # whose strf has no preceding strh matches nothing
        stream_type = None
        pos = start
        while pos + 8 <= end:
            cid = payload[pos : pos + 4]
            (size,) = struct.unpack_from("<I", payload, pos + 4)
            body0, body1 = pos + 8, pos + 8 + size
            if body1 > end:
                raise ValueError("truncated AVI: chunk extends past its parent")
            if cid == b"LIST":
                walk(body0 + 4, body1)  # skip the 4-byte list type, recurse
            elif cid == b"avih":
                if size < 40:
                    raise ValueError(f"'avih' chunk too small ({size} bytes)")
                avih = struct.unpack_from("<10I", payload, body0)
            elif cid == b"strh":
                # remember which stream the following strf describes
                stream_type = payload[body0 : body0 + 4]
            elif cid == b"strf" and stream_type == b"vids" and bit_count is None:
                # VIDEO stream format = BITMAPINFOHEADER; biBitCount at +14.
                # An audio stream's strf is a WAVEFORMATEX whose bytes at +14
                # are NOT a bit count — gating on the preceding strh fccType
                # keeps audio-first AVIs from yielding a garbage DIB stride.
                if size < 16:
                    raise ValueError(f"video 'strf' chunk too small ({size} bytes)")
                bit_count = struct.unpack_from("<H", payload, body0 + 14)[0]
                if size >= 20:  # biCompression fourcc at BITMAPINFOHEADER +16
                    compression = payload[body0 + 16 : body0 + 20]
            elif cid[2:4] == b"db":  # uncompressed DIB frame ('00db', '01db', …)
                n_seen += 1
                if not probe:
                    raw_frames.append(("db", payload[body0:body1]))
            elif cid[2:4] == b"dc":  # compressed frame: real iff MJPG
                n_seen += 1
                compressed = True
                if not probe:
                    raw_frames.append(("dc", payload[body0:body1]))
            pos = body1 + (size & 1)  # RIFF pads chunks to even offsets

    walk(12, len(payload))
    if avih is None:
        raise ValueError("no 'avih' main header found")
    usec_per_frame, _, _, _, total_frames, _, _, _, width, height = avih
    if width <= 0 or height <= 0:
        raise ValueError(f"degenerate AVI dimensions {width}x{height}")
    if total_frames != n_seen:
        raise ValueError(
            f"frame count mismatch: avih says {total_frames}, movi has {n_seen}"
        )
    out = {
        "width": width,
        "height": height,
        "bit_count": bit_count if bit_count is not None else 24,
        "n_frames": n_seen,
        "usec_per_frame": usec_per_frame,
    }
    if probe:
        out["compressed"] = compressed
        out["codec"] = (
            compression.decode("ascii", errors="replace")
            if compression not in (None, b"\x00\x00\x00\x00")
            else "DIB"
        )
        return out
    kinds = {k for k, _ in raw_frames}
    if kinds == {"db"} or not raw_frames:
        out["frames"] = [buf for _, buf in raw_frames]
        return out
    if "db" in kinds:  # dc too — one stream, one encoding
        raise ValueError("AVI mixes '..db' and '..dc' frames in one stream")
    if compression not in (b"MJPG", b"mjpg"):
        raise ValueError(
            "compressed AVI frame ('..dc') — needs an external "
            "codec (SURVEY §2.10 U1/U2 seam); only uncompressed "
            "DIB and MJPG are real here"
        )
    import numpy as np

    # Motion-JPEG: every '..dc' chunk is a standalone JFIF JPEG. Decode
    # through the same kernel as still images, then re-lay-out the
    # top-down packed BGR plane as the bottom-up padded DIB every
    # downstream frame consumer already expects.
    stride = (width * 3 + 3) // 4 * 4
    frames = []
    for _, buf in raw_frames:
        m = _decode_jpeg(buf)
        if (m["width"], m["height"]) != (width, height):
            raise ValueError(
                f"MJPG frame is {m['width']}x{m['height']} but the "
                f"container declares {width}x{height}"
            )
        plane = np.frombuffer(m["pixels"], np.uint8).reshape(height, width * 3)
        dib = np.zeros((height, stride), np.uint8)
        dib[:, : width * 3] = plane[::-1]
        frames.append(dib.tobytes())
    out["bit_count"] = 24  # decoded MJPG frames are always 24-bit BGR
    out["frames"] = frames
    return out
