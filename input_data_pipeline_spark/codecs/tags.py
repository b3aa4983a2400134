"""Audio metadata tags: ID3v1 / ID3v2, Vorbis comments and the WAV LIST/INFO
chunk, read into one flat dict.
"""

from __future__ import annotations

from input_data_pipeline_spark.codecs.riff import _iff_chunk, _iff_chunks


# --- audio tag / metadata extraction (round 17) -------------------------------
#
# Provenance metadata (title/artist/album/date) drives curation joins
# and dedup hints in a real training-data pipeline. All four tag
# systems here are algorithmic: ID3v2.3/2.4 (synchsafe sizes, frame
# text encodings, unsynchronization), the trailing ID3v1 block, Vorbis
# comments (Ogg's OpusTags / \x03vorbis packet), and RIFF LIST/INFO.

_ID3V2_TEXT = {
    "TIT2": "title", "TPE1": "artist", "TALB": "album",
    "TDRC": "date", "TYER": "date", "TRCK": "track", "TCON": "genre",
}
_ID3V22_TEXT = {
    "TT2": "title", "TP1": "artist", "TAL": "album",
    "TYE": "date", "TRK": "track", "TCO": "genre",
}
_WAV_INFO = {
    b"INAM": "title", b"IART": "artist", b"IPRD": "album",
    b"ICRD": "date", b"IGNR": "genre",
}
_VORBIS_KEYS = {
    "title": "title", "artist": "artist", "album": "album",
    "date": "date", "tracknumber": "track", "genre": "genre",
}


def _synchsafe(b: bytes) -> int:
    """28-bit synchsafe integer (ID3v2 §6.2): 4 bytes, 7 bits each."""
    if any(x & 0x80 for x in b):
        raise ValueError("ID3v2 synchsafe byte has bit 7 set")
    return (b[0] << 21) | (b[1] << 14) | (b[2] << 7) | b[3]


def _id3_text(body: bytes) -> str:
    """Decode an ID3v2 text frame body: leading encoding byte 0
    (latin-1), 1 (UTF-16 with BOM), 2 (UTF-16BE) or 3 (UTF-8), then
    the text, tolerant of trailing NULs."""
    if not body:
        return ""
    enc = body[0]
    raw = body[1:]
    if enc == 0:
        s = raw.decode("latin-1")
    elif enc == 1:
        s = raw.decode("utf-16")
    elif enc == 2:
        s = raw.decode("utf-16-be")
    elif enc == 3:
        s = raw.decode("utf-8")
    else:
        raise ValueError(f"ID3v2 text encoding {enc} undefined")
    return s.rstrip("\x00")


def _parse_id3v2(payload: bytes) -> tuple[dict, int]:
    """Parse a leading ID3v2.2/2.3/2.4 tag → (normalized tags, tag
    bytes incl. header). v2.2 (round 17) uses 3-char frame ids with
    3-byte sizes and only encodings 0/1; a v2.2 compression flag
    raises. The unsynchronization flag reverses the 0xFF 0x00 -> 0xFF
    insertion before frame parsing (whole-tag semantics)."""
    if payload[:3] != b"ID3" or len(payload) < 10:
        raise ValueError("not an ID3v2 tag")
    ver, rev, flags = payload[3], payload[4], payload[5]
    if ver not in (2, 3, 4):
        raise ValueError(f"ID3v2.{ver} unknown")
    if ver == 2 and flags & 0x40:
        raise NotImplementedError(
            "ID3v2.2 compressed tags are not implemented (the flag was "
            "never given an on-wire definition); uncompressed v2.2 and "
            "v2.3/v2.4 parse"
        )
    size = _synchsafe(payload[6:10])
    total = 10 + size + (10 if ver != 2 and flags & 0x10 else 0)  # footer
    body = payload[10 : 10 + size]
    if flags & 0x80:  # unsynchronized: drop the inserted 0x00s
        body = body.replace(b"\xff\x00", b"\xff")
    pos = 0
    if ver != 2 and flags & 0x40:  # extended header: self-sized, skip
        if len(body) < 4:
            raise ValueError("truncated ID3v2 extended header")
        ehs = (
            _synchsafe(body[0:4]) if ver == 4
            else int.from_bytes(body[0:4], "big") + 4
        )
        pos = ehs
    idn = 3 if ver == 2 else 4
    hdrn = 6 if ver == 2 else 10
    tags: dict = {}
    while pos + hdrn <= len(body):
        fid = body[pos : pos + idn]
        if fid == bytes(idn):
            break  # padding
        if ver == 2:
            fsz = int.from_bytes(body[pos + 3 : pos + 6], "big")
        elif ver == 4:
            fsz = _synchsafe(body[pos + 4 : pos + 8])
        else:
            fsz = int.from_bytes(body[pos + 4 : pos + 8], "big")
        fbody = body[pos + hdrn : pos + hdrn + fsz]
        if len(fbody) < fsz:
            raise ValueError("truncated ID3v2 frame")
        name = fid.decode("latin-1")
        key = (
            _ID3V22_TEXT.get(name) if ver == 2 else _ID3V2_TEXT.get(name)
        )
        if key and key not in tags:
            if ver == 2 and fbody[:1] not in (b"\x00", b"\x01"):
                raise ValueError(
                    "ID3v2.2 text frames define only encodings 0/1"
                )
            tags[key] = _id3_text(fbody)
        pos += hdrn + fsz
    return tags, total


def _parse_id3v1(payload: bytes) -> dict:
    """The trailing 128-byte ID3v1 'TAG' block → normalized tags (empty
    dict when absent)."""
    if len(payload) < 128 or payload[-128:-125] != b"TAG":
        return {}
    blk = payload[-128:]

    def field(a: int, b: int) -> str:
        return blk[a:b].split(b"\x00")[0].decode(
            "latin-1", errors="replace"
        ).strip()

    out = {}
    for key, a, b in (
        ("title", 3, 33), ("artist", 33, 63), ("album", 63, 93),
        ("date", 93, 97),
    ):
        v = field(a, b)
        if v:
            out[key] = v
    return out


def _parse_vorbis_comments(packet: bytes, skip: int) -> dict:
    """A Vorbis-comment block (after its ``skip``-byte magic): LE32
    vendor length + vendor, LE32 count, then count LE32-length-prefixed
    UTF-8 'KEY=value' entries; keys case-insensitive."""
    import struct

    def u32(at: int) -> int:
        if at + 4 > len(packet):
            raise ValueError("truncated Vorbis comment block")
        return struct.unpack_from("<I", packet, at)[0]

    vlen = u32(skip)
    count = u32(skip + 4 + vlen)
    pos = skip + 8 + vlen
    tags: dict = {}
    for _ in range(count):
        ln = u32(pos)
        pos += 4
        entry = packet[pos : pos + ln].decode("utf-8")
        pos += ln
        if "=" not in entry:
            raise ValueError("Vorbis comment entry missing '='")
        k, v = entry.split("=", 1)
        key = _VORBIS_KEYS.get(k.lower())
        if key and key not in tags:
            tags[key] = v
    return tags


def extract_audio_tags(payload: bytes) -> dict:
    """Normalized provenance tags (title/artist/album/date/track/genre,
    missing keys absent) from whatever tag system the container
    carries: a leading ID3v2.3/2.4 tag (with ID3v1 fallback for keys
    v2 lacks), a bare trailing ID3v1 block, the Vorbis-comment packet
    of an Ogg stream (OpusTags or packet-type-3 vorbis), or RIFF
    LIST/INFO. Containers with no tag system yield {}."""
    if payload[:3] == b"ID3":
        tags, total = _parse_id3v2(payload)
        for k, v in _parse_id3v1(payload).items():
            tags.setdefault(k, v)
        return tags
    if payload[:4] == b"OggS":
        # find the SECOND packet (the comment header) via the page walk
        pos = 0
        packets: list[bytes] = [b""]
        while pos < len(payload) and len(packets) < 3:
            if payload[pos : pos + 4] != b"OggS":
                raise ValueError("Ogg page boundary missing OggS capture")
            if pos + 27 > len(payload):
                raise ValueError("truncated Ogg page header")
            n_segs = payload[pos + 26]
            lace = payload[pos + 27 : pos + 27 + n_segs]
            off = pos + 27 + n_segs
            for lv in lace:
                packets[-1] += payload[off : off + lv]
                off += lv
                if lv < 255:
                    packets.append(b"")
            pos = off
        if len(packets) < 3:
            return {}
        second = packets[1]
        if second[:8] == b"OpusTags":
            return _parse_vorbis_comments(second, 8)
        if second[:7] == b"\x03vorbis":
            return _parse_vorbis_comments(second, 7)
        return {}
    if payload[:4] in (b"RIFF", b"RF64", b"BW64") and payload[8:12] in (
        b"WAVE", b"AVI "
    ):
        tags: dict = {}
        for cid, body0, body1 in _iff_chunks(payload, 12, len(payload), "<"):
            if cid != b"LIST" or payload[body0 : body0 + 4] != b"INFO":
                continue
            for sub, at, end in _iff_chunks(payload, body0 + 4, body1, "<"):
                key = _WAV_INFO.get(sub)
                if key and key not in tags:
                    tags[key] = payload[at:end].split(b"\x00")[0].decode(
                        "utf-8", errors="replace"
                    )
        return tags
    if _parse_id3v1(payload):
        return _parse_id3v1(payload)
    return {}


def encode_id3v2(
    tags: dict, version: int = 4, utf16: bool = False,
    unsync: bool = False, padding: int = 16,
) -> bytes:
    """Assemble a REAL ID3v2.2/2.3/2.4 tag from normalized keys — the
    fixture inverse of :func:`_parse_id3v2`. v2.4 writes synchsafe
    frame sizes and TDRC; v2.3 plain big-endian sizes and TYER; v2.2
    3-char ids with 3-byte sizes; ``utf16`` writes encoding 1 (UTF-16
    with BOM), else UTF-8 (v2.4) or latin-1; ``unsync`` applies the
    whole-tag 0xFF 0x00 insertion and sets the header flag."""
    if version == 2:
        rev = {v: k for k, v in _ID3V22_TEXT.items()}
    else:
        rev = {v: k for k, v in _ID3V2_TEXT.items() if k != "TYER"}
        if version == 3:
            rev["date"] = "TYER"
    body = b""
    for key, val in tags.items():
        fid = rev[key].encode()
        if utf16:
            fb = b"\x01" + val.encode("utf-16")  # BOM included
        elif version == 4:
            fb = b"\x03" + val.encode("utf-8")
        else:
            fb = b"\x00" + val.encode("latin-1")
        if version == 2:
            body += fid + len(fb).to_bytes(3, "big") + fb
        else:
            sz = (
                bytes([(len(fb) >> s) & 0x7F for s in (21, 14, 7, 0)])
                if version == 4
                else len(fb).to_bytes(4, "big")
            )
            body += fid + sz + b"\x00\x00" + fb
    body += bytes(padding)
    flags = 0
    if unsync:
        body = body.replace(b"\xff", b"\xff\x00")
        flags |= 0x80
    hdr = b"ID3" + bytes([version, 0, flags]) + bytes(
        [(len(body) >> s) & 0x7F for s in (21, 14, 7, 0)]
    )
    return hdr + body


def encode_id3v1(tags: dict) -> bytes:
    """The trailing 128-byte ID3v1 block from normalized keys."""
    def pad(s: str, n: int) -> bytes:
        b = s.encode("latin-1", errors="replace")[:n]
        return b + bytes(n - len(b))

    return (
        b"TAG" + pad(tags.get("title", ""), 30)
        + pad(tags.get("artist", ""), 30)
        + pad(tags.get("album", ""), 30)
        + pad(tags.get("date", ""), 4) + bytes(30) + bytes([255])
    )


def make_vorbis_comments(
    tags: dict, opus: bool = True, vendor: str = "fixture"
) -> bytes:
    """An OpusTags / packet-type-3 vorbis comment packet from
    normalized keys — the fixture inverse of
    :func:`_parse_vorbis_comments`."""
    import struct

    rev = {v: k.upper() for k, v in _VORBIS_KEYS.items()}
    out = b"OpusTags" if opus else b"\x03vorbis"
    vb = vendor.encode()
    out += struct.pack("<I", len(vb)) + vb
    out += struct.pack("<I", len(tags))
    for key, val in tags.items():
        entry = (rev[key] + "=" + val).encode("utf-8")
        out += struct.pack("<I", len(entry)) + entry
    if not opus:
        out += b"\x01"  # vorbis framing bit
    return out


def encode_wav_info(wav: bytes, tags: dict) -> bytes:
    """Append a RIFF LIST/INFO chunk with the normalized tags to an
    existing WAV, fixing up the RIFF size (in ds64 for RF64/BW64)."""
    import struct

    rev = {v: k for k, v in _WAV_INFO.items()}
    body = b"INFO" + b"".join(
        _iff_chunk(rev[key], val.encode("utf-8") + b"\x00", "<")
        for key, val in tags.items()
    )
    out = bytearray(wav + _iff_chunk(b"LIST", body, "<"))
    if out[:4] == b"RIFF":
        struct.pack_into("<I", out, 4, len(out) - 8)
    else:  # RF64/BW64: the size field is a sentinel; ds64 holds riffSize
        struct.pack_into("<Q", out, 20, len(out) - 8)
    return bytes(out)
