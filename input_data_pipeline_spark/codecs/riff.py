"""RIFF / IFF chunks: the one chunk walk and the one chunk writer behind
WAV (RIFF and RF64/BW64), AVI, AIFF/AIFF-C and the WAV LIST/INFO tags.

A chunk is a 4-byte id, a 32-bit body size (little-endian in RIFF,
big-endian in an IFF ``FORM``), the body and a pad byte when the size is
odd. ``RIFF``, ``LIST`` and ``FORM`` containers are ordinary chunks whose
body opens with a 4-byte form or list type. CAF (64-bit sizes, no
padding), PNG and MP4 boxes lay their chunks out differently and keep
their own walks.
"""

from __future__ import annotations

import struct


def _iff_chunks(payload: bytes, start: int, end: int, order: str):
    """Yield ``(cid, body0, body1)`` for each chunk between ``start`` and
    ``end``; ``order`` is ``"<"`` for RIFF, ``">"`` for FORM. A chunk
    running past ``end`` raises ``ValueError``; fewer than 8 trailing
    bytes end the walk.

    The top-level walk of an RF64/BW64 payload (EBU 3306, ``start`` 12)
    must open with the ``ds64`` chunk, and a ``data`` chunk whose size is
    the 0xFFFFFFFF sentinel takes its real size from it."""
    rf64 = start == 12 and payload[:4] in (b"RF64", b"BW64")
    ds64_data = None
    pos = start
    while pos + 8 <= end:
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack_from(order + "I", payload, pos + 4)
        lead = rf64 and pos == start
        if lead and cid != b"ds64":
            raise ValueError("RF64 must lead with the ds64 chunk")
        if lead and size < 28:
            raise ValueError("ds64 chunk too small")
        if cid == b"data" and size == 0xFFFFFFFF:
            if ds64_data is None:
                raise ValueError(
                    "data size sentinel 0xFFFFFFFF without a ds64 chunk"
                )
            size = ds64_data
        body0, body1 = pos + 8, pos + 8 + size
        if body1 > end:
            name = payload[8:12].decode("latin-1").strip()
            raise ValueError(f"truncated {name}: chunk extends past its parent")
        if lead:  # riffSize, dataSize, sampleCount: 64-bit each
            (ds64_data,) = struct.unpack_from("<Q", payload, body0 + 8)
        yield cid, body0, body1
        pos = body1 + (size & 1)  # chunks pad to even offsets


def _iff_chunk(cid: bytes, body: bytes, order: str) -> bytes:
    """One chunk: ``cid``, the body size in ``order`` (``"<"`` RIFF,
    ``">"`` FORM), the body and the pad byte an odd size needs."""
    return cid + struct.pack(order + "I", len(body)) + body + b"\x00" * (
        len(body) & 1
    )
