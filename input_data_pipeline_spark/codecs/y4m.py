"""YUV4MPEG2 raw video: the stream-header parse shared by probe and
decode, chroma reconstruction and BT.601 conversion, and the fixture
encoder.
"""

from __future__ import annotations


# Y4M colorspaces this decoder accepts: ((width divisor, height
# divisor), siting mode); None = no chroma planes. "box" = interstitial
# siting reconstructed by nearest replication (C420jpeg's centered
# sample serves all four lumas); "mpeg2" = horizontally CO-SITED with
# the left luma column (half-pel linear between columns), vertically
# interstitial (replication); "paldv" = co-sited horizontally, and
# vertically Cb is sited on EVEN luma rows / Cr on ODD rows with
# half-pel linear between.
_Y4M_CHROMA = {
    b"C444": ((1, 1), "box"),
    b"C422": ((2, 1), "box"),
    b"C411": ((4, 1), "box"),  # round 17: DV-heritage 4:1:1, cosited
    b"C420jpeg": ((2, 2), "box"),
    b"C420mpeg2": ((2, 2), "mpeg2"),
    b"C420paldv": ((2, 2), "paldv"),
    b"Cmono": (None, None),
}


def _y4m_upsample_chroma(plane, w: int, h: int, siting: str, comp: str):
    """Reconstruct a full-resolution (h, w) chroma plane from a
    subsampled one per the colorspace's siting, horizontal pass first
    then vertical, all integer with round-half-up ``(a + b + 1) >> 1``
    half-pel midpoints and edge clamping. ``comp`` ('cb'/'cr') only
    matters for paldv's row-parity siting."""
    import numpy as np

    p = plane.astype(np.int64)
    # horizontal: co-sited with the left luma of each pair
    right = np.concatenate([p[:, 1:], p[:, -1:]], axis=1)
    hh = np.empty((p.shape[0], 2 * p.shape[1]), np.int64)
    hh[:, 0::2] = p
    hh[:, 1::2] = (p + right + 1) >> 1
    hh = hh[:, :w]
    if siting == "mpeg2":  # vertically interstitial: replication
        out = hh.repeat(2, 0)[:h]
    else:  # paldv: Cb sited on even luma rows, Cr on odd
        down = np.concatenate([hh[1:], hh[-1:]], axis=0)
        up = np.concatenate([hh[:1], hh[:-1]], axis=0)
        out = np.empty((2 * hh.shape[0], w), np.int64)
        if comp == "cb":
            out[0::2] = hh
            out[1::2] = (hh + down + 1) >> 1
        else:
            out[1::2] = hh
            out[0::2] = (up + hh + 1) >> 1
        out = out[:h]
    return out.astype(np.uint8)


def _y4m_header(payload: bytes) -> tuple:
    """Parse the YUV4MPEG2 stream header: ``(width, height, rate_num,
    rate_den, chroma subsampling (None for Cmono), chroma siting,
    full_range, offset of the first frame)``. Raises ``ValueError`` on a
    bad magic or missing W/H/F, and ``NotImplementedError`` on an
    unknown colorspace."""
    nl = payload.find(b"\n")
    if not payload.startswith(b"YUV4MPEG2") or nl < 0:
        raise ValueError("not a Y4M payload (missing YUV4MPEG2 magic)")
    w = h = None
    num = den = None
    cs = b"C420jpeg"  # the spec default colorspace is 4:2:0
    full_range = False
    for tokenb in payload[9:nl].split():
        if tokenb[:1] == b"W":
            w = int(tokenb[1:])
        elif tokenb[:1] == b"H":
            h = int(tokenb[1:])
        elif tokenb[:1] == b"F":
            num, den = (int(x) for x in tokenb[1:].split(b":"))
        elif tokenb[:1] == b"C":
            cs = tokenb
        elif tokenb == b"XCOLORRANGE=FULL":
            full_range = True
        # I (interlacing) and A (aspect) params don't affect plane decode
    if not w or not h or not num or not den:
        raise ValueError("Y4M header missing W/H/F parameters")
    if cs not in _Y4M_CHROMA:
        raise NotImplementedError(
            f"Y4M colorspace {cs.decode(errors='replace')} is not "
            "implemented; C444/C422/C411/C420jpeg/C420mpeg2/C420paldv/"
            "Cmono decode"
        )
    sub, siting = _Y4M_CHROMA[cs]
    return w, h, num, den, sub, siting, full_range, nl + 1


def _decode_y4m(payload: bytes) -> dict:
    """YUV4MPEG2 decode (the raw-video interchange format of codec and
    ML pipelines) into the SAME contract as :func:`_decode_avi`:
    ``width/height/n_frames/usec_per_frame/frames`` with each frame a
    bottom-up padded 24-bit BGR DIB. Stream header parameters W/H/F
    (frame rate as a num:den rational) are required; colorspaces
    C444/C422/C420jpeg/Cmono decode by replication and (round-17
    continuation) C420mpeg2/C420paldv reconstruct their co-sited
    half-pel chroma through :func:`_y4m_upsample_chroma`; other
    colorspaces raise by name. BT.601 conversion runs
    FULL-range when the stream carries XCOLORRANGE=FULL (the ffmpeg
    extension) and the Y4M-conventional LIMITED range (Y 16-235,
    C 16-240) otherwise."""
    import numpy as np

    w, h, num, den, sub, siting, full_range, pos = _y4m_header(payload)
    ysz = w * h
    csz = 0 if sub is None else ((w + sub[0] - 1) // sub[0]) * (
        (h + sub[1] - 1) // sub[1]
    )
    fsz = ysz + 2 * csz
    stride = (w * 3 + 3) // 4 * 4
    frames = []
    while pos < len(payload):
        fnl = payload.find(b"\n", pos)
        if not payload[pos:].startswith(b"FRAME") or fnl < 0:
            raise ValueError("Y4M frame boundary missing FRAME marker")
        body0 = fnl + 1
        if body0 + fsz > len(payload):
            raise ValueError("truncated Y4M frame")
        y = np.frombuffer(
            payload[body0 : body0 + ysz], np.uint8
        ).reshape(h, w).astype(np.float64)
        if sub is None:
            cb = cr = None
        else:
            cw = (w + sub[0] - 1) // sub[0]
            chh = (h + sub[1] - 1) // sub[1]
            cb = np.frombuffer(
                payload[body0 + ysz : body0 + ysz + csz], np.uint8
            ).reshape(chh, cw)
            cr = np.frombuffer(
                payload[body0 + ysz + csz : body0 + fsz], np.uint8
            ).reshape(chh, cw)
            if siting == "box":
                cb = cb.repeat(sub[1], 0).repeat(sub[0], 1)[:h, :w]
                cr = cr.repeat(sub[1], 0).repeat(sub[0], 1)[:h, :w]
            else:
                cb = _y4m_upsample_chroma(cb, w, h, siting, "cb")
                cr = _y4m_upsample_chroma(cr, w, h, siting, "cr")
            cb = cb.astype(np.float64)
            cr = cr.astype(np.float64)
        if not full_range:
            y = (y - 16.0) * (255.0 / 219.0)
            if cb is not None:
                cb = (cb - 128.0) * (255.0 / 224.0)
                cr = (cr - 128.0) * (255.0 / 224.0)
        elif cb is not None:
            cb = cb - 128.0
            cr = cr - 128.0
        if cb is None:
            bgr = np.repeat(
                np.clip(np.round(y), 0, 255).astype(np.uint8)[:, :, None],
                3, axis=2,
            )
        else:
            bgr = np.stack(
                [
                    y + 1.772 * cb,
                    y - 0.344136 * cb - 0.714136 * cr,
                    y + 1.402 * cr,
                ],
                axis=2,
            )
            bgr = np.clip(np.round(bgr), 0, 255).astype(np.uint8)
        dib = np.zeros((h, stride), np.uint8)
        dib[:, : w * 3] = bgr.reshape(h, w * 3)[::-1]
        frames.append(dib.tobytes())
        pos = body0 + fsz
    return {
        "width": w,
        "height": h,
        "bit_count": 24,
        "n_frames": len(frames),
        "usec_per_frame": den * 1_000_000 // num,
        "frames": frames,
    }


def encode_y4m(
    yuv_frames, frame_rate=(25, 1), colorspace: bytes = b"C444",
    full_range: bool = True,
) -> bytes:
    """Assemble a REAL YUV4MPEG2 stream — the fixture inverse of
    :func:`_decode_y4m`. ``yuv_frames`` is a list of (y, cb, cr) uint8
    plane triples (cb/cr None for Cmono), each plane already at the
    colorspace's subsampled geometry."""
    import numpy as np

    num, den = frame_rate
    hdr = b"YUV4MPEG2 "
    y0 = np.asarray(yuv_frames[0][0], np.uint8)
    h, w = y0.shape
    hdr += b"W%d H%d F%d:%d Ip A1:1 %s" % (w, h, num, den, colorspace)
    if full_range:
        hdr += b" XCOLORRANGE=FULL"
    out = bytearray(hdr + b"\n")
    for y, cb, cr in yuv_frames:
        out += b"FRAME\n"
        out += np.asarray(y, np.uint8).tobytes()
        if cb is not None:
            out += np.asarray(cb, np.uint8).tobytes()
            out += np.asarray(cr, np.uint8).tobytes()
    return bytes(out)
