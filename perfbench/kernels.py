"""Driver-side decode-kernel timings, one per codec the media gates use.

Each codec gets ``N_DOCS`` seeded payloads built with the module's own
``encode_*`` functions; only the decode call is timed. The result is the
median milliseconds per document. No Spark is involved, so these numbers
isolate ``operators.multimodal`` kernels from Python-worker dispatch.
"""

from __future__ import annotations

import statistics
import time

import numpy as np


def _g72x(mm, d: int):
    law = ("g721", "g723_24", "g723_40")[d % 3]
    n = 384 + (d % 4) * 64
    i = np.arange(n, dtype=np.float64)
    src = np.round((4000.0 + 125.0 * (d % 8)) * np.sin(2.0 * np.pi * i / (24 + d % 16))).astype(np.int16)
    codes = mm.g72x_encode(src, law)
    return lambda: mm.g72x_decode(codes, law)


def _mpeg1_layer2(mm, d: int):
    rate, bi = ((48000, 10), (44100, 10), (44100, 2), (32000, 2))[d % 4]
    tab = mm._MP2_ALLOC_TABLES[mm._mp2_table_select(mm._MP2_KBPS[bi - 1], 1, rate)]

    def frame(f: int) -> dict:
        alloc = [
            (d + sb + f) % min(4, (1 << mm._mp2_nbal(tab[sb])) - 1) if (sb + d + f) % 3 else 0
            for sb in range(len(tab))
        ]
        samples = []
        for gr in range(12):
            row = []
            for sb, a in enumerate(alloc):
                n = mm._MP2_QC[tab[sb][a - 1]][0] if a else 1
                row.append(((7 * d + gr + sb) % n, (11 * d + 3 * gr + sb) % n, (5 * d + gr + 2 * sb) % n))
            samples.append(row)
        return {
            "alloc": alloc,
            "scfsi": [(d + sb) % 4 for sb in range(len(tab))],
            "scf_idx": [((3 * (d + sb)) % 63, (d + 2 * sb) % 63, (2 * d + 5 * sb) % 63) for sb in range(len(tab))],
            "samples": samples,
        }

    blob = mm.encode_mpeg1_layer2([frame(f) for f in range(2)], bitrate_index=bi, sample_rate=rate)
    return lambda: mm.decode_mpeg1_layer2(blob)


def _jpeg(mm, d: int):
    w, h = 9 + d % 8, 8 + d % 5
    rows = [[(((7 * d + 5 * r + 3 * c) % 236 + 10),) * 3 for c in range(w)] for r in range(h)]
    blob = mm.encode_jpeg(rows_rgb=rows, quant=1, subsampling="444" if d % 2 else "420")
    return lambda: mm.decode_media(blob, "image")


def _vorbis(mm, d: int):
    plan = mm._vorbis_fixture_plan(d)
    blob = mm.encode_vorbis(
        plan["frames"], channels=plan["channels"], rate=plan["rate"],
        residue_type=plan["rtype"], coupling=plan["coupling"],
        floor_partitioned=plan["partitioned"],
    )
    return lambda: mm.decode_media(blob, "audio")


def _tiff_g4(mm, d: int):
    w, h = 18 + d % 13, 10 + d % 7
    i, j = np.mgrid[0:h, 0:w]
    bm = (((7 * j + 3 * i * i + d) % 11) < 4).astype(np.uint8)
    blob = mm.encode_tiff_g4(bm, big_endian=bool(d % 2))
    return lambda: mm.decode_media(blob, "image")


def _audio_tags(mm, d: int):
    tags = {"title": f"Tïtle-{d}", "artist": f"Ärtist-{d % 97}", "date": str(1990 + d % 30)}
    blob = mm.encode_id3v2(tags, version=(2, 3, 4)[d % 3], utf16=bool(d % 2)) + mm.encode_id3v1(
        {"album": f"Album-{d % 53}"}
    )
    return lambda: mm.extract_audio_tags(blob)


N_DOCS = 12
CODECS = {
    "g72x": _g72x,
    "mpeg1_layer2": _mpeg1_layer2,
    "jpeg": _jpeg,
    "vorbis": _vorbis,
    "tiff_g4": _tiff_g4,
    "audio_tags": _audio_tags,
}


def kernel_ms_per_doc(seed: int) -> dict[str, float]:
    """Median decode milliseconds per document for every codec in CODECS."""
    from input_data_pipeline_spark.operators import multimodal as mm

    rng = np.random.default_rng(seed)
    out = {}
    for codec, build in CODECS.items():
        calls = [build(mm, int(d)) for d in rng.integers(0, 5000, N_DOCS)]
        times = []
        for call in calls:
            t0 = time.perf_counter()
            call()
            times.append(time.perf_counter() - t0)
        out[codec] = statistics.median(times) * 1e3
    return out
