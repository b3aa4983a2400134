"""Contracts of the ``codecs`` package: its import layering, the
structural self-checks of its embedded spec tables, the names the
benchmark's kernel timer reads through ``operators.multimodal``, and
malformed input failing as ``ValueError``."""

from __future__ import annotations

import ast
import sys
from pathlib import Path

import pytest

from tests import codec_reference

CODECS = Path(__file__).resolve().parents[1] / "input_data_pipeline_spark" / "codecs"
PKG = "input_data_pipeline_spark.codecs"


def _imported_modules(tree: ast.AST):
    """(line, absolute module name) for every import in ``tree``,
    including function-level ones."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for alias in node.names:
                yield node.lineno, alias.name
        elif isinstance(node, ast.ImportFrom):
            if node.level == 0:
                yield node.lineno, node.module
            elif node.module:
                yield node.lineno, f"{PKG}.{node.module}"
            else:
                for alias in node.names:
                    yield node.lineno, f"{PKG}.{alias.name}"


def test_codecs_import_only_stdlib_numpy_and_siblings():
    """A codec module runs without Spark: it may import the standard
    library, numpy and sibling codec modules, nothing else (no pyspark,
    pandas, ``plans``, ``tables`` or ``operators``)."""
    siblings = {p.stem for p in CODECS.glob("*.py")}
    assert {"route", "bits", "mpeg", "jpeg"} <= siblings
    bad = []
    for path in sorted(CODECS.glob("*.py")):
        for line, mod in _imported_modules(ast.parse(path.read_text())):
            top = mod.split(".")[0]
            if top in sys.stdlib_module_names or top == "numpy":
                continue
            parts = mod.split(".")
            if parts[:2] == PKG.split(".") and len(parts) == 3 and parts[2] in siblings:
                continue
            bad.append(f"{path.name}:{line} imports {mod}")
    assert not bad, bad


@pytest.mark.parametrize(
    "check",
    [
        "_ms_adpcm_check_tables",
        "_mp3_check_band_tables",
        "_check_lsf_nsfb",
        "_validate_mp2_alloc_tables",
        "_t4_check_prefix_free",
        "_g72x_check_tables",
        "_g722_check_tables",
    ],
)
def test_embedded_spec_tables_certify(check):
    """Every embedded spec table passes its structural self-check (prefix
    codes, band partitions, mirror symmetry, quantizer intervals)."""
    getattr(codec_reference, check)()


def test_perfbench_kernels_time_every_codec():
    """The benchmark's kernel timer reads codec names through
    ``operators.multimodal``; each of its six codecs must still build
    and decode, so a dropped re-export fails here first."""
    from perfbench.kernels import CODECS as KERNELS
    from perfbench.kernels import kernel_ms_per_doc

    ms = kernel_ms_per_doc(0)
    assert sorted(ms) == sorted(KERNELS) and len(ms) == 6
    assert all(v > 0 for v in ms.values()), ms


def test_decode_media_reports_malformed_wav_as_valueerror():
    """The stdlib ``wave`` fallthrough of ``decode_media`` re-raises
    wave's errors as ValueError chained to the original, so the decode
    gates' error routing catches them: non-media bytes (wave.Error), a
    30-byte truncated WAV (EOFError) and a WAV whose fmt chunk size is
    flipped (RuntimeError from wave's chunk seek)."""
    import wave

    import numpy as np

    from input_data_pipeline_spark.codecs.route import decode_media
    from input_data_pipeline_spark.codecs.wav import encode_wav

    wav = encode_wav(np.arange(4000, dtype=np.int16))
    flipped = bytearray(wav)
    flipped[16:20] = b"\xff\xff\xff\x7f"  # the fmt chunk's size field
    cases = [
        (b"hello world, not media at all", wave.Error),
        (wav[:30], EOFError),
        (bytes(flipped), RuntimeError),
    ]
    for payload, cause in cases:
        with pytest.raises(ValueError) as exc:
            decode_media(payload)
        assert isinstance(exc.value.__cause__, cause)


def test_decode_media_wav_frames_are_the_frames_read():
    """The ``wave`` fallthrough reports the frames it actually read: a
    WAV whose data-chunk size overstates the samples it carries decodes
    to the samples present, not the header's count."""
    import numpy as np

    from input_data_pipeline_spark.codecs.route import decode_media
    from input_data_pipeline_spark.codecs.wav import encode_wav

    wav = bytearray(encode_wav(np.arange(4000, dtype=np.int16)))
    assert decode_media(bytes(wav))["n_frames"] == 4000
    wav[40:44] = b"\xff\xff\xff\x7f"  # the data chunk's size field
    got = decode_media(bytes(wav))
    assert len(got["pcm"]) == 8000
    assert got["n_frames"] == 4000


def test_decode_media_truncated_ogg_vorbis_is_typed():
    """Every prefix of the Vorbis fixtures either decodes or fails as
    ValueError/NotImplementedError: a cut inside an Ogg page header (the
    27 fixed bytes, read by the container sniff and by the page walk)
    must not surface as IndexError or struct.error."""
    from input_data_pipeline_spark.codecs.ogg import encode_vorbis
    from input_data_pipeline_spark.codecs.route import decode_media
    from input_data_pipeline_spark.operators.multimodal import _vorbis_fixture_plan

    untyped = []
    for d in range(4):
        plan = _vorbis_fixture_plan(d)
        blob = encode_vorbis(
            plan["frames"], channels=plan["channels"], rate=plan["rate"],
            residue_type=plan["rtype"], coupling=plan["coupling"],
            floor_partitioned=plan["partitioned"],
        )
        for n in range(len(blob) + 1):
            try:
                decode_media(blob[:n], "audio")
            except (ValueError, NotImplementedError):
                pass
            except Exception as e:  # noqa: BLE001 - the untyped errors under test
                untyped.append((d, n, type(e).__name__))
    assert not untyped, untyped[:10]


@pytest.mark.parametrize("compression", [2, 3, 4])
def test_ccitt_canvas_is_bounded(compression):
    """A CCITT TIFF whose ImageWidth, ImageLength and RowsPerStrip tags
    are flipped to 0x7FFFFFFF is refused with ValueError before any
    bitmap is allocated, through ``decode_media`` and through each
    decoder directly; the clean file still decodes."""
    import struct

    import numpy as np

    from input_data_pipeline_spark.codecs import fax
    from input_data_pipeline_spark.codecs.route import decode_media
    from input_data_pipeline_spark.codecs.tiff import encode_tiff_g4

    bm = (np.arange(8 * 64).reshape(8, 64) % 7 == 0).astype(np.uint8)
    tiff = encode_tiff_g4(bm, compression=compression)
    assert decode_media(tiff, "image")["n_pixels"] == 8 * 64

    big = 0x7FFFFFFF
    flipped = bytearray(tiff)
    (n_tags,) = struct.unpack_from("<H", flipped, 8)  # IFD at offset 8
    for off in range(10, 10 + 12 * n_tags, 12):
        if struct.unpack_from("<H", flipped, off)[0] in (256, 257, 278):
            struct.pack_into("<I", flipped, off + 8, big)
    with pytest.raises(ValueError, match="fax canvas"):
        decode_media(bytes(flipped), "image")
    decode = {
        2: lambda: fax._mh_decode(b"", big, big),
        3: lambda: fax._g3_decode(b"", big, big, False),
        4: lambda: fax._g4_decode(b"", big, big),
    }[compression]
    with pytest.raises(ValueError, match="fax canvas"):
        decode()
