"""Contracts of the ``codecs`` package: its import layering, the
structural self-checks of its embedded spec tables, the names the
benchmark's kernel timer reads through ``operators.multimodal``, and
malformed input failing as ``ValueError``; plus one package-wide layering
rule, that the per-core fan-out lives only in ``tables``."""

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


def test_per_core_fan_out_lives_only_in_tables():
    """One partitioning rule: ``tables.fanned_documents`` is the only
    unkeyed ``.repartition(…defaultParallelism)`` in the package; keyed
    repartitions (``repartition(n, cols…)``) are not fan-outs."""
    pkg = CODECS.parent
    found = []
    for path in sorted(pkg.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "repartition"
                and len(node.args) == 1
                and not node.keywords
                and "defaultParallelism" in ast.unparse(node.args[0])
            ):
                found.append(f"{path.relative_to(pkg)}:{node.lineno}")
    assert found and all(f.startswith("tables.py:") for f in found), found


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
    ValueError: a cut inside an Ogg page header (the 27 fixed bytes, read
    by the container sniff and by the page walk) must not surface as
    IndexError or struct.error, and a cut before the identification
    packet is whole is a bad payload, not the Opus seam
    (NotImplementedError)."""
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
            except ValueError:
                pass
            except Exception as e:  # noqa: BLE001 - the untyped errors under test
                untyped.append((d, n, type(e).__name__))
    assert not untyped, untyped[:10]


def _gate_fixtures():
    """(encoder name, modality, the first six docs' payloads) for the
    decode and probe gates' closed-form fixtures, built as the gates in
    ``operators.multimodal`` build them."""
    import numpy as np

    from input_data_pipeline_spark.codecs.flac import encode_flac
    from input_data_pipeline_spark.codecs.jpeg import (
        encode_jpeg,
        encode_jpeg_hierarchical,
        encode_jpeg_lossless,
        encode_jpeg_progressive,
    )
    from input_data_pipeline_spark.codecs.ogg import (
        encode_ogg,
        encode_vorbis,
        make_opus_head,
        make_vorbis_ident,
    )
    from input_data_pipeline_spark.codecs.tiff import encode_tiff
    from input_data_pipeline_spark.operators.multimodal import _vorbis_fixture_plan

    def card(d, w, h):  # jpeg_decode_features' neutral-chroma card
        r, c = np.arange(h).reshape(-1, 1), np.arange(w)
        return np.dstack([(7 * d + 5 * r + 3 * c) % 236 + 10] * 3)

    def jpeg(d):
        if d % 3 == 2:  # jpeg_precision12_features: 12-bit, gray on odd d
            r, c = np.arange(9 + d % 6).reshape(-1, 1), np.arange(10 + d % 7)
            x = ((97 * d + 173 * r + 311 * c) % 4096).astype(np.float64)
            if d % 2:
                return encode_jpeg(gray_rows=x, precision=12)
            return encode_jpeg(rows_rgb=np.stack([x] * 3, axis=2), precision=12)
        # jpeg_decode_features' baseline rows: 4:4:4 (Pq=1 at d % 5 == 0)
        # and 4:2:0 with a restart interval
        v = d % 2
        return encode_jpeg(
            rows_rgb=card(d, 9 + d % 8 + 8 * v, 8 + d % 5), quant=1,
            subsampling="420" if v else "444", restart_interval=v,
            quant16=v == 0 and d % 5 == 0,
        )

    def progressive(d):
        return encode_jpeg_progressive(
            rows_rgb=card(d, 9 + d % 8, 8 + d % 5), quant=1,
            subsampling="420" if d % 2 else "444",
        )

    def jpeg_in_tiff(d):
        # jpeg_in_tiff_decode_features: d % 7 == 4 OJPEG interchange,
        # d % 7 == 2 headerless OJPEG, else JPEG strips, tables hoisted
        # on odd d, non-divisor sampling at d % 5 == 3
        w, h = 9 + d % 8, 8 + d % 5
        oj, hl = d % 7 == 4, d % 7 == 2
        if d % 5 == 3 and not (oj or hl):
            g = np.tile((3 * d) % 120 + 8 * np.arange(w), (h, 1))
            sub = ((2, 1), (3, 1), (3, 1))
        else:
            r, c = np.arange(h).reshape(-1, 1), np.arange(w)
            g = (7 * d + 11 * r + 5 * c) % 256
            sub = "420" if hl and d % 2 else "444"
        plane = np.dstack([g, g, g]).astype(np.uint8)
        be = d % 3 == 2
        if oj:
            return encode_tiff(plane, ojpeg=True, big_endian=be, jpeg_subsampling=sub)
        if hl:
            return encode_tiff(
                plane, ojpeg_headerless=True, big_endian=be, jpeg_subsampling=sub
            )
        return encode_tiff(
            plane, rows_per_strip=3 + d % 3, jpeg=True, jpeg_tables=d % 2 == 1,
            big_endian=be, jpeg_subsampling=sub,
        )

    def lossless(d):
        prec = [8, 12, 16][d % 3]
        i, j = np.mgrid[0 : 6 + d % 5, 0 : 9 + d % 6]
        x = (3 * d + 7 * i * j + 11 * i + 5 * j) % (1 << prec)
        return encode_jpeg_lossless(x, predictor=1 + d % 7, precision=prec)

    def hierarchical(d):
        r, c = np.arange(8 + d % 5).reshape(-1, 1), np.arange(9 + d % 8)
        g = ((7 * d + 11 * r + 5 * c) % 256).astype(np.uint8)
        if d % 2 == 0:
            return encode_jpeg_hierarchical(gray_rows=g, levels=2 + d % 3)
        return encode_jpeg_hierarchical(rows_rgb=np.dstack([g, g, g]), levels=2 + d % 3)

    def flac(d):
        i = np.arange(192 + (d % 5) * 64, dtype=np.int64)
        return encode_flac(
            ((7 * d + 11 * i) % 2001 - 1000).astype(np.int16),
            sample_rate=8000 + (d % 2) * 8000, block_size=64 << (d % 2),
            partition_order=d % 3, force_lpc=([3, -1], 1, 4) if d % 3 == 0 else None,
        )

    def vorbis(d):
        p = _vorbis_fixture_plan(d)
        return encode_vorbis(
            p["frames"], channels=p["channels"], rate=p["rate"],
            residue_type=p["rtype"], coupling=p["coupling"],
            floor_partitioned=p["partitioned"],
        )

    def ogg(d):
        ch, na = 2 if d % 3 == 0 else 1, 5 + d % 7
        audio = [bytes([(d + i) % 256]) * (40 + (d + i) % 50) for i in range(na)]
        if d % 2 == 0:
            heads = [make_opus_head(channels=ch, pre_skip=312, input_rate=44100),
                     b"OpusTags" + (7).to_bytes(4, "little") + b"fixture" + bytes(4)]
            spp, pre = 960, 312
        else:
            heads = [make_vorbis_ident(channels=ch, rate=22050 if d % 4 == 1 else 44100),
                     b"\x03vorbis" + bytes(8) + b"\x01", b"\x05vorbis" + bytes(20)]
            spp, pre = 512, 0
        grans = [pre + spp * min(na, 3 * (k + 1)) for k in range((na + 2) // 3)]
        return encode_ogg(heads + audio, grans, n_header_packets=len(heads),
                          audio_per_page=3)

    return [
        ("encode_jpeg", "image", jpeg),
        ("encode_jpeg_progressive", "image", progressive),
        ("encode_tiff", "image", jpeg_in_tiff),
        ("encode_jpeg_lossless", "image", lossless),
        ("encode_jpeg_hierarchical", "image", hierarchical),
        ("encode_flac", "audio", flac),
        ("encode_vorbis", "audio", vorbis),
        ("encode_ogg", "audio", ogg),
    ]


def _mutants(rng, blobs, n=60):
    """(k, mutant) for ``n`` mutants cycling over ``blobs``: alternately a
    truncation and 1-5 byte flips in the first 256 bytes."""
    for k in range(n):
        blob = blobs[k % len(blobs)]
        if k % 2 == 0:
            yield k, blob[: rng.randrange(len(blob))]
        else:
            flipped = bytearray(blob)
            for _ in range(rng.randint(1, 5)):
                flipped[rng.randrange(min(256, len(blob)))] ^= rng.randrange(1, 256)
            yield k, bytes(flipped)


def test_gate_fixture_mutants_fail_typed():
    """Seeded fuzz over the gates' own fixtures: 60 mutants per encoder,
    alternately a truncation and 1-5 byte flips in the first 256 bytes.
    ``decode_media`` (and ``probe_audio`` for audio) must decode each or
    fail as ValueError/NotImplementedError, the two errors the gates
    route; an IndexError, KeyError, struct.error or OverflowError from a
    header or table parser is a bug."""
    import random

    from input_data_pipeline_spark.codecs.route import decode_media, probe_audio

    rng = random.Random(7)
    untyped = []
    for name, modality, build in _gate_fixtures():
        blobs = [build(d) for d in range(6)]
        calls = [lambda b, m=modality: decode_media(b, m)]
        if modality == "audio":
            calls.append(probe_audio)
        for k, mutant in _mutants(rng, blobs):
            for call in calls:
                try:
                    call(mutant)
                except (ValueError, NotImplementedError):
                    pass
                except Exception as e:  # noqa: BLE001 - the untyped errors under test
                    untyped.append((name, k, type(e).__name__, str(e)[:60]))
    assert not untyped, untyped[:10]


def _tiff_fixture(form, d):
    """Doc ``d`` of one non-JPEG TIFF form, built as the gates build it:
    ``tiff_decode_features``' RGB card, byte order and strip height with
    the form's coding, or ``tiff_g4_decode_features``' bilevel page with
    the form's CCITT coding. No gate emits deflate, so its forms are
    named here."""
    import numpy as np

    from input_data_pipeline_spark.codecs.tiff import encode_tiff, encode_tiff_g4

    ccitt = {
        "g4": dict(compression=4),
        "g3_1d": dict(compression=3),
        "g3_2d": dict(compression=3, two_d=True),
        "g3_2d_uncompressed": dict(compression=3, two_d=True, uncompressed=True),
        "mh": dict(compression=2),
    }
    if form in ccitt:
        w, h = 18 + d % 13, 10 + d % 7
        i, j = np.mgrid[0:h, 0:w]
        bm = (((7 * j + 3 * i * i + d) % 11) < 4).astype(np.uint8)
        return encode_tiff_g4(
            bm, big_endian=d % 2 == 1, photometric=(d // 2) % 2, **ccitt[form]
        )
    coding = {
        "raw": {},
        "packbits": dict(packbits=True),
        "lzw": dict(lzw=True),
        "lzw_predictor2": dict(lzw=True, predictor2=True),
        "deflate": dict(deflate=True),
        "deflate_predictor2": dict(deflate=True, predictor2=True),
        "planar2": dict(planar2=True),
    }[form]
    w, h = 6 + d % 3, 5 + d % 4
    r, c = np.arange(h).reshape(-1, 1), np.arange(w)
    plane = np.dstack([
        (19 * d + 7 * r + 31 * c) % 256,
        (11 * d + 5 * r + 23 * c) % 256,
        (3 * d + 13 * r + 37 * c) % 256,
    ]).astype(np.uint8)
    return encode_tiff(
        plane, big_endian=d % 2 == 1, rows_per_strip=1 + d % 3, **coding
    )


_TIFF_FORMS = [
    "raw", "packbits", "lzw", "lzw_predictor2", "deflate",
    "deflate_predictor2", "planar2",
    "g4", "g3_1d", "g3_2d", "g3_2d_uncompressed", "mh",
]


@pytest.mark.parametrize("form", _TIFF_FORMS)
def test_tiff_fixture_mutants_fail_typed(form):
    """The gate fuzz's seed and mutation rule over the non-JPEG TIFF
    forms: every mutant decodes or fails as ValueError/NotImplementedError.
    A corrupt deflate strip must not escape as ``zlib.error``."""
    import random

    from input_data_pipeline_spark.codecs.route import decode_media

    blobs = [_tiff_fixture(form, d) for d in range(6)]
    for blob in blobs:
        decode_media(blob, "image")  # the clean fixtures decode
    untyped = []
    for k, mutant in _mutants(random.Random(7), blobs):
        try:
            decode_media(mutant, "image")
        except (ValueError, NotImplementedError):
            pass
        except Exception as e:  # noqa: BLE001 - the untyped errors under test
            untyped.append((k, type(e).__name__, str(e)[:60]))
    assert not untyped, untyped[:10]


def test_inflate_stops_at_the_expected_size():
    """A deflate strip or IDAT that inflates past the size its header
    implies stops one byte past it and fails the length check as
    ValueError, without inflating the rest."""
    import struct
    import zlib

    import numpy as np

    from input_data_pipeline_spark.codecs.image import _decode_png, _inflate, encode_png
    from input_data_pipeline_spark.codecs.tiff import _decode_tiff, encode_tiff

    bomb = zlib.compress(bytes(16 << 20), 9)  # 16 MiB of zeros in ~16 KB
    assert len(_inflate(bomb, 101, "test")) == 101
    with pytest.raises(ValueError, match="truncated"):
        _inflate(zlib.compress(bytes(1000))[:-5], 1 << 30, "test")
    with pytest.raises(ValueError, match="corrupt test DEFLATE"):
        _inflate(b"\xff\xff not deflate", 10, "test")

    plane = np.zeros((4, 5, 3), dtype=np.uint8)
    tiff = encode_tiff(plane, deflate=True)
    strip = zlib.compress(bytes(4 * 5 * 3))
    assert tiff.endswith(strip)
    # the one strip's offset and count sit inline: point them at a bomb
    big = bytearray(tiff[: -len(strip)] + bomb)
    (n_tags,) = struct.unpack_from("<H", big, 8)
    for off in range(10, 10 + 12 * n_tags, 12):
        if struct.unpack_from("<H", big, off)[0] == 279:
            struct.pack_into("<I", big, off + 8, len(bomb))
    with pytest.raises(ValueError, match="strip length mismatch"):
        _decode_tiff(bytes(big))

    for interlace in (False, True):
        png = encode_png(np.zeros((3, 4, 3), dtype=np.uint8), interlace=interlace)
        at = png.index(b"IDAT") - 4
        (n,) = struct.unpack_from(">I", png, at)
        body = b"IDAT" + bomb
        swapped = (
            png[:at] + struct.pack(">I", len(bomb)) + body
            + struct.pack(">I", zlib.crc32(body)) + png[at + 12 + n:]
        )
        with pytest.raises(ValueError, match="mismatch"):
            _decode_png(swapped)


def test_tiff_zero_image_length_is_typed():
    """ImageLength 0 with RowsPerStrip 0 leaves no strip height to divide
    by: the planar and chunky baseline paths fail as ValueError, not
    ZeroDivisionError."""
    import struct

    import numpy as np

    from input_data_pipeline_spark.codecs.tiff import _decode_tiff, encode_tiff

    for planar2 in (False, True):
        blob = bytearray(encode_tiff(np.zeros((2, 3, 3), np.uint8), planar2=planar2))
        (n_tags,) = struct.unpack_from("<H", blob, 8)
        for off in range(10, 10 + 12 * n_tags, 12):
            if struct.unpack_from("<H", blob, off)[0] in (257, 278):
                struct.pack_into("<I", blob, off + 8, 0)
        with pytest.raises(ValueError):
            _decode_tiff(bytes(blob))


def _ifd_entries(blob):
    """(tag, type, count, 4-byte value slot) for each entry of the first
    IFD, with the byte order and the next-IFD offset."""
    import struct

    e = "<" if blob[:2] == b"II" else ">"
    (ifd,) = struct.unpack_from(e + "I", blob, 4)
    (n,) = struct.unpack_from(e + "H", blob, ifd)
    entries = [
        struct.unpack_from(e + "HHI", blob, ifd + 2 + 12 * t)
        + (blob[ifd + 10 + 12 * t: ifd + 14 + 12 * t],)
        for t in range(n)
    ]
    (next_ifd,) = struct.unpack_from(e + "I", blob, ifd + 2 + 12 * n)
    return e, entries, next_ifd, ifd + 6 + 12 * n


def test_tiff_ifds_are_sorted_with_left_justified_shorts():
    """Every IFD ``encode_tiff`` and ``encode_tiff_g4`` write lists its
    entries in ascending tag order (TIFF 6.0 §2), holds each SHORT scalar
    left-justified in its value slot, keeps every out-of-line array
    inside the file past the IFD, and ends the IFD chain: all forms, both
    byte orders, one strip and several. The shared writer refuses
    unsorted entries."""
    import struct

    import numpy as np

    from input_data_pipeline_spark.codecs.tiff import (
        _decode_tiff,
        _tiff_file,
        encode_tiff,
        encode_tiff_g4,
    )

    r, c = np.arange(7).reshape(-1, 1), np.arange(9)
    g = ((11 * r + 5 * c) % 256).astype(np.uint8)
    plane = np.dstack([g, (g * 3) % 256, (g * 7) % 256])
    strip_forms = [
        {}, dict(packbits=True), dict(lzw=True), dict(lzw=True, predictor2=True),
        dict(deflate=True), dict(deflate=True, predictor2=True),
        dict(planar2=True), dict(planar2=True, lzw=True, predictor2=True),
        dict(jpeg=True), dict(jpeg=True, jpeg_tables=True),
    ]
    blobs = [
        encode_tiff(plane, big_endian=be, rows_per_strip=rps, **kw)
        for kw in strip_forms for be in (False, True) for rps in (None, 2)
    ]
    blobs += [
        encode_tiff(plane, big_endian=be, **kw)
        for kw in (dict(ojpeg=True), dict(ojpeg_headerless=True),
                   dict(ojpeg_headerless=True, jpeg_subsampling="420"))
        for be in (False, True)
    ]
    bm = ((7 * c + 3 * r * r) % 11 < 4).astype(np.uint8)
    blobs += [
        encode_tiff_g4(bm, big_endian=be, **kw)
        for kw in (dict(compression=4), dict(compression=3),
                   dict(compression=3, two_d=True),
                   dict(compression=3, two_d=True, uncompressed=True),
                   dict(compression=2))
        for be in (False, True)
    ]
    multi_strip = 0
    for blob in blobs:
        e, entries, next_ifd, ifd_end = _ifd_entries(blob)
        tids = [t[0] for t in entries]
        assert tids == sorted(set(tids)), tids
        assert next_ifd == 0
        for tid, ttype, count, slot in entries:
            size = {3: 2, 4: 4, 7: 1}[ttype] * count
            if size <= 4:
                # inline values fill the slot from its first byte
                assert slot[size:] == bytes(4 - size), (e, tid, slot)
            else:
                (at,) = struct.unpack(e + "I", slot)
                assert ifd_end <= at and at + size <= len(blob), (e, tid)
        shorts = {t[0]: struct.unpack(e + "H", t[3][:2])[0] for t in entries
                  if t[1] == 3 and t[2] == 1}
        meta = _decode_tiff(blob)
        assert shorts[277] in (1, 3) and shorts[259] in (1, 2, 3, 4, 5, 6, 7, 8, 32773)
        assert meta["n_pixels"] == 9 * 7
        multi_strip += dict((t[0], t[2]) for t in entries).get(273, 1) > 1
    assert multi_strip > 0
    with pytest.raises(ValueError, match="ascending tag order"):
        _tiff_file(False, [(257, 4, 1, 1), (256, 4, 1, 1)])
    with pytest.raises(ValueError, match="ascending tag order"):
        _tiff_file(True, [(256, 4, 1, 1), (256, 4, 1, 1)])


def test_jpeg_stuffed_writer_matches_bitwise_reference():
    """The ``np.packbits`` entropy writer every JPEG encoder shares is
    byte-identical to the bit-at-a-time reference, on long random inputs
    and on degenerate ones: runs of all-ones codes that emit consecutive
    0xFF bytes, 16-bit codes, zero-width entries, an empty interval, and
    1-bit padding that completes an 0xFF byte at the interval's end."""
    import random

    from input_data_pipeline_spark.codecs.jpeg import _jpeg_stuffed_bits

    ref = codec_reference._jpeg_stuffed_bits_ref
    cases = [
        ([], []),
        ([5, 0, 7], [0, 0, 0]),
        ([0xFFFF] * 300, [16] * 300),
        ([1] * 2000, [1] * 2000),
        ([0x7F], [7]),
        ([0x3, 0x7F, 0x1], [2, 7, 1]),
        ([0xABCD, 0x5], [4, 0]),
    ]
    rng = random.Random(16)
    for _ in range(30):
        n = rng.randrange(1, 4000)
        widths = [rng.choice([0, 1, 2, 3, 7, 8, 9, 15, 16]) for _ in range(n)]
        # half the entries all-ones so 0xFF bytes (and runs of them) occur
        values = [
            (1 << w) - 1 if rng.random() < 0.5 else rng.getrandbits(16)
            for w in widths
        ]
        cases.append((values, widths))
    for values, widths in cases:
        assert _jpeg_stuffed_bits(values, widths) == ref(values, widths), (
            values[:8], widths[:8])
    assert _jpeg_stuffed_bits([0xFFFF] * 300, [16] * 300) == b"\xff\x00" * 600
    assert _jpeg_stuffed_bits([0x7F], [7]) == b"\xff\x00"
    assert _jpeg_stuffed_bits([5], [0]) == b""


def test_headerless_ojpeg_geometry_is_bounded():
    """The headerless OJPEG rebuild writes ImageWidth and each strip's row
    count into 16-bit SOF0 fields: a width or a strip height above 65,535,
    and a strip with no rows left (more strips than rows), are refused as
    ValueError instead of overflowing; the clean file still decodes."""
    import struct

    import numpy as np

    from input_data_pipeline_spark.codecs.route import decode_media
    from input_data_pipeline_spark.codecs.tiff import encode_tiff

    g = ((11 * np.arange(8)[:, None] + 5 * np.arange(9)) % 256).astype(np.uint8)
    tiff = encode_tiff(np.dstack([g, g, g]), ojpeg_headerless=True)
    assert decode_media(tiff, "image")["n_pixels"] == 8 * 9

    def patched(edits):  # {tag: [(byte offset in the IFD entry, LONG)]}
        out = bytearray(tiff)
        (n_tags,) = struct.unpack_from("<H", out, 8)  # IFD at offset 8
        for off in range(10, 10 + 12 * n_tags, 12):
            for at, value in edits.get(struct.unpack_from("<H", out, off)[0], ()):
                struct.pack_into("<I", out, off + at, value)
        return bytes(out)

    count, value = 4, 8
    for edits in (
        {256: [(value, 70_000)]},  # ImageWidth
        {257: [(value, 70_000)], 278: [(value, 70_000)]},  # a 70,000-row strip
        # three strips of RowsPerStrip 8 over 8 rows: 0 and -8 rows left
        {273: [(count, 3)], 279: [(count, 3)]},
    ):
        with pytest.raises(ValueError, match="16-bit frame fields"):
            decode_media(patched(edits), "image")


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


def _md5_granule(tag, d, gi, gg):
    """The MP3 gates' md5-derived Layer III granule (doc-injective line
    pattern), as ``cross_codec_audio_dedup`` ("xc") and
    ``mp3_container_routing_features`` ("mc") build it."""
    import hashlib

    seed = hashlib.md5(f"{tag}:{d}:{gi}".encode()).digest()
    is_vals = [0] * 576
    for i in range(480):
        b = hashlib.md5(seed + i.to_bytes(2, "big")).digest()[0]
        if b < 64:
            is_vals[i] = 1 if b % 2 == 0 else -1
    return {"is": is_vals, "global_gain": gg, "scalefac": [0] * 21,
            "big_values": 240, "scalefac_scale": 1, "scalefac_compress": 0}


def _riff_fixture(form, d):
    """Doc ``d`` of one RIFF/AIFF form, built as its gate in
    ``operators.multimodal`` builds it."""
    import numpy as np

    from input_data_pipeline_spark.codecs import wav
    from input_data_pipeline_spark.codecs.aiff_caf import encode_aiff
    from input_data_pipeline_spark.codecs.avi import encode_avi
    from input_data_pipeline_spark.codecs.g711 import _g711_expand
    from input_data_pipeline_spark.codecs.mpeg import encode_mp3_l3
    from input_data_pipeline_spark.codecs.ogg import encode_ogg, make_opus_head
    from input_data_pipeline_spark.codecs.route import decode_media
    from input_data_pipeline_spark.codecs.tags import (
        encode_id3v1, encode_id3v2, encode_wav_info, make_vorbis_comments,
    )

    def sine(n, ch, amp, period, shift):  # the ADPCM/AIFF gates' sine card
        i = np.arange(n, dtype=np.float64)
        return np.stack([
            np.round(amp * np.sin(2.0 * np.pi * (i + shift * c) / period))
            .astype(np.int16) for c in range(ch)
        ], axis=1).reshape(-1)

    def small_frames(nf):  # the AVI audio gates' flat video frames
        return [np.full((3, 4, 3), (d + 17 * f) % 256, np.uint8) for f in range(nf)]

    if form == "avi_video":  # video_decode_features
        w, h, nf = 4 + d % 3, 3 + d % 2, 2 + d % 3
        r, c = np.arange(h, dtype=np.int64).reshape(-1, 1), np.arange(w, dtype=np.int64)
        return encode_avi([np.dstack([
            (3 * d + 7 * f + 11 * r + 13 * c) % 256,
            (5 * d + 9 * f + 3 * r + 17 * c) % 256,
            (d + 2 * f + 23 * r + 29 * c) % 256,
        ]).astype(np.uint8) for f in range(nf)])
    if form == "avi_audio":  # avi_audio_extract_features
        i = np.arange(256 + (d % 4) * 64, dtype=np.int64)
        sr = 8000 + (d % 3) * 4000
        if d % 2 == 0:
            src = _g711_expand(((13 * d + 7 * i) % 256).astype(np.uint8), "ulaw")
            return encode_avi(small_frames(2 + d % 3), audio=src.astype(np.int16),
                              audio_rate=sr, audio_format="ulaw")
        src = ((11 * d + 5 * i) % 4001 - 2000).astype(np.int16)
        return encode_avi(small_frames(2 + d % 3), audio=src, audio_rate=sr)
    if form in ("avi_mp3", "wav_mp3"):  # mp3_container_routing_features
        gg = 170 + 4 * (d % 3)
        mp3 = encode_mp3_l3([_md5_granule("mc", d, 0, gg), _md5_granule("mc", d, 1, gg)])
        if form == "wav_mp3":
            return wav.encode_wav_mp3(mp3, 44100, n_frames=1200 + (d % 5) * 100)
        return encode_avi(small_frames(2 + d % 3), audio=mp3, audio_rate=44100,
                          audio_format="mp3")
    if form == "wav_codes":  # g711_decode_features
        i = np.arange(128 + (d % 5) * 32, dtype=np.int64)
        tag = wav._WAVE_FORMAT_MULAW if d % 2 == 0 else wav._WAVE_FORMAT_ALAW
        codes = ((17 * d + 31 * i) % 256).astype(np.uint8).tobytes()
        return wav.encode_wav_codes(codes, tag)
    if form == "wav_float":  # cross_codec_audio_dedup's float WAV
        gg = 170 + 4 * (d % 3)
        silent = {"is": [0] * 576, "global_gain": 210, "scalefac": [0] * 21,
                  "big_values": 0, "scalefac_scale": 1, "scalefac_compress": 0}
        mp3 = encode_mp3_l3([silent, _md5_granule("xc", d, 0, gg),
                             _md5_granule("xc", d, 1, gg), silent])
        y = np.frombuffer(decode_media(mp3, "audio")["pcm"], "<i2")
        return wav.encode_wav_float(y, frame_rate=44100)
    if form == "wav_ms_adpcm":  # ms_adpcm_decode_features
        ch, n = 1 + d % 2, 128 * (2 + d % 3)
        src = sine(n, ch, 2500.0 + 100.0 * (d % 8), 20 + d % 12, 5.0)
        data, ba, _ = wav.encode_ms_adpcm(src, n_channels=ch, frames_per_block=128,
                                          predictor=d % 7)
        fact = n - (7 if d % 5 == 0 else 0)
        rate = (8000, 11025, 16000)[d % 3]
        return wav.encode_wav_ms_adpcm(data, ba, ch, rate, fact, 128)
    if form.startswith("wav_ext_") or form == "wav_rf64":  # wav_ext_decode_features
        v, ch, n = d % 4, 2 if d % 3 == 0 else 1, 160 + (d % 7) * 16
        rate = (16000, 22050, 48000)[d % 3]
        mask = 0x3 if ch == 2 else 0x4
        j = np.arange(n * ch, dtype=np.int64)
        src = ((11 * d + 7 * j) % 2001 - 1000).astype(np.int16)
        if v == 1:
            f = (src.astype(np.float32) / np.float32(32768.0)).astype("<f4").tobytes()
            return wav.encode_wav_extensible(
                f, wav._WAVE_FORMAT_IEEE_FLOAT, ch, rate, 32, channel_mask=mask
            )
        if v == 2:
            codes = ((17 * d + 31 * j) % 256).astype(np.uint8).tobytes()
            return wav.encode_wav_extensible(codes, wav._WAVE_FORMAT_ALAW, ch, rate, 8,
                                             valid_bits=8, channel_mask=mask)
        return wav.encode_wav_extensible(
            src.astype("<i2").tobytes(), wav._WAVE_FORMAT_PCM, ch, rate, 16,
            channel_mask=mask, **(dict(n_frames=n, rf64=True) if v == 3 else {}),
        )
    if form.startswith("aiff_"):  # aiff_decode_features
        comp, width = ((b"NONE", 2), (b"sowt", 2), (b"NONE", 1), (b"fl32", 2),
                       (b"ulaw", 2), (b"alaw", 2), (b"ima4", 2))[d % 7]
        ch = 2 if d % 3 == 0 else 1
        src = sine(64 * (3 + d % 3), ch, 2600.0 + 90.0 * (d % 9), 19 + d % 14, 7.0)
        return encode_aiff(src, (8000, 22050, 44100)[d % 3], comp=comp,
                           n_channels=ch, width=width)
    # audio_tags_features
    v = d % 5
    tags = {"title": f"Tïtle-{d}", "artist": f"Ärtist-{d % 97}",
            "album": f"Album-{d % 53}", "date": str(1990 + d % 30)}
    if v == 2:
        return encode_ogg([make_opus_head(), make_vorbis_comments(tags), bytes(40)],
                          [960], n_header_packets=2)
    if v == 3:
        i = np.arange(64, dtype=np.int64)
        pcm = ((7 * d + 11 * i) % 1001 - 500).astype(np.int16)
        return encode_wav_info(wav.encode_wav(pcm), tags)
    return encode_id3v2(
        {k: tags[k] for k in ("title", "artist", "date")},
        version={0: 4, 1: 3, 4: 2}[v], utf16=v in (1, 4), unsync=v == 1,
    ) + encode_id3v1({"album": tags["album"]})


# form -> (modality, doc-id step, first doc id): each form's six docs are
# the gate's docs that build it
_RIFF_FORMS = {
    "avi_video": ("video", 1, 0),
    "avi_audio": ("video", 1, 0),
    "avi_mp3": ("video", 2, 1),
    "wav_mp3": ("audio", 2, 0),
    "wav_codes": ("audio", 1, 0),
    "wav_float": ("audio", 1, 0),
    "wav_ms_adpcm": ("audio", 1, 0),
    "wav_ext_pcm16": ("audio", 4, 0),
    "wav_ext_f32": ("audio", 4, 1),
    "wav_ext_alaw": ("audio", 4, 2),
    "wav_rf64": ("audio", 4, 3),
    **{f"aiff_{name}": ("audio", 7, v) for v, name in enumerate(
        ("pcm16", "sowt", "pcm8", "fl32", "ulaw", "alaw", "ima4"))},
    **{f"tags_{name}": ("audio", 5, v) for v, name in enumerate(
        ("id3v24", "id3v23_unsync", "ogg", "wav_info", "id3v22_utf16"))},
}


@pytest.mark.parametrize("form", sorted(_RIFF_FORMS))
def test_riff_fixture_mutants_fail_typed(form):
    """The gate fuzz's seed and mutation rule over the RIFF/AIFF forms
    and the audio-tag forms: ``decode_media``, the probe,
    ``extract_avi_audio`` (AVI) and ``extract_audio_tags`` must each
    return or raise ValueError/NotImplementedError on every mutant; a
    ``struct.error``, ``IndexError`` or ``OverflowError`` from a chunk
    walk or a header field is a bug."""
    import random

    from input_data_pipeline_spark.codecs.route import (
        decode_media, extract_avi_audio, probe_audio, probe_video,
    )
    from input_data_pipeline_spark.codecs.tags import extract_audio_tags

    modality, step, first = _RIFF_FORMS[form]
    blobs = [_riff_fixture(form, first + step * k) for k in range(6)]
    calls = [lambda b: decode_media(b, modality), extract_audio_tags]
    calls += [probe_video, extract_avi_audio] if modality == "video" else [probe_audio]
    if not form.startswith("tags_"):
        for blob in blobs:  # the clean fixtures decode
            decode_media(blob, modality)
    untyped = []
    for k, mutant in _mutants(random.Random(7), blobs):
        for call in calls:
            try:
                call(mutant)
            except (ValueError, NotImplementedError):
                pass
            except Exception as e:  # noqa: BLE001 - the untyped errors under test
                untyped.append((k, call.__name__, type(e).__name__, str(e)[:60]))
    assert not untyped, untyped[:10]


def test_extract_audio_tags_prefixes_are_typed():
    """Every prefix of the ``wav_info`` and Ogg tag fixtures, and the
    ``wav_info`` file with its LIST size flipped past the payload, yields
    tags or ValueError: the RIFF branch walks chunks with the checked
    walker, and the Ogg branch checks the 27-byte page header and the
    comment block's lengths before it reads them."""
    import struct

    from input_data_pipeline_spark.codecs.tags import extract_audio_tags

    info = _riff_fixture("tags_wav_info", 3)
    flipped = bytearray(info)
    struct.pack_into("<I", flipped, info.index(b"LIST") + 4, 0x7FFFFFFF)
    untyped = []
    for blob in (info, _riff_fixture("tags_ogg", 2)):
        for payload in [blob[:n] for n in range(len(blob) + 1)] + [bytes(flipped)]:
            try:
                extract_audio_tags(payload)
            except ValueError:
                pass
            except Exception as e:  # noqa: BLE001 - the untyped errors under test
                untyped.append((len(payload), type(e).__name__))
    assert not untyped, untyped[:10]


def test_extract_audio_tags_reads_rf64_info_after_data():
    """An RF64 WAV's data chunk carries the 0xFFFFFFFF size sentinel; the
    walk takes the real size from ds64, so a LIST/INFO chunk after the
    data comes back as it does from the same tags on a RIFF WAV."""
    import numpy as np

    from input_data_pipeline_spark.codecs.tags import encode_wav_info, extract_audio_tags
    from input_data_pipeline_spark.codecs.wav import (
        _WAVE_FORMAT_PCM, _parse_wav_chunks, encode_wav_extensible,
    )

    tags = {"title": "Tïtle", "artist": "Ärtist", "date": "1999"}
    pcm = np.arange(33, dtype="<i2").tobytes()  # odd frame count: a padded data chunk
    for rf64 in (False, True):
        wav = encode_wav_extensible(
            pcm, _WAVE_FORMAT_PCM, 1, 8000, 16, n_frames=33, rf64=rf64
        )
        blob = encode_wav_info(wav, tags)
        assert extract_audio_tags(blob) == tags
        assert _parse_wav_chunks(blob)["data"] == pcm
    assert blob[:8] == b"RF64\xff\xff\xff\xff"
    assert int.from_bytes(blob[20:28], "little") == len(blob) - 8  # ds64 riffSize


def test_probe_and_decode_agree_past_a_junk_chunk():
    """A JUNK chunk before 'fmt ' whose body spells ``fmt `` does not
    fool either reader: both walk the chunks and report the same 64
    PCM frames."""
    import numpy as np

    from input_data_pipeline_spark.codecs.route import decode_media, probe_audio
    from input_data_pipeline_spark.codecs.wav import encode_wav

    wav = encode_wav(np.arange(64, dtype=np.int16))
    junk = b"JUNK" + (12).to_bytes(4, "little") + b"fmt " + bytes(8)
    body = wav[8:12] + junk + wav[12:]
    blob = wav[:4] + len(body).to_bytes(4, "little") + body
    assert probe_audio(blob)["n_frames"] == 64
    got = decode_media(blob, "audio")
    assert got["n_frames"] == 64
    assert got["pcm"] == np.arange(64, dtype="<i2").tobytes()


def test_aiff_rate_exponent_out_of_range_is_typed():
    """An 80-bit COMM sample rate whose exponent puts it at 2**64 Hz or
    beyond is refused as ValueError (it overflowed a float before), and
    through ``decode_media``/``probe_audio`` too."""
    import numpy as np

    from input_data_pipeline_spark.codecs.aiff_caf import _f80_decode, encode_aiff
    from input_data_pipeline_spark.codecs.route import decode_media, probe_audio

    def f80(exp):  # 1.0 * 2**(exp - 16383)
        return exp.to_bytes(2, "big") + bytes([0x80]) + bytes(7)

    assert _f80_decode(f80(16383 + 63)) == 2.0 ** 63
    for exp in (16383 + 64, 0x7FFE):
        with pytest.raises(ValueError, match="out of range"):
            _f80_decode(f80(exp))
    blob = bytearray(encode_aiff(np.zeros(64, np.int16), 8000))
    at = blob.index(b"COMM") + 16  # the rate's sign-and-exponent bytes
    blob[at : at + 2] = (0x7F00).to_bytes(2, "big")
    for call in (lambda b: decode_media(b, "audio"), probe_audio):
        with pytest.raises(ValueError, match="out of range"):
            call(bytes(blob))


def test_wav_zero_channels_is_typed():
    """A 'fmt ' chunk declaring zero channels is refused by the chunk
    parse, so the G.711, float and extensible-PCM arms never divide by
    the channel count."""
    import numpy as np

    from input_data_pipeline_spark.codecs import wav
    from input_data_pipeline_spark.codecs.route import decode_media, probe_audio

    for blob in (
        wav.encode_wav_codes(bytes(100), wav._WAVE_FORMAT_MULAW),
        wav.encode_wav_float(np.zeros(10, np.int16)),
        wav.encode_wav_extensible(bytes(20), wav._WAVE_FORMAT_PCM, 1, 8000, 16),
    ):
        zeroed = bytearray(blob)
        zeroed[22:24] = bytes(2)  # the fmt chunk's channel count
        for call in (lambda b: decode_media(b, "audio"), probe_audio):
            with pytest.raises(ValueError, match="zero channels"):
                call(bytes(zeroed))
