"""Contracts of the ``codecs`` package: its import layering, the
structural self-checks of its embedded spec tables, and the names the
benchmark's kernel timer reads through ``operators.multimodal``."""

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
