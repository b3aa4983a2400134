"""The engine's zip-cache invalidation (``input_data_pipeline_spark._zipcache``).

On CPython < 3.12 every ``importlib.invalidate_caches()`` re-parses each
zip archive on the import path; ``pyspark.worker`` calls it before every
task. The engine makes a re-read happen only when the archive changed on
disk. The tests are moot on 3.12+, where CPython does this itself.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

import input_data_pipeline_spark._zipcache  # noqa: F401

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="CPython 3.12+ re-reads lazily"
)


def _write_zip(path: str, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zc_alpha": "X = 1\n"})
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.syspath_prepend(archive)
    for name in ("zc_alpha", "zc_beta"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    try:
        assert importlib.import_module("zc_alpha").X == 1
        importlib.invalidate_caches()
        n = len(reads)
        importlib.invalidate_caches()
        assert len(reads) == n, "an unchanged archive was re-read"

        # a rewritten archive is re-read and its new module found
        _write_zip(archive, {"zc_alpha": "X = 1\n", "zc_beta": "Y = 2\n"})
        importlib.invalidate_caches()
        assert len(reads) == n + 1
        assert importlib.import_module("zc_beta").Y == 2

        # an archive that cannot be stat'ed is always re-read
        stat = os.stat

        def failing_stat(path, *args, **kwargs):
            if path == archive:
                raise PermissionError(path)
            return stat(path, *args, **kwargs)

        monkeypatch.setattr(os, "stat", failing_stat)
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        monkeypatch.setattr(os, "stat", stat)
        assert len(reads) == n + 3
    finally:
        sys.path_importer_cache.pop(archive, None)


def test_reimport_wraps_the_stdlib_method():
    importlib.reload(input_data_pipeline_spark._zipcache)
    wrapped = zipimport.zipimporter.invalidate_caches.__wrapped__
    assert wrapped.__module__ == "zipimport"


def test_gate_workers_use_the_engine_invalidate_caches(spark, sf_dir):
    """After a decode gate ran, the Python workers that ran it carry the
    engine's ``zipimporter.invalidate_caches``. The probe runs many
    small tasks so it reaches the reused gate workers in the idle pool;
    a worker that never imported the engine keeps the stdlib one."""
    from input_data_pipeline_spark.operators.multimodal import (
        audio_tags_features,
    )

    assert audio_tags_features(spark, sf_dir).count() > 0

    def probe(batches):
        import os
        import sys
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        yield pd.DataFrame({
            "pid": [os.getpid()],
            "engine": ["input_data_pipeline_spark" in sys.modules],
            "module": [zipimport.zipimporter.invalidate_caches.__module__],
        })

    rows = (
        spark.range(0, 64, 1, 64)
        .mapInPandas(probe, "pid long, engine boolean, module string")
        .collect()
    )
    engine = {r.module for r in rows if r.engine}
    assert engine == {"input_data_pipeline_spark._zipcache"}, rows
    assert {r.module for r in rows if not r.engine} <= {"zipimport"}, rows
