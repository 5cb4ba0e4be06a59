"""Zip importers re-read an archive's directory only when it changed
(the engine package's ``_keep_unchanged_zip_directories``)."""

from __future__ import annotations

import importlib
import sys
import zipfile

from tests.zip_probe import count_reloads, second_reload_reads


def test_unchanged_zip_is_not_reread(tmp_path):
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("m1.py", "X = 1\n")
    path, modules = list(sys.path), dict(sys.modules)
    sys.path.insert(0, archive)
    try:
        import columnar_estimator_sample_spark  # noqa: F401
        import m1  # noqa: F401
        count_reloads(importlib.invalidate_caches)
        assert count_reloads(importlib.invalidate_caches) == 0
        with zipfile.ZipFile(archive, "a") as z:
            z.writestr("m2.py", "Y = 2\n")
        importlib.invalidate_caches()
        import m2
        assert m2.Y == 2
    finally:
        sys.path[:] = path
        for name in set(sys.modules) - set(modules):
            del sys.modules[name]
        sys.path_importer_cache.pop(archive, None)


def test_python_workers_skip_unchanged_zips(spark):
    row, = (spark.range(1, numPartitions=1)
            .mapInArrow(second_reload_reads, "importers long, reads long")
            .collect())
    assert row["importers"] >= 1
    assert row["reads"] == 0
