"""Worker-side probe for ``tests/test_zip_directories.py``. A Python
worker imports this module, and with it the engine package, when it
unpickles :func:`second_reload_reads`."""

from __future__ import annotations

import importlib
import sys
import zipimport

import columnar_estimator_sample_spark  # noqa: F401  (installs the fix)


def count_reloads(call) -> int:
    """How many zip directories ``call()`` reads."""
    read = zipimport._read_directory
    archives = []

    def counting(archive):
        archives.append(archive)
        return read(archive)

    zipimport._read_directory = counting
    try:
        call()
    finally:
        zipimport._read_directory = read
    return len(archives)


def second_reload_reads(batches):
    """``mapInArrow`` body: one row with the worker's zip importer count
    and the directory reads of its second ``invalidate_caches()``."""
    import pyarrow as pa

    for _ in batches:
        pass
    importlib.invalidate_caches()
    reads = count_reloads(importlib.invalidate_caches)
    importers = sum(isinstance(f, zipimport.zipimporter)
                    for f in sys.path_importer_cache.values())
    yield pa.RecordBatch.from_pydict(
        {"importers": [importers], "reads": [reads]})
