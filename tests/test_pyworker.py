"""The engine's Python worker daemon (parquet_playground_spark/pyworker.py).

Its ``zipimporter.invalidate_caches`` must skip re-reading an archive
that has not changed and still re-read one that has; and the workers of
a ``get_spark`` session must be forked from it.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from parquet_playground_spark import pyworker

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="3.13's zipimporter.invalidate_caches only drops its cache; the daemon leaves it",
)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(f"{name}.py", source)


def test_unchanged_archive_is_not_reread_and_a_rewritten_one_is(tmp_path, monkeypatch):
    # monkeypatch restores the stock function after the test
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    pyworker.install()
    archive = str(tmp_path / "pp_mods.zip")
    _write_zip(archive, {"pp_zip_one": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for name in ("pp_zip_one", "pp_zip_two"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("pp_zip_one").X == 1
    importer = sys.path_importer_cache[archive]

    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda path: reads.append(path) or read_directory(path)
    )
    importer.invalidate_caches()  # no signature recorded yet: one read
    importer.invalidate_caches()
    assert reads == [archive]

    _write_zip(archive, {"pp_zip_one": "X = 1\n", "pp_zip_two": "Y = 2\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("pp_zip_two").Y == 2
    assert reads == [archive, archive]


def test_session_workers_run_the_engine_invalidate_caches(spark):
    def probe(batches):
        import zipimport

        import pyarrow as pa

        for _ in batches:
            pass
        fn = zipimport.zipimporter.invalidate_caches
        who = f"{os.path.realpath(fn.__code__.co_filename)}:{fn.__name__}"
        yield pa.RecordBatch.from_pydict({"who": [who]})

    rows = spark.range(1, numPartitions=1).mapInArrow(probe, "who string").collect()
    expected = f"{os.path.realpath(pyworker.__file__)}:invalidate_caches_if_changed"
    assert [r["who"] for r in rows] == [expected]
