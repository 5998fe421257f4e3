"""Stat-checked zipimport directory cache (html_parser_spark._zipcache).

PySpark workers call importlib.invalidate_caches() once per task; before
CPython 3.13 every zipimporter then re-reads its archive's central directory.
The wrapper skips the re-read while the archive's (inode, size, mtime) is
unchanged and keeps the stock behaviour for rewritten, replaced or missing
archives."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from html_parser_spark import _zipcache

ACTIVE = sys.version_info < (3, 13)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, value in modules.items():
            zf.writestr(f"{name}.py", f"VALUE = {value!r}\n")


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """An archive on sys.path; its importer and modules are dropped after."""
    archive = str(tmp_path / "payload.zip")
    monkeypatch.setattr(sys, "path", [archive] + sys.path)
    yield archive
    sys.path_importer_cache.pop(archive, None)
    for name in [m for m in sys.modules if m.startswith("zc_mod_")]:
        del sys.modules[name]


def _count_reads(monkeypatch, archive):
    calls = []
    stock = zipimport._read_directory

    def counting(path):
        if path == archive:
            calls.append(path)
        return stock(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def test_wrapper_installed_only_before_313():
    owner = zipimport.zipimporter.invalidate_caches.__module__
    assert (owner == _zipcache.__name__) == ACTIVE


def test_unchanged_archive_is_not_reread(zip_on_path, monkeypatch):
    _write_zip(zip_on_path, {"zc_mod_a": 1})
    assert importlib.import_module("zc_mod_a").VALUE == 1
    importlib.invalidate_caches()  # records the archive's key
    calls = _count_reads(monkeypatch, zip_on_path)
    for _ in range(3):
        importlib.invalidate_caches()
    assert calls == []


@pytest.mark.parametrize("how", ["in_place", "replaced"])
def test_rewritten_archive_is_reread(zip_on_path, tmp_path, how):
    _write_zip(zip_on_path, {"zc_mod_a": 1})
    assert importlib.import_module("zc_mod_a").VALUE == 1
    importlib.invalidate_caches()
    if how == "in_place":
        _write_zip(zip_on_path, {"zc_mod_a": 1, "zc_mod_b": 2})
    else:  # a new file renamed over the old one (new inode)
        fresh = str(tmp_path / "fresh.zip")
        _write_zip(fresh, {"zc_mod_a": 1, "zc_mod_b": 2})
        os.replace(fresh, zip_on_path)
    importlib.invalidate_caches()
    assert importlib.import_module("zc_mod_b").VALUE == 2


def test_deleted_archive_behaves_as_stock(zip_on_path):
    _write_zip(zip_on_path, {"zc_mod_a": 1, "zc_mod_c": 3})
    assert importlib.import_module("zc_mod_a").VALUE == 1
    importlib.invalidate_caches()
    os.remove(zip_on_path)
    importlib.invalidate_caches()  # must not raise
    importer = sys.path_importer_cache[zip_on_path]
    assert importer._files == {}
    with pytest.raises(ModuleNotFoundError):
        importlib.import_module("zc_mod_c")
    # an archive that comes back is read again
    _write_zip(zip_on_path, {"zc_mod_c": 3})
    importlib.invalidate_caches()
    assert importlib.import_module("zc_mod_c").VALUE == 3


@pytest.mark.skipif(not ACTIVE, reason="stock invalidate_caches is lazy on 3.13+")
def test_worker_installs_cache_after_package_udf(spark):
    """A reused Python worker that has run a package UDF carries the wrapper
    into every later task, including tasks whose UDF does not touch the
    package. The probe is a local function, pickled by value, so it imports
    nothing of the package itself."""
    from html_parser_spark.operators.extract import INPUT_SCHEMA, extract_spans

    rows = [(f"d{i}", [{"kind": "text", "text": f"<p>doc {i}</p>",
                        "media_ref": None, "offset": 0}]) for i in range(64)]
    docs = spark.createDataFrame(rows, schema=INPUT_SCHEMA).repartition(8)
    assert {r["status"] for r in extract_spans(docs).collect()} == {"ok"}

    def probe(batches):
        import os
        import sys
        import zipimport

        import pyarrow as pa

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({
            "pid": [os.getpid()],
            "loaded": ["html_parser_spark" in sys.modules],
            "owner": [zipimport.zipimporter.invalidate_caches.__module__],
        })

    seen = spark.range(0, 32, numPartitions=32).mapInArrow(
        probe, "pid long, loaded boolean, owner string"
    ).collect()
    loaded = {(r["pid"], r["owner"]) for r in seen if r["loaded"]}
    assert loaded, "no probe task ran on a worker that had run the extract"
    assert {owner for _pid, owner in loaded} == {"html_parser_spark._zipcache"}
    # workers that never imported the package keep the stock method
    assert {r["owner"] for r in seen if not r["loaded"]} <= {"zipimport"}
