"""The zipimporter directory cache (htmlparser2_spark/_zipcache.py).

On CPython < 3.13 ``importlib.invalidate_caches()`` makes every
zipimporter re-read its archive's directory; the cache skips that read
while the archive's ``(st_mtime_ns, st_size)`` is unchanged. These
tests pin the three outcomes (unchanged: not re-read; rewritten:
re-read; deleted: dropped), the version gate, and the effect inside a
Spark Python worker.
"""

from __future__ import annotations

import importlib
import shutil
import subprocess
import sys
import uuid
import zipfile
import zipimport
from pathlib import Path

import pytest

import htmlparser2_spark._zipcache as zipcache

REPO = Path(__file__).resolve().parent.parent
needs_eager = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="zipimport re-reads lazily from CPython 3.13",
)


def _write_zip(path: Path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, body in modules.items():
            zf.writestr(f"{name}.py", body)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip holding one fresh module, on sys.path and imported once."""
    path = tmp_path / "mods.zip"
    first = f"zc_first_{uuid.uuid4().hex}"
    _write_zip(path, {first: "VALUE = 1\n"})
    monkeypatch.syspath_prepend(str(path))
    assert importlib.import_module(first).VALUE == 1
    yield path, first
    sys.path_importer_cache.pop(str(path), None)
    zipimport._zip_directory_cache.pop(str(path), None)


@needs_eager
def test_unchanged_archive_is_read_at_most_once(archive, monkeypatch):
    path, _ = archive
    reads = []
    real = zipimport._read_directory

    def counting(archive_path):
        if archive_path == str(path):
            reads.append(archive_path)
        return real(archive_path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    for _ in range(5):
        importlib.invalidate_caches()
    assert len(reads) <= 1
    importer = sys.path_importer_cache[str(path)]
    assert importer._files is zipimport._zip_directory_cache[str(path)]


@needs_eager
def test_rewritten_archive_is_read_again(archive):
    path, first = archive
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    second = f"zc_second_{uuid.uuid4().hex}"
    _write_zip(path, {first: "VALUE = 1\n", second: "VALUE = 2\n"})
    importlib.invalidate_caches()
    assert importlib.import_module(second).VALUE == 2


@needs_eager
def test_deleted_archive_is_dropped(archive):
    path, _ = archive
    importlib.invalidate_caches()
    path.unlink()
    importlib.invalidate_caches()
    assert sys.path_importer_cache[str(path)]._files == {}
    assert str(path) not in zipimport._zip_directory_cache


@needs_eager
def test_installed_once_over_the_stdlib_method():
    method = zipimport.zipimporter.invalidate_caches
    assert method.__wrapped__.__module__ == "zipimport"
    assert not hasattr(method.__wrapped__, "__wrapped__")
    importlib.reload(zipcache)
    assert zipimport.zipimporter.invalidate_caches is method


def test_cpython_313_keeps_the_stdlib_method():
    python = shutil.which("python3.13")
    if python is None:
        pytest.skip("no python3.13 interpreter on PATH")
    code = (
        "import runpy, sys, zipimport\n"
        "assert sys.version_info >= (3, 13), sys.version\n"
        "std = zipimport.zipimporter.invalidate_caches\n"
        f"runpy.run_path({str(REPO / 'htmlparser2_spark' / '_zipcache.py')!r})\n"
        "assert zipimport.zipimporter.invalidate_caches is std\n"
        "assert std.__module__ == 'zipimport'\n"
    )
    proc = subprocess.run(
        [python, "-c", code], capture_output=True, text=True, cwd=REPO
    )
    assert proc.returncode == 0, proc.stderr[-2000:]


@pytest.mark.spark
@needs_eager
def test_worker_skips_rereads_and_still_sees_rewrites(spark, tmp_path):
    """In a Python worker that imported the package, a second
    ``importlib.invalidate_caches()`` costs well under the ~0.1 s of
    eager pyspark.zip reads, and a zip rewritten on its ``sys.path``
    still imports its new module."""
    work = str(tmp_path)

    def probe(_):
        import importlib
        import os
        import sys
        import time
        import uuid
        import zipfile

        import htmlparser2_spark  # noqa: F401

        importlib.invalidate_caches()
        costs = []
        for _ in range(3):
            t0 = time.process_time()
            importlib.invalidate_caches()
            costs.append(time.process_time() - t0)

        path = os.path.join(work, f"{uuid.uuid4().hex}.zip")
        first, second = (f"zc_w_{uuid.uuid4().hex}" for _ in range(2))
        with zipfile.ZipFile(path, "w") as zf:
            zf.writestr(f"{first}.py", "VALUE = 1\n")
        sys.path.insert(0, path)
        try:
            importlib.import_module(first)
            importlib.invalidate_caches()
            with zipfile.ZipFile(path, "w") as zf:
                zf.writestr(f"{first}.py", "VALUE = 1\n")
                zf.writestr(f"{second}.py", "VALUE = 2\n")
            importlib.invalidate_caches()
            value = importlib.import_module(second).VALUE
        finally:
            sys.path.remove(path)
            sys.path_importer_cache.pop(path, None)
        zipped = sum(
            type(f).__name__ == "zipimporter"
            for f in sys.path_importer_cache.values()
        )
        yield min(costs), value, zipped

    [(cost, value, zipped)] = (
        spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()
    )
    assert zipped > 0, "the worker holds no zipimporter"
    assert cost < 0.020, f"second invalidate_caches() took {cost * 1e3:.1f} ms"
    assert value == 2
