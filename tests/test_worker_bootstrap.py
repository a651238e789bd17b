"""The Python worker bootstrap: zip importers re-read their archive's
directory only when it changed, the import-time heap is frozen, and nothing
happens outside a task or on CPython >= 3.13."""

import gc
import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from sketches_go_spark import worker_bootstrap as wb

MODULE = "sgs_bootstrap_probe_mod"


def _write_zip(path, body: str) -> None:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{MODULE}.py", body)


def _zip_finders():
    return [f for f in sys.path_importer_cache.values() if isinstance(f, zipimport.zipimporter)]


@pytest.fixture
def zipped_module(tmp_path, monkeypatch):
    """A module importable from a temporary zip, ``_read_directory`` calls
    counted per archive, and every piece of stdlib state the bootstrap
    touches restored (and checked) afterwards."""
    archive = tmp_path / "probe.zip"
    _write_zip(archive, "VALUE = 1\n")
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    monkeypatch.setattr(gc, "freeze", gc.freeze)
    monkeypatch.syspath_prepend(str(archive))
    reads = []
    real_read = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    yield archive, reads
    sys.modules.pop(MODULE, None)
    sys.path_importer_cache.pop(str(archive), None)
    zipimport._zip_directory_cache.pop(str(archive), None)
    for finder in _zip_finders():
        finder.__dict__.pop(wb._STAMP, None)
    monkeypatch.undo()
    assert zipimport.zipimporter.invalidate_caches is wb._read_unconditionally
    assert zipimport._read_directory is real_read
    assert str(archive) not in sys.path
    assert not any(hasattr(f, wb._STAMP) for f in _zip_finders())


def test_patched_invalidate_skips_an_unchanged_archive(zipped_module):
    archive, reads = zipped_module
    assert importlib.import_module(MODULE).VALUE == 1
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(str(archive)) == 1  # the stdlib re-reads on every call

    wb.patch_zipimport()
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads.count(str(archive)) == 0


def test_patched_invalidate_rereads_a_rewritten_archive(zipped_module):
    archive, reads = zipped_module
    mod = importlib.import_module(MODULE)
    wb.patch_zipimport()
    _write_zip(archive, "VALUE = 2\nPADDING = '" + "x" * 64 + "'\n")
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(str(archive)) == 1
    importlib.invalidate_caches()  # stamped again at that read
    assert reads.count(str(archive)) == 1
    assert importlib.reload(mod).VALUE == 2


def test_bootstrap_is_a_noop_outside_a_task(zipped_module):
    frozen = gc.get_freeze_count()
    assert wb.bootstrap() is False
    assert zipimport.zipimporter.invalidate_caches is wb._read_unconditionally
    assert gc.get_freeze_count() == frozen


@pytest.mark.skipif(not (3, 10) <= sys.version_info < (3, 13), reason="bootstrap applies to 3.10-3.12")
def test_bootstrap_in_a_task_patches_once_and_not_on_313(zipped_module, monkeypatch):
    from pyspark.taskcontext import TaskContext

    archive, reads = zipped_module
    importlib.import_module(MODULE)
    freezes = []
    monkeypatch.setattr(gc, "freeze", lambda: freezes.append(1))
    monkeypatch.setattr(TaskContext, "get", classmethod(lambda cls: object()))

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(sys, "version_info", (3, 13, 0, "final", 0))
        assert wb.bootstrap() is False
    assert zipimport.zipimporter.invalidate_caches is wb._read_unconditionally

    assert wb.bootstrap() is True
    assert wb.bootstrap() is False  # once per process
    assert freezes == [1]
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(str(archive)) == 0


def _worker_probe(batches):
    import gc
    import importlib
    import zipimport

    import sketches_go_spark  # noqa: F401  (the first import in a worker bootstraps it)

    reads = []
    real_read = zipimport._read_directory
    zipimport._read_directory = lambda archive: reads.append(archive) or real_read(archive)
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = real_read
    for _ in batches:
        pass
    yield pd.DataFrame({"reads": [len(reads)], "frozen": [gc.get_freeze_count()]})


@pytest.mark.skipif(not (3, 10) <= sys.version_info < (3, 13), reason="bootstrap applies to 3.10-3.12")
def test_python_workers_are_bootstrapped(spark):
    out = (
        spark.range(8)
        .repartition(4)
        .mapInPandas(_worker_probe, "reads long, frozen long")
        .toPandas()
    )
    assert len(out) == 4
    assert (out["reads"] == 0).all(), out
    assert (out["frozen"] > 0).all(), out
