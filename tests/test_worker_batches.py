"""``session.worker_batches``: the task's iterator ending (exhausted, closed
early or raising) leaves no ``zipimporter`` in ``sys.path_importer_cache``,
passes the wrapped function's items and exceptions through unchanged, and
imports from a zip keep working afterwards.  In-process, no Spark."""

import importlib
import sys
from itertools import islice
import zipfile
import zipimport

import pytest

from ocr_table_extractor_to_csv_spark.session import worker_batches

MODULE = "_worker_batches_zip_probe"


def _zip_finders() -> list:
    return [p for p, f in sys.path_importer_cache.items() if isinstance(f, zipimport.zipimporter)]


@pytest.fixture
def zip_on_path(tmp_path):
    archive = str(tmp_path / "probe.zip")
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr(f"{MODULE}.py", "VALUE = 42\n")
    sys.path.insert(0, archive)
    try:
        yield archive
    finally:
        sys.path.remove(archive)
        sys.modules.pop(MODULE, None)
        sys.path_importer_cache.pop(archive, None)


def _import_from_zip(archive: str):
    """Import the probe afresh; the path finder caches a zipimporter."""
    sys.modules.pop(MODULE, None)
    mod = importlib.import_module(MODULE)
    assert mod.VALUE == 42
    assert isinstance(sys.path_importer_cache.get(archive), zipimport.zipimporter)
    return mod


def _doubles(batches):
    for b in batches:
        yield b * 2


def _fails_after_two(batches):
    for i, b in enumerate(batches):
        if i == 2:
            raise ValueError("bad batch")
        yield b


def test_exhausted_iterator_drops_zip_finders(zip_on_path):
    _import_from_zip(zip_on_path)
    got = list(worker_batches(_doubles)(iter(range(5))))
    assert got == list(_doubles(iter(range(5))))
    assert _zip_finders() == []
    assert _import_from_zip(zip_on_path).__loader__.archive == zip_on_path


def test_early_close_drops_zip_finders(zip_on_path):
    _import_from_zip(zip_on_path)
    gen = worker_batches(_doubles)(iter(range(5)))
    got = list(islice(gen, 2))
    assert _zip_finders() != []  # still running: nothing dropped yet
    gen.close()
    assert got == list(islice(_doubles(iter(range(5))), 2))
    assert _zip_finders() == []
    _import_from_zip(zip_on_path)


def test_exception_is_reraised_and_drops_zip_finders(zip_on_path):
    _import_from_zip(zip_on_path)
    got, plain = [], []
    with pytest.raises(ValueError, match="bad batch"):
        got.extend(worker_batches(_fails_after_two)(iter(range(5))))
    assert _zip_finders() == []
    with pytest.raises(ValueError, match="bad batch"):
        plain.extend(_fails_after_two(iter(range(5))))
    assert got == plain == [0, 1]
    _import_from_zip(zip_on_path)
