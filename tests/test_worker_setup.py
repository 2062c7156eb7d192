"""The once-per-worker set-up (``extract_job._tune_worker``) and its
stat-gated ``zipimporter.invalidate_caches``.  The hook patches the
interpreter it runs in, so each check runs in a child interpreter."""

import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython 3.13+ invalidates zip directories lazily; the hook "
    "leaves them alone",
)

# Two zipimporters over one archive (the root and the package prefix),
# as a PySpark worker holds many over pyspark.zip.  Prints the number of
# archive directory reads made by each importlib.invalidate_caches() call:
# twice unchanged, once after the archive is rewritten with a new module,
# once after it is deleted; then whether the new module imported.
CHILD = r"""
import importlib, os, sys, zipfile, zipimport

arc, hook = sys.argv[1], sys.argv[2] == "hook"


def write(names):
    with zipfile.ZipFile(arc, "w") as z:
        z.writestr("zpkg/__init__.py", "")
        for name in names:
            z.writestr(f"zpkg/{name}.py", f"NAME = {name!r}\n")


write(["one"])
sys.path.insert(0, arc)
import zpkg.one

reads = []
stock_read = zipimport._read_directory


def counted(path):
    reads.append(path)
    return stock_read(path)


zipimport._read_directory = counted


def reads_of_one_invalidation():
    del reads[:]
    importlib.invalidate_caches()
    return sum(path == arc for path in reads)


if hook:
    from pdf_ocr_spark.pipeline.extract_job import _tune_worker

    _tune_worker()
counts = [reads_of_one_invalidation(), reads_of_one_invalidation()]
write(["one", "two"])
counts.append(reads_of_one_invalidation())
import zpkg.two

imported = zpkg.two.NAME == "two"
os.remove(arc)
counts.append(reads_of_one_invalidation())
print(*counts, imported)
"""


def _child(tmp_path, mode):
    out = subprocess.run(
        [sys.executable, "-c", CHILD, str(tmp_path / "mods.zip"), mode],
        cwd=ROOT,
        env={**os.environ, "PYTHONPATH": ROOT},
        capture_output=True,
        text=True,
        timeout=120,
        check=True,
    )
    *counts, imported = out.stdout.split()
    return [int(c) for c in counts], imported == "True"


def test_stock_invalidation_rereads_every_zip_directory(tmp_path):
    counts, imported = _child(tmp_path, "stock")
    assert counts == [2, 2, 2, 2]
    assert imported


def test_hook_rereads_a_zip_directory_only_when_the_archive_changes(tmp_path):
    counts, imported = _child(tmp_path, "hook")
    # first call: no importer has a stamp yet; second: archive unchanged;
    # third: rewritten, and the new module imports; fourth: stat fails, so
    # the stock re-read runs (and empties the importers' directories)
    assert counts == [2, 0, 2, 2]
    assert imported
