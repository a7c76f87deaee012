"""The worker's zipimporter memo (dxnn_ocr_cpp_spark/worker.py).

Unit tests patch this process through `monkeypatch`, which puts the stock
`zipimporter.invalidate_caches` back afterwards. The Spark tests run one
subprocess from a directory outside the repo with no PYTHONPATH, so its
Python workers can import the package only through build_session.
"""

import importlib
import json
import os
import pathlib
import subprocess
import sys
import zipfile
import zipimport

import pytest

from dxnn_ocr_cpp_spark import worker

REPO = pathlib.Path(__file__).resolve().parent.parent


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("pk_memo/__init__.py", "")
        for m in modules:
            z.writestr(f"pk_memo/{m}.py", f"NAME = {m!r}\n")


@pytest.fixture
def hooked(tmp_path, monkeypatch):
    """A zip holding pk_memo/{__init__,a}.py imported through two
    importers (archive root and pk_memo/), with the hook installed, and
    a counter of directory reads of that zip."""
    zpath = str(tmp_path / "memo.zip")
    _write_zip(zpath, ["a"])
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.syspath_prepend(zpath)
    for name in ("pk_memo", "pk_memo.a", "pk_memo.b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    importlib.import_module("pk_memo.a")
    reads = []
    stock_read = zipimport._read_directory

    def counting_read(archive):
        if archive == zpath:
            reads.append(archive)
        return stock_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    assert worker.install()
    yield zpath, reads
    for key in [k for k in sys.path_importer_cache if k.startswith(zpath)]:
        del sys.path_importer_cache[key]


def _importers(zpath):
    return [v for k, v in sys.path_importer_cache.items()
            if k.startswith(zpath) and isinstance(v, zipimport.zipimporter)]


def test_unchanged_zip_is_read_once(hooked):
    zpath, reads = hooked
    assert len(_importers(zpath)) == 2
    importlib.invalidate_caches()
    assert len(reads) == 2          # first hooked call: each importer reads
    reads.clear()
    importlib.invalidate_caches()
    assert reads == []


def test_rewritten_zip_is_reread_by_every_importer(hooked):
    zpath, reads = hooked
    importlib.invalidate_caches()
    os.remove(zpath)
    _write_zip(zpath, ["a", "b"])
    reads.clear()
    importlib.invalidate_caches()
    assert len(reads) == 2
    # pk_memo.b is found by the pk_memo/ importer, not the archive root's
    assert importlib.import_module("pk_memo.b").NAME == "b"


def test_deleted_zip_gets_the_stock_result(hooked):
    zpath, _ = hooked
    importlib.invalidate_caches()
    os.remove(zpath)
    importlib.invalidate_caches()
    assert all(imp._files == {} for imp in _importers(zpath))
    assert zpath not in zipimport._zip_directory_cache


def test_second_install_is_a_no_op(hooked):
    zpath, reads = hooked
    importlib.invalidate_caches()
    reads.clear()
    method = zipimport.zipimporter.invalidate_caches
    assert worker.install() and worker.installed()
    assert zipimport.zipimporter.invalidate_caches is method
    importlib.invalidate_caches()
    assert reads == []


def test_missing_method_leaves_import_machinery_stock(monkeypatch, capsys):
    monkeypatch.delattr(zipimport.zipimporter, "invalidate_caches")
    monkeypatch.setattr(worker, "_stock", None)
    assert not worker.install()
    assert not hasattr(zipimport.zipimporter, "invalidate_caches")
    assert len(capsys.readouterr().err.strip().splitlines()) == 1


_SPARK_SCRIPT = f"""
import json, os, sys, zipimport
sys.path.insert(0, {str(REPO)!r})
from pyspark.sql.functions import pandas_udf
from dxnn_ocr_cpp_spark import worker
from dxnn_ocr_cpp_spark.corpus import generate_documents_df
from dxnn_ocr_cpp_spark.pipeline import extract
from dxnn_ocr_cpp_spark.session import build_session

s = build_session(app="worker-bootstrap", master="local[1]",
                  shuffle_partitions=1)

@pandas_udf("string")
def probe(x):
    return x.map(lambda _: f"{{os.getpid()}},{{worker.installed()}}")

jobs = [sorted({{r[0] for r in s.range(4, numPartitions=2)
                  .select(probe("id")).collect()}}) for _ in range(2)]
# after the probe: a task of extract() holds two workers at once
rows = extract(generate_documents_df(s, 20, seed=5, partitions=2)).collect()
stock = zipimport.zipimporter.invalidate_caches
print("BOOT", json.dumps({{
    "rows": len(rows), "urls": len({{r["url"] for r in rows}}),
    "jobs": jobs, "driver_installed": worker.installed(),
    "driver_method": stock.__module__ + "." + stock.__qualname__}}))
s.stop()
"""


@pytest.fixture(scope="module")
def boot(tmp_path_factory):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run([sys.executable, "-c", _SPARK_SCRIPT],
                         cwd=tmp_path_factory.mktemp("elsewhere"), env=env,
                         capture_output=True, text=True, timeout=240)
    assert out.returncode == 0, out.stderr[-3000:]
    line = next(ln for ln in out.stdout.splitlines() if ln.startswith("BOOT "))
    return json.loads(line[5:])


def test_extract_runs_from_another_directory(boot):
    assert boot["rows"] == boot["urls"] == 20


def test_worker_hooked_driver_stock(boot):
    first, second = boot["jobs"]
    assert first == second and len(first) == 1      # one reused worker
    assert first[0].endswith(",True")
    assert not boot["driver_installed"]
    assert boot["driver_method"] == "zipimport.zipimporter.invalidate_caches"
