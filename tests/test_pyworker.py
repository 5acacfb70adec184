"""The engine's PySpark worker daemon (``mapreducegcp_spark.pyworker``).

Python workers fork from a daemon that skips the per-task re-read of
unchanged zip archives in ``importlib.invalidate_caches``. These tests
pin that the workers really run it, that files shipped after the
workers are warm still import, that an unchanged zip is not re-read
while a rewritten one is, and that Python tasks work whatever the
driver's working directory is.
"""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import uuid
import zipfile
import zipimport
from pathlib import Path

from mapreducegcp_spark import pyworker

REPO = Path(__file__).resolve().parent.parent


def _run_in_workers(spark, fn) -> set:
    """Run ``fn()`` in each of 4 Python tasks; the distinct results."""

    def probe(it):
        import pandas as pd

        for _ in it:
            yield pd.DataFrame({"v": [str(fn())]})

    rows = spark.range(0, 4, numPartitions=4).mapInPandas(probe, "v string").collect()
    return {r.v for r in rows}


def test_workers_run_the_engine_invalidate_caches(spark):
    def where():
        import importlib

        return importlib.invalidate_caches.__code__.co_filename

    assert _run_in_workers(spark, where) == {str(REPO / "mapreducegcp_spark" / "pyworker.py")}


def test_py_files_added_after_warm_workers_import(spark, tmp_path):
    _run_in_workers(spark, lambda: 0)  # the workers are up and reused
    tag = uuid.uuid4().hex[:8]
    py_mod, zip_mod = f"late_py_{tag}", f"late_zip_{tag}"
    py_file = tmp_path / f"{py_mod}.py"
    py_file.write_text("VALUE = 'py'\n")
    zip_file = tmp_path / f"late_{tag}.zip"
    with zipfile.ZipFile(zip_file, "w") as zf:
        zf.writestr(f"{zip_mod}.py", "VALUE = 'zip'\n")
    spark.sparkContext.addPyFile(str(py_file))
    spark.sparkContext.addPyFile(str(zip_file))

    def load():
        import importlib

        return importlib.import_module(py_mod).VALUE + importlib.import_module(zip_mod).VALUE

    assert _run_in_workers(spark, load) == {"pyzip"}


def _write_zip(path: Path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def test_unchanged_zip_is_not_reread_rewritten_zip_is(tmp_path, monkeypatch):
    tag = uuid.uuid4().hex[:8]
    first, second = f"zip_first_{tag}", f"zip_second_{tag}"
    archive = tmp_path / "lib.zip"
    _write_zip(archive, {first: "VALUE = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    try:
        assert importlib.import_module(first).VALUE == 1
        reads = []
        real = zipimport.zipimporter.invalidate_caches

        def counted(self):
            if self.archive == str(archive):
                reads.append(self.archive)
            return real(self)

        monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", counted)
        monkeypatch.setattr(pyworker, "_stamps", {})

        pyworker.invalidate_caches()  # first sight of the archive: read
        assert len(reads) == 1
        pyworker.invalidate_caches()
        pyworker.invalidate_caches()
        assert len(reads) == 1  # unchanged: not re-read

        _write_zip(archive, {first: "VALUE = 1\n", second: "VALUE = 2\n"})
        st = archive.stat()
        os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
        pyworker.invalidate_caches()
        assert len(reads) == 2  # rewritten: re-read
        assert importlib.import_module(second).VALUE == 2
    finally:
        for name in (first, second):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(str(archive), None)


_CWD_SCRIPT = """
import sys
sys.path.insert(0, {repo!r})
from mapreducegcp_spark.session import get_spark

def probe(it):
    for pdf in it:
        yield pdf

spark = get_spark("pyworker-cwd", cpus=2)
print("ROWS", len(spark.range(3).mapInPandas(probe, "id long").collect()))
spark.stop()
"""


def test_python_tasks_run_from_any_working_directory(tmp_path):
    """A driver outside the repo imports the package by ``sys.path``
    only; its Python workers must find it too."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", _CWD_SCRIPT.format(repo=str(REPO))],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "ROWS 3" in out.stdout
