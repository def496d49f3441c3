"""The engine's Python worker daemon (``pyworker``): tasks skip re-reading
unchanged zip archives, and built sessions start it from any directory."""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile
import zipimport

from udacitydatawarehouseprj_spark import pyworker

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_unchanged_archive_is_read_once_and_a_rewrite_is_read_again(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"a": "X = 1\n"})
    importer = zipimport.zipimporter(str(archive))
    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda path: reads.append(path) or real(path))

    pyworker.invalidate_caches(importer)
    pyworker.invalidate_caches(importer)
    assert len(reads) == 1

    _write_zip(archive, {"a": "X = 1\n", "b": "Y = 2\n"})
    pyworker.invalidate_caches(importer)
    assert len(reads) == 2
    assert importer.find_spec("b") is not None


def test_python_workers_fork_from_the_engine_daemon(spark):
    def probe(batches):
        import importlib
        import zipimport

        import pandas as pd

        reads = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda path: reads.append(path) or real(path)
        try:
            importlib.invalidate_caches()  # the task's setup already ran one
        finally:
            zipimport._read_directory = real
        for _ in batches:
            pass
        yield pd.DataFrame({"method": [zipimport.zipimporter.invalidate_caches.__module__],
                            "reads": [len(reads)]})

    row = spark.range(1, numPartitions=1).mapInPandas(probe, "method string, reads long").first()
    assert row.method == "udacitydatawarehouseprj_spark.pyworker"
    assert row.reads == 0


SCRIPT = """
import sys
sys.path.insert(0, {root!r})
from udacitydatawarehouseprj_spark import session as S
spark = S.get_spark(master="local[1]")

def touch_engine(batches):
    import udacitydatawarehouseprj_spark.schemas  # resolved in the worker
    yield from batches

n = spark.range(4).mapInPandas(touch_engine, "id long").count()
spark.stop()
print("rows", n)
"""


def test_built_session_workers_find_the_engine_from_any_directory(tmp_path):
    """The daemon and the task both import the engine in the worker, which
    sees neither this process's sys.path nor its working directory."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run([sys.executable, "-c", SCRIPT.format(root=ROOT)], cwd=tmp_path,
                         env=env, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    assert "rows 4" in out.stdout
