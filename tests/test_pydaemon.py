"""pydaemon: the PySpark daemon with stat-checked zip directory caches.

The unit test pins the import semantics of the patched
``zipimporter.invalidate_caches``: a repeated call does not re-read an
unchanged archive, and a rewritten archive is re-read and its new
content imported. The subprocess test starts ``get_spark`` from a cwd
outside the repo with PYTHONPATH unset, so the Python workers can only
import the daemon through ``spark.executorEnv.PYTHONPATH``, and checks
that the worker runs the patched method.
"""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from cs686_big_data_p1_spark import pydaemon

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PATCHED = sys.version_info < (3, 13)


def _write_zip(path, module: str, value: str) -> None:
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        zf.writestr(f"{module}.py", f"VALUE = {value!r}\n")
    os.replace(tmp, path)


@pytest.mark.skipif(not PATCHED, reason="CPython >= 3.13 re-reads zips lazily")
def test_invalidate_caches_rereads_only_a_changed_zip(tmp_path, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    module = f"pydaemon_probe_{os.getpid()}"
    _write_zip(archive, module, "old")
    monkeypatch.syspath_prepend(archive)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        pydaemon.invalidate_caches)
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    try:
        assert importlib.import_module(module).VALUE == "old"
        importlib.invalidate_caches()
        first = reads.count(archive)
        for _ in range(3):
            importlib.invalidate_caches()
        assert reads.count(archive) == first, "unchanged zip was re-read"

        _write_zip(archive, module, "new, and longer")
        importlib.invalidate_caches()
        assert reads.count(archive) == first + 1, "rewritten zip was not re-read"
        del sys.modules[module]
        assert importlib.import_module(module).VALUE == "new, and longer"
    finally:
        sys.modules.pop(module, None)
        zipimport._zip_directory_cache.pop(archive, None)


WORKER_SCRIPT = f"""
import sys
sys.path.insert(0, {ROOT!r})
import pandas as pd
from pyspark.sql.functions import pandas_udf
from cs686_big_data_p1_spark.session import get_spark

spark = get_spark("pydaemon-test")

@pandas_udf("string")
def method_module(x: pd.Series) -> pd.Series:
    import zipimport
    return pd.Series([zipimport.zipimporter.invalidate_caches.__module__] * len(x))

rows = spark.range(8, numPartitions=2).select(method_module("id")).distinct().collect()
print("WORKER-METHOD", sorted(r[0] for r in rows))
"""


def test_workers_run_patched_daemon_outside_repo(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEM="1g",
               SPARK_LOCAL_DIRS=str(tmp_path))
    out = subprocess.run(
        [sys.executable, "-c", WORKER_SCRIPT], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    expected = "cs686_big_data_p1_spark.pydaemon" if PATCHED else "zipimport"
    assert f"WORKER-METHOD ['{expected}']" in out.stdout, out.stderr[-3000:]
