"""The engine's Python worker daemon (``storm_bench_spark/worker_daemon.py``).

Its per-task import-cache reset must keep every ``zipimporter`` as it
is (so Spark's ``pyspark.zip`` is not re-read on each task) and still
reset every other finder (so ``addPyFile`` files stay importable), and
``get_spark``'s sessions must actually run their workers through it
from any working directory.
"""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile
import zipimport

import pandas as pd
from pyspark.sql import functions as F

from storm_bench_spark import worker_daemon
from storm_bench_spark.session import _worker_pythonpath


class _CountingFinder:
    def __init__(self):
        self.invalidated = 0

    def find_spec(self, *args, **kwargs):
        return None

    def invalidate_caches(self):
        self.invalidated += 1


def test_reset_keeps_zip_importers_and_resets_the_rest(tmp_path, monkeypatch):
    archive = tmp_path / "lib.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zipped_mod.py", "X = 1\n")
    zipped = zipimport.zipimporter(str(archive))
    path_finder, meta_finder = _CountingFinder(), _CountingFinder()
    # A private cache: the real reset drops relative and None entries,
    # which would say nothing about this reset.
    cache = {k: f for k, f in sys.path_importer_cache.items() if f is not None and os.path.isabs(k)}
    cache[str(archive)] = zipped
    cache[str(tmp_path / "pyfiles")] = path_finder
    monkeypatch.setattr(sys, "path_importer_cache", cache)
    monkeypatch.setattr(sys, "meta_path", [meta_finder, *sys.meta_path])
    zips = {k: (f, f._files) for k, f in cache.items() if isinstance(f, zipimport.zipimporter)}
    keys = set(cache)

    worker_daemon.invalidate_caches_keep_zips()

    assert path_finder.invalidated == 1
    assert meta_finder.invalidated == 1
    assert set(sys.path_importer_cache) == keys
    for k, (finder, files) in zips.items():
        assert sys.path_importer_cache[k] is finder
        assert finder._files is files, f"{k} re-read its archive"


def test_worker_pythonpath_imports_the_daemon_outside_the_repo(tmp_path):
    root = os.path.dirname(os.path.dirname(os.path.abspath(worker_daemon.__file__)))
    assert _worker_pythonpath({}) == root
    caller = os.pathsep.join(["/data/libs/a.zip", "/data/libs/b"])
    assert _worker_pythonpath({"spark.executorEnv.PYTHONPATH": caller}) == os.pathsep.join([caller, root])

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYTHONPATH"] = _worker_pythonpath({})
    subprocess.run(
        [sys.executable, "-c", "import storm_bench_spark.worker_daemon"],
        cwd=tmp_path, env=env, check=True, timeout=120,
    )


def test_session_workers_run_the_engine_daemon(spark, tmp_path):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == "storm_bench_spark.worker_daemon"
    assert conf.get("spark.executorEnv.PYTHONPATH") == _worker_pythonpath({})

    @F.pandas_udf("string")
    def worker_argv0(s: pd.Series) -> pd.Series:
        import sys

        return s.map(lambda _: sys.argv[0])

    ids = spark.range(4, numPartitions=2).select(F.col("id").cast("string").alias("s"))
    argv0 = {r[0] for r in ids.select(worker_argv0("s")).collect()}
    assert {os.path.realpath(a) for a in argv0} == {os.path.realpath(worker_daemon.__file__)}

    # The workers above are alive and reused; a file added now must
    # still be importable, which is what the per-task reset is for.
    mod = tmp_path / "sbs_daemon_probe_mod.py"
    mod.write_text("VALUE = 'added-after-start'\n")
    spark.sparkContext.addPyFile(str(mod))

    @F.pandas_udf("string")
    def imports_added_file(s: pd.Series) -> pd.Series:
        import sbs_daemon_probe_mod

        return s.map(lambda _: sbs_daemon_probe_mod.VALUE)

    got = {r[0] for r in ids.select(imports_added_file("s")).collect()}
    assert got == {"added-after-start"}


def test_entry_package_zip_is_content_named_and_importable(tmp_path, monkeypatch):
    """``__spark_entry__`` ships this zip to a foreign session's workers:
    it is named by its content (a second call reuses it), and a Python
    started outside the repo with only the zip on its path imports the
    kernels from it. No JVM."""
    import tempfile

    import __spark_entry__ as E

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "t"))
    os.makedirs(tmp_path / "t")
    path = E._package_zip()
    mtime = os.stat(path).st_mtime_ns
    assert E._package_zip() == path and os.stat(path).st_mtime_ns == mtime
    assert os.listdir(tmp_path / "t") == [os.path.basename(path)]
    with zipfile.ZipFile(path) as z:
        names = set(z.namelist())
    assert "storm_bench_spark/operators/similarity.py" in names
    assert not any("__pycache__" in n for n in names)

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYTHONPATH"] = path
    out = subprocess.run(
        [sys.executable, "-c",
         "import storm_bench_spark.operators.multimodal as M, storm_bench_spark.operators.similarity as S; "
         "print(S.__file__, M.__file__)"],
        cwd=tmp_path, env=env, check=True, timeout=120, capture_output=True, text=True,
    ).stdout.split()
    assert all(f.startswith(path + os.sep) for f in out), out
