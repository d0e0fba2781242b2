"""The Python worker setup from ``session.get_spark``: the
``worker_daemon`` zip patch, the Unix-socket directory and the workers'
import path."""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from ray_mapreduce_spark import worker_daemon

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

old_python_only = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="zipimport re-reads lazily from Python 3.13"
)


def _count_zip_rereads(_):
    calls = [0]
    read = zipimport._read_directory

    def counting(path):
        calls[0] += 1
        return read(path)

    zipimport._read_directory = counting
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = read
    yield calls[0]


@old_python_only
def test_task_does_not_reread_pyspark_zip(spark):
    """Spark's own daemon re-reads pyspark.zip's directory 16 times per
    ``invalidate_caches`` (once per task); the engine's daemon none."""
    rdd = spark.sparkContext.parallelize([0], 1)
    assert rdd.mapPartitions(_count_zip_rereads).collect() == [0]


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@old_python_only
def test_invalidate_caches_rereads_only_a_changed_zip(tmp_path, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"wd_probe_a": "A = 1\n"})
    importer = zipimport.zipimporter(archive)
    monkeypatch.setattr(worker_daemon, "_read_at", {})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches)
    worker_daemon.install()
    reads = []
    read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda p: reads.append(p) or read(p))

    importer.invalidate_caches()
    assert reads == []  # unchanged: the cached directory is re-bound

    _write_zip(archive, {"wd_probe_a": "A = 1\n", "wd_probe_b": "B = 2\n"})
    importer.invalidate_caches()
    assert reads == [archive]  # new size: re-read
    spec = importer.find_spec("wd_probe_b")
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    assert module.B == 2

    importer.invalidate_caches()
    assert reads == [archive]  # read once per change


_PATHS_SCRIPT = textwrap.dedent(
    """
    import sys
    sys.path.insert(0, sys.argv[1])
    from ray_mapreduce_spark.mapreduce import MapReduceBulk
    from ray_mapreduce_spark.session import get_spark

    def map_fcn(x):
        yield (str(x % 9), x * x)

    def reduce_max(k, values):
        return (k, max(values))

    spark = get_spark("worker-paths", cpus=2)
    spark.sparkContext.setLogLevel("OFF")
    out = sorted(MapReduceBulk(range(1000), map_fcn, reduce_max, 2, 2, spark=spark))
    print("OUT", out)
    spark.stop()
    """
)


def test_workers_start_from_another_cwd_with_a_long_tmpdir(tmp_path):
    """The driver runs outside the checkout with no PYTHONPATH, so the
    workers find the daemon module only through
    ``spark.executorEnv.PYTHONPATH``; and ``java.io.tmpdir`` is too
    long to hold a Unix socket path, so only
    ``spark.python.unix.domain.socket.dir`` keeps the session alive."""
    java_tmp = tmp_path / ("t" * max(1, 86 - len(str(tmp_path))))
    java_tmp.mkdir()
    assert len(str(java_tmp)) >= 85
    script = tmp_path / "job.py"
    script.write_text(_PATHS_SCRIPT)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={java_tmp}"
    proc = subprocess.run(
        [sys.executable, str(script), REPO_DIR],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    expected = sorted((str(r), max(x * x for x in range(1000) if x % 9 == r)) for r in range(9))
    assert f"OUT {expected}" in proc.stdout.splitlines()
