"""Session start-up must fail loudly: a session whose Python workers cannot
run the kernel imports, or whose driver or workers import a pyspark other
than the JVM's version, is not healthy, and get_spark must not hand it out.
Local-master workers start through the worker launcher, which keeps Spark's
own archives off their import path and nothing else."""

import pytest

from aezspark import session


class _FailingJob:
    """Stands in for a SparkSession whose warm-up job fails on the workers."""

    def range(self, *args):
        return self

    def mapInPandas(self, *args):
        return self

    def collect(self):
        raise RuntimeError("ModuleNotFoundError: No module named 'aezspark'")


def test_warm_up_failure_raises():
    stub = _FailingJob()
    for _ in range(2):  # a failed warm-up is not recorded as done
        with pytest.raises(RuntimeError, match="--py-files") as e:
            session._warm_worker_pools(stub, 2)
        assert "No module named 'aezspark'" in str(e.value.__cause__)


class _VersionJob(_FailingJob):
    """A session whose warm-up workers import another pyspark than the JVM's."""

    version = "4.1.2"

    def collect(self):
        from pyspark.sql import Row

        return [Row(v="0.0.0-stub")]


def test_worker_pyspark_version_mismatch_raises():
    with pytest.raises(RuntimeError, match="pyspark 0.0.0-stub on the "
                                           "workers does not match Spark 4.1.2"):
        session._warm_worker_pools(_VersionJob(), 2)


def test_driver_pyspark_version_mismatch_raises(spark, monkeypatch):
    import pyspark

    monkeypatch.setattr(pyspark, "__version__", "0.0.0-stub")
    with pytest.raises(RuntimeError) as e:
        session.get_spark("aezspark-tests", master=spark.sparkContext.master)
    assert "pyspark 0.0.0-stub on the driver" in str(e.value)
    assert f"Spark {spark.version}" in str(e.value)


@pytest.mark.parametrize("physical_gib, heap", [(64, "16384m"), (32, "16384m"),
                                               (15, "7680m"), (4, "2048m")])
def test_default_driver_memory_is_half_of_physical_up_to_16g(
        monkeypatch, physical_gib, heap):
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": physical_gib << 18}
    monkeypatch.setattr(session.os, "sysconf", pages.__getitem__)
    assert session._default_driver_memory() == heap


@pytest.mark.parametrize("master, slots", [
    ("local[4]", 4), ("local[4,2]", 4), ("local[*]", 6), ("local[*,3]", 6),
    ("local", 6), ("spark://host:7077", 6)])
def test_master_cores_takes_the_slot_field(master, slots):
    """local[N,F] and local[*,F] (F = max task failures) are valid masters:
    the parallelism is the first bracket field."""
    assert session._master_cores(master, 6) == slots


def _fake_interpreter(tmp_path):
    """An executable that prints the arguments and PYTHONPATH it got."""
    fake = tmp_path / "fake-python"
    fake.write_text('#!/bin/sh\necho "args=$*"\necho "path=${PYTHONPATH-<unset>}"\n')
    fake.chmod(0o755)
    return str(fake)


def test_launcher_execs_configured_interpreter_without_spark_archives(tmp_path):
    import subprocess

    env = {
        "PATH": "/usr/bin:/bin",
        "SPARK_HOME": "/spark/",
        "PYSPARK_PYTHON": _fake_interpreter(tmp_path),
        "PYTHONPATH": ":".join([
            "/spark/python/lib/pyspark.zip",
            "/spark/python/lib/py4j-0.10.9.9-src.zip",
            "/spark-4.1.2-bin/jars/spark-core_2.13-4.1.2.jar",
            "/user/deps.zip",
            "/user/src",
        ]),
    }
    out = subprocess.run([session.WORKER_PYTHON, "-m", "pyspark.daemon"],
                         env=env, capture_output=True, text=True, check=True)
    assert out.stdout.splitlines() == ["args=-m pyspark.daemon",
                                       "path=/user/deps.zip:/user/src"]
    env["PYTHONPATH"] = "/spark/python/lib/pyspark.zip"
    out = subprocess.run([session.WORKER_PYTHON], env=env,
                         capture_output=True, text=True, check=True)
    assert out.stdout.splitlines() == ["args=", "path=<unset>"]


def test_live_workers_hold_no_spark_archive_importers(spark, tmp_path):
    """Inside a task, no zipimporter over Spark's own archives is left to
    re-read, the user's interpreter is what the workers run, and a zip
    shipped with addPyFile (the --py-files path) still imports."""
    import os
    import re
    import zipfile

    import pandas as pd

    pyfile = tmp_path / "aezspark_pyfile_probe.zip"
    with zipfile.ZipFile(pyfile, "w") as z:
        z.writestr("aezspark_pyfile_probe.py", "VALUE = 42\n")
    configured = os.environ.get("PYSPARK_PYTHON")
    spark.sparkContext.addPyFile(str(pyfile))

    def probe(it):
        import os as _os
        import sys
        import zipimport

        import aezspark_pyfile_probe

        caches = "\n".join(k for k, v in sys.path_importer_cache.items()
                           if isinstance(v, zipimport.zipimporter))
        for b in it:
            yield pd.DataFrame({
                "value": [aezspark_pyfile_probe.VALUE] * len(b),
                "python": [_os.environ.get("PYSPARK_PYTHON", "")] * len(b),
                "caches": [caches] * len(b)})

    rows = (spark.range(0, 4, 1, 4)
            .mapInPandas(probe, "value long, python string, caches string")
            .collect())
    assert [r.value for r in rows] == [42] * 4
    assert {r.python for r in rows} == {configured or "python3"}
    assert os.environ.get("PYSPARK_PYTHON") == configured
    spark_archive = re.compile(r"(pyspark\.zip|py4j-[^/]*\.zip|spark-[^/]*\.jar)")
    caches = {c for r in rows for c in r.caches.split("\n") if c}
    assert any("aezspark_pyfile_probe.zip" in c for c in caches)
    assert not [c for c in caches if spark_archive.search(c)]
