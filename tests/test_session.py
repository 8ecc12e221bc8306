"""Session bootstrap: env-knob validation and the worker import path
(Python workers import the installed pyspark, not ``pyspark.zip``)."""

from __future__ import annotations

import os
import sys
from types import SimpleNamespace

import pyspark
import pytest
from pyspark import SparkContext

from facebook_ad_library_data_pipeline_spark import session
from facebook_ad_library_data_pipeline_spark.streaming import stateful

PY4J_ZIP = "py4j-0.10.9.9-src.zip"


@pytest.fixture
def fake_home(tmp_path, monkeypatch):
    """A Spark home with version X, a driver with no JVM yet whose
    pyspark is version X, and a private temp dir for the shim."""
    home = tmp_path / "spark"
    (home / "bin").mkdir(parents=True)
    (home / "jars").mkdir()
    (home / "jars" / "spark-core_2.13-X.jar").touch()
    (home / "python" / "lib").mkdir(parents=True)
    (home / "python" / "lib" / "pyspark.zip").touch()
    (home / "python" / "lib" / PY4J_ZIP).touch()
    (home / "RELEASE").touch()
    temp = tmp_path / "tmp"
    temp.mkdir()
    monkeypatch.setattr("tempfile.tempdir", str(temp))
    monkeypatch.setenv("SPARK_HOME", str(home))
    monkeypatch.delenv("PYSPARK_PYTHON", raising=False)
    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setattr(pyspark, "__version__", "X")
    return home


def test_shim_mirrors_home_without_pyspark_zip_and_is_reused(fake_home):
    env = session.worker_launch_env()
    assert env["PYSPARK_PYTHON"] == sys.executable
    shim = env["SPARK_HOME"]
    assert shim != str(fake_home)
    assert sorted(os.listdir(shim)) == sorted(os.listdir(fake_home))
    for entry in ("bin", "jars", "RELEASE"):
        assert os.path.realpath(os.path.join(shim, entry)) == str(fake_home / entry)
    assert os.listdir(os.path.join(shim, "python")) == ["lib"]
    assert os.listdir(os.path.join(shim, "python", "lib")) == [PY4J_ZIP]
    assert session.worker_launch_env()["SPARK_HOME"] == shim
    # no half-built sibling is left behind
    assert os.listdir(os.path.dirname(shim)) == [os.path.basename(shim)]


def test_pyspark_python_running_the_driver_interpreter_is_accepted(fake_home, tmp_path, monkeypatch):
    launcher = tmp_path / "python-launcher"  # a pyenv-style shim script
    launcher.write_text(f'#!/bin/sh\nexec "{sys.executable}" "$@"\n')
    launcher.chmod(0o755)
    monkeypatch.setenv("PYSPARK_PYTHON", str(launcher))
    assert session.worker_launch_env()["PYSPARK_PYTHON"] == sys.executable


@pytest.mark.parametrize(
    "guard",
    ["version_mismatch", "pyspark_from_zip", "foreign_python", "missing_python", "gateway_up"],
)
def test_failed_guard_keeps_the_home(fake_home, tmp_path, monkeypatch, guard):
    if guard == "version_mismatch":
        monkeypatch.setattr(pyspark, "__version__", "Y")
    elif guard == "pyspark_from_zip":
        monkeypatch.setattr(pyspark, "__file__", str(tmp_path / "pyspark.zip" / "pyspark" / "__init__.py"))
    elif guard == "foreign_python":
        other = tmp_path / "other-python"
        other.write_text("#!/bin/sh\necho /usr/bin/other-python\n")
        other.chmod(0o755)
        monkeypatch.setenv("PYSPARK_PYTHON", str(other))
    elif guard == "missing_python":
        monkeypatch.setenv("PYSPARK_PYTHON", str(tmp_path / "no-such-python"))
    else:
        monkeypatch.setattr(SparkContext, "_gateway", object())
    assert session.worker_launch_env() == {}
    assert not os.listdir(tmp_path / "tmp")


def test_workers_import_installed_pyspark(spark):
    def probe(batches):
        import pandas as pd
        import pyspark

        for _ in batches:
            yield pd.DataFrame({"file": [pyspark.__file__], "version": [pyspark.__version__]})

    (row,) = spark.range(1).mapInPandas(probe, "file string, version string").collect()
    assert ".zip" + os.sep not in row.file
    assert os.path.isfile(row.file)
    assert row.version == pyspark.__version__


@pytest.mark.parametrize(
    "var,bad",
    [
        ("SPARK_GRAFT_CPUS", "0"),
        ("SPARK_GRAFT_CPUS", "4x"),
        ("SPARK_GRAFT_SHUFFLE_PARTITIONS", "-8"),
        ("SPARK_GRAFT_TASK_RETRIES", "0"),
        ("SPARK_GRAFT_DRIVER_MEM", "4 GB"),
        ("SPARK_GRAFT_DRIVER_MEM", "0g"),
        ("SPARK_GRAFT_UI", "yes"),
        ("SPARK_GRAFT_PY_UDS", "1"),
        ("SPARK_GRAFT_TWS_CHANGELOG", "on"),
    ],
)
def test_env_knob_rejects_bad_value_by_name(monkeypatch, var, bad):
    monkeypatch.setenv(var, bad)
    if var == "SPARK_GRAFT_TWS_CHANGELOG":
        monkeypatch.setattr(stateful, "_TWS_SESSION_CACHE", {})
        stub = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="stub"))
        build = lambda: stateful._tws_scoped_session(stub)  # noqa: E731
    else:
        build = session.get_spark
    with pytest.raises(ValueError, match=var):
        build()
