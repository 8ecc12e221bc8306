"""SparkSession factory.

Reference behavior being replaced: a single-process pandas pipeline
(``/root/reference/main.py:13-25``) with UTC-pinned datetimes
(``transform_raw_data.py:53``, ``generate_report.py:14,24``). We pin the
Spark session timezone to UTC so timestamp semantics match both the
reference and the DuckDB oracle (UTC-naive timestamps).

Scale posture: AQE on (runtime coalesce + skew-join splitting),
shuffle partitions sized to local cores (on a real cluster this is
``2-3 × total executor cores`` — set via SPARK_GRAFT_SHUFFLE_PARTITIONS).

Worker import path: Spark puts ``$SPARK_HOME/python/lib/pyspark.zip``
first on every Python worker's ``PYTHONPATH``, and Python caches no
bytecode for modules imported from a zip, so every fresh worker (the
transformWithState pre-init runner, Python data-source planners and
readers, the pandas-UDF daemon) compiles the ``pyspark.sql`` import
graph from source again — about 1 s per process. The first JVM launch
therefore gets a ``SPARK_HOME`` shim without that zip (see
``worker_launch_env``), and workers import the installed, bytecode-cached
pyspark. It applies only when no JVM is up yet, the driver's pyspark is
a directory whose version equals the home's ``spark-core`` jar, and
``PYSPARK_PYTHON`` is unset or runs the driver's own interpreter;
otherwise the JVM launches with the home unchanged.
"""

from __future__ import annotations

import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import tempfile
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import SparkSession

DEFAULT_CPUS = "32"

_JVM_SIZE = re.compile(r"[1-9][0-9]*([kmgtp]b?|b)?", re.IGNORECASE)


def _env(name: str, default: str | None, valid: Callable[[str], bool], what: str) -> str | None:
    """The value of env var ``name`` (``default`` when unset or empty),
    raising ``ValueError`` that names the variable when ``valid`` rejects
    it — here, not later in Spark's master-URL or conf parser."""
    # `or default`: a SET-BUT-EMPTY var behaves as unset (shells and CI
    # configs blank vars more often than they unset them)
    value = os.environ.get(name) or default
    if value is not None and not valid(value):
        raise ValueError(f"{name} must be {what}, got {value!r}")
    return value


def env_positive_int(name: str, default: str | None, what: str = "a positive integer") -> str | None:
    return _env(name, default, lambda v: v.isdecimal() and int(v) >= 1, what)


def env_bool(name: str, default: str) -> str:
    return _env(name, default, lambda v: v in ("true", "false"), "true or false")


def env_jvm_size(name: str, default: str) -> str:
    return _env(name, default, _JVM_SIZE.fullmatch, "a JVM size such as 4g or 512m")


def _spark_core_version(home: str) -> str | None:
    """Spark version of the home, from its ``jars/spark-core_<scala>-<ver>.jar``."""
    jars = glob.glob(os.path.join(home, "jars", "spark-core_*.jar"))
    if len(jars) != 1:
        return None
    m = re.fullmatch(r"spark-core_[^-]+-(.+)\.jar", os.path.basename(jars[0]))
    return m.group(1) if m else None


def _runs_driver_python(cmd: str) -> bool:
    """Whether the interpreter command ``cmd`` is the driver's own."""
    exe = shutil.which(cmd)
    if exe is None:
        return False
    if os.path.realpath(exe) == os.path.realpath(sys.executable):
        return True
    # a launcher script (a pyenv shim) resolves to an interpreter only
    # when run, so ask it once
    try:
        out = subprocess.run(
            [exe, "-c", "import sys; print(sys.executable)"],
            capture_output=True, text=True, timeout=30, check=True,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return False
    return os.path.realpath(out) == os.path.realpath(sys.executable)


def spark_home_shim(home: str, version: str) -> str | None:
    """A directory that mirrors Spark home ``home`` by symlinks, except
    that its ``python/lib`` holds only the ``py4j-*.zip`` (no
    ``pyspark.zip``). Built once per (real home, version) under the temp
    dir, atomically (a temporary sibling renamed into place), and reused.
    None when it cannot be built, or when its parent directory is not
    this user's: the shim decides which jars the JVM loads."""
    real = os.path.realpath(home)
    base = Path(tempfile.gettempdir()) / "spark_graft_home"
    shim = base / f"{hashlib.sha1(real.encode()).hexdigest()[:12]}-{version}"
    try:
        base.mkdir(mode=0o700, parents=True, exist_ok=True)
        if os.stat(base).st_uid != os.getuid():
            return None
        if shim.is_dir():
            return str(shim)
        tmp = Path(tempfile.mkdtemp(prefix=f".{shim.name}-", dir=base))
    except OSError:
        return None
    try:
        for entry in os.listdir(real):
            if entry != "python":
                os.symlink(os.path.join(real, entry), tmp / entry)
        lib = tmp / "python" / "lib"
        lib.mkdir(parents=True)
        for py4j in glob.glob(os.path.join(real, "python", "lib", "py4j-*.zip")):
            os.symlink(py4j, lib / os.path.basename(py4j))
        os.rename(tmp, shim)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
        # a concurrent builder may have renamed its shim into place first
        if not shim.is_dir():
            return None
    return str(shim)


def worker_launch_env() -> dict[str, str]:
    """Env overrides for the first JVM launch that make Python workers
    import the installed pyspark instead of ``$SPARK_HOME``'s
    ``pyspark.zip``: ``SPARK_HOME`` pointing at ``spark_home_shim`` and
    ``PYSPARK_PYTHON`` at the driver's interpreter. Empty — launch as
    usual — unless every guard in the module docstring holds."""
    import pyspark
    from pyspark import SparkContext
    from pyspark.find_spark_home import _find_spark_home

    if SparkContext._gateway is not None:
        return {}
    if not os.path.isfile(pyspark.__file__):  # imported from a zip
        return {}
    home = _find_spark_home()
    if not os.path.isfile(os.path.join(home, "python", "lib", "pyspark.zip")):
        return {}
    if _spark_core_version(home) != pyspark.__version__:
        return {}
    python = os.environ.get("PYSPARK_PYTHON")
    if python and not _runs_driver_python(python):
        return {}
    shim = spark_home_shim(home, pyspark.__version__)
    if shim is None:
        return {}
    # unset PYSPARK_PYTHON means `python3` from PATH, re-resolved on
    # every worker spawn (under pyenv, through a bash shim)
    return {"SPARK_HOME": shim, "PYSPARK_PYTHON": sys.executable}


def get_spark(app_name: str = "facebook_ad_library_data_pipeline_spark") -> SparkSession:
    """Build (or fetch) the tuned local session.

    All knobs are configuration, not custom Catalyst code (SURVEY.md §4):
    UTC session tz, AQE + partition coalescing + skew-join handling,
    Arrow for pandas interchange, shuffle partitions ≈ cores for local.
    """
    cpus = env_positive_int("SPARK_GRAFT_CPUS", DEFAULT_CPUS)
    shuffle = env_positive_int("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    # Task retries: local mode takes maxFailures from the MASTER STRING
    # (local[N] pins it to 1; spark.task.maxFailures is ignored), so
    # retry-path tests/evidence (injected first-attempt task failures —
    # the cluster reality of speculative execution and preemption) opt
    # in via env. Unset = fail-fast local[N], so ordinary test runs
    # still surface flaky tasks instead of silently retrying them.
    # The value is maxFailures (1 = fail on first failure, same as unset
    # local[N]; 2 = one retry), so 0 is meaningless rather than "default"
    retries = env_positive_int(
        "SPARK_GRAFT_TASK_RETRIES", None,
        "a positive integer (spark maxFailures: 2 = one retry)",
    )
    master = f"local[{cpus},{retries}]" if retries else f"local[{cpus}]"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # NOT the biggest heap that fits: with an oversized heap (90g)
        # GC almost never runs, so the GC-triggered ContextCleaner never
        # purges finished broadcasts/shuffle state — profiled 2-50×
        # degradation over a 67-query session. 16g keeps GC regular and
        # the whole bench stable.
        .config("spark.driver.memory", env_jvm_size("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # UI off for bench/test hygiene; scripts/scale_evidence.py flips
        # it on to read measured shuffle metrics from the REST API
        .config("spark.ui.enabled", env_bool("SPARK_GRAFT_UI", "false"))
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        # Bucketed scans stay bucket-aware even for plain lookups (the
        # planner otherwise auto-disables them and forfeits bucket
        # PRUNING); set at session build so shared-session plans are
        # independent of query execution order (q_bucket_pruned_lookup
        # also sets it defensively for driver-built cold sessions).
        .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
        # events.parquet carries TIMESTAMP(NANOS) which Spark's reader
        # rejects; read as long nanos and convert in the catalog loader
        # (truncating to micros, matching DuckDB's ns→µs behavior).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # State-store maintenance (RocksDB snapshot upload) runs on ONE
        # JVM-wide scheduled task whose interval is captured from the
        # first query that ever loads a state store — a later query's
        # own interval conf is ignored. The 60s production default
        # makes snapshot_checkpoint (which must AWAIT a snapshot
        # upload) stall up to a minute on bounded local runs; 2s ticks
        # over a handful of loaded providers are noise here. Cold
        # driver-built sessions keep the default and rely on
        # snapshot_checkpoint's longer deadline instead.
        .config("spark.sql.streaming.stateStore.maintenanceInterval", "2s")
        # Unix-domain sockets for every JVM<->Python channel (Spark 4.1):
        # workers, Arrow batches, the tws state server. Same-host IPC
        # without loopback-TCP handshake/port churn — measured A/B in
        # OPTIMIZATION_r16.md. Env-gated for re-measure.
        .config(
            "spark.python.unix.domain.socket.enabled",
            env_bool("SPARK_GRAFT_PY_UDS", "true"),
        )
    )
    # The JVM (and the SparkContext's pythonExec) read these env vars
    # only while launching; later calls reuse the JVM
    launch = worker_launch_env()
    saved = {k: os.environ.get(k) for k in launch}
    os.environ.update(launch)
    try:
        spark = builder.getOrCreate()
    finally:
        for k, v in saved.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v
    spark.sparkContext.setLogLevel("WARN")
    return spark
