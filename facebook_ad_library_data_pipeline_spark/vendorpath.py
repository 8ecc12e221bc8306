"""Vendored-dependency bootstrap.

The Spark 4 typed-state streaming runtime (transformWithStateInPandas)
speaks its state-server protocol through ``google.protobuf``; this
container ships no protobuf wheel and has no network, so the repo
vendors a minimal clean-room runtime under ``vendor/google/protobuf``
(see its docstring for scope/provenance). This module makes it
importable in every process that needs it:

1. driver: ``sys.path`` insert;
2. future JVMs / python daemons: ``os.environ['PYTHONPATH']`` (the JVM
   launched by this driver inherits the env, and python workers inherit
   the JVM's);
3. an already-running SparkContext: ``sc.environment['PYTHONPATH']``
   (feeds the env of worker factories created after the mutation — the
   typed-state runtime uses a dedicated worker module, so its factory
   spawns fresh; verified end-to-end against a session created before
   the bootstrap, including with pre-warmed pandas-UDF daemons).
   A fresh process is not free: with ``pyspark.zip`` first on the
   worker path, Python compiles the whole ``pyspark.sql`` import graph
   from source in each one (no bytecode cache for zip imports; ~1.4 s
   for the transformWithState pre-init runner that every typed-state
   stream starts on its first micro-batch). A session launched by
   ``session.get_spark`` hides that zip from workers, so they import
   the installed, bytecode-cached pyspark instead (~0.4 s).

A REAL protobuf installation always wins: the vendor path is appended
only when ``google.protobuf`` is not already importable.
"""

from __future__ import annotations

import os
import sys

_WARNED_REAL_WHEEL = False

VENDOR_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "vendor"
)


def ensure_protobuf(spark=None) -> bool:
    """Make ``google.protobuf`` importable (vendored fallback); wire the
    path into worker environments when a session is given. Returns True
    if the import works after bootstrapping."""
    try:
        import google.protobuf
    except ImportError:
        if not os.path.isdir(os.path.join(VENDOR_DIR, "google", "protobuf")):
            return False
        if VENDOR_DIR not in sys.path:
            sys.path.insert(0, VENDOR_DIR)
        try:
            import google.protobuf
        except ImportError:
            return False
    # Propagate to workers ONLY when the vendored runtime is the ACTIVE
    # one (decided by which module the import resolved, NOT by whether
    # THIS call did the sys.path insert — the package __init__ calls
    # ensure_protobuf() at import time, so later calls with a session
    # almost always find the import already working and must still wire
    # the worker env). PYTHONPATH precedes site-packages on workers, so
    # exporting it when a real wheel won would let the minimal shim
    # shadow that wheel there — breaking worker-side consumers needing
    # features the shim omits (maps, extensions, JSON).
    vendored_active = os.path.abspath(
        getattr(google.protobuf, "__file__", "") or ""
    ).startswith(VENDOR_DIR + os.sep)
    if not vendored_active:
        # A real wheel won on the driver, so we deliberately skip the
        # PYTHONPATH export. On an asymmetric install (driver has the
        # wheel, workers don't) that turns into a worker-side
        # ImportError the first time a typed-state query runs — log one
        # line so that failure mode is diagnosable instead of silent.
        global _WARNED_REAL_WHEEL
        if not _WARNED_REAL_WHEEL:
            _WARNED_REAL_WHEEL = True
            import logging

            # warning level: the default root logger drops INFO, and
            # this is the only breadcrumb an asymmetric install
            # (driver wheel, bare workers) leaves before a worker-side
            # ImportError; once per process — ensure_protobuf is
            # called on every typed-state query
            logging.getLogger(__name__).warning(
                "real google.protobuf wheel active on driver (%s); "
                "vendored runtime NOT propagated to workers — workers "
                "must have the wheel installed too",
                getattr(google.protobuf, "__file__", "?"),
            )
    if vendored_active:
        existing = os.environ.get("PYTHONPATH", "")
        if VENDOR_DIR not in existing.split(os.pathsep):
            os.environ["PYTHONPATH"] = (
                VENDOR_DIR + os.pathsep + existing if existing else VENDOR_DIR
            )
        if spark is not None:
            env = spark.sparkContext.environment
            cur = env.get("PYTHONPATH", "")
            if VENDOR_DIR not in cur.split(os.pathsep):
                env["PYTHONPATH"] = (
                    VENDOR_DIR + os.pathsep + cur if cur else VENDOR_DIR
                )
    return True
