"""Make a ``google.protobuf`` runtime importable when none is installed.

transformWithStateInPandas (Spark 4) runs a Python<->JVM state server whose
wire protocol is protobuf (`pyspark/sql/streaming/proto/StateMessage_pb2.py`,
gencode 6.33). This container has no site-packages protobuf, but the
machine's Google Cloud SDK ships a vendored pure-Python runtime (6.32.0,
BSD-licensed, native ``google.protobuf`` import names) under the App Engine
platform tree. Appending that directory to ``sys.path`` (append, never
prepend: a real install always wins) makes the runtime importable; the only
incompatibility is ``runtime_version.ValidateProtobufRuntimeVersion``
refusing gencode 6.33 > runtime 6.32 — a patch-level gap with no
descriptor-format difference for proto3 — so the shim no-ops the validator.

Two subtleties discovered the hard way:

- Spark's worker ``sys.path`` can contain the ``spark-core`` JAR, whose
  shaded Java classes include a ``google/protobuf/`` directory. zipimport
  happily treats that as a PEP-420 namespace portion, so a bare
  ``import google.protobuf`` "succeeds" as an EMPTY namespace package.
  Availability must therefore be probed via ``from google.protobuf import
  descriptor``, and any half-resolved namespace modules purged from
  ``sys.modules`` before retrying against the vendored runtime.
- Worker processes need the bootstrap BEFORE they import pyspark's
  generated proto, which is why this package also ships
  ``_pbshim_path/sitecustomize.py``: putting that directory on
  ``PYTHONPATH`` makes every Python worker the JVM forks run the bootstrap
  at interpreter startup (the stdlib ``site`` module imports
  ``sitecustomize`` from ``sys.path``; it also installs
  ``compat/zipcache.py``). ``ensure_protobuf()`` wires both: the current
  process immediately, future workers via the environment.

This is a compatibility seam for THIS container, not a vendored copy —
nothing is copied into the repo; on any normally-provisioned cluster
(`pip install protobuf`) the shim is a no-op.
"""

from __future__ import annotations

import os
import sys

# Candidate directories containing a pure-Python google/protobuf package
# with native import names. Probed in order; first importable wins.
_VENDOR_DIRS = [
    "/usr/lib/google-cloud-sdk/platform/google_appengine",
]

_SHIM_PATH_DIR = os.path.join(os.path.dirname(__file__), "_pbshim_path")


def _runtime_importable() -> bool:
    """True iff a REAL protobuf runtime resolves — not a bare namespace
    package contributed by a shaded Java jar on sys.path."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def _runtime_is_vendored() -> bool:
    """True iff the resolved ``google.protobuf`` was loaded from one of the
    _VENDOR_DIRS rather than a real site-packages install."""
    mod = sys.modules.get("google.protobuf")
    origin = getattr(mod, "__file__", None) if mod is not None else None
    if origin is None:
        return False
    return any(os.path.abspath(origin).startswith(os.path.abspath(d) + os.sep)
               for d in _VENDOR_DIRS)


def _defuse_version_gate() -> None:
    """No-op the patch-level gencode>runtime check — ONLY called when the
    resolved runtime is the vendored 6.32 fallback, so a real installed
    protobuf keeps its validator and genuine major-version gencode/runtime
    incompatibilities still fail loudly for every user in the process."""
    try:
        from google.protobuf import runtime_version

        runtime_version.ValidateProtobufRuntimeVersion = lambda *a, **k: None
    except ImportError:
        pass  # pre-6.x runtimes have no validator to defuse


def _bootstrap_current_process() -> bool:
    """Best-effort: make ``google.protobuf`` importable in THIS process and,
    on the vendored-runtime fallback path only, defuse the patch-level
    gencode>runtime version check. Returns True if the runtime imports."""
    if _runtime_importable():
        if _runtime_is_vendored():
            _defuse_version_gate()
        return True
    hit = next(
        (
            d
            for d in _VENDOR_DIRS
            if os.path.isfile(os.path.join(d, "google", "protobuf", "__init__.py"))
        ),
        None,
    )
    if hit is None:
        return False
    # Drop any half-resolved namespace packages so the retry rescans the
    # path (a cached empty-namespace 'google.protobuf' would otherwise
    # shadow the vendored regular package forever).
    for name in [
        m for m in list(sys.modules) if m == "google" or m.startswith("google.")
    ]:
        del sys.modules[name]
    if hit not in sys.path:
        sys.path.append(hit)
    if not _runtime_importable():
        return False
    _defuse_version_gate()
    return True


def ensure_protobuf() -> bool:
    """Bootstrap the current process AND export the shim to future Python
    workers (``session.export_worker_path``: the environment of a JVM not
    started yet and the active SparkContext's, if any). The shim is
    exported even when no runtime resolves: its ``sitecustomize`` also
    installs the zip-cache fix, and guards its own protobuf bootstrap.
    Idempotent."""
    # Imported here, not at module level: workers load this file by path at
    # interpreter startup, where gridmr_spark may not be importable.
    from gridmr_spark.session import export_worker_path

    export_worker_path(_SHIM_PATH_DIR)
    return _bootstrap_current_process()
