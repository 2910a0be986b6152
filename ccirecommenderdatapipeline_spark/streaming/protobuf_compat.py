"""Make ``google.protobuf`` importable for transformWithStateInPandas.

Spark 4's TWS Python worker speaks proto3 to the JVM state server via the
generated ``StateMessage_pb2`` module, which needs a protobuf runtime.
Real clusters ship one; this container does not (VERDICT r10 item 3 — the
one SURVEY §2.10-adjacent surface without a driver verdict). The repo
vendors a minimal pure-Python runtime (vendor/protobuf_shim, implemented
from the public wire-format spec) covering exactly the surface the four
TWS state clients use; :func:`ensure_protobuf` makes it importable in the
DRIVER (sys.path) and in every Python WORKER (``sc.addPyFile`` of a zip —
the only runtime-safe delivery once the JVM is already up, since worker
PYTHONPATH is frozen at JVM launch).

Preference order: a native ``google.protobuf`` always wins (the shim is
only inserted when the import fails), so on a real cluster this module is
a no-op returning "native".
"""

from __future__ import annotations

import importlib.util
import os
import sys
import zipfile

_VENDOR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "vendor",
    "protobuf_shim",
)
_SHIPPED_SESSIONS: set[str] = set()


# pkgutil-style namespace __init__, generated ONLY into the worker zip:
# the vendor tree itself ships google/ as a PEP 420 namespace portion
# (no __init__.py, exactly like real protobuf wheels) so putting _VENDOR
# on a path never shadows other google.* portions — but Python 3.11's
# zipimport cannot import PEP 420 portions from a zip, so the zip's
# google/ carries this extend_path stub, which MERGES filesystem
# portions (e.g. a worker's google.cloud) instead of hiding them
# (ADVICE r11 item 3).
_NS_INIT = (
    "from pkgutil import extend_path\n"
    "__path__ = extend_path(__path__, __name__)\n"
)


def _shim_zip_path() -> str:
    """Build (once) a zip of the shim with ``google/`` at its root, so the
    zip path itself can sit on worker sys.path."""
    out = os.path.join("/tmp", "ccirdp_protobuf_shim_nsv2.zip")
    if os.path.exists(out):
        return out
    tmp = out + f".{os.getpid()}.part"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("google/__init__.py", _NS_INIT)
        for root, _dirs, files in os.walk(_VENDOR):
            for fn in sorted(files):
                if not fn.endswith(".py"):
                    continue
                full = os.path.join(root, fn)
                zf.write(full, os.path.relpath(full, _VENDOR))
    os.replace(tmp, out)  # atomic vs concurrent builders
    return out


def ensure_protobuf(spark) -> str:
    """Return "native" when a real protobuf runtime is importable,
    otherwise wire the vendored shim into this driver and the session's
    Python workers and return "shim"."""
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        if _VENDOR not in sys.path:
            sys.path.insert(0, _VENDOR)
        from google.protobuf import descriptor  # noqa: F401  (validates shim)
    else:
        # a shim already importable in THIS process (a test, or another
        # checkout's vendor tree, on sys.path) is NOT a native runtime —
        # workers still need the zip + env delivery below. The shim is
        # recognized by its own marker module, not by where it lives.
        if importlib.util.find_spec("google.protobuf._shim_runtime") is None:
            return "native"

    sc = spark.sparkContext
    app_id = sc.applicationId
    if app_id not in _SHIPPED_SESSIONS:
        # task workers: python-includes protocol (worker_util.add_path)
        sc.addPyFile(_shim_zip_path())
        # the TWS pre-init/driver worker (StreamingPythonRunner) is a
        # separate long-lived process that does NOT receive python
        # includes — it builds PYTHONPATH from the python function's
        # envVars, which classic PySpark snapshots from sc.environment
        # at UDF creation. sc.environment is the UDF-env channel and is
        # session-scoped; os.environ is deliberately NOT touched (ADVICE
        # r11 item 3 — a process-global mutation outlives the session
        # and leaks into unrelated subprocesses). _VENDOR is a PEP 420
        # namespace portion, so even on the worker path it merges with,
        # never shadows, other google.* packages.
        prev = sc.environment.get("PYTHONPATH", "")
        if _VENDOR not in prev.split(os.pathsep):
            sc.environment["PYTHONPATH"] = (
                _VENDOR + os.pathsep + prev if prev else _VENDOR
            )
        _SHIPPED_SESSIONS.add(app_id)
    return "shim"
