"""Worker-side protobuf fallback for transformWithStateInPandas.

Spark 4's transformWithState Python workers speak the state-server
protocol through generated protobuf code (pyspark/sql/streaming/proto/
StateMessage_pb2.py), so they hard-require `google.protobuf` — a wheel
this container does not ship. The Google Cloud SDK on the box vendors a
modern pure-Python protobuf (6.32) at a well-known path; this
sitecustomize, reached through the python_with_pb interpreter wrapper
(see that script for why PYTHONPATH alone cannot work), makes that copy
importable when (and only when) no working protobuf install exists.

Two traps this handles, both found empirically:

1. `import google.protobuf` SUCCEEDING is not evidence protobuf works:
   Spark workers get spark-core's JAR on sys.path, and the jar's shaded
   `google/protobuf/*.class` directories import as an EMPTY Python
   namespace package. The probe therefore imports
   google.protobuf.descriptor (the module the worker actually needs),
   and on failure evicts the phantom namespace entries from sys.modules
   so the vendored REGULAR package (which wins over namespace portions
   regardless of path order) can load.

2. protobuf's gencode/runtime version gate: Spark's generated file says
   gencode 6.33, the vendored runtime is 6.32 — one minor apart, below
   protobuf's major-version compatibility boundary. The gate is relaxed
   to a warning; every operator crossing this protocol is covered by
   batch-parity tests (tests/test_streaming.py::*tws*), so a real wire
   incompatibility cannot pass silently.

If a working protobuf wheel is ever installed, this module is a no-op
and the wheel wins.
"""

from __future__ import annotations

import os
import sys

_APPENGINE = "/usr/lib/google-cloud-sdk/platform/google_appengine"


def _protobuf_works() -> bool:
    try:
        from google.protobuf import descriptor  # noqa: F401
        return True
    except ImportError:
        return False


if not _protobuf_works() and \
        os.path.isdir(os.path.join(_APPENGINE, "google", "protobuf")):
    # evict phantom namespace-package entries (trap 1) so the re-import
    # scan runs fresh and the vendored regular package can win
    for _mod in [m for m in sys.modules
                 if m == "google" or m.startswith("google.")]:
        del sys.modules[_mod]
    sys.path.append(_APPENGINE)
    try:
        from google.protobuf import runtime_version as _rv

        _orig_validate = _rv.ValidateProtobufRuntimeVersion

        def _lenient_validate(*args, **kwargs):
            try:
                _orig_validate(*args, **kwargs)
            except _rv.VersionError as e:  # gencode minor > runtime
                import warnings

                warnings.warn(f"tolerating protobuf version skew "
                              f"(parity-tested): {e}")

        _rv.ValidateProtobufRuntimeVersion = _lenient_validate
    except ImportError:
        pass
