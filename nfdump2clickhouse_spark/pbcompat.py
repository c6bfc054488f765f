"""google.protobuf compatibility shim.

The container ships no protobuf wheel, but pyspark 4's
`transformWithStateInPandas` worker hard-requires `google.protobuf`
(its state-channel messages are protobuf-encoded). A pure-Python
protobuf runtime 6.32.0 happens to exist on this image inside the Cloud
SDK's bundled App Engine tree; pyspark's generated StateMessage gencode
is 6.33.0 — one minor NEWER than the runtime. Note protobuf's official
cross-version guarantee only covers gencode <= runtime, so this gap is
OUTSIDE the guarantee; it works because the StateMessage gencode uses no
6.33-only runtime features (and the TWS-vs-applyInPandasWithState
equality test would catch it if that stopped being true). Accordingly
the shim does NOT disable validation wholesale: it allows exactly the
same-major, at-most-one-minor-newer gencode case and delegates
everything else to the original validator, so a genuinely incompatible
gencode still fails with the clear version error.

`ensure_protobuf()` makes the real TWS path runnable with zero
installs, all inside this repo:

1. if `google.protobuf` already imports (a real wheel), do nothing;
2. else, if the SDK runtime exists, append it to sys.path for the
   DRIVER, relax only the version validator, and export
   PYTHONPATH + SPARK_GRAFT_PB_SHIM so Python WORKERS forked by a
   JVM started *after* this call inherit the same setup (the
   `_pbshim/sitecustomize.py` applies the validator patch inside each
   worker at interpreter start);
3. on any failure, report False — callers fall back to the
   `applyInPandasWithState` implementation, which is the same operator
   semantics on the older API.

Remove this module when a real protobuf wheel is available.
"""

from __future__ import annotations

import os

_SDK_PB = "/usr/lib/google-cloud-sdk/platform/google_appengine"
_SHIM_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_pbshim")


def relax_runtime_validator() -> bool:
    """Patch `runtime_version.ValidateProtobufRuntimeVersion` to accept
    gencode that is same-major and at most ONE minor newer than the
    runtime; every other combination still goes through the original
    validator. `_pbshim/sitecustomize.py` runs this function inside each
    forked worker."""
    try:
        from google.protobuf import runtime_version as _rv

        if getattr(_rv, "_spark_graft_relaxed", False):
            return True
        _orig = _rv.ValidateProtobufRuntimeVersion

        def _validate(*args, **kwargs):
            try:
                gen_major = kwargs.get("gen_major", args[1])
                gen_minor = kwargs.get("gen_minor", args[2])
                if gen_major == _rv.MAJOR and _rv.MINOR < gen_minor <= _rv.MINOR + 1:
                    return  # one-minor-newer gencode: allowed by the shim
            except Exception:
                pass
            return _orig(*args, **kwargs)

        _rv.ValidateProtobufRuntimeVersion = _validate
        _rv._spark_graft_relaxed = True
        return True
    except Exception:
        return False


def ensure_protobuf() -> bool:
    """Best-effort: make `google.protobuf` importable (driver + future
    workers). Returns True when the TWS proto modules load."""
    try:
        import google.protobuf  # noqa: F401

        return _validate_gencode()
    except ImportError:
        pass
    if not os.path.isdir(os.path.join(_SDK_PB, "google", "protobuf")):
        return False
    import sys

    if _SDK_PB not in sys.path:
        sys.path.append(_SDK_PB)
    if not relax_runtime_validator():
        return False
    # workers: sitecustomize on PYTHONPATH re-applies the patch per process
    os.environ["SPARK_GRAFT_PB_SHIM"] = "1"
    parts = [p for p in (_SHIM_DIR, _SDK_PB) if p]
    prev = os.environ.get("PYTHONPATH", "")
    for p in parts:
        if p not in prev.split(os.pathsep):
            prev = p + os.pathsep + prev if prev else p
    os.environ["PYTHONPATH"] = prev
    return _validate_gencode()


def _validate_gencode() -> bool:
    try:
        from pyspark.sql.streaming.proto import StateMessage_pb2  # noqa: F401

        return True
    except Exception:
        return False
