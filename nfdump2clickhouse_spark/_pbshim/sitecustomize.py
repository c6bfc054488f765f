"""Opt-in protobuf shim (gated by SPARK_GRAFT_PB_SHIM=1): the container
has no installed google.protobuf, but the Cloud SDK ships a pure-Python
runtime 6.32.0 while pyspark's generated StateMessage gencode is 6.33.0
— one minor newer than the runtime, which the validator hard-rejects.
protobuf's official cross-version guarantee only covers gencode <=
runtime, so this gap is outside it; it works because the StateMessage
gencode uses no 6.33-only features. This sitecustomize (imported
automatically by every Python process with this dir on PYTHONPATH,
including Spark's forked workers) therefore relaxes ONLY the
same-major / one-minor-newer case — everything else still reaches the
original validator — and only when the shim is explicitly enabled.
The patch itself is ``pbcompat.relax_runtime_validator``, loaded from its
file in the package directory above this one, so the package (and the
pyspark it imports) is not imported at interpreter start.

Python imports only the FIRST sitecustomize on sys.path, so being on
PYTHONPATH shadows any system sitecustomize; the tail of this module
chain-loads the next one found so it still runs.

Remove when a real protobuf wheel is available."""
import importlib.util as _ilu
import os
import sys as _sys

_here = os.path.dirname(os.path.abspath(__file__))


def _exec_file(name, path):
    spec = _ilu.spec_from_file_location(name, path)
    module = _ilu.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


if os.environ.get("SPARK_GRAFT_PB_SHIM") == "1":
    try:
        _exec_file("_spark_graft_pbcompat",
                   os.path.join(os.path.dirname(_here), "pbcompat.py")
                   ).relax_runtime_validator()
    except Exception:
        pass

# chain-load the sitecustomize this one shadows (first match on sys.path
# outside this directory), whether or not the shim itself is enabled
try:
    for _p in _sys.path:
        _cand = os.path.join(_p or ".", "sitecustomize.py")
        if os.path.isfile(_cand) and os.path.dirname(os.path.abspath(_cand)) != _here:
            _exec_file("_chained_sitecustomize", _cand)
            break
except Exception:
    pass
