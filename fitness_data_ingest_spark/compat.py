"""Environment-compat shims, each a no-op where the real dependency
exists.

``drop_archive_importers``: PySpark's ``worker_util.setup_spark_files``
calls ``importlib.invalidate_caches()`` at the start of every Python
task and every data-source planner call. On Python 3.11 that makes
each ``zipimport.zipimporter`` cached in ``sys.path_importer_cache``
re-read its whole archive directory. A Spark worker caches about 16:
one per ``pyspark.zip`` package directory imported so far (1,328
entries, about 10 ms a re-read), one for the py4j zip, and two for
``spark-core_2.13-*.jar`` (5,359 entries, about 43 ms a re-read), which
Spark puts on every worker's ``PYTHONPATH`` although it holds no Python
module. Together that was about 0.24 s of CPU per call. The function
takes the jars off ``sys.path`` and evicts the cached zip importers.
Eviction is always safe: the next import that needs an archive path
rebuilds its importer from ``sys.path_hooks``, and ``zipimport``'s
module-level directory cache makes that rebuild cheap. It runs when
this package is imported (``__init__.py``), and every Python worker
that runs engine code imports the package first, because cloudpickle
pickles the data source, its reader and the UDF kernels by reference.
A reused worker then has no archive left for ``invalidate_caches()`` to
re-read, save those that later imports of new ``pyspark`` packages
cache again.

``install_protobuf_bridge``: Spark 4's ``transformWithStateInPandas``
Python worker speaks protobuf to the JVM state server
(``pyspark/sql/streaming/proto/StateMessage_pb2.py`` — generated code
that imports ``google.protobuf``). This container ships no protobuf
wheel, but the Google Cloud SDK (present on many dev boxes, including
this one) bundles a pure-Python protobuf runtime under a REWRITTEN
package root (``cloudsdk.google.protobuf`` — every internal import in
those files is absolute against ``cloudsdk.``). The bridge:

1. imports the runtime under its real ``cloudsdk.*`` names (so its own
   absolute imports resolve), pre-importing the whole package tree,
2. aliases the SAME module objects into ``google.*`` in ``sys.modules``
   — pre-population means later ``import google.protobuf.X`` hits the
   cache and never loads a second copy (dual-load would split the
   descriptor pool / metaclass state),
3. stubs ``google.protobuf.runtime_version`` (added in protobuf 5.x;
   protoc-6.x gencode calls ``ValidateProtobufRuntimeVersion`` on it,
   and the 4.23 runtime predates the module).

Called at ``stream.stateful`` import time: every process that can reach
the stateful operators imports this package first — the driver, the
executor workers (which unpickle the processor before constructing
``StatefulProcessorApiClient``; the pb2 imports are lazy inside client
methods), and Spark's driver-side schema-validation worker
(``transform_with_state_driver_worker``, which unpickles the UDF before
its PRE_INIT call) — so no worker-launch configuration is needed.

Two traps this code is shaped around, both observed live:

- **Jar-namespace poisoning**: Spark workers get the spark-core JAR on
  ``PYTHONPATH``; zipimport then resolves the jar's ``google/protobuf``
  DIRECTORY (bundled .proto files) as an empty NAMESPACE package, so a
  bare ``import google.protobuf`` SUCCEEDS while containing nothing.
  Workers drop the jar when this package loads
  (``drop_archive_importers``), but a process that never imports the
  package still has it on its path. The usability probe must therefore
  demand a real module (``descriptor``), and the alias pass must
  OVERWRITE, not setdefault, any namespace-package remnants in
  ``sys.modules``.
- **Gencode/runtime version skew**: pb2 files generated by a newer
  protoc against the 4.23 runtime are exercised by a round-trip
  self-check before the bridge declares success; on failure callers
  fall back to skipping protobuf-dependent paths.
"""

from __future__ import annotations

import importlib
import os
import pkgutil
import sys
import types
import zipimport

_CLOUDSDK_THIRD_PARTY = "/usr/lib/google-cloud-sdk/lib/third_party"


def drop_archive_importers() -> None:
    """Take every ``.jar`` off ``sys.path`` and evict every cached
    ``zipimporter``, so ``importlib.invalidate_caches()`` has no archive
    directory to re-read."""
    sys.path[:] = [p for p in sys.path if not str(p).endswith(".jar")]
    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del sys.path_importer_cache[path]


def _protobuf_usable() -> bool:
    """True only for a REAL protobuf runtime: an empty namespace package
    (the spark-core jar's ``google/protobuf`` resource dir) imports
    fine but has no modules in it."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def install_protobuf_bridge(root: str = _CLOUDSDK_THIRD_PARTY) -> bool:
    """Make ``google.protobuf`` importable. Returns True when protobuf
    is usable (already installed, bridge previously installed, or
    bridge installed now); False when no runtime is available — callers
    should then treat protobuf-dependent paths as unavailable."""
    if _protobuf_usable():
        return True
    if not os.path.isdir(os.path.join(root, "cloudsdk", "google", "protobuf")):
        return False
    if root not in sys.path:
        sys.path.append(root)
    try:
        cgp = importlib.import_module("cloudsdk.google.protobuf")
    except ImportError:
        return False
    # pre-import the full tree so the alias pass below covers every
    # module the gencode (or the pyspark client) might touch lazily;
    # individual failures (compiler plugin stubs etc.) are harmless
    for info in pkgutil.walk_packages(
        cgp.__path__, prefix="cloudsdk.google.protobuf."
    ):
        try:
            importlib.import_module(info.name)
        except Exception:
            continue
    # evict jar-namespace remnants, then alias: plain assignment, not
    # setdefault — a poisoned ``google.protobuf`` namespace entry must
    # lose to the real runtime
    for name in list(sys.modules):
        if name == "google.protobuf" or name.startswith("google.protobuf."):
            if not hasattr(sys.modules[name], "__file__"):
                del sys.modules[name]
    for name, mod in list(sys.modules.items()):
        if name.startswith("cloudsdk.google.protobuf"):
            sys.modules[name[len("cloudsdk.") :]] = mod
    # graft onto whatever ``google`` package exists (namespace or real);
    # create the alias only when there is none at all
    g = sys.modules.get("google")
    if g is None:
        try:
            g = importlib.import_module("google")
        except ImportError:
            g = sys.modules["google"] = importlib.import_module("cloudsdk.google")
    g.protobuf = cgp
    if "google.protobuf.runtime_version" not in sys.modules:
        rv = types.ModuleType("google.protobuf.runtime_version")

        class _Domain:
            GOOGLE_INTERNAL = 1
            PUBLIC = 2

        rv.Domain = _Domain
        rv.ValidateProtobufRuntimeVersion = lambda *a, **k: None
        sys.modules["google.protobuf.runtime_version"] = rv
        # `from google.protobuf import runtime_version` resolves via the
        # parent module attribute, not only sys.modules
        cgp.runtime_version = rv
    # self-check: the newer-protoc gencode must actually round-trip on
    # this runtime before we declare victory
    try:
        import pyspark.sql.streaming.proto.StateMessage_pb2 as sm

        req = sm.StateRequest(version=1)
        out = sm.StateRequest()
        out.ParseFromString(req.SerializeToString())
        return out.version == 1
    except Exception:
        return False
