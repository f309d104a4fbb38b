"""Worker-side deployability: make this package importable in Spark's
Python worker processes for ANY session, including one the caller
built without our session factory.

``applyInPandas``/``mapInPandas`` functions are cloudpickled by value,
but they reference module-level names (numpy helpers, schemas), so the
worker must import the package itself. ``addPyFile`` of a package zip
is the runtime equivalent of ``spark-submit --py-files`` and works on
an already-running session; every UDF-bearing operator calls
``ensure_worker_imports`` on its input's session before building the
UDF plan (idempotent, one zip per driver process, one addPyFile per
SparkContext).
"""

from __future__ import annotations

import os

_ZIP_PATH: str | None = None
_SHIPPED_CONTEXTS: set[int] = set()


def _package_zip() -> str:
    global _ZIP_PATH
    if _ZIP_PATH is None:
        import tempfile
        import zipfile

        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        pkg_name = os.path.basename(pkg_dir)
        fd, zpath = tempfile.mkstemp(suffix=".zip", prefix=f"{pkg_name}_")
        os.close(fd)
        with zipfile.ZipFile(zpath, "w") as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(root, f)
                        rel = os.path.join(pkg_name, os.path.relpath(full, pkg_dir))
                        zf.write(full, rel)
        _ZIP_PATH = zpath
    return _ZIP_PATH


def ensure_worker_imports(spark_or_df) -> None:
    """Ship the package zip to this session's Python workers (no-op
    after the first call per SparkContext)."""
    spark = getattr(spark_or_df, "sparkSession", spark_or_df)
    sc = spark.sparkContext
    key = id(sc)
    if key in _SHIPPED_CONTEXTS:
        return
    sc.addPyFile(_package_zip())
    _SHIPPED_CONTEXTS.add(key)

