"""Ship this package to Spark Python workers.

Pandas UDFs defined in this package are cloudpickled BY REFERENCE
(the package is importable by name), so every Python worker must be
able to `import pulsar_internal_spark`. When the engine is driven by a
foreign SparkSession (the grading harness, a notebook, spark-submit
without --py-files), the workers' sys.path may not include the repo.

`ensure_shipped(spark)` zips the package once and registers it via
``sc.addPyFile`` — idempotent, works on local and cluster masters, and
is called from every query path that executes a UDF.
"""

from __future__ import annotations

import atexit
import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

_SHIPPED_ATTR = "_pulsar_internal_spark_shipped"


def package_root() -> str:
    return os.path.dirname(os.path.abspath(__file__))


def build_zip() -> str:
    """Zip the package (top-level dir = pulsar_internal_spark) so the
    zip itself is a valid sys.path entry. The path is per process: two
    engine processes on one host must not overwrite each other's zip,
    or Spark refuses the second one's file as not matching the first's."""
    out = os.path.join(
        tempfile.gettempdir(), f"pulsar_internal_spark_pkg_{os.getpid()}.zip"
    )
    src = package_root()
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        for dirpath, _dirnames, filenames in os.walk(src):
            if "__pycache__" in dirpath:
                continue
            for fn in filenames:
                if not fn.endswith(".py"):
                    continue
                full = os.path.join(dirpath, fn)
                rel = os.path.join(
                    "pulsar_internal_spark", os.path.relpath(full, src)
                )
                z.write(full, rel)
    atexit.register(_remove, out)
    return out


def _remove(path: str) -> None:
    try:
        os.remove(path)
    except OSError:
        pass


def ensure_shipped(spark: SparkSession) -> None:
    sc = spark.sparkContext
    if getattr(sc, _SHIPPED_ATTR, False):
        return
    sc.addPyFile(build_zip())
    setattr(sc, _SHIPPED_ATTR, True)
