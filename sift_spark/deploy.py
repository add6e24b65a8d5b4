"""Deployment helpers: shipping the package to executor workers.

In ``local[*]`` mode ``session.get_spark`` puts the package's parent
directory on the Python workers' ``PYTHONPATH``; on ANY multi-process
master (local-cluster, standalone, YARN, k8s) that path need not
exist, and every pandas-UDF closure pickles by module reference — so
the package must travel with the job exactly as
``spark-submit --py-files`` would send it. ``ship_package`` zips the
installed ``sift_spark`` tree and registers it via ``addPyFile``;
``session.get_spark`` calls it automatically for non-local masters.
"""

from __future__ import annotations

import os
import tempfile
import zipfile


def package_zip() -> str:
    """Zip the sift_spark package (py files only) for ``addPyFile``."""
    pkg = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg)
    zpath = os.path.join(tempfile.mkdtemp(prefix="sift-pyfiles-"), "sift_spark.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        for dirpath, _dirs, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(dirpath, f)
                    z.write(full, os.path.relpath(full, root))
    return zpath


def ship_package(spark) -> None:
    """Register the package zip with the context (idempotent per
    session: Spark dedups by file name)."""
    spark.sparkContext.addPyFile(package_zip())
