"""Ship the ``jam_spark`` package to the driver, the executors and
Spark's Python workers.

On a real cluster the job runs ``spark-submit --py-files
jam_spark_pkg.zip --jars jam_spark/jvm/jam_spark_jvm.jar`` (north_rule):
the zip carries the Python package, the jar the JVM UDFs
(:class:`jam_spark.jvm.BandKeys`). For sessions created by someone else
(the test driver, a notebook), :func:`ensure_shipped` reproduces that
contract at runtime: zip the package and ``addPyFile`` it, so
cloudpickled UDFs can resolve ``jam_spark.*`` on executors regardless of
the driver's cwd, and ``ADD JAR`` the jar, which puts it on the driver's
classpath and ships it to the executors.
"""

from __future__ import annotations

import glob
import hashlib
import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

_SHIPPED_ATTR = "_jam_spark_shipped"

#: the JVM UDF sources and the jar built from them (``tools/build_jvm.py``)
JVM_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm")
JAR = os.path.join(JVM_DIR, "jam_spark_jvm.jar")


def jvm_sources_sha256() -> str:
    """sha256 over the Java sources in name order: the ``Source-SHA256``
    the jar's manifest records."""
    h = hashlib.sha256()
    for src in sorted(glob.glob(os.path.join(JVM_DIR, "*.java"))):
        with open(src, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build_zip(dest_dir: str | None = None) -> str:
    """Create (or reuse) a zip of the jam_spark package; returns its path."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    dest_dir = dest_dir or tempfile.gettempdir()
    out = os.path.join(dest_dir, "jam_spark_pkg.zip")
    src_mtime = max(
        os.path.getmtime(os.path.join(root, f))
        for root, _, files in os.walk(pkg_dir)
        for f in files
        if f.endswith(".py")
    )
    if os.path.exists(out) and os.path.getmtime(out) >= src_mtime:
        return out
    tmp = out + f".tmp{os.getpid()}"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as z:
        for root, _, files in os.walk(pkg_dir):
            for f in sorted(files):
                if not f.endswith(".py"):
                    continue
                full = os.path.join(root, f)
                rel = os.path.join(
                    "jam_spark", os.path.relpath(full, pkg_dir)
                )
                z.write(full, rel)
    os.replace(tmp, out)
    return out


def ensure_shipped(spark: SparkSession) -> None:
    """Idempotently add the package zip to the session's Python path and
    the jar to its classpath."""
    sc = spark.sparkContext
    if getattr(sc, _SHIPPED_ATTR, False):
        return
    sc.addPyFile(build_zip())
    spark.sql(f"ADD JAR '{JAR}'")
    setattr(sc, _SHIPPED_ATTR, True)
