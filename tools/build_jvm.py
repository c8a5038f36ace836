"""Rebuild ``jam_spark/jvm/jam_spark_jvm.jar`` from the Java sources next to it.

Usage: python tools/build_jvm.py

Compiles ``jam_spark/jvm/*.java`` with ``javac --release 17`` against
``$SPARK_HOME/jars`` (falling back to the jars of the installed pyspark)
and writes the jar with fixed entry timestamps, so the same sources and
compiler give the same bytes. The manifest records the sources' sha256
(``Source-SHA256``); ``tests/test_deploy.py`` fails when the committed
sources and jar disagree.
"""

from __future__ import annotations

import glob
import os
import subprocess
import sys
import tempfile
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from jam_spark.deploy import JAR, JVM_DIR, jvm_sources_sha256  # noqa: E402


def _spark_jars() -> str:
    home = os.environ.get("SPARK_HOME")
    if not home:
        import pyspark

        home = os.path.dirname(pyspark.__file__)
    return os.path.join(home, "jars")


def main() -> None:
    sources = sorted(glob.glob(os.path.join(JVM_DIR, "*.java")))
    with tempfile.TemporaryDirectory() as out:
        subprocess.run(
            ["javac", "--release", "17", "-cp", os.path.join(_spark_jars(), "*"),
             "-d", out, *sources],
            check=True,
        )
        manifest = (
            "Manifest-Version: 1.0\r\n"
            f"Source-SHA256: {jvm_sources_sha256()}\r\n\r\n"
        )
        classes = sorted(
            os.path.relpath(p, out)
            for p in glob.glob(os.path.join(out, "**", "*.class"), recursive=True)
        )
        tmp = JAR + ".tmp"
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as z:
            entries = [("META-INF/MANIFEST.MF", manifest.encode())] + [
                (c, open(os.path.join(out, c), "rb").read()) for c in classes
            ]
            for name, data in entries:
                z.writestr(zipfile.ZipInfo(name, (1980, 1, 1, 0, 0, 0)), data,
                           zipfile.ZIP_DEFLATED)
        os.replace(tmp, JAR)
    print(JAR)


if __name__ == "__main__":
    main()
