"""The north_rule's deployment contract: the job ships to a cluster via
``spark-submit --py-files jam_spark_pkg.zip --jars jam_spark_jvm.jar``
(reference analogue: jam-rs is a single static binary,
``/root/reference/README.md`` install section — one artifact per
runtime, no on-node setup). These tests prove the artifacts actually
carry the pipeline: the zip is built, the committed jar is built from
the committed Java sources, and a full sketch→pairs→clusters job runs
under real ``spark-submit`` from a cwd OUTSIDE the repo, so
``jam_spark.*`` can only resolve from the ``--py-files`` zip on both the
driver and the Python UDF workers, and the band UDF from the ``--jars``
jar.
"""

import os
import subprocess
import sys
import zipfile

import pyspark

from jam_spark.deploy import JAR, build_zip, jvm_sources_sha256

SPARK_SUBMIT = os.path.join(
    os.path.dirname(pyspark.__file__), "bin", "spark-submit"
)

_JOB = """\
import sys

from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[2]")
    .appName("deploy_smoke")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

import jam_spark  # must come from --py-files, not the cwd
from jam_spark.corpus import generate_pages, pages_to_pandas
from jam_spark.params import SketchParams
from jam_spark.pipeline import cluster_stage, pairs_stage, sketch_stage

raw = generate_pages(n_docs=120, seed=7)  # n_docs is a floor
pages = spark.createDataFrame(pages_to_pandas(raw))
params = SketchParams()
sketches, membership = sketch_stage(pages, params)
sketches = sketches.persist()
pairs = pairs_stage(sketches, params)
clusters = cluster_stage(pairs, membership)
n_clusters = clusters.select("cluster_id").distinct().count()
n_docs = clusters.count()

with open(sys.argv[1], "w") as f:
    f.write(
        f"{jam_spark.__file__}\\n{len(raw)}\\n{n_docs}\\n{n_clusters}\\n"
    )
spark.stop()
"""


def test_build_zip_contains_package_and_is_reused(tmp_path):
    z1 = build_zip(str(tmp_path))
    with zipfile.ZipFile(z1) as z:
        names = z.namelist()
    assert "jam_spark/__init__.py" in names
    assert "jam_spark/pipeline.py" in names
    assert "jam_spark/ops/dedup.py" in names
    assert not [n for n in names if not n.startswith("jam_spark/")]
    mtime = os.path.getmtime(z1)
    z2 = build_zip(str(tmp_path))
    assert z2 == z1 and os.path.getmtime(z2) == mtime  # cached, not rebuilt


def test_jar_built_from_committed_sources():
    """The jar's manifest records the sha256 of the Java sources it was
    compiled from; rebuild it with ``python tools/build_jvm.py`` after
    editing them."""
    with zipfile.ZipFile(JAR) as z:
        manifest = z.read("META-INF/MANIFEST.MF").decode()
        names = z.namelist()
    recorded = dict(
        line.split(": ", 1) for line in manifest.splitlines() if ": " in line
    )
    assert recorded["Source-SHA256"] == jvm_sources_sha256(), (
        "jam_spark/jvm/*.java changed since the jar was built: "
        "run python tools/build_jvm.py"
    )
    assert "jam_spark/jvm/BandKeys.class" in names


def test_spark_submit_py_files_runs_pipeline(tmp_path):
    pkg_zip = build_zip(str(tmp_path))
    job = tmp_path / "job.py"
    job.write_text(_JOB)
    out = tmp_path / "result.txt"

    env = dict(os.environ)
    # the repo must NOT be importable except through --py-files
    env.pop("PYTHONPATH", None)
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable

    proc = subprocess.run(
        [SPARK_SUBMIT, "--py-files", pkg_zip, "--jars", JAR, str(job),
         str(out)],
        cwd=str(tmp_path),
        env=env,
        stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stdout[-4000:]
    module_file, n_raw, n_docs, n_clusters = out.read_text().splitlines()
    # resolved from the shipped zip, not from /root/repo
    assert "jam_spark_pkg.zip" in module_file, module_file
    assert "/root/repo/jam_spark" not in module_file
    assert int(n_docs) == int(n_raw) > 0  # one cluster label per input row
    assert 1 <= int(n_clusters) < int(n_docs)  # planted dups collapsed
