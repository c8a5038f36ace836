"""Scan-parallelism guard without touching ``df.rdd``.

Map-heavy operators (the sketch UDF, simhash, token stats) compute
INSIDE the scan stage, so scan splits are their parallelism. A
pathological input — one small parquet file, or a file whose single row
group defeats byte-range splitting — would serialize them on one task.

The previous guard probed ``df.rdd.getNumPartitions()``, which forces a
second full analysis + physical-planning pass (and, under AQE, can
materialize query stages) for every operator call. This module instead
estimates the scan's split count from driver-side FILE METADATA only
(``df.inputFiles()`` + local stat), which costs no Spark job:

    est_splits = max(n_files, ceil(total_bytes / maxPartitionBytes))

— the same arithmetic ``FilePartition`` uses, ignoring the open-cost
packing term (which only makes Spark create FEWER partitions, i.e. the
estimate is optimistic exactly when repartitioning is needed anyway).

At 100 TB any real input yields >= cores splits and the guard is a
driver-side no-op; non-local URIs (hdfs/s3) are assumed healthy for the
same reason. In-memory DataFrames (no input files — tests, ad-hoc
frames) are small by construction: repartitioning them costs a trivial
shuffle and guarantees the map stage spreads.
"""

from __future__ import annotations

import os
import re
from urllib.parse import urlparse

from pyspark.sql import DataFrame

_SUFFIX = {"": 0, "k": 1, "m": 2, "g": 3, "t": 4, "p": 5}


def _parse_byte_string(value: str, default: int) -> int:
    """Parse Spark byte-string conf values: plain numbers are BYTES,
    ``k/m/g/t/p`` suffixes (optionally followed by ``b``) are binary
    multiples — the same grammar as the JVM's
    ``JavaUtils.byteStringAsBytes`` (which isn't reachable from a plain
    conf string here without a session round-trip). The previous
    ``int(value.rstrip("b"))`` choked on human-readable settings like
    ``"128m"``/``"1g"`` and silently fell back to 128MB, overstating the
    split count 8x under a real 1g setting — so the parallelism guard
    could SKIP a repartition the sketch stage actually needed."""
    m = re.fullmatch(r"\s*(\d+)\s*([kmgtp]?)b?\s*", value.lower())
    if not m:
        return default
    return int(m.group(1)) * 1024 ** _SUFFIX[m.group(2)]


def _estimate_scan_splits(df: DataFrame) -> int | None:
    """Estimated file-scan partition count, or None when the input is
    not locally stat-able (remote URIs) — callers should then leave the
    plan alone (remote inputs at scale always carry enough splits)."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return 0  # in-memory relation
    max_bytes = _parse_byte_string(
        df.sparkSession.conf.get(
            "spark.sql.files.maxPartitionBytes", "134217728"
        ),
        default=128 * 1024 * 1024,
    )
    total = 0
    for f in files:
        parsed = urlparse(f)
        if parsed.scheme not in ("", "file"):
            return None
        path = parsed.path or f
        try:
            total += os.path.getsize(path)
        except OSError:
            return None
    return max(len(files), -(-total // max_bytes))


#: more input files than this and the serial driver-side footer scan
#: gives way to the count() job
MAX_FOOTER_FILES = 1000


def metadata_row_count(df: DataFrame) -> int | None:
    """Exact row count from parquet footers — driver-side, no Spark job.

    Only answers when ``df`` is a BARE file-scan relation (its analyzed
    plan is the relation node itself — no filter/project/limit that
    could change cardinality) over at most :data:`MAX_FOOTER_FILES`
    locally stat-able ``.parquet`` files; returns None otherwise and
    callers fall back to ``df.count()``.
    For a bare scan the footer row count is exactly what ``count()``
    computes, so auto-sizing decisions built on it are unchanged — this
    just removes the per-entry count JOB the ANN paths paid since r2.
    """
    try:
        cls = (
            df._jdf.queryExecution().analyzed().getClass().getSimpleName()
        )
        if cls not in ("LogicalRelation", "DataSourceV2Relation"):
            return None
        files = df.inputFiles()
    except Exception:
        return None
    if not files or len(files) > MAX_FOOTER_FILES:
        return None
    total = 0
    try:
        for f in files:
            parsed = urlparse(f)
            if parsed.scheme not in ("", "file"):
                return None
            path = parsed.path or f
            if not path.endswith(".parquet"):
                return None
            total += parquet_footer(path).num_rows
    except Exception:
        return None
    return total


def parquet_footer(path: str):
    """The footer (``pyarrow`` ``FileMetaData``: row count, key-value
    metadata) of a local parquet file, read driver-side — no Spark job."""
    import pyarrow.parquet as pq

    return pq.read_metadata(path)


def exact_count(df: DataFrame) -> int:
    """``df.count()`` without the job when the parquet footers already
    hold the answer (see :func:`metadata_row_count`)."""
    n = metadata_row_count(df)
    return df.count() if n is None else n


def ensure_scan_parallelism(df: DataFrame) -> DataFrame:
    """Repartition ``df`` to ``defaultParallelism`` only when the scan
    would under-parallelize a map-side-heavy stage; pure driver-side
    metadata probe, no extra Spark job or analysis pass."""
    target = df.sparkSession.sparkContext.defaultParallelism
    est = _estimate_scan_splits(df)
    if est is None:
        return df
    if est < target:
        return df.repartition(target)
    return df
