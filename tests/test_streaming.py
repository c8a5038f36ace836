"""Structured Streaming ingest: a file-source stream feeding the
incremental dedup checkpoint must (a) end in exactly the from-scratch
clusters, (b) append O(delta) work per micro-batch (bands appended, not
rebuilt), and (c) consume each landed file exactly once across restarts
(file-source log + idempotent merge = exactly-once)."""

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq

from jam_spark.corpus import generate_pages, pages_to_pandas
from jam_spark.params import SketchParams
from jam_spark.pipeline import dedup_pipeline
from jam_spark.streaming import drain_landing_zone, stream_dedup_from_files

_PAGES_ARROW = pa.schema([("url", pa.string()), ("text", pa.string())])


def _land(pdf, path):
    """Write ``pdf``'s pages as one landing-zone parquet file (typed even
    when ``pdf`` has no rows)."""
    pq.write_table(
        pa.Table.from_pandas(
            pdf[["url", "text"]], schema=_PAGES_ARROW, preserve_index=False
        ),
        path,
    )


def _clusters_dict(df):
    return {r["url"]: r["cluster_id"] for r in df.collect()}


def test_stream_ingest_matches_batch(spark, tmp_path):
    params = SketchParams()
    pdf = pages_to_pandas(generate_pages(n_docs=200, seed=11))
    landing = tmp_path / "landing"
    landing.mkdir()
    root = str(tmp_path / "state")

    # day 1: first file lands; drain it
    _land(pdf.iloc[:150], str(landing / "batch0.parquet"))
    ck = drain_landing_zone(spark, str(landing), root, params)
    assert ck.stats()["n_pages"] == 150
    base_band_rows = spark.read.parquet(os.path.join(root, "bands")).count()

    # day 2: second file lands; a NEW query (fresh process) drains the
    # delta — the file-source log must skip batch0
    _land(pdf.iloc[150:], str(landing / "batch1.parquet"))
    ck = drain_landing_zone(spark, str(landing), root, params)

    got = _clusters_dict(ck.run(spark.createDataFrame(pdf[["url", "text"]])))
    want = _clusters_dict(
        dedup_pipeline(spark.createDataFrame(pdf[["url", "text"]]), params)
    )
    assert got == want

    # O(delta): exactly one full bands write (day 1) + one append whose
    # row count is the day-2 delta
    band_metrics = [
        json.loads(l)
        for l in open(os.path.join(root, "metrics", "bands.jsonl"))
    ]
    full_writes = [m for m in band_metrics if not m.get("append")]
    appends = [m for m in band_metrics if m.get("append")]
    assert len(full_writes) == 1 and full_writes[0]["rows"] == base_band_rows
    assert len(appends) == 1 and 0 < appends[0]["rows"] < base_band_rows

    # day 3: nothing new landed — draining again must be a no-op
    # (replayed/empty batches short-circuit before touching the store)
    before = os.path.getmtime(os.path.join(root, "metrics", "bands.jsonl"))
    drain_landing_zone(spark, str(landing), root, params)
    after = os.path.getmtime(os.path.join(root, "metrics", "bands.jsonl"))
    assert before == after


def test_stream_trigger_args_are_exclusive(spark, tmp_path):
    import pytest

    with pytest.raises(ValueError):
        stream_dedup_from_files(
            spark,
            str(tmp_path / "in"),
            str(tmp_path / "state"),
            SketchParams(),
            available_now=True,
            processing_time="10 seconds",
        )


def test_stream_bounded_batches_converge(spark, tmp_path):
    """maxFilesPerTrigger=1 over 3 landed files = 3 micro-batches in one
    drain: one full write + two O(delta) appends, final clusters equal
    the from-scratch batch run."""
    params = SketchParams()
    pdf = pages_to_pandas(generate_pages(n_docs=120, seed=7))
    landing = tmp_path / "landing"
    landing.mkdir()
    root = str(tmp_path / "state")
    cuts = [0, 100, 200, len(pdf)]
    for i in range(3):
        _land(pdf.iloc[cuts[i]:cuts[i + 1]], str(landing / f"f{i}.parquet"))

    q = stream_dedup_from_files(
        spark, str(landing), root, params, max_files_per_trigger=1
    )
    q.awaitTermination()

    band_metrics = [
        json.loads(l)
        for l in open(os.path.join(root, "metrics", "bands.jsonl"))
    ]
    assert [bool(m.get("append")) for m in band_metrics] == [
        False, True, True,
    ]

    from jam_spark.checkpoint import CheckpointedDedup

    got = _clusters_dict(
        CheckpointedDedup(spark, root, params).run(
            spark.createDataFrame(pdf[["url", "text"]])
        )
    )
    want = _clusters_dict(
        dedup_pipeline(spark.createDataFrame(pdf[["url", "text"]]), params)
    )
    assert got == want


def test_empty_batches_end_in_from_scratch_labels(spark, tmp_path):
    """Each micro-batch is probed for emptiness once (``run_sketches``,
    after dropping known urls): an empty first batch on a fresh root,
    then an empty batch and a replayed batch on the built root, all end
    in the from-scratch labels, and the later two write nothing."""
    from jam_spark.checkpoint import CheckpointedDedup

    params = SketchParams()
    pdf = pages_to_pandas(generate_pages(n_docs=120, seed=7))[["url", "text"]]
    landing = tmp_path / "landing"
    landing.mkdir()
    root = str(tmp_path / "state")

    def land_and_drain(part, name):
        _land(part, str(landing / name))
        return drain_landing_zone(spark, str(landing), root, params)

    land_and_drain(pdf.iloc[:0], "f0.parquet")
    ck = land_and_drain(pdf.iloc[:100], "f1.parquet")
    metrics = ck.metrics()
    with open(os.path.join(root, "progress.json")) as f:
        progress = f.read()
    land_and_drain(pdf.iloc[:0], "f2.parquet")
    ck = land_and_drain(pdf.iloc[40:100], "f3.parquet")
    assert ck.metrics() == metrics
    with open(os.path.join(root, "progress.json")) as f:
        assert f.read() == progress

    land_and_drain(pdf.iloc[100:], "f4.parquet")
    got = _clusters_dict(CheckpointedDedup(spark, root, params).run(
        spark.createDataFrame(pdf)
    ))
    assert got == _clusters_dict(dedup_pipeline(spark.createDataFrame(pdf), params))
