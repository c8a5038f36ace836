"""Structured Streaming ingest for the incremental dedup pipeline.

jam-rs is a batch CLI — sketch then compare (``src/main.rs:24-93``) —
with no streaming surface; its incremental story is "re-run sketch on
the new files and merge" by hand. At 100 TB the realistic input is a
landing zone that receives new page files continuously, so the
Spark-native surface for the same job is a file-source ``readStream``
whose micro-batches feed :class:`jam_spark.checkpoint.CheckpointedDedup`
through ``foreachBatch``.

Delivery semantics — why this is exactly-once WITHOUT a two-phase
commit: the streaming checkpoint (file-source log) replays a
micro-batch after a crash, i.e. at-least-once delivery into the sink;
``CheckpointedDedup.run`` is idempotent under replay (``url`` anti-join
guards membership, ``text_fp`` anti-join guards sketches, the
per-stage epochs and append windows of ``progress.json`` guard
bands/pairs — exercised by ``test_pipeline_resume.py``),
so replaying a batch re-derives an empty delta instead of duplicating
rows. At-least-once delivery composed with an idempotent merge is
effectively exactly-once.

Scale notes:

* ``max_files_per_trigger`` bounds each micro-batch; every batch costs
  one O(delta) incremental pass (sketch only the new docs, append their
  bands, new-vs-all join for the pair delta, incremental CC from the
  snapshotted labels) — NOT a recompute over the corpus.
* ``trigger(availableNow=True)`` (the default here) drains the current
  backlog in bounded batches and stops — the daily-ingest pattern; pass
  ``processing_time`` for a long-lived continuous ingester.
* The dedup state lives in the checkpoint store (parquet dirs or
  Iceberg tables), NOT in Spark streaming state — no state-store RocksDB
  sizing, no watermark tuning; the streaming layer is delivery only.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from .checkpoint import CheckpointedDedup
from .params import SketchParams

#: the landing-zone contract: parquet page files. File streams require
#: an explicit schema (no inference at plan time); only the two columns
#: the pipeline consumes — parquet column pruning drops the rest.
PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("text", T.StringType()),
    ]
)


def stream_dedup_from_files(
    spark: SparkSession,
    input_dir: str,
    root: str,
    params: SketchParams,
    max_files_per_trigger: int | None = None,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    processing_time: str | None = None,
):
    """Start a streaming query that incrementally dedups every page file
    landing under ``input_dir``. Returns the ``StreamingQuery``; callers
    ``awaitTermination()`` it (``available_now=True`` terminates once
    the backlog is drained).

    The streaming checkpoint defaults to ``<root>/_stream_checkpoint``
    so the ingest offset log travels WITH the dedup state it feeds —
    restoring one without the other is what breaks exactly-once.
    """
    if available_now and processing_time:
        raise ValueError(
            "available_now=True and processing_time are mutually "
            "exclusive triggers"
        )
    ck = CheckpointedDedup(spark, root, params)

    reader = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    pages = reader.parquet(input_dir)

    def _ingest(batch_df, batch_id: int) -> None:
        # an empty replayed batch is a no-op; limit(1) keeps the probe
        # from scanning the batch twice
        if batch_df.limit(1).count() == 0:
            return
        ck.run(batch_df)

    writer = (
        pages.writeStream.foreachBatch(_ingest)
        .option(
            "checkpointLocation",
            checkpoint_dir or os.path.join(root, "_stream_checkpoint"),
        )
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def drain_landing_zone(
    spark: SparkSession,
    input_dir: str,
    root: str,
    params: SketchParams,
    **kwargs,
):
    """One-shot convenience: drain every unprocessed file under
    ``input_dir`` into the dedup state at ``root`` and block until done.
    Re-invoking after new files land processes exactly the delta (the
    file-source log remembers what was consumed)."""
    q = stream_dedup_from_files(
        spark, input_dir, root, params, available_now=True, **kwargs
    )
    q.awaitTermination()
    return CheckpointedDedup(spark, root, params)
