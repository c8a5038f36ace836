"""End-to-end duplicate-detection pipeline (in-memory orchestration;
checkpointed/resumable variant lives in ``checkpoint.py``).

    pages (url, warc_ts, html, text, lang)
      │  map-side: md5(text) fingerprint + sketch per row [one scan,
      ▼            text never shuffled]
    enriched (url, text_fp, sketch)
      │  groupBy(text_fp) with map-side combine → exact-dup collapse
      ▼
    sketches (url, sketch array<long>, num_hashes)   — reps only
      │  band_keys (Java UDF) + posexplode → thin hot bands → self-join
      ▼
    candidates (id_a, id_b) → verify (array_intersect) → pairs
      │  hash-min connected components
      ▼
    clusters (url, cluster_id)   — cluster_id = min member url

The exact-dup collapse mirrors nothing in the reference (it compares
every sketch); it is the web-scale move that removes the dominant skew
source (boilerplate/exact mirrors) BEFORE the shuffle-heavy band/pair
stages, and exact duplicates provably share identical sketches, so
results are unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ._persist import track
from .cluster import connected_components
from .pairs import (
    candidate_pairs,
    packed_bands,
    remap_pairs,
    thin_hot_bkeys,
    verify_pairs,
    with_nid,
)
from .params import SketchParams
from .sketch import jvm_sketch_col, make_sketch_udf


def sketch_stage(
    pages: DataFrame,
    params: SketchParams,
    dedup_exact_first: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Returns (sketches, membership).

    sketches:   (url, text_fp, sketch array<long>, num_hashes int) —
                reps only (text_fp omitted when dedup_exact_first=False).
    membership: (url, rep_url) for every input row. Its plan references
                the returned ``sketches`` DataFrame — persist sketches
                BEFORE materializing membership and the join is served
                from cache (one sketch pass total).

    Scale shape (the north_rule scaling gate lives here): the heavy
    ``text`` column is read ONCE and never shuffled. Every row is
    sketched map-side during the scan (exact duplicates recompute an
    identical sketch — cheap CPU bought at the price of zero text
    movement; the previous design sketched reps only but paid a full-text
    shuffle join plus a second scan, which capped N→4N scaling at ~0.58).
    Exact-dup groups then collapse in a map-side-combinable groupBy on the
    16-byte md5 fingerprint — shuffle bytes are (fp, url, sketch), with
    same-partition duplicates already merged by the partial aggregate.
    Membership re-attaches rep urls over the narrow (url, fp) projection.
    """
    if params.algo == "xxh64":
        sketch_col = jvm_sketch_col(params)
    else:
        sketch_col = make_sketch_udf(params)(F.col("text"))
    # the sketch runs map-side inside the scan, so scan partitions ARE
    # its parallelism. A pathological input (one small parquet file)
    # would serialize the CPU-heaviest stage — repartition only then; at
    # 100TB inputs always carry >= cores splits and this adds no
    # shuffle. The probe is driver-side file metadata, not df.rdd (which
    # paid a second analysis/planning pass per pipeline call).
    from .scan import ensure_scan_parallelism

    pages = ensure_scan_parallelism(pages)
    # NULL text never equals NULL text in a JOIN (unlike groupBy, which
    # buckets nulls together) — without the sentinel, null-text pages
    # group into a sketch row but vanish from membership's fp join, so
    # they'd be missing from clusters AND re-sketched on every
    # incremental ingest batch (the streaming schema permits null text).
    # '<null>' can't collide with a real fingerprint: md5 hex is 32 chars.
    text_fp = F.coalesce(F.md5(F.col("text")), F.lit("<null>"))
    if dedup_exact_first:
        # sketch branch: fingerprint + sketch computed side by side in one
        # map-only pass over the scan. identical text ⇒ identical sketch,
        # so any_value is exact; min/any_value both partial-aggregate
        # map-side (no skew: a million-mirror page collapses to one row
        # per map partition before the shuffle).
        enriched = pages.select(
            "url",
            text_fp.alias("text_fp"),
            sketch_col.alias("sketch"),
        )
        sketches = (
            enriched.groupBy("text_fp")
            .agg(
                F.min("url").alias("url"),
                F.any_value("sketch").alias("sketch"),
            )
            .select("url", "text_fp", "sketch", F.size("sketch").alias("num_hashes"))
        )
        # membership branch: the rep side is a projection OF THE RETURNED
        # sketches DataFrame, so when the caller persists sketches (every
        # pipeline does) this join reads the cache instead of re-running
        # scan+sketch+groupBy — the fps side is a narrow (url, md5)
        # projection Catalyst prunes the sketch out of. The heavy text
        # column is never shuffled (scans are cheap; shuffles are not).
        fps = pages.select("url", text_fp.alias("text_fp"))
        membership = (
            fps.join(
                sketches.select("text_fp", F.col("url").alias("rep_url")),
                "text_fp",
            )
            .select("url", "rep_url")
        )
    else:
        membership = pages.select("url", F.col("url").alias("rep_url"))
        sketches = pages.repartition(
            pages.sparkSession.sparkContext.defaultParallelism, "url"
        ).select("url", sketch_col.alias("sketch")).withColumn(
            "num_hashes", F.size("sketch")
        )
    return sketches, membership


def pairs_stage(sketches: DataFrame, params: SketchParams) -> DataFrame:
    """sketches → verified duplicate pairs above cutoff.

    The exploded bands table (|docs| × bands rows), its persist, the
    candidate self-join, and the verify joins all run on the compact
    8-byte ``nid`` instead of the url string (see
    :func:`jam_spark.pairs.with_nid` for the byte math); urls re-attach
    only on the (small) verified-pair output. Postings are packed to
    (bkey, nid) and hash-partitioned on bkey ONCE before the persist
    (:func:`jam_spark.pairs.packed_bands`): the hot-band size aggregate
    and both candidate self-join sides then satisfy their required
    distribution straight from the cache — one exchange over the
    |docs|×bands table instead of three (measured: pairs-stage medians
    50.7s → 36.4s at 1M docs / 16 cores, 1.39×, new plan faster in
    every interleaved rep; recorded in BENCH/BASELINE.md). The persist
    is lazy; the hot probe's first pass populates it.
    """
    sk = with_nid(sketches)
    bands = track(packed_bands(sk, params, id_col="nid"))
    bands = thin_hot_bkeys(bands, params, id_col="nid")
    cands = candidate_pairs(bands, id_col="nid")
    pairs_n = verify_pairs(cands, sk, params, id_col="nid")
    return remap_pairs(pairs_n, sk.select("nid", "url"))


def cluster_stage(pairs: DataFrame, membership: DataFrame) -> DataFrame:
    """Verified pairs (over reps) + exact membership → (url, cluster_id)
    for every input row. cluster_id = min url in the merged component."""
    rep_nodes = membership.select(F.col("rep_url").alias("url")).distinct()
    rep_clusters = connected_components(pairs, rep_nodes)
    return (
        membership.join(
            rep_clusters.withColumnRenamed("url", "rep_url"), "rep_url"
        )
        .select("url", "cluster_id")
    )


def dedup_pipeline(
    pages: DataFrame,
    params: SketchParams | None = None,
    text_from_html: bool = False,
) -> DataFrame:
    """Full pipeline: pages → (url, cluster_id).

    ``text_from_html=True`` derives ``text`` from the ``html`` binary
    column with the frozen extraction spec (``ops.text.html_text_col``)
    — for pages tables where only html is populated. The extraction is
    a map-only expression folded into the same scan pass as the
    fingerprint+sketch (no extra job, no shuffle), and it satisfies the
    byte-identical-text-per-url invariant, so clusters equal a run over
    pre-extracted text.
    """
    params = params or SketchParams()
    if text_from_html:
        from .ops.text import html_text_col

        pages = pages.withColumn("text", html_text_col())
    sketches, membership = sketch_stage(pages, params)
    # sketches feed the band UDF and both sides of the verify join;
    # membership feeds rep_nodes and the final label join — persist both
    # so the sketch UDF and the exact-group shuffle run exactly once
    # eager: bands + both verify joins consume it
    sketches = track(sketches, eager=True)
    membership = track(membership)
    pairs = pairs_stage(sketches, params)
    return cluster_stage(pairs, membership)
