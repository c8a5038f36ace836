"""Incremental-ingest cost benchmark: measure that appending a daily
batch costs O(delta) WRITES and a bounded multiple of the ideal wall,
not an O(corpus) recompute.

The north rule's resumable-checkpoint requirement exists because at
10^12 documents the pipeline's real recurring cost is the INGEST loop —
re-running dedup from scratch on every append is O(corpus) per day.
`CheckpointedDedup.run` instead sketches only unseen urls under a new
epoch, appends the bands of that epoch's reps to the postings table,
joins new-vs-all for the pair delta, and closes clusters incrementally
from the snapshotted labels (checkpoint.py
run_sketches/run_bands/run_pairs/run_clusters). The
correctness of that path is pytest-gated (test_pipeline_resume); this
tool measures its COST against the from-scratch alternative.

Protocol (same discipline as tools/scaling_bench.py — this host's
wall clock swings 1.3-3x between runs minutes apart, so single-run
ratios are meaningless; one early draw here read base(900k) SLOWER
than scratch(1M), a pure weather artifact):

  1. build the base checkpoint once (untimed), after a full-pipeline
     JIT warmup pass;
  2. per rep, INTERLEAVED: restore a pristine copy of the base root,
     time the incremental append of the delta, then time a
     from-scratch run on the full corpus at a fresh root;
  3. report per-phase MINIMA over reps (weather is strictly additive)
     plus every sample, the minima ratio, and the per-stage appended
     row counts of the last incremental rep (the O(delta)-writes
     evidence: bands rows ~= delta_docs x bands/doc, pairs rows =
     the delta edge set).

The incremental wall sits above frac x scratch because some costs are
O(corpus)-READ even when writes are O(delta): the membership url and
sketch text_fp anti-join probes, the epoch filter that picks the new
sketch rows for bands and pairs, and the new-vs-all half of the
candidate join (the crash-idempotency anti-join against the existing
postings runs only on a retry that finds its append window open). All
are column-pruned scans (url / text_fp / batch / band-key columns), so
they scale with corpus BYTES READ, not corpus SHUFFLE — the from-scratch
run pays full shuffles over the same rows. Cluster equality vs
from-scratch is asserted every run.

Usage: python tools/incremental_bench.py [--docs 1000000] [--frac 0.1]
       [--cores 16] [--reps 2] [--out BENCH/incremental.json]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def corpus_path(n_docs: int) -> str:
    cache = os.path.join(REPO, ".cache")
    os.makedirs(cache, exist_ok=True)
    rg = max(512, n_docs // 128)
    path = os.path.join(cache, f"pages_{n_docs}_rg{rg}.parquet")
    if not os.path.exists(path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        if n_docs > 100_000:
            from jam_spark.corpus import fast_corpus_pandas

            pdf = fast_corpus_pandas(n_docs, seed=42)
        else:
            from jam_spark.corpus import generate_pages, pages_to_pandas

            pdf = pages_to_pandas(generate_pages(n_docs=n_docs, seed=42))
        pq.write_table(
            pa.Table.from_pandas(pdf[["url", "text"]]), path, row_group_size=rg
        )
    return path


def stage_appends(root: str, before: dict[str, int]) -> list[dict]:
    """Per-stage metric rows appended past the pre-run line counts."""
    mdir = os.path.join(root, "metrics")
    out = []
    for fn in sorted(os.listdir(mdir)):
        lines = open(os.path.join(mdir, fn)).read().splitlines()
        for line in lines[before.get(fn, 0):]:
            m = json.loads(line)
            out.append(
                {k: m[k] for k in ("stage", "rows", "wall_ms", "append")
                 if k in m}
            )
    return out


def metric_lines(root: str) -> dict[str, int]:
    mdir = os.path.join(root, "metrics")
    if not os.path.isdir(mdir):
        return {}
    return {
        fn: sum(1 for _ in open(os.path.join(mdir, fn)))
        for fn in sorted(os.listdir(mdir))
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=1_000_000)
    ap.add_argument("--frac", type=float, default=0.1)
    ap.add_argument("--cores", type=int, default=16)
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from jam_spark._persist import release_all
    from jam_spark.checkpoint import CheckpointedDedup
    from jam_spark.params import SketchParams
    from jam_spark.session import get_spark

    spark = get_spark(app="incr_bench", cores=args.cores,
                      shuffle_partitions=args.cores)
    spark.sparkContext.setLogLevel("ERROR")
    params = SketchParams()

    pages = spark.read.parquet(corpus_path(args.docs))
    # deterministic split on the url hash — the appended batch is a
    # uniform sample, the worst case for band reuse (every band key
    # range is touched), not a best-case time-ordered suffix
    bucket = F.abs(F.xxhash64("url")) % 1000
    base_pages = pages.filter(bucket >= int(args.frac * 1000))
    delta_pages = pages.filter(bucket < int(args.frac * 1000))
    n_base, n_delta = base_pages.count(), delta_pages.count()

    work = tempfile.mkdtemp(prefix="incr_bench_")
    results: dict = {
        "docs": args.docs, "frac": args.frac, "cores": args.cores,
        "reps": args.reps, "n_base": n_base, "n_delta": n_delta,
    }
    incr_samples: list[float] = []
    scratch_samples: list[float] = []
    try:
        # JIT/worker warmup (scaling protocol #2): a full pipeline pass
        # on the base slice at a throwaway root, discarded
        warm_root = os.path.join(work, "warm")
        CheckpointedDedup(spark, warm_root, params).run(base_pages).count()
        release_all()
        shutil.rmtree(warm_root)

        pristine = os.path.join(work, "pristine")
        t0 = time.time()
        CheckpointedDedup(spark, pristine, params).run(base_pages).count()
        release_all()
        results["base_build_sec"] = round(time.time() - t0, 2)

        last_root = None
        for rep in range(args.reps):
            root = os.path.join(work, f"ckpt_{rep}")
            # cp -a beats shutil.copytree on many small parquet parts
            subprocess.run(["cp", "-a", pristine, root], check=True)
            before = metric_lines(root)
            t0 = time.time()
            CheckpointedDedup(spark, root, params).run(delta_pages).count()
            release_all()
            incr_samples.append(round(time.time() - t0, 2))
            results["incremental_stage_rows"] = stage_appends(root, before)
            if last_root and last_root != root:
                shutil.rmtree(last_root, ignore_errors=True)
            last_root = root

            scratch_root = os.path.join(work, f"scratch_{rep}")
            t0 = time.time()
            CheckpointedDedup(spark, scratch_root, params).run(pages).count()
            release_all()
            scratch_samples.append(round(time.time() - t0, 2))
            if rep < args.reps - 1:
                shutil.rmtree(scratch_root, ignore_errors=True)

        results["incremental_samples"] = incr_samples
        results["scratch_samples"] = scratch_samples
        results["incremental_sec"] = min(incr_samples)
        results["scratch_sec"] = min(scratch_samples)
        results["incr_over_scratch"] = round(
            results["incremental_sec"] / results["scratch_sec"], 3
        )
        results["ideal_floor_sec"] = round(
            args.frac * results["scratch_sec"], 2
        )
        # cross-check: incremental clusters == from-scratch clusters
        scratch_root = os.path.join(work, f"scratch_{args.reps - 1}")
        a = CheckpointedDedup(spark, last_root, params).run(pages)
        b = CheckpointedDedup(spark, scratch_root, params).run(pages)
        diff = a.exceptAll(b).count() + b.exceptAll(a).count()
        results["clusters_equal_scratch"] = diff == 0
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps(results))
    if args.out:
        with open(args.out, "w") as f:
            json.dump(results, f, indent=2)


if __name__ == "__main__":
    main()
