"""Extra benchmarks (guide §1.4 isolation): time a SUBSET of the bench
queries with the noop sink, interleaved reps, labelled jobs.

Usage: python bench_extra.py [-r REPS] [query ...]

Same data dir / core count contract as bench.py ($SPARK_GRAFT_SF_DIR,
$SPARK_GRAFT_CPUS); prints one JSON line with per-query median/min/max
over REPS interleaved rounds. bench.py itself is frozen for driver
measurement — numbers cited from here are labelled as bench_extra in
OPTIMIZATION_r06.md.
"""

from __future__ import annotations

import json
import os
import sys
import time
from statistics import median

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def main() -> None:
    args = sys.argv[1:]
    reps = 3
    if args and args[0] == "-r":
        reps = int(args[1])
        args = args[2:]

    from jam_spark._persist import release_all
    from jam_spark.ops import dedup, similarity, text
    from jam_spark.session import get_spark

    spark = get_spark(app="jam_bench_extra", cores=CPUS, shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    embs = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))

    suite = {
        "exact_dedup_groups": lambda: dedup.exact_dedup_groups(docs),
        "token_counts": lambda: text.token_counts(docs),
        "doc_quality": lambda: text.doc_quality(docs),
        "lang_id": lambda: text.lang_id(docs),
        "ngram_jaccard_pairs": lambda: dedup.ngram_jaccard_pairs(docs),
        "simhash": lambda: dedup.simhash(docs),
        "simhash_dup_pairs": lambda: dedup.simhash_dup_pairs(docs),
        "quality_filter": lambda: text.quality_filter(docs),
        "repetition_profile": lambda: text.repetition_profile(docs),
        "pii_profile": lambda: text.pii_profile(docs),
        "url_dedup_groups": lambda: dedup.url_dedup_groups(
            dedup.documents_with_urls(docs)
        ),
        "decontaminate": lambda: dedup.decontaminate(docs),
        "source_ngram_overlap": lambda: dedup.source_ngram_overlap(docs),
        "line_dedup": lambda: dedup.line_dedup(dedup.documents_with_lines(docs)),
        "mix_report": lambda: dedup.mix_report(docs),
        "winnow_dup_pairs": lambda: dedup.winnow_dup_pairs(docs),
        "winnow_dup_clusters": lambda: dedup.winnow_dup_clusters(docs),
        "shard_manifest": lambda: dedup.shard_manifest(docs),
        "minhash_sketches": lambda: dedup.minhash_sketches(docs),
        "minhash_pairs": lambda: dedup.minhash_pairs(docs),
        "minhash_clusters": lambda: dedup.minhash_clusters(docs),
        "cosine_topk_fast": lambda: similarity.cosine_topk_fast(embs),
        "ann_dup_pairs": lambda: similarity.ann_dup_pairs(embs, threshold=0.35),
        "ann_lsh_topk": lambda: similarity.ann_lsh_topk(embs),
        "ann_ivf_topk": lambda: similarity.ann_ivf_topk(embs),
        "simhash_dup_clusters": lambda: dedup.simhash_dup_clusters(docs),
        "training_funnel": lambda: dedup.training_funnel(docs),
    }
    names = args or list(suite)
    samples: dict[str, list[float]] = {n: [] for n in names}
    for _ in range(reps):
        for n in names:
            spark.sparkContext.setJobDescription(f"bench_extra:{n}")
            t0 = time.time()
            suite[n]().write.format("noop").mode("overwrite").save()
            samples[n].append(time.time() - t0)
            spark.sparkContext.setJobDescription(None)
            release_all()
    out = {
        n: {
            "median": round(median(v), 3),
            "min": round(min(v), 3),
            "max": round(max(v), 3),
        }
        for n, v in samples.items()
    }
    print(json.dumps({"bench_extra": out, "reps": reps, "sf_dir": SF_DIR}))
    spark.stop()


if __name__ == "__main__":
    main()
