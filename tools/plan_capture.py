"""Capture .explain("formatted") for bench queries into plans/<tag>/.

Usage: python tools/plan_capture.py <tag> [query ...]

Writes plans/<tag>/<query>_<suffix>.txt for each named query (default:
all). ``JAM_PLAN_SUFFIX`` controls the file suffix (default "before").
Explain only — no job is executed beyond what query *construction*
itself triggers (ANN auto-sizing counts, IVF training).
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
SUFFIX = os.environ.get("JAM_PLAN_SUFFIX", "before")


def main() -> None:
    from jam_spark.ops import dedup, similarity, text
    from jam_spark.session import get_spark

    tag = sys.argv[1]
    only = set(sys.argv[2:])
    out_dir = os.path.join(REPO, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)

    spark = get_spark(app="jam_plan_capture", cores=CPUS, shuffle_partitions=CPUS)
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
        "ngram_dup_clusters": lambda: dedup.ngram_dup_clusters(docs),
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
    for name, make in suite.items():
        if only and name not in only:
            continue
        try:
            plan = make()._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        except Exception as e:  # noqa: BLE001
            plan = f"EXPLAIN FAILED: {e}"
        path = os.path.join(out_dir, f"{name}_{SUFFIX}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
