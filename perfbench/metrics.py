"""Metric names and units the benchmark prints (``BENCHMARK.json``
lists the same names)."""

from __future__ import annotations

#: printed with ``--trace 0``
END_TO_END = {
    "wall_s": "s",
    "docs_per_s": "1/s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
    "setup_s": "s",
    "dup_pair_recall": "ratio",
    "dup_pair_precision": "ratio",
    "correct_ratio": "ratio",
}

#: the operator suite's leaves, in run order: calls ``bench.py`` makes,
#: cut to a subset (each with a DuckDB twin) whose cold pass, warm-up
#: pass and timed passes fit one benchmark run
OPS_LEAVES = [
    "exact_dedup_groups", "token_counts", "doc_quality", "pii_profile",
    "line_dedup", "winnow_dup_pairs", "cosine_topk_fast",
]


def _layer(layer: str, pairs: str) -> dict[str, str]:
    """``"name:unit name:unit"`` → {"layer.name": unit}."""
    return {f"{layer}.{n}": u for n, u in (p.split(":") for p in pairs.split())}


#: printed with ``--trace 1``
PER_LAYER = {
    **_layer("sketch", "wall_s:s cpu_s:s rows_in:count reps_out:count "
                       "shuffle_write_mb:MB scan_tasks:count"),
    **_layer("bands", "wall_s:s cpu_s:s python_udf_s:s postings:count hot_keys:count "
                      "postings_thinned:count shuffle_write_mb:MB"),
    **_layer("pairs", "wall_s:s cpu_s:s candidates:count verified:count "
                      "verify_yield:ratio shuffle_read_mb:MB spill_mb:MB"),
    **_layer("cluster", "wall_s:s cpu_s:s driver_s:s edges:count distributed:count "
                        "iterations:count driver_collect_mb:MB"),
    **_layer("checkpoint", "sketches.wall_s:s bands.wall_s:s "
                           "pairs.wall_s:s clusters.wall_s:s jobs:count "
                           "rows_appended:count bytes_written_mb:MB"),
    **_layer("streaming", "batches:count batch_s_p50:s batch_s_max:s"),
    **{f"ops.{leaf}.wall_s": "s" for leaf in OPS_LEAVES},
    **_layer("mixed", "cpu_s:s"),
    **_layer("spark", "jobs:count stages:count tasks:count gc_s:s shuffle_mb:MB spill_mb:MB"),
    **_layer("trace", "overhead_s:s"),
}
