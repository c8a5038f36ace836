"""Duplicate-cluster closure: connected components over the verified-pair
edge DataFrame via iterative hash-min label propagation.

Not present in the reference (jam-rs stops at scored pairs,
``src/compare.rs:28-36``); required by the north_rule. The label of a
component converges to the minimum member id (same convention as the
pure-Python oracle's union-find), so cluster ids are deterministic and
restart-stable.

Scale notes: each iteration is one shuffle on the node id; duplicate
clusters are near-cliques (diameter 1-2) so convergence is fast. The
worst case — a near-dup CHAIN A~B~C~… where each adjacent pair clears
the cutoff — has linear diameter, so plain min-propagation needs
O(diameter) rounds; every distributed iteration therefore also POINTER-
JUMPS (label ← label-of-label), which halves label-chain depth per round
and makes convergence O(log n) on chains (tested on a planted 1k-node
path). Each iteration is checkpointed to cut lineage (SURVEY §7
hard-part 6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: iteration cap of the distributed path (pointer jumping converges in
#: O(log n) rounds: 11 on a 1,024-node chain)
MAX_ITER = 50

#: iterations the last _cc_distributed run took (test/diagnostic hook)
LAST_CC_ITERATIONS: int | None = None


def connected_components(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    id_a: str = "id_a",
    id_b: str = "id_b",
    driver_threshold: int = 5_000_000,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Returns (url, cluster_id): cluster_id = min id in the component.

    ``edges``: (id_a, id_b) pairs. ``nodes``: optional (url) universe —
    ids with no edges become singleton clusters of themselves.

    Hybrid strategy (same spirit as AQE's runtime broadcast switch):
    after dedup the *edge* set is orders of magnitude smaller than the
    corpus — duplicate pairs only. If it fits comfortably on the driver
    (≤ ``driver_threshold`` edges) a local union-find closes components
    in one pass and the labels are joined back distributively; above the
    threshold the iterative hash-min label propagation runs fully
    distributed. Both produce identical labels (min member id).

    ``checkpoint_dir``: when set, the distributed path cuts per-iteration
    lineage with RELIABLE checkpoints written there (``df.checkpoint``),
    so losing an executor mid-run cannot kill a long CC job; when None it
    falls back to ``localCheckpoint`` (blocks live on executors — fine
    for tests/ad-hoc local runs, not for production pipelines).
    """
    from ._persist import track

    e0 = edges.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    # persist: the edge set is consumed by the size probe and then either
    # collected (driver path) or iterated (distributed path) — without
    # persistence the whole upstream pairs pipeline would recompute
    e0 = track(e0)
    # size the edge set BEFORE anything reaches the driver: the count's
    # only result is one long, and it materializes the persisted edges
    # the collect or the distributed path then reads
    if e0.count() <= driver_threshold:
        return _cc_driver(e0, nodes)
    return _cc_distributed(e0, nodes, checkpoint_dir)


def _cc_driver(e0: DataFrame, nodes: DataFrame | None) -> DataFrame:
    """Collect edges (NOT the corpus) to the driver via Arrow, integer
    union-find over factorized ids, broadcast the labels back. Only
    multi-member clusters need a labels row — nodes absent from the label
    map are singletons of themselves."""
    import numpy as np
    import pandas as pd

    spark = e0.sparkSession
    pdf = e0.toPandas()  # Arrow path: ~seconds for millions of edges
    if nodes is None:
        universe = e0.select(F.col("src").alias("url")).union(
            e0.select(F.col("dst").alias("url"))
        ).distinct()
    else:
        universe = nodes.select(F.col(nodes.columns[0]).alias("url")).distinct()
    if not len(pdf):
        return universe.select("url", F.col("url").alias("cluster_id"))

    codes, uniques = pd.factorize(
        pd.concat([pdf["src"], pdf["dst"]], ignore_index=True)
    )
    m = len(pdf)
    n = len(uniques)
    src_c = codes[:m]
    dst_c = codes[m:]
    uniq = np.asarray(uniques, dtype=object)
    parent = np.arange(n, dtype=np.int64)

    def find(x: int) -> int:
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != x:
            nxt = parent[x]
            parent[x] = r
            x = nxt
        return r

    for a, b in zip(src_c, dst_c):
        ra, rb = find(a), find(b)
        if ra != rb:
            # root = member with the lexicographically smaller url
            if uniq[rb] < uniq[ra]:
                ra, rb = rb, ra
            parent[rb] = ra

    roots = np.fromiter((find(i) for i in range(n)), dtype=np.int64, count=n)
    lab_df = spark.createDataFrame(
        pd.DataFrame({"url": uniq, "label": uniq[roots]})
    )
    return (
        universe.join(F.broadcast(lab_df), "url", "left")
        .select(
            "url",
            F.coalesce(F.col("label"), F.col("url")).alias("cluster_id"),
        )
    )


def _cc_distributed(
    e0: DataFrame,
    nodes: DataFrame | None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    from ._persist import free_local_checkpoint, track_checkpoint

    spark = e0.sparkSession
    if checkpoint_dir is not None:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)

    def _cut(df: DataFrame) -> DataFrame:
        # reliable checkpoint when a dir is configured (survives executor
        # loss — required for long production CC runs); localCheckpoint
        # otherwise (lineage cut only)
        if checkpoint_dir is not None:
            return df.checkpoint(eager=True)
        return df.localCheckpoint(eager=True)

    e = e0
    e = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    e = _cut(e.distinct())

    if nodes is not None:
        universe = nodes.select(F.col(nodes.columns[0]).alias("url")).distinct()
    else:
        universe = e.select(F.col("src").alias("url")).distinct()

    labels = universe.select("url", F.col("url").alias("cluster_id"))
    labels = _cut(labels)

    global LAST_CC_ITERATIONS
    LAST_CC_ITERATIONS = 0
    for _ in range(MAX_ITER):
        LAST_CC_ITERATIONS += 1
        # message passing: every node offers its label to its neighbors;
        # new label = min(own, incoming)
        msgs = e.join(
            labels.withColumnRenamed("url", "src"), "src"
        ).select(F.col("dst").alias("url"), "cluster_id")
        new_labels = (
            labels.unionByName(msgs)
            .groupBy("url")
            .agg(F.min("cluster_id").alias("cluster_id"))
        )
        # pointer jump: label ← label(label). Labels are themselves node
        # ids with the invariant label(v) <= v, so the lookup always hits
        # and only ever lowers a label — on a chain this halves the
        # remaining label depth each round (O(log n) total instead of the
        # O(diameter) that propagation alone needs).
        new_labels = _cut(
            new_labels.alias("l")
            .join(
                new_labels.select(
                    F.col("url").alias("cluster_id"),
                    F.col("cluster_id").alias("_jump"),
                ).alias("m"),
                "cluster_id",
                "left",
            )
            .select(
                "url",
                F.coalesce(F.col("_jump"), F.col("cluster_id")).alias(
                    "cluster_id"
                ),
            )
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "url")
            .filter(F.col("n.cluster_id") != F.col("o.cluster_id"))
            .limit(1)
            .count()
        )
        # the changed-compare was the old cut's last consumer — drop its
        # blocks now (DataFrame.unpersist is a no-op on localCheckpoint
        # blocks; without this every iteration leaks a label-set-sized
        # RDD for the session's lifetime)
        free_local_checkpoint(labels)
        labels = new_labels
        if changed == 0:
            break
    # `e` feeds nothing downstream of the returned labels; the returned
    # cut itself must outlive this function — register it for the
    # caller's release_all()
    free_local_checkpoint(e)
    return track_checkpoint(labels)
