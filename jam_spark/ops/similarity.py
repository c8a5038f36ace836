"""Similarity search over an embedding column (``array<float>``).

- :func:`cosine_topk` — brute-force exact top-k cosine neighbors; the
  correctness baseline. Dot products are sequential folds in float64 so
  the DuckDB oracle (list_reduce) is bit-identical.
- :func:`ann_lsh_topk` — random-hyperplane LSH bucketing: each vector is
  signed against ``n_planes`` deterministic hyperplanes; candidates share
  a bucket in at least one of ``n_tables`` tables; exact cosine re-rank
  inside buckets. The scale path (shuffle keys are bucket ids, no
  all-pairs).
- :func:`ann_ivf_topk` — IVF (inverted-file) bucketing: a spherical
  k-means coarse quantizer (trained on a BOUNDED deterministic sample)
  partitions the corpus into cells; each query probes its ``n_probe``
  nearest cells; exact cosine re-rank inside probed cells. The second
  scale path — data-adaptive cells where LSH's are oblivious.
- :func:`cosine_dup_pairs` / :func:`ann_dup_pairs` /
  :func:`ann_dup_clusters` — the embedding near-dup PAIR and CLUSTER
  family: exact O(n²) oracle baseline, its capped-candidate scale twin,
  and the connected-components closure over the twin's edges.
- :func:`ann_rescored` — one-row, driver-checkable certification that
  every cosine an ANN path returns is the exact sequential-f64 fold of
  its pair (cross-implementation: JVM fold vs numpy cumsum).

Every exact score in this module — baselines, fast path re-rank, ANN
re-rank, dup-pair thresholds — is the SAME sequential-float64 fold, so
values are bit-comparable across operators and to the DuckDB oracle's
``list_reduce``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .._malloc import tune_malloc
from .._persist import track
from ..hashes import M64, xxh3_u64
from ..pairs import cap_hot_keys
from ..scan import exact_count

# the pandas UDFs below run numpy in Python workers
tune_malloc()


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_topk(embeddings: DataFrame, k: int = 5) -> DataFrame:
    """(vec_id, neighbor_id, cosine, rank) — exact brute-force top-k.

    Rank ties break on neighbor_id asc; self-pairs excluded. The O(n²)
    pair space is the *baseline*; use :func:`ann_lsh_topk` at scale.
    """
    a = embeddings.select(
        F.col("vec_id").alias("vec_id"), F.col("embedding").alias("ea")
    )
    b = embeddings.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("eb")
    )
    pairs = a.crossJoin(b).filter(F.col("vec_id") != F.col("neighbor_id"))
    scored = pairs.select(
        "vec_id",
        "neighbor_id",
        (
            _dot(F.col("ea"), F.col("eb"))
            / (_norm(F.col("ea")) * _norm(F.col("eb")))
        ).alias("cosine"),
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("vec_id").cast("long"),
            F.col("neighbor_id").cast("long"),
            "cosine",
            F.col("rank").cast("long"),
        )
    )


def cosine_topk_sql(k: int = 5) -> str:
    dot = (
        "list_reduce([a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE "
        "for i in range(1, len(a.embedding) + 1)], (x, y) -> x + y)"
    )
    norm_a = (
        "sqrt(list_reduce([a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE "
        "for i in range(1, len(a.embedding) + 1)], (x, y) -> x + y))"
    )
    norm_b = (
        "sqrt(list_reduce([b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE "
        "for i in range(1, len(b.embedding) + 1)], (x, y) -> x + y))"
    )
    return f"""
        WITH scored AS (
          SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
                 {dot} / ({norm_a} * {norm_b}) AS cosine
          FROM embeddings a, embeddings b
          WHERE a.vec_id <> b.vec_id
        ),
        ranked AS (
          SELECT vec_id, neighbor_id, cosine,
                 row_number() OVER (PARTITION BY vec_id
                                    ORDER BY cosine DESC, neighbor_id ASC) AS rank
          FROM scored
        )
        SELECT vec_id::BIGINT AS vec_id, neighbor_id::BIGINT AS neighbor_id,
               cosine, rank::BIGINT AS rank
        FROM ranked WHERE rank <= {k}
    """


def cosine_topk_fast(
    embeddings: DataFrame,
    k: int = 5,
    block_size: int = 4096,
    max_exact_n: int = 2_000_000,
) -> DataFrame:
    """Fast exact top-k as a distributed block-nested-loop: vectors are
    hashed into ``ceil(n/block_size)`` blocks, each block is packed into
    one (ids, float32-matrix) row executor-side, every (query-block,
    corpus-block) pair streams through a vectorized matmul+argpartition
    that SELECTS candidates (the 2k-per-block margin, TIE-EXPANDED to
    every column matching the weakest selected f32 score, so the set is
    deterministic and candidate-complete even under mass-point ties),
    and the surviving candidate set is RE-SCORED with the same
    sequential-float64 fold
    :func:`cosine_topk` uses — so final (cosine, rank) values are
    bit-identical to the brute-force baseline and the DuckDB oracle
    (:func:`cosine_topk_sql` is this function's oracle too). The driver
    never holds a row — no ``collect()``, no driver-sized broadcast.
    Shuffle volume is n_blocks replicas of the packed table (float32
    halves it vs float64 — safe because block scores only pick
    candidates, never final values); work is the same n² flops as brute
    force but BLAS-batched.

    Above ``max_exact_n`` vectors exact n² is the wrong tool at any
    constant factor: falls back to :func:`ann_lsh_topk` with a
    ``UserWarning`` (results become approximate).
    """
    n = exact_count(embeddings)
    if n == 0:
        return embeddings.sparkSession.createDataFrame(
            [], "vec_id long, neighbor_id long, cosine double, rank long"
        )
    if n > max_exact_n:
        import warnings

        warnings.warn(
            f"cosine_topk_fast: {n} vectors > max_exact_n={max_exact_n}; "
            "falling back to approximate ann_lsh_topk",
            UserWarning,
            stacklevel=2,
        )
        return ann_lsh_topk(embeddings, k=k)
    # ceil(n / block_size) blocks: small corpora form few blocks (a
    # 4096² matmul is a trivial single task — forcing more blocks just
    # buys task/python-worker overhead, measured 4× slower cold); large
    # corpora parallelize naturally via the n_blocks² block pairs
    n_blocks = -(-n // block_size)
    # candidate margin: the float32 block scores pick WHICH pairs reach
    # the exact re-score; 2k per block absorbs f32-vs-f64 boundary flips
    # around the k-th place, and the tie expansion below makes the
    # selection complete (and deterministic) under arbitrarily wide f32
    # score ties
    k_cand = 2 * k

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        mat = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
        mat /= np.linalg.norm(mat, axis=1, keepdims=True)
        mat = mat.astype(np.float32)
        return pd.DataFrame(
            {
                "block": [int(pdf["block"].iloc[0])],
                "ids": [pdf["vec_id"].to_numpy(dtype=np.int64)],
                "mat": [mat.tobytes()],
                "dim": [mat.shape[1]],
            }
        )

    packed = (
        embeddings.select(
            "vec_id",
            "embedding",
            F.pmod(F.xxhash64("vec_id"), F.lit(n_blocks)).alias("block"),
        )
        .groupBy("block")
        .applyInPandas(
            _pack, schema="block long, ids array<long>, mat binary, dim int"
        )
    )
    qb = packed.select(
        F.col("ids").alias("q_ids"), F.col("mat").alias("q_mat"), "dim"
    )
    cb = packed.select(
        F.col("ids").alias("c_ids"), F.col("mat").alias("c_mat"),
        F.col("dim").alias("c_dim"),
    )

    def _block_topk(batches):
        for pdf in batches:
            out_v, out_n = [], []
            for row in pdf.itertuples(index=False):
                dim = int(row.dim)
                q_ids = np.asarray(row.q_ids, dtype=np.int64)
                c_ids = np.asarray(row.c_ids, dtype=np.int64)
                q = np.frombuffer(row.q_mat, dtype=np.float32).reshape(-1, dim)
                c = np.frombuffer(row.c_mat, dtype=np.float32).reshape(-1, dim)
                sims = q @ c.T  # (nq, nc)
                self_mask = q_ids[:, None] == c_ids[None, :]
                if self_mask.any():
                    sims = np.where(self_mask, -np.inf, sims)
                if k_cand < sims.shape[1] - 1:
                    top = np.argpartition(-sims, k_cand, axis=1)[:, :k_cand]
                    # tie expansion: argpartition picks an ARBITRARY
                    # (partition-order-dependent) subset of columns tied
                    # at the k_cand-th f32 score — with >k_cand duplicate
                    # embeddings in a block the exact f64 re-rank's
                    # neighbor_id-asc tie-break could need an id that was
                    # never selected. Keep EVERY column scoring >= the
                    # weakest selected one: the candidate set is then a
                    # deterministic function of the scores alone and
                    # provably contains any pair the f64 re-rank can
                    # place in the top-k (a mass-point corpus degrades
                    # toward brute force, which is what exactness costs
                    # there).
                    thr = np.take_along_axis(sims, top, axis=1).min(axis=1)
                    for qi in range(len(q_ids)):
                        if thr[qi] == -np.inf:
                            # fewer real columns than k_cand (self was
                            # selected): keep all non-self
                            nn = np.nonzero(sims[qi] > -np.inf)[0]
                        else:
                            nn = np.nonzero(sims[qi] >= thr[qi])[0]
                        out_v.extend([int(q_ids[qi])] * len(nn))
                        out_n.extend(c_ids[nn].tolist())
                else:
                    top = np.broadcast_to(
                        np.arange(sims.shape[1]), sims.shape
                    )
                    for qi in range(len(q_ids)):
                        nn = top[qi][sims[qi, top[qi]] > -np.inf]
                        out_v.extend([int(q_ids[qi])] * len(nn))
                        out_n.extend(c_ids[nn].tolist())
            yield pd.DataFrame(
                {
                    "vec_id": pd.array(out_v, dtype="int64"),
                    "neighbor_id": pd.array(out_n, dtype="int64"),
                }
            )

    # repartition the block-pair crossJoin so a task holds at most ~64
    # heavy rows: Arrow feeds mapInPandas min(partition_rows,
    # maxRecordsPerBatch) rows per batch, and each row carries two packed
    # block matrices (~block_size×dim×4B) — an unbounded partition would
    # materialize multi-GB pandas batches at max_exact_n (executor OOM)
    sc = embeddings.sparkSession.sparkContext
    n_parts = max(sc.defaultParallelism, -(-(n_blocks * n_blocks) // 64))
    cand = (
        qb.crossJoin(cb)
        .repartition(n_parts)
        .mapInPandas(_block_topk, schema="vec_id long, neighbor_id long")
        .distinct()
    )
    # exact re-score of the ≤ 2k·n_blocks-per-query candidate set with the
    # identical sequential-float64 fold cosine_topk uses ⇒ bit-identical
    # scores; the ~k·n candidate rows are a cheap JVM-side join
    scored = _exact_rescore(cand, embeddings)
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("vec_id").cast("long"),
            F.col("neighbor_id").cast("long"),
            "cosine",
            F.col("rank").cast("long"),
        )
    )


def cosine_dup_pairs(embeddings: DataFrame, threshold: float = 0.9) -> DataFrame:
    """(vec_id, neighbor_id, cosine) — all pairs with cosine strictly
    above ``threshold``, vec_id < neighbor_id: embedding-space near-dup
    PAIRS (the pair-style twin of :func:`cosine_topk`, matching the
    pairs-style outputs of the minhash/simhash/ngram dedup family).

    This is the exact O(n²) oracle baseline (sequential-float64 fold ⇒
    DuckDB-checkable); :func:`ann_dup_pairs` is its SCALE TWIN — capped
    LSH/IVF bucket candidates re-scored with the identical fold, strict
    ``>`` threshold — the same baseline↔scale contract cosine_topk has
    with the two ann_*_topk paths. Use that one on anything bigger than
    an oracle corpus.
    """
    a = embeddings.select(F.col("vec_id"), F.col("embedding").alias("ea"))
    b = embeddings.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("eb")
    )
    return (
        a.crossJoin(b)
        .filter(F.col("vec_id") < F.col("neighbor_id"))
        .select(
            F.col("vec_id").cast("long"),
            F.col("neighbor_id").cast("long"),
            (
                _dot(F.col("ea"), F.col("eb"))
                / (_norm(F.col("ea")) * _norm(F.col("eb")))
            ).alias("cosine"),
        )
        .filter(F.col("cosine") > threshold)
    )


def cosine_dup_pairs_sql(threshold: float = 0.9) -> str:
    dot = (
        "list_reduce([a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE "
        "for i in range(1, len(a.embedding) + 1)], (x, y) -> x + y)"
    )
    norm_a = (
        "sqrt(list_reduce([a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE "
        "for i in range(1, len(a.embedding) + 1)], (x, y) -> x + y))"
    )
    norm_b = (
        "sqrt(list_reduce([b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE "
        "for i in range(1, len(b.embedding) + 1)], (x, y) -> x + y))"
    )
    return f"""
        SELECT * FROM (
          SELECT a.vec_id::BIGINT AS vec_id, b.vec_id::BIGINT AS neighbor_id,
                 {dot} / ({norm_a} * {norm_b}) AS cosine
          FROM embeddings a, embeddings b
          WHERE a.vec_id < b.vec_id
        ) WHERE cosine > {threshold}
    """


def _np2d_f64(col) -> np.ndarray:
    """(n, dim) float64 matrix from an Arrow ``list<float*>`` array.

    Fast path: a dense list column (no nulls, uniform width) is one
    contiguous child buffer plus offsets — reshape the flat values
    directly instead of materializing n per-row objects and
    ``np.vstack``-ing them (guide §4.2: re-slice buffers, don't copy
    rows; measured ~2x on the 1.5M-pair ANN rescore). Values are
    identical to the per-row path, so downstream folds are bit-equal.
    Sliced batches are safe: ``flatten()`` honors the slice and the
    offset DIFFERENCES give the widths. Ragged/null layouts fall back
    to the per-row conversion."""
    if col.null_count == 0 and len(col):
        flat = col.flatten()
        if flat.null_count == 0:
            off = col.offsets.to_numpy(zero_copy_only=False).astype(
                np.int64
            )
            widths = np.diff(off)
            if len(widths) and (widths == widths[0]).all() and widths[0] > 0:
                return np.asarray(flat, dtype=np.float64).reshape(
                    len(col), int(widths[0])
                )
    return np.vstack([np.asarray(v, dtype=np.float64) for v in col.to_pylist()])


def _exact_rescore(cand: DataFrame, embeddings: DataFrame) -> DataFrame:
    """Attach the exact sequential-f64 fold cosine to (vec_id,
    neighbor_id) candidate pairs — the ONE scoring implementation every
    exact/ANN path shares, so scores are bit-comparable across
    cosine_topk / cosine_dup_pairs / ann_* and the DuckDB oracle.

    Implementation: ``mapInArrow`` over the candidate⋈embedding join —
    the per-pair (ea, eb) vectors arrive as dense Arrow list columns and
    are folded as one (n, dim) float64 ``cumsum`` per batch
    (:func:`_np2d_f64`): a strict left-to-right prefix sum whose last
    element is bit-identical to the JVM ``F.aggregate`` fold and to
    DuckDB's ``list_reduce`` (the ``0.0`` initial accumulator is an
    IEEE no-op), exactly like the pandas-UDF fold it replaces in the
    hot path — minus the per-row object marshalling (``np.vstack`` over
    millions of rows dominated the ANN rescore stage; the
    :func:`ann_rescored` certification paths keep the independent JVM
    fold, so the two implementations stay mutually checking)."""
    emb = embeddings.select("vec_id", "embedding")
    joined = (
        cand.join(emb.withColumnsRenamed({"embedding": "ea"}), "vec_id")
        .join(
            emb.withColumnsRenamed(
                {"vec_id": "neighbor_id", "embedding": "eb"}
            ),
            "neighbor_id",
        )
        .select("vec_id", "neighbor_id", "ea", "eb")
    )

    def _score(batches):
        import pyarrow as pa

        for batch in batches:
            if batch.num_rows == 0:
                continue
            a = _np2d_f64(batch.column(2))
            b = _np2d_f64(batch.column(3))
            num = np.cumsum(a * b, axis=1)[:, -1]
            na = np.sqrt(np.cumsum(a * a, axis=1)[:, -1])
            nb = np.sqrt(np.cumsum(b * b, axis=1)[:, -1])
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(0).cast(pa.int64()),
                    batch.column(1).cast(pa.int64()),
                    pa.array(num / (na * nb), type=pa.float64()),
                ],
                ["vec_id", "neighbor_id", "cosine"],
            )

    return joined.mapInArrow(
        _score, "vec_id long, neighbor_id long, cosine double"
    )


# ------------------------------------------------ LSH-bucketed ANN path

def _planes(dim: int, n_planes: int, seed: int = 0xA11CE) -> np.ndarray:
    """Deterministic pseudo-random hyperplanes from xxh3 streams."""
    vals = np.empty(dim * n_planes, dtype=np.float64)
    for i in range(dim * n_planes):
        vals[i] = (xxh3_u64((seed + i) & M64) / float(M64)) * 2.0 - 1.0
    return vals.reshape(n_planes, dim)


_PLANES_CACHE: dict = {}


def _planes_all(dim: int, n_planes: int, n_tables: int) -> dict:
    """Per-worker cache: the plane matrices are deterministic functions of
    (dim, n_planes, n_tables), generated once per executor process —
    ``dim`` is read from the actual vectors at runtime, so no driver-side
    ``.first()`` job is ever needed."""
    key = (dim, n_planes, n_tables)
    if key not in _PLANES_CACHE:
        _PLANES_CACHE[key] = {
            t: _planes(dim, n_planes, seed=0xA11CE + 7919 * t)
            for t in range(n_tables)
        }
    return _PLANES_CACHE[key]


def auto_n_planes(n_vectors: int, target_bucket: int = 128) -> int:
    """Plane count such that the EXPECTED bucket size n/2^p ≈
    ``target_bucket``: per-bucket candidate work is |bucket|², so holding
    bucket size constant as the corpus grows keeps total candidate volume
    linear in n — the property that makes the plan survive 100×."""
    import math

    return max(4, min(24, math.ceil(math.log2(max(2.0, n_vectors / target_bucket)))))


def _train_ivf_centroids(
    embeddings: DataFrame, n_cells: int, sample_target: int, iters: int,
    n: int,
) -> np.ndarray:
    """Spherical k-means coarse quantizer on a BOUNDED deterministic
    sample (standard IVF practice: the quantizer trains on a sample, the
    full corpus only gets assigned). The sample is hash-selected
    (``xxhash64(vec_id) % step == 0``) so it is reproducible and
    partition-order-independent, and its size is capped at
    ``sample_target`` rows ⇒ driver memory is O(sample × dim), INDEPENDENT
    of corpus size — this is the one deliberate driver-side step and it
    does not grow at 100×."""
    step = max(1, n // sample_target)
    sample = (
        embeddings.select("vec_id", "embedding")
        .filter(F.pmod(F.xxhash64(F.col("vec_id")), F.lit(step)) == 0)
        .orderBy("vec_id")  # deterministic row order for the init picks
        .limit(sample_target)
        .collect()
    )
    mat = np.vstack([np.asarray(r["embedding"], dtype=np.float64) for r in sample])
    mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
    rng = np.random.Generator(np.random.PCG64(0xA11CE))
    k = min(n_cells, len(mat))
    cents = mat[rng.choice(len(mat), size=k, replace=False)].copy()
    for _ in range(iters):
        assign = np.argmax(mat @ cents.T, axis=1)
        for c in range(k):
            members = mat[assign == c]
            if len(members):
                v = members.sum(axis=0)
                nv = np.linalg.norm(v)
                if nv > 1e-12:
                    cents[c] = v / nv
            else:  # re-seed empty cells deterministically
                cents[c] = mat[int(rng.integers(len(mat)))]
    return cents.astype(np.float32)


def auto_n_cells(n_vectors: int, target_cell: int = 256) -> int:
    """Cell count holding the EXPECTED cell at ≈ ``target_cell`` vectors:
    per-query probe work is n_probe·|cell|, so constant cells keep total
    candidate volume O(n·n_probe) as the corpus grows."""
    return max(4, min(65536, -(-n_vectors // target_cell)))


def ann_ivf_topk(
    embeddings: DataFrame,
    k: int = 5,
    n_cells: int | None = None,
    n_probe: int = 4,
    target_cell: int = 256,
    cell_cap: int | None = None,
    train_sample: int = 65536,
    train_iters: int = 10,
) -> DataFrame:
    """Approximate top-k cosine via IVF (inverted-file) cells.

    Scale shape: the corpus shuffles once on its cell id (8-byte key,
    ids-only postings); each query contributes exactly ``n_probe``
    probe rows, so the candidate join is O(n·n_probe·E[|cell|]) with
    E[|cell|] held at ``target_cell`` by :func:`auto_n_cells` — linear
    in n, embarrassingly cell-parallel. ``cell_cap`` (default
    8×target_cell) bounds the WORST-case cell with the same
    rotation-residue thinner the LSH path uses (mass-point corpora:
    duplicate embeddings put millions in one cell regardless of the
    quantizer). Exact float64 re-rank inside probed cells.

    vs :func:`ann_lsh_topk`: IVF cells adapt to the data distribution
    (recall concentrates where the data does; typically fewer probes
    than tables for equal recall) but need a training pass; LSH is
    oblivious and trains nothing. Both are ``queries()`` entries so the
    driver tracks rows for each.
    """
    n = exact_count(embeddings)
    if n == 0:
        return embeddings.sparkSession.createDataFrame(
            [], "vec_id long, neighbor_id long, cosine double, rank long"
        )
    cand = _ivf_candidates(
        embeddings, n, n_cells, n_probe, target_cell, cell_cap,
        train_sample, train_iters,
    )
    scored = _exact_rescore(cand, embeddings)
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("vec_id").cast("long"),
            F.col("neighbor_id").cast("long"),
            "cosine",
            F.col("rank").cast("long"),
        )
    )


def _ivf_candidates(
    embeddings: DataFrame,
    n: int,
    n_cells: int | None = None,
    n_probe: int = 4,
    target_cell: int = 256,
    cell_cap: int | None = None,
    train_sample: int = 65536,
    train_iters: int = 10,
) -> DataFrame:
    """DIRECTED (vec_id, neighbor_id) candidates, distinct, no self
    pairs: each query joined against the capped postings of its
    ``n_probe`` nearest IVF cells. Shared by :func:`ann_ivf_topk` and
    :func:`ann_dup_pairs`."""
    if cell_cap is None:
        cell_cap = 8 * target_cell
    if n_cells is None:
        n_cells = auto_n_cells(n, target_cell)
    cents = _train_ivf_centroids(
        embeddings, n_cells, train_sample, train_iters, n
    )
    n_probe_eff = min(n_probe, len(cents))
    # torrent-broadcast the centroid matrix rather than capturing it in
    # the UDF closure: at the 65536-cell cap and dim 512 the matrix is
    # ~134 MB — closure capture would serialize it into every task
    # binary, broadcast ships it once per executor
    bc_cents = embeddings.sparkSession.sparkContext.broadcast(cents)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def probe_udf(emb: pd.Series) -> pd.Series:
        cents = bc_cents.value
        mat = np.vstack(emb.to_numpy()).astype(np.float32)
        mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        sims = mat @ cents.T
        if n_probe_eff < sims.shape[1]:
            top = np.argpartition(-sims, n_probe_eff - 1, axis=1)[:, :n_probe_eff]
        else:
            top = np.broadcast_to(
                np.arange(sims.shape[1]), sims.shape
            ).copy()
        # order probes nearest-first: element 1 is the ASSIGNMENT cell
        order = np.argsort(-np.take_along_axis(sims, top, axis=1), axis=1)
        top = np.take_along_axis(top, order, axis=1)
        return pd.Series(list(top.astype(np.int64)))

    # scan-parallelism guard (jam_spark.scan): a single-split embeddings
    # file would otherwise serialize the probe UDF AND everything narrow
    # downstream of it — the broadcast candidate join, the Arrow rescore
    # and the window's map-side top-k all inherit the input partitioning
    # (measured 2x on ann_ivf_topk at sf0.1 once the no-op distinct
    # below stopped accidentally re-partitioning mid-plan)
    from ..scan import ensure_scan_parallelism

    ids = ensure_scan_parallelism(embeddings).select("vec_id", "embedding")
    # ONE probe-UDF pass serves both roles (persisted): element 1 is the
    # assignment cell (nearest), the full list is the query's probe set
    assigned = track(
        ids.select("vec_id", probe_udf("embedding").alias("probes"))
    )
    # corpus postings: each vector lives in its single NEAREST cell;
    # ids-only, capped against mass points
    corpus = cap_hot_keys(
        assigned.select(
            "vec_id", F.element_at("probes", 1).alias("bucket")
        ),
        "bucket", cell_cap, "vec_id", anchor=F.xxhash64("bucket"),
    )
    # query probes: n_probe nearest cells per query — bounded fan-out
    probes = assigned.select(
        "vec_id", F.explode("probes").alias("bucket")
    )
    # no .distinct(): each corpus vector posts to exactly ONE cell (its
    # assignment) and a query's probe cells are distinct argpartition
    # indices, so a directed (vec_id, neighbor_id) pair can match at
    # most once — the dedup exchange over the full candidate set was a
    # provable no-op (r6: one exchange + hash aggregate removed; the
    # docstring's "distinct" contract still holds by construction)
    return (
        probes.join(
            corpus.withColumnRenamed("vec_id", "neighbor_id"), "bucket"
        )
        .filter(F.col("vec_id") != F.col("neighbor_id"))
        .select("vec_id", "neighbor_id")
    )


def _lsh_candidate_pairs(
    embeddings: DataFrame,
    n_planes: int | None = None,
    n_tables: int = 24,
    target_bucket: int = 128,
    bucket_cap: int | None = None,
) -> DataFrame:
    """(vec_id, neighbor_id), vec_id < neighbor_id, distinct — candidate
    pairs sharing ≥1 random-hyperplane LSH bucket. The shared candidate
    generator behind :func:`ann_lsh_topk` and :func:`ann_dup_pairs`: the
    bucket self-join carries IDS ONLY (embeddings, ~512B each, attach
    later via equi-joins, so the shuffle moves ~16 bytes per candidate
    instead of ~1KB); hot buckets are capped by
    :func:`jam_spark.pairs.cap_hot_keys`."""
    if bucket_cap is None:
        bucket_cap = 8 * target_bucket
    if n_planes is None:
        n_planes = auto_n_planes(exact_count(embeddings), target_bucket)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def bucket_udf(emb: pd.Series) -> pd.Series:
        mat = np.vstack(emb.to_numpy())
        planes = _planes_all(mat.shape[1], n_planes, n_tables)
        sigs = []
        for t in range(n_tables):
            proj = mat @ planes[t].T  # (n, n_planes)
            bits = (proj > 0).astype(np.uint64)
            sig = np.zeros(len(mat), dtype=np.uint64)
            for p in range(n_planes):
                sig = (sig << np.uint64(1)) | bits[:, p]
            # bucket id unique per (table, signature): t * 2^p + sig
            sigs.append((np.uint64(t) << np.uint64(n_planes)) | sig)
        stacked = np.stack(sigs, axis=1).astype(np.int64)
        return pd.Series(list(stacked))

    # scan-parallelism guard: a single-split embeddings file would
    # serialize the bucket UDF on one task (same reasoning as the docs
    # operators; no-op on healthy inputs)
    from ..scan import ensure_scan_parallelism

    # ONE bucket-keyed exchange, persisted with its hash partitioning
    # (same move as the flagship's packed_bands / the r6 gram-postings
    # caches): bucket rows are colocated for the thin-guard's size
    # aggregate, and the post-probe self-join — planned after the probe
    # action materializes the cache — inherits the partitioning with no
    # exchange of its own
    b = track(
        ensure_scan_parallelism(embeddings)
        .select(
            "vec_id", F.explode(bucket_udf("embedding")).alias("bucket")
        )
        .repartition("bucket")
    )
    # auto_n_planes bounds only the EXPECTED bucket: mass points
    # (duplicate or zero embeddings, collapse modes) drop millions of
    # vectors into one bucket per table at any plane count
    b = cap_hot_keys(
        b, "bucket", bucket_cap, "vec_id", anchor=F.xxhash64("bucket")
    )
    return (
        b.alias("x")
        .join(b.alias("y"), "bucket")
        .filter(F.col("x.vec_id") < F.col("y.vec_id"))
        .select(
            F.col("x.vec_id").alias("vec_id"),
            F.col("y.vec_id").alias("neighbor_id"),
        )
        .distinct()
    )


def ann_lsh_topk(
    embeddings: DataFrame,
    k: int = 5,
    n_planes: int | None = None,
    n_tables: int = 24,
    target_bucket: int = 128,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Approximate top-k cosine via random-hyperplane LSH.

    Scale shape: |bucket|² work instead of n²; buckets are the shuffle
    key. Exact cosine re-rank within candidate pairs.

    ``n_planes=None`` (default) auto-sizes from the corpus count so the
    expected bucket stays ≈ ``target_bucket`` vectors at any scale (see
    :func:`auto_n_planes`). Collision probability per table is
    (1 - θ/π)^n_planes, so more tables buy back the recall that more
    planes cost; recall floors are enforced in tests at 1× and 10× the
    test corpus. ``bucket_cap`` (default 8×target_bucket) bounds the
    WORST-case bucket via :func:`jam_spark.pairs.cap_hot_keys` —
    expected-case math never triggers it; adversarial mass points can't
    m² the self-join.
    """
    cand = _lsh_candidate_pairs(
        embeddings, n_planes, n_tables, target_bucket, bucket_cap
    )
    scored = _exact_rescore(cand, embeddings)
    sym = scored.unionByName(
        scored.select(
            F.col("neighbor_id").alias("vec_id"),
            F.col("vec_id").alias("neighbor_id"),
            "cosine",
        )
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        sym.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("vec_id").cast("long"),
            F.col("neighbor_id").cast("long"),
            "cosine",
            F.col("rank").cast("long"),
        )
    )


# ------------------------------------- embedding near-dup pairs at scale

def ann_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.9,
    method: str = "lsh",
    n_tables: int = 24,
    target_bucket: int = 128,
    bucket_cap: int | None = None,
    n_probe: int = 4,
    target_cell: int = 256,
    cell_cap: int | None = None,
) -> DataFrame:
    """(vec_id, neighbor_id, cosine), vec_id < neighbor_id — embedding
    near-dup pairs above ``threshold`` (strict ``>``): the SCALE path for
    semantic dedup, with :func:`cosine_dup_pairs` as its exact parity
    oracle (the same contract :func:`cosine_topk` has with the two
    ann_*_topk paths, and the same all-pairs→index progression the
    reference takes from ``/root/reference/src/compare.rs:96-127`` to
    ``:308-387``).

    Scale shape: candidates come from the capped LSH bucket self-join
    (``method='lsh'``, :func:`_lsh_candidate_pairs` — ids-only shuffle,
    per-bucket work O(cap²)) or the capped IVF probe join
    (``method='ivf'``); only candidates are re-scored, with the
    identical sequential-f64 fold every exact path uses, so any pair
    BOTH emit carries a bit-equal cosine. Membership is approximate
    (recall floors enforced in tests: ≥0.99 on planted near-dup corpora
    at threshold 0.9); output volume is bounded by the candidate caps
    even on mass-point corpora, where the exact twin's output is
    irreducibly m².

    Recall vs ``threshold``: random-hyperplane collision probability is
    ``1 - arccos(cos)/pi`` per bit, so LOW thresholds need more tables
    to hold recall — at 0.35 on the sf0.01 synthetic embeddings 24
    tables reach 257/271 of the exact twin's pairs and 48 reach
    271/271; the 0.9-threshold regime (real semantic dedup) holds
    ≥0.99 at the default 24.
    """
    if method == "lsh":
        cand = _lsh_candidate_pairs(
            embeddings,
            n_tables=n_tables,
            target_bucket=target_bucket,
            bucket_cap=bucket_cap,
        )
    elif method == "ivf":
        n = exact_count(embeddings)
        if n == 0:
            return embeddings.sparkSession.createDataFrame(
                [], "vec_id long, neighbor_id long, cosine double"
            )
        directed = _ivf_candidates(
            embeddings, n, n_probe=n_probe, target_cell=target_cell,
            cell_cap=cell_cap,
        )
        cand = (
            directed.select(
                F.least("vec_id", "neighbor_id").alias("vec_id"),
                F.greatest("vec_id", "neighbor_id").alias("neighbor_id"),
            )
            .distinct()
        )
    else:
        raise ValueError(f"unknown method {method!r}; expected lsh|ivf")
    return (
        _exact_rescore(cand, embeddings)
        .filter(F.col("cosine") > threshold)
        .select(
            F.col("vec_id").cast("long"),
            F.col("neighbor_id").cast("long"),
            "cosine",
        )
    )


def ann_rescored(embeddings: DataFrame, k: int = 5, method: str = "ivf") -> DataFrame:
    """One-row certification that ANN *scoring* is exact — the
    driver-checkable half of the ANN contract.

    ANN neighbor MEMBERSHIP is approximate (pytest recall floors are the
    authority there; no ANSI-SQL oracle can replay LSH/k-means), but
    every cosine an ANN path returns is the exact sequential-f64 fold of
    a concrete (vec_id, neighbor_id) pair. This query re-derives that
    value for every returned pair with an INDEPENDENT implementation
    (the JVM ``F.aggregate`` fold vs the production paths' numpy
    cumsum in :func:`_exact_rescore`) and returns::

        n_pairs_mismatched BIGINT,  -- pairs where reported != recomputed
        nonempty BOOLEAN            -- guard against vacuous truth

    against the constant oracle ``SELECT 0, true`` — hash-green iff
    every ANN cosine is bit-exact. ``method`` picks the certified path.
    """
    ann = (
        ann_ivf_topk(embeddings, k=k)
        if method == "ivf"
        else ann_lsh_topk(embeddings, k=k)
    )
    emb = embeddings.select("vec_id", "embedding")
    rescored = (
        ann.join(emb.withColumnsRenamed({"embedding": "ea"}), "vec_id")
        .join(
            emb.withColumnsRenamed(
                {"vec_id": "neighbor_id", "embedding": "eb"}
            ),
            "neighbor_id",
        )
        .select(
            "cosine",
            (
                _dot(F.col("ea"), F.col("eb"))
                / (_norm(F.col("ea")) * _norm(F.col("eb")))
            ).alias("re_cosine"),
        )
    )
    return rescored.agg(
        F.sum(
            F.when(F.col("cosine") != F.col("re_cosine"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_pairs_mismatched"),
        (F.count(F.lit(1)) > 0).alias("nonempty"),
    )


def ann_rescored_sql() -> str:
    return "SELECT 0::BIGINT AS n_pairs_mismatched, true AS nonempty"


def ann_dup_clusters(
    embeddings: DataFrame, threshold: float = 0.9, method: str = "lsh",
    **candidate_kwargs,
) -> DataFrame:
    """(vec_id, cluster_id) — semantic-dedup clusters: connected
    components over the :func:`ann_dup_pairs` edge set, labels = min
    vec_id per component (the embedding-space analogue of the flagship
    minhash_clusters output; singletons label themselves).

    Scale shape: edges come from the capped candidate join (never
    all-pairs); closure reuses :func:`jam_spark.cluster.
    connected_components` — driver union-find under the hybrid
    threshold, hash-min label propagation with pointer jumping above it.
    """
    from ..cluster import connected_components

    pairs = ann_dup_pairs(
        embeddings, threshold=threshold, method=method, **candidate_kwargs
    )
    nodes = embeddings.select("vec_id")
    out = connected_components(
        pairs, nodes, id_a="vec_id", id_b="neighbor_id"
    )
    return out.select(
        F.col("url").cast("long").alias("vec_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
    )
