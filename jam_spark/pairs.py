"""Candidate generation + verification + scoring.

Mirrors the reference's index path (``src/compare.rs:308-387``) at LSH
granularity:

1. candidates — equi-self-join of the postings on the packed band key
   ``bkey`` ≅ the LMDB postings probe (``src/compare.rs:344-352``);
   Catalyst picks the physical join, AQE handles skew; hot keys are
   additionally thinned by a deterministic cap (:func:`cap_hot_keys`,
   north_rule's salted-keys concern).
2. verify — exact set intersection of the two real sketches
   (``src/compare.rs:170-203``) as the JVM built-in
   ``size(array_intersect(a, b))`` — sketch arrays are distinct by
   construction, so |intersect| == the reference's sorted-merge count;
   the whole verify stage stays inside whole-stage codegen (no Python).
3. score — index semantics ``|A∩B| / min(|A|,|B|) × 100``
   (``src/compare.rs:358-364``) or all-pairs semantics
   ``|A∩B| / max × fraction × 100`` (``src/compare.rs:171,205-227``),
   computed as JVM column expressions; cutoff strict ``>``
   (``src/compare.rs:375-380``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ._persist import track
from .bands import band_keys
from .params import SketchParams


#: packed band key: band_id (< 64 bands) in the top 6 bits, band_hash
#: truncated to the low 58 — see :func:`packed_bands`
_BKEY_MASK = (1 << 58) - 1


def packed_bands(
    sketches: DataFrame, params: SketchParams, id_col: str = "url"
) -> DataFrame:
    """(bkey, id) postings hash-partitioned on the packed band key —
    the banded generalization of the reference's LMDB ``hashes`` table
    (``src/file_io.rs:227-232``), built with ONE exchange that every
    downstream consumer reuses.

    The key is ONE 8-byte long instead of the (band_id int, band_hash
    long) pair: UnsafeRow lays every field on 8 bytes, so (bkey, nid)
    rows cross the exchange at 16B instead of 24B for (band_id,
    band_hash, nid), with single-long hashing/compare.

    The flagship's pairs stage has three passes over the postings: the
    hot-size aggregate, the (optional) thinning join, and the candidate
    self-join. Keyed on arbitrary scan partitions those cost one
    exchange EACH — and band keys are mostly unique, so the aggregate's
    map-side combine doesn't shrink its shuffle (measured at 1M docs /
    57.6M postings / 16 cores: 20s for the hot probe + 32s for the
    self-join). Repartitioning by ``bkey`` up front and persisting the
    POST-shuffle table makes the cached ``hashpartitioning(bkey)``
    visible to Catalyst, so the aggregate and both self-join sides
    satisfy their required distribution from the cache — zero further
    exchanges over the 57M-row table.

    The 58-bit band_hash truncation inside ``bkey`` can merge two
    distinct bands' postings (n²/2^59 keys ≈ 6 collisions at 57M): in
    the self-join a merged key only ADDS candidates (rejected by exact
    verify), and in the hot-size aggregate it can only OVERCOUNT a
    band — thinning slightly early, never missing a hot band.
    """
    bkey = F.shiftleft(F.col("band_id").cast("long"), 58).bitwiseOR(
        F.col("band_hash").bitwiseAND(F.lit(_BKEY_MASK))
    )
    return (
        sketches.select(
            id_col, F.posexplode(band_keys("sketch", params)).alias("band_id", "band_hash")
        )
        .select(bkey.alias("bkey"), F.col(id_col))
        .repartition("bkey")
    )


def cap_hot_keys(
    df: DataFrame, key: str, cap: int | None, id_col: str, anchor: Column
) -> DataFrame:
    """Deterministically thin the postings of every ``key`` value held
    by more than ``cap`` rows — the one skew guard behind the band,
    simhash-band and ANN-bucket self-joins (north_rule's salted-keys
    concern: an m-member key is an m² join).

    A row of key value v survives iff ``xxhash64(id) % mod`` is one of
    the two ADJACENT residues ``{a, (a+1) % mod}``, with
    ``mod = ceil(size/cap)`` and ``a = anchor % mod`` — a per-key
    ROTATION of survivor subsets. Every thinned key keeps ≈ 2·cap
    members, so per-key join work is O(cap²) however large the key, and
    an id keeps ≈ 2·keys/mod of its keys (≥ 1 while mod ≤ its number of
    keys) instead of all or none. Two residues, not one: each surviving
    key mixes two adjacent residue classes, so verified pairs chain the
    classes r→r+1→… into one connected component — a single residue per
    key would fragment a cluster into mod pieces.

    Anchors: band postings anchor on the band id (0..bands-1, recovered
    from the key — :func:`thin_hot_bkeys`), so one doc's bands cycle
    through every residue pair. Keys whose ids differ only in their high
    bits (ANN buckets are ``table << n_planes | signature``, simhash band
    keys ``band_id << 16 | value``) anchor on ``xxhash64(key)`` instead:
    raw-mod residues would collapse to ~2 distinct pairs across all of
    an id's keys, while the hashed anchor decorrelates them. Coverage is
    then probabilistic: a member of a hot key in every one of its t
    keys survives ≥ 1 with p = 1-(1-2/mod)^t (≈99.5% at mod=10, 24 ANN
    tables) — the price of bounding an adversarial m² join; raise the
    cap if total coverage matters more than the bound.

    Limit: a NEAR-dup cluster wider than keys-per-id × cap may fragment
    (mod > keys leaves some ids with no key). True mirror pages are
    exact dups and never reach the band stage (pre-group); raise
    ``band_cap`` if near-identical clusters beyond that size matter.

    Scale-safe: sizes come from a partial-aggregated count (no window
    sort over the hot key); only the (few) hot keys are broadcast back,
    and both the aggregate and the broadcast join preserve the input's
    ``key`` partitioning.
    """
    if not cap:
        return df
    hot = track(
        df.groupBy(key)
        .count()
        .filter(F.col("count") > cap)
        .withColumn("thin_mod", F.ceil(F.col("count") / F.lit(cap)).cast("long"))
        .select(key, "thin_mod")
    )
    # adaptive short-circuit (same spirit as AQE's runtime re-plan): at
    # most corpus shapes NO key exceeds the cap — return the input then,
    # so the guard costs one partial-aggregated count and adds no join
    # (measured ~2x on ann_lsh_topk). `hot` is persisted, so the probe
    # and the broadcast share one computation; on persisted postings
    # the probe is also what materializes their cache.
    if hot.limit(1).count() == 0:
        return df
    mod = F.col("thin_mod")
    res = F.pmod(F.xxhash64(F.col(id_col)), mod)
    a = F.pmod(anchor, mod)
    return (
        df.join(F.broadcast(hot), key, "left")
        .filter(mod.isNull() | (res == a) | (res == F.pmod(a + 1, mod)))
        .drop("thin_mod")
    )


def thin_hot_bkeys(
    bands: DataFrame, params: SketchParams, id_col: str = "url"
) -> DataFrame:
    """:func:`cap_hot_keys` at ``params.band_cap`` over the
    :func:`packed_bands` postings, anchored on the band id (bkey's high
    6 bits)."""
    return cap_hot_keys(
        bands, "bkey", params.band_cap, id_col,
        anchor=F.shiftrightunsigned(F.col("bkey"), 58),
    )


def candidate_pairs(bands: DataFrame, id_col: str = "url") -> DataFrame:
    """Self-join on the band key; canonical orientation id_a < id_b
    (≅ the reference's larger/smaller ordering, ``src/compare.rs:146-163``,
    made symmetric-duplicate-free).

    Plan note (measured, 57M postings, 16 cores): the equi-self-join on
    the persisted bands table (16.9s; Catalyst reuses the exchange for
    both sides) beats a groupBy-collect_set + in-array pair expansion
    (35-94s) — the array route pays a per-element ``slice`` copy, i.e.
    O(m²) memory traffic per bucket, plus the collect agg. Keep the join.
    The join key is the packed 8-byte ``bkey``; a :func:`packed_bands`
    input (already keyed AND hash-partitioned on bkey) joins straight
    off its cached partitioning with no exchange.
    """
    keyed = bands.select("bkey", F.col(id_col))
    a = keyed.select("bkey", F.col(id_col).alias("id_a"))
    b = keyed.select("bkey", F.col(id_col).alias("id_b"))
    return (
        a.join(b, ["bkey"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def _num_common_col(a, b):
    """Exact sketch-intersection size (sorted-merge semantics,
    ``src/compare.rs:170-203``) as a JVM column expression. Sketch arrays
    are distinct by construction, so ``size(array_intersect(a, b))``
    equals the reference's merge count; nulls/empties score 0."""
    return F.when(
        a.isNull() | b.isNull(), F.lit(0)
    ).otherwise(F.size(F.array_intersect(a, b))).cast("int")


def verify_pairs(
    candidates: DataFrame,
    sketches: DataFrame,
    params: SketchParams,
    id_col: str = "url",
) -> DataFrame:
    """Join candidate ids back to their sketches and compute exact
    num_common + containment score.

    Output: (id_a, id_b, num_common int, num_kmers int, similarity
    double, reverse, n_a, n_b), filtered to ``similarity > cutoff``
    (strict, percent scale). n_a/n_b (the two sketch sizes) ride along so
    :func:`remap_pairs` can re-derive orientation after id translation.
    """
    sk = sketches.select(
        F.col(id_col).alias("_vid"),
        F.col("sketch").alias("_vsketch"),
        F.col("num_hashes").alias("_vn"),
    )
    j = (
        candidates.join(sk.withColumnsRenamed({"_vid": "id_a", "_vsketch": "sketch_a", "_vn": "n_a"}), "id_a")
        .join(sk.withColumnsRenamed({"_vid": "id_b", "_vsketch": "sketch_b", "_vn": "n_b"}), "id_b")
    )
    j = j.withColumn(
        "num_common", _num_common_col(F.col("sketch_a"), F.col("sketch_b"))
    )
    if params.scorer == "index":
        # num_kmers = min(|A|,|B|)  (src/compare.rs:358-364)
        j = j.withColumn("num_kmers", F.least("n_a", "n_b"))
    else:
        # num_kmers = max(num_kmers_a, num_kmers_b); fraction = 1.0 for
        # fresh sketches where num_kmers == |hashes| (src/compare.rs:171,205-217)
        j = j.withColumn("num_kmers", F.greatest("n_a", "n_b"))
    j = j.withColumn(
        "similarity",
        F.when(
            F.col("num_kmers") > 0,
            F.col("num_common") / F.col("num_kmers") * F.lit(100.0),
        ).otherwise(F.lit(0.0)),
    )
    # C2 orientation: reverse=true when id_b is the larger sketch (the
    # reference prints larger-first and tracks the swap,
    # src/compare.rs:146-163)
    j = j.withColumn("reverse", F.col("n_a") < F.col("n_b"))
    return (
        j.filter(F.col("similarity") > F.lit(params.cutoff))  # strict >
        .select(
            "id_a", "id_b", "num_common", "num_kmers", "similarity",
            "reverse", "n_a", "n_b",
        )
    )


def with_nid(sketches: DataFrame, id_col: str = "url") -> DataFrame:
    """Attach the compact 8-byte internal id used through the exploded
    bands table and the candidate self-join: ``nid = xxhash64(id)``.

    Why: the bands table is |docs| × bands rows; carrying a ~35-byte url
    string through that explode, its persist, and the self-join multiplies
    shuffle bytes ~2.5× vs an 8-byte long. Collision odds are n²/2^65
    (~3e-8 at 1M docs, ~27 expected colliding PAIRS at 10^12) and a
    collision can only over-merge one pair — far below the 0.99
    recall/precision gates.
    """
    return sketches.withColumn("nid", F.xxhash64(F.col(id_col)))


def remap_pairs(
    pairs_n: DataFrame, idmap: DataFrame, id_col: str = "url"
) -> DataFrame:
    """Translate nid-keyed verified pairs back to original ids and
    re-canonicalize: id_a < id_b in ORIGINAL id order (the nid order used
    for the join dedup is internal), reverse re-derived from the carried
    sketch sizes."""
    a = idmap.select(
        F.col("nid").alias("id_a"), F.col(id_col).alias("_ua")
    )
    b = idmap.select(
        F.col("nid").alias("id_b"), F.col(id_col).alias("_ub")
    )
    j = pairs_n.join(a, "id_a").join(b, "id_b")
    swap = F.col("_ua") > F.col("_ub")
    return j.select(
        F.when(swap, F.col("_ub")).otherwise(F.col("_ua")).alias("id_a"),
        F.when(swap, F.col("_ua")).otherwise(F.col("_ub")).alias("id_b"),
        "num_common",
        "num_kmers",
        "similarity",
        F.when(swap, F.col("n_b") < F.col("n_a"))
        .otherwise(F.col("n_a") < F.col("n_b"))
        .alias("reverse"),
        F.when(swap, F.col("n_b")).otherwise(F.col("n_a")).alias("n_a"),
        F.when(swap, F.col("n_a")).otherwise(F.col("n_b")).alias("n_b"),
    )


def all_pairs_compare(
    sketches: DataFrame, params: SketchParams
) -> DataFrame:
    """C4: the reference's exhaustive all-pairs comparison
    (``src/compare.rs:96-127``) — a cartesian candidate set fed through
    the same verify/score path. O(n²): for parity testing and small
    inputs only; the LSH path is the scale route."""
    a = sketches.select(F.col("url").alias("id_a"))
    b = sketches.select(F.col("url").alias("id_b"))
    cands = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    return verify_pairs(cands, sketches, params)
