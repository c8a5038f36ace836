"""LSH candidate generation + verification vs the exhaustive oracle:
dup-pair recall >= 0.99 at identical config (the BASELINE.json gate)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from jam_spark import oracle as O
from jam_spark.bands import band_arrays
from jam_spark.params import SketchParams
from jam_spark.pipeline import pairs_stage, sketch_stage


@pytest.fixture(scope="module")
def oracle_state(corpus_pages):
    params = SketchParams()
    sketches = [O.sketch_text(p.text, params, name=p.url) for p in corpus_pages]
    pairs = O.all_pairs(sketches, params)
    return params, sketches, pairs


def test_band_arrays_deterministic():
    params = SketchParams()
    sk = [
        np.array([1, 2, 3, 2**63 + 5], dtype=np.uint64),
        np.array([], dtype=np.uint64),
        np.array([7], dtype=np.uint64),
    ]
    b1 = band_arrays(sk, params)
    b2 = band_arrays(sk, params)
    assert all((x == y).all() for x, y in zip(b1, b2))
    assert len(b1[0]) == params.bands
    assert len(b1[1]) == 0  # empty sketch -> no bands
    # identical sketches collide in every band
    b3 = band_arrays([sk[0], sk[0].copy()], params)
    assert (b3[0] == b3[1]).all()


def test_pair_recall_vs_oracle(spark, corpus_pages, pages_df, oracle_state):
    params, o_sketches, o_pairs = oracle_state
    sketches, membership = sketch_stage(pages_df, params)
    got = pairs_stage(sketches, params).collect()
    got_pairs = {(r["id_a"], r["id_b"]): r for r in got}

    # exact-dup membership: pairs inside one exact group never reach the
    # LSH stage; account for them via the rep mapping
    rep = {r["url"]: r["rep_url"] for r in membership.collect()}

    missing = []
    score_mismatch = []
    for a, b, c, nk, s in o_pairs:
        ra, rb = rep[a], rep[b]
        if ra == rb:
            continue  # same exact group — implied pair, similarity 100
        key = (min(ra, rb), max(ra, rb))
        if key not in got_pairs:
            missing.append((a, b, s))
        else:
            r = got_pairs[key]
            if not (
                r["num_common"] == c
                and r["num_kmers"] == nk
                and abs(r["similarity"] - s) < 1e-9
            ):
                score_mismatch.append((key, (r["num_common"], r["num_kmers"], r["similarity"]), (c, nk, s)))

    considered = [p for p in o_pairs if rep[p[0]] != rep[p[1]]]
    recall = 1 - len(missing) / max(1, len(considered))
    assert not score_mismatch, score_mismatch[:5]
    assert recall >= 0.99, f"recall {recall}: missing {missing[:10]}"

    # no false positives: every verified Spark pair must be an oracle pair
    o_keys = {
        (min(rep[a], rep[b]), max(rep[a], rep[b])) for a, b, *_ in o_pairs
    }
    extras = set(got_pairs) - o_keys
    assert not extras, list(extras)[:10]


@pytest.mark.parametrize("key", ["bkey", "bucket"])
def test_cap_hot_keys_bounds_keys_and_keeps_every_id(spark, key):
    """One cap, both anchor forms: band-id anchor on packed ``bkey``
    postings, hashed anchor on ANN-style ``bucket`` postings. Every id
    posts to the same 24 mass-point keys, so all of them are hot.
    (a) nothing hot ⇒ the INPUT object comes back (no join added);
    (b) the largest surviving key holds at most 3× cap;
    (c) with mod ≤ keys per id, no id loses all of its keys."""
    import pandas as pd

    from jam_spark.pairs import cap_hot_keys

    n_ids, n_keys, cap = 200, 24, 64  # mod = ceil(200/64) = 4 <= 24
    ids = np.repeat(np.arange(n_ids, dtype=np.int64), n_keys)
    slot = np.tile(np.arange(n_keys, dtype=np.int64), n_ids)
    if key == "bkey":
        keys = (slot << 58) | 12345  # band_id ‖ shared band_hash
        anchor = F.shiftrightunsigned(F.col("bkey"), 58)
    else:
        keys = (slot << 16) | 7  # table ‖ shared signature
        anchor = F.xxhash64("bucket")
    postings = spark.createDataFrame(
        pd.DataFrame({"id": ids, key: keys})
    ).persist()

    assert cap_hot_keys(postings, key, n_ids, "id", anchor) is postings
    assert cap_hot_keys(postings, key, None, "id", anchor) is postings

    thinned = cap_hot_keys(postings, key, cap, "id", anchor).persist()
    largest = thinned.groupBy(key).count().agg(F.max("count")).collect()[0][0]
    assert largest <= 3 * cap, largest
    assert thinned.count() < postings.count()
    kept_ids = {r["id"] for r in thinned.select("id").distinct().collect()}
    assert kept_ids == set(range(n_ids))
    thinned.unpersist()
    postings.unpersist()


def test_hot_cluster_survives_aggressive_thinning(spark, corpus_pages, pages_df):
    """With a tiny band_cap the giant near-identical template cluster must
    still close into ONE connected component (the per-band survivor
    rotation keeps every member reachable)."""
    from jam_spark.pipeline import dedup_pipeline

    params = SketchParams(band_cap=8)
    got = {
        r["url"]: r["cluster_id"]
        for r in dedup_pipeline(pages_df, params).collect()
    }
    truth = {}
    for p in corpus_pages:
        truth.setdefault(p.cluster_id, set()).add(p.url)
    template_cluster = max(truth.values(), key=len)
    assert len(template_cluster) >= 100
    labels = {got[u] for u in template_cluster}
    assert len(labels) == 1, f"template cluster fragmented into {len(labels)}"


def test_verify_stage_is_jvm_only(spark):
    """The verify stage (candidate join + intersection + scoring) must
    contain NO Python evaluation node — num_common is
    size(array_intersect(...)), a whole-stage-codegen expression."""
    from jam_spark.pairs import verify_pairs

    sketches = spark.createDataFrame(
        [("a", [1, 2, 3], 3), ("b", [1, 2, 4], 3)],
        ["url", "sketch", "num_hashes"],
    )
    cands = spark.createDataFrame([("a", "b")], ["id_a", "id_b"])
    q = verify_pairs(cands, sketches, SketchParams(cutoff=0.0))
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    row = q.collect()[0]
    # golden {1,2,3}x{1,2,4}: common=2, min-denom=3, 66.66...
    assert (row["num_common"], row["num_kmers"]) == (2, 3)
    assert abs(row["similarity"] - 200.0 / 3.0) < 1e-9


def test_pairs_stage_plan_has_no_rowwise_python(spark, pages_df):
    """The whole pairs plan (bands → thin → candidates → verify → remap)
    evaluates no Python, row-at-a-time (BatchEvalPython) or Arrow
    (ArrowEvalPython): the band keys come from the Java UDF."""
    from jam_spark.pipeline import pairs_stage, sketch_stage

    params = SketchParams()
    sketches, _ = sketch_stage(pages_df.limit(100), params)
    p = pairs_stage(sketches.persist(), params)
    plan = p._jdf.queryExecution().executedPlan().toString()
    assert "band_keys" in plan  # the cached bands plan is in the string
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_checkpoint_bands_append_plan_has_no_python(
    spark, pages_df, tmp_path, monkeypatch
):
    """The bands table write of a CheckpointedDedup full build and of an
    append evaluates no Python either."""
    from jam_spark.checkpoint import CheckpointedDedup, _ParquetStore

    plans = {}
    put = _ParquetStore.put

    def spy(self, df, stage, append):
        if stage == "bands":
            plans[append] = df._jdf.queryExecution().executedPlan().toString()
        return put(self, df, stage, append)

    monkeypatch.setattr(_ParquetStore, "put", spy)
    params = SketchParams()
    pages = pages_df.select("url", "text")
    root = str(tmp_path / "ck_bands_plan")
    CheckpointedDedup(spark, root, params).run(pages.limit(150))
    CheckpointedDedup(spark, root, params).run(pages)
    assert set(plans) == {False, True}
    for plan in plans.values():
        assert "band_keys" in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def _one_bucket_hashes(params: SketchParams, n: int) -> list[int]:
    """``n`` sketch hashes whose remix all lands in OPH bucket 0."""
    from jam_spark.bands import _seed0
    from jam_spark.hashes import _np_fmix64

    cand = np.arange(1, 50_000, dtype=np.uint64) * np.uint64(0x9E3779B97F4A7C15)
    v = _np_fmix64(cand ^ _seed0(params))
    hit = cand[v % np.uint64(params.num_perm) == 0][:n]
    assert len(hit) == n
    return hit.view(np.int64).tolist()


@pytest.mark.parametrize(
    "params",
    [SketchParams(), SketchParams(num_perm=96, bands=48, rows=2)],
    ids=["64x2", "48x2"],
)
def test_jvm_band_keys_equal_band_arrays(spark, pages_df, params):
    """The Java UDF's band keys are bit-equal to ``band_arrays`` on the
    test corpus and on hostile sketches: empty, null, one hash, negative
    i64 bit patterns (what xxh3/ahash/murmur3 sketches store), every hash
    in one OPH bucket, and 256 hashes; 48x2 takes the non-power-of-two
    bucket path (num_perm 96)."""
    from jam_spark.bands import band_keys

    sketches, _ = sketch_stage(pages_df, params)
    rng = np.random.default_rng(5)
    full_range = dict(low=-(2**63), high=2**63 - 1, dtype=np.int64)
    hostile = [
        None,
        [],
        [7],
        [-1],
        [-(2**63)],
        rng.integers(size=40, **full_range).tolist(),
        _one_bucket_hashes(params, 16),
        rng.integers(size=256, **full_range).tolist(),
    ]
    rows = [r["sketch"] for r in sketches.select("sketch").collect()] + hostile
    df = spark.createDataFrame(list(enumerate(rows)), "i int, sketch array<bigint>")
    got = dict(df.select("i", band_keys("sketch", params)).collect())
    want = band_arrays(
        [np.asarray(s or [], dtype=np.int64).view(np.uint64) for s in rows],
        params,
    )
    assert len(got) == len(rows) > len(hostile)
    for i, w in enumerate(want):
        assert got[i] == w.view(np.int64).tolist(), (i, rows[i])


def _reference_candidates(nids, sketches, params):
    """Pure-Python candidate pairs: group ids by the packed band key
    (band_id << 58 | band_hash & (2^58-1)) from ``band_arrays``, thin
    keys above ``band_cap`` to the two rotation residues
    {b % mod, (b+1) % mod} of xxhash64(nid) % mod, then pair up every
    key's survivors (nid_a < nid_b)."""
    import math
    import struct
    from collections import defaultdict

    from jam_spark.hashes import xxh64

    postings = defaultdict(list)
    for nid, bands in zip(nids, band_arrays(sketches, params)):
        for b, h in enumerate(bands.tolist()):
            postings[(b << 58) | (h & ((1 << 58) - 1))].append(nid)

    def residue(nid, mod):  # Spark's pmod(xxhash64(long), mod)
        x = xxh64(struct.pack("<q", nid), 42)
        return (x - (1 << 64) if x >= 1 << 63 else x) % mod

    pairs = set()
    for k, members in postings.items():
        if params.band_cap and len(members) > params.band_cap:
            mod = math.ceil(len(members) / params.band_cap)
            b = k >> 58
            members = [
                m for m in members
                if residue(m, mod) in (b % mod, (b + 1) % mod)
            ]
        for i, x in enumerate(members):
            for y in members[i + 1:]:
                pairs.add((min(x, y), max(x, y)))
    return pairs, max(len(v) for v in postings.values())


@pytest.mark.parametrize("band_cap", [256, 8])
def test_packed_bands_candidates_match_python_reference(
    spark, pages_df, band_cap
):
    """The single-exchange packed-postings plan (packed_bands +
    thin_hot_bkeys + bkey self-join) must produce exactly the candidate
    set of a pure-Python banding over ``band_arrays`` keyed the same
    way, at a no-hot cap (256) and an aggressively-hot cap (8)."""
    from jam_spark._persist import release_all, track
    from jam_spark.pairs import (
        candidate_pairs,
        packed_bands,
        thin_hot_bkeys,
        with_nid,
    )

    params = SketchParams(band_cap=band_cap)
    sketches, _ = sketch_stage(pages_df, params)
    sk = with_nid(track(sketches, eager=True))
    bands = thin_hot_bkeys(
        track(packed_bands(sk, params, id_col="nid")), params, id_col="nid"
    )
    got = {
        tuple(r) for r in candidate_pairs(bands, id_col="nid").collect()
    }
    rows = sk.select("nid", "sketch").collect()
    want, largest = _reference_candidates(
        [r["nid"] for r in rows],
        [np.asarray(r["sketch"] or [], dtype=np.int64).view(np.uint64)
         for r in rows],
        params,
    )
    release_all()
    assert got == want
    assert len(got) > 0
    assert (largest > band_cap) == (band_cap == 8)  # the cap-8 case thins


def _plan_nodes(node):
    """Physical plan nodes above the cache: unwraps adaptive and
    query-stage wrappers and stops at ``InMemoryTableScan``, whose
    cached plan ran when the cache was built."""
    name = node.nodeName()
    if name == "AdaptiveSparkPlan":
        return _plan_nodes(node.executedPlan())
    if name == "InMemoryTableScan":
        return [node]
    kids = node.children()
    return [node] + [
        n for i in range(kids.size()) for n in _plan_nodes(kids.apply(i))
    ]


@pytest.mark.parametrize("band_cap", [256, 8])
def test_packed_bands_single_exchange(spark, pages_df, band_cap):
    """The property pairs_stage rests on: over the cached
    hash-partitioned (bkey, nid) postings, the hot-key thinning and the
    candidate self-join plan no further bkey exchange — the one shuffle
    left is the (id_a, id_b) distinct. Broadcast joins are switched off
    while planning, as they are for postings too large to broadcast;
    the hot-key table keeps its explicit broadcast hint."""
    from jam_spark._persist import release_all, track
    from jam_spark.pairs import (
        candidate_pairs,
        packed_bands,
        thin_hot_bkeys,
        with_nid,
    )

    params = SketchParams(band_cap=band_cap)
    sketches, _ = sketch_stage(pages_df, params)
    sk = with_nid(track(sketches, eager=True))
    cands = candidate_pairs(
        thin_hot_bkeys(
            track(packed_bands(sk, params, id_col="nid")),
            params,
            id_col="nid",
        ),
        id_col="nid",
    )
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        nodes = _plan_nodes(cands._jdf.queryExecution().executedPlan())
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
        release_all()
    assert any(n.nodeName() == "InMemoryTableScan" for n in nodes)
    shuffles = [
        n.outputPartitioning().toString()
        for n in nodes
        if n.nodeName() == "Exchange"
    ]
    assert not [s for s in shuffles if "hashpartitioning(bkey" in s], shuffles
    assert len(shuffles) == 1, shuffles
    assert shuffles[0].startswith("hashpartitioning(id_a"), shuffles
