"""End-to-end cluster assignments: Spark pipeline vs oracle union-find —
exact-equality check (stronger than the 0.99 recall gate) plus the
ground-truth sanity check on the planted corpus."""

from collections import defaultdict
from itertools import combinations

from jam_spark import oracle as O
from jam_spark.params import SketchParams
from jam_spark.pipeline import dedup_pipeline


def _pairset(assign: dict[str, str]) -> set[tuple[str, str]]:
    g = defaultdict(list)
    for u, c in assign.items():
        g[c].append(u)
    s = set()
    for mem in g.values():
        for a, b in combinations(sorted(mem), 2):
            s.add((a, b))
    return s


def test_cluster_assignments_match_oracle(spark, corpus_pages, pages_df):
    params = SketchParams()
    got = {
        r["url"]: r["cluster_id"]
        for r in dedup_pipeline(pages_df, params).collect()
    }
    o_sketches = [O.sketch_text(p.text, params, name=p.url) for p in corpus_pages]
    o_pairs = O.all_pairs(o_sketches, params)
    want = O.cluster([p.url for p in corpus_pages], o_pairs)

    assert set(got) == set(want)
    got_ps, want_ps = _pairset(got), _pairset(want)
    inter = len(got_ps & want_ps)
    recall = inter / max(1, len(want_ps))
    precision = inter / max(1, len(got_ps))
    assert recall >= 0.99, f"cluster pair recall {recall}"
    assert precision >= 0.99, f"cluster pair precision {precision}"
    # with healthy banding the assignments are exactly equal
    diffs = {u for u in got if got[u] != want[u]}
    assert not diffs, sorted(diffs)[:10]


def test_clusters_against_planted_truth(spark, corpus_pages, pages_df):
    """The pipeline finds the planted exact+near clusters and leaves
    decoys/uniques alone (generation-level sanity; the authoritative
    gate is the oracle comparison above)."""
    got = {
        r["url"]: r["cluster_id"]
        for r in dedup_pipeline(pages_df, SketchParams()).collect()
    }
    truth = {p.url: p.cluster_id for p in corpus_pages}
    got_ps, truth_ps = _pairset(got), _pairset(truth)
    inter = len(got_ps & truth_ps)
    assert inter / max(1, len(truth_ps)) >= 0.99
    assert inter / max(1, len(got_ps)) >= 0.99


def test_connected_components_chain(spark):
    """Label propagation converges on a chain (worst diameter case)."""
    from jam_spark.cluster import connected_components

    edges = spark.createDataFrame(
        [(f"u{i:02d}", f"u{i+1:02d}") for i in range(10)], ["id_a", "id_b"]
    )
    # distributed label-propagation path (force via threshold=0) and the
    # driver union-find fast path must agree
    for thr in (0, 5_000_000):
        labels = {
            r["url"]: r["cluster_id"]
            for r in connected_components(edges, driver_threshold=thr).collect()
        }
        assert set(labels.values()) == {"u00"}, f"threshold={thr}"

    # two components + singleton via nodes universe
    edges2 = spark.createDataFrame(
        [("a", "b"), ("c", "d")], ["id_a", "id_b"]
    )
    nodes = spark.createDataFrame([("a",), ("b",), ("c",), ("d",), ("z",)], ["url"])
    labels2 = {
        r["url"]: r["cluster_id"]
        for r in connected_components(edges2, nodes).collect()
    }
    assert labels2 == {"a": "a", "b": "a", "c": "c", "d": "c", "z": "z"}


def test_distributed_cc_chain_converges_logarithmically(spark):
    """Worst case for plain min-propagation: a 1024-node near-dup CHAIN
    (each adjacent pair above cutoff) has diameter 1023 ⇒ O(n) rounds
    without pointer jumping. With the per-iteration label jump the run
    must converge in ~log2(n) rounds with correct (min-member) labels."""
    import math

    from jam_spark import cluster as C

    n = 1024
    edges = spark.createDataFrame(
        [(f"u{i:04d}", f"u{i+1:04d}") for i in range(n - 1)],
        ["id_a", "id_b"],
    )
    labels = {
        r["url"]: r["cluster_id"]
        for r in C.connected_components(edges, driver_threshold=0).collect()
    }
    assert len(labels) == n
    assert set(labels.values()) == {"u0000"}
    # pure-python simulation of propagate+jump says 11 rounds at n=1024;
    # allow small slack, but far below the O(n) of propagation alone
    assert C.LAST_CC_ITERATIONS <= math.ceil(math.log2(n)) + 3, (
        C.LAST_CC_ITERATIONS
    )


def test_distributed_cc_reliable_checkpoint(spark, tmp_path):
    """The >threshold CC path with a checkpoint_dir must write RELIABLE
    checkpoints (files under the dir — survive executor loss) and agree
    with the driver union-find labels."""
    import os

    from jam_spark.cluster import connected_components

    edges = spark.createDataFrame(
        [(f"u{i:02d}", f"u{i+1:02d}") for i in range(10)]
        + [("a", "b"), ("c", "d")],
        ["id_a", "id_b"],
    )
    ckdir = str(tmp_path / "cc_ck")
    labels = {
        r["url"]: r["cluster_id"]
        for r in connected_components(
            edges, driver_threshold=0, checkpoint_dir=ckdir
        ).collect()
    }
    want = {
        r["url"]: r["cluster_id"]
        for r in connected_components(edges).collect()
    }
    assert labels == want
    ck_files = [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(ckdir)
        for f in fs
    ]
    assert ck_files, "no reliable checkpoint files written"


def test_cc_above_threshold_collects_no_edges(spark, monkeypatch):
    """Above ``driver_threshold`` the edge set must never reach the
    driver: the size probe is a count, so with ``toPandas`` made to
    raise the distributed path still returns union-find's labels."""
    from jam_spark.cluster import connected_components

    pairs = [(f"u{i:02d}", f"u{i + 1:02d}") for i in range(10)] + [
        ("a", "b"), ("c", "d"), ("b", "d"),
    ]
    edges = spark.createDataFrame(pairs, ["id_a", "id_b"])
    want = O.cluster(sorted({u for p in pairs for u in p}), pairs)

    def no_collect(self):
        raise AssertionError("edges collected above driver_threshold")

    # the session's concrete DataFrame class defines its own toPandas
    monkeypatch.setattr(type(edges), "toPandas", no_collect)
    got = {
        r["url"]: r["cluster_id"]
        for r in connected_components(edges, driver_threshold=5).collect()
    }
    assert got == want
