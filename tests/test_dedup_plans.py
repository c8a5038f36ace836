"""Plan-shape + oracle-robustness tests for the SQL-checkable dedup ops:

- exact_dedup_members must be an AQE-splittable join, not a window over
  the text fingerprint (a hot fingerprint = one straggler task at scale);
- the substring_dup_spans DuckDB oracle must not truncate long docs (the
  old oracle hardcoded a 20k-token unnest bound);
- the shared-key pair queries persist their postings once and apply the
  hot-key cap at exactly ``max_df``, like their DuckDB twins;
- every token-window query splits the text once per row, outside any
  lambda body, and agrees with its oracle on one giant document.
"""

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F


def test_exact_dedup_members_plan_is_join_not_window(spark):
    from jam_spark.ops.dedup import exact_dedup_members

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3], "text": ["a", "a", "b"]})
    )
    out = exact_dedup_members(docs)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    assert "Join" in plan or "HashJoin" in plan, plan
    rows = {r["doc_id"]: r["canonical_id"] for r in out.collect()}
    assert rows == {1: 1, 2: 1, 3: 3}


def _parity(spark, docs_pdf, spark_fn, sql, sort_cols):
    sdf = spark_fn(spark.createDataFrame(docs_pdf))
    con = duckdb.connect()
    con.register("documents", docs_pdf)
    rel = con.sql(sql)
    idx = [rel.columns.index(c) for c in sdf.columns]
    srows = sorted(tuple(r) for r in sdf.collect())
    drows = sorted(tuple(r[i] for i in idx) for r in rel.fetchall())
    assert srows == drows
    return srows


def test_substring_oracle_handles_long_docs(spark):
    """A >20k-token doc must produce identical spans in Spark and the
    DuckDB oracle (the old oracle's fixed 20001 unnest bound silently
    truncated the tail of long docs — oracle-only wrong rows)."""
    from jam_spark.ops.dedup import substring_dup_spans, substring_dup_spans_sql

    dup_block = " ".join(f"dup{i}" for i in range(25))
    # 21000 tokens of unique filler, duplicated 25-token block planted at
    # the START and at the very END (past the old 20k bound) of doc 1,
    # and once in doc 2
    filler = " ".join(f"w{i}" for i in range(21000))
    doc1 = f"{dup_block} {filler} {dup_block}"
    doc2 = f"{dup_block} unrelated tail tokens here"
    docs = pd.DataFrame({"doc_id": [1, 2], "text": [doc1, doc2]})
    _parity(
        spark,
        docs,
        substring_dup_spans,
        substring_dup_spans_sql(),
        ["doc_id", "span_start"],
    )
    # sanity: the tail occurrence (token position > 20000) is present
    spans = substring_dup_spans(spark.createDataFrame(docs)).collect()
    assert any(r["doc_id"] == 1 and r["span_start"] > 20000 for r in spans)


def test_exact_dedup_members_oracle_parity(spark):
    from jam_spark.ops.dedup import exact_dedup_members, exact_dedup_members_sql

    docs = pd.DataFrame(
        {"doc_id": [5, 1, 9, 2], "text": ["x", "x", "y", "x"]}
    )
    _parity(
        spark, docs, exact_dedup_members, exact_dedup_members_sql(), ["doc_id"]
    )


def test_exact_dedup_members_null_text_not_dropped(spark):
    """Null-text docs must appear in the output (grouped together under
    the sentinel key), not vanish through a null-vs-null equi-join —
    and Spark must agree with the DuckDB oracle on them."""
    from jam_spark.ops.dedup import exact_dedup_members, exact_dedup_members_sql

    docs = pd.DataFrame(
        {"doc_id": [1, 2, 3, 4], "text": [None, None, "x", "x"]}
    )
    out = exact_dedup_members(spark.createDataFrame(docs))
    rows = {r["doc_id"]: r["canonical_id"] for r in out.collect()}
    assert rows == {1: 1, 2: 1, 3: 3, 4: 3}
    _parity(
        spark, docs, exact_dedup_members, exact_dedup_members_sql(), ["doc_id"]
    )


def test_gram_postings_materialized_once(spark):
    """The r6 optimization: the exploded gram/fingerprint postings frame
    is persisted once per query — every Generate (explode) and every
    winnow pass must live INSIDE the cached subtree, never re-planned
    per consumer (the round-5 plans re-ran the scan+explode up to 8x:
    plans/r06/*_before.txt). The cached frame is hash-partitioned on
    the join key: colocation collapses the hot-key partial aggregate,
    and plans built after materialization (later actions) inherit the
    partitioning exchange-free."""
    import pandas as pd

    from jam_spark._persist import release_all
    from jam_spark.ops.dedup import (
        decontaminate,
        ngram_jaccard_pairs,
        source_ngram_overlap,
        winnow_dup_pairs,
    )

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": list(range(40)),
                "text": [
                    f"alpha beta gamma delta epsilon zeta eta theta doc{i} "
                    f"iota kappa lambda mu nu xi omicron pi rho{i % 5}"
                    for i in range(40)
                ],
                "source": [f"src{i % 4}" for i in range(40)],
            }
        )
    )
    try:
        for fn in (
            ngram_jaccard_pairs,
            source_ngram_overlap,
            winnow_dup_pairs,
            decontaminate,
        ):
            plan = fn(docs)._jdf.queryExecution().executedPlan().toString()
            assert "InMemoryTableScan" in plan, plan
            # every explode lives inside the cached plan: the first
            # Generate in the plan string must appear only after the
            # first InMemoryRelation marker
            if "Generate" in plan:
                assert plan.index("Generate") > plan.index(
                    "InMemoryRelation"
                ), f"{fn.__name__}: explode re-planned outside the cache"
    finally:
        release_all()


#: each pair query with parameters that make its posting key one
#: distinct 3-token window (winnow with w=1 selects every 3-gram hash)
_CAP = 2
_PAIR_QUERIES = {
    "ngram_jaccard_pairs": dict(n=3, threshold=0.0, max_df=_CAP),
    "source_ngram_overlap": dict(n=3, max_sources=_CAP),
    "winnow_dup_pairs": dict(k=3, w=1, min_shared=1, max_df=_CAP),
}


@pytest.mark.parametrize("query", sorted(_PAIR_QUERIES))
def test_shared_key_cap_boundary(spark, query):
    """The hot-key cap of the shared-key self-join at its edge: a key
    held by exactly ``max_df`` owners is kept, one held by ``max_df + 1``
    owners is dropped from the shared count AND both sizes — in Spark
    and in the DuckDB twin alike.

    Owners 1 and 2 both hold the key K (``max_df`` owners) and the key H
    (with owner 3: ``max_df + 1`` owners); every other 3-token window
    contains a token of its own document, so it is unique. Each owner
    holds 6 keys, so the pair (1, 2) must read 1 shared key and sizes
    5 and 5, and owner 3, which shares only H, must be in no pair."""
    from jam_spark.ops import dedup

    kwargs = _PAIR_QUERIES[query]
    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": [
                "k1 k2 k3 a1 h1 h2 h3 a2",
                "k1 k2 k3 b1 h1 h2 h3 b2",
                "c1 c2 c3 c4 h1 h2 h3 c5",
            ],
            "source": [1, 2, 3],
        }
    )

    def run(d):
        return getattr(dedup, query)(d, **kwargs)

    rows = run(spark.createDataFrame(docs)).collect()
    assert [tuple(r)[:5] for r in rows] == [(1, 2, 1, 5, 5)], rows
    _parity(spark, docs, run, getattr(dedup, f"{query}_sql")(**kwargs), [])


def _split_sites(df):
    """(splits, splits inside a lambda body) of every node of ``df``'s
    optimized plan, the plans of cached relations included."""
    sites = []

    def count(e, in_lambda, acc):
        name = e.getClass().getSimpleName()
        if name == "StringSplit":
            acc[0] += 1
            acc[1] += in_lambda
        kids = e.children()
        for k in range(kids.size()):
            count(kids.apply(k), in_lambda or name == "LambdaFunction", acc)

    def walk(node):
        acc = [0, 0]
        exprs = node.expressions()
        for k in range(exprs.size()):
            count(exprs.apply(k), False, acc)
        sites.append(tuple(acc))
        if node.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
            walk(node.executedPlan())
        for kids in (node.children(), node.innerChildren()):
            for k in range(kids.size()):
                walk(kids.apply(k))

    walk(df._jdf.queryExecution().optimizedPlan())
    return sites


def _jvm_sketch_projection(documents):
    from jam_spark.params import SketchParams
    from jam_spark.sketch import jvm_sketch_col

    return documents.select(
        "doc_id", jvm_sketch_col(SketchParams(algo="xxh64")).alias("sketch")
    )


def _token_window_query(name):
    from jam_spark.ops import dedup, text

    if name == "jvm_sketch_col":
        return _jvm_sketch_projection
    # winnow binds its tokens through a Project of its own (SQL string
    # expressions over the ``toks`` column)
    return getattr(text if name == "winnow_doc_fps" else dedup, name)


@pytest.mark.parametrize(
    "query",
    [
        "ngram_jaccard_pairs",
        "source_ngram_overlap",
        "decontaminate",
        "substring_dup_spans",
        "jvm_sketch_col",
        "winnow_doc_fps",
    ],
)
def test_text_split_once_per_row(spark, tmp_path, query):
    """The token array of every window query is bound once per row: each
    plan node evaluates at most one text split, and none inside a lambda
    body, where it would run again for every window (O(len^2) per doc).
    The input is parquet-backed so the projections stay in the plan (a
    local relation can be folded away before it is planned)."""
    from jam_spark._persist import release_all

    path = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    "a b c d e f g h",
                    "a b c d e f g x",
                    "p q r s t u v w",
                ],
                "source": ["s1", "s2", "s3"],
            }
        )
    ).write.parquet(path)
    docs = spark.read.parquet(path)
    try:
        sites = _split_sites(_token_window_query(query)(docs))
    finally:
        release_all()
    assert sum(n for n, _ in sites) >= 1, "no text split found in the plan"
    assert all(n <= 1 for n, _ in sites), sites
    assert all(inside == 0 for _, inside in sites), sites


def _giant_docs():
    """One 21,000-token document (id 1, source a) and a near-copy of it
    (id 3, source b): doc 3 is in decontaminate's default benchmark
    slice (3 % 97 == 3), and the two share nearly every gram, so every
    window query returns rows."""
    dup_block = " ".join(f"dup{i}" for i in range(25))
    filler = " ".join(f"w{i}" for i in range(21000))
    return pd.DataFrame(
        {
            "doc_id": [1, 3],
            "text": [f"{dup_block} {filler} {dup_block}", f"{filler} tail"],
            "source": ["a", "b"],
        }
    )


@pytest.mark.parametrize(
    "query", ["ngram_jaccard_pairs", "source_ngram_overlap", "decontaminate"]
)
def test_giant_document_matches_duckdb(spark, query):
    """The one-giant-document row of the hostile-input matrix for the
    n-gram queries: identical rows in Spark and the DuckDB twin."""
    from jam_spark.ops import dedup

    docs = _giant_docs()
    sql = getattr(dedup, f"{query}_sql")()
    assert _parity(spark, docs, getattr(dedup, query), sql, [])


def test_giant_document_jvm_sketch_matches_oracle(spark):
    from jam_spark import oracle as O
    from jam_spark.params import SketchParams

    params = SketchParams(algo="xxh64")
    docs = _giant_docs()
    got = {
        r["doc_id"]: [h & (2**64 - 1) for h in r["sketch"]]
        for r in _jvm_sketch_projection(spark.createDataFrame(docs)).collect()
    }
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        want = O.sketch_text(text, params).hashes
        assert want and got[doc_id] == want, doc_id
