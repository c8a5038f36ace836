"""Deduplication and corpus-curation operators over
``documents(doc_id, text, ...)``; every query family except MinHash has
a DuckDB ``*_sql()`` twin:

- exact dedup groups/members, corpus dedup report, group-size
  histogram, per-source rollup (md5 hash-groupBy)
- shared-key pair families — n-gram Jaccard pairs, cross-source n-gram
  overlap, winnow dup pairs — all one capped shared-key self-join
  (:func:`_shared_key_pairs`, the relational form of the jam-rs
  inverted-index probe, src/compare.rs:344-352)
- duplicate clusters over the n-gram, winnow and SimHash edge sets
  (:func:`_dup_clusters`: the hybrid CC of jam_spark.cluster against a
  recursive-CTE min-label oracle)
- benchmark decontamination (broadcast gram probe) and the training
  funnel built on it
- duplicated substring spans
- SimHash fingerprints, banded-hamming pairs, mirror groups (portable
  60-bit hex-cast token hashes; no engine-specific hash functions)
- MinHash+LSH sketches/pairs/clusters/merge (the core jam-rs-semantics
  engine from jam_spark.pipeline) — Spark-only (xxh3 not expressible in
  ANSI SQL), verified against the pure-Python oracle in pytest instead
- URL canonicalization dedup and re-crawl collapse, hash-stratified
  sampling, the token-budget mix planner and report, corpus-level line
  dedup, token-balanced output shards
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .._persist import track
from ..cluster import connected_components
from ..pairs import cap_hot_keys
from ..params import SketchParams
from ..pipeline import dedup_pipeline, pairs_stage, sketch_stage
from ..scan import ensure_scan_parallelism
from ..sketch import token_windows
from .text import _TOKENS, _tokens_col


def _drop_hot_keys(df: DataFrame, key: str, max_count: int) -> DataFrame:
    """Drop every row whose ``key`` occurs in more than ``max_count``
    rows — the inverted-index skew guard (a key shared by m rows is an
    m² self-join). Counts come from a map-side-combined partial
    aggregate; only the (few) hot keys are broadcast back into a
    left-anti join, with no window over the hot key."""
    hot = (
        df.groupBy(key)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > max_count)
        .select(key)
    )
    return df.join(F.broadcast(hot), key, "left_anti")


def _shared_key_pairs(
    postings: DataFrame, owner: str, key: str, max_df: int
) -> DataFrame:
    """(a, b, n_shared, n_a, n_b) for every owner pair a < b sharing at
    least one ``key``: the capped shared-key self-join, the relational
    form of the jam-rs inverted-index probe (src/compare.rs:344-352,
    hash → sketch-ids, then a count of shared entries per pair).

    ``postings`` are distinct ``(owner, key)`` rows. A key held by more
    than ``max_df`` owners is dropped (:func:`_drop_hot_keys`) from the
    shared count AND both sizes ``n_a``/``n_b``, so any score built from
    them stays consistent under the cap and pair work is bounded at
    O(n_keys × max_df²/2); the SQL twins apply the identical cap.

    Plan contract: callers pass ``postings`` PERSISTED (``track``) and
    hash-partitioned on ``key`` (``repartition(key)``). Rows of a key are
    then colocated, so the hot-key partial aggregate collapses each key
    before its exchange, and any plan built AFTER the cache materializes
    (a later action over the same frame — the *_clusters queries) sees
    the cached HashPartitioning and plans no exchange at all (probed on
    4.1, default canChangeCachedPlanOutputPartitioning=false; a plan
    built before materialization still inserts its own exchanges —
    measured net faster regardless). The big win is materialize-once:
    without the persist Catalyst duplicates the differently-pruned
    explode / winnow subtree per consumer — the round-5 plans ran up to
    8 scans + explodes per query (plans/r06/*_before.txt)."""
    kept = _drop_hot_keys(postings, key, max_df)
    sizes = kept.groupBy(owner).agg(F.count(F.lit(1)).alias("sz"))
    shared = (
        kept.select(F.col(owner).alias("a"), key)
        .join(kept.select(F.col(owner).alias("b"), key), key)
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return shared.join(
        sizes.select(F.col(owner).alias("a"), F.col("sz").alias("n_a")), "a"
    ).join(
        sizes.select(F.col(owner).alias("b"), F.col("sz").alias("n_b")), "b"
    )


def _dup_clusters(edges: DataFrame, documents: DataFrame) -> DataFrame:
    """(doc_id, cluster_id) as longs — connected components over
    ``(doc_a, doc_b)`` edges with the documents universe, so singleton
    docs label themselves (the hybrid CC of
    :func:`jam_spark.cluster.connected_components`)."""
    out = connected_components(
        edges, documents.select("doc_id"), id_a="doc_a", id_b="doc_b"
    )
    return out.select(
        F.col("url").cast("long").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
    )


# ---------------------------------------------------------------- exact

def exact_dedup_groups(documents: DataFrame) -> DataFrame:
    """One row per distinct text: fingerprint, group size, canonical id."""
    return (
        documents.groupBy(F.md5("text").alias("text_fp"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("doc_id").cast("long").alias("canonical_id"),
        )
    )


def exact_dedup_groups_sql() -> str:
    return """
        SELECT md5(text) AS text_fp,
               count(*)::BIGINT AS n_docs,
               min(doc_id)::BIGINT AS canonical_id
        FROM documents GROUP BY md5(text)
    """


def exact_dedup_members(documents: DataFrame) -> DataFrame:
    """(doc_id, canonical_id) — every doc mapped to the smallest doc_id
    sharing its exact text.

    Shape: join against the map-side-combined :func:`exact_dedup_groups`
    aggregate, NOT a ``min() over (partition by md5(text))`` window. A
    window forces every row of a fingerprint into ONE task and cannot
    partial-aggregate — at web scale a boilerplate page with 10⁸ mirrors
    is a single straggler task. The groupBy side collapses mirrors
    map-side before the shuffle, and the fp-equi-join is AQE-skew-
    splittable.

    NULL text: the join key is ``coalesce(md5(text), '<null>')`` on both
    sides (and in the SQL twin) — a plain md5 equi-join would silently
    drop null-text docs (NULL never equals NULL), whereas the old window
    formulation grouped them; null-text docs form one group keyed by the
    sentinel."""
    key = F.coalesce(F.md5("text"), F.lit("<null>"))
    groups = (
        documents.groupBy(key.alias("text_fp"))
        .agg(F.min("doc_id").cast("long").alias("canonical_id"))
    )
    return (
        documents.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            key.alias("text_fp"),
        )
        .join(groups, "text_fp")
        .select("doc_id", "canonical_id")
    )


def exact_dedup_members_sql() -> str:
    return """
        WITH groups AS (
          SELECT coalesce(md5(text), '<null>') AS text_fp,
                 min(doc_id)::BIGINT AS canonical_id
          FROM documents GROUP BY coalesce(md5(text), '<null>')
        )
        SELECT d.doc_id::BIGINT AS doc_id, g.canonical_id AS canonical_id
        FROM documents d
        JOIN groups g ON coalesce(md5(d.text), '<null>') = g.text_fp
    """


# ------------------------------------------------------- n-gram jaccard

def _ngrams_col(n: int = 3):
    gram = lambda t, i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(t, i + j) for j in range(n)]
    )
    return F.array_distinct(token_windows(_tokens_col(), n, gram))


def ngram_jaccard_pairs(
    documents: DataFrame, n: int = 3, threshold: float = 0.5,
    max_df: int = 1000,
) -> DataFrame:
    """Exact word-n-gram Jaccard for all pairs above ``threshold``
    (strict >): distinct n-grams are the keys of the capped shared-key
    self-join (:func:`_shared_key_pairs`), and Jaccard is one division
    of its exact integer counts.

    Skew guard (the 100 TB concern): web boilerplate grams reach
    millions of docs and carry no Jaccard signal, so grams with document
    frequency > ``max_df`` are dropped from BOTH the numerator and the
    denominator; the SQL oracle applies the identical cap, so parity
    holds at every scale.
    """
    # _ngrams_col is array_distinct per doc — explode output is already
    # (doc_id, gram)-distinct; persisted and gram-partitioned per the
    # :func:`_shared_key_pairs` plan contract
    grams = track(
        ensure_scan_parallelism(documents)
        .select("doc_id", F.explode(_ngrams_col(n)).alias("gram"))
        .repartition("gram")
    )
    jaccard = F.col("n_shared").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_shared")
    )
    return (
        _shared_key_pairs(grams, "doc_id", "gram", max_df)
        .withColumn("jaccard", jaccard)
        .filter(F.col("jaccard") > threshold)
        .select(
            F.col("a").cast("long").alias("doc_a"),
            F.col("b").cast("long").alias("doc_b"),
            F.col("n_shared").cast("long").alias("n_common"),
            F.col("n_a").cast("long"),
            F.col("n_b").cast("long"),
            "jaccard",
        )
    )


def ngram_jaccard_pairs_sql(
    n: int = 3, threshold: float = 0.5, max_df: int = 1000
) -> str:
    gram_expr = " || ' ' || ".join(f"t[i+{j}]" for j in range(n))
    return f"""
        WITH toks AS (
          SELECT doc_id, {_TOKENS} AS t FROM documents
        ),
        grams0 AS (
          SELECT DISTINCT doc_id, gram
          FROM (
            SELECT doc_id,
                   unnest([{gram_expr} for i in range(1, len(t) - {n - 2})]) AS gram
            FROM toks WHERE len(t) >= {n}
          )
        ),
        keep AS (
          SELECT gram FROM grams0 GROUP BY gram HAVING count(*) <= {max_df}
        ),
        grams AS (
          SELECT g.doc_id, g.gram FROM grams0 g JOIN keep USING (gram)
        ),
        sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY doc_id),
        common AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
          FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id
        )
        SELECT c.doc_a::BIGINT AS doc_a, c.doc_b::BIGINT AS doc_b,
               c.n_common::BIGINT AS n_common,
               sa.sz::BIGINT AS n_a, sb.sz::BIGINT AS n_b,
               c.n_common::DOUBLE / (sa.sz + sb.sz - c.n_common) AS jaccard
        FROM common c
        JOIN sizes sa ON sa.doc_id = c.doc_a
        JOIN sizes sb ON sb.doc_id = c.doc_b
        WHERE c.n_common::DOUBLE / (sa.sz + sb.sz - c.n_common) > {threshold}
    """



def source_ngram_overlap(
    documents: DataFrame, n: int = 3, max_sources: int = 256
) -> DataFrame:
    """(source_a, source_b, n_shared_grams, n_grams_a, n_grams_b,
    jaccard) — the cross-source content-overlap matrix over distinct
    word n-grams: the data-mixing diagnostic run before weighting
    sources in a training mix (which domains republish each other's
    content, how much of source B is already inside source A). One row
    per unordered source pair sharing >= 1 eligible gram.

    Skew/scale guard: universal boilerplate reaches every domain on the
    web, so grams with source reach > ``max_sources`` carry no mixing
    signal and are dropped from BOTH the shared counts and the
    per-source vocabularies — the ``max_df`` cap of
    :func:`_shared_key_pairs` with sources as owners. The output is
    C(n_sources, 2) rows — a driver-safe summary by construction.
    """
    # explode is per-doc distinct (array_distinct); the corpus-level
    # distinct collapses same-source repeats so a gram's posting count
    # IS its distinct-source reach. The distinct runs ON TOP of the one
    # gram exchange (hashpartitioning(gram) clusters every (source,
    # gram) duplicate into one partition — subset clustering, no second
    # exchange) and is persisted with that partitioning.
    sg = track(
        ensure_scan_parallelism(documents)
        .select("source", F.explode(_ngrams_col(n)).alias("gram"))
        .repartition("gram")
        .distinct()
    )
    jaccard = F.col("n_shared").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_shared")
    )
    return _shared_key_pairs(sg, "source", "gram", max_sources).select(
        F.col("a").alias("source_a"),
        F.col("b").alias("source_b"),
        F.col("n_shared").cast("long").alias("n_shared_grams"),
        F.col("n_a").cast("long").alias("n_grams_a"),
        F.col("n_b").cast("long").alias("n_grams_b"),
        jaccard.alias("jaccard"),
    )


def source_ngram_overlap_sql(n: int = 3, max_sources: int = 256) -> str:
    """DuckDB twin of :func:`source_ngram_overlap` (identical gram
    extraction, reach cap, and one exact-integer division)."""
    gram_expr = " || ' ' || ".join(f"t[i+{j}]" for j in range(n))
    return f"""
        WITH toks AS (
          SELECT source, {_TOKENS} AS t FROM documents
        ),
        sg AS (
          SELECT DISTINCT source, gram
          FROM (
            SELECT source,
                   unnest([{gram_expr} for i in range(1, len(t) - {n - 2})]) AS gram
            FROM toks WHERE len(t) >= {n}
          )
        ),
        keep AS (
          SELECT gram FROM sg GROUP BY gram HAVING count(*) <= {max_sources}
        ),
        grams AS (
          SELECT g.source, g.gram FROM sg g JOIN keep USING (gram)
        ),
        sizes AS (SELECT source, count(*) AS sz FROM grams GROUP BY source),
        shared AS (
          SELECT a.source AS source_a, b.source AS source_b,
                 count(*) AS n_shared_grams
          FROM grams a JOIN grams b ON a.gram = b.gram AND a.source < b.source
          GROUP BY 1, 2
        )
        SELECT s.source_a, s.source_b,
               s.n_shared_grams::BIGINT AS n_shared_grams,
               sa.sz::BIGINT AS n_grams_a,
               sb.sz::BIGINT AS n_grams_b,
               s.n_shared_grams::DOUBLE
                   / (sa.sz + sb.sz - s.n_shared_grams) AS jaccard
        FROM shared s
        JOIN sizes sa ON s.source_a = sa.source
        JOIN sizes sb ON s.source_b = sb.source
    """


# ------------------------------------- benchmark decontamination (n-gram)

def decontaminate(
    documents: DataFrame, n: int = 4, modulus: int = 97, residue: int = 3,
    max_df: int = 10_000,
) -> DataFrame:
    """Test-set decontamination: flag training documents that share any
    word ``n``-gram with a benchmark slice of the corpus (the overlap
    check GPT-3 appendix C / Dodge et al. 2021 run before training; they
    use 8-13-grams — the default here is sized to the synthetic corpus).

    The benchmark slice is deterministic and in-corpus (no external
    data): documents with ``doc_id % modulus == residue``. Everything
    else is "training" data. Returns one row per CONTAMINATED training
    doc: ``(doc_id, n_hits, n_grams, contaminated_frac)`` where
    ``n_hits`` counts distinct benchmark n-grams found in the doc and
    ``n_grams`` its distinct n-gram vocabulary.

    Scale shape (the 100 TB plan): the benchmark gram set is small and
    BROADCAST, so the probe is a map-side semi-join over the exploded
    training grams — no all-to-all shuffle; the only wide exchange is
    the final per-doc partial-aggregated count. Grams with training
    document-frequency > ``max_df`` are dropped from both the probe and
    the denominator (boilerplate carries no contamination signal and is
    the join-fan-out skew risk — same guard as ngram_jaccard_pairs).
    The SQL twin applies the identical cap.
    """
    docs = ensure_scan_parallelism(documents)
    is_bench = (F.col("doc_id") % modulus) == residue
    # _ngrams_col is array_distinct per doc — explode output is already
    # (doc_id, gram)-distinct. ONE scan+explode+gram-exchange carrying
    # the is_bench flag, PERSISTED with its hash partitioning: the
    # bench-gram distinct (subset clustering), the hot-df aggregate and
    # the probe join all derive from the one cache (the round-5 plan
    # re-ran the scan+explode 5x,
    # plans/r06/decontaminate_before.txt; see the plan contract on
    # _shared_key_pairs for the partitioning rationale).
    grams = track(
        docs.select(
            "doc_id", is_bench.alias("is_bench"),
            F.explode(_ngrams_col(n)).alias("gram"),
        ).repartition("gram")
    )
    bench = grams.filter(F.col("is_bench")).select("gram").distinct()
    train = _drop_hot_keys(
        grams.filter(~F.col("is_bench")).select("doc_id", "gram"),
        "gram", max_df,
    )
    sizes = train.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    # the benchmark-gram probe is NOT force-broadcast (r5 VERDICT
    # foot-gun: F.broadcast overrode the size threshold, so a
    # corpus-scale "benchmark" slice meant a driver OOM instead of a
    # plan change): Catalyst/AQE broadcast it when its measured size is
    # small — true for every real benchmark suite — and an oversized
    # slice degrades to a partitioned join.
    hits = (
        train.join(bench, "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return hits.join(sizes, "doc_id").select(
        F.col("doc_id").cast("long"),
        F.col("n_hits").cast("long"),
        F.col("n_grams").cast("long"),
        (F.col("n_hits").cast("double") / F.col("n_grams")).alias(
            "contaminated_frac"
        ),
    )


def decontaminate_sql(
    n: int = 4, modulus: int = 97, residue: int = 3, max_df: int = 10_000
) -> str:
    gram_expr = " || ' ' || ".join(f"t[i+{j}]" for j in range(n))
    return f"""
        WITH toks AS (
          SELECT doc_id, {_TOKENS} AS t FROM documents
        ),
        grams AS (
          SELECT DISTINCT doc_id, gram FROM (
            SELECT doc_id,
                   unnest([{gram_expr} for i in range(1, len(t) - {n - 2})]) AS gram
            FROM toks WHERE len(t) >= {n}
          )
        ),
        bench AS (
          SELECT DISTINCT gram FROM grams WHERE doc_id % {modulus} = {residue}
        ),
        train0 AS (
          SELECT doc_id, gram FROM grams WHERE doc_id % {modulus} <> {residue}
        ),
        keep AS (
          SELECT gram FROM train0 GROUP BY gram HAVING count(*) <= {max_df}
        ),
        train AS (
          SELECT t.doc_id, t.gram FROM train0 t JOIN keep USING (gram)
        ),
        sizes AS (SELECT doc_id, count(*) AS n_grams FROM train GROUP BY doc_id),
        hits AS (
          SELECT t.doc_id, count(*) AS n_hits
          FROM train t JOIN bench USING (gram) GROUP BY t.doc_id
        )
        SELECT h.doc_id::BIGINT AS doc_id,
               h.n_hits::BIGINT AS n_hits,
               s.n_grams::BIGINT AS n_grams,
               h.n_hits::DOUBLE / s.n_grams AS contaminated_frac
        FROM hits h JOIN sizes s USING (doc_id)
    """


# ----------------------------------------------------- training funnel

def training_funnel(
    documents: DataFrame, n: int = 4, modulus: int = 97, residue: int = 3,
    max_df: int = 10_000,
) -> DataFrame:
    """The training-mix funnel report: how many documents survive each
    curation stage a pretraining pipeline chains, end to end —

    1. ``exact_text_dedup``  — keep the min-doc_id representative per
       exact text fingerprint (the :func:`exact_dedup_members` spec:
       ``coalesce(md5(text), '<null>')``).
    2. ``quality_filter``    — keep survivors the composite Gopher-ish
       gate (:func:`jam_spark.ops.text.quality_filter`) marks ``keep``.
    3. ``decontaminate``     — drop the held-out benchmark slice itself
       (``doc_id % modulus == residue``) AND every training survivor
       that shares an ``n``-gram with it (the :func:`decontaminate`
       probe, same ``max_df`` boilerplate cap).

    Output: one row per stage ``(stage_id, stage, docs_in, docs_out,
    removed)`` — all counts BIGINT (hash-stable across engines).

    Scale shape (the 100 TB plan): each stage contributes one narrow
    per-doc flag — is-representative (fp-keyed map-side-combined min
    aggregate + AQE-splittable equi-join, never a window), quality keep
    (map-only), contaminated (broadcast bench-gram semi-join) — and the
    whole funnel then collapses in ONE map-side-combinable aggregate
    over the assembled flags frame; the three stage rows are unpacked
    from that single aggregated row with an ``explode`` of literal
    structs, so no count is a separate action and nothing but a
    five-column frame ever shuffles. The stage semantics compose the
    already-frozen specs, so each flag inherits its stage's oracle.
    """
    from .text import quality_filter

    docs = ensure_scan_parallelism(documents)
    key = F.coalesce(F.md5("text"), F.lit("<null>"))
    base = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"), key.alias("text_fp")
    )
    reps = base.groupBy("text_fp").agg(F.min("doc_id").alias("rep_id"))
    qf = quality_filter(documents).select(
        F.col("doc_id").cast("long").alias("doc_id"), "keep"
    )
    cont = (
        decontaminate(
            documents, n=n, modulus=modulus, residue=residue, max_df=max_df
        )
        .select("doc_id")
        .withColumn("contaminated", F.lit(1))
    )
    flags = (
        base.join(reps, "text_fp")
        .join(qf, "doc_id")
        .join(cont, "doc_id", "left")
        .select(
            (F.col("doc_id") == F.col("rep_id")).cast("int").alias("s1"),
            F.coalesce(F.col("keep"), F.lit(0)).alias("k"),
            F.when(
                F.col("contaminated").isNull()
                & ((F.col("doc_id") % modulus) != residue),
                F.lit(1),
            ).otherwise(F.lit(0)).alias("clean"),
        )
    )
    agg = flags.agg(
        F.count(F.lit(1)).cast("long").alias("total"),
        F.coalesce(F.sum("s1"), F.lit(0)).cast("long").alias("n1"),
        F.coalesce(F.sum(F.col("s1") * F.col("k")), F.lit(0))
        .cast("long").alias("n2"),
        F.coalesce(
            F.sum(F.col("s1") * F.col("k") * F.col("clean")), F.lit(0)
        ).cast("long").alias("n3"),
    )

    def stage(i: int, name: str, din: str, dout: str):
        return F.struct(
            F.lit(i).cast("long").alias("stage_id"),
            F.lit(name).alias("stage"),
            F.col(din).alias("docs_in"),
            F.col(dout).alias("docs_out"),
        )

    return (
        agg.select(
            F.explode(
                F.array(
                    stage(1, "exact_text_dedup", "total", "n1"),
                    stage(2, "quality_filter", "n1", "n2"),
                    stage(3, "decontaminate", "n2", "n3"),
                )
            ).alias("st")
        )
        .select("st.*")
        .withColumn(
            "removed", (F.col("docs_in") - F.col("docs_out")).cast("long")
        )
    )


def training_funnel_sql(
    n: int = 4, modulus: int = 97, residue: int = 3, max_df: int = 10_000
) -> str:
    from .text import quality_filter_sql

    qf = quality_filter_sql()
    ct = decontaminate_sql(n=n, modulus=modulus, residue=residue,
                           max_df=max_df)
    return f"""
        WITH base AS (
          SELECT doc_id::BIGINT AS doc_id,
                 coalesce(md5(text), '<null>') AS text_fp
          FROM documents
        ),
        reps AS (
          SELECT text_fp, min(doc_id) AS rep_id FROM base GROUP BY text_fp
        ),
        qf AS (SELECT doc_id::BIGINT AS doc_id, keep FROM ({qf}) _qf),
        cont AS (SELECT DISTINCT doc_id::BIGINT AS doc_id FROM ({ct}) _ct),
        flags AS (
          SELECT CASE WHEN b.doc_id = r.rep_id THEN 1 ELSE 0 END AS s1,
                 coalesce(q.keep, 0) AS k,
                 CASE WHEN c.doc_id IS NULL
                           AND (b.doc_id % {modulus}) <> {residue}
                      THEN 1 ELSE 0 END AS clean
          FROM base b
          JOIN reps r USING (text_fp)
          JOIN qf q ON q.doc_id = b.doc_id
          LEFT JOIN cont c ON c.doc_id = b.doc_id
        ),
        agg AS (
          SELECT count(*)::BIGINT AS total,
                 coalesce(sum(s1), 0)::BIGINT AS n1,
                 coalesce(sum(s1 * k), 0)::BIGINT AS n2,
                 coalesce(sum(s1 * k * clean), 0)::BIGINT AS n3
          FROM flags
        )
        SELECT 1::BIGINT AS stage_id, 'exact_text_dedup' AS stage,
               total AS docs_in, n1 AS docs_out,
               (total - n1)::BIGINT AS removed FROM agg
        UNION ALL
        SELECT 2::BIGINT, 'quality_filter', n1, n2,
               (n1 - n2)::BIGINT FROM agg
        UNION ALL
        SELECT 3::BIGINT, 'decontaminate', n2, n3,
               (n2 - n3)::BIGINT FROM agg
    """


# ------------------------------------------- duplicated substring spans

def substring_dup_spans(
    documents: DataFrame, window: int = 20
) -> DataFrame:
    """Exact duplicated-substring detection — the suffix-array-style
    dedup family (cf. "Deduplicating Training Data Makes Language Models
    Better", Lee et al. 2021), re-expressed relationally: a token
    position is *duplicated* iff its ``window``-token gram occurs more
    than once in the corpus (across or within docs); overlapping
    duplicated windows merge into maximal spans.

    Distributed shape: gram-fingerprint explode → hash-agg (count>1) →
    semi-join back → per-doc interval-island merge (one window pass).
    Output: (doc_id, span_start, span_end, n_windows) with token-index
    [span_start, span_end) spans.
    """
    grams = token_windows(
        _tokens_col(), window,
        lambda t, i: F.struct(
            (i - 1).alias("pos"),
            F.md5(F.concat_ws(" ", F.slice(t, i, window))).alias("fp"),
        ),
    )
    pos_fp = documents.select(
        "doc_id", F.explode(grams).alias("g")
    ).select("doc_id", F.col("g.pos").alias("pos"), F.col("g.fp").alias("fp"))
    dup_fps = (
        pos_fp.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .select("fp")
    )
    dup_pos = pos_fp.join(dup_fps, "fp").select("doc_id", "pos")

    from pyspark.sql import Window as W

    w = W.partitionBy("doc_id").orderBy("pos")
    islands = (
        dup_pos.withColumn("prev", F.lag("pos").over(w))
        .withColumn(
            "brk",
            F.when(
                F.col("prev").isNull()
                | (F.col("pos") - F.col("prev") > window),
                1,
            ).otherwise(0),
        )
        .withColumn("island", F.sum("brk").over(w))
    )
    return (
        islands.groupBy("doc_id", "island")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + window).cast("long").alias("span_end"),
            F.count(F.lit(1)).cast("long").alias("n_windows"),
        )
        .select(
            F.col("doc_id").cast("long"),
            "span_start",
            "span_end",
            "n_windows",
        )
    )


def substring_dup_spans_sql(window: int = 20) -> str:
    # the window joined token by token: a DuckDB list slice takes time
    # linear in the whole list, which made the twin O(len^2) per doc
    gram_expr = " || ' ' || ".join(f"t[u.i + {j}]" for j in range(window))
    return f"""
        WITH toks AS (
          SELECT doc_id, {_TOKENS} AS t FROM documents
        ),
        pos_fp AS (
          SELECT doc_id, u.i - 1 AS pos, md5({gram_expr}) AS fp
          FROM toks,
               -- bound derived from each doc's own length (a fixed bound
               -- would silently truncate long docs in the oracle only)
               LATERAL (SELECT unnest(range(1, len(t) - {window} + 2)) AS i) u
        ),
        dup AS (
          SELECT fp FROM pos_fp GROUP BY fp HAVING count(*) > 1
        ),
        dp AS (
          SELECT p.doc_id, p.pos FROM pos_fp p JOIN dup USING (fp)
        ),
        isl AS (
          SELECT doc_id, pos,
                 sum(CASE WHEN prev IS NULL OR pos - prev > {window}
                          THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY pos) AS island
          FROM (
            SELECT doc_id, pos,
                   lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
            FROM dp
          )
        )
        SELECT doc_id::BIGINT AS doc_id,
               min(pos)::BIGINT AS span_start,
               (max(pos) + {window})::BIGINT AS span_end,
               count(*)::BIGINT AS n_windows
        FROM isl GROUP BY doc_id, island
    """


# -------------------------------------------------------------- simhash

#: number of simhash bits (60 = 15 hex chars of md5, portably castable
#: to a signed BIGINT in both Spark and DuckDB)
SIMHASH_BITS = 60


def simhash(documents: DataFrame) -> DataFrame:
    """(doc_id, simhash string of SIMHASH_BITS '0'/'1' chars, msb first).

    Token hash = first 15 hex chars of md5(token) as a 60-bit integer
    (portable across engines); bit b of the simhash is 1 iff the sum over
    *distinct* tokens of (2*bit_b(token) - 1) is positive.

    Scale shape: the whole fingerprint is a per-row array aggregate
    (``aggregate`` folding 60-long counter arrays with ``zip_with``) —
    zero explode, zero shuffle, pure map inside whole-stage codegen. The
    previous formulation exploded tokens x 60 bits and shuffled the
    (doc_id, b) grid; results are identical (same sums, same sign rule).
    """
    th_arr = F.transform(
        F.array_distinct(_tokens_col()),
        lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long"),
    )
    sums = F.aggregate(
        th_arr,
        F.array_repeat(F.lit(0).cast("long"), SIMHASH_BITS),
        # contributions unrolled per bit (shiftright needs a literal count
        # in the DataFrame API); acc[b] += (bit_b(th) ? +1 : -1)
        lambda acc, th: F.zip_with(
            acc,
            F.array(
                *[
                    ((F.shiftright(th, b) % 2) * 2 - 1).cast("long")
                    for b in range(SIMHASH_BITS)
                ]
            ),
            lambda a, c: a + c,
        ),
    )
    return documents.select(
        F.col("doc_id").cast("long"),
        F.concat_ws(
            "",
            F.reverse(
                F.transform(
                    sums,
                    lambda s: F.when(s > 0, F.lit("1")).otherwise(F.lit("0")),
                )
            ),
        ).alias("simhash"),
    )


def simhash_sql() -> str:
    return f"""
        WITH toks AS (
          SELECT DISTINCT doc_id, unnest({_TOKENS}) AS tok FROM documents
        ),
        th AS (
          SELECT doc_id, ('0x' || substring(md5(tok), 1, 15))::BIGINT AS th
          FROM toks
        ),
        bits AS (
          SELECT doc_id, b.b AS b,
                 sum(((th >> b.b) & 1) * 2 - 1) AS s
          FROM th, (SELECT unnest(range(0, {SIMHASH_BITS})) AS b) b
          GROUP BY doc_id, b.b
        )
        SELECT doc_id::BIGINT AS doc_id,
               string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END, ''
                          ORDER BY b DESC) AS simhash
        FROM bits GROUP BY doc_id
    """


#: bands for the simhash hamming join: 4 bands x 15 bits. Pigeonhole: a
#: pair within hamming distance 3 differs in <= 3 bands, so it SHARES at
#: least one of the 4 — the banded candidate join is EXACT for k <= 3.
SIMHASH_BANDS = 4


def _simhash_fps(documents: DataFrame) -> DataFrame:
    """(doc_id, simhash, fpl) — the tracked-persist fingerprint frame
    every simhash stage shares; ``fpl`` is the 60-bit fingerprint as ONE
    long (conv is injective on 60 bits, so fpl-equality == simhash-
    equality). Computing this once and passing it around is what keeps
    :func:`simhash_dup_clusters` from re-running the per-doc token-hash
    fold 3 extra times over the corpus (r5 ADVICE)."""
    return track(
        simhash(documents).withColumn(
            "fpl", F.conv("simhash", 2, 10).cast("long")
        )
    )


def simhash_dup_pairs(
    documents: DataFrame,
    k: int = 3,
    band_cap: int | None = None,
    include_mirror_pairs: bool = True,
    _fps: DataFrame | None = None,
) -> DataFrame:
    """(doc_a, doc_b, hamming) — all document pairs whose simhash
    fingerprints are within hamming distance ``k`` (Manku et al., WWW'07
    near-duplicate scheme over Charikar fingerprints).

    Scale shape: the banded self-join runs over DISTINCT fingerprints,
    so m mirror pages collapse to ONE posting before any join (the
    same-fingerprint doc pairs are emitted separately, output-bound);
    candidates then verify with an exact hamming count (JVM zip_with —
    no Python). For k <= 3 the 4x15-bit banding is candidate-COMPLETE
    (pigeonhole), so results are exact, and the same banding runs in the
    SQL twin. Expected band-bucket size among distinct fingerprints is
    n_fp/2^15 — fine through ~10^8-10^9 distinct fps; beyond that, pass
    ``band_cap`` to bound adversarial band buckets with the rotation
    thinner (trades the exactness guarantee for a bounded join, same
    contract as the minhash/ANN caps).

    ``include_mirror_pairs``: the same-fingerprint (hamming 0) doc pairs
    are m² in the mirror-group size — for a 10⁸-mirror boilerplate page
    that is an unboundable OUTPUT, not a join problem (AQE splits the
    skewed join, but the rows still exist). Pair-style output keeps
    oracle parity at test scale; at web scale pass ``False`` and read
    mirror groups from :func:`simhash_mirror_groups` (output is one row
    per fingerprint, bounded by the number of DISTINCT fingerprints).
    """
    if k > SIMHASH_BANDS - 1:
        raise ValueError(
            f"simhash_dup_pairs: k={k} exceeds the candidate-complete "
            f"bound of the fixed {SIMHASH_BANDS}-band layout (pigeonhole "
            f"guarantees completeness only for k <= {SIMHASH_BANDS - 1}); "
            "pairs at larger distances would be silently dropped"
        )
    width = SIMHASH_BITS // SIMHASH_BANDS
    # every stage past the fingerprint works on the 60-bit fingerprint
    # as ONE long (`fpl`): the banded join/distinct shuffles 8-byte keys
    # instead of 60-char strings (~4x narrower exchanges), band values
    # are shift+mask bit fields packed with their band_id into a single
    # 8-byte join key, and hamming is bit_count(xor) — one popcount vs
    # 60 per-char comparisons. Same pairs, same distances as the string
    # formulation the SQL twin runs (banding only affects candidate
    # GENERATION, which is pigeonhole-complete either way); measured
    # ~8.1s -> ~1.8s warm on the 5k-doc sf0.1 table (271k output pairs).
    fps = _fps if _fps is not None else _simhash_fps(documents)
    uf = fps.select("fpl").distinct()
    # band b covers bit positions [45-15b, 60-15b); key packs band_id
    # into the top bits (band values are < 2^15, ids < 4)
    bands = uf.select(
        "fpl",
        F.explode(
            F.array(
                *[
                    F.shiftrightunsigned("fpl", (SIMHASH_BANDS - 1 - b) * width)
                    .bitwiseAND(F.lit((1 << width) - 1))
                    .bitwiseOR(F.lit(b << (width + 1)))
                    for b in range(SIMHASH_BANDS)
                ]
            )
        ).alias("bkey"),
    )
    bands = cap_hot_keys(
        bands, "bkey", band_cap, "fpl", anchor=F.xxhash64("bkey")
    )
    cand = (
        bands.alias("x")
        .join(bands.alias("y"), "bkey")
        .filter(F.col("x.fpl") < F.col("y.fpl"))
        .select(F.col("x.fpl").alias("fa"), F.col("y.fpl").alias("fb"))
        .distinct()
    )
    hamming = F.bit_count(
        F.col("fa").bitwiseXOR(F.col("fb"))
    ).cast("long")
    close_fps = cand.withColumn("hamming", hamming).filter(
        F.col("hamming") <= k
    )
    # same-fingerprint doc pairs (hamming 0): exact mirrors
    a = fps.select(F.col("doc_id").alias("doc_a"), "fpl")
    b = fps.select(F.col("doc_id").alias("doc_b"), "fpl")
    same = (
        a.join(b, "fpl")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a", "doc_b", F.lit(0).cast("long").alias("hamming")
        )
    )
    # cross-fingerprint doc pairs: expand fp pairs back to members
    cross = (
        close_fps.join(
            fps.select(F.col("doc_id").alias("da"), F.col("fpl").alias("fa")),
            "fa",
        )
        .join(
            fps.select(F.col("doc_id").alias("db"), F.col("fpl").alias("fb")),
            "fb",
        )
        .select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
            "hamming",
        )
    )
    out = cross if not include_mirror_pairs else same.unionByName(cross)
    return out.select(
        F.col("doc_a").cast("long"),
        F.col("doc_b").cast("long"),
        F.col("hamming").cast("long"),
    )


def simhash_dup_pairs_sql(k: int = 3) -> str:
    width = SIMHASH_BITS // SIMHASH_BANDS
    band_exprs = ", ".join(
        f"substring(simhash, {1 + b * width}, {width})" for b in range(SIMHASH_BANDS)
    )
    return f"""
        WITH fp AS ({simhash_sql()}),
        uf AS (SELECT DISTINCT simhash FROM fp),
        bands AS (
          SELECT simhash, b.band_id, [{band_exprs}][b.band_id + 1] AS band_val
          FROM uf, (SELECT unnest(range(0, {SIMHASH_BANDS})) AS band_id) b
        ),
        cand AS (
          SELECT DISTINCT x.simhash AS fa, y.simhash AS fb
          FROM bands x JOIN bands y
            ON x.band_id = y.band_id AND x.band_val = y.band_val
          WHERE x.simhash < y.simhash
        ),
        close_fps AS (
          SELECT * FROM (
            SELECT fa, fb,
                   list_sum(list_transform(range(1, {SIMHASH_BITS} + 1),
                     i -> CASE WHEN substring(fa, i::INT, 1)
                               <> substring(fb, i::INT, 1)
                          THEN 1 ELSE 0 END))::BIGINT AS hamming
            FROM cand
          ) WHERE hamming <= {k}
        )
        SELECT a.doc_id::BIGINT AS doc_a, b.doc_id::BIGINT AS doc_b,
               0::BIGINT AS hamming
        FROM fp a JOIN fp b ON a.simhash = b.simhash AND a.doc_id < b.doc_id
        UNION ALL
        SELECT least(da.doc_id, db.doc_id)::BIGINT AS doc_a,
               greatest(da.doc_id, db.doc_id)::BIGINT AS doc_b,
               c.hamming
        FROM close_fps c
        JOIN fp da ON da.simhash = c.fa
        JOIN fp db ON db.simhash = c.fb
    """


def simhash_mirror_groups(documents: DataFrame) -> DataFrame:
    """(simhash, n_docs, canonical_id) — one row per fingerprint shared
    by 2+ docs: the bounded, web-scale-default view of SimHash mirrors.

    :func:`simhash_dup_pairs` with ``include_mirror_pairs=True`` emits m²
    rows for an m-doc mirror group — correct, oracle-checkable, and the
    wrong default at 10⁸ mirrors. This is the scale twin for the
    hamming-0 portion: a map-side-combinable groupBy on the fingerprint
    (same aggregate shape as :func:`exact_dedup_groups`, so a
    million-mirror boilerplate page collapses partition-locally before
    the shuffle), output bounded by the number of DISTINCT fingerprints.
    Pair with ``simhash_dup_pairs(include_mirror_pairs=False)`` for the
    cross-fingerprint (hamming 1..k) pairs.
    """
    fps = simhash(documents)
    return (
        fps.groupBy("simhash")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("doc_id").cast("long").alias("canonical_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


def simhash_mirror_groups_sql() -> str:
    return f"""
        WITH fp AS ({simhash_sql()})
        SELECT simhash, count(*)::BIGINT AS n_docs,
               min(doc_id)::BIGINT AS canonical_id
        FROM fp GROUP BY simhash HAVING count(*) > 1
    """


# ----------------------------------------------- minhash-LSH (the core)

def _as_pages(documents: DataFrame, *extra_cols: str) -> DataFrame:
    """Adapt the documents table to the pipeline's (url, text) pages
    contract, carrying ``extra_cols`` along.

    doc_ids are zero-padded so the pipeline's lexicographic min-url
    cluster labels coincide with numeric-min doc_ids."""
    return documents.select(
        F.lpad(F.col("doc_id").cast("string"), 12, "0").alias("url"),
        "text",
        *extra_cols,
    )


def minhash_sketches(documents: DataFrame, params: SketchParams | None = None) -> DataFrame:
    params = params or SketchParams()
    sketches, _ = sketch_stage(_as_pages(documents), params)
    return sketches.select(
        F.col("url").cast("long").alias("doc_id"),
        F.col("num_hashes").cast("long"),
    )


def minhash_pairs(documents: DataFrame, params: SketchParams | None = None) -> DataFrame:
    params = params or SketchParams()
    sketches, _ = sketch_stage(_as_pages(documents), params)
    p = pairs_stage(track(sketches), params)
    return p.select(
        F.col("id_a").cast("long").alias("doc_a"),
        F.col("id_b").cast("long").alias("doc_b"),
        F.col("num_common").cast("long"),
        F.col("num_kmers").cast("long"),
        "similarity",
    )


def minhash_pairs_allpairs(
    documents: DataFrame, params: SketchParams | None = None
) -> DataFrame:
    """C4 exhaustive mode with the all-pairs scorer (max-denominator ×
    coverage fraction, src/compare.rs:171,205-227); cutoff lowered so the
    two scorer conventions are distinguishable in output."""
    from ..pairs import all_pairs_compare

    params = (params or SketchParams()).with_(scorer="allpairs", cutoff=30.0)
    sketches, _ = sketch_stage(_as_pages(documents), params)
    p = all_pairs_compare(track(sketches), params)
    return p.select(
        F.col("id_a").cast("long").alias("doc_a"),
        F.col("id_b").cast("long").alias("doc_b"),
        F.col("num_common").cast("long"),
        F.col("num_kmers").cast("long"),
        "similarity",
    )


def minhash_merge_by_source(
    documents: DataFrame, params: SketchParams | None = None
) -> DataFrame:
    """A2 sketch merge: union the per-doc sketches of each ``source``
    group (FracMinHash merge, src/signature.rs:106-113)."""
    from ..sketch import merge_sketches

    params = params or SketchParams()
    pages = _as_pages(documents, "source")
    sketches, _ = sketch_stage(pages, params, dedup_exact_first=False)
    joined = sketches.join(pages.select("url", "source"), "url")
    return merge_sketches(joined, "source", params).select(
        "source", F.col("num_hashes").cast("long"), F.col("n_members").cast("long")
    )


def minhash_clusters(documents: DataFrame, params: SketchParams | None = None) -> DataFrame:
    params = params or SketchParams()
    out = dedup_pipeline(_as_pages(documents), params)
    return out.select(
        F.col("url").cast("long").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
    )


# --------------------------------------------------------------------------
# corpus-level dedup reporting (pipeline monitoring at scale)
# --------------------------------------------------------------------------


def dedup_report(documents: DataFrame) -> DataFrame:
    """Single-row corpus dedup report: how much of the corpus is
    exact-duplicate mass, before any near-dup pass — the first number a
    100 TB ingest run publishes.

    Shape: two chained hash aggregates (text_fp → group sizes → corpus
    rollup), both map-side combinable; no window, no collect, so the
    report costs one scan + two shuffles (the second over ≤ |groups|
    narrow rows) at any corpus size. ``dup_ratio`` is ONE division of
    exact integer aggregates (deterministic for the oracle value-hash;
    no float summation)."""
    key = F.coalesce(F.md5("text"), F.lit("<null>"))
    sizes = documents.groupBy(key.alias("text_fp")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    n_docs = F.sum("n")
    n_groups = F.count(F.lit(1))
    return sizes.agg(
        n_docs.cast("long").alias("n_docs"),
        n_groups.cast("long").alias("n_groups"),
        (n_docs - n_groups).cast("long").alias("n_dup_docs"),
        ((n_docs - n_groups) / n_docs).cast("double").alias("dup_ratio"),
        F.max("n").cast("long").alias("max_group_size"),
        F.sum(F.when(F.col("n") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_singleton_groups"),
    )


def dedup_report_sql() -> str:
    return """
        WITH sizes AS (
            SELECT coalesce(md5(text), '<null>') AS text_fp,
                   count(*)::BIGINT AS n
            FROM documents GROUP BY 1
        )
        SELECT sum(n)::BIGINT AS n_docs,
               count(*)::BIGINT AS n_groups,
               (sum(n) - count(*))::BIGINT AS n_dup_docs,
               ((sum(n) - count(*))::DOUBLE / sum(n)::DOUBLE) AS dup_ratio,
               max(n)::BIGINT AS max_group_size,
               sum(CASE WHEN n = 1 THEN 1 ELSE 0 END)::BIGINT
                   AS n_singleton_groups
        FROM sizes
    """


def dedup_size_histogram(documents: DataFrame) -> DataFrame:
    """(group_size, n_groups) — the exact-duplicate group-size
    distribution: the shape that decides whether mirror skew needs
    special handling downstream (a 10⁸-mirror boilerplate page shows up
    here as one row with a huge ``group_size`` long before it can
    straggle a join). Two hash aggregates, both map-side combinable."""
    key = F.coalesce(F.md5("text"), F.lit("<null>"))
    return (
        documents.groupBy(key.alias("text_fp"))
        .agg(F.count(F.lit(1)).cast("long").alias("group_size"))
        .groupBy("group_size")
        .agg(F.count(F.lit(1)).cast("long").alias("n_groups"))
    )


def dedup_size_histogram_sql() -> str:
    return """
        WITH sizes AS (
            SELECT coalesce(md5(text), '<null>') AS text_fp,
                   count(*)::BIGINT AS group_size
            FROM documents GROUP BY 1
        )
        SELECT group_size, count(*)::BIGINT AS n_groups
        FROM sizes GROUP BY group_size
    """


def source_stats(documents: DataFrame) -> DataFrame:
    """Per-source (per-domain analogue) corpus rollup: doc counts,
    exact-dup mass, text volume, language spread. One hash aggregate on
    the source key; ``count(DISTINCT)`` is Spark's two-phase
    partial-distinct expansion (no driver state). ``dup_ratio`` is one
    exact-integer division."""
    fp = F.coalesce(F.md5("text"), F.lit("<null>"))
    n_docs = F.count(F.lit(1))
    n_unique = F.countDistinct(fp)
    return documents.groupBy("source").agg(
        n_docs.cast("long").alias("n_docs"),
        n_unique.cast("long").alias("n_unique_texts"),
        (n_docs - n_unique).cast("long").alias("n_dup_docs"),
        ((n_docs - n_unique) / n_docs).cast("double").alias("dup_ratio"),
        F.sum("n_chars").cast("long").alias("n_chars_total"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
    )


def source_stats_sql() -> str:
    return """
        SELECT source,
               count(*)::BIGINT AS n_docs,
               count(DISTINCT coalesce(md5(text), '<null>'))::BIGINT
                   AS n_unique_texts,
               (count(*) - count(DISTINCT coalesce(md5(text), '<null>')))::BIGINT
                   AS n_dup_docs,
               ((count(*) - count(DISTINCT coalesce(md5(text), '<null>')))::DOUBLE
                   / count(*)::DOUBLE) AS dup_ratio,
               sum(n_chars)::BIGINT AS n_chars_total,
               count(DISTINCT lang)::BIGINT AS n_langs
        FROM documents GROUP BY source
    """


# --------------------------------------------------------------------------
# URL canonicalization dedup (Common-Crawl pipeline staple)
# --------------------------------------------------------------------------

#: query params dropped by the canonicalizer (tracking/session noise).
#: Anchored, letters/digits only — Java regex (Spark rlike) and RE2
#: (DuckDB regexp_matches) evaluate it identically.
TRACKING_PARAM_RE = r"^(utm_[a-z0-9]+|gclid|fbclid|msclkid|ref)="


def canonical_url(url):
    """Frozen URL canonicalization spec (a dedup KEY, not a display
    form), each rule expressible identically in Java regex and RE2:

    1. lowercase the whole url (aggressive: paths too — dedup keys favor
       recall; byte-exact originals stay in the row)
    2. strip the ``#fragment``
    3. strip a leading ``www.`` after the scheme
    4. strip explicit default ports ``:80`` / ``:443``
    5. drop tracking query params (:data:`TRACKING_PARAM_RE`), sort the
       survivors byte-lexicographically, rejoin with ``&``
    6. strip trailing ``/`` from the path

    All JVM built-ins (regexp_replace / split / filter / array_sort) —
    map-only, whole-stage codegen, no Python in the hot path."""
    u = F.lower(url)
    u = F.regexp_replace(u, r"#.*$", "")
    u = F.regexp_replace(u, r"^(https?://)www\.", "$1")
    u = F.regexp_replace(u, r":(80|443)(/|\?|$)", "$2")
    qpos = F.locate("?", u)
    base = F.regexp_replace(F.substring_index(u, "?", 1), "/+$", "")
    query = F.when(qpos > 0, F.substr(u, qpos + F.lit(1))).otherwise(F.lit(""))
    params = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_RE),
        )
    )
    return F.concat(
        base,
        F.when(
            F.size(params) > 0, F.concat(F.lit("?"), F.array_join(params, "&"))
        ).otherwise(F.lit("")),
    )


def url_dedup_groups(pages: DataFrame, url_col: str = "url") -> DataFrame:
    """(canonical_url, n_urls, min_url) — exact dedup on the canonical
    URL key: the cheap pre-pass every web pipeline runs before content
    hashing (same page fetched under utm-decorated / www / default-port
    variants). Map-only canonicalization + one hash aggregate."""
    return pages.groupBy(canonical_url(F.col(url_col)).alias("canonical_url")).agg(
        F.count(F.lit(1)).cast("long").alias("n_urls"),
        F.min(url_col).alias("min_url"),
    )


def documents_with_urls(documents: DataFrame) -> DataFrame:
    """Deterministic synthetic url per doc (the testdata documents table
    carries no url column): doc_id residues vary case, ``www.``,
    explicit default port, tracking params, query-param order, trailing
    slash and fragments, so every canonicalizer rule is exercised;
    ``doc_id % 229`` plants genuine collision groups. The SQL twin
    (:func:`url_dedup_groups_sql`) builds the identical strings."""
    d = F.col("doc_id")
    scheme = (
        F.when(d % 4 == 0, F.lit("https://www."))
        .when(d % 4 == 1, F.lit("HTTPS://"))
        .when(d % 4 == 2, F.lit("https://"))
        .otherwise(F.lit("https://WWW."))
    )
    port = F.when(d % 5 == 0, F.lit(":443")).otherwise(F.lit(""))
    tail = (
        F.when(d % 3 == 0, F.lit("/?a=1&b=2"))
        .when(d % 3 == 1, F.lit("/?b=2&utm_source=rss&a=1"))
        .otherwise(F.lit("/"))
    )
    frag = F.when(d % 7 == 0, F.lit("#frag")).otherwise(F.lit(""))
    url = F.concat(
        scheme,
        F.col("source"),
        F.lit(".example.com"),
        port,
        F.lit("/Docs/"),
        (d % 229).cast("string"),
        tail,
        frag,
    )
    return documents.select("doc_id", url.alias("url"))


_SYNTH_URL_SQL = """
    (CASE doc_id % 4 WHEN 0 THEN 'https://www.' WHEN 1 THEN 'HTTPS://'
          WHEN 2 THEN 'https://' ELSE 'https://WWW.' END)
    || source || '.example.com'
    || (CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END)
    || '/Docs/' || (doc_id % 229)::VARCHAR
    || (CASE doc_id % 3 WHEN 0 THEN '/?a=1&b=2'
             WHEN 1 THEN '/?b=2&utm_source=rss&a=1' ELSE '/' END)
    || (CASE WHEN doc_id % 7 = 0 THEN '#frag' ELSE '' END)
"""


def _canon_ctes_sql(
    url_expr: str,
    extra: dict[str, str] | None = None,
    from_sql: str = "documents",
) -> str:
    """Shared DuckDB CTE chain ``pages → lowered → split → canon``
    implementing the frozen canonicalization spec; ``extra`` maps output
    column names to expressions over ``from_sql`` carried alongside the
    url through every stage (used by :func:`latest_snapshot_sql`)."""
    sel_extra = "".join(f", {e} AS {c}" for c, e in (extra or {}).items())
    carry = "".join(f", {c}" for c in (extra or {}))
    return f"""
        pages AS (
            SELECT {url_expr} AS url{sel_extra} FROM {from_sql}
        ),
        lowered AS (
            SELECT url{carry},
                   regexp_replace(
                       regexp_replace(
                           regexp_replace(lower(url), '#.*$', ''),
                           '^(https?://)www\\.', '\\1'),
                       ':(80|443)(/|\\?|$)', '\\2') AS u
            FROM pages
        ),
        split AS (
            SELECT url{carry},
                   regexp_replace(
                       CASE WHEN strpos(u, '?') > 0
                            THEN substr(u, 1, strpos(u, '?') - 1)
                            ELSE u END, '/+$', '') AS base,
                   CASE WHEN strpos(u, '?') > 0
                        THEN substr(u, strpos(u, '?') + 1)
                        ELSE '' END AS q
            FROM lowered
        ),
        canon AS (
            SELECT url{carry},
                   base || CASE WHEN len(params) > 0
                                THEN '?' || array_to_string(params, '&')
                                ELSE '' END AS canonical_url
            FROM (
                SELECT url{carry}, base,
                       list_sort(list_filter(string_split(q, '&'),
                           p -> p <> '' AND NOT regexp_matches(p,
                               '{TRACKING_PARAM_RE}')))
                           AS params
                FROM split
            )
        )"""


def url_dedup_groups_sql(url_expr: str | None = None) -> str:
    """DuckDB twin of :func:`url_dedup_groups` over
    :func:`documents_with_urls`-shaped input. ``url_expr`` defaults to
    the synthetic url builder; pass a column name to run the
    canonicalizer over a real url column (the parity test does)."""
    url_expr = url_expr or _SYNTH_URL_SQL
    return f"""
        WITH {_canon_ctes_sql(url_expr)}
        SELECT canonical_url,
               count(*)::BIGINT AS n_urls,
               min(url) AS min_url
        FROM canon GROUP BY canonical_url
    """



#: corpus epoch for the deterministic capture timestamps
#: (2025-03-14T00:00:00Z as epoch seconds — BIGINT, engine-neutral: no
#: timezone semantics can leak into the hash compare)
SNAPSHOT_EPOCH = 1741910400


#: re-crawl offset planted on the ``doc_id % 3 == 0`` slice (seconds)
SNAPSHOT_RECRAWL_OFF = 1_000_000


def documents_with_snapshots(documents: DataFrame) -> DataFrame:
    """(doc_id, url, warc_ts) — the :func:`documents_with_urls`
    derivation plus deterministic capture timestamps: every doc is
    captured at ``epoch + doc_id``, and the ``doc_id % 3 == 0`` slice is
    RE-crawled :data:`SNAPSHOT_RECRAWL_OFF` seconds later (same url,
    later timestamp) — so the latest-capture choice is exercised on
    genuine multi-capture groups and stays unambiguous (all timestamps
    distinct) in both engines."""
    offs = F.when(
        F.col("doc_id") % 3 == 0,
        F.array(F.lit(0), F.lit(SNAPSHOT_RECRAWL_OFF)),
    ).otherwise(F.array(F.lit(0)))
    # explode is a generator — it gets its own projection, the timestamp
    # arithmetic a second one (generators can't nest in expressions)
    return (
        documents_with_urls(documents)
        .select("doc_id", "url", F.explode(offs).alias("_off"))
        .select(
            "doc_id",
            "url",
            (F.lit(SNAPSHOT_EPOCH) + F.col("doc_id") + F.col("_off"))
            .cast("long")
            .alias("warc_ts"),
        )
    )


def latest_snapshot(
    pages: DataFrame, url_col: str = "url", ts_col: str = "warc_ts"
) -> DataFrame:
    """(canonical_url, n_captures, latest_ts, latest_url) — re-crawl
    collapse: Common-Crawl captures the same page in snapshot after
    snapshot; a training pipeline keeps ONE capture per canonical url,
    the newest. Key = the frozen :func:`canonical_url` spec, so scheme
    case / tracking params / fragments don't split a page's history.

    Scale shape: ONE map-side-combinable hash aggregate on the canonical
    key — no window, no sort. A hot page with 10^6 recaptures collapses
    to one partial per map task before the shuffle (``max`` over a
    (ts, url) struct is associative; ties on ts break by larger url,
    deterministic in one pass — the formulation ``max_by`` can't
    guarantee under ties).
    """
    canon = canonical_url(F.col(url_col))
    latest = F.max(
        F.struct(F.col(ts_col).alias("ts"), F.col(url_col).alias("u"))
    )
    return (
        pages.groupBy(canon.alias("canonical_url"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_captures"),
            latest.alias("_m"),
        )
        .select(
            "canonical_url",
            "n_captures",
            F.col("_m.ts").alias("latest_ts"),
            F.col("_m.u").alias("latest_url"),
        )
    )


def latest_snapshot_sql(
    url_expr: str | None = None, ts_expr: str | None = None
) -> str:
    """DuckDB twin of :func:`latest_snapshot` over
    :func:`documents_with_snapshots`-shaped input (unique timestamps, so
    ``arg_max(url, warc_ts)`` needs no tie rule)."""
    url_expr = url_expr or _SYNTH_URL_SQL
    ts_expr = ts_expr or f"({SNAPSHOT_EPOCH} + doc_id + off)::BIGINT"
    from_sql = (
        "(SELECT doc_id, source, unnest(CASE WHEN doc_id % 3 = 0 "
        f"THEN [0, {SNAPSHOT_RECRAWL_OFF}] ELSE [0] END) AS off "
        "FROM documents)"
    )
    ctes = _canon_ctes_sql(url_expr, {"warc_ts": ts_expr}, from_sql=from_sql)
    return f"""
        WITH {ctes}
        SELECT canonical_url,
               count(*)::BIGINT AS n_captures,
               max(warc_ts)::BIGINT AS latest_ts,
               arg_max(url, warc_ts) AS latest_url
        FROM canon GROUP BY canonical_url
    """



# --------------------------------------------------------------------------
# Deterministic hash sampling (reproducible training-mix rates)
# --------------------------------------------------------------------------

#: default per-stratum sampling rates for :func:`stratified_sample`
#: (training-mix weights by language; frozen for the driver query)
SAMPLE_RATES = {"en": 0.5, "de": 0.25, "fr": 0.25, "es": 0.25}
SAMPLE_DEFAULT_RATE = 0.1


def _hex_threshold(rate: float) -> str:
    """Map a rate in [0, 1] to the 8-hex-digit threshold such that
    ``substr(md5(key), 1, 8) < threshold`` keeps that fraction of a
    uniform hash space. Lowercase-hex string comparison is
    order-identical to the numeric comparison (both engines emit
    lowercase md5), so no hex→int conversion has to agree across
    engines. rate >= 1 returns 'g' (> every hex digit: keep all)."""
    if rate >= 1.0:
        return "g"
    return format(max(int(rate * 16**8), 0), "08x")


def stratified_sample(
    documents: DataFrame,
    rates: dict[str, float] | None = None,
    default_rate: float = SAMPLE_DEFAULT_RATE,
    stratum_col: str = "lang",
    salt: str = "s0",
) -> DataFrame:
    """(doc_id, stratum, bucket, keep) — DETERMINISTIC stratified
    sampling, the reproducible data-mixing primitive: each doc's keep
    decision is ``substr(md5(salt || doc_id), 1, 8) < threshold(rate)``
    with a per-stratum rate (language weights in a training mix). Hash
    sampling beats rand() at scale because the decision is a pure
    function of (salt, doc_id): re-runs, resumed jobs, and different
    partitionings all draw the SAME sample, and independent draws come
    from changing ``salt`` — no RNG state, no seed-per-partition
    coupling, no driver coordination. Map-only, zero shuffle.

    The full decision table (kept AND dropped) is returned so the
    oracle value-checks every decision, not just the survivor count.
    """
    rates = SAMPLE_RATES if rates is None else rates
    bucket = F.substring(
        F.md5(F.concat(F.lit(salt), F.col("doc_id").cast("string"))), 1, 8
    )
    thr = F.lit(_hex_threshold(default_rate))
    for stratum, rate in sorted(rates.items()):
        thr = F.when(
            F.col(stratum_col) == stratum, F.lit(_hex_threshold(rate))
        ).otherwise(thr)
    return documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col(stratum_col).alias("stratum"),
        bucket.alias("bucket"),
        (bucket < thr).alias("keep"),
    )


def stratified_sample_sql(
    rates: dict[str, float] | None = None,
    default_rate: float = SAMPLE_DEFAULT_RATE,
    stratum_col: str = "lang",
    salt: str = "s0",
) -> str:
    """DuckDB twin of :func:`stratified_sample` (same md5 bucket, same
    frozen hex thresholds, same lexicographic comparison)."""
    rates = SAMPLE_RATES if rates is None else rates
    cases = "".join(
        f"WHEN '{k}' THEN '{_hex_threshold(v)}' "
        for k, v in sorted(rates.items())
    )
    return f"""
        SELECT doc_id::BIGINT AS doc_id,
               {stratum_col} AS stratum,
               substr(md5('{salt}' || doc_id::VARCHAR), 1, 8) AS bucket,
               substr(md5('{salt}' || doc_id::VARCHAR), 1, 8)
                   < (CASE {stratum_col} {cases}
                      ELSE '{_hex_threshold(default_rate)}' END) AS keep
        FROM documents
    """


# --------------------------------------------------------------------------
# Training-mix token-budget planner
# --------------------------------------------------------------------------

#: frozen driver-query mix: total token budget and per-language weights
#: in parts-per-million (sums to 1_000_000). 20k tokens against the
#: ~28k-token test corpora puts `en` in the under-supplied regime
#: (epochs > 1, shortfall > 0) and the others in the over-supplied one
#: (keep_rate < 1), so both planner branches are value-checked.
MIX_BUDGET_TOKENS = 20_000
MIX_WEIGHTS_PPM = {
    "en": 600_000, "de": 120_000, "fr": 120_000,
    "es": 100_000, "zh": 60_000,
}


def mix_plan(
    documents: DataFrame,
    budget_tokens: int = MIX_BUDGET_TOKENS,
    weights_ppm: dict[str, int] | None = None,
    default_ppm: int = 0,
    stratum_col: str = "lang",
    _tok: DataFrame | None = None,
) -> DataFrame:
    """Token-budget training-mix planner: given a total token budget and
    per-stratum mix weights (parts-per-million — integer weights keep
    every target exactly computable, no float accumulation), emit one
    row per observed stratum with everything a sampling pass needs:

    - ``n_docs`` / ``available_tokens`` — corpus supply (frozen
      whitespace-token spec, same as :func:`~jam_spark.ops.text.token_counts`)
    - ``target_tokens``  = floor(budget * ppm / 1e6), exact integer
    - ``planned_tokens`` = min(target, available); ``shortfall_tokens``
      = max(target - available, 0) — the under-supplied remainder that
      only repeating data can fill
    - ``epochs`` = ceil(target / available): how many passes over the
      stratum the budget demands (1 = subsample, >1 = repeat, 0 = drop)
    - ``keep_rate`` — per-epoch document keep fraction (token-mass and
      doc sampling agree in expectation under doc-iid hash sampling)
    - ``sample_threshold`` — the 8-hex-digit md5 threshold realising
      ``keep_rate`` under :func:`stratified_sample`'s decision rule
      ``substr(md5(salt || doc_id), 1, 8) < threshold``, so the plan
      output IS the sampler's config: feed it straight back in.

    Scale shape (100 TB): one map-only token count folded into the scan,
    one map-side-combinable groupBy on a low-cardinality stratum key,
    then constant-width per-stratum arithmetic — a single shuffle of
    (n_strata x cores) partial rows, no data-sized exchange anywhere.
    All cross-engine-checked columns are BIGINT or single IEEE-754
    divisions of exact integers (deterministic, hash-stable).
    """
    weights_ppm = MIX_WEIGHTS_PPM if weights_ppm is None else weights_ppm
    ppm = F.lit(default_ppm).cast("long")
    tgt = F.lit(budget_tokens * default_ppm // 1_000_000).cast("long")
    for stratum, w in sorted(weights_ppm.items()):
        hit = F.col("stratum") == stratum
        ppm = F.when(hit, F.lit(w).cast("long")).otherwise(ppm)
        tgt = F.when(
            hit, F.lit(budget_tokens * w // 1_000_000).cast("long")
        ).otherwise(tgt)
    # _tok: an already-derived (stratum, n_tokens) frame — mix_report
    # passes its persisted decision frame so the corpus is scanned and
    # tokenized ONCE instead of twice (supply pass + decision pass)
    tok = (
        _tok
        if _tok is not None
        else documents.select(
            F.col(stratum_col).alias("stratum"),
            F.size(_tokens_col()).cast("long").alias("n_tokens"),
        )
    )
    agg = (
        tok.select("stratum", "n_tokens")
        .groupBy("stratum")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("available_tokens"),
        )
        .select("*", ppm.alias("weight_ppm"), tgt.alias("target_tokens"))
    )
    avail, target = F.col("available_tokens"), F.col("target_tokens")
    rate = (
        F.when(avail == 0, F.lit(0.0))
        .when(target >= avail, F.lit(1.0))
        .otherwise(target.cast("double") / avail.cast("double"))
    )
    return agg.select(
        "stratum", "weight_ppm", "n_docs", "available_tokens",
        "target_tokens",
        F.least(target, avail).cast("long").alias("planned_tokens"),
        F.greatest(target - avail, F.lit(0)).cast("long")
        .alias("shortfall_tokens"),
        F.when(avail == 0, F.lit(0))
        .otherwise(F.floor((target + avail - 1) / avail))
        .cast("long").alias("epochs"),
        rate.alias("keep_rate"),
        F.when(rate >= 1.0, F.lit("g"))
        .otherwise(
            F.lpad(
                F.lower(F.hex(F.floor(rate * F.lit(float(16**8))))),
                8, "0",
            )
        ).alias("sample_threshold"),
    )


def mix_plan_sql(
    budget_tokens: int = MIX_BUDGET_TOKENS,
    weights_ppm: dict[str, int] | None = None,
    default_ppm: int = 0,
    stratum_col: str = "lang",
) -> str:
    """DuckDB twin of :func:`mix_plan`: same frozen token spec, same
    python-side-constant integer targets, same single IEEE divisions."""
    weights_ppm = MIX_WEIGHTS_PPM if weights_ppm is None else weights_ppm
    ppm_cases = "".join(
        f"WHEN '{k}' THEN {v}::BIGINT "
        for k, v in sorted(weights_ppm.items())
    )
    tgt_cases = "".join(
        f"WHEN '{k}' THEN {budget_tokens * v // 1_000_000}::BIGINT "
        for k, v in sorted(weights_ppm.items())
    )
    default_tgt = budget_tokens * default_ppm // 1_000_000
    return f"""
        WITH agg AS (
          SELECT {stratum_col} AS stratum,
                 count(*)::BIGINT AS n_docs,
                 sum(len({_TOKENS}))::BIGINT AS available_tokens,
                 (CASE {stratum_col} {ppm_cases}
                  ELSE {default_ppm}::BIGINT END) AS weight_ppm,
                 (CASE {stratum_col} {tgt_cases}
                  ELSE {default_tgt}::BIGINT END) AS target_tokens
          FROM documents GROUP BY 1, 4, 5
        ),
        rated AS (
          SELECT *,
                 (CASE WHEN available_tokens = 0 THEN 0.0
                       WHEN target_tokens >= available_tokens THEN 1.0
                       ELSE target_tokens::DOUBLE / available_tokens::DOUBLE
                  END) AS keep_rate
          FROM agg
        )
        SELECT stratum, weight_ppm, n_docs, available_tokens,
               target_tokens,
               least(target_tokens, available_tokens)::BIGINT
                   AS planned_tokens,
               greatest(target_tokens - available_tokens, 0)::BIGINT
                   AS shortfall_tokens,
               (CASE WHEN available_tokens = 0 THEN 0
                     ELSE floor((target_tokens + available_tokens - 1)
                                / available_tokens) END)::BIGINT AS epochs,
               keep_rate,
               (CASE WHEN keep_rate >= 1.0 THEN 'g'
                     ELSE lpad(lower(to_hex(floor(keep_rate * {16**8}.0)
                                            ::BIGINT)), 8, '0')
                END) AS sample_threshold
        FROM rated
    """


def mix_report(
    documents: DataFrame,
    budget_tokens: int = MIX_BUDGET_TOKENS,
    weights_ppm: dict[str, int] | None = None,
    default_ppm: int = 0,
    stratum_col: str = "lang",
    salt: str = "s0",
) -> DataFrame:
    """Plan → sample → audit, end to end: apply :func:`mix_plan`'s
    per-stratum ``sample_threshold`` to every document under
    :func:`stratified_sample`'s decision rule (``substr(md5(salt ||
    doc_id), 1, 8) < threshold``) and report, per stratum, what the
    realised sample actually delivers against the plan:

    - ``kept_docs`` / ``achieved_tokens`` — what the hash sample drew
    - ``planned_tokens`` — the planner's single-epoch expectation
    - ``achieved_ratio`` — achieved / target (sampling is doc-iid on
      token mass, so this audits both the threshold math and the
      binomial wobble a real mix run ships with)

    Scale shape (100 TB): the plan side is a handful of rows — it is
    BROADCAST to the per-doc decision join (no shuffle of the corpus);
    the audit is then one map-side-combinable groupBy on the stratum
    key. The corpus is scanned and tokenized ONCE: the (stratum,
    n_tokens, bucket) frame is persisted and feeds both the planner's
    supply aggregate and the per-doc decision join (r6 — previously two
    full passes); callers with an already-materialised plan can sample
    with :func:`stratified_sample` directly.
    """
    bucket = F.substring(
        F.md5(F.concat(F.lit(salt), F.col("doc_id").cast("string"))), 1, 8
    )
    # ONE scan+tokenize pass, persisted: the planner's supply aggregate
    # and the per-doc decision join both read this frame (previously
    # two full passes — r6; released by the per-query release_all)
    docs = track(
        documents.select(
            F.col(stratum_col).alias("stratum"),
            F.size(_tokens_col()).cast("long").alias("n_tokens"),
            bucket.alias("bucket"),
        )
    )
    plan = mix_plan(
        documents, budget_tokens=budget_tokens, weights_ppm=weights_ppm,
        default_ppm=default_ppm, stratum_col=stratum_col, _tok=docs,
    )
    kept = F.col("bucket") < F.col("sample_threshold")
    achieved, target = F.col("achieved_tokens"), F.col("target_tokens")
    return (
        docs.join(F.broadcast(plan), "stratum")
        .groupBy(
            "stratum", "target_tokens", "planned_tokens", "keep_rate"
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(kept.cast("long")).cast("long").alias("kept_docs"),
            F.sum(F.when(kept, F.col("n_tokens")).otherwise(F.lit(0)))
            .cast("long").alias("achieved_tokens"),
        )
        .select(
            "stratum", "n_docs", "kept_docs", "target_tokens",
            "planned_tokens", "achieved_tokens", "keep_rate",
            F.when(target == 0, F.lit(0.0))
            .otherwise(achieved.cast("double") / target.cast("double"))
            .alias("achieved_ratio"),
        )
    )


def mix_report_sql(
    budget_tokens: int = MIX_BUDGET_TOKENS,
    weights_ppm: dict[str, int] | None = None,
    default_ppm: int = 0,
    stratum_col: str = "lang",
    salt: str = "s0",
) -> str:
    """DuckDB twin of :func:`mix_report` (plan CTE = the mix_plan twin;
    identical md5 bucket rule and integer-exact audit aggregates)."""
    plan = mix_plan_sql(
        budget_tokens=budget_tokens, weights_ppm=weights_ppm,
        default_ppm=default_ppm, stratum_col=stratum_col,
    )
    return f"""
        WITH plan AS ({plan}),
        decided AS (
          SELECT d.{stratum_col} AS stratum,
                 len({_TOKENS}) AS n_tokens,
                 p.target_tokens, p.planned_tokens, p.keep_rate,
                 (substr(md5('{salt}' || d.doc_id::VARCHAR), 1, 8)
                      < p.sample_threshold) AS kept
          FROM documents d JOIN plan p ON p.stratum = d.{stratum_col}
        )
        SELECT stratum,
               count(*)::BIGINT AS n_docs,
               sum(CASE WHEN kept THEN 1 ELSE 0 END)::BIGINT AS kept_docs,
               target_tokens, planned_tokens,
               sum(CASE WHEN kept THEN n_tokens ELSE 0 END)::BIGINT
                   AS achieved_tokens,
               keep_rate,
               (CASE WHEN target_tokens = 0 THEN 0.0
                     ELSE sum(CASE WHEN kept THEN n_tokens ELSE 0 END)
                          ::DOUBLE / target_tokens::DOUBLE END)
                   AS achieved_ratio
        FROM decided
        GROUP BY stratum, target_tokens, planned_tokens, keep_rate
    """


# --------------------------------------------------------------------------
# Corpus-level line dedup (CCNet / C4 / RefinedWeb boilerplate removal)
# --------------------------------------------------------------------------

#: minimum TRIMMED line length (chars) for a line to participate in
#: corpus-level dedup. Shorter lines ("", "*", "1.") are structural —
#: removing them would shred lists and code — so they are always kept.
LINE_DEDUP_MIN_LEN = 10

_COOKIE_FOOTER = (
    "cookie notice: this site uses cookies to improve your experience"
)
_LEGAL_FOOTER = "all rights reserved - terms of service - privacy policy"


def documents_with_lines(documents: DataFrame) -> DataFrame:
    """Deterministic newline-structured corpus derived from the flat
    testdata documents (whose text is one long space-separated line, so
    line-level dedup would be vacuous on it): every 8th space becomes a
    newline, and shared boilerplate footer lines are appended to
    deterministic doc slices (``doc_id % 3 == 0`` → cookie banner,
    ``doc_id % 5 == 0`` → legal footer) so the corpus-duplicate-line set
    is non-trivial. The SQL twins build byte-identical strings, keeping
    :func:`line_dedup` / :func:`boilerplate_lines` value-checked
    end-to-end (same pattern as :func:`documents_with_urls`)."""
    d = F.col("doc_id")
    wrapped = F.regexp_replace(
        F.coalesce("text", F.lit("")), r"((?:\S+ ){7}\S+) ", "$1\n"
    )
    cookie = F.when(d % 3 == 0, F.lit("\n" + _COOKIE_FOOTER)).otherwise(
        F.lit("")
    )
    legal = F.when(d % 5 == 0, F.lit("\n" + _LEGAL_FOOTER)).otherwise(
        F.lit("")
    )
    return documents.select(
        "doc_id", F.concat(wrapped, cookie, legal).alias("text")
    )


#: DuckDB twin of :func:`documents_with_lines`'s text expression. RE2's
#: replacement backref is ``\1`` (Java's is ``$1``); both engines scan
#: left-to-right and resume after each non-overlapping match, so the
#: wrapped strings are byte-identical.
_SYNTH_LINES_SQL = rf"""
    regexp_replace(coalesce(text, ''), '((?:\S+ ){{7}}\S+) ',
                   '\1' || chr(10), 'g')
    || (CASE WHEN doc_id % 3 = 0
             THEN chr(10) || '{_COOKIE_FOOTER}' ELSE '' END)
    || (CASE WHEN doc_id % 5 = 0
             THEN chr(10) || '{_LEGAL_FOOTER}' ELSE '' END)
"""


def _corpus_lines(documents: DataFrame) -> DataFrame:
    """(doc_id, pos, line): posexplode on newline split. ``coalesce`` to
    '' keeps NULL-text docs (one empty line) so every doc_id survives
    the per-doc reassembly groupBy. Spark's regex split with default
    limit -1 keeps trailing empties — byte-parity with DuckDB's
    string_split."""
    return ensure_scan_parallelism(documents).select(
        "doc_id",
        F.posexplode(F.split(F.coalesce("text", F.lit("")), "\n")).alias(
            "pos", "line"
        ),
    )


def line_dedup(
    documents: DataFrame, min_len: int = LINE_DEDUP_MIN_LEN
) -> DataFrame:
    """(doc_id, n_lines, n_removed_lines, removed_char_frac, clean_fp) —
    corpus-LEVEL duplicate-line removal, the CCNet/C4/RefinedWeb
    boilerplate pass (distinct from :func:`~jam_spark.ops.text.
    repetition_profile`, which is within-document): a line whose trimmed
    length is >= ``min_len`` and which occurs more than once across the
    WHOLE corpus (within-doc repeats count, as in CCNet's shard-hash
    pass) is removed from every document; the cleaned text is reassembled
    in original line order and fingerprinted (``clean_fp = md5``), which
    keeps the result narrow while still proving byte-identical
    reconstruction against the oracle.

    Scale shape (the plan that survives 100 TB):

    - duplicate-line set: one hash aggregate on ``md5(line)`` — map-side
      combine collapses a 10^8-mirror boilerplate line to one partial
      per task before the shuffle; only keys with count > 1 survive
      (``HAVING``), so the build side of the next join is the DUP set,
      not the line vocabulary.
    - flagging: keyed shuffle join lines->dup_set on the 128-bit md5.
      The dup side has exactly ONE row per key, so a hot boilerplate key
      is N x 1 — AQE skew-split handles it without salting.
    - reassembly: one groupBy(doc_id) with collect_list(struct(pos,
      line)) + array_sort; per-group state is one document's own lines
      (bounded by max doc size, not corpus size).

    No window functions, no driver-side state, three shuffles total.
    """
    # ONE scan+split+explode, persisted: the duplicate-line aggregate
    # and the flagging join both read this frame (previously the
    # explode subtree was planned twice — r6 materialize-once, same
    # move as the gram postings; released by the per-query release_all)
    lines = track(_corpus_lines(documents))
    eligible = F.length(F.trim(F.col("line"))) >= min_len
    dup_set = (
        lines.where(eligible)
        .groupBy(F.md5("line").alias("h"))
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") > 1)
        .select("h")
    )
    flagged = (
        lines.join(
            dup_set.withColumn("is_dup", F.lit(True)),
            F.md5(lines["line"]) == dup_set["h"],
            "left",
        )
        .withColumn("rm", eligible & F.coalesce("is_dup", F.lit(False)))
        .select("doc_id", "pos", "line", "rm")
    )
    kept = F.when(~F.col("rm"), F.struct("pos", "line"))
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(F.col("rm").cast("long")).cast("long").alias("n_removed_lines"),
        F.when(
            F.sum(F.length("line")) > 0,
            F.sum(F.when(F.col("rm"), F.length("line")).otherwise(F.lit(0)))
            .cast("double")
            / F.sum(F.length("line")).cast("double"),
        )
        .otherwise(F.lit(0.0))
        .cast("double")
        .alias("removed_char_frac"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept)), lambda s: s["line"]
                ),
                "\n",
            )
        ).alias("clean_fp"),
    )


def line_dedup_sql(
    min_len: int = LINE_DEDUP_MIN_LEN, text_expr: str | None = None
) -> str:
    """DuckDB twin of :func:`line_dedup`. ``text_expr`` defaults to the
    :func:`documents_with_lines` synthetic builder (the flat testdata
    text has no newlines); pass ``"text"`` to run over a real
    newline-structured corpus (the parity test does). ``string_agg(...
    ORDER BY pos)`` skips the NULLed-out removed lines, exactly like
    Spark's null-skipping ``collect_list``; an all-removed doc coalesces
    to md5('')."""
    text_expr = text_expr or _SYNTH_LINES_SQL
    return f"""
        WITH ex AS (
            SELECT doc_id,
                   string_split(coalesce({text_expr}, ''), chr(10)) AS ls
            FROM documents),
        lines AS (
            SELECT doc_id, unnest(ls) AS line, unnest(range(len(ls))) AS pos
            FROM ex),
        dup AS (
            SELECT md5(line) AS h FROM lines
            WHERE length(trim(line)) >= {min_len}
            GROUP BY 1 HAVING count(*) > 1),
        flagged AS (
            SELECT l.doc_id, l.pos, l.line,
                   (length(trim(l.line)) >= {min_len}
                    AND d.h IS NOT NULL) AS rm
            FROM lines l LEFT JOIN dup d ON md5(l.line) = d.h)
        SELECT doc_id,
               count(*)::BIGINT AS n_lines,
               sum(CASE WHEN rm THEN 1 ELSE 0 END)::BIGINT AS n_removed_lines,
               CASE WHEN sum(length(line)) > 0
                    THEN sum(CASE WHEN rm THEN length(line) ELSE 0 END)::DOUBLE
                         / sum(length(line))::DOUBLE
                    ELSE 0.0 END AS removed_char_frac,
               md5(coalesce(string_agg(CASE WHEN rm THEN NULL ELSE line END,
                                       chr(10) ORDER BY pos), '')) AS clean_fp
        FROM flagged GROUP BY doc_id
    """


def boilerplate_lines(
    documents: DataFrame,
    min_len: int = LINE_DEDUP_MIN_LEN,
    min_docs: int = 2,
) -> DataFrame:
    """(line, n_docs, n_occurrences) — the corpus boilerplate report:
    every eligible line that appears in >= ``min_docs`` DISTINCT
    documents, with its document reach and total occurrence count. This
    is the audit view a pipeline operator reads before trusting
    :func:`line_dedup`'s removals (nav bars, cookie banners, footer
    legalese all surface here).

    One hash aggregate on the line string (the output key, so hashing
    it away would only add a join back); ``count(DISTINCT doc_id)`` is
    Spark's two-phase partial-distinct expansion — no driver state, and
    the expand shuffle carries only eligible lines."""
    lines = _corpus_lines(documents)
    return (
        lines.where(F.length(F.trim(F.col("line"))) >= min_len)
        .groupBy("line")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
        )
        .where(F.col("n_docs") >= min_docs)
    )


def boilerplate_lines_sql(
    min_len: int = LINE_DEDUP_MIN_LEN,
    min_docs: int = 2,
    text_expr: str | None = None,
) -> str:
    """DuckDB twin of :func:`boilerplate_lines`; ``text_expr`` as in
    :func:`line_dedup_sql`."""
    text_expr = text_expr or _SYNTH_LINES_SQL
    return f"""
        WITH ex AS (
            SELECT doc_id,
                   string_split(coalesce({text_expr}, ''), chr(10)) AS ls
            FROM documents),
        lines AS (
            SELECT doc_id, unnest(ls) AS line FROM ex)
        SELECT line,
               count(DISTINCT doc_id)::BIGINT AS n_docs,
               count(*)::BIGINT AS n_occurrences
        FROM lines
        WHERE length(trim(line)) >= {min_len}
        GROUP BY line
        HAVING count(DISTINCT doc_id) >= {min_docs}
    """


# --------------------------------------------------------------------------
# Token-balanced output shards (the training-mix sink step)
# --------------------------------------------------------------------------

#: frozen driver-query shard size: small enough that the ~28k-token test
#: corpus spans several shards (boundary logic value-checked), large
#: enough that most shards hold many documents.
SHARD_TOKENS = 4_000
SHARD_SALT = "shard0"


def shard_plan(
    documents: DataFrame,
    tokens_per_shard: int = SHARD_TOKENS,
    salt: str = SHARD_SALT,
    num_partitions: int | None = None,
) -> DataFrame:
    """(doc_id, bucket, n_tokens, start_offset, shard_id) — assign every
    document to a fixed-token-budget output shard, the last step before
    a training run: writers consume the plan with
    ``.write.partitionBy("shard_id")`` and each shard lands within one
    document of ``tokens_per_shard`` tokens.

    Semantics (exactly what the SQL twin computes): order docs by the
    deterministic hash key ``substr(md5(salt || doc_id), 1, 8)`` (ties by
    doc_id) — a reproducible global shuffle, so consecutive docs in a
    shard are unrelated — then ``start_offset`` = exclusive prefix sum of
    ``n_tokens`` (frozen whitespace-token spec, same as token_counts) in
    that order, and ``shard_id = start_offset DIV tokens_per_shard``.
    A doc straddling a boundary belongs to the shard it starts in.

    Scale shape (100 TB): a global ordered prefix sum with NO
    single-partition window. Two-phase: (1) every doc gets an ordered
    range id ``pid`` as a pure map expression (the bucket is a uniform
    md5 prefix, so ``bucket * P div 16^8`` yields P near-equal ordered
    hash ranges — no range-sampling job, no pre-shuffle, no sort); one
    row per RANGE (not per doc) is aggregated to the driver and
    prefix-summed there (``num_partitions`` rows; at 10k ranges that is
    10k rows, corpus-independent); (2) the per-range offsets
    broadcast-join back and a window partitioned BY pid computes the
    local cumsum, so every window group is one bounded hash range.
    Integer arithmetic end to end (BIGINT DIV) — hash-stable across
    engines, no float accumulation.
    """
    spark = documents.sparkSession
    if num_partitions is None:
        num_partitions = int(
            spark.conf.get("spark.sql.shuffle.partitions", "32")
        )
    # the ordered range id is COMPUTED, not sampled: the bucket is a
    # uniform 8-hex md5 prefix, so ``pid = bucket_value * P div 16^8``
    # splits the hash line into P near-equal, ORDERED ranges as a pure
    # map expression. This replaces the previous ``repartitionByRange``
    # + ``spark_partition_id()`` formulation, which paid a separate
    # range-boundary SAMPLING job (one extra scan+tokenize pass), a
    # range exchange AND a per-partition sort — none of which the
    # two-phase prefix sum needs (r6): the window below orders within
    # pid anyway, and offsets only need pid ranges to be ordered and
    # non-overlapping, which the monotone bucket→pid map guarantees.
    # start_offset/shard_id are IDENTICAL: global (bucket, doc_id)
    # order is unchanged.
    tok = ensure_scan_parallelism(documents).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.substring(
            F.md5(F.concat(F.lit(salt), F.col("doc_id").cast("string"))),
            1, 8,
        ).alias("bucket"),
        F.size(_tokens_col()).cast("long").alias("n_tokens"),
    )
    parts = track(
        tok.withColumn(
            "pid",
            F.expr(
                f"CAST((CAST(conv(bucket, 16, 10) AS BIGINT) * "
                f"{int(num_partitions)}) DIV {16**8} AS INT)"
            ),
        )
    )
    totals = {
        r["pid"]: r["t"]
        for r in parts.groupBy("pid").agg(
            F.sum("n_tokens").alias("t")
        ).collect()
    }
    offsets, acc = [], 0
    for pid in sorted(totals):
        offsets.append((int(pid), int(acc)))
        acc += totals[pid]
    off_df = spark.createDataFrame(
        offsets, schema="pid int, part_offset long"
    )
    from pyspark.sql import Window as W

    w = (
        W.partitionBy("pid")
        .orderBy("bucket", "doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        parts.join(F.broadcast(off_df), "pid")
        .withColumn(
            "start_offset",
            (
                F.sum("n_tokens").over(w)
                + F.col("part_offset")
                - F.col("n_tokens")
            ).cast("long"),
        )
        .select(
            "doc_id", "bucket", "n_tokens", "start_offset",
            F.expr(
                f"CAST(start_offset DIV {int(tokens_per_shard)} AS BIGINT)"
            ).alias("shard_id"),
        )
    )


def shard_plan_sql(
    tokens_per_shard: int = SHARD_TOKENS, salt: str = SHARD_SALT
) -> str:
    """DuckDB twin of :func:`shard_plan` — the single ordered window the
    two-phase Spark plan is provably equal to (range partitions are
    non-overlapping and ordered, so partition-offset + local cumsum ==
    the global cumsum)."""
    return f"""
        WITH tok AS (
          SELECT doc_id::BIGINT AS doc_id,
                 substr(md5('{salt}' || doc_id::VARCHAR), 1, 8) AS bucket,
                 len({_TOKENS})::BIGINT AS n_tokens
          FROM documents
        ),
        cum AS (
          SELECT *,
                 (sum(n_tokens) OVER (ORDER BY bucket, doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  - n_tokens)::BIGINT AS start_offset
          FROM tok
        )
        SELECT doc_id, bucket, n_tokens, start_offset,
               (start_offset // {int(tokens_per_shard)})::BIGINT AS shard_id
        FROM cum
    """


def shard_manifest(
    documents: DataFrame,
    tokens_per_shard: int = SHARD_TOKENS,
    salt: str = SHARD_SALT,
    num_partitions: int | None = None,
) -> DataFrame:
    """(shard_id, n_docs, shard_tokens, start_offset) — the per-shard
    audit of :func:`shard_plan`: how many docs and tokens each shard
    holds and where it starts on the global token line. Every shard
    except the last overshoots its right boundary by at most one
    document (the straddler is assigned to the shard it starts in), so
    ``shard_tokens`` is within one max-doc-length of ``tokens_per_shard``
    — the invariant the tests pin. Scale shape: the plan's shuffle plus
    one map-side-combinable groupBy on a low-cardinality shard key."""
    plan = shard_plan(documents, tokens_per_shard, salt, num_partitions)
    return plan.groupBy("shard_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("shard_tokens"),
        F.min("start_offset").cast("long").alias("start_offset"),
    )


def shard_manifest_sql(
    tokens_per_shard: int = SHARD_TOKENS, salt: str = SHARD_SALT
) -> str:
    """DuckDB twin of :func:`shard_manifest`."""
    return f"""
        WITH plan AS ({shard_plan_sql(tokens_per_shard, salt)})
        SELECT shard_id,
               count(*)::BIGINT AS n_docs,
               sum(n_tokens)::BIGINT AS shard_tokens,
               min(start_offset)::BIGINT AS start_offset
        FROM plan
        GROUP BY shard_id
    """


def winnow_dup_pairs(
    documents: DataFrame,
    k: int = 4,
    w: int = 4,
    min_shared: int = 2,
    max_df: int = 1000,
) -> DataFrame:
    """Near-duplicate pairs from shared winnowing fingerprints
    (Schleimer et al. SIGMOD'03 — the MOSS dup detector; see the frozen
    selection spec on :func:`jam_spark.ops.text.winnow_fingerprints`):
    ``(doc_a, doc_b, n_shared, n_a, n_b, overlap)`` for every pair
    sharing >= ``min_shared`` distinct selected fingerprints, where
    ``overlap = n_shared / least(n_a, n_b)`` (containment — winnowing's
    guarantee is per shared RUN, so containment, not Jaccard, is the
    natural score: a page fully embedded in a larger page scores 1.0
    up to selection noise).

    Scale shape (100 TB lens): the capped shared-key self-join of
    :func:`ngram_jaccard_pairs` (:func:`_shared_key_pairs`), but over
    the ~2/(w+1)-density winnowed postings instead of ALL grams — the
    same pair signal for shared runs >= w+k-1 tokens at a fraction of
    the exchange bytes. A fingerprint selected by > ``max_df`` docs
    (boilerplate) is dropped from the numerator AND both denominators;
    the SQL oracle applies the identical cap.
    """
    from .text import winnow_doc_fps

    # the per-window argmin is the expensive map pass here; a
    # pathological single-split input would serialize it (no-op at
    # scale, where splits are abundant — the winnow ops themselves stay
    # guard-free so their zero-shuffle plans hold for callers that
    # control their own partitioning). winnow_doc_fps dedupes (doc, fp)
    # INSIDE the row, so no corpus-wide distinct exchange is needed.
    # ONE winnow pass + fp-exchange, persisted and fp-partitioned per
    # the :func:`_shared_key_pairs` plan contract.
    fps = track(
        winnow_doc_fps(ensure_scan_parallelism(documents), k=k, w=w)
        .repartition("fp")
    )
    return (
        _shared_key_pairs(fps, "doc_id", "fp", max_df)
        .filter(F.col("n_shared") >= min_shared)
        .select(
            F.col("a").cast("long").alias("doc_a"),
            F.col("b").cast("long").alias("doc_b"),
            F.col("n_shared").cast("long"),
            F.col("n_a").cast("long"),
            F.col("n_b").cast("long"),
            (
                F.col("n_shared").cast("double")
                / F.least("n_a", "n_b")
            ).alias("overlap"),
        )
    )


def winnow_dup_pairs_sql(
    k: int = 4, w: int = 4, min_shared: int = 2, max_df: int = 1000
) -> str:
    """DuckDB twin of :func:`winnow_dup_pairs` (identical winnowing
    selection via ops.text.winnow_fingerprints_sql, identical hot-fp
    cap and containment score)."""
    from .text import winnow_fingerprints_sql

    return f"""
        WITH fps0 AS (
          SELECT DISTINCT doc_id, fp
          FROM ({winnow_fingerprints_sql(k=k, w=w)})
        ),
        keep AS (
          SELECT fp FROM fps0 GROUP BY fp HAVING count(*) <= {max_df}
        ),
        fps AS (SELECT f.doc_id, f.fp FROM fps0 f JOIN keep USING (fp)),
        sizes AS (SELECT doc_id, count(*) AS sz FROM fps GROUP BY doc_id),
        shared AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
          FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id
          HAVING count(*) >= {min_shared}
        )
        SELECT s.doc_a::BIGINT AS doc_a, s.doc_b::BIGINT AS doc_b,
               s.n_shared::BIGINT AS n_shared,
               sa.sz::BIGINT AS n_a, sb.sz::BIGINT AS n_b,
               s.n_shared::DOUBLE / least(sa.sz, sb.sz) AS overlap
        FROM shared s
        JOIN sizes sa ON sa.doc_id = s.doc_a
        JOIN sizes sb ON sb.doc_id = s.doc_b
    """


def winnow_dup_clusters(
    documents: DataFrame,
    k: int = 4,
    w: int = 4,
    min_shared: int = 2,
    max_df: int = 1000,
) -> DataFrame:
    """(doc_id, cluster_id) — duplicate clusters: connected components
    over the :func:`winnow_dup_pairs` edge set, labels = min doc_id per
    component; singleton docs label themselves.

    This is the first CLUSTER-stage operator with a full DuckDB oracle:
    the winnow edge set is deterministic ANSI SQL, and the closure is a
    recursive min-label CTE — so the driver hash-checks the same
    connected-components semantics that the flagship minhash pipeline's
    CC (jam_spark.cluster.connected_components, reused here verbatim)
    applies to its LSH edges, where xxh3 sketches keep the edges
    themselves outside SQL's reach.

    Scale shape: edges come from the capped postings join (bounded per
    fingerprint), closure is the hybrid CC — driver union-find below
    the edge threshold, hash-min label propagation with pointer jumping
    above it; nodes-universe join restores singletons distributively.
    """
    pairs = winnow_dup_pairs(
        documents, k=k, w=w, min_shared=min_shared, max_df=max_df
    )
    return _dup_clusters(pairs, documents)


def _cc_recursive_sql(pairs_sql: str, a: str, b: str) -> str:
    """Recursive min-label closure over an edge subquery — the DuckDB
    oracle twin of jam_spark.cluster.connected_components (labels = min
    member id; singletons from the documents universe label themselves).

    The ``r.label < e.b`` prune is safe: a label larger than the node it
    would enter can never be that node's component minimum (the node
    itself is already smaller and in the same component), and it bounds
    the recursion's working set.
    """
    return f"""
        WITH RECURSIVE pairs AS (SELECT * FROM ({pairs_sql}) t),
        edges AS (
          SELECT {a} AS ea, {b} AS eb FROM pairs
          UNION
          SELECT {b} AS ea, {a} AS eb FROM pairs
        ),
        reach(node, label) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT e.eb AS node, r.label
          FROM reach r JOIN edges e ON e.ea = r.node
          WHERE r.label < e.eb
        )
        SELECT node::BIGINT AS doc_id, min(label)::BIGINT AS cluster_id
        FROM reach GROUP BY node
    """


def winnow_dup_clusters_sql(
    k: int = 4, w: int = 4, min_shared: int = 2, max_df: int = 1000
) -> str:
    """DuckDB twin of :func:`winnow_dup_clusters`."""
    return _cc_recursive_sql(
        winnow_dup_pairs_sql(k=k, w=w, min_shared=min_shared, max_df=max_df),
        "doc_a", "doc_b",
    )


def ngram_dup_clusters(
    documents: DataFrame, n: int = 3, threshold: float = 0.5,
    max_df: int = 1000,
) -> DataFrame:
    """(doc_id, cluster_id) — connected components over the
    :func:`ngram_jaccard_pairs` edge set (exact n-gram Jaccard above
    threshold), labels = min doc_id; second driver-checkable CC family
    (see :func:`winnow_dup_clusters`)."""
    pairs = ngram_jaccard_pairs(
        documents, n=n, threshold=threshold, max_df=max_df
    )
    return _dup_clusters(pairs, documents)


def ngram_dup_clusters_sql(
    n: int = 3, threshold: float = 0.5, max_df: int = 1000
) -> str:
    """DuckDB twin of :func:`ngram_dup_clusters`."""
    return _cc_recursive_sql(
        ngram_jaccard_pairs_sql(n=n, threshold=threshold, max_df=max_df),
        "doc_a", "doc_b",
    )


def simhash_dup_clusters(
    documents: DataFrame, k: int = 3, band_cap: int | None = None
) -> DataFrame:
    """(doc_id, cluster_id) — SimHash near-duplicate clusters: connected
    components over the Manku hamming-<=k relation, labels = min doc_id
    per component; third driver-checkable CC family (see
    :func:`winnow_dup_clusters`).

    Scale shape — the edge set is NOT the m² pair expansion the oracle
    closes over: mirror groups (hamming 0) enter as STAR edges
    (fingerprint-min rep -> member, one edge per doc, straight from the
    map-side-combinable :func:`simhash_mirror_groups` aggregate), and
    only the cross-fingerprint hamming 1..k pairs come from the banded
    join (``include_mirror_pairs=False``). The transitive closure of a
    clique equals the closure of its star, so components — and the
    min-label canonicalization — are identical to closing over the full
    pair set, which is exactly what the recursive-CTE SQL twin does;
    the driver's hash check certifies that equivalence on every run.
    A 10^8-mirror boilerplate page therefore costs 10^8 edges (linear),
    not 10^16 (quadratic), before the same hybrid CC as the flagship.
    """
    # ONE tracked fingerprint pass shared by the banded cross-pair join
    # AND the mirror-star reps/members below — previously the untracked
    # second simhash(documents) re-ran the per-doc token-hash fold ~3
    # extra times over the corpus (r5 ADVICE)
    fps = _simhash_fps(documents)
    cross = simhash_dup_pairs(
        documents, k=k, band_cap=band_cap, include_mirror_pairs=False,
        _fps=fps,
    ).select("doc_a", "doc_b")
    # rep per fingerprint via the map-side-combinable aggregate (NOT a
    # window: a 10^8-row mirror group must pre-collapse per map task,
    # not sort inside one window partition); the member join back is
    # N x 1 per hot key — AQE skew-splittable
    reps = fps.groupBy("simhash").agg(F.min("doc_id").alias("rep"))
    stars = (
        fps.join(reps, "simhash")
        .filter(F.col("rep") != F.col("doc_id"))
        .select(F.col("rep").alias("doc_a"), F.col("doc_id").alias("doc_b"))
    )
    return _dup_clusters(cross.unionByName(stars), documents)


def simhash_dup_clusters_sql(k: int = 3) -> str:
    """DuckDB twin of :func:`simhash_dup_clusters` — closes over the
    FULL pair set (mirror pairs included); equality with the star-edge
    Spark path is the clique-star closure equivalence."""
    return _cc_recursive_sql(simhash_dup_pairs_sql(k=k), "doc_a", "doc_b")
