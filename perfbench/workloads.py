"""The closed-loop workloads: one client, each timed pass starts after
the previous one ends.

A workload has ``setup()`` (inputs, base state and the untimed cold
pass, which doubles as the correctness pass where it can),
``run_pass()`` (one timed pass), optionally ``before_pass()`` (untimed
reset before each pass) and ``finish()`` (checks that run after the
timed passes). Checks never stop the run: a failed check or a failed
operation is counted and the remaining operations still run.
"""

from __future__ import annotations

import contextlib
import gzip
import hashlib
import json
import math
import os
import shutil
import time
import traceback

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import gen
from metrics import OPS_LEAVES

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data")
#: frozen sf0.1 tables the operator suite runs over (content is fixed;
#: the seed only sets row order and file split of the working copy)
DATA_SHA256 = {
    "documents.parquet": "d10b0da67e5aceb465e89365781dab5c69d3c62b64a8308398c6fd3fb09bcf82",
    "embeddings.parquet": "f5a6fe8c86ce87190f685e5d246b3e544155aa147a7f47af7d32bb6d8ebe0a95",
}
MIN_RECALL = 0.99
#: share of planted decoy pairs that must end up in different clusters.
#: The sketches keep 1/8 of the shingles, so a decoy near the cutoff is
#: now and then estimated above it; without the verify step most decoys
#: (which share LSH bands) would merge
MIN_DECOYS_APART = 0.8


class Run:
    """What one benchmark invocation shares across its workload."""

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.checks: list[tuple[str, bool, str]] = []
        self.attempted = 0
        self.failed = 0
        self.quality: dict[str, float] = {}
        #: time spent on checks alone (kept out of ``setup_s``)
        self.check_s = 0.0
        #: set-up phase → seconds, for the detail record
        self.phases: dict[str, float] = {}

    @contextlib.contextmanager
    def phase(self, name: str):
        t0 = time.time()
        try:
            yield
        finally:
            self.phases[name] = self.phases.get(name, 0.0) + time.time() - t0

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.checks.append((name, bool(ok), detail))

    def op(self, fn) -> bool:
        """One counted operation; an exception counts as a failure."""
        self.attempted += 1
        try:
            fn()
            return True
        except Exception as ex:  # noqa: BLE001 - counted, run continues
            traceback.print_exc()
            self.failed += 1
            self.check(f"op:{getattr(fn, '__name__', 'op')}", False, repr(ex)[:300])
            return False

    def span(self, name: str, layer: str | None = None):
        return self.tracer.span(name, layer)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _write_pages(pdf: pd.DataFrame, path: str, files: int, cols: list[str]) -> None:
    """Parquet under ``path`` in ``files`` files of several row groups each
    (row groups are the sketch stage's scan parallelism)."""
    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pandas(pdf[cols], preserve_index=False)
    per = math.ceil(len(pdf) / files)
    for i in range(files):
        part = table.slice(i * per, per)
        pq.write_table(
            part,
            os.path.join(path, f"part-{i:03d}.parquet"),
            row_group_size=max(1, math.ceil(part.num_rows / 2)),
        )


def _labels_quality(run: Run, truth: pd.DataFrame, labels: pd.DataFrame, tag: str) -> None:
    """Pair recall/precision of ``labels`` (url, cluster_id) against the
    planted ``truth`` (url, group, decoy_pair); every url must be
    labelled once, and the planted decoy pairs must stay apart."""
    m = truth.merge(labels, on="url", how="left")
    run.check(f"{tag}:every_url_labelled_once",
              len(labels) == len(truth) and m["cluster_id"].notna().all(),
              f"{len(labels)} labels for {len(truth)} urls")
    label = m["cluster_id"].fillna(m["url"])
    decoys = label[m["decoy_pair"] >= 0].groupby(m["decoy_pair"]).nunique()
    apart = float((decoys == 2).mean()) if len(decoys) else 1.0
    run.check(f"{tag}:decoys_apart>={MIN_DECOYS_APART}", apart >= MIN_DECOYS_APART,
              f"{apart:.4f} of {len(decoys)} decoy pairs apart")
    recall, precision, t, p = gen.pair_scores(m["group"], label)
    run.quality["dup_pair_recall"] = recall
    run.quality["dup_pair_precision"] = precision
    run.check(f"{tag}:dup_pair_recall>={MIN_RECALL}", recall >= MIN_RECALL,
              f"recall {recall:.6f} over {t} planted pairs")
    run.check(f"{tag}:dup_pair_precision>={MIN_RECALL}", precision >= MIN_RECALL,
              f"precision {precision:.6f} over {p} predicted pairs")


# ------------------------------------------------------------ full_dedup
class FullDedup:
    """From-scratch ``dedup_pipeline`` over a generated pages table."""

    PAGES = 3000
    #: ``thin_hot_bkeys`` keeps two rotation residues of ceil(n / 256), so
    #: a hot key only loses postings above 512; 600 pages really thin
    HOT = 600

    def __init__(self, run: Run):
        self.run = run
        self.path = os.path.join(run.work, "pages")

    def setup(self) -> None:
        from jam_spark._persist import release_all
        from jam_spark.params import SketchParams
        from jam_spark.pipeline import dedup_pipeline

        self.params = SketchParams()
        with self.run.phase("inputs_s"):
            self.truth = gen.make_pages(self.PAGES, self.run.seed, hot_size=self.HOT)
            self.docs = len(self.truth)
            _write_pages(self.truth, self.path, 4, ["url", "warc_ts", "html", "text", "lang"])
            self.pages = self.run.spark.read.parquet(self.path)
        # cold first pass = correctness pass (same plan, collected)
        out = {}

        def labels():
            out["pdf"] = dedup_pipeline(self.pages, self.params).toPandas()

        with self.run.phase("cold_pass_s"):
            ok = self.run.op(labels)
            release_all()
        if ok:
            _labels_quality(self.run, self.truth[["url", "group", "decoy_pair"]],
                            out["pdf"], "full_dedup")
        # the JIT still gains over the pass after the cold one
        with self.run.phase("warm_pass_s"):
            self.run_pass()

    def run_pass(self) -> None:
        from jam_spark._persist import release_all
        from jam_spark.pipeline import dedup_pipeline

        def dedup_pass():
            _noop(dedup_pipeline(self.pages, self.params))

        self.run.op(dedup_pass)
        release_all()


# ---------------------------------------------------- incremental_ingest
class IncrementalIngest:
    """Drain a landing zone of delta files into a restored base
    checkpoint through ``streaming.drain_landing_zone``."""

    PAGES = 800
    HOT = 280  # above band_cap, so hot keys exist
    DELTA_FRAC = 0.1
    COPIES = 30  # delta pages that are exact copies of base pages
    FILES = 4
    FILES_PER_BATCH = 2

    def __init__(self, run: Run):
        self.run = run
        self.base_root = os.path.join(run.work, "base_ckpt")
        self.root = os.path.join(run.work, "ckpt")
        self.base_landing = os.path.join(run.work, "base")
        self.landing = os.path.join(run.work, "landing")

    def setup(self) -> None:
        from jam_spark._persist import release_all
        from jam_spark.checkpoint import CheckpointedDedup
        from jam_spark.params import SketchParams

        self.params = SketchParams()
        with self.run.phase("inputs_s"):
            corpus = gen.make_pages(self.PAGES, self.run.seed, hot_size=self.HOT)
            rng = np.random.default_rng([self.run.seed, 7])
            # the same share of the hot cluster and of the rest, so every
            # seed's delta carries the same amount of work
            hot = corpus["group"] == corpus["group"].value_counts().idxmax()
            in_delta = np.zeros(len(corpus), dtype=bool)
            for part in (np.flatnonzero(hot), np.flatnonzero(~hot)):
                in_delta[rng.choice(part, size=round(self.DELTA_FRAC * len(part)),
                                    replace=False)] = True
            base, delta = corpus[~in_delta], corpus[in_delta]
            src = base.iloc[rng.choice(len(base), size=self.COPIES, replace=False)]
            copies = src.assign(url=[f"{u}#copy" for u in src["url"]])
            delta = pd.concat([delta, copies], ignore_index=True)
            delta = delta.iloc[rng.permutation(len(delta))]
            self.docs = len(delta)
            self.truth = pd.concat([base, delta], ignore_index=True)[
                ["url", "group", "decoy_pair"]]
            _write_pages(base, self.base_landing, self.FILES, ["url", "text"])
            _write_pages(delta, self.landing, self.FILES, ["url", "text"])

        def base_build():
            base = self.run.spark.read.parquet(self.base_landing)
            CheckpointedDedup(self.run.spark, self.base_root, self.params).run(base)

        # no warm-up drain: one costs as much as the timed one, and the
        # budget has no room for it (see NOTES.md); the base build has
        # compiled the code a drain shares with it
        with self.run.phase("base_build_s"):
            self.run.op(base_build)
            release_all()

    def before_pass(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        shutil.copytree(self.base_root, self.root)

    def run_pass(self) -> None:
        from jam_spark._persist import release_all

        from jam_spark.streaming import drain_landing_zone

        def drain():
            with self.run.span("incremental_ingest.drain", "streaming"):
                drain_landing_zone(self.run.spark, self.landing, self.root, self.params,
                                   max_files_per_trigger=self.FILES_PER_BATCH)

        self.drained = self.run.op(drain)
        release_all()

    #: ``CheckpointedDedup.stats`` key → the layer count its growth
    #: over one drain measures (membership, sketches, bands, pairs)
    STAT_COUNTS = {"n_pages": "sketch.rows_in", "n_sketches": "sketch.reps_out",
                   "n_postings": "bands.postings", "n_pairs": "pairs.verified"}

    def layer_counts(self) -> dict[str, float]:
        """Layer outputs of the last drain, as the growth of the stage
        tables over the base. The frames the drain's layer calls returned
        cannot be recounted after it: they are defined against stage
        tables that by then hold the delta or have been rewritten."""
        from jam_spark.checkpoint import CheckpointedDedup

        spark = self.run.spark
        if not hasattr(self, "base_stats"):
            self.base_stats = CheckpointedDedup(spark, self.base_root, self.params).stats()
        after = CheckpointedDedup(spark, self.root, self.params).stats()
        out = {name: after[k] - self.base_stats[k] for k, name in self.STAT_COUNTS.items()}
        out["checkpoint.rows_appended"] = sum(out.values())
        return out

    def finish(self) -> None:
        """Labels after the last drain equal a from-scratch
        ``dedup_pipeline`` over base + delta; planted-truth scores."""
        from jam_spark._persist import release_all
        from jam_spark.pipeline import dedup_pipeline

        if not self.drained:
            return
        t0 = time.time()
        spark = self.run.spark
        ref = {}

        def reference():
            every = spark.read.parquet(self.base_landing).unionByName(
                spark.read.parquet(self.landing))
            ref["pdf"] = dedup_pipeline(every, self.params).toPandas()

        got = spark.read.parquet(os.path.join(self.root, "clusters")).toPandas()
        if self.run.op(reference):
            a = got.sort_values("url").reset_index(drop=True)
            b = ref["pdf"].sort_values("url").reset_index(drop=True)[a.columns]
            self.run.check("incremental_ingest:labels_equal_from_scratch",
                           a.equals(b), f"{len(a)} vs {len(b)} labels")
        release_all()
        _labels_quality(self.run, self.truth, got, "incremental_ingest")
        self.run.check_s += time.time() - t0


# -------------------------------------------------------- operator_suite
def _ops_leaves(docs, embs) -> list[tuple[str, object]]:
    from jam_spark.ops import dedup, similarity, text

    calls = {
        "exact_dedup_groups": lambda: dedup.exact_dedup_groups(docs),
        "token_counts": lambda: text.token_counts(docs),
        "doc_quality": lambda: text.doc_quality(docs),
        "pii_profile": lambda: text.pii_profile(docs),
        "line_dedup": lambda: dedup.line_dedup(dedup.documents_with_lines(docs)),
        "winnow_dup_pairs": lambda: dedup.winnow_dup_pairs(docs),
        "cosine_topk_fast": lambda: similarity.cosine_topk_fast(embs),
    }
    return [(name, calls[name]) for name in OPS_LEAVES]


def _canon(cols, rows) -> list:
    """[columns, rows]: rows sorted, columns in name order, doubles to 9
    significant digits (the comparison form ``tools/parity_check.py``
    uses), then passed through JSON so a stored result compares equal."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = "NaN" if math.isnan(v) else float(f"{v:.9g}")
            elif isinstance(v, (list, tuple, np.ndarray)):
                v = tuple(v)
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=lambda t: tuple(str(x) for x in t))
    return json.loads(json.dumps([[cols[i] for i in order], out], default=str))


class OperatorSuite:
    """One pass over a fixed list of ``jam_spark.ops`` leaves on the
    frozen sf0.1 ``documents`` and ``embeddings`` tables."""

    FILES = 4  # per table; the seed sets which rows land in which file

    def __init__(self, run: Run):
        self.run = run

    def setup(self) -> None:
        with self.run.phase("inputs_s"):
            self._inputs()
        oracle = self._oracle()
        with self.run.phase("cold_pass_s"):
            self._check_pass(oracle)
        # no pair truth is planted here; the suite's dedup leaves are
        # checked against their DuckDB twins instead
        self.run.quality.update(dup_pair_recall=1.0, dup_pair_precision=1.0)

    def _inputs(self) -> None:
        rng = np.random.default_rng([self.run.seed, 11])
        paths, rows = {}, {}
        for name, sha in DATA_SHA256.items():
            src = os.path.join(DATA, name)
            with open(src, "rb") as f:
                if hashlib.sha256(f.read()).hexdigest() != sha:
                    raise RuntimeError(f"{src} does not match its recorded sha256")
            table = pq.read_table(src)
            table = table.take(rng.permutation(table.num_rows))
            stem = name.split(".")[0]
            out = os.path.join(self.run.work, stem)
            os.makedirs(out)
            per = math.ceil(table.num_rows / self.FILES)
            for i in range(self.FILES):
                pq.write_table(table.slice(i * per, per), os.path.join(out, f"part-{i}.parquet"))
            paths[stem] = out
            rows[stem] = table.num_rows
        spark = self.run.spark
        docs = spark.read.parquet(paths["documents"])
        embs = spark.read.parquet(paths["embeddings"])
        self.docs = rows["documents"]
        self.leaves = _ops_leaves(docs, embs)

    def _check_pass(self, oracle: dict[str, list]) -> None:
        """Cold first pass = correctness pass: every leaf collected and
        checked against its DuckDB twin."""
        from jam_spark._persist import release_all

        for name, make in self.leaves:
            got = {}

            def collect(make=make, got=got):
                df = make()
                got["cols"], got["rows"] = df.columns, [tuple(r) for r in df.collect()]

            collect.__name__ = name
            ok = self.run.op(collect)
            release_all()
            if not ok:
                continue
            if name not in oracle:
                self.run.check(f"ops:{name}:has_oracle", False, "no oracle_sql() twin")
                continue
            sc, sr = _canon(got["cols"], got["rows"])
            dc, dr = oracle[name]
            self.run.check(f"ops:{name}:duckdb", sc == dc and sr == dr,
                           f"{len(sr)} vs {len(dr)} rows")

    def _oracle(self) -> dict[str, list]:
        """Canonical DuckDB results of every suite leaf's ``oracle_sql()``
        twin over the frozen tables, keyed by the SQL and the data hashes.
        Content is fixed, so they are computed once: ``data/`` ships them
        for the SQL of this revision; for other SQL the first run in a
        checkout computes them into ``.perfbench_cache/``. The time is a
        check's, not set-up."""
        import __spark_entry__

        t0 = time.time()
        twins = {n: q for n, q in __spark_entry__.oracle_sql().items() if n in OPS_LEAVES}
        key = hashlib.sha256(
            json.dumps([twins, DATA_SHA256], sort_keys=True).encode()
        ).hexdigest()[:16]
        name = f"oracle-{key}.json.gz"
        cache = os.path.join(os.getcwd(), ".perfbench_cache", name)
        for path in (os.path.join(DATA, name), cache):
            if os.path.exists(path):
                with gzip.open(path, "rt") as f:
                    out = json.load(f)
                break
        else:
            import duckdb

            con = duckdb.connect()
            con.sql("SET enable_progress_bar = false")
            for table in DATA_SHA256:
                con.sql(f"CREATE VIEW {table.split('.')[0]} AS "
                        f"SELECT * FROM read_parquet('{os.path.join(DATA, table)}')")
            out = {}
            for leaf, sql in twins.items():
                rel = con.sql(sql)
                out[leaf] = _canon(rel.columns, rel.fetchall())
            con.close()
            os.makedirs(os.path.dirname(cache), exist_ok=True)
            with gzip.open(cache + ".tmp", "wt") as f:
                json.dump(out, f)
            os.replace(cache + ".tmp", cache)
        self.run.check_s += time.time() - t0
        return out

    def run_pass(self) -> None:
        from jam_spark._persist import release_all

        for name, make in self.leaves:
            def leaf(make=make, name=name):
                with self.run.span(f"ops.{name}", "ops"):
                    _noop(make())

            leaf.__name__ = name
            self.run.op(leaf)
            release_all()


WORKLOADS = {
    "full_dedup": FullDedup,
    "incremental_ingest": IncrementalIngest,
    "operator_suite": OperatorSuite,
}
