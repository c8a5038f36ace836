"""Spans around the program's layers, recorded from outside.

``Tracer.install()`` wraps the public functions of each layer where the
program binds them (``jam_spark.pipeline``, ``jam_spark.pairs``,
``jam_spark.checkpoint``, ``jam_spark.ops.dedup``) and the
``CheckpointedDedup.run_*`` methods. Each wrapped call records a span
(id, name, layer, parent, start, end) and tags every Spark job it starts
with ``setJobGroup(span id)``; the event-log fold (``eventlog.py``)
later maps jobs back to spans. Nothing is materialized early: a wrapper
only keeps a reference to the DataFrames a call returns, and
``count_outputs()`` counts them after the timed pass, under a span of
its own whose jobs no layer is charged for.

``NullTracer`` is the untraced stand-in: no patches, no tags.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import time

#: (module, function name, layer) — the layers' public functions, at
#: every name through which the program calls them
PATCHES = [
    ("jam_spark.pipeline", "sketch_stage", "sketch"),
    ("jam_spark.checkpoint", "sketch_stage", "sketch"),
    ("jam_spark.ops.dedup", "sketch_stage", "sketch"),
    ("jam_spark.pipeline", "packed_bands", "bands"),
    ("jam_spark.pairs", "packed_bands", "bands"),
    ("jam_spark.pipeline", "thin_hot_bkeys", "bands"),
    ("jam_spark.pairs", "thin_hot_bkeys", "bands"),
    ("jam_spark.pipeline", "candidate_pairs", "pairs"),
    ("jam_spark.pairs", "candidate_pairs", "pairs"),
    ("jam_spark.pipeline", "verify_pairs", "pairs"),
    ("jam_spark.pairs", "verify_pairs", "pairs"),
    ("jam_spark.pipeline", "remap_pairs", "pairs"),
    ("jam_spark.pairs", "remap_pairs", "pairs"),
    ("jam_spark.pipeline", "cluster_stage", "cluster"),
    ("jam_spark.pipeline", "connected_components", "cluster"),
    ("jam_spark.checkpoint", "connected_components", "cluster"),
]
#: CheckpointedDedup methods → span names (layer ``checkpoint``);
#: ``run`` is one streaming micro-batch (layer ``streaming``)
CHECKPOINT_METHODS = {
    "run_sketches": "checkpoint.sketches",
    "run_bands": "checkpoint.bands",
    "run_pairs": "checkpoint.pairs",
    "run_clusters": "checkpoint.clusters",
}


class Span:
    __slots__ = ("id", "name", "layer", "parent", "start", "end")

    def __init__(self, sid, name, layer, parent):
        self.id, self.name, self.layer, self.parent = sid, name, layer, parent
        self.start = time.time()
        self.end = None

    def as_dict(self) -> dict:
        return {k: getattr(self, k) for k in self.__slots__}


class NullTracer:
    def span(self, name, layer=None):
        return contextlib.nullcontext()


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        # one client: a single stack, shared with the streaming
        # foreachBatch thread, which runs while the caller blocks
        self.stack: list[Span] = []
        self.outputs: list[tuple[str, tuple, object]] = []
        self.counts: dict[str, float] = {}
        self._undo: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ spans
    @contextlib.contextmanager
    def span(self, name: str, layer: str | None = None):
        parent = self.stack[-1] if self.stack else None
        if layer is None and parent is not None:
            layer = parent.layer
        s = Span(f"perfbench-{len(self.spans)}", name, layer,
                 parent.id if parent else None)
        self.spans.append(s)
        self.stack.append(s)
        self.sc.setJobGroup(s.id, name, False)
        try:
            yield s
        finally:
            s.end = time.time()
            self.stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.id, parent.name, False)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    # ---------------------------------------------------------- patches
    def _wrap(self, fn, name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name, layer):
                out = fn(*args, **kwargs)
            tracer.outputs.append((name, args, out))
            return out

        return wrapper

    def _set(self, owner, attr: str, value) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def install(self) -> None:
        for mod_name, fn_name, layer in PATCHES:
            mod = importlib.import_module(mod_name)
            self._set(mod, fn_name, self._wrap(getattr(mod, fn_name), f"{layer}.{fn_name}", layer))
        from jam_spark import _persist, pipeline
        from jam_spark.checkpoint import CheckpointedDedup

        for meth, span_name in CHECKPOINT_METHODS.items():
            self._set(CheckpointedDedup, meth,
                      self._wrap(getattr(CheckpointedDedup, meth), span_name, "checkpoint"))
        self._set(CheckpointedDedup, "run",
                  self._wrap(CheckpointedDedup.run, "streaming.batch", "streaming"))
        # an eager persist runs the job of whichever layer built the frame
        self._set(pipeline, "track", self._track(_persist.track))

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, value = self._undo.pop()
            setattr(owner, attr, value)

    def _track(self, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(df, eager=False):
            if not eager:
                return fn(df, eager)
            layer = tracer.producer(df)
            with tracer.span(f"{layer or 'mixed'}.persist", layer):
                return fn(df, eager)

        return wrapper

    def producer(self, df) -> str | None:
        """Layer of the wrapped call that returned ``df`` (latest first)."""
        for name, _, out in reversed(self.outputs):
            outs = out if isinstance(out, tuple) else (out,)
            if any(o is df for o in outs):
                return name.split(".")[0]
        return None

    # ----------------------------------------------------------- counts
    def begin_pass(self) -> None:
        from jam_spark import cluster

        self.outputs = []
        # the program's own diagnostic hook: set only by the distributed
        # connected-components path
        cluster.LAST_CC_ITERATIONS = None

    def count_outputs(self, counts: dict[str, float] | None = None) -> dict[str, float]:
        """Exact counts of what the last traced pass's layer calls built,
        counted after the pass (``trace.count`` span, charged to no
        layer); frames the pass already released are recomputed. A
        workload whose frames cannot be recounted after the pass gives
        its own ``counts`` instead."""
        from jam_spark import cluster

        c = dict(counts) if counts is not None else self._recount()
        c["cluster.iterations"] = cluster.LAST_CC_ITERATIONS or 0
        c["cluster.distributed"] = int(cluster.LAST_CC_ITERATIONS is not None)
        self.outputs = []
        self.counts = c
        return c

    def _recount(self) -> dict[str, float]:
        from pyspark.sql import functions as F

        c: dict[str, float] = {}

        def add(key, n):
            c[key] = c.get(key, 0) + n

        with self.span("trace.count", "trace"):
            for name, args, out in self.outputs:
                fn = name.split(".", 1)[1]
                if fn == "sketch_stage":
                    add("sketch.rows_in", args[0].count())
                    add("sketch.reps_out", out[0].count())
                elif fn == "packed_bands":
                    add("bands.postings", out.count())
                elif fn == "thin_hot_bkeys" and args[1].band_cap:
                    bands, cap = args[0], args[1].band_cap
                    add("bands.hot_keys", bands.groupBy("bkey").count()
                        .filter(F.col("count") > cap).count())
                    add("bands.postings_thinned", bands.count() - out.count())
                elif fn == "candidate_pairs":
                    add("pairs.candidates", out.count())
                elif fn == "verify_pairs":
                    add("pairs.verified", out.count())
                elif fn == "connected_components":
                    add("cluster.edges", args[0].count())
        return c
