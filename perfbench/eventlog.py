"""Offline fold of a Spark event log into per-span and per-layer numbers.

Jobs map to spans through the ``spark.jobGroup.id`` property of their
``SparkListenerJobStart`` event (a job without a known group falls back
to the innermost span open at its submission time). ``TaskEnd`` metrics
then fold per job: executor run and CPU time, GC time, shuffle bytes,
spill, output bytes and result size.

Bytes a lazily built plan moves are charged by plan operator instead of
by job: each operator of a SQL execution's plan is classified by the
columns it touches (``COLUMN_LAYERS``), and the SQL metrics its tasks
report (shuffle bytes written and read, spill size, Python worker time)
go to that layer, whichever job ran them.
"""

from __future__ import annotations

import json
import re
import statistics
from collections import defaultdict

#: first match wins: the column names a layer's operators carry
COLUMN_LAYERS = [
    ("pairs", re.compile(r"\b(id_a|id_b|_vid|_vsketch|num_common)#")),
    ("bands", re.compile(r"\b(bkey|band_id|band_hash|thin_mod)#|_bands\(")),
    ("cluster", re.compile(r"\b(src|dst|rep_url|cluster_id|_label)#")),
    ("sketch", re.compile(r"\b(text_fp|sketch)#")),
]
MB = 1024.0 * 1024.0


def classify(text: str) -> str | None:
    for layer, rx in COLUMN_LAYERS:
        if rx.search(text):
            return layer
    return None


def read_events(path: str):
    with open(path) as f:
        for line in f:
            if line.strip():
                yield json.loads(line)


def _walk_plan(node: dict, out: dict[int, tuple[str, str, str]]) -> None:
    """accumulator id → (metric name, metric type, operator description)."""
    text = node.get("simpleString", "")
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = (m["name"], m.get("metricType", ""), text)
    for child in node.get("children", []):
        _walk_plan(child, out)


class Fold:
    """Everything the log says, keyed for the per-layer table."""

    def __init__(self, events, spans: list[dict]):
        self.spans = {s["id"]: s for s in spans}
        self.jobs: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        accum_node: dict[int, tuple[str, str, str]] = {}
        #: job → accumulator id → summed task updates (SQL metrics)
        self.accums: dict[int, dict[int, float]] = defaultdict(lambda: defaultdict(float))
        for ev in events:
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jid = ev["Job ID"]
                self.jobs[jid] = {
                    "group": props.get("spark.jobGroup.id"),
                    "start": ev.get("Submission Time", 0) / 1000.0,
                    "end": None,
                    "stages": set(ev.get("Stage IDs", [])),
                    "tasks": 0, "cpu_s": 0.0, "gc_s": 0.0,
                    "shuffle_write": 0, "shuffle_read": 0, "spill": 0,
                    "output_bytes": 0, "result_bytes": 0,
                    "scan_tasks": 0, "ran_stages": set(),
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in self.jobs:
                    self.jobs[ev["Job ID"]]["end"] = ev.get("Completion Time", 0) / 1000.0
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev.get("Stage ID"))
                m = ev.get("Task Metrics") or {}
                if jid is None or not m:
                    continue
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    try:
                        self.accums[jid][acc["ID"]] += float(acc.get("Update", 0))
                    except (TypeError, ValueError):
                        pass
                j = self.jobs[jid]
                sr = m.get("Shuffle Read Metrics", {})
                sw = m.get("Shuffle Write Metrics", {})
                inp = m.get("Input Metrics", {})
                j["tasks"] += 1
                j["ran_stages"].add(ev.get("Stage ID"))
                j["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                j["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                j["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                j["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                j["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                j["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                j["result_bytes"] += m.get("Result Size", 0)
                j["scan_tasks"] += 1 if inp.get("Bytes Read", 0) else 0
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                if ev.get("sparkPlanInfo"):
                    _walk_plan(ev["sparkPlanInfo"], accum_node)
        self.accum_node = accum_node
        self._attach()

    def _attach(self) -> None:
        """Job → span: the job group, else the innermost span open at the
        job's submission."""
        spans = sorted(self.spans.values(), key=lambda s: s["start"])
        for job in self.jobs.values():
            if job["group"] not in self.spans:
                inner = [s for s in spans
                         if s["start"] <= job["start"] <= (s["end"] or float("inf"))]
                job["group"] = inner[-1]["id"] if inner else None

    def layer_of(self, sid: str | None) -> str:
        s = self.spans.get(sid)
        return (s["layer"] or "mixed") if s else "untagged"

    def under(self, sid: str | None, pred) -> bool:
        """Whether span ``sid`` or one of its ancestors satisfies ``pred``."""
        while sid in self.spans:
            s = self.spans[sid]
            if pred(s):
                return True
            sid = s["parent"]
        return False

    def operator_metrics(self, jobs) -> dict[tuple[str, str], float]:
        """(layer, metric name) → SQL metric of ``jobs`` summed over every
        operator the plan classification assigns to that layer; times in
        seconds, sizes in bytes."""
        out: dict[tuple[str, str], float] = defaultdict(float)
        for jid in jobs:
            for aid, total in self.accums.get(jid, {}).items():
                node = self.accum_node.get(aid)
                if node is None:
                    continue
                metric, kind, text = node
                layer = classify(text)
                if layer:
                    out[(layer, metric)] += total / _UNIT.get(kind, 1.0)
        return out


_UNIT = {"nsTiming": 1e9, "timing": 1e3}


def _dur(s: dict) -> float:
    return (s["end"] or s["start"]) - s["start"]


def per_layer(fold: Fold, pass_ids: list[str], counts: dict[str, float],
              leaves: list[str]) -> dict[str, float]:
    """The per-layer table, averaged per traced pass. ``pass_ids`` are the
    root spans of the traced passes; ``counts`` come from
    ``Tracer.count_outputs`` (one pass)."""
    P = max(1, len(pass_ids))
    roots = set(pass_ids)
    spans = [s for s in fold.spans.values()
             if fold.under(s["id"], lambda x: x["id"] in roots)]
    ids = {s["id"] for s in spans}
    jobs = {jid: j for jid, j in fold.jobs.items() if j["group"] in ids}
    children: dict[str, float] = defaultdict(float)
    for s in spans:
        if s["parent"] in ids:
            children[s["parent"]] += _dur(s)

    def jobs_where(pred):
        return [j for j in jobs.values() if pred(j)]

    def job_wall(js):
        return sum((j["end"] or j["start"]) - j["start"] for j in js)

    op = fold.operator_metrics(jobs)
    out: dict[str, float] = {}
    for layer in ("sketch", "bands", "pairs", "cluster"):
        own = jobs_where(lambda j, layer=layer: fold.layer_of(j["group"]) == layer)
        out[f"{layer}.wall_s"] = sum(_dur(s) - children[s["id"]]
                                     for s in spans if s["layer"] == layer) / P
        out[f"{layer}.cpu_s"] = sum(j["cpu_s"] for j in own) / P
        if layer == "sketch":
            out["sketch.scan_tasks"] = sum(j["scan_tasks"] for j in own) / P
    out["sketch.rows_in"] = counts.get("sketch.rows_in", 0)
    out["sketch.reps_out"] = counts.get("sketch.reps_out", 0)
    out["sketch.shuffle_write_mb"] = op[("sketch", "shuffle bytes written")] / MB / P
    out["bands.python_udf_s"] = op[("bands", "time to run Python workers")] / P
    for k in ("postings", "hot_keys", "postings_thinned"):
        out[f"bands.{k}"] = counts.get(f"bands.{k}", 0)
    out["bands.shuffle_write_mb"] = op[("bands", "shuffle bytes written")] / MB / P
    cand, ver = counts.get("pairs.candidates", 0), counts.get("pairs.verified", 0)
    out["pairs.candidates"], out["pairs.verified"] = cand, ver
    out["pairs.verify_yield"] = ver / cand if cand else 0.0
    out["pairs.shuffle_read_mb"] = (op[("pairs", "remote bytes read")]
                                    + op[("pairs", "local bytes read")]) / MB / P
    out["pairs.spill_mb"] = op[("pairs", "spill size")] / MB / P
    cc = [s for s in spans if s["name"] == "cluster.connected_components"]
    cc_ids = {s["id"] for s in cc}
    cc_jobs = jobs_where(lambda j: fold.under(j["group"], lambda x: x["id"] in cc_ids))
    out["cluster.driver_s"] = max(0.0, sum(_dur(s) for s in cc) - job_wall(cc_jobs)) / P
    for k in ("edges", "distributed", "iterations"):
        out[f"cluster.{k}"] = counts.get(f"cluster.{k}", 0)
    out["cluster.driver_collect_mb"] = sum(j["result_bytes"] for j in cc_jobs) / MB / P
    for stage in ("sketches", "bands", "pairs", "clusters"):
        out[f"checkpoint.{stage}.wall_s"] = sum(
            _dur(s) for s in spans if s["name"] == f"checkpoint.{stage}") / P
    ck = jobs_where(lambda j: fold.under(j["group"], lambda x: x["layer"] == "checkpoint"))
    out["checkpoint.jobs"] = len(ck) / P
    out["checkpoint.rows_appended"] = counts.get("checkpoint.rows_appended", 0)
    out["checkpoint.bytes_written_mb"] = sum(j["output_bytes"] for j in ck) / MB / P
    batches = sorted(_dur(s) for s in spans if s["name"] == "streaming.batch")
    out["streaming.batches"] = len(batches) / P
    out["streaming.batch_s_p50"] = statistics.median(batches) if batches else 0.0
    out["streaming.batch_s_max"] = batches[-1] if batches else 0.0
    for leaf in leaves:
        out[f"ops.{leaf}.wall_s"] = sum(_dur(s) for s in spans if s["name"] == f"ops.{leaf}") / P
    mixed = jobs_where(lambda j: fold.layer_of(j["group"]) == "mixed")
    out["mixed.cpu_s"] = sum(j["cpu_s"] for j in mixed) / P
    js = list(jobs.values())
    out["spark.jobs"] = len(js) / P
    out["spark.stages"] = sum(len(j["ran_stages"]) for j in js) / P
    out["spark.tasks"] = sum(j["tasks"] for j in js) / P
    out["spark.gc_s"] = sum(j["gc_s"] for j in js) / P
    out["spark.shuffle_mb"] = sum(j["shuffle_write"] for j in js) / MB / P
    out["spark.spill_mb"] = sum(j["spill"] for j in js) / MB / P
    return out
