"""The benchmark's own checks; no Spark session needed.

    python3 perfbench/selftest.py          # or: python3 -m pytest perfbench/selftest.py
"""

from __future__ import annotations

import itertools
import json
import os
import re
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import gen  # noqa: E402
from metrics import END_TO_END, PER_LAYER  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")
#: the layers of this repository the benchmark reports on
LAYERS = ("sketch", "bands", "pairs", "cluster", "checkpoint", "streaming", "ops", "spark")
K = 5  # the program's default shingle width, in word tokens


def _shingles(text: str) -> set[tuple[str, ...]]:
    toks = text.split()
    return {tuple(toks[i:i + K]) for i in range(len(toks) - K + 1)}


def test_generator_is_deterministic_per_seed():
    a, b = gen.make_pages(600, 3, hot_size=30), gen.make_pages(600, 3, hot_size=30)
    assert a.equals(b)
    c = gen.make_pages(600, 4, hot_size=30)
    assert not a["text"].equals(c["text"])
    assert a["url"].is_unique and len(a) >= 600


def test_generator_truth_matches_exact_containment():
    """Planted groups agree with exact shingle containment (the quantity
    the pipeline's cutoff applies to): every pair in one group is above
    50%, every pair across groups below it; pages too short to shingle
    are duplicates exactly when their text is identical."""
    pdf = gen.make_pages(250, 5, hot_size=20)
    sh = [_shingles(t) for t in pdf["text"]]
    for i, j in itertools.combinations(range(len(pdf)), 2):
        same = pdf["group"].iat[i] == pdf["group"].iat[j]
        a, b = sh[i], sh[j]
        if not a or not b:
            assert same == (pdf["text"].iat[i] == pdf["text"].iat[j]), (i, j)
            continue
        containment = len(a & b) / min(len(a), len(b))
        assert (containment > 0.5) == same, (i, j, containment)


def test_decoys_share_runs_below_the_cutoff():
    """Each decoy pair is two groups whose containment is high enough to
    share LSH bands but below the cutoff, so only verify rejects it."""
    pdf = gen.make_pages(1500, 2, hot_size=20)
    pairs = pdf[pdf["decoy_pair"] >= 0].groupby("decoy_pair")
    assert pairs.ngroups >= 20
    for _, pair in pairs:
        assert len(pair) == 2 and pair["group"].nunique() == 2
        a, b = (_shingles(t) for t in pair["text"])
        assert 0.2 < len(a & b) / min(len(a), len(b)) < 0.5


def test_generator_plants_every_category():
    pdf = gen.make_pages(2000, 1)
    sizes = pdf["group"].value_counts()
    assert sizes.max() >= 400 > 256  # the hot cluster outgrows band_cap
    assert (pdf["text"] == "").sum() >= 2
    short = pdf["text"].str.split().str.len().between(1, K - 1)
    assert short.sum() >= 4
    assert (sizes >= 2).sum() > 50  # exact groups and near-dup chains


def test_pair_scores():
    import pandas as pd

    truth = pd.Series([1, 1, 1, 2, 2, 3])
    assert gen.pair_scores(truth, truth) == (1.0, 1.0, 4, 4)
    pred = pd.Series([1, 1, 9, 2, 2, 2])  # splits one pair off, adds two
    recall, precision, t, p = gen.pair_scores(truth, pred)
    assert (t, p) == (4, 4) and recall == 0.5 and precision == 0.5


def _tiny_log() -> list[dict]:
    """A hand-built event log in Spark's JSON layout: one job tagged with
    span ``s1`` (two tasks, a bands exchange), one untagged job inside
    span ``s2``'s time window."""
    plan = {
        "nodeName": "Exchange",
        "simpleString": "Exchange hashpartitioning(bkey#12L, 4), REPARTITION_BY_COL",
        "metrics": [{"name": "shuffle bytes written", "accumulatorId": 7, "metricType": "size"},
                    {"name": "time to run Python workers", "accumulatorId": 8,
                     "metricType": "nsTiming"}],
        "children": [],
    }

    def task(stage, cpu_ns, written, acc):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Info": {"Accumulables": acc},
                "Task Metrics": {"Executor Run Time": 500, "Executor CPU Time": cpu_ns,
                                 "JVM GC Time": 10, "Result Size": 1000,
                                 "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0,
                                 "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                                          "Local Bytes Read": 64},
                                 "Shuffle Write Metrics": {"Shuffle Bytes Written": written},
                                 "Input Metrics": {"Bytes Read": 100, "Records Read": 5},
                                 "Output Metrics": {"Bytes Written": 0}}}

    return [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 0, "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000_000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "s1"}},
        task(0, 2_000_000_000, 1024 * 1024, [{"ID": 7, "Update": 1024 * 1024},
                                             {"ID": 8, "Update": 500_000_000}]),
        task(1, 1_000_000_000, 0, [{"ID": 7, "Update": 1024 * 1024}]),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1002_000},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1005_500,
         "Stage IDs": [2], "Properties": {}},
        task(2, 3_000_000_000, 0, []),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1006_000},
    ]


def test_event_log_fold_on_a_tiny_tagged_job():
    import tempfile

    spans = [
        {"id": "root", "name": "w.pass", "layer": None, "parent": None,
         "start": 999.0, "end": 1010.0},
        {"id": "s1", "name": "bands.thin_hot_bkeys", "layer": "bands", "parent": "root",
         "start": 999.5, "end": 1003.0},
        {"id": "s2", "name": "cluster.connected_components", "layer": "cluster",
         "parent": "root", "start": 1005.0, "end": 1007.0},
    ]
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "app-1")
        with open(path, "w") as f:
            f.writelines(json.dumps(ev) + "\n" for ev in _tiny_log())
        fold = eventlog.Fold(eventlog.read_events(path), spans)
    assert fold.jobs[0]["group"] == "s1" and fold.jobs[0]["tasks"] == 2
    assert fold.jobs[1]["group"] == "s2"  # untagged: by time window
    assert abs(fold.jobs[0]["cpu_s"] - 3.0) < 1e-9
    ops = fold.operator_metrics([0, 1])
    assert ops[("bands", "shuffle bytes written")] == 2 * 1024 * 1024
    assert abs(ops[("bands", "time to run Python workers")] - 0.5) < 1e-9
    table = eventlog.per_layer(fold, ["root"], {"pairs.candidates": 10, "pairs.verified": 4}, [])
    assert abs(table["bands.wall_s"] - 3.5) < 1e-9
    assert abs(table["bands.cpu_s"] - 3.0) < 1e-9
    assert abs(table["bands.shuffle_write_mb"] - 2.0) < 1e-9
    assert abs(table["bands.python_udf_s"] - 0.5) < 1e-9
    assert abs(table["cluster.cpu_s"] - 3.0) < 1e-9
    assert abs(table["cluster.driver_s"] - 1.5) < 1e-9  # 2 s span, 0.5 s job
    assert table["pairs.verify_yield"] == 0.4
    assert table["spark.jobs"] == 2 and table["spark.tasks"] == 3
    assert abs(table["spark.shuffle_mb"] - 1.0) < 1e-9


def test_metric_names_and_units():
    names = list(END_TO_END) + list(PER_LAYER)
    assert len(names) == len(set(names))
    for name, unit in {**END_TO_END, **PER_LAYER}.items():
        assert NAME.fullmatch(name), name
        assert UNIT.fullmatch(unit), (name, unit)


def test_every_layer_has_a_metric():
    for layer in LAYERS:
        assert any(n.startswith(layer + ".") for n in PER_LAYER), layer


def test_benchmark_json_lists_the_printed_metrics():
    path = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
    if not os.path.exists(path):
        return
    with open(path) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == PER_LAYER
    assert any(m["name"] == "setup_s" for m in bench["end_to_end"])
    for w in bench["workloads"]:
        assert w["name"] in WORKLOADS and len(w["why"]) <= 200, w["name"]


if __name__ == "__main__":
    tests = [(n, f) for n, f in sorted(globals().items()) if n.startswith("test_")]
    for name, fn in tests:
        fn()
        print("ok", name)
    print(f"{len(tests)} passed")
