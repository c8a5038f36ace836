"""jam-spark benchmark: one closed-loop workload per invocation.

    python3 perfbench/run.py --workload incremental_ingest --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The benchmark generates its inputs from
``--seed``, starts a ``local[4]`` session through the program's own
``jam_spark.session.get_spark``, sets up (inputs, base state, and a cold
first pass that doubles as the correctness pass where it can), then runs
timed passes back to back until ``--seconds`` have gone by, then runs
the checks that need the timed passes' output. The last line of stdout
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. The exit code is 0 only when every
correctness check passed and no operation failed.

``--trace 1`` alternates untraced and traced passes (at least three:
untraced, traced, untraced). Traced passes wrap the layers' public
functions (``spans.py``), tag their Spark jobs, and fold the session's
event log (``eventlog.py``) into the per-layer table;
``trace.overhead_s`` is the traced median wall minus the median of the
untraced passes after the first.

Everything the run writes goes under ``.perfbench_work/`` in the
checkout and is removed at exit, except shuffle and spill files, which
Spark writes to the program's own ``spark.local.dir`` and removes at stop.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import procstat
import spans as tracing
from metrics import END_TO_END, OPS_LEAVES, PER_LAYER
from workloads import WORKLOADS, Run

CORES = 4

def _environment(work: str, trace: bool) -> None:
    """Keep the temporary files of the JVM and the Python workers in the
    work dir; turn the event log on for traced runs. Shuffle and spill
    stay where the program's ``get_spark`` puts them (``spark.local.dir``),
    so they are measured as the program runs them."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    confs = {"spark.ui.showConsoleProgress": "false"}
    if trace:
        logs = os.path.join(work, "eventlog")
        os.makedirs(logs)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + logs,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = " ".join(f"--conf {k}={v}" for k, v in confs.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"


def _start_spark():
    from jam_spark import session

    spark = session.get_spark(app="perfbench", cores=CORES, shuffle_partitions=CORES,
                              driver_mem="3g")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session and the JVM, then wait for every process the run
    started (the JVM's Python workers included) to be gone."""
    from pyspark import SparkContext

    started = set(procstat.tree()) - {os.getpid()}
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while started and time.time() < deadline:
        started = {pid for pid in started if os.path.exists(f"/proc/{pid}")}
        time.sleep(0.2)
    for pid in started:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass


def _metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    sys.path.insert(0, root)
    try:
        import jam_spark  # noqa: F401 - the program under test
    except ImportError as ex:
        print(f"perfbench: cannot import the program from {root}: {ex}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    t_start = time.time()
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return _run(args, work, t_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


def _run(args, work: str, t_start: float) -> int:
    spark = None
    try:
        _environment(work, bool(args.trace))
        spark = _start_spark()
        phases = {"session_s": time.time() - t_start}
        tracer = tracing.Tracer(spark) if args.trace else None
        run = Run(spark, work, args.seed, tracing.NullTracer())
        wl = WORKLOADS[args.workload](run)
        wl.setup()
        setup_s = time.time() - t_start - run.check_s
        phases.update(run.phases)

        walls: dict[bool, list[float]] = {False: [], True: []}
        cpus: list[float] = []
        pass_ids: list[str] = []
        t_loop = time.time()
        i = 0
        # a traced run alternates untraced and traced passes; the first
        # pass follows the cold one (the session's first drain on
        # incremental_ingest), so it stays out of trace.overhead_s, which
        # compares the traced passes with the untraced ones after it
        min_passes = 3 if tracer else 1
        while time.time() - t_loop < args.seconds or i < min_passes:
            traced = bool(tracer) and i % 2 == 1
            if hasattr(wl, "before_pass"):
                wl.before_pass()
            if traced:
                tracer.install()
                tracer.begin_pass()
                run.tracer = tracer
            c0, t0 = procstat.cpu_seconds(), time.perf_counter()
            if traced:
                with tracer.span(f"{args.workload}.pass") as root_span:
                    wl.run_pass()
                pass_ids.append(root_span.id)
            else:
                wl.run_pass()
            walls[traced].append(time.perf_counter() - t0)
            if not traced:
                cpus.append(procstat.cpu_seconds() - c0)
            if traced:
                run.tracer = tracing.NullTracer()
                tracer.uninstall()
                tracer.count_outputs(wl.layer_counts() if hasattr(wl, "layer_counts") else None)
            i += 1
        peak_rss = procstat.peak_rss_mb()
        if hasattr(wl, "finish"):
            wl.finish()
    finally:
        if spark is not None:
            _stop_spark(spark)

    checks_ok = sum(ok for _, ok, _ in run.checks)
    correct = checks_ok == len(run.checks) and run.failed == 0
    wall = statistics.median(walls[False])
    q = statistics.quantiles(walls[False], n=4) if len(walls[False]) > 1 else [wall] * 3
    detail = {
        "workload": args.workload, "seed": args.seed, "passes": len(walls[False]),
        "wall_s_quartiles": [round(v, 4) for v in q], "walls": [round(v, 4) for v in walls[False]],
        "cpus": [round(v, 2) for v in cpus],
        "phases": {k: round(v, 2) for k, v in phases.items()}, "check_s": round(run.check_s, 2),
        "failed_checks": [(n, d) for n, ok, d in run.checks if not ok],
    }
    if tracer is None:
        values = {
            "wall_s": wall,
            "docs_per_s": wl.docs / wall,
            "cpu_s": statistics.median(cpus),
            "peak_rss_mb": peak_rss,
            "setup_s": setup_s,
            "dup_pair_recall": run.quality.get("dup_pair_recall", 0.0),
            "dup_pair_precision": run.quality.get("dup_pair_precision", 0.0),
            "correct_ratio": checks_ok / max(1, len(run.checks)),
        }
        metrics = {k: _metric(values[k], u) for k, u in END_TO_END.items()}
    else:
        import eventlog

        logs = os.path.join(work, "eventlog")
        events = eventlog.read_events(os.path.join(logs, os.listdir(logs)[0]))
        fold = eventlog.Fold(events, [s.as_dict() for s in tracer.spans])
        table = eventlog.per_layer(fold, pass_ids, tracer.counts, OPS_LEAVES)
        table["trace.overhead_s"] = (statistics.median(walls[True])
                                     - statistics.median(walls[False][1:]))
        metrics = {k: _metric(table[k], u) for k, u in PER_LAYER.items()}
        detail["traced_walls"] = [round(v, 4) for v in walls[True]]
    print(json.dumps(detail))
    print(json.dumps({"correct": correct, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0 if correct else 1

if __name__ == "__main__":
    sys.exit(main())
