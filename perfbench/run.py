"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload usda_etl --seed 1 --seconds 10 --trace 0

Run from the repository root. It writes the workload's seeded inputs
under ``perfbench/.work``, starts a ``local[<cores>]`` session through
the engine's ``get_spark``, makes the cold first call, then repeats the
workload's operation for ``--seconds`` and checks every output.

With ``--trace 0`` the last line of stdout is a JSON object whose
metrics are the end-to-end metrics of BENCHMARK.json; with ``--trace 1``
they are its per-layer metrics, from spans around each layer call, the
Spark status tracker and the Spark event log (switched on for this run
through the session's launch settings). The lines before it name every
figure with its unit; ``perfbench/.work/results/`` keeps the full record
of each run (host facts, spans, per-layer and per-query figures).
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import platform
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SPARK_LAYER = ("task_s", "core_util", "shuffle_write_mb", "spill_mb", "input_mb", "output_mb",
               "driver_gap_s")
PER_LAYER_UNITS = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count", "spark.task_s": "s",
    "spark.core_util": "ratio", "spark.gc_s": "s", "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB", "spark.input_mb": "MB", "spark.output_mb": "MB",
    "spark.driver_gap_s": "s", "trace.overhead": "ratio",
}


def launch_env(work: str, event_log: str | None) -> dict:
    """Session launch settings: every file Spark, the JVM and Python
    workers write stays under ``work``; a traced run logs events."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": f"file://{event_log}",
                     "spark.eventLog.rolling.enabled": "false", "spark.eventLog.compress": "false"})
    return {
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": " ".join(f"--conf {k}={v}" for k, v in conf.items()) + " pyspark-shell",
        # local[$(nproc)] unless the caller pinned the core count
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0)))),
    }


def stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait for it to exit (it
    exits when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def host_facts(spark) -> dict:
    import duckdb
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "master": spark.sparkContext.master,
        "driver_memory": spark.conf.get("spark.driver.memory", "unset"),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "duckdb": duckdb.__version__,
    }


def per_layer(w, counts: list[dict], event_log: str) -> tuple[dict, dict]:
    """Per-operation medians of the Spark figures of each traced
    operation, and (for the artifact) the same fold per span name."""
    from tracing import EventFold, median, read_event_log

    fold = EventFold(read_event_log(event_log))
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    tr = w.tracer

    def fold_spans(ids: list[int]) -> dict:
        groups = {tr.group(i) for s in ids for i in tr.subtree(s)}
        return fold.metrics(groups, [(tr.spans[s]["start"], tr.spans[s]["end"]) for s in ids], cores)

    per_op = [fold_spans(ids) for ids in w.op_spans]
    out = {f"spark.{k}": median([c[k] for c in counts]) for k in ("jobs", "stages", "tasks")}
    out.update({f"spark.{k}": median([m[k] for m in per_op]) for k in SPARK_LAYER})
    # per-task GC time reads 0 for short tasks; the JVM-wide collector
    # time over the operation's spans is the local-mode equivalent
    out["spark.gc_s"] = median([sum(tr.spans[s]["jvm_gc_s"] for s in ids) for ids in w.op_spans])
    out["trace.overhead"] = median(w.traced_op_s) / median(w.op_s) - 1.0
    by_name: dict[str, list[dict]] = {}
    for s in tr.spans:
        by_name.setdefault(s["name"], []).append(fold_spans([s["id"]]))
    spark_by_span = {n: {k: median([m[k] for m in ms]) for k in SPARK_LAYER} for n, ms in by_name.items()}
    return out, spark_by_span


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    if importlib.util.find_spec("usda_food_data_pipeline_spark") is None:
        print("perfbench: the engine package is not importable from the repository root",
              file=sys.stderr)
        return 2
    from workloads import WORK, WORKLOADS

    if a.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {a.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    traced = bool(a.trace)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    run_dir = os.path.join(WORK, f"run-{tag}-{os.getpid()}")
    event_log = os.path.join(run_dir, "eventlog") if traced else None
    os.environ.update(launch_env(run_dir, event_log))
    spark = None
    try:
        w = WORKLOADS[a.workload](run_dir, a.seed, traced)
        sizes = w.prepare()

        t0 = time.perf_counter()
        from usda_food_data_pipeline_spark.session import get_spark

        spark = get_spark(f"perfbench-{a.workload}")
        session_s = time.perf_counter() - t0
        w.start(spark)
        w.warm_up()
        setup_s = time.perf_counter() - t0

        w.measure(a.seconds)
        from tracing import jvm_pid, median, vm_hwm_mb

        peak_rss_mb = vm_hwm_mb() + vm_hwm_mb(jvm_pid(spark))
        facts = host_facts(spark)
        counts = [
            {k: sum(w.tracer.job_counts(s)[k] for s in ids) for k in ("jobs", "stages", "tasks")}
            for ids in w.op_spans
        ]
        w.finish()
        stop_session(spark)
        spark = None

        e2e = {
            "setup_s": (setup_s, "s"),
            "op_ms_p50": (median(w.op_s) * 1000.0, "ms"),
        }
        # printed and recorded, not gated: under a 16g heap the JVM's
        # resident set follows its adaptive heap sizing (IQR ~30% of the
        # median over five seeds), not the workload
        w.report["peak_rss_mb"] = peak_rss_mb
        record = {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "host": facts, "inputs": sizes, "ops": len(w.op_s),
            "attempted": w.ops.attempted, "failed": w.ops.failed,
            "op_fail_ratio": w.ops.fail_ratio, "errors": w.ops.errors[:20],
            "end_to_end": {k: v for k, (v, _) in e2e.items()}, "workload_figures": w.report,
            "op_s": w.op_s, "warm_s": w.warm_s, "session_s": session_s,
        }
        if traced:
            layer, by_span = per_layer(w, counts, event_log)
            metrics = {k: (v, PER_LAYER_UNITS[k]) for k, v in layer.items()}
            for sid, self_s in w.tracer.self_times().items():
                w.tracer.spans[sid]["self_s"] = self_s
            record.update(per_layer=layer, spark_by_span=by_span, traced_op_s=w.traced_op_s,
                          spans=w.tracer.spans)
        else:
            metrics = e2e
        os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
        with open(os.path.join(WORK, "results", f"{tag}.json"), "w", encoding="utf-8") as f:
            json.dump(record, f, indent=1, default=str)
    finally:
        if spark is not None:  # a failed run stops its JVM too
            stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    for k, v in sorted(facts.items()):
        print(f"host {k} = {v}")
    print(f"op_fail_ratio {w.ops.fail_ratio} ({w.ops.failed} of {w.ops.attempted} operations)")
    for k, (v, unit) in e2e.items():
        print(f"{a.workload} {k} {v} {unit}")
    for k, v in w.report.items():
        print(f"{a.workload} {k} {v}")
    for e in w.ops.errors[:5]:
        print(f"error: {e}")
    print(json.dumps({
        "correct": w.ops.failed == 0,
        "attempted": w.ops.attempted,
        "failed": w.ops.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
