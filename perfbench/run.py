"""Benchmark of the ingest pipeline and the catalog, end to end.

Run from the repository root:

    python3 perfbench/run.py --workload ingest_ticks --seed 1 --seconds 5 --trace 0

One operation is a scheduler tick on ``ingest_ticks`` and a pass over the
entry list on ``catalog``; ``op_p50_s`` is the median operation time.
Operations run back-to-back until their timed seconds reach
``--seconds`` and the workload's minimum sample count (``MIN_OPS``).
``--trace 0`` measures the end-to-end metrics with no tracing installed;
``--trace 1`` is the separate traced run that gives the per-layer
metrics and writes its spans to ``.perfbench_out/``. The events feed
is generated from ``--seed`` (see ``gen.py``); the catalog reads the
committed sf0.01 test tables. The last line of standard output is one JSON object; the line before it is a human-readable
summary. The exit code is non-zero when an operation fails or a
correctness check does not hold.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

from workloads import WORKLOADS, stat  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
OUT_DIR = os.path.join(ROOT, ".perfbench_out")

# per_layer metric -> (end-to-end metric it should move, workload it
# moves on, workload it should not move on); written into every trace
LAYER_MAP = {
    "session.start_s": ("setup_s", "all", "-"),
    "session.checkpoints": ("op_p50_s", "catalog", "-"),
    "session.leaked_rdds": ("op_p50_s", "catalog", "-"),
    "spark.jobs": ("op_p50_s", "ingest_ticks", "-"),
    "spark.stages": ("op_p50_s", "ingest_ticks", "-"),
    "spark.tasks": ("op_p50_s", "ingest_ticks", "-"),
    "spark.driver_s": ("op_p50_s", "ingest_ticks", "-"),
    "spark.task_s": ("op_p50_s", "catalog", "-"),
    "spark.shuffle_bytes": ("op_p50_s", "catalog", "-"),
    "pipeline.self_s": ("op_p50_s", "ingest_ticks", "catalog"),
    "pipeline.rows_catchup": ("op_p50_s", "ingest_ticks", "catalog"),
    "pipeline.rows_general": ("op_p50_s", "ingest_ticks", "catalog"),
    "sink.write_s": ("op_p50_s", "ingest_ticks", "catalog"),
    "sink.rows_appended": ("op_p50_s", "ingest_ticks", "catalog"),
    "sink.drop_ratio": ("op_p50_s", "ingest_ticks", "catalog"),
    "sink.files": ("op_p50_s", "ingest_ticks", "catalog"),
    "sink.bytes_per_row": ("op_p50_s", "ingest_ticks", "catalog"),
    "watermark.advance_s": ("op_p50_s", "ingest_ticks", "catalog"),
    "watermark.read_s": ("op_p50_s", "ingest_ticks", "catalog"),
    "catalog.*.build_s": ("op_p50_s", "catalog", "ingest_ticks"),
    "catalog.*.exec_s": ("op_p50_s", "catalog", "ingest_ticks"),
    "streaming.*": ("op_p50_s", "catalog", "ingest_ticks"),
    "trace.op_p50_s": ("op_p50_s", "all", "-"),
}


def _pin_environment(run_dir: str) -> None:
    """Pin what Spark and its Python workers inherit; must run before the
    JVM starts. Every scratch file the run writes stays under ``run_dir``."""
    tmp = os.path.join(run_dir, "tmp")
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEMORY": "4g",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "SPARK_WAREHOUSE_DIR": os.path.join(run_dir, "warehouse"),
        "TMPDIR": tmp,
        "TZ": "UTC",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            [ROOT, HERE] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false "
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"),
    })
    time.tzset()
    sys.path[:0] = [ROOT]


def _stop(spark) -> None:
    """Stop Spark and wait until the JVM it launched has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "backend_etl_spark")):
        print("perfbench: run from the repository root (backend_etl_spark/ not found)",
              file=sys.stderr)
        return 2

    run_dir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    _pin_environment(run_dir)
    spark = None
    try:
        from backend_etl_spark.session import get_spark

        import tracing

        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        session_start_s = time.perf_counter() - t0
        workload = WORKLOADS[args.workload](spark, os.path.join(run_dir, "data"), args.seed)
        workload.setup()
        tracer = None
        if args.trace:
            tracer = tracing.Tracer(spark)
            tracer.install()
            workload.tracer = tracer
        setup_s = time.perf_counter() - T_START

        # closed loop: operations back-to-back until their timed seconds
        # add up to --seconds (untimed checks between them do not count)
        # and the workload's minimum sample count is reached
        times, failed, timed = [], 0, 0.0
        while timed < args.seconds or len(times) < workload.MIN_OPS:
            t0 = time.perf_counter()
            try:
                times.append(workload.op())
                timed += times[-1]
            except Exception:
                traceback.print_exc()
                failed += 1
                times.append(None)
                timed += time.perf_counter() - t0
        if tracer is not None:
            tracer.uninstall()
        try:
            fails = workload.check()
        except Exception as exc:  # a check that cannot run has failed
            traceback.print_exc()
            fails = [f"check raised {exc!r}"]
        for msg in fails:
            print(f"perfbench: check failed: {msg}", file=sys.stderr)
        ok_times = [t for t in times if t is not None]
        attempted = len(times)
        failed = min(attempted, failed + len(fails))
        p50 = statistics.median(ok_times) if ok_times else None

        # the per-workload metrics by name, each with its unit and sample count
        summary = {"workload": args.workload, "seed": args.seed, "op_p50_s": p50,
                   "op_s": [t and round(t, 3) for t in times],
                   "setup_s": stat(setup_s, "s", 1),
                   "error_rate": stat(failed / attempted, "fraction", attempted)}
        summary.update(workload.summary(ok_times))

        if args.trace:
            metrics = _layer_metrics({"session.start_s": session_start_s,
                                      "trace.op_p50_s": p50, **workload.layer_metrics()})
            _write_trace(args, tracer, workload, metrics, summary)
            result_metrics = {k: {"value": v, "unit": _unit(k)} for k, v in metrics.items()}
        else:
            result_metrics = {"op_p50_s": {"value": p50, "unit": "s"},
                              "setup_s": {"value": setup_s, "unit": "s"}}
            _write_json(f"{args.workload}-seed{args.seed}-trace0.json", summary)
        print("summary: " + json.dumps(summary))
        print(json.dumps({"correct": not failed, "attempted": attempted,
                          "failed": failed, "metrics": result_metrics}))
        return 0 if not failed else 1
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass


def _per_layer() -> list[dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)["per_layer"]


def _layer_metrics(measured: dict) -> dict:
    """Every per-layer metric BENCHMARK.json names, in its order. A layer
    the workload never calls reports 0, which is the prediction for it."""
    names = [m["name"] for m in _per_layer()]
    unknown = set(measured) - set(names)
    if unknown:
        raise KeyError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
    return {n: measured.get(n, 0) for n in names}


def _unit(name: str) -> str:
    return {m["name"]: m["unit"] for m in _per_layer()}[name]


def _write_json(name: str, obj) -> None:
    os.makedirs(OUT_DIR, exist_ok=True)
    with open(os.path.join(OUT_DIR, name), "w") as fh:
        json.dump(obj, fh, indent=1, default=str)


def _write_trace(args, tracer, workload, metrics: dict, summary: dict) -> None:
    """Spans, per-operation records and per-layer metrics of the traced
    run; with the untraced run of the same workload and seed on disk, also
    the tracing overhead (traced median over untraced median)."""
    untraced = os.path.join(OUT_DIR, f"{args.workload}-seed{args.seed}-trace0.json")
    overhead = None
    if os.path.exists(untraced):
        with open(untraced) as fh:
            base = json.load(fh)
        overhead = metrics["trace.op_p50_s"] / base["op_p50_s"] - 1.0
        summary["trace_overhead"] = round(overhead, 4)
    _write_json(f"trace-{args.workload}-seed{args.seed}.json", {
        "summary": summary, "metrics": metrics, "overhead": overhead,
        "layer_map": {k: dict(zip(("moves", "on", "no_move_on"), v))
                      for k, v in LAYER_MAP.items()},
        "records": workload.records, "spans": tracer.spans,
    })


if __name__ == "__main__":
    sys.exit(main())
