#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload dash --seed 1 --seconds 10 --trace 0

Workloads (see ``perfbench/METRICS.md``): ``dash``, ``ingest``, ``batch``,
``stream``.  With ``--trace 0`` the result carries the end-to-end metrics;
with ``--trace 1`` the run records spans around calls into the package,
counts py4j round trips, writes Spark's event log and reports the per-layer
metrics instead.  ``--smoke`` runs tiny sizes and checks the metrics printed
(``smoke.py`` runs every workload that way).

The run works only inside the checkout that holds this file: inputs, table
directories, Spark's local and event-log directories and temp files go to
``.bench_work/``, and a detailed record of the run to ``.bench_out/``.
It exits non-zero, without printing a result, when the package is missing
or any step fails.
"""

from __future__ import annotations

import argparse
import importlib
import json
import math
import os
import shutil
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("dash", "ingest", "batch", "stream")


def _metric_specs() -> tuple[list[tuple[str, str]], list[tuple[str, str]]]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e = [(m["name"], m["unit"]) for m in spec["end_to_end"]]
    layer = [(m["name"], m["unit"]) for m in spec["per_layer"]]
    return e2e, layer


def _prepare_env(work: str) -> None:
    """Pin the run environment before Spark or the package is imported."""
    from common import nproc

    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")
    # Python workers do not inherit this process's sys.path
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # every JVM (the launcher too): temp files in the checkout, and no
    # hsperfdata files, which the JVM otherwise writes to /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    import tempfile

    tempfile.tempdir = tmp


def _start_session(work: str, trace: bool):
    from questdb_spark.session import get_session
    from tracing import event_log_conf

    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update(event_log_conf(os.path.join(work, "eventlog")))
    spark = get_session("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_session(spark) -> None:
    """Stop Spark and wait until the JVM (and with it the Python workers) has
    exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001 - the gateway may already be closed
            pass
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            if proc.stdin:
                proc.stdin.close()  # the gateway server exits on stdin EOF
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


class Ctx:
    """What a workload's ``run(ctx, inputs)`` gets besides its inputs: the
    session, the tracer, the run record to fill, its private work directory
    and the length of the measured window."""

    def __init__(self, spark, tracer, run, work, seconds):
        self.spark = spark
        self.tracer = tracer
        self.run = run
        self.work = work
        self.seconds = seconds
        self.calib_ms: list[float] = []

    def calibrate(self) -> None:
        """Time a fixed query; its drift between runs tracks how busy the
        host is.  Called before the measured loop and after it."""
        self.tracer.tag("calibrate")
        t0 = time.perf_counter()
        self.spark.range(0, 2_000_000, numPartitions=4).selectExpr("sum(id * id % 7) AS s").collect()
        self.calib_ms.append((time.perf_counter() - t0) * 1e3)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny sizes; exit 3 unless every metric is a finite number (end-to-end ones above 0)")
    args = ap.parse_args(argv)

    sys.path.insert(0, HERE)
    if not os.path.isfile(os.path.join(ROOT, "questdb_spark", "__init__.py")):
        print(f"perfbench: no questdb_spark package next to {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _prepare_env(work)

    from common import Run, environment, host_delta, log, proc_stat
    from metrics import compute
    from tracing import Tracer, read_event_log

    e2e_spec, layer_spec = _metric_specs()
    run = Run(args.workload)
    run.detail["env"] = environment(ROOT, args.seed)
    tracer = Tracer(bool(args.trace))
    mod = importlib.import_module(f"w_{args.workload}")
    stat0 = proc_stat()
    spark = None
    ctx = None
    rc = 0
    # the workload's inputs are generated while the JVM starts
    box: dict = {}

    def prepare() -> None:
        try:
            box["inputs"] = mod.inputs(work, args.seed, args.smoke)
        except Exception as e:  # noqa: BLE001 - re-raised below
            box["error"] = e

    prep = threading.Thread(target=prepare, name="inputs")
    prep.start()
    try:
        t0 = time.perf_counter()
        spark = _start_session(work, bool(args.trace))
        run.session_start_s = time.perf_counter() - t0
        prep.join()
        if "error" in box:
            raise box["error"]
        tracer.install(spark)
        ctx = Ctx(spark, tracer, run, work, args.seconds)
        mod.run(ctx, box["inputs"])
        ctx.calibrate()
    except Exception:  # noqa: BLE001 - report and exit non-zero
        traceback.print_exc()
        rc = 1
    finally:
        prep.join()
        tracer.uninstall()
        if spark is not None:
            _stop_session(spark)
        if rc:
            shutil.rmtree(work, ignore_errors=True)
    if rc:
        return rc

    run.detail["host"] = {
        **host_delta(stat0, proc_stat()),
        "loadavg_1m": os.getloadavg()[0],
        "calib_ms": max(ctx.calib_ms),
        "calib_all_ms": ctx.calib_ms,
    }
    exec_per_tag = read_event_log(os.path.join(work, "eventlog")) if args.trace else {}
    e2e, layers, extra = compute(run, tracer, exec_per_tag)
    run.detail["extra"] = extra

    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}"
    if args.trace:
        tracer.dump(os.path.join(out_dir, stem + ".spans.jsonl"))
    failed = sum(1 for op in run.ops if not op.ok)
    attempted = max(len(run.ops), 1)
    spec = layer_spec if args.trace else e2e_spec
    values = layers if args.trace else e2e
    metrics = {name: {"value": float(values[name]), "unit": unit} for name, unit in spec}
    result = {
        "correct": not run.failures and failed == 0,
        "attempted": attempted,
        "failed": max(failed, 1 if run.failures else 0),
        "metrics": metrics,
    }
    with open(os.path.join(out_dir, stem + ".json"), "w") as fh:
        json.dump(
            {
                "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                "trace": args.trace, "smoke": args.smoke, "result": result,
                "end_to_end": e2e, "per_layer": layers, "detail": run.detail,
                "setup_reps_s": run.setup_reps_s, "session_start_s": run.session_start_s,
                "failures": run.failures[:50],
                "ops": [{"kind": o.kind, "ms": o.ms, "ok": o.ok, "rows": o.rows, **o.info} for o in run.ops],
            },
            fh, indent=1, default=str,
        )
    shutil.rmtree(work, ignore_errors=True)
    for f in run.failures[:10]:
        log(f"check failed: {f}")
    if args.smoke:
        bad = [n for n, m in metrics.items()
               if not math.isfinite(m["value"]) or (not args.trace and m["value"] <= 0) or not m["unit"]]
        if bad:
            log(f"smoke: bad metrics: {bad}")
            return 3
        log(f"smoke: {len(metrics)} metrics printed with units")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
