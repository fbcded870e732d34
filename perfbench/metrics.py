"""Turn a finished run into its end-to-end and per-layer metrics.

Definitions are in ``perfbench/METRICS.md``.  Every metric named in
``BENCHMARK.json`` is produced for every workload; a per-layer metric of a
layer that a workload does not run reads 0.
"""

from __future__ import annotations

from common import Run, median, nproc, quantile, tail
from tracing import exec_totals

PRIMARY = {"dash": "stmt", "ingest": "commit", "batch": "pass", "stream": "file"}


def _ops(run: Run, kind: str):
    return [o for o in run.ops if o.kind == kind]


def _med(ops, key: str) -> float:
    return median([o.info[key] for o in ops if key in o.info])


def _mean(ops, key: str) -> float:
    vals = [o.info[key] for o in ops if key in o.info]
    return sum(vals) / len(vals) if vals else 0.0


def compute(run: Run, tracer, exec_per_tag: dict) -> tuple[dict, dict, dict]:
    # dash: latency over first-seen statements (a repeated text skips
    # lowering and planning); every statement counts toward ops_per_s
    prim = _ops(run, PRIMARY[run.workload])
    lat = [o.ms for o in prim if o.info.get("first", True)]
    tail_v, tail_pct, beyond = tail(lat)
    e2e = {
        "setup_s": run.setup_s,
        "op_p50_ms": quantile(lat, 0.5),
        "op_tail_ms": tail_v,
        "ops_per_s": len(prim) / run.measured_s if run.measured_s > 0 else 0.0,
    }
    extra = {"op_tail_pct": tail_pct, "op_samples": len(lat), "op_beyond_tail": beyond,
             "measured_s": run.measured_s}

    stmts = _ops(run, "stmt")
    first = [o for o in stmts if o.info.get("first")]
    repeat = [o for o in stmts if not o.info.get("first")]
    commits = _ops(run, "commit")
    reads = _ops(run, "read")
    jobs = _ops(run, "job")
    st = run.detail.get("streaming", {})
    tbl = run.detail.get("table", {})
    host = run.detail.get("host", {})
    wl = run.detail.get("workload", {})

    # exec.* are per-operation means over the measured operations
    measured = [o for o in run.ops if o.info.get("tags")]
    tags = list(dict.fromkeys(t for o in measured for t in o.info["tags"]))
    ex = exec_totals(exec_per_tag, tags)
    n_ops = max(len(measured), 1)
    busy_ms = sum(o.info.get("busy_ms", o.ms) for o in measured)
    in_bytes = sum(o.info.get("input_bytes", 0) for o in commits)
    written = sum(o.info.get("bytes_written", 0) for o in commits)
    build_tags = [o.info["build_tag"] for o in jobs if "build_tag" in o.info]
    passes = max(len(_ops(run, "pass")), 1)

    layers = {
        "session.start_ms": run.session_start_s * 1e3,
        "sqlfront.parse_ms": _med(first, "parse_ms"),
        "sqlfront.lower_first_ms": _med(first, "lower_ms"),
        "sqlfront.lower_repeat_ms": _med(repeat, "lower_ms"),
        "sqlfront.py4j_calls_first": _med(first, "py4j_lower"),
        "sqlfront.py4j_calls_repeat": _med(repeat, "py4j_lower"),
        "operators.build_ms": _med(first, "operators_ms"),
        "sqlfront.insert_overhead_ms": _med(commits, "insert_overhead_ms"),
        "table.append_ms": _med(commits, "append_ms"),
        "table.partitions_rewritten": _mean(commits, "partitions_rewritten"),
        "table.files_written": _mean(commits, "files_written"),
        "table.bytes_written": _mean(commits, "bytes_written"),
        "table.write_amplification": written / in_bytes if in_bytes else 0.0,
        "table.files_live": tbl.get("files_live", 0),
        "table.bytes_per_row": tbl.get("bytes_per_row", 0.0),
        "exec.action_ms": median([o.info.get("action_ms", o.ms) for o in measured]),
        "exec.jobs": ex["jobs"] / n_ops,
        "exec.stages": ex["stages"] / n_ops,
        "exec.tasks": ex["tasks"] / n_ops,
        "exec.executor_run_ms": ex["executor_run_ms"] / n_ops,
        "exec.executor_cpu_ms": ex["executor_cpu_ms"] / n_ops,
        "exec.gc_ms": ex["gc_ms"] / n_ops,
        "exec.input_bytes": ex["input_bytes"] / n_ops,
        "exec.shuffle_read_bytes": ex["shuffle_read_bytes"] / n_ops,
        "exec.shuffle_write_bytes": ex["shuffle_write_bytes"] / n_ops,
        "exec.spill_bytes": ex["spill_bytes"] / n_ops,
        "exec.cpu_utilization": ex["executor_cpu_ms"] / (busy_ms * nproc()) if busy_ms else 0.0,
        "batch.build_ms": sum(o.info.get("build_ms", 0.0) for o in jobs) / passes,
        "batch.build_jobs": exec_totals(exec_per_tag, build_tags)["jobs"] / passes,
        "sources.load_table_ms": sum(o.info.get("load_table_ms", 0.0) for o in jobs) / passes,
        "streaming.batch_ms": st.get("batch_ms", 0.0),
        "streaming.add_batch_ms": st.get("add_batch_ms", 0.0),
        "streaming.planning_ms": st.get("planning_ms", 0.0),
        "streaming.wal_commit_ms": st.get("wal_commit_ms", 0.0),
        "streaming.rows_per_batch": st.get("rows_per_batch", 0.0),
        "streaming.files_per_batch": st.get("files_per_batch", 0.0),
        "streaming.backlog_files": st.get("backlog_files", 0.0),
        "host.steal_pct": host.get("steal_pct", 0.0),
        "host.iowait_pct": host.get("iowait_pct", 0.0),
        "host.loadavg_1m": host.get("loadavg_1m", 0.0),
        "host.calib_ms": host.get("calib_ms", 0.0),
        "trace.self_ms": tracer.self_ns / 1e6,
        "trace.py4j_calls": tracer.py4j_calls,
        "workload.read_p50_ms": median([o.ms for o in reads]),
        "workload.read_tail_ms": tail([o.ms for o in reads])[0],
        "workload.rows_per_s": wl.get("rows_per_s", 0.0),
        "workload.pass_s": wl.get("pass_s", 0.0),
        "workload.gen_late_ms": wl.get("gen_late_ms", 0.0),
    }
    # how much of the operations' wall time Spark jobs cover (the rest is
    # in the client process: lowering, builders, collecting rows)
    extra["exec_job_wall_share"] = ex["job_wall_ms"] / busy_ms if busy_ms else 0.0
    extra["exec_total"] = ex
    extra["exec_per_tag_untagged"] = exec_per_tag.get("<untagged>", {})
    return e2e, layers, extra
