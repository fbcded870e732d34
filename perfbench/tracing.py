"""Tracing for the ``--trace 1`` run.

Spans are recorded from the benchmark's own code, around calls into the
package's public functions, by rebinding those functions for the length of
the run.  The program itself is not modified.  Layers are the package's
modules:

- ``sqlfront``: ``parser.parse`` and ``QdbEngine.sql`` (lowering);
- ``operators``: the operator functions as the dialect engine calls them;
- ``table``: ``TimeTable.append``;
- ``sources``: ``sources.parquet.load_table`` wherever it was imported;
- ``py4j``: every round trip to the JVM (``ClientServerConnection.send_command``).

Spark execution (``exec``) is read from Spark's event log after the session
stops.  Jobs are attributed to operations through a local property set with
``SparkContext.setLocalProperty`` (``PROP``), which the dialect engine's
per-statement job groups do not overwrite.

Spans stay in memory and are written out when the run ends.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import sys
import time
from collections import defaultdict

PROP = "perfbench.op"

OPERATOR_FNS = (
    "asof_join", "lt_join", "splice_join", "window_join", "markout_agg",
    "sample_by", "latest_on",
)


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[tuple[str, str, int, int]] = []  # layer, op, t0_ns, t1_ns
        self.py4j_calls = 0
        self.op = ""
        self._depth: dict[str, int] = defaultdict(int)
        self._undo: list[tuple[object, str, object]] = []
        self._sc = None
        self.self_ns = 0  # time spent in the tracer's own bookkeeping

    # -- patching --------------------------------------------------------
    def _set(self, owner, name: str, value) -> None:
        self._undo.append((owner, name, getattr(owner, name)))
        setattr(owner, name, value)

    def _wrap(self, layer: str, fn):
        tr = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            tr._depth[layer] += 1
            t0 = time.perf_counter_ns()
            try:
                return fn(*args, **kwargs)
            finally:
                t1 = time.perf_counter_ns()
                tr._depth[layer] -= 1
                if tr._depth[layer] == 0:  # outermost call of the layer only
                    tr.spans.append((layer, tr.op, t0, t1))
                tr.self_ns += time.perf_counter_ns() - t1

        return traced

    def install(self, spark) -> None:
        if not self.enabled:
            return
        import py4j.clientserver as cs

        from questdb_spark import table
        from questdb_spark.sources import parquet
        from questdb_spark.sqlfront import engine, parser

        self._sc = spark.sparkContext
        orig_send = cs.ClientServerConnection.send_command
        tr = self

        def counted(conn, command):
            tr.py4j_calls += 1
            return orig_send(conn, command)

        self._set(cs.ClientServerConnection, "send_command", counted)
        wrapped_parse = self._wrap("sqlfront.parse", parser.parse)
        self._set(parser, "parse", wrapped_parse)
        self._set(engine, "parse", wrapped_parse)
        self._set(engine.QdbEngine, "sql", self._wrap("sqlfront.sql", engine.QdbEngine.sql))
        for name in OPERATOR_FNS:
            self._set(engine, name, self._wrap("operators", getattr(engine, name)))
        self._set(table.TimeTable, "append", self._wrap("table.append", table.TimeTable.append))
        orig_load = parquet.load_table
        wrapped_load = self._wrap("sources.load_table", orig_load)
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("questdb_spark") and getattr(mod, "load_table", None) is orig_load:
                self._set(mod, "load_table", wrapped_load)

    def uninstall(self) -> None:
        while self._undo:
            owner, name, value = self._undo.pop()
            setattr(owner, name, value)

    # -- operation scoping -----------------------------------------------
    def tag(self, op: str) -> None:
        """Name the current operation: spans and Spark jobs from now on are
        attributed to it."""
        self.op = op
        if self.enabled and self._sc is not None:
            self._sc.setLocalProperty(PROP, op)

    def mark(self) -> tuple[int, int]:
        return len(self.spans), self.py4j_calls

    def since(self, mark: tuple[int, int], layer: str) -> float:
        """Milliseconds spent in ``layer`` since ``mark``."""
        return sum(t1 - t0 for lay, _, t0, t1 in self.spans[mark[0]:] if lay == layer) / 1e6

    def calls_since(self, mark: tuple[int, int]) -> int:
        return self.py4j_calls - mark[1]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for layer, op, t0, t1 in self.spans:
                fh.write(json.dumps({"layer": layer, "op": op, "t0_ns": t0, "t1_ns": t1}) + "\n")


# --------------------------------------------------------------------------
# Spark event log
# --------------------------------------------------------------------------

EXEC_KEYS = (
    "jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms", "gc_ms",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "input_bytes",
    "job_wall_ms",
)


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def read_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Per-operation execution totals from the (uncompressed, non-rolling)
    event log: operation tag -> EXEC_KEYS.  Jobs without a tag (the
    streaming query's own jobs) are filed under ``"<untagged>"``."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(EXEC_KEYS, 0.0))
    stage_tag: dict[int, str] = {}
    job_tag: dict[int, str] = {}
    job_start: dict[int, int] = {}
    stages_seen: set[tuple[str, int]] = set()
    for f in files:
        with open(f) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    tag = props.get(PROP) or "<untagged>"
                    jid = ev["Job ID"]
                    job_tag[jid] = tag
                    job_start[jid] = ev.get("Submission Time", 0)
                    out[tag]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_tag.setdefault(sid, tag)
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in job_tag:
                        out[job_tag[jid]]["job_wall_ms"] += max(0, ev.get("Completion Time", 0) - job_start[jid])
                elif kind == "SparkListenerTaskEnd":
                    sid = ev.get("Stage ID")
                    tag = stage_tag.get(sid, "<untagged>")
                    o = out[tag]
                    o["tasks"] += 1
                    stages_seen.add((tag, sid))
                    m = ev.get("Task Metrics") or {}
                    o["executor_run_ms"] += m.get("Executor Run Time", 0)
                    o["executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                    o["gc_ms"] += m.get("JVM GC Time", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    o["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    o["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    o["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    o["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    for tag, _sid in stages_seen:
        out[tag]["stages"] += 1
    return dict(out)


def exec_totals(per_tag: dict[str, dict[str, float]], tags) -> dict[str, float]:
    tot = dict.fromkeys(EXEC_KEYS, 0.0)
    for t in tags:
        for k, v in per_tag.get(t, {}).items():
            tot[k] += v
    return tot
