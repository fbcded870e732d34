"""``stream``: open-loop ILP ingest through Structured Streaming.

A generator thread writes one seeded ILP file of ``LINES`` trades every
``PERIOD_S`` seconds (~10% of the rows up to 48 h late) into a directory
that ``streaming.ingest.start_ilp_ingest(lines_path=..., dedup_keys=["sym"])``
drains on its default trigger.  Set-up starts the query on fresh
directories, feeds one small file and waits for its commit; it is repeated
and the query stopped each time.  The measured query then runs while the
generator writes for ``--seconds`` after a short warm-up window.

One operation is one generated file; its latency is the freshness: from the
moment the file was due to the commit of the micro-batch that read it
(open loop, so a stall also delays the files queued behind it).  Which
batch read which file, and when it committed, come from the query's
checkpoint (``sources/0/<batch>`` and ``commits/<batch>``).

After the query stops, ``read_deduped`` over the output is compared with a
pandas last-write-wins replay of every line written.
"""

from __future__ import annotations

import json
import os
import threading
import time

import numpy as np

import data
from common import Op, frame_rows, log, same_rows, spark_rows

SIZES = {"full": 1_250, "smoke": 300}
PERIOD_S = 0.5
WARM_S = 8.0  # the measured query's batches keep getting faster for ~10 batches
SETUP_REPS = 3
DRAIN_TIMEOUT_S = 60.0
COLS = ["ts", "sym", "side", "price", "amount"]


class Generator(threading.Thread):
    """Writes ILP files on a fixed schedule, each atomically (write to a
    hidden name, then rename), and records when each was due and written."""

    def __init__(self, feed: data.TradeFeed, out_dir: str, t0: float, stop_at: float):
        super().__init__(daemon=True)
        self.feed, self.out_dir, self.t0, self.stop_at = feed, out_dir, t0, stop_at
        self.files: list[dict] = []
        self.batches = []
        self.error: Exception | None = None

    def run(self) -> None:
        try:
            k = 0
            while True:
                due = self.t0 + k * PERIOD_S
                if due >= self.stop_at:
                    return
                b = self.feed.next_batch()
                text = data.ilp_lines(b)
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
                name = f"f{k:05d}.ilp"
                tmp = os.path.join(self.out_dir, "." + name)
                with open(tmp, "w") as fh:
                    fh.write(text)
                os.rename(tmp, os.path.join(self.out_dir, name))
                self.files.append({"name": name, "due": due, "written": time.time(), "rows": len(b)})
                self.batches.append(b)
                k += 1
        except Exception as e:  # noqa: BLE001 - surfaced by the caller
            self.error = e


def _batch_files(checkpoint: str) -> dict[str, tuple[int, float]]:
    """file name -> (batch id, commit time) for every committed batch, from
    the file source's log (``sources/0/<batch>``, compacted every few
    batches into ``<batch>.compact``) and the commit log."""
    out = {}
    src = os.path.join(checkpoint, "sources", "0")
    commits = os.path.join(checkpoint, "commits")
    if not os.path.isdir(src) or not os.path.isdir(commits):
        return out
    done = {}
    for c in os.listdir(commits):
        if c.isdigit():
            done[int(c)] = os.stat(os.path.join(commits, c)).st_mtime_ns / 1e9
    for f in os.listdir(src):
        if not f.split(".")[0].isdigit() or f.startswith("."):
            continue
        try:
            with open(os.path.join(src, f)) as fh:
                lines = fh.read().splitlines()
        except FileNotFoundError:  # replaced by a compaction meanwhile
            continue
        for line in lines:
            if line.startswith("{"):
                e = json.loads(line)
                if e["batchId"] in done:
                    out[os.path.basename(e["path"])] = (e["batchId"], done[e["batchId"]])
    return out


def _start(ctx, tag: str):
    from questdb_spark.streaming.ingest import start_ilp_ingest

    d = os.path.join(ctx.work, tag)
    paths = {k: os.path.join(d, k) for k in ("lines", "out", "checkpoint")}
    os.makedirs(paths["lines"])
    ctx.tracer.tag(f"stream:{tag}")
    q = start_ilp_ingest(
        ctx.spark, measurement="trades", out_path=paths["out"], checkpoint=paths["checkpoint"],
        lines_path=paths["lines"], dedup_keys=["sym"],
    )
    return q, paths


def _wait(cond, timeout: float, q) -> bool:
    end = time.time() + timeout
    while time.time() < end:
        if cond():
            return True
        if q.exception() is not None:
            raise RuntimeError(f"streaming query failed: {q.exception()}")
        time.sleep(0.05)
    return False


def inputs(work: str, seed: int, smoke: bool) -> dict:
    """The feed; files are generated on schedule during the run."""
    lines = SIZES["smoke" if smoke else "full"]
    return {"lines": lines, "feed": data.TradeFeed(np.random.default_rng(seed), lines, resend_share=0.0)}


def run(ctx, inp: dict) -> None:
    from questdb_spark.streaming.ingest import read_deduped

    lines, feed = inp["lines"], inp["feed"]

    for rep in range(SETUP_REPS):
        warm = feed.next_batch().head(max(lines // 10, 50))
        t0 = time.perf_counter()
        q, paths = _start(ctx, f"setup{rep}")
        with open(os.path.join(paths["lines"], "w.ilp"), "w") as fh:
            fh.write(data.ilp_lines(warm))
        ok = _wait(lambda: "w.ilp" in _batch_files(paths["checkpoint"]), DRAIN_TIMEOUT_S, q)
        ctx.run.setup_reps_s.append(time.perf_counter() - t0)
        q.stop()
        if not ok:
            raise RuntimeError("set-up: the first file was never committed")
    log(f"stream set-up reps {[round(s, 2) for s in ctx.run.setup_reps_s]}")
    ctx.calibrate()

    q, paths = _start(ctx, "measured")
    t0 = time.time() + 0.2
    win_lo, win_hi = t0 + WARM_S, t0 + WARM_S + ctx.seconds
    gen = Generator(feed, paths["lines"], t0, win_hi)
    gen.start()
    gen.join(timeout=ctx.seconds + WARM_S + 60)
    if gen.is_alive() or gen.error is not None:
        q.stop()
        raise RuntimeError(f"generator failed: {gen.error!r}")
    names = {f["name"] for f in gen.files}
    drained = _wait(lambda: names <= set(_batch_files(paths["checkpoint"])), DRAIN_TIMEOUT_S, q)
    progress = list(q.recentProgress)
    q.stop()
    if not drained:
        raise RuntimeError("measured files were not all committed")

    where = _batch_files(paths["checkpoint"])
    measured = [f for f in gen.files if win_lo <= f["due"] < win_hi]
    committed_at = sorted(where[f["name"]][1] for f in gen.files)
    batches_in_window = {where[f["name"]][0] for f in measured}
    prog = [p for p in progress if p.batchId in batches_in_window]
    batch_ms = {p.batchId: p.durationMs.get("triggerExecution", 0) for p in prog}
    for f in measured:
        batch, committed = where[f["name"]]
        ctx.run.ops.append(Op("file", (committed - f["due"]) * 1e3, rows=f["rows"], info={
            "batch": batch, "late_ms": (f["written"] - f["due"]) * 1e3, "action_ms": batch_ms.get(batch, 0),
            "tags": ["stream:measured"], "busy_ms": PERIOD_S * 1e3}))

    def med(key):
        return float(np.median([p.durationMs.get(key, 0) for p in prog])) if prog else 0.0

    # files written but not yet committed, sampled at every file write
    backlog = max(
        (sum(1 for g in gen.files if g["written"] <= f["written"]) - sum(1 for c in committed_at if c <= f["written"])
         for f in gen.files), default=0)
    files_per_batch = np.bincount([where[f["name"]][0] for f in measured])
    # ops_per_s: files per second of micro-batch execution, the rate the
    # query could sustain (the offered rate is fixed by the generator)
    in_batches = [f for f in gen.files if where[f["name"]][0] in batches_in_window]
    busy_s = sum(p.durationMs.get("triggerExecution", 0) for p in prog) / 1e3
    ctx.run.measured_s = busy_s * len(measured) / max(len(in_batches), 1)
    ctx.run.detail["streaming"] = {
        "batch_ms": med("triggerExecution"),
        "add_batch_ms": med("addBatch"),
        "planning_ms": med("queryPlanning"),
        "wal_commit_ms": med("walCommit"),
        "rows_per_batch": float(np.median([p.numInputRows for p in prog])) if prog else 0.0,
        "files_per_batch": float(np.median(files_per_batch[files_per_batch > 0])),
        "backlog_files": float(backlog),
        "batches": len(prog),
    }
    ctx.run.detail["workload"] = {
        "rows_per_s": sum(f["rows"] for f in measured) / ctx.seconds,
        "gen_late_ms": max((f["written"] - f["due"]) * 1e3 for f in measured),
    }

    # -- check, after the query stopped ----------------------------------
    ctx.tracer.tag("check")
    got = read_deduped(ctx.spark, paths["out"], "ts", ["sym"])
    cols = [c for c in COLS if c in got.columns]
    want = data.last_write_wins(gen.batches, ["ts", "sym"])
    diff = same_rows(spark_rows(got.select(*cols).collect(), cols), frame_rows(want, cols))
    if cols != COLS:
        diff = f"columns {got.columns} lack some of {COLS}"
    if diff:
        ctx.run.fail(f"stream output: {diff}")
        for op in ctx.run.ops:
            op.ok = False
