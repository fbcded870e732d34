"""``ingest``: writes beside reads, one closed-loop client.

Set-up creates ``trades`` as ``PARTITION BY DAY WAL DEDUP UPSERT KEYS(ts,
sym)`` through ``QdbEngine`` and loads a day of history.  Each measured
cycle commits one seeded batch of 5k trades (~10% up to 48 h late, ~10%
re-sending keys of the previous batch) with ``INSERT INTO trades SELECT *
FROM read_parquet('<staged batch>')`` and then reads the table back: a
SAMPLE BY over one sym, then a LATEST ON.  One operation is one commit;
the reads are recorded beside it.

After the timed loop every read and the final table are compared with a
pandas last-write-wins replay of the batches committed so far (the reads
through DuckDB over that replay).
"""

from __future__ import annotations

import os
import time

import duckdb
import numpy as np

import data
from common import Op, frame_rows, log, same_rows, spark_rows, tree, tree_delta

SIZES = {"full": (5_000, 20_000), "smoke": (500, 2_000)}
DDL = ("CREATE TABLE trades (ts TIMESTAMP, sym SYMBOL, side SYMBOL, price DOUBLE, amount DOUBLE, "
       "venue SYMBOL) TIMESTAMP(ts) PARTITION BY DAY WAL DEDUP UPSERT KEYS(ts, sym)")
COLS = ["ts", "sym", "side", "price", "amount", "venue"]
SETUP_REPS = 3
WARM_COMMITS = 1
READS = {
    "sample_by": (
        "SELECT ts, avg(price) AS p, sum(amount) AS a, count(*) AS n FROM trades WHERE sym = '{sym}' SAMPLE BY 1h",
        "SELECT time_bucket(INTERVAL 1 HOUR, ts) AS ts, avg(price) AS p, sum(amount) AS a, count(*) AS n "
        "FROM t WHERE sym = '{sym}' GROUP BY 1",
    ),
    "latest_on": (
        "SELECT * FROM trades LATEST ON ts PARTITION BY sym",
        "SELECT * FROM t QUALIFY row_number() OVER (PARTITION BY sym ORDER BY ts DESC) = 1",
    ),
}


def _stage(work: str, df, name: str) -> tuple[str, int]:
    path = os.path.join(work, "in", f"{name}.parquet")
    df[COLS].to_parquet(path, index=False)
    return path, os.path.getsize(path)


def _timed(ctx, eng, text: str, tag: str):
    tr = ctx.tracer
    tr.tag(tag)
    mark = tr.mark()
    t0 = time.perf_counter()
    df = eng.sql(text)
    rows = df.collect()
    ms = (time.perf_counter() - t0) * 1e3
    return ms, mark, df, rows


def inputs(work: str, seed: int, smoke: bool) -> dict:
    batch_rows, hist_rows = SIZES["smoke" if smoke else "full"]
    rng = np.random.default_rng(seed)
    os.makedirs(os.path.join(work, "in"))
    history = data.trades(rng, hist_rows)
    return {"rng": rng, "batch_rows": batch_rows, "history": history, "hist_path": _stage(work, history, "history")[0]}


def run(ctx, inp: dict) -> None:
    from questdb_spark.sqlfront.engine import QdbEngine

    rng, batch_rows, history, hist_path = inp["rng"], inp["batch_rows"], inp["history"], inp["hist_path"]
    feed = data.TradeFeed(rng, batch_rows, start=history["ts"].iloc[-1])
    feed.prev = history.tail(batch_rows).reset_index(drop=True)

    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        eng = QdbEngine(ctx.spark, warehouse=os.path.join(ctx.work, f"wh{rep}"))
        eng.sql(DDL)
        eng.sql(f"INSERT INTO trades SELECT * FROM read_parquet('{hist_path}')").collect()
        ctx.run.setup_reps_s.append(time.perf_counter() - t0)
    log(f"ingest set-up reps {[round(s, 2) for s in ctx.run.setup_reps_s]}")
    table_dir = eng.ddl_tables["trades"].path

    batches = [history]
    checks = []  # (n_batches_applied, read name, sym, cols, rows)
    syms = data.TICKERS[:8]

    def cycle(i: int, measured: bool) -> None:
        b = feed.next_batch()
        path, in_bytes = _stage(ctx.work, b, f"b{i}")
        before = tree(table_dir) if ctx.tracer.enabled else None
        ms, mark, _, _ = _timed(ctx, eng, f"INSERT INTO trades SELECT * FROM read_parquet('{path}')", f"commit:{i}")
        batches.append(b)
        if measured:
            info = {"input_bytes": in_bytes, "rows_in": len(b), "tags": [f"commit:{i}"]}
            if ctx.tracer.enabled:
                append_ms = ctx.tracer.since(mark, "table.append")
                info.update(append_ms=append_ms, insert_overhead_ms=ms - append_ms,
                            **tree_delta(before, tree(table_dir)))
            ctx.run.ops.append(Op("commit", ms, rows=len(b), info=info))
        sym = str(rng.choice(syms))
        for name, (text, _) in READS.items():
            ms, _, df, rows = _timed(ctx, eng, text.format(sym=sym), f"read:{i}:{name}")
            op = Op("read", ms, rows=len(rows), info={"read": name, "tags": [f"read:{i}:{name}"]})
            if measured:
                ctx.run.ops.append(op)
            checks.append((len(batches), name, sym, df.columns, rows, op))

    for i in range(WARM_COMMITS):
        cycle(i, measured=False)
    i = WARM_COMMITS
    ctx.calibrate()
    t_start = time.perf_counter()
    t_end = t_start + ctx.seconds
    while time.perf_counter() < t_end:
        cycle(i, measured=True)
        i += 1
    ctx.run.measured_s = time.perf_counter() - t_start

    # -- checks, outside the timed loop ---------------------------------
    final = eng.sql("SELECT * FROM trades")
    got = final.collect()
    want = data.last_write_wins(batches, ["ts", "sym"])
    diff = same_rows(spark_rows(got, COLS), frame_rows(want, COLS))
    if diff:
        ctx.run.fail(f"final table: {diff}")
    con = duckdb.connect()
    for n, name, sym, cols, rows, op in checks:
        con.register("t", data.last_write_wins(batches[:n], ["ts", "sym"]))
        exp = con.execute(READS[name][1].format(sym=sym)).df()
        diff = same_rows(spark_rows(rows, cols), frame_rows(exp, cols)) if sorted(cols) == sorted(exp.columns) else (
            f"columns {cols} != {list(exp.columns)}")
        if diff:
            op.ok = False
            ctx.run.fail(f"read {name} after {n - 1} commits: {diff}")
    con.close()
    commits = [o for o in ctx.run.ops if o.kind == "commit"]
    live = tree(table_dir)
    ctx.run.detail["table"] = {
        "files_live": len(live),
        "bytes_per_row": sum(v[0] for v in live.values()) / max(len(want), 1),
    }
    ctx.run.detail["workload"] = {
        "rows_per_s": sum(o.rows for o in commits) / (sum(o.ms for o in commits) / 1e3) if commits else 0.0,
    }
