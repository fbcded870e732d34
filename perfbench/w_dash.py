"""``dash``: interactive dialect reads, one closed-loop client.

Set-up creates ``trades``, ``quotes`` and ``sensors`` through ``QdbEngine``
as ``PARTITION BY DAY`` tables (``CREATE TABLE`` + ``INSERT INTO ... SELECT *
FROM read_parquet(...)``).  ``trades`` is ``WAL DEDUP UPSERT KEYS(ts, sym)``
and, after set-up, takes a second INSERT that re-sends 10% of its keys with
new values: one timed ``commit`` through ``TimeTable.append``'s dedup merge
and partition rewrite.  The run then issues statements built from eight
templates with seeded literals, in whole rounds: each round runs every
template once with new literals and once more with its text from the round
before, like a dashboard panel refreshing, so half of the statements repeat
an earlier text.  The last round starts before ``--seconds`` have passed.
One operation is one statement, timed from the ``sql()`` call to the last
row collected.

Every result is compared, after the timed loop, with a DuckDB twin of its
template run over the same generated frames.
"""

from __future__ import annotations

import os
import time

import duckdb
import numpy as np

import data
from common import Op, frame_rows, log, same_rows, spark_rows, tree, tree_delta

SIZES = {"full": (40_000, 160_000, 20_000), "smoke": (5_000, 20_000, 4_000)}
DDL = {
    "trades": "ts TIMESTAMP, sym SYMBOL, side SYMBOL, price DOUBLE, amount DOUBLE, venue SYMBOL",
    "quotes": "ts TIMESTAMP, sym SYMBOL, bid DOUBLE, ask DOUBLE, bsize DOUBLE, asize DOUBLE",
    "sensors": "ts TIMESTAMP, device_id SYMBOL, region SYMBOL, temperature DOUBLE, "
    "humidity DOUBLE, status_code INT",
}
SETUP_REPS = 3
MAX_DISTINCT = 200  # stays below the engine's 256-entry statement cache
BERLIN = "timezone('UTC', timezone('Europe/Berlin', {x}))"


def _day(d: np.datetime64) -> str:
    return str(d.astype("datetime64[D]"))


class Templates:
    """The eight statement templates.  ``text(i, lit)`` is the dialect
    statement, ``twin(i, lit)`` the DuckDB query answering it."""

    names = ["fill", "calendar_tz", "latest_on", "asof_tol", "lt_join", "window_join", "horizon", "window_fn"]

    def __init__(self, rng: np.random.Generator, trade_days: list[str], quote_days: list[str]):
        self.rng = rng
        self.trade_days = trade_days
        self.quote_days = quote_days

    def literals(self, i: int, rnd: int) -> dict:
        """Literals for template ``i`` in round ``rnd``.  The choices that
        change a statement's plan or cost (fill mode, bucket, side,
        tolerance, horizon, window frame) turn with the round, so every
        seed runs the same mix; the data values (device, region, status,
        day, hour, sym) are seeded."""
        r = self.rng
        return {
            "dev": str(r.choice(data.DEVICES)),
            "iv": [5, 10, 15, 30][rnd % 4],
            "fill": ["PREV", "LINEAR", "NULL"][rnd % 3],
            "region": str(r.choice(data.REGIONS)),
            "status": int(r.integers(0, 4)),
            "day": str(r.choice(self.trade_days)),
            "qday": str(r.choice(self.quote_days)),
            "side": ["B", "S"][rnd % 2],
            "sym": str(r.choice(data.TICKERS[:8])),
            "tol": [5, 10, 30][rnd % 3],
            "to": [30, 60, 90][rnd % 3],
            "hh": int(r.integers(0, 22)),
            "k": [4, 9, 19][rnd % 3],
        }

    def text(self, i: int, L: dict) -> str:
        name = self.names[i]
        if name == "fill":
            return (f"SELECT ts, avg(humidity) AS h, count(*) AS n FROM sensors "
                    f"WHERE device_id = '{L['dev']}' SAMPLE BY {L['iv']}m FILL({L['fill']})")
        if name == "calendar_tz":
            return (f"SELECT ts, device_id, count(*) AS n, avg(humidity) AS h FROM sensors "
                    f"WHERE region = '{L['region']}' AND status_code = {L['status']} "
                    f"SAMPLE BY 1d ALIGN TO CALENDAR TIME ZONE 'Europe/Berlin'")
        if name == "latest_on":
            return (f"SELECT * FROM trades WHERE ts IN '{L['day']}' AND side = '{L['side']}' "
                    f"LATEST ON ts PARTITION BY sym")
        if name == "asof_tol":
            return (f"SELECT t.ts, t.sym, t.price, q.bid, q.ask FROM trades t ASOF JOIN quotes q "
                    f"ON (sym) TOLERANCE {L['tol']}s WHERE t.sym = '{L['sym']}' AND t.ts IN '{L['qday']}T{L['hh']:02d}'")
        if name == "lt_join":
            return (f"SELECT t.ts, t.sym, t.price, q.bid FROM trades t LT JOIN quotes q ON (sym) "
                    f"WHERE t.sym = '{L['sym']}' AND t.ts IN '{L['qday']}T{L['hh']:02d}'")
        if name == "window_join":
            return (f"SELECT t.ts, t.sym, t.price, avg(q.bid) AS avg_bid, count(q.bid) AS n "
                    f"FROM trades t WINDOW JOIN quotes q ON (sym) "
                    f"RANGE BETWEEN 30 seconds PRECEDING AND 0 seconds FOLLOWING EXCLUDE PREVAILING "
                    f"WHERE t.sym = '{L['sym']}' AND t.ts IN '{L['qday']}T{L['hh']:02d}'")
        if name == "horizon":
            return (f"SELECT h.offset, count(*) AS n, avg(q.bid) AS avg_bid FROM trades t "
                    f"HORIZON JOIN quotes q ON (sym) RANGE FROM 0s TO {L['to']}s STEP 10s AS h "
                    f"WHERE t.sym = '{L['sym']}' AND t.ts IN '{L['qday']}T{L['hh']:02d}' GROUP BY h.offset")
        lo = f"{L['day']}T{L['hh']:02d}:00:00.000000Z"
        hi = f"{L['day']}T{L['hh'] + 1:02d}:59:59.999999Z"
        return (f"SELECT ts, sym, price, avg(price) OVER (PARTITION BY sym ORDER BY ts "
                f"ROWS BETWEEN {L['k']} PRECEDING AND CURRENT ROW) AS ma FROM trades "
                f"WHERE ts BETWEEN '{lo}' AND '{hi}'")

    def twin(self, i: int, L: dict) -> str:
        name = self.names[i]
        day = f"ts >= TIMESTAMP '{{d}}' AND ts < TIMESTAMP '{{d}}' + INTERVAL 1 DAY"
        if name == "fill":
            iv = f"INTERVAL {L['iv']} MINUTE"
            src = f"(SELECT * FROM sensors WHERE device_id = '{L['dev']}')"
            base = (f"SELECT s.ts, b.h, b.n FROM (SELECT unnest(generate_series(min(time_bucket({iv}, ts)), "
                    f"max(time_bucket({iv}, ts)), {iv})) AS ts FROM {src}) s "
                    f"LEFT JOIN (SELECT time_bucket({iv}, ts) AS b, avg(humidity) AS h, "
                    f"CAST(count(*) AS DOUBLE) AS n FROM {src} GROUP BY 1) b ON b.b = s.ts")
            win = ("WINDOW wp AS (ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), "
                   "wn AS (ORDER BY ts ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)")
            if L["fill"] == "NULL":
                return f"SELECT ts, h, n FROM ({base})"
            if L["fill"] == "PREV":
                return (f"SELECT ts, last_value(h IGNORE NULLS) OVER wp AS h, "
                        f"last_value(n IGNORE NULLS) OVER wp AS n FROM ({base}) {win}")
            marks = ", ".join(
                f"last_value({c} IGNORE NULLS) OVER wp AS pv_{c}, first_value({c} IGNORE NULLS) OVER wn AS nv_{c}, "
                f"last_value(CASE WHEN {c} IS NOT NULL THEN epoch_us(ts) END IGNORE NULLS) OVER wp AS pt_{c}, "
                f"first_value(CASE WHEN {c} IS NOT NULL THEN epoch_us(ts) END IGNORE NULLS) OVER wn AS nt_{c}"
                for c in ("h", "n"))
            interp = ", ".join(
                f"CASE WHEN {c} IS NOT NULL THEN {c} WHEN pt_{c} IS NOT NULL AND nt_{c} IS NOT NULL THEN "
                f"pv_{c} + (nv_{c} - pv_{c}) * (epoch_us(ts) - pt_{c}) / (nt_{c} - pt_{c}) END AS {c}"
                for c in ("h", "n"))
            return f"SELECT ts, {interp} FROM (SELECT ts, h, n, {marks} FROM ({base}) {win})"
        if name == "calendar_tz":
            local_day = "date_trunc('day', timezone('Europe/Berlin', ts AT TIME ZONE 'UTC'))"
            return (f"SELECT {BERLIN.format(x=local_day)} AS ts, device_id, count(*) AS n, avg(humidity) AS h "
                    f"FROM sensors WHERE region = '{L['region']}' AND status_code = {L['status']} GROUP BY 1, 2")
        if name == "latest_on":
            return (f"SELECT * FROM trades WHERE {day.format(d=L['day'])} AND side = '{L['side']}' "
                    f"QUALIFY row_number() OVER (PARTITION BY sym ORDER BY ts DESC) = 1")
        hour = f"TIMESTAMP '{L['qday']} {L['hh']:02d}:00:00'"
        m = f"(SELECT * FROM trades WHERE sym = '{L['sym']}' AND ts >= {hour} AND ts < {hour} + INTERVAL 1 HOUR)"
        if name == "asof_tol":
            ok = f"q.ts >= t.ts - INTERVAL {L['tol']} SECOND"
            return (f"SELECT t.ts, t.sym, t.price, CASE WHEN {ok} THEN q.bid END AS bid, "
                    f"CASE WHEN {ok} THEN q.ask END AS ask FROM {m} t ASOF LEFT JOIN quotes q "
                    f"ON t.sym = q.sym AND t.ts >= q.ts")
        if name == "lt_join":
            return (f"SELECT t.ts, t.sym, t.price, q.bid FROM {m} t ASOF LEFT JOIN quotes q "
                    f"ON t.sym = q.sym AND t.ts > q.ts")
        if name == "window_join":
            return (f"SELECT t.ts, t.sym, t.price, avg(q.bid) AS avg_bid, count(q.bid) AS n FROM {m} t "
                    f"LEFT JOIN quotes q ON q.sym = t.sym AND q.ts >= t.ts - INTERVAL 30 SECOND AND q.ts <= t.ts "
                    f"GROUP BY t.ts, t.sym, t.price")
        if name == "horizon":
            offs = ", ".join(f"({o})" for o in range(0, L["to"] + 1, 10))
            return (f"WITH x AS (SELECT t.sym, o.off, t.ts + to_seconds(o.off) AS hts FROM {m} t "
                    f"CROSS JOIN (VALUES {offs}) o(off)) "
                    f"SELECT x.off * 1000000 AS \"offset\", count(*) AS n, avg(q.bid) AS avg_bid "
                    f"FROM x ASOF LEFT JOIN quotes q ON x.sym = q.sym AND x.hts >= q.ts GROUP BY x.off")
        lo = f"TIMESTAMP '{L['day']} {L['hh']:02d}:00:00'"
        return (f"SELECT ts, sym, price, avg(price) OVER (PARTITION BY sym ORDER BY ts "
                f"ROWS BETWEEN {L['k']} PRECEDING AND CURRENT ROW) AS ma FROM trades "
                f"WHERE ts >= {lo} AND ts < {lo} + INTERVAL 2 HOUR")


def _setup(ctx, staged: dict[str, str], rep: int):
    from questdb_spark.sqlfront.engine import QdbEngine

    eng = QdbEngine(ctx.spark, warehouse=os.path.join(ctx.work, f"wh{rep}"))
    for name, cols in DDL.items():
        dedup = " WAL DEDUP UPSERT KEYS(ts, sym)" if name == "trades" else ""
        eng.sql(f"CREATE TABLE {name} ({cols}) TIMESTAMP(ts) PARTITION BY DAY{dedup}")
        eng.sql(f"INSERT INTO {name} SELECT * FROM read_parquet('{staged[name]}')").collect()
    return eng


def _upsert(ctx, eng, path: str, live_rows: int) -> None:
    """The corrections INSERT: timed as a ``commit``, with its time inside
    ``TimeTable.append`` and the files it wrote when tracing."""
    tr = ctx.tracer
    table_dir = eng.ddl_tables["trades"].path
    before = tree(table_dir)
    tr.tag("commit:corrections")
    mark = tr.mark()
    t0 = time.perf_counter()
    eng.sql(f"INSERT INTO trades SELECT * FROM read_parquet('{path}')").collect()
    ms = (time.perf_counter() - t0) * 1e3
    after = tree(table_dir)
    info = {"input_bytes": os.path.getsize(path), **tree_delta(before, after)}
    ctx.run.detail["table"] = {"files_live": len(after),
                               "bytes_per_row": sum(v[0] for v in after.values()) / live_rows}
    if tr.enabled:
        append_ms = tr.since(mark, "table.append")
        info.update(append_ms=append_ms, insert_overhead_ms=ms - append_ms)
    ctx.run.ops.append(Op("commit", ms, info=info))


def _statement(ctx, eng, text: str, tag: str, first: bool):
    tr = ctx.tracer
    tr.tag(tag)
    mark = tr.mark()
    t0 = time.perf_counter()
    df = eng.sql(text)
    t1 = time.perf_counter()
    lower_calls = tr.calls_since(mark)
    rows = df.collect()
    t2 = time.perf_counter()
    info = {"text": text, "first": first, "lower_ms": (t1 - t0) * 1e3, "action_ms": (t2 - t1) * 1e3, "tags": [tag]}
    if tr.enabled:
        info.update(
            parse_ms=tr.since(mark, "sqlfront.parse"),
            operators_ms=tr.since(mark, "operators"),
            py4j_lower=lower_calls,
        )
    return Op("stmt", (t2 - t0) * 1e3, rows=len(rows), info=info), df.columns, rows


def inputs(work: str, seed: int, smoke: bool) -> dict:
    """Generate and stage the tables (no Spark; runs while Spark starts)."""
    n_t, n_q, n_s = SIZES["smoke" if smoke else "full"]
    rng = np.random.default_rng(seed)
    # wide steps keep 40k trades spanning ~4 days (several DAY partitions)
    frames = {"trades": data.trades(rng, n_t, max_step_s=100 if smoke else 16)}
    frames["corrections"] = data.corrections(rng, frames["trades"], 0.1)
    frames["quotes"] = data.quotes(rng, n_q, frames["trades"])
    frames["sensors"] = data.sensors(rng, n_s)
    staged = {}
    os.makedirs(os.path.join(work, "in"), exist_ok=True)
    for name, df in frames.items():
        staged[name] = os.path.join(work, "in", f"{name}.parquet")
        df.to_parquet(staged[name], index=False)
    frames["trades"] = data.last_write_wins([frames["trades"], frames.pop("corrections")], ["ts", "sym"])
    return {"rng": rng, "frames": frames, "staged": staged, "corrections": staged.pop("corrections")}


def run(ctx, inp: dict) -> None:
    rng, frames, staged = inp["rng"], inp["frames"], inp["staged"]

    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        eng = _setup(ctx, staged, rep)
        ctx.run.setup_reps_s.append(time.perf_counter() - t0)
    log(f"dash set-up reps {[round(s, 2) for s in ctx.run.setup_reps_s]}")
    _upsert(ctx, eng, inp["corrections"], len(frames["trades"]))

    ts = frames["trades"]["ts"]
    trade_days = sorted({_day(d) for d in ts.to_numpy()})[:-1]  # full days only
    q = frames["quotes"]["ts"].to_numpy()
    quote_days = [d for d in trade_days if np.datetime64(d) > q[0] and np.datetime64(d) + np.timedelta64(1, "D") < q[-1]]
    tpl = Templates(rng, trade_days, quote_days or trade_days)

    # warm-up (round 0): every template once, so the measured statements
    # do not pay the JVM's first compilation of each operator path
    seen: set[str] = set()
    prev: list[tuple[dict, str]] = []
    for i in range(len(tpl.names)):
        L = tpl.literals(i, 0)
        text = tpl.text(i, L)
        seen.add(text)
        prev.append((L, text))
        _statement(ctx, eng, text, f"warm:{i}", True)

    # whole rounds until --seconds have passed: in each, every template runs
    # once with a text not seen before, followed by a refresh of that
    # panel's text from the round before (so half of the statements repeat)
    results = []
    rnd = 0
    ctx.calibrate()
    t_start = time.perf_counter()
    t_end = t_start + ctx.seconds
    while time.perf_counter() < t_end and len(seen) + len(tpl.names) <= MAX_DISTINCT:
        rnd += 1
        for i in range(len(tpl.names)):
            for _ in range(100):
                L = tpl.literals(i, rnd)
                text = tpl.text(i, L)
                if text not in seen:
                    break
            for lit, stmt in ((L, text), prev[i]):
                op, cols, rows = _statement(ctx, eng, stmt, f"stmt:{len(results)}", stmt not in seen)
                op.info.update(template=tpl.names[i], round=rnd)
                seen.add(stmt)
                ctx.run.ops.append(op)
                results.append((op, i, lit, cols, rows))
            prev[i] = L, text
    ctx.run.measured_s = time.perf_counter() - t_start

    con = duckdb.connect()
    for name, df in frames.items():
        con.register(name, df)
    twins: dict[str, list[tuple]] = {}
    for op, i, L, cols, rows in results:
        sql = tpl.twin(i, L)
        if sql not in twins:
            twins[sql] = con.execute(sql).df()
        want = twins[sql]
        if sorted(want.columns) != sorted(cols):
            op.ok = False
            ctx.run.fail(f"{tpl.names[i]}: columns {sorted(cols)} != {sorted(want.columns)}")
            continue
        diff = same_rows(spark_rows(rows, cols), frame_rows(want, cols))
        if diff:
            op.ok = False
            ctx.run.fail(f"{tpl.names[i]}: {diff} [{op.info['text']}]")
    con.close()
