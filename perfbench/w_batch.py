"""``batch``: passes over execution-heavy registry jobs.

The inputs are a seeded TPC-H-like star schema plus events, documents and
embeddings (``data.write_star_schema``), written once per run.  Set-up
resolves every table through ``sources.parquet.load_tables`` (the catalog
step a session pays before its first query).  After a warm-up on two
other registry queries, passes over ``JOBS`` repeat until ``--seconds`` have
passed (at least one).  Each pass runs every job once, in ``JOBS`` order,
against a directory no earlier step has loaded, so neither the table-plan
cache nor the dialect engine's cross-instance plan cache hides a job's
first-run cost.  One operation is one pass; each job inside it (the
builder call ``fn(spark, sf)`` plus collecting its rows) is recorded too.

Every job's rows in every pass are compared with its registry oracle SQL
run through DuckDB over the same files.
"""

from __future__ import annotations

import os
import time

import duckdb
import numpy as np

import data
from common import Op, frame_rows, log, same_rows, spark_rows

JOBS = [
    "q5_region_revenue",
    "q21_waiting_suppliers",
    "asof_join_events",
    "window_join_events",
    "decimal256_div",
    "embedding_kmeans",
]
MIN_PASSES = 1
WARMUP = ["q12_priority_lines", "sample_by_fill_linear"]
# (TPC-H tables, events/documents/embeddings) relative to sf0.01: the joins
# are big enough that a lost broadcast costs wall time, while the
# near-duplicate oracle (quadratic in documents) stays cheap
SCALE = {"full": (3.0, 0.5), "smoke": (0.05, 0.05)}
SETUP_REPS = 3


def _link_copy(src: str, dst: str) -> str:
    """A second directory holding the same files (hard links), so a fresh
    ``sf`` path starts with cold plan caches without rewriting the data."""
    os.makedirs(dst)
    for f in os.listdir(src):
        os.link(os.path.join(src, f), os.path.join(dst, f))
    return dst


def inputs(work: str, seed: int, smoke: bool) -> dict:
    """Write the star schema (no Spark; runs while Spark starts)."""
    rng = np.random.default_rng(seed)
    base = os.path.join(work, "sf")
    rows = data.write_star_schema(rng, base, *SCALE["smoke" if smoke else "full"])
    return {"base": base, "rows": rows}


def _pass(ctx, k: int, order: list[str], sf: str, results: list) -> None:
    from questdb_spark.registry import REGISTRY

    tr = ctx.tracer
    jobs = []
    for name in order:
        tag = f"pass{k}:{name}"
        tr.tag(tag + ":build")
        mark = tr.mark()
        t0 = time.perf_counter()
        df = REGISTRY[name][0](ctx.spark, sf)
        t1 = time.perf_counter()
        tr.tag(tag + ":action")
        got = df.collect()
        t2 = time.perf_counter()
        info = {
            "job": name, "pass": k, "build_ms": (t1 - t0) * 1e3, "action_ms": (t2 - t1) * 1e3,
            "tags": [tag + ":build", tag + ":action"], "build_tag": tag + ":build",
        }
        if tr.enabled:
            info["load_table_ms"] = tr.since(mark, "sources.load_table")
            info["py4j_calls"] = tr.calls_since(mark)
        jobs.append(Op("job", (t2 - t0) * 1e3, rows=len(got), info=info))
        results.append((jobs[-1], df.columns, got))
    ctx.run.ops.extend(jobs)
    ctx.run.ops.append(Op("pass", sum(j.ms for j in jobs), rows=sum(j.rows for j in jobs), info={"pass": k}))


def run(ctx, inp: dict) -> None:
    from questdb_spark.registry import REGISTRY
    from questdb_spark.sources.parquet import TPCH_TABLES, load_tables

    base = inp["base"]
    log(f"batch inputs {inp['rows']}")
    for rep in range(SETUP_REPS):
        sf = _link_copy(base, os.path.join(ctx.work, f"sf_setup{rep}"))
        t0 = time.perf_counter()
        load_tables(ctx.spark, sf)
        ctx.run.setup_reps_s.append(time.perf_counter() - t0)
    log(f"batch set-up reps {[round(s, 2) for s in ctx.run.setup_reps_s]}")

    warm = _link_copy(base, os.path.join(ctx.work, "sf_warm"))
    for name in WARMUP:
        ctx.tracer.tag(f"warm:{name}")
        REGISTRY[name][0](ctx.spark, warm).collect()
    ctx.calibrate()

    results: list = []
    t_start = time.perf_counter()
    k = 0
    while k < MIN_PASSES or time.perf_counter() - t_start < ctx.seconds:
        sf = _link_copy(base, os.path.join(ctx.work, f"sf_pass{k}"))
        _pass(ctx, k, JOBS, sf, results)
        k += 1
    ctx.run.measured_s = time.perf_counter() - t_start
    passes = [o.ms for o in ctx.run.ops if o.kind == "pass"]
    ctx.run.detail["workload"] = {"pass_s": sorted(passes)[len(passes) // 2] / 1e3, "passes": k}

    con = duckdb.connect()
    for t in TPCH_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(base, t + '.parquet')}')")
    oracle = {name: con.execute(REGISTRY[name][1]).df() for name in JOBS}
    con.close()
    for op, cols, got in results:
        name = op.info["job"]
        want = oracle[name]
        if sorted(want.columns) != sorted(cols):
            diff = f"columns {sorted(cols)} != {sorted(want.columns)}"
        else:
            diff = same_rows(spark_rows(got, cols), frame_rows(want, cols))
        if diff:
            op.ok = False
            ctx.run.fail(f"{name} (pass {op.info['pass']}): {diff}")
