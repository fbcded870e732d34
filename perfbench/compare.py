#!/usr/bin/env python3
"""Compare two sets of benchmark results, per workload and metric.

    python3 perfbench/compare.py BASE_DIR CHANGE_DIR [--json]
    python3 perfbench/compare.py --summary DIR      # one set, as JSON

Each directory holds the per-run records that ``run.py`` writes to
``.bench_out/`` (``<workload>-seed<n>-trace<t>-<time>.json``).  For every
workload and metric the report gives:

- each side's median and quartiles;
- the share of pairs the change won (runs paired by seed when both sides
  ran the same seeds, else in run order; ties count for neither side);
- for traced runs, the per-layer medians and their deltas.

A wall-time metric that moved by more than ``--flat`` while the executor
CPU, stage and task counts stayed within ``--flat`` is flagged as host
interference.  When one side holds both traced and untraced runs of a
workload, the tracing overhead on ``op_p50_ms`` is reported too.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WALL = ("op_p50_ms", "op_tail_ms", "ops_per_s")
WORK = ("exec.executor_cpu_ms", "exec.stages", "exec.tasks")


def _load(d: str) -> list[dict]:
    out = []
    for f in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(f) as fh:
            rec = json.load(fh)
        if isinstance(rec, dict) and "workload" in rec and "end_to_end" in rec:
            rec["_file"] = os.path.basename(f)
            out.append(rec)
    return out


def _directions() -> dict[str, str]:
    path = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
    with open(path) as fh:
        spec = json.load(fh)
    return {m["name"]: m["better"] for m in spec["end_to_end"] + spec["per_layer"]}


def _stats(xs: list[float]) -> dict:
    if not xs:
        return {"n": 0}
    if len(xs) == 1:
        return {"n": 1, "q1": xs[0], "median": xs[0], "q3": xs[0]}
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return {"n": len(xs), "q1": q1, "median": statistics.median(xs), "q3": q3}


def _pairs(a: list[dict], b: list[dict]) -> list[tuple[dict, dict]]:
    sa, sb = {r["seed"]: r for r in a}, {r["seed"]: r for r in b}
    common = sorted(set(sa) & set(sb))
    if len(common) >= min(len(a), len(b)) and common:
        return [(sa[s], sb[s]) for s in common]
    return list(zip(a, b))


def _won(pairs, key, metric: str, better: str) -> float | None:
    wins = 0
    for x, y in pairs:
        vx, vy = key(x).get(metric), key(y).get(metric)
        if vx is not None and vy is not None and vx != vy and (vy < vx) == (better == "lower"):
            wins += 1
    return wins / len(pairs) if pairs else None


def compare(base: list[dict], change: list[dict], flat: float) -> dict:
    better = _directions()
    report: dict = {}
    for w in sorted({r["workload"] for r in base + change}):
        rep: dict = {"end_to_end": {}, "per_layer": {}, "flags": []}
        def runs(recs, trace):
            return [r for r in recs if r["workload"] == w and r["trace"] == trace]

        # end-to-end figures from untraced runs, or from traced ones when a
        # side has only those; per-layer figures from traced runs
        e2e_trace = 0 if runs(base, 0) and runs(change, 0) else 1
        for trace, section, key in ((e2e_trace, "end_to_end", lambda r: r["end_to_end"]),
                                    (1, "per_layer", lambda r: r["per_layer"])):
            a, b = runs(base, trace), runs(change, trace)
            if not a or not b:
                continue
            pairs = _pairs(a, b)
            for m in sorted(set(key(a[0])) & set(key(b[0]))):
                sa, sb = _stats([key(r)[m] for r in a]), _stats([key(r)[m] for r in b])
                row = {"base": sa, "change": sb,
                       "won": _won(pairs, key, m, better.get(m, "lower"))}
                if sa["median"]:
                    row["delta"] = sb["median"] / sa["median"] - 1.0
                rep[section][m] = row
        lay = rep["per_layer"]
        for m in WALL:
            row = rep["end_to_end"].get(m)
            if not row or abs(row.get("delta", 0.0)) <= flat:
                continue
            work = [abs(lay[k]["delta"]) for k in WORK if k in lay and "delta" in lay[k]]
            if len(work) == len(WORK) and max(work) <= flat:
                rep["flags"].append(
                    f"{m} moved {row['delta']:+.1%} while executor CPU, stages and tasks stayed within "
                    f"{flat:.0%}: host interference, not a plan or code change")
        for side, recs in (("base", base), ("change", change)):
            t0 = [r["end_to_end"]["op_p50_ms"] for r in recs if r["workload"] == w and r["trace"] == 0]
            t1 = [r["end_to_end"]["op_p50_ms"] for r in recs if r["workload"] == w and r["trace"] == 1]
            if t0 and t1:
                rep[f"trace_overhead_{side}"] = statistics.median(t1) / statistics.median(t0) - 1.0
        report[w] = rep
    return report


def summary(recs: list[dict]) -> dict:
    """Median and quartiles of every metric, per workload and mode, with
    the environment of the first record: a baseline to commit."""
    out: dict = {}
    for w in sorted({r["workload"] for r in recs}):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            rs = [r for r in recs if r["workload"] == w and r["trace"] == trace]
            if rs:
                out.setdefault(w, {})[key] = {m: _stats([r[key][m] for r in rs]) for m in rs[0][key]}
                out[w].setdefault("seeds", sorted({r["seed"] for r in rs}))
                out[w].setdefault("env", rs[0]["detail"]["env"])
    return out


def _fmt(v: float) -> str:
    return f"{v:.4g}"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("base")
    ap.add_argument("change", nargs="?")
    ap.add_argument("--summary", action="store_true", help="summarize BASE alone as JSON")
    ap.add_argument("--flat", type=float, default=0.05, help="relative move counted as no change")
    ap.add_argument("--json", action="store_true")
    args = ap.parse_args(argv)
    if args.summary:
        print(json.dumps(summary(_load(args.base)), indent=1))
        return 0
    base, change = _load(args.base), _load(args.change or "")
    if not base or not change:
        print("compare: no run records found", file=sys.stderr)
        return 2
    rep = compare(base, change, args.flat)
    if args.json:
        print(json.dumps(rep, indent=1))
        return 0
    for w, r in rep.items():
        print(f"== {w}")
        for section in ("end_to_end", "per_layer"):
            for m, row in r[section].items():
                a, b = row["base"], row["change"]
                won = "" if row["won"] is None else f" won {row['won']:.0%}"
                delta = f" {row['delta']:+.1%}" if "delta" in row else ""
                print(f"  {m:32s} base {_fmt(a['median'])} [{_fmt(a['q1'])}, {_fmt(a['q3'])}] n={a['n']}"
                      f"  change {_fmt(b['median'])} [{_fmt(b['q1'])}, {_fmt(b['q3'])}] n={b['n']}{delta}{won}")
        for k in ("trace_overhead_base", "trace_overhead_change"):
            if k in r:
                print(f"  {k}: {r[k]:+.1%} on op_p50_ms")
        for f in r["flags"]:
            print(f"  FLAG {f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
