"""Shared pieces of the benchmark: statistics, result rows, host stamps,
run environment, output comparison and table-directory snapshots."""

from __future__ import annotations

import datetime as dt
import math
import os
import platform
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

# --------------------------------------------------------------------------
# statistics
# --------------------------------------------------------------------------


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def quantile(xs: list[float], p: float) -> float:
    """Harrell-Davis estimate of the ``p`` quantile: an average of all order
    statistics, weighted by the Beta((n+1)p, (n+1)(1-p)) mass over each
    one's share of [0, 1].  `dash` mixes eight templates whose costs form
    clusters; a plain median of its 16 first-seen statements jumps by half
    the gap between two clusters whenever one statement crosses it, while
    this estimate moves smoothly."""
    xs = sorted(xs)
    n = len(xs)
    if n < 2:
        return float(xs[0]) if xs else 0.0
    a, b = p * (n + 1), (1 - p) * (n + 1)
    grid = 20_000
    t = (np.arange(grid) + 0.5) / grid
    log_pdf = (a - 1) * np.log(t) + (b - 1) * np.log1p(-t)
    cdf = np.concatenate(([0.0], np.cumsum(np.exp(log_pdf - log_pdf.max()))))
    edges = np.rint(np.arange(n + 1) * grid / n).astype(int)
    return float(np.dot(np.diff(cdf[edges]) / cdf[-1], xs))


def tail(xs: list[float], pct: float = 75.0) -> tuple[float, float, int]:
    """The ``pct`` percentile (``quantile``) and how many samples lie beyond
    it.  A fixed percentile keeps runs with different sample counts
    comparable; the count beyond says how well it is resolved (p75 leaves 4
    of the 16 first-seen statements of `dash` or files of `stream` beyond
    it; a higher one would rest on one or two samples).
    Returns (value, pct, samples beyond)."""
    if not xs:
        return 0.0, pct, 0
    v = quantile(xs, pct / 100)
    return v, pct, sum(1 for x in xs if x > v)


# --------------------------------------------------------------------------
# run record
# --------------------------------------------------------------------------


@dataclass
class Op:
    """One timed operation of a workload."""

    kind: str  # stmt | commit | read | job | file
    ms: float
    ok: bool = True
    rows: int = 0
    info: dict = field(default_factory=dict)


@dataclass
class Run:
    """What a run measured; ``metrics.compute`` turns it into metrics."""

    workload: str
    ops: list[Op] = field(default_factory=list)
    setup_reps_s: list[float] = field(default_factory=list)
    session_start_s: float = 0.0
    measured_s: float = 0.0
    failures: list[str] = field(default_factory=list)
    detail: dict = field(default_factory=dict)

    def fail(self, msg: str) -> None:
        self.failures.append(msg)

    @property
    def setup_s(self) -> float:
        return self.session_start_s + median(self.setup_reps_s)


# --------------------------------------------------------------------------
# host and environment
# --------------------------------------------------------------------------


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def proc_stat() -> list[int]:
    try:
        with open("/proc/stat") as fh:
            return [int(v) for v in fh.readline().split()[1:]]
    except OSError:
        return []


def host_delta(a: list[int], b: list[int]) -> dict:
    """Steal and iowait shares of all CPU time between two /proc/stat reads."""
    if not a or not b:
        return {"steal_pct": 0.0, "iowait_pct": 0.0}
    d = [y - x for x, y in zip(a, b)]
    tot = max(sum(d), 1)
    return {
        "steal_pct": 100.0 * (d[7] if len(d) > 7 else 0) / tot,
        "iowait_pct": 100.0 * (d[4] if len(d) > 4 else 0) / tot,
    }


def git_commit(root: str) -> str:
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=False,
        )
        return out.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def environment(root: str, seed: int) -> dict:
    import pyspark

    return {
        "seed": seed,
        "git_commit": git_commit(root),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "nproc": nproc(),
        "graft_env": {k: v for k, v in sorted(os.environ.items()) if k.startswith("SPARK_GRAFT_")},
        "started_utc": dt.datetime.now(dt.timezone.utc).isoformat(timespec="seconds"),
    }


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


# --------------------------------------------------------------------------
# output comparison
# --------------------------------------------------------------------------


def _cell(v):
    """Normalize one result cell: timestamps to epoch micros, NaN/NaT to
    None, numpy scalars to Python, decimals to float."""
    if v is None or v is pd.NaT:
        return None
    if hasattr(v, "item") and not isinstance(v, (str, bytes)):
        try:
            v = v.item()
        except (ValueError, AttributeError):
            pass
    if isinstance(v, float):
        return None if math.isnan(v) else v
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return int((v - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1))
    if isinstance(v, dt.date):
        return int((dt.datetime(v.year, v.month, v.day) - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1))
    if type(v).__name__ == "Decimal":
        return float(v)
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    if type(v).__name__ == "ndarray":
        return tuple(_cell(x) for x in v.tolist())
    return v


def frame_rows(pdf, cols: list[str]) -> list[tuple]:
    """pandas frame -> normalized row tuples in ``cols`` order."""
    return [tuple(_cell(v) for v in row) for row in pdf[cols].itertuples(index=False)]


def spark_rows(rows, cols: list[str]) -> list[tuple]:
    """collected pyspark Rows -> normalized row tuples in ``cols`` order."""
    return [tuple(_cell(r[c]) for c in cols) for r in rows]


def _sort_key(row: tuple):
    return tuple(
        (0, "") if v is None
        else (2, round(float(v), 6)) if isinstance(v, (int, float)) and not isinstance(v, bool)
        else (1, repr(v))
        for v in row
    )


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is None and b is None
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    if isinstance(a, bool) or isinstance(b, bool):
        return a == b
    if isinstance(a, int) and isinstance(b, int):
        return a == b
    return a == b


def same_rows(got: list[tuple], want: list[tuple]) -> str | None:
    """Order-insensitive comparison with a 1e-9 relative float tolerance
    (aggregation order differs between engines).  Returns None when equal,
    else a one-line description of the first difference."""
    if len(got) != len(want):
        return f"row count {len(got)} != {len(want)}"
    g, w = sorted(got, key=_sort_key), sorted(want, key=_sort_key)
    for a, b in zip(g, w):
        if len(a) != len(b) or not all(_close(x, y) for x, y in zip(a, b)):
            return f"row {a!r} != {b!r}"
    return None


# --------------------------------------------------------------------------
# table directory snapshots
# --------------------------------------------------------------------------


def tree(path: str) -> dict[str, tuple[int, int]]:
    """Live parquet data files under ``path``: relpath -> (size, mtime_ns).
    Hidden/underscore directories (staging, detached, WAL queues) are
    skipped, like the table reader does."""
    out = {}
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                st = os.stat(p)
                out[os.path.relpath(p, path)] = (st.st_size, st.st_mtime_ns)
    return out


def tree_delta(before: dict, after: dict) -> dict:
    new = {k: v for k, v in after.items() if before.get(k) != v}
    return {
        "files_written": len(new),
        "bytes_written": sum(v[0] for v in new.values()),
        "partitions_rewritten": len({os.path.dirname(k) for k in new}),
        "files_live": len(after),
        "bytes_live": sum(v[0] for v in after.values()),
    }
