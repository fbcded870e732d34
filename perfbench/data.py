"""Seeded input generators for the benchmark workloads.

Every function takes a ``numpy.random.Generator`` (or a seed) and returns
pandas frames or files whose content depends only on that seed, so the same
``--seed`` always yields the same inputs.  Shapes follow ``FIXTURES.md``
sections 1-3 (trades, quotes, sensors) and the TPC-H-like star schema of
``TESTDATA.md`` (the ``batch`` workload's tables).

Timestamps are ``datetime64[us]`` so parquet files written here carry
microsecond timestamps, the engine's native resolution.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

TICKERS = [
    "AAPL", "MSFT", "GOOG", "AMZN", "META", "NVDA", "TSLA", "AMD",
    "INTC", "ORCL", "IBM", "CSCO", "ADBE", "CRM", "NFLX", "QCOM",
]
QUOTE_ONLY = ["ZZA", "ZZB"]  # quoted but never traded (anti-match keys)
VENUES = ["XNAS", "XNYS", "ARCX", "BATS"]
DEVICES = [f"dev{i}" for i in range(8)]
REGIONS = ["north", "south", "west"]
TRADES_START = pd.Timestamp("2024-01-01 00:00:00")
SENSORS_START = pd.Timestamp("2024-03-30 00:00:00")  # spans the Berlin DST switch
US = np.int64(1_000_000)


def _zipf_choice(rng: np.random.Generator, values: list[str], n: int) -> np.ndarray:
    w = 1.0 / np.arange(1, len(values) + 1)
    return rng.choice(np.array(values, dtype=object), size=n, p=w / w.sum())


def _null_out(rng: np.random.Generator, a: np.ndarray, rate: float) -> np.ndarray:
    a = a.astype(object) if a.dtype.kind in "OU" else a.astype("float64")
    mask = rng.random(len(a)) < rate
    a[mask] = None if a.dtype == object else np.nan
    return a


def _unique_per_key(keys: np.ndarray, ts_us: np.ndarray) -> np.ndarray:
    """Nudge timestamps by 1 µs until each (key, ts) pair is unique, so
    LATEST ON / ASOF have exactly one answer per key and time."""
    ts_us = ts_us.copy()
    while True:
        df = pd.DataFrame({"k": keys, "t": ts_us})
        dup = df.duplicated(["k", "t"]).to_numpy()
        if not dup.any():
            return ts_us
        ts_us[dup] += 1


def _walk(rng: np.random.Generator, keys: np.ndarray, start: float, step: float) -> np.ndarray:
    """Per-key random walk in row order, rounded to cents."""
    out = np.empty(len(keys))
    for k in np.unique(keys):
        idx = np.flatnonzero(keys == k)
        out[idx] = start + np.cumsum(rng.normal(0.0, step, len(idx)))
    return np.round(np.abs(out) + 1.0, 2)


def trades(rng: np.random.Generator, n: int, start: pd.Timestamp = TRADES_START,
           max_step_s: int = 8) -> pd.DataFrame:
    """FIXTURES §1: monotonic non-unique ts (~5% repeats), zipf syms."""
    steps = rng.integers(1, max_step_s * US, n)
    steps[rng.random(n) < 0.05] = 0
    rel = np.cumsum(steps)
    sym = _zipf_choice(rng, TICKERS, n)
    rel = _unique_per_key(sym, rel)
    order = np.argsort(rel, kind="stable")
    rel, sym = rel[order], sym[order]
    return pd.DataFrame(
        {
            "ts": (np.datetime64(start, "us") + rel.astype("timedelta64[us]")),
            "sym": sym,
            "side": rng.choice(np.array(["B", "S"], dtype=object), n),
            "price": _null_out(rng, _walk(rng, sym, 100.0, 0.2), 0.01),
            "amount": np.round(rng.lognormal(2.0, 1.0, n), 3),
            "venue": _null_out(rng, rng.choice(np.array(VENUES, dtype=object), n), 0.02),
        }
    )


def quotes(rng: np.random.Generator, n: int, t: pd.DataFrame) -> pd.DataFrame:
    """FIXTURES §2: ~4x denser than trades, starting 1 h after the first
    trade and ending 1 h before the last; two quote-only syms."""
    lo = t["ts"].iloc[0] + pd.Timedelta(hours=1)
    hi = t["ts"].iloc[-1] - pd.Timedelta(hours=1)
    span = int((hi - lo) / pd.Timedelta(microseconds=1))
    rel = np.sort(rng.integers(0, span, n))
    sym = _zipf_choice(rng, TICKERS + QUOTE_ONLY, n)
    rel = _unique_per_key(sym, rel)
    order = np.argsort(rel, kind="stable")
    rel, sym = rel[order], sym[order]
    bid = _walk(rng, sym, 100.0, 0.1)
    return pd.DataFrame(
        {
            "ts": np.datetime64(lo, "us") + rel.astype("timedelta64[us]"),
            "sym": sym,
            "bid": _null_out(rng, bid, 0.01),
            "ask": np.round(bid + rng.integers(1, 20, n) / 100.0, 2),
            "bsize": np.round(rng.lognormal(3.0, 0.7, n), 1),
            "asize": np.round(rng.lognormal(3.0, 0.7, n), 1),
        }
    )


def sensors(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """FIXTURES §3: per-device arrivals over 3 days with two forced silent
    windows per device; dev0 reports only in the first half, dev1 only in
    the second."""
    span = 3 * 24 * 3600 * US
    per = n // len(DEVICES)
    parts = []
    for i, dev in enumerate(DEVICES):
        lo, hi = (0, span // 2) if i == 0 else (span // 2, span) if i == 1 else (0, span)
        rel = rng.integers(lo, hi, per * 2)
        for _ in range(2):  # forced gaps of 1-4 h
            g0 = rng.integers(lo, hi)
            rel = rel[(rel < g0) | (rel >= g0 + rng.integers(1, 5) * 3600 * US)]
        rel = np.unique(rel)[:per]
        m = len(rel)
        hours = rel / (3600 * US)
        parts.append(
            pd.DataFrame(
                {
                    "ts": np.datetime64(SENSORS_START, "us") + rel.astype("timedelta64[us]"),
                    "device_id": dev,
                    "region": REGIONS[i % len(REGIONS)],
                    "temperature": _null_out(
                        rng, np.round(20 + 5 * np.sin(hours / 24 * 2 * np.pi) + rng.normal(0, 0.5, m), 3), 0.02
                    ),
                    "humidity": np.round(rng.uniform(0, 100, m), 3),
                    "status_code": rng.integers(0, 4, m).astype("int32"),
                }
            )
        )
    return pd.concat(parts).sort_values(["ts", "device_id"], kind="stable").reset_index(drop=True)


# --------------------------------------------------------------------------
# ingest / stream batches
# --------------------------------------------------------------------------

class TradeFeed:
    """Batches of seeded trades arriving in time order, with ~10% rows up to
    48 h late (crossing day partitions) and ~10% of the rows re-sending a
    (ts, sym) key of the previous batch with new values (upserts)."""

    def __init__(self, rng: np.random.Generator, batch_rows: int, late_share: float = 0.1,
                 resend_share: float = 0.1, start: pd.Timestamp = TRADES_START):
        self.rng = rng
        self.n = batch_rows
        self.late = late_share
        self.resend = resend_share
        self.clock = np.datetime64(start, "us")
        self.prev: pd.DataFrame | None = None

    def next_batch(self) -> pd.DataFrame:
        rng, n = self.rng, self.n
        b = trades(rng, n, start=pd.Timestamp(self.clock))
        self.clock = b["ts"].iloc[-1] + np.timedelta64(1, "ms")
        late = rng.random(n) < self.late
        b.loc[late, "ts"] = b.loc[late, "ts"] - pd.to_timedelta(rng.integers(1, 48 * 3600, late.sum()), unit="s")
        if self.prev is not None:
            k = int(n * self.resend)
            pick = rng.choice(len(self.prev), k, replace=False)
            rows = rng.choice(n, k, replace=False)
            b.loc[rows, "ts"] = self.prev["ts"].to_numpy()[pick]
            b.loc[rows, "sym"] = self.prev["sym"].to_numpy()[pick]
        # one row per (ts, sym) within a batch keeps last-write-wins exact
        b = b.drop_duplicates(["ts", "sym"], keep="last").reset_index(drop=True)
        self.prev = b
        return b


def corrections(rng: np.random.Generator, t: pd.DataFrame, share: float) -> pd.DataFrame:
    """Re-send ``share`` of the rows of ``t`` (same ts and sym) with new
    price and amount: upserts for a DEDUP UPSERT KEYS(ts, sym) table."""
    c = t.sample(frac=share, random_state=int(rng.integers(2**31))).sort_values("ts").copy()
    c["price"] = np.round(c["price"].to_numpy(dtype="float64", na_value=np.nan) + 0.5, 2)
    c["amount"] = np.round(c["amount"] * 2.0, 3)
    return c.reset_index(drop=True)


def last_write_wins(batches: list[pd.DataFrame], keys: list[str]) -> pd.DataFrame:
    """The reference answer for a DEDUP UPSERT table fed ``batches`` in
    order: the last row per key wins."""
    allrows = pd.concat(batches, ignore_index=True)
    return allrows.drop_duplicates(keys, keep="last").reset_index(drop=True)


def ilp_lines(b: pd.DataFrame, measurement: str = "trades") -> str:
    """Render trades as InfluxDB line protocol (nanosecond timestamps)."""
    ns = b["ts"].to_numpy().astype("datetime64[ns]").astype(np.int64)
    price = b["price"].to_numpy(dtype="float64", na_value=np.nan)
    out = []
    for sym, side, p, amt, t in zip(b["sym"], b["side"], price, b["amount"], ns):
        fields = f"amount={amt!r}" if np.isnan(p) else f"price={p!r},amount={amt!r}"
        out.append(f"{measurement},sym={sym},side={side} {fields} {t}")
    return "\n".join(out) + "\n"


# --------------------------------------------------------------------------
# batch: TPC-H-like star schema + events/documents/embeddings
# --------------------------------------------------------------------------

NATIONS = 25
WORDS = (
    "a the data spark query table stream window join batch scan filter group agg sort "
    "hash merge row column value key part line order customer vector fast slow big small"
).split()
LANGS = ["en", "de", "fr", "es", "zh"]


def _words(rng: np.random.Generator, lo: int, hi: int) -> str:
    return " ".join(rng.choice(WORDS, rng.integers(lo, hi)))


def write_star_schema(rng: np.random.Generator, out_dir: str, scale: float, side_scale: float) -> dict[str, int]:
    """Write the ten ``questdb_spark.sources.parquet.TPCH_TABLES`` as
    ``<name>.parquet`` files under ``out_dir``.  ``scale`` sizes the TPC-H
    tables, ``side_scale`` events, documents and embeddings; 1.0 is the
    TESTDATA ``sf0.01`` row count (60k lineitems, 500 documents).  Returns
    rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(1500 * scale), max(10, int(100 * scale)), int(2000 * scale)
    n_ord, n_line = int(15000 * scale), int(60000 * scale)
    n_ev, n_doc, n_emb = int(10000 * side_scale), int(500 * side_scale), int(500 * side_scale)
    day0 = np.datetime64("1996-01-01", "us")
    days = lambda k: (rng.integers(0, 6 * 365, k) * 86400 * US).astype("timedelta64[us]")  # noqa: E731
    tabs = {
        "region": pd.DataFrame({
            "r_regionkey": np.arange(5, dtype="int32"),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pd.DataFrame({
            "n_nationkey": np.arange(NATIONS, dtype="int32"),
            "n_name": [f"NATION_{i}" for i in range(NATIONS)],
            "n_regionkey": (np.arange(NATIONS) % 5).astype("int32"),
        }),
        "customer": pd.DataFrame({
            "c_custkey": np.arange(n_cust, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, NATIONS, n_cust).astype("int32"),
            "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
            "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
        }),
        "supplier": pd.DataFrame({
            "s_suppkey": np.arange(n_supp, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, NATIONS, n_supp).astype("int32"),
            "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
        }),
        "part": pd.DataFrame({
            "p_partkey": np.arange(n_part, dtype="int64"),
            "p_name": [f"{a} {b}" for a, b in zip(
                rng.choice(["small", "red", "blue", "hot", "green"], n_part),
                rng.choice(["ring", "widget", "bolt", "gear", "pipe"], n_part))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 30, n_part)],
            "p_type": rng.choice(["ECONOMY", "SMALL", "STANDARD", "LARGE", "PROMO"], n_part),
            "p_size": rng.integers(1, 50, n_part).astype("int32"),
            "p_retailprice": np.round(900 + np.arange(n_part) * 0.1, 2),
        }),
        "orders": pd.DataFrame({
            "o_orderkey": np.arange(n_ord, dtype="int64"),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
            "o_orderdate": day0 + days(n_ord),
            "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
        }),
        "lineitem": pd.DataFrame({
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": rng.integers(1, 8, n_line).astype("int32"),
            "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
            "l_extendedprice": np.round(rng.uniform(900, 100000, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": day0 + days(n_line),
        }),
        "events": pd.DataFrame({
            "event_id": np.arange(n_ev, dtype="int64"),
            "ts": np.datetime64("2024-01-01", "us") + np.sort(rng.integers(0, 30 * 86400 * US, n_ev)).astype("timedelta64[us]"),
            "user_id": rng.integers(0, max(10, n_ev // 66), n_ev),
            "event_type": rng.choice(["view", "click", "purchase", "signup", "error"], n_ev),
            "value": np.round(rng.uniform(0, 200, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }),
    }
    texts = [_words(rng, 10, 60) for _ in range(n_doc)]
    for i in rng.choice(n_doc, n_doc // 10, replace=False):  # near-duplicates
        texts[i] = texts[(i + 1) % n_doc] + " " + str(rng.choice(WORDS))
    tabs["documents"] = pd.DataFrame({
        "doc_id": np.arange(n_doc, dtype="int64"),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc),
        "source": [f"src{i}" for i in rng.integers(0, 5, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })
    emb = rng.normal(0, 0.1, (n_emb, 64)).astype("float32")
    tabs["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": list(emb),
        "label": rng.integers(0, 8, n_emb).astype("int32"),
    })
    for name, df in tabs.items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
    return {name: len(df) for name, df in tabs.items()}
