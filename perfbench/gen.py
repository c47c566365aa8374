"""Seeded input generators. The package only ever sees the files these
write; the same seed and scale give the same bytes.

Every parameter lives in ``SCALES``; ``full`` is what the benchmark
measures, ``tiny`` is for the smoke test.
"""

from __future__ import annotations

import datetime as dt
import os
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SCALES = {
    "full": {
        # backtest
        "ticks": 120_000, "symbols": 24, "zipf_s": 1.1, "late_share": 0.02,
        "late_max_s": 90, "days": 5, "underlyings": 300, "positions": 1500,
        # live_feed
        "live_symbols": 20, "live_rate": 2000, "live_period_s": 0.1,
        "burst": 240_000, "burst_files": 8,
        # index_lifecycle
        "vectors": 1200, "dim": 32, "clusters": 8, "latent": 3, "queries": 48,
        "docs": 1000, "vocab": 1500, "doc_zipf_s": 1.1, "doc_len": (15, 45),
        "query_docs": 32,
    },
    "tiny": {
        "ticks": 6_000, "symbols": 6, "zipf_s": 1.1, "late_share": 0.02,
        "late_max_s": 90, "days": 4, "underlyings": 20, "positions": 60,
        "live_symbols": 4, "live_rate": 200, "live_period_s": 0.1,
        "burst": 2_000, "burst_files": 4,
        "vectors": 400, "dim": 16, "clusters": 4, "latent": 3, "queries": 8,
        "docs": 200, "vocab": 300, "doc_zipf_s": 1.1, "doc_len": (8, 20),
        "query_docs": 6,
    },
}

HOT = "SPX"
DAY0 = dt.datetime(2024, 3, 4)  # a Monday; ET is UTC-5 all week
OPEN_UTC = dt.timedelta(hours=14, minutes=30)
SESSION = dt.timedelta(hours=6, minutes=30)


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per input, so adding one input never
    shifts another's draws."""
    return np.random.default_rng([seed, sum(map(ord, stream))])


def symbols(n: int) -> list[str]:
    return [HOT] + [f"S{i:02d}" for i in range(1, n)]


def zipf_probs(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def trading_days(p) -> list[dt.datetime]:
    return [DAY0 + dt.timedelta(days=d) for d in range(p["days"])]


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


# ---------------------------------------------------------------------------
# backtest
# ---------------------------------------------------------------------------


def ticks(seed: int, p) -> pa.Table:
    """Trades over ``days`` sessions; symbol drawn Zipf (SPX hottest);
    a ``late_share`` of ticks arrive out of order (event time moved
    back by up to ``late_max_s`` while keeping its arrival ``seq``)."""
    rng = _rng(seed, "ticks")
    n, syms = p["ticks"], symbols(p["symbols"])
    sym_idx = rng.choice(len(syms), size=n, p=zipf_probs(len(syms), p["zipf_s"]))
    day = rng.integers(0, p["days"], size=n)
    offset_us = rng.integers(0, int(SESSION.total_seconds() * 1e6), size=n)
    base = np.datetime64(DAY0 + OPEN_UTC, "us")
    t = base + day.astype("timedelta64[D]") + offset_us.astype("timedelta64[us]")
    order = np.argsort(t, kind="stable")
    sym_idx, t = sym_idx[order], t[order]
    late = rng.random(n) < p["late_share"]
    back = rng.integers(1, p["late_max_s"] * 1_000_000, size=n).astype("timedelta64[us]")
    t = np.where(late, t - back, t)
    # per-symbol random walk in arrival order
    start = rng.uniform(50, 5000, size=len(syms))
    steps = rng.normal(0, 1e-3, size=n)
    price = np.empty(n)
    for s in range(len(syms)):
        m = sym_idx == s
        price[m] = start[s] * np.exp(np.cumsum(steps[m]))
    price = np.round(price, 2)
    return pa.table({
        "symbol": pa.array(np.array(syms, dtype=object)[sym_idx]),
        "time": pa.array(t, pa.timestamp("us")),
        "price": pa.array(price),
        "size": pa.array(rng.integers(1, 100, size=n)),
        "seq": pa.array(np.arange(n, dtype=np.int64)),
    })


LEG_SCHEMA = pa.schema([
    ("symbol", pa.string()), ("underlying", pa.string()),
    ("instrument_type", pa.string()), ("signed_quantity", pa.float64()),
    ("option_type", pa.string()), ("strike", pa.float64()),
    ("expiration", pa.date32()),
])


def legs(seed: int, p) -> pa.Table:
    """Option portfolios per underlying: a random mix of verticals,
    iron condors, straddles/strangles, covered calls and singles."""
    rng = _rng(seed, "legs")
    rows = []
    for u in range(p["underlyings"]):
        und = f"U{u:04d}"
        spot = float(rng.integers(20, 500))
        exp = dt.date(2024, 4, 19) + dt.timedelta(days=7 * int(rng.integers(0, 4)))
        n = 0

        def opt(ot, k, q, e=exp):
            nonlocal n
            n += 1
            rows.append((f"{und}_{n}{ot}{int(k)}", und, "Equity Option",
                         float(q), ot, float(k), e))

        for _ in range(int(rng.integers(1, 3))):
            kind = int(rng.integers(0, 6))
            k = spot + 5 * int(rng.integers(-4, 5))
            q = float(rng.integers(1, 4))
            if kind == 0:  # vertical
                opt("C", k, q); opt("C", k + 5, -q)
            elif kind == 1:  # iron condor
                opt("P", k - 10, q); opt("P", k - 5, -q)
                opt("C", k + 5, -q); opt("C", k + 10, q)
            elif kind == 2:  # straddle
                opt("C", k, -q); opt("P", k, -q)
            elif kind == 3:  # strangle
                opt("C", k + 5, q); opt("P", k - 5, q)
            elif kind == 4:  # covered call
                n += 1
                rows.append((f"{und}_{n}STK", und, "Equity", 100.0 * q, None, None, None))
                opt("C", k + 5, -q)
            else:  # single
                opt("P" if rng.random() < 0.5 else "C", k, q)
    return pa.Table.from_pylist(
        [dict(zip(LEG_SCHEMA.names, r)) for r in rows], LEG_SCHEMA
    )


DEC = pa.decimal128(18, 6)
FILL_SCHEMA = pa.schema([
    ("symbol", pa.string()), ("executed_at", pa.timestamp("us")),
    ("action", pa.string()), ("quantity", DEC), ("price", DEC),
    ("value", DEC), ("net_value", DEC), ("value_effect", pa.string()),
])
POSITION_SCHEMA = pa.schema([("symbol", pa.string()), ("quantity", pa.float64())])


def fills_positions(seed: int, p) -> tuple[pa.Table, pa.Table]:
    """Per position symbol 1-6 open/close fills and a current quantity
    that is usually covered by them (sometimes not, or zero)."""
    rng = _rng(seed, "fills")
    fills, positions = [], []
    q6 = Decimal("0.000001")
    for i in range(p["positions"]):
        sym = f"OPT{i:05d}"
        short = rng.random() < 0.5
        open_a, close_a = (
            ("Sell to Open", "Buy to Close") if short else ("Buy to Open", "Sell to Close")
        )
        held = 0
        t = DAY0 + dt.timedelta(minutes=int(rng.integers(0, 600)))
        for _ in range(int(rng.integers(1, 7))):
            closing = held > 0 and rng.random() < 0.35
            qty = int(rng.integers(1, held + 1)) if closing else int(rng.integers(1, 6))
            held += -qty if closing else qty
            price = Decimal(str(round(float(rng.uniform(0.05, 20.0)), 2)))
            value = (price * qty * 100).quantize(q6)
            fee = Decimal(str(round(float(rng.uniform(0.5, 2.0)), 2)))
            credit = (open_a if not closing else close_a) in ("Sell to Open", "Sell to Close")
            fills.append((sym, t, close_a if closing else open_a, Decimal(qty).quantize(q6),
                          price.quantize(q6), value,
                          (value - fee if credit else value + fee).quantize(q6),
                          "Credit" if credit else "Debit"))
            t += dt.timedelta(minutes=int(rng.integers(1, 2000)))
        roll = rng.random()
        current = 0 if roll < 0.05 else held + (int(rng.integers(1, 3)) if roll < 0.12 else 0)
        positions.append((sym, float(current)))
    return (
        pa.Table.from_pylist([dict(zip(FILL_SCHEMA.names, r)) for r in fills], FILL_SCHEMA),
        pa.Table.from_pylist(
            [dict(zip(POSITION_SCHEMA.names, r)) for r in positions], POSITION_SCHEMA
        ),
    )


def write_backtest_inputs(root: str, seed: int, p) -> dict:
    paths = {k: os.path.join(root, k + ".parquet")
             for k in ("ticks", "legs", "fills", "positions")}
    _write(ticks(seed, p), paths["ticks"])
    _write(legs(seed, p), paths["legs"])
    f, pos = fills_positions(seed, p)
    _write(f, paths["fills"])
    _write(pos, paths["positions"])
    return paths


# ---------------------------------------------------------------------------
# live_feed: feed-bus envelope files
# ---------------------------------------------------------------------------

ENVELOPE = pa.schema([
    ("channel", pa.string()), ("symbol", pa.string()), ("offset", pa.int64()),
    ("ts", pa.timestamp("us")), ("payload", pa.string()),
])


class TickSource:
    """Deterministic tick content for the feed: symbols Zipf-drawn,
    prices a per-symbol walk, a ``late_share`` of event times moved
    back. Only the creation stamps (wall clock at write) vary by run."""

    def __init__(self, seed: int, p):
        self.rng = _rng(seed, "feed")
        self.syms = np.array(symbols(p["live_symbols"]), dtype=object)
        self.probs = zipf_probs(len(self.syms), p["zipf_s"])
        self.price = self.rng.uniform(50, 5000, size=len(self.syms))
        self.late_share = p["late_share"]
        self.seq = 0

    def batch(self, n: int, event_us: np.ndarray, created_ms: float) -> pa.Table:
        idx = self.rng.choice(len(self.syms), size=n, p=self.probs)
        self.price *= np.exp(self.rng.normal(0, 1e-3, size=len(self.syms)))
        px = np.round(self.price[idx] * (1 + self.rng.normal(0, 1e-4, size=n)), 2)
        size = self.rng.integers(1, 100, size=n)
        late = self.rng.random(n) < self.late_share
        ev = np.where(late, event_us - self.rng.integers(1_000_000, 30_000_000, size=n), event_us)
        seq = np.arange(self.seq, self.seq + n, dtype=np.int64)
        self.seq += n
        payload = [
            f'{{"price":{a},"size":{b},"seq":{c},"created_ms":{created_ms:.3f}}}'
            for a, b, c in zip(px.tolist(), size.tolist(), seq.tolist())
        ]
        return pa.table({
            "channel": pa.array(["Trade"] * n), "symbol": pa.array(self.syms[idx]),
            "offset": pa.array(seq), "ts": pa.array(ev.astype("datetime64[us]"), pa.timestamp("us")),
            "payload": pa.array(payload),
        }, schema=ENVELOPE)


def publish(table: pa.Table, bus: str, name: str) -> None:
    """Atomic drop into the bus directory: the file source ignores
    names starting with ``_``, so write there and rename."""
    tmp = os.path.join(bus, "_" + name)
    pq.write_table(table, tmp)
    os.rename(tmp, os.path.join(bus, name))


# ---------------------------------------------------------------------------
# index_lifecycle: clustered vectors and Zipf-text documents
# ---------------------------------------------------------------------------


def vectors(seed: int, p) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """``clusters`` equal-sized blobs around random unit centres, each
    spread over a ``latent``-dimensional subspace (so nearest
    neighbours are well defined, as in real embeddings) plus small
    isotropic noise. Returns (ids, matrix, cluster label); ids are a
    random permutation so no id range maps to one cluster."""
    rng = _rng(seed, "vectors")
    n, d = p["vectors"], p["dim"]
    centres = rng.normal(size=(p["clusters"], d))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    basis = rng.normal(size=(p["clusters"], p["latent"], d)) / np.sqrt(d)
    lab = rng.permutation(np.arange(n) % p["clusters"])
    z = rng.normal(0, 0.5, size=(n, p["latent"]))
    m = centres[lab] + np.einsum("nl,nld->nd", z, basis[lab]) + rng.normal(0, 0.01, size=(n, d))
    return np.arange(n, dtype=np.int64), np.round(m, 6), lab


def documents(seed: int, p) -> list[str]:
    rng = _rng(seed, "docs")
    vocab = np.array([f"w{i}" for i in range(p["vocab"])], dtype=object)
    probs = zipf_probs(p["vocab"], p["doc_zipf_s"])
    lo, hi = p["doc_len"]
    return [
        " ".join(vocab[rng.choice(len(vocab), size=int(rng.integers(lo, hi)), p=probs)])
        for _ in range(p["docs"])
    ]


def write_index_inputs(root: str, seed: int, p) -> dict:
    ids, m, lab = vectors(seed, p)
    docs = documents(seed, p)
    rng = _rng(seed, "queries")
    split_v, split_d = int(len(ids) * 0.75), int(len(docs) * 0.75)
    # the same number of query vectors from every cluster
    per = p["queries"] // p["clusters"]
    qv = np.sort(np.concatenate([
        rng.choice(np.flatnonzero(lab == c), size=per, replace=False)
        for c in range(p["clusters"])]))
    qd = np.sort(rng.choice(len(docs), size=p["query_docs"], replace=False))
    vec = pa.list_(pa.float64())

    def vtable(sel, id_name):
        return pa.table({id_name: pa.array(ids[sel]),
                         "embedding": pa.array(list(m[sel]), vec)})

    def dtable(sel):
        return pa.table({"doc_id": pa.array(np.asarray(sel, dtype=np.int64)),
                         "text": pa.array([docs[i] for i in sel])})

    paths = {k: os.path.join(root, k + ".parquet") for k in (
        "vec_base", "vec_append", "vec_queries", "doc_base", "doc_append", "doc_queries")}
    _write(vtable(slice(0, split_v), "vec_id"), paths["vec_base"])
    _write(vtable(slice(split_v, None), "vec_id"), paths["vec_append"])
    _write(vtable(qv, "query_id"), paths["vec_queries"])
    _write(dtable(range(split_d)), paths["doc_base"])
    _write(dtable(range(split_d, len(docs))), paths["doc_append"])
    _write(dtable(qd), paths["doc_queries"])
    return paths
