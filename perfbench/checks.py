"""Output checks, run after the timed phase. Each check is one
attempted operation; a mismatch counts as a failed one.

References are independent of Spark: DuckDB SQL over the generated
files, the package's pure-Python kernels (``run_engine``,
``classify_group``, ``replay_one_symbol``) and brute-force numpy.
"""

from __future__ import annotations

import os
from decimal import Decimal

import numpy as np

REL_TOL = 1e-9


def _duck():
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET TimeZone = 'UTC'")
    return con


def _pq(path: str) -> str:
    """DuckDB glob for a Spark output directory or a single file."""
    return os.path.join(path, "*.parquet") if os.path.isdir(path) else path


def _mismatches(con, sql: str) -> int:
    return int(con.execute(sql).fetchone()[0])


def _close(a, b) -> str:
    return f"abs({a} - {b}) > {REL_TOL} * greatest(abs({a}), abs({b}), 1e-12)"


def candles_sql(src: str, interval: str, time_col="time", price="price",
                size="size", order="seq") -> str:
    """DuckDB OHLCV reference with first/last by (time, seq)."""
    return f"""
        SELECT symbol, time_bucket(INTERVAL '{interval}', {time_col}) AS time,
               first({price} ORDER BY {time_col}, {order}) AS open,
               max({price}) AS high, min({price}) AS low,
               last({price} ORDER BY {time_col}, {order}) AS close,
               sum({size}) AS volume,
               sum({price} * {size}) / sum({size}) AS vwap,
               count(*) AS count
        FROM {src} GROUP BY ALL"""


def compare_candles(con, ref_sql: str, got: str) -> int:
    """Rows missing on either side or differing in any field."""
    return _mismatches(con, f"""
        WITH ref AS ({ref_sql}), got AS (SELECT * FROM read_parquet('{_pq(got)}'))
        SELECT count(*) FROM ref FULL JOIN got USING (symbol, time)
        WHERE ref.count IS DISTINCT FROM got.count
           OR ref.open IS DISTINCT FROM got.open OR ref.close IS DISTINCT FROM got.close
           OR ref.high IS DISTINCT FROM got.high OR ref.low IS DISTINCT FROM got.low
           OR ref.volume IS DISTINCT FROM got.volume
           OR got.vwap IS NULL OR {_close('ref.vwap', 'got.vwap')}""")


def _sample(values, k: int, seed: int, keep=()):
    rng = np.random.default_rng(seed)
    rest = sorted(set(values) - set(keep))
    pick = rng.choice(len(rest), size=min(k, len(rest)), replace=False) if rest else []
    return list(keep) + [rest[i] for i in sorted(pick)]


def _read(path: str, filt=None):
    """Rows as dicts, timestamps as naive UTC (the package's contract)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(path, filters=filt)
    naive = pa.schema([
        f.with_type(pa.timestamp(f.type.unit)) if pa.types.is_timestamp(f.type) else f
        for f in t.schema
    ])
    return t.cast(naive).to_pylist()


# ---------------------------------------------------------------------------
# backtest
# ---------------------------------------------------------------------------


def backtest(inputs: dict, out: str, p, seed: int, window, hull_length: int):
    """Returns a list of (check name, ok, detail)."""
    con = _duck()
    ticks = f"read_parquet('{inputs['ticks']}')"
    res = []
    for name, interval in (("candles_5m", "5 minutes"), ("candles_1m", "1 minute")):
        bad = compare_candles(con, candles_sql(ticks, interval), os.path.join(out, name))
        res.append((f"duckdb {name}", bad == 0, f"{bad} mismatched rows"))

    c5 = f"read_parquet('{_pq(os.path.join(out, 'candles_5m'))}')"
    bad = _mismatches(con, f"""
        WITH grid AS (
            SELECT symbol, unnest(generate_series(min(time), max(time),
                                                  INTERVAL '5 minutes')) AS time
            FROM {c5} GROUP BY symbol),
        ref AS (
            SELECT g.symbol, g.time, c.close IS NULL AS is_synthetic,
                   last_value(c.close IGNORE NULLS) OVER (
                       PARTITION BY g.symbol ORDER BY g.time
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS close
            FROM grid g LEFT JOIN {c5} c USING (symbol, time)),
        got AS (SELECT * FROM read_parquet('{_pq(os.path.join(out, 'gapfill'))}'))
        SELECT count(*) FROM ref FULL JOIN got USING (symbol, time)
        WHERE ref.close IS DISTINCT FROM got.close
           OR ref.is_synthetic IS DISTINCT FROM got.is_synthetic""")
    res.append(("duckdb gap_fill", bad == 0, f"{bad} mismatched rows"))

    c1 = f"read_parquet('{_pq(os.path.join(out, 'candles_1m'))}')"
    bt = f"read_parquet('{_pq(os.path.join(out, 'backtest'))}')"
    bad = _mismatches(con, f"""
        SELECT count(*) FROM {bt} b ASOF LEFT JOIN {c1} c
            ON b.symbol = c.symbol AND b.start_time >= c.time
        WHERE b.entry_price IS DISTINCT FROM c.close""")
    n_bt = _mismatches(con, f"SELECT count(*) FROM {bt}")
    res.append(("duckdb as-of entry price", bad == 0 and n_bt > 0,
                f"{bad} of {n_bt} rows differ"))
    con.close()

    res += _signals(out, p, seed, window, hull_length)
    res += _classifier(inputs, out, p, seed)
    res += _lifo(inputs, out, seed)
    return res


SIGNAL_KEY = ("start_time", "signal_type", "direction", "trigger")


def _signals(out: str, p, seed: int, window, hull_length: int):
    """Pure-Python ``run_engine`` on sampled symbols against both the
    batch signal output and the backtest (warm-up suppressed) output."""
    import datetime as dt

    from perfbench import gen
    from tastytrade_sdk_spark.streaming.replay import warmup_days_for
    from tastytrade_sdk_spark.streaming.signal_engine import run_engine

    start, end = window
    lo = start - dt.timedelta(days=warmup_days_for("5m"))
    syms = _sample(gen.symbols(p["symbols"]), 2, seed, keep=(gen.HOT,))
    res = []
    for sym in syms:
        filt = [("symbol", "=", sym)]
        candles = sorted(
            (r["time"], r["close"]) for r in _read(os.path.join(out, "candles_5m"), filt)
        )
        ref, _ = run_engine(candles, hull_length=hull_length)
        ref_keys = [tuple(s[k] for k in SIGNAL_KEY) for s in ref]
        got = sorted(tuple(r[k] for k in SIGNAL_KEY)
                     for r in _read(os.path.join(out, "signals"), filt))
        res.append((f"run_engine signals {sym}", got == sorted(ref_keys),
                    f"{len(got)} vs {len(ref_keys)} signals"))
        ref_bt, _ = run_engine([c for c in candles if lo <= c[0] <= end],
                               hull_length=hull_length)
        ref_bt = sorted(tuple(s[k] for k in SIGNAL_KEY) for s in ref_bt
                        if s["start_time"] >= start)
        got_bt = sorted(tuple(r[k] for k in SIGNAL_KEY)
                        for r in _read(os.path.join(out, "backtest"), filt))
        res.append((f"run_engine backtest {sym}", got_bt == ref_bt,
                    f"{len(got_bt)} vs {len(ref_bt)} signals"))
    return res


def _classifier(inputs: dict, out: str, p, seed: int):
    from tastytrade_sdk_spark.kernels.classifier import Leg, classify_group

    unds = _sample([f"U{u:04d}" for u in range(p["underlyings"])], 12, seed)
    got = {}
    for r in _read(os.path.join(out, "strategies")):
        if r["underlying"] in unds:
            got.setdefault(r["underlying"], []).append(
                (r["strategy_id"], r["strategy_type"], r["n_legs"], list(r["leg_symbols"])))
    bad = 0
    for und in unds:
        rows = sorted(_read(inputs["legs"], [("underlying", "=", und)]),
                      key=lambda r: r["symbol"])
        legs = [Leg(symbol=r["symbol"], underlying=r["underlying"],
                    instrument_type=r["instrument_type"],
                    signed_quantity=float(r["signed_quantity"]),
                    option_type=r["option_type"],
                    strike=Decimal(str(r["strike"])) if r["strike"] is not None else None,
                    expiration=r["expiration"]) for r in rows]
        ref = [(i, name, len(m), [x.symbol for x in m])
               for i, (name, m) in enumerate(classify_group(legs))]
        bad += sorted(got.get(und, [])) != ref
    return [("classify_group strategies", bad == 0, f"{bad} of {len(unds)} underlyings differ")]


def _lifo(inputs: dict, out: str, seed: int):
    from tastytrade_sdk_spark.kernels.lifo import replay_one_symbol

    positions = {r["symbol"]: r["quantity"] for r in _read(inputs["positions"])}
    syms = _sample(list(positions), 40, seed)
    fills: dict[str, list] = {}
    for r in _read(inputs["fills"], [("symbol", "in", syms)]):
        fills.setdefault(r["symbol"], []).append(r)
    got = {r["symbol"]: r for r in _read(os.path.join(out, "lifo"), [("symbol", "in", syms)])}
    six = Decimal("0.000001")

    def q6(v):
        return v.quantize(six) if v is not None else None

    bad = 0
    for s in syms:
        ref = replay_one_symbol(fills.get(s, []), int(positions[s]))
        g = got.get(s)
        bad += g is None or any(
            q6(ref[k]) != g[k] for k in ("entry_credit", "fees", "weighted_price")
        ) or ref["covered"] != g["covered"]
    return [("replay_one_symbol lifo", bad == 0, f"{bad} of {len(syms)} symbols differ")]


# ---------------------------------------------------------------------------
# live_feed
# ---------------------------------------------------------------------------


def live_feed(out: str, interval: str):
    """The keep-last tables after the drain against DuckDB over every
    envelope file that reached the bus (live ticks and the burst)."""
    con = _duck()
    con.execute(f"""
        CREATE TEMP VIEW ticks AS
        SELECT symbol, ts AS time,
               json_extract(payload, '$.price')::DOUBLE AS price,
               json_extract(payload, '$.size')::BIGINT AS size,
               json_extract(payload, '$.seq')::BIGINT AS seq
        FROM read_parquet('{os.path.join(out, 'bus', '*.parquet')}')""")
    ref = candles_sql("ticks", interval)
    bad = compare_candles(con, ref, os.path.join(out, "candles"))
    n = _mismatches(con, f"SELECT count(*) FROM ({ref})")
    res = [("duckdb streaming candles", bad == 0 and n > 0, f"{bad} of {n} rows differ")]
    bad = _mismatches(con, f"""
        WITH ref AS (SELECT symbol, max(time) AS bar_time, arg_max(close, time) AS close
                     FROM ({ref}) GROUP BY symbol),
             got AS (SELECT * FROM read_parquet('{_pq(os.path.join(out, 'quotes'))}'))
        SELECT count(*) FROM ref FULL JOIN got USING (symbol)
        WHERE ref.bar_time IS DISTINCT FROM got.bar_time
           OR ref.close IS DISTINCT FROM got.close""")
    res.append(("duckdb latest quotes", bad == 0, f"{bad} symbols differ"))
    con.close()
    return res


# ---------------------------------------------------------------------------
# index_lifecycle
# ---------------------------------------------------------------------------


def brute_force_topk(ids: np.ndarray, m: np.ndarray, qids, k: int) -> dict:
    """Exact cosine top-k per query id, self excluded, ties by id."""
    unit = m / np.linalg.norm(m, axis=1, keepdims=True)
    pos = {int(i): n for n, i in enumerate(ids)}
    out = {}
    for q in qids:
        s = np.round(unit @ unit[pos[int(q)]], 6)
        s[pos[int(q)]] = -np.inf
        order = np.lexsort((ids, -s))[:k]
        out[int(q)] = {int(ids[i]) for i in order}
    return out


def recall(got_rows, truth: dict, k: int) -> float:
    got: dict[int, set] = {}
    for r in got_rows:
        got.setdefault(int(r["query_id"]), set()).add(int(r["vec_id"]))
    hits = sum(len(got.get(q, set()) & t) for q, t in truth.items())
    return hits / float(k * len(truth))
