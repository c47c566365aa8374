"""Scalar function library (SURVEY §2.9) — pure Column expressions.

Every function here returns a ``pyspark.sql.Column`` built from
built-in functions, so all of it stays inside whole-stage codegen.
No Python UDFs.

Reference semantics re-expressed (citations into /root/reference):

- boundary float coercion: 10-dp round, NaN/inf -> null
  (src/tastytrade/messaging/models/events.py:37-53)
- mid price = round((bid+ask)/2, 10) (src/tastytrade/analytics/metrics.py:169-172)
- Credit/Debit sign application on money (src/tastytrade/analytics/positions.py:32-43)
- decorated candle symbol ``SPX{=5m}`` <-> (base, interval)
  (src/tastytrade/utils/helpers.py:33-47)
- interval string ``(\\d*)([smhdw])`` -> milliseconds
  (src/tastytrade/messaging/models/messages.py:133-180)
- OCC option symbol parse: root + YYMMDD + C/P + strike*1000
  (src/tastytrade/accounts/streamer.py:60-99, analytics/positions.py:599-633)
- UTC -> US/Eastern session shifting (src/tastytrade/charting/server.py:36-60)
- DTE = expiration - today (src/tastytrade/analytics/positions.py:612-617)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

FLOAT_PRECISION = 10


def clean_float(col: Column | str, precision: int = FLOAT_PRECISION) -> Column:
    """Boundary coercion: NaN/±inf -> NULL, else round to ``precision`` dp."""
    c = F.col(col) if isinstance(col, str) else col
    bad = F.isnan(c) | (c == float("inf")) | (c == float("-inf"))
    return F.when(c.isNull() | bad, F.lit(None)).otherwise(F.round(c, precision))


def mid_price(bid: Column | str = "bidPrice", ask: Column | str = "askPrice") -> Column:
    b = F.col(bid) if isinstance(bid, str) else bid
    a = F.col(ask) if isinstance(ask, str) else ask
    return F.round((b + a) / F.lit(2), FLOAT_PRECISION)


def apply_effect(amount: Column | str, effect: Column | str) -> Column:
    """'Credit' -> +amount, 'Debit' -> -amount; a NULL amount signs to
    0 — the reference treats a missing amount as Decimal('0')
    (analytics/positions.py apply_effect), so a NULL must not
    propagate into totals where the reference reports a finite sum."""
    amt = F.col(amount) if isinstance(amount, str) else amount
    eff = F.col(effect) if isinstance(effect, str) else effect
    # untyped zero literal: coalesce promotes it to amt's own type
    # (decimal stays decimal at the money sites)
    amt = F.coalesce(amt, F.lit(0))
    return F.when(eff == "Debit", -amt).otherwise(amt)


def parse_candle_symbol(sym: Column | str) -> tuple[Column, Column]:
    """``SPX{=5m}`` -> (base_symbol, interval); plain symbols -> (sym, NULL)."""
    s = F.col(sym) if isinstance(sym, str) else sym
    base = F.regexp_extract(s, r"^([^{]+)", 1)
    interval = F.nullif(F.regexp_extract(s, r"\{=([^}]+)\}", 1), F.lit(""))
    return base, interval


def format_candle_symbol(base: Column | str, interval: Column | str) -> Column:
    b = F.col(base) if isinstance(base, str) else base
    i = F.col(interval) if isinstance(interval, str) else interval
    return F.concat(b, F.lit("{="), i, F.lit("}"))


_INTERVAL_MS = {"s": 1_000, "m": 60_000, "h": 3_600_000, "d": 86_400_000, "w": 604_800_000}


def interval_to_ms(interval: Column | str) -> Column:
    """``"5m"`` / ``"h"`` / ``"2d"`` -> milliseconds (bare unit =>
    count 1; case-insensitive like the reference's interval.lower(),
    messages.py parse_interval).

    The count and unit are parsed with ONE anchored whole-string
    match: separately anchoring count at the start and unit at the end
    would silently mis-read compound or junk strings ('5m30s' -> 5s,
    '5xm' -> 5m). Malformed input yields NULL — the expression-layer
    error signal — rather than a wrong bucket width.
    """
    s = F.col(interval) if isinstance(interval, str) else interval
    s = F.lower(s)
    pat = r"^([0-9]*)([smhdw])$"
    count = F.coalesce(
        F.nullif(F.regexp_extract(s, pat, 1), F.lit("")).cast("long"), F.lit(1)
    )
    unit = F.regexp_extract(s, pat, 2)
    unit_ms = F.lit(None).cast("long")
    for u, ms in _INTERVAL_MS.items():
        unit_ms = F.when(unit == u, F.lit(ms)).otherwise(unit_ms)
    return count * unit_ms


def interval_ms_value(interval: str) -> int:
    """Driver-side Python twin of interval_to_ms, for sizing decisions
    made while BUILDING a plan (e.g. deriving the as-of skew-bucket
    width from the candle interval in run_backtest) — same anchored
    whole-string grammar, but raises on malformed input instead of
    yielding NULL (a sizing decision can't proceed on a bad interval).
    """
    import re

    m = re.fullmatch(r"([0-9]*)([smhdw])", interval.lower())
    if not m:
        raise ValueError(f"malformed interval: {interval!r}")
    return int(m.group(1) or 1) * _INTERVAL_MS[m.group(2)]


def floor_time_to_interval(ts: Column | str, interval_ms: Column) -> Column:
    """Interval flooring (W8): epoch_ms // interval_ms * interval_ms as timestamp."""
    t = F.col(ts) if isinstance(ts, str) else ts
    # unix_micros is exact; double-based epoch math loses sub-ms precision
    epoch_ms = F.floor(F.unix_micros(t) / 1000)
    floored = F.floor(epoch_ms / interval_ms) * interval_ms
    return F.timestamp_millis(floored.cast("long"))


def parse_occ_symbol(sym: Column | str) -> Column:
    """OCC 21-char option symbol -> struct(root, expiration_date, option_type, strike).

    Layout: 6-char padded root + YYMMDD + C/P + 8-digit strike*1000
    (e.g. ``'SPY   260306C00700000'``).
    """
    s = F.col(sym) if isinstance(sym, str) else sym
    root = F.trim(F.substring(s, 1, 6))
    exp = F.to_date(F.substring(s, 7, 6), "yyMMdd")
    opt_type = F.substring(s, 13, 1)
    strike = F.substring(s, 14, 8).cast("decimal(18,6)") / 1000
    ok = s.rlike(r"^.{6}\d{6}[CP]\d{8}$")
    return F.when(
        ok,
        F.struct(
            root.alias("root"),
            exp.alias("expiration_date"),
            opt_type.alias("option_type"),
            strike.cast("decimal(18,6)").alias("strike_price"),
        ),
    ).otherwise(F.lit(None))


def to_et(ts: Column | str) -> Column:
    """Naive-UTC timestamp -> US/Eastern wall-clock (session gating P8)."""
    t = F.col(ts) if isinstance(ts, str) else ts
    return F.from_utc_timestamp(t, "America/New_York")


def in_session(ts: Column | str, start_hour: int = 10, end_hour: int = 15) -> Column:
    """Signals allowed only 10:00-15:00 ET (hull_macd.py:119-133)."""
    et = to_et(ts)
    minutes = F.hour(et) * 60 + F.minute(et)
    return (minutes >= start_hour * 60) & (minutes < end_hour * 60)


def is_trading_day(d: Column | str) -> Column:
    """Mon-Fri filter (P9); dayofweek: 1=Sun .. 7=Sat."""
    c = F.col(d) if isinstance(d, str) else d
    return F.dayofweek(c).between(2, 6)


def dte(expiration: Column | str, today: Column | str) -> Column:
    e = F.col(expiration) if isinstance(expiration, str) else expiration
    t = F.col(today) if isinstance(today, str) else today
    return F.datediff(e, t)
