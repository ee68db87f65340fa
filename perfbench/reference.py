"""numpy/pandas references the benchmark checks the engine's outputs against.

A tier row is ``(series, bin)`` → count/min/max/mean/last with left-closed,
left-labelled bins on the epoch grid (``bin = floor(ts / step) * step``),
which is what ``operators.rollup`` documents. ``last`` is the value at the
largest timestamp in the bin.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd

from perfbench.inputs import EPOCH0_US, TICK_S, Docs

TIER_S = {"1m": 60, "1h": 3600, "1d": 86_400}
_EPOCH = dt.datetime(1970, 1, 1)


def docs_points(docs: Docs, idx=None) -> tuple[np.ndarray, ...]:
    """(series index, ts_us, value) of the regular series ``idx``."""
    idx = range(len(docs.tokens)) if idx is None else idx
    sid, ts, val = [], [], []
    for j in idx:
        t = docs.tokens[j]
        sid.append(np.full(t.size, j, dtype=np.int64))
        ts.append(EPOCH0_US + np.arange(t.size, dtype=np.int64)
                  * TICK_S * 1_000_000)
        val.append(t.astype(np.float64))
    return np.concatenate(sid), np.concatenate(ts), np.concatenate(val)


def tiers(sid: np.ndarray, ts_us: np.ndarray, value: np.ndarray,
          tier: str) -> pd.DataFrame:
    """Reference tier rows: sid, bin_us, cnt, vmin, vmax, vsum, last."""
    if np.isnan(value).any():
        raise ValueError("reference expects gap-free values")
    step_us = TIER_S[tier] * 1_000_000
    order = np.lexsort((ts_us, sid))
    sid, ts_us, value = sid[order], ts_us[order], value[order]
    bins = ts_us - ts_us % step_us
    new = np.ones(sid.size, dtype=bool)
    new[1:] = (sid[1:] != sid[:-1]) | (bins[1:] != bins[:-1])
    starts = np.flatnonzero(new)
    ends = np.append(starts[1:], sid.size)
    return pd.DataFrame({
        "sid": sid[starts], "bin_us": bins[starts],
        "cnt": ends - starts,
        "vmin": np.minimum.reduceat(value, starts),
        "vmax": np.maximum.reduceat(value, starts),
        "vsum": np.add.reduceat(value, starts),
        "last": value[ends - 1],
    })


def to_us(ts) -> int:
    """A collected naive-UTC datetime (the launcher pins TZ=UTC)."""
    return (ts - _EPOCH) // dt.timedelta(microseconds=1)


def compare(expected: pd.DataFrame, actual: pd.DataFrame) -> str | None:
    """``actual`` has sid, bin_us, count, min, max, mean, last.

    Returns None when every row matches, else a one-line reason. count,
    min, max, last and mean must all match exactly.
    """
    if len(expected) != len(actual):
        return f"{len(actual)} rows, expected {len(expected)}"
    m = expected.merge(actual, on=["sid", "bin_us"], how="inner",
                       suffixes=("", "_got"))
    if len(m) != len(expected):
        return f"bin keys differ ({len(expected) - len(m)} missing)"
    for e, a in (("cnt", "count"), ("vmin", "min"), ("vmax", "max"),
                 ("last", "last_got")):
        bad = m[e].to_numpy(np.float64) != m[a].to_numpy(np.float64)
        if bad.any():
            return f"{a.removesuffix('_got')} differs in {int(bad.sum())} bins"
    mean = m["vsum"].to_numpy() / m["cnt"].to_numpy()
    bad = m["mean"].to_numpy(np.float64) != mean
    if bad.any():
        return f"mean differs in {int(bad.sum())} bins"
    return None
