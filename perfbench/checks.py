"""Reference answers (numpy/pandas) and the comparisons that decide
whether an operation's output is correct. No Spark here: the tests
exercise these on hand-broken outputs.

Exactness: counts, min, max and last are compared bit-for-bit (the
codec is lossless and these aggregates do no arithmetic). Means are
compared with a relative tolerance of 1e-9, because Spark sums in
partition order and numpy pairwise; a wrong mean is off by far more.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

MEAN_RTOL = 1e-9


def _window(points: dict[str, np.ndarray], start: int, end: int) -> dict[str, np.ndarray]:
    m = (points["ts"] >= start) & (points["ts"] < end)
    return {k: v[m] for k, v in points.items()}


def point_ref(points: dict[str, np.ndarray], sid: int, start: int, end: int) -> dict:
    p = _window(points, start, end)
    v = p["value"][p["sid"] == sid]
    return {"n_samples": int(len(v)), "min_value": float(v.min()), "max_value": float(v.max())}


def range_ref(points: dict[str, np.ndarray], names: np.ndarray, start: int, end: int) -> pd.DataFrame:
    """Per series over [start, end): min, max, count and the value at the
    latest timestamp. ``points`` is sorted by (series, ts)."""
    p = _window(points, start, end)
    df = pd.DataFrame({"series_id": names[p["sid"]], "value": p["value"]})
    g = df.groupby("series_id", sort=True)["value"]
    return pd.DataFrame(
        {"min_value": g.min(), "max_value": g.max(), "n_samples": g.size(), "last_value": g.last()}
    ).reset_index()


def rollup_ref(points: dict[str, np.ndarray], names: np.ndarray) -> pd.DataFrame:
    """Per series per hour: min, max, mean and count."""
    df = pd.DataFrame(
        {"series_id": names[points["sid"]], "hour": points["ts"] - points["ts"] % 3600,
         "value": points["value"]}
    )
    g = df.groupby(["series_id", "hour"], sort=True)["value"]
    return pd.DataFrame(
        {"min_value": g.min(), "max_value": g.max(), "avg_value": g.mean(), "n_samples": g.size()}
    ).reset_index()


def _bits(a) -> np.ndarray:
    return np.ascontiguousarray(np.asarray(a, dtype=np.float64)).view(np.uint64)


def frame_problems(got: pd.DataFrame, want: pd.DataFrame, keys: list[str],
                   approx: tuple[str, ...] = ()) -> list[str]:
    """Compare two result frames keyed by ``keys``. Every non-key column
    is exact (float bit patterns) except the ``approx`` ones."""
    if sorted(got.columns) != sorted(want.columns):
        return [f"columns {sorted(got.columns)} != {sorted(want.columns)}"]
    if len(got) != len(want):
        return [f"{len(got)} rows, want {len(want)}"]
    g = got.sort_values(keys, kind="mergesort").reset_index(drop=True)
    w = want.sort_values(keys, kind="mergesort").reset_index(drop=True)
    problems = []
    for c in want.columns:
        gc, wc = g[c].to_numpy(), w[c].to_numpy()
        if c in approx:
            ok = np.isclose(gc.astype(float), wc.astype(float), rtol=MEAN_RTOL, atol=0.0)
        elif np.issubdtype(wc.dtype, np.floating):
            ok = _bits(gc) == _bits(wc)
        else:
            ok = np.asarray(gc == wc, dtype=bool)
        if not ok.all():
            i = int(np.flatnonzero(~ok)[0])
            problems.append(f"{c}: {int((~ok).sum())} mismatches, first {gc[i]!r} != {wc[i]!r}")
    return problems


def dict_problems(got: dict, want: dict) -> list[str]:
    """Exact comparison of a one-row answer (floats by bit pattern)."""
    problems = []
    for k, w in want.items():
        g = got.get(k)
        same = (g is not None and (_bits([g]) == _bits([w]))[0]) if isinstance(w, float) else g == w
        if not same:
            problems.append(f"{k}: {g!r} != {w!r}")
    return problems


def multiset_problems(got_sid: np.ndarray, got_ts: np.ndarray, got_value: np.ndarray,
                      want: dict[str, np.ndarray]) -> list[str]:
    """The decoded store must hold exactly the generated points: equal
    multisets of (series, ts, value bits)."""
    if len(got_ts) != len(want["ts"]):
        return [f"{len(got_ts)} points decoded, {len(want['ts'])} ingested"]

    def canon(sid, ts, value):
        bits = _bits(value)
        order = np.lexsort((bits, ts, sid))
        return sid[order], ts[order], bits[order]

    g = canon(np.asarray(got_sid), np.asarray(got_ts, dtype=np.int64), got_value)
    w = canon(want["sid"], want["ts"], want["value"])
    problems = []
    for label, a, b in zip(("series", "ts", "value bits"), g, w):
        if not np.array_equal(a, b):
            problems.append(f"{label}: {int((a != b).sum())} of {len(a)} points differ")
    return problems
