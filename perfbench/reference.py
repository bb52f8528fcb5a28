"""Independent expected outputs and the order-insensitive digest.

Every expected result is computed here with numpy from the generated
arrays, never by the program under test. Outputs are compared as an
exact row count plus a digest: each row hashes to 64 bits (floats by
their IEEE bits, nulls and NaN to one sentinel) and the digest is the
sum of the row hashes modulo 2**64, so row order does not matter but
one dropped row or one changed bit does. Float sums are never
compared as sums: the program's grid sums (``functions/aggfns.py``,
``operators/anomaly.py``) fix the operation order, which is what makes
the bit-exact numpy twins below possible.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

import datagen

GRID = 1_000_000.0
HOUR_US = 3600 * 1_000_000
Z_THRESHOLD = 3.0
MIN_POINTS = 5

_M1 = np.uint64(0xBF58476D1CE4E5B9)
_M2 = np.uint64(0x94D049BB133111EB)
_GOLDEN = np.uint64(0x9E3779B97F4A7C15)
_NULL = np.uint64(0x5BD1E9955BD1E995)


def _mix(x: np.ndarray) -> np.ndarray:
    """splitmix64 finaliser over a uint64 array (wrapping arithmetic)."""
    x = x ^ (x >> np.uint64(30))
    x = x * _M1
    x = x ^ (x >> np.uint64(27))
    x = x * _M2
    return x ^ (x >> np.uint64(31))


def _bits(col) -> np.ndarray:
    a = np.asarray(col)
    kind = a.dtype.kind
    if kind == "f":
        out = a.astype(np.float64).view(np.uint64).copy()
        out[np.isnan(a)] = _NULL
        return out
    if kind in "iu":
        return a.astype(np.int64).view(np.uint64)
    if kind == "b":
        return a.astype(np.uint64)
    if kind == "M":
        return a.astype("datetime64[us]").astype(np.int64).view(np.uint64)
    codes, uniques = pd.factorize(a, use_na_sentinel=True)
    uh = np.array(
        [
            int.from_bytes(hashlib.blake2b(str(u).encode(), digest_size=8).digest(), "little")
            for u in uniques
        ],
        dtype=np.uint64,
    )
    out = np.full(len(a), _NULL, dtype=np.uint64)
    ok = codes >= 0
    out[ok] = uh[codes[ok]]
    return out


def digest(columns: list) -> dict:
    """{"rows": n, "digest": hex} of equal-length columns; order of the
    rows is irrelevant, order of the columns is not."""
    n = len(columns[0])
    h = np.zeros(n, dtype=np.uint64)
    for i, c in enumerate(columns):
        salt = np.uint64(((i + 1) * int(_GOLDEN)) & 0xFFFFFFFFFFFFFFFF)
        h = _mix(h ^ _mix(_bits(c) + salt))
    return {"rows": int(n), "digest": f"{int(h.sum(dtype=np.uint64)):016x}"}


def rolling_z(key, ts_us, v, window_s: int):
    """Trailing-window z-score per key, current row included — the
    fixed op order of ``operators/anomaly.py::rolling_zscore``:
    s1 = Σfloor(v·1e6), s2 = Σfloor(v²·1e6), mean = s1/1e6/n,
    var = s2/1e6/n − mean², z = (v − mean)/√var when n ≥ 5 and
    var > 0. Returns the rows sorted by (key, ts) with z and flag."""
    order = np.lexsort((ts_us, key))
    k, t, x = key[order], ts_us[order], v[order]
    w = int(window_s) * 1_000_000
    g1 = np.floor(x * GRID).astype(np.int64)
    g2 = np.floor(x * x * GRID).astype(np.int64)
    p1 = np.concatenate([[0], np.cumsum(g1)])
    p2 = np.concatenate([[0], np.cumsum(g2)])
    rel = t - t.min() + 1
    big = int(rel.max()) + w + 2
    kk = k * big + rel  # (key, time) as one sortable int64
    start = np.searchsorted(k, k, "left")
    hi = np.searchsorted(kk, kk, "right")
    lo = np.maximum(np.searchsorted(kk, kk - w, "left"), start)
    n = hi - lo
    mean = (p1[hi] - p1[lo]).astype(np.float64) / GRID / n
    var = (p2[hi] - p2[lo]).astype(np.float64) / GRID / n - mean * mean
    ok = (n >= MIN_POINTS) & (var > 0)
    z = np.full(len(x), np.nan)
    z[ok] = (x[ok] - mean[ok]) / np.sqrt(var[ok])
    flag = np.zeros(len(x), dtype=bool)
    flag[ok] = np.abs(z[ok]) >= Z_THRESHOLD
    return order, z, flag


# ---------------------------------------------------------- daily_batch


def _series(days: list[dict], tagpath_of: np.ndarray) -> list:
    """The materialised series after ingesting ``days``: readings with
    value ≠ 0, one row per (sensor, ts) keeping the max value, enriched
    with the sensor's tagpath, partitioned by year/month."""
    sensor = np.concatenate([d["user_id"] for d in days])
    ts = np.concatenate([d["ts"] for d in days])
    value = np.concatenate([d["value"] for d in days])
    keep = value != 0
    sensor, ts, value = sensor[keep], ts[keep], value[keep]
    order = np.lexsort((value, ts, sensor))
    sensor, ts, value = sensor[order], ts[order], value[order]
    last = np.ones(len(ts), dtype=bool)
    last[:-1] = (sensor[1:] != sensor[:-1]) | (ts[1:] != ts[:-1])
    sensor, ts, value = sensor[last], ts[last], value[last]
    when = ts.astype("datetime64[us]")
    year = when.astype("datetime64[Y]").astype(np.int64) + 1970
    month = when.astype("datetime64[M]").astype(np.int64) % 12 + 1
    return [sensor, ts, value, tagpath_of[sensor], year, month]


def _rollup(sensor, ts, value, tagpath_of) -> list:
    """sensor_hourly_rollup: per (tagpath, hour) over value ≠ 0 —
    dsum = double(Σ floor(v·1e6)) / 1e6, count, max(ts)."""
    m = value != 0
    g = (
        pd.DataFrame(
            {
                "tagpath": tagpath_of[sensor[m]],
                "hour": ts[m] // HOUR_US * HOUR_US,
                "g": np.floor(value[m] * GRID).astype(np.int64),
                "ts": ts[m],
            }
        )
        .groupby(["tagpath", "hour"], sort=False)
        .agg(g=("g", "sum"), n=("g", "size"), last=("ts", "max"))
        .reset_index()
    )
    return [
        g["tagpath"].to_numpy(object),
        g["hour"].to_numpy(np.int64),
        g["g"].to_numpy(np.int64).astype(np.float64) / GRID,
        g["n"].to_numpy(np.int64),
        g["last"].to_numpy(np.int64),
    ]


def _asof(sensor, ts, cal) -> tuple[np.ndarray, np.ndarray]:
    """Latest calibration (offset, gain) with the same sensor at or
    before each reading; NaN where none precedes."""
    base = datagen.EPOCH_2024 * 1_000_000
    big = 1 << 44  # above every µs offset used: sensor·big + offset fits int64
    rk = cal["user_id"] * big + (cal["ts"] - base)
    ro = np.argsort(rk)
    rk = rk[ro]
    idx = np.searchsorted(rk, sensor * big + (ts - base), "right") - 1
    hit = idx >= 0
    hit[hit] = cal["user_id"][ro][idx[hit]] == sensor[hit]
    off = np.full(len(ts), np.nan)
    gain = np.full(len(ts), np.nan)
    off[hit] = cal["offset"][ro][idx[hit]]
    gain[hit] = cal["gain"][ro][idx[hit]]
    return off, gain


def daily_columns(seed: int, s: dict) -> dict:
    """Expected columns of every daily_batch check: the store after
    each of the three runs, then the three queries over all days."""
    a = datagen.daily_arrays(seed, s)
    days = a["days"]
    tagpath_of = np.asarray(a["customer"]["c_mktsegment"].to_pylist(), dtype=object)
    h = s["history_days"]
    ev_id, ts, sensor, value = (np.concatenate([d[k] for d in days]) for k in ("event_id", "ts", "user_id", "value"))
    off, gain = _asof(sensor, ts, a["cal"])
    order, z, flag = rolling_z(sensor, ts, value, s["window_s"])
    return {
        "bootstrap": _series(days[:h], tagpath_of),
        "overwrite": _series(days[: h + 1], tagpath_of),
        "append": _series(days, tagpath_of),
        "rollup": _rollup(sensor, ts, value, tagpath_of),
        "asof": [ev_id, sensor, ts, value, off, gain],
        "zscore": [ev_id[order], sensor[order], ts[order], value[order], z, flag],
    }


# -------------------------------------------------------- stream_epochs


def stream_columns(seed: int, s: dict) -> dict:
    """The stream scores every reading once, bit-equal to the batch
    z-score (in-order delivery); the ingest accepts every original
    document once and rejects every re-delivery."""
    r = datagen.readings_arrays(seed, s)
    order, z, flag = rolling_z(r["sensor_id"], r["ts"], r["value"], s["window_s"])
    d = datagen.docs_arrays(seed, s)
    m = d["doc_id"] < d["originals"]
    return {
        "scores": [r["sensor_id"][order], r["ts"][order], r["value"][order], z, flag],
        "accepted": [d["doc_id"][m], d["text"][m]],
    }


COLUMNS = {"daily_batch": daily_columns, "stream_epochs": stream_columns}


def expected_digests(workload: str, seed: int, s: dict) -> dict:
    return {k: digest(v) for k, v in COLUMNS[workload](seed, s).items()}
