"""Seeded input generation for the benchmark workloads.

Every input is a pure function of (workload, seed): the same seed
writes byte-identical parquet files. Generation runs in a child
process (``python3 perfbench/datagen.py <workload> <seed> <dir>``)
so its numpy arrays never count towards the driver's peak RSS; the
child also computes the expected outputs (``reference.py``) from the
same arrays and leaves their digests in ``<dir>/expected.json``.

Timestamps are written as parquet ``timestamp[us]`` (naive UTC), the
form ``sources.tables.load_table`` normalises.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_2024 = 1_704_067_200  # 2024-01-01T00:00:00Z, epoch seconds
DAY_US = 86_400 * 1_000_000
TS = pa.timestamp("us")

#: Sizes per workload: a cycle takes 6-10 s on a 4-core host, mostly
#: per-job and per-trigger overhead rather than rows.
SIZES = {
    "daily_batch": {
        "sensors": 500,
        "tagpaths": 4,
        "history_days": 89,  # 2024-01-01 .. 2024-03-29
        "rows_per_day": 1000,
        "zero_share": 0.02,
        "dup_share": 0.01,
        "hot_share": 0.10,  # one sensor's share of the readings (key skew)
        "calibrations_per_sensor": 8,
        "window_s": 6 * 3600,
    },
    "stream_epochs": {
        "sensors": 100,
        "files": 4,
        "rows_per_file": 1000,
        "window_s": 6 * 3600,
        "docs": 1500,
        "redeliver_share": 0.10,
        "doc_files": 4,
        # state compaction threshold handed to ingest_batch, so that a
        # four-epoch drain compacts once inside the timed cycle
        "maintain_max_batch_dirs": 4,
    },
}

WORDS = np.array(
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo "
    "lima mike november oscar papa quebec romeo sierra tango uniform "
    "victor whiskey xray yankee zulu".split()
)


def _write(table: pa.Table, path: str, mtime: float | None = None) -> None:
    pq.write_table(table, path)
    if mtime is not None:
        # the file source orders by modification time: pin it
        os.utime(path, (mtime, mtime))


def _customer(n_sensors: int, n_tagpaths: int, rng: np.random.Generator) -> pa.Table:
    tag_of = rng.integers(0, n_tagpaths, n_sensors)
    return pa.table(
        {
            "c_custkey": pa.array(np.arange(n_sensors, dtype=np.int64)),
            "c_mktsegment": pa.array([f"plant{t:02d}_line" for t in tag_of]),
        }
    )


def _values(rng: np.random.Generator, n: int) -> np.ndarray:
    """Positive two-decimal readings (never -0.0, never NaN)."""
    return np.round(rng.normal(50.0, 8.0, n).clip(0.5, 99.5), 2)


# ---------------------------------------------------------- daily_batch


def daily_arrays(seed: int, s: dict) -> dict:
    """One array set per landing day (history days, then the two new
    days the overwrite and the append runs pick up), one hot sensor,
    and a calibration table for the as-of join."""
    rng = np.random.default_rng([seed, 1])
    days = []
    next_id = 0
    for d in range(s["history_days"] + 2):
        n = s["rows_per_day"]
        hot = rng.random(n) < s["hot_share"]
        sensor = np.where(hot, 0, rng.integers(1, s["sensors"], n)).astype(np.int64)
        ts = EPOCH_2024 * 1_000_000 + d * DAY_US + rng.integers(0, DAY_US, n)
        value = _values(rng, n)
        value[rng.random(n) < s["zero_share"]] = 0.0
        # re-delivered readings: same (sensor, ts), corrected value
        dup = rng.random(n) < s["dup_share"]
        sensor = np.concatenate([sensor, sensor[dup]])
        ts = np.concatenate([ts, ts[dup]])
        value = np.concatenate([value, _values(rng, int(dup.sum()))])
        order = np.argsort(ts, kind="stable")
        days.append(
            {
                "event_id": np.arange(next_id, next_id + len(ts), dtype=np.int64),
                "ts": ts[order],
                "user_id": sensor[order],
                "value": value[order],
            }
        )
        next_id += len(ts)
    n_cal = s["sensors"] * s["calibrations_per_sensor"]
    span_us = len(days) * DAY_US
    # calibrations start a day in, so some readings have no preceding
    # state (null as-of values); distinct offsets keep (sensor, ts) unique
    cal = {
        "user_id": np.repeat(np.arange(s["sensors"], dtype=np.int64), s["calibrations_per_sensor"]),
        "ts": EPOCH_2024 * 1_000_000 + DAY_US + rng.choice(span_us - DAY_US, n_cal, replace=False),
        "offset": np.round(rng.normal(0.0, 1.0, n_cal), 3),
        "gain": np.round(rng.uniform(0.9, 1.1, n_cal), 4),
    }
    return {"days": days, "cal": cal, "customer": _customer(s["sensors"], s["tagpaths"], rng)}


def write_daily(seed: int, s: dict, out: str) -> dict:
    a = daily_arrays(seed, s)
    land = os.path.join(out, "landing")
    os.makedirs(land)
    names = []
    for d, day in enumerate(a["days"]):
        name = (dt.date(2024, 1, 1) + dt.timedelta(days=d)).isoformat() + ".parquet"
        _write(
            pa.table({**day, "ts": pa.array(day["ts"], TS)}),
            os.path.join(land, name),
        )
        names.append(name)
    _write(a["customer"], os.path.join(out, "customer.parquet"))
    _write(
        pa.table({**a["cal"], "ts": pa.array(a["cal"]["ts"], TS)}),
        os.path.join(out, "calibration.parquet"),
    )
    return {
        "day_files": names,
        "day_rows": {n: len(d["ts"]) for n, d in zip(names, a["days"])},
    }


# -------------------------------------------------------- stream_epochs


def readings_arrays(seed: int, s: dict) -> dict:
    """Event-time-ordered readings with unique (sensor, ts): file k
    holds the k-th hour, so in-order delivery holds."""
    rng = np.random.default_rng([seed, 2])
    n = s["files"] * s["rows_per_file"]
    off = np.sort(rng.choice(s["files"] * 3600 * 1_000_000, n, replace=False))
    value = _values(rng, n)
    spikes = rng.random(n) < 0.01
    value[spikes] = np.round(value[spikes] + 40.0, 2)
    return {
        "sensor_id": rng.integers(0, s["sensors"], n).astype(np.int64),
        "ts": EPOCH_2024 * 1_000_000 + off,
        "value": value,
    }


def docs_arrays(seed: int, s: dict) -> dict:
    """Unique documents plus exact re-deliveries under fresh ids that
    are above every original id and land in a later file than the
    original (the last file holds re-deliveries only)."""
    rng = np.random.default_rng([seed, 3])
    n, files = s["docs"], s["doc_files"]
    words = WORDS[rng.integers(0, len(WORDS), (n, 6))]
    texts = np.array([f"reading {i} " + " ".join(w) for i, w in enumerate(words)], dtype=object)
    file_of = np.sort(rng.integers(0, files - 1, n))
    n_re = int(n * s["redeliver_share"])
    src = rng.choice(n, n_re, replace=False)
    re_file = np.minimum(file_of[src] + 1 + rng.integers(0, 3, n_re), files - 1)
    return {
        "doc_id": np.concatenate([np.arange(n, dtype=np.int64), n + np.arange(n_re, dtype=np.int64)]),
        "text": np.concatenate([texts, texts[src]]),
        "file": np.concatenate([file_of, re_file]),
        "originals": n,
    }


def write_streams(seed: int, s: dict, out: str) -> dict:
    r = readings_arrays(seed, s)
    os.makedirs(os.path.join(out, "readings"))
    per = s["rows_per_file"]
    for k in range(s["files"]):
        sl = slice(k * per, (k + 1) * per)
        t = pa.table(
            {
                "sensor_id": r["sensor_id"][sl],
                "ts": pa.array(r["ts"][sl], TS),
                "value": r["value"][sl],
            }
        )
        _write(t, os.path.join(out, "readings", f"{k:03d}.parquet"), mtime=1_700_000_000 + k)
    d = docs_arrays(seed, s)
    os.makedirs(os.path.join(out, "docs"))
    for k in range(s["doc_files"]):
        m = d["file"] == k
        t = pa.table({"doc_id": d["doc_id"][m], "text": pa.array(d["text"][m], pa.string())})
        _write(t, os.path.join(out, "docs", f"{k:03d}.parquet"), mtime=1_700_000_000 + k)
    return {"readings": int(len(r["ts"])), "docs": int(len(d["doc_id"]))}


WRITERS = {"daily_batch": write_daily, "stream_epochs": write_streams}


def main(argv: list[str]) -> int:
    workload, seed, out = argv[0], int(argv[1]), argv[2]
    from reference import expected_digests  # same directory; sys.path[0]

    s = SIZES[workload]
    os.makedirs(out, exist_ok=True)
    info = WRITERS[workload](seed, s, out)
    info["sizes"] = s
    info["expected"] = expected_digests(workload, seed, s)
    with open(os.path.join(out, "expected.json"), "w") as fh:
        json.dump(info, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
