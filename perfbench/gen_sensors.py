"""Seeded generator of the lake workload's raw sensor files.

One KITS radar CSV (the ``wt`` source's raw shape) per day: every
detector reports one row per fifteen-minute bin, 96 a day, a few seconds
into the bin.  ``(intName, curDateTime, detID)`` is unique, so the
published ``row_id`` is too.  The radar device dimension is written once
as parquet, with one device per intersection so that every reading
joins.  Row counts depend only on the sizes, never on the seed.
"""

from __future__ import annotations

import os
from datetime import date, timedelta

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.csv as pacsv

FIRST_DAY = date(2024, 3, 1)
INTERSECTIONS = 40
_DIRS = ["NB", "SB", "EB", "WB"]


def day_str(i: int) -> str:
    return (FIRST_DAY + timedelta(days=i)).isoformat()


def _wt_day(rng, day: str, detectors: int) -> pd.DataFrame:
    det = np.repeat(np.arange(detectors), 96)
    bins = np.tile(np.arange(96), detectors)
    int_id = det % INTERSECTIONS + 1
    secs = bins * 900 + rng.integers(0, 60, det.size)
    ts = pd.Timestamp(day) + pd.to_timedelta(secs, unit="s")
    return pd.DataFrame({
        "detID": det,
        "intID": int_id,
        "curDateTime": ts.strftime("%Y-%m-%d %H:%M:%S"),
        "intName": [f"INT_{i}" for i in int_id],
        "detName": [f"{_DIRS[d % 4]}_in" for d in det],
        "volume": rng.integers(0, 120, det.size),
        "occupancy": rng.integers(0, 100, det.size),
        "speed": rng.integers(5, 70, det.size),
        "status": "Working",
        "uploadSuccess": 100,
        "detCountComparison": 1,
        "dailyCumulative": 0,
    })


def write_devices(root: str) -> str:
    """The radar device dimension (``kits_id`` = intersection id)."""
    os.makedirs(root, exist_ok=True)
    k = np.arange(1, INTERSECTIONS + 1)
    path = os.path.join(root, "wt_devices.parquet")
    pd.DataFrame({
        "kits_id": k.astype(np.int32),
        "device_type": "RADAR",
        "device_name": [f"radar_{i}" for i in k],
        "device_ip": [f"172.16.0.{i}" for i in k],
        "lat": [f"{30.0 + i * 0.01:.4f}" for i in k],
        "lon": [f"{-97.7 - i * 0.01:.4f}" for i in k],
    }).to_parquet(path, index=False)
    return path


def write_raw(root: str, seed: int, days: int, detectors: int) -> dict[str, dict]:
    """Write one CSV per day under ``root``; return
    {day: {"path", "rows", "bytes"}}."""
    os.makedirs(root, exist_ok=True)
    out = {}
    for i in range(days):
        day = day_str(i)
        df = _wt_day(np.random.default_rng([seed, i]), day, detectors)
        path = os.path.join(root, f"wt_{day}.csv")
        pacsv.write_csv(pa.Table.from_pandas(df, preserve_index=False), path)
        out[day] = {"path": path, "rows": len(df), "bytes": os.path.getsize(path)}
    return out
