"""Output checks, run once per run outside the timed operations.

Each check returns a list of problems; an empty list means the output is
correct. Tables are read with pyarrow, not Spark, so a check never shares
a code path with the program it checks.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow.dataset as ds

from matt3r_data_ingestion_serverless_spark.streaming.scheduler import topology_paths

SESSION_GAP_US = 13_000_000  # drain_topology's default stationary gap
STATIONARY_WATERMARK_US = 30_000_000  # stationary_sessions_stream's watermark delay


def _read(path: str, columns: list[str]) -> pd.DataFrame:
    if not os.path.isdir(path):
        return pd.DataFrame(columns=columns)
    return ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=columns).to_pandas()


def _us(ts: pd.Series) -> np.ndarray:
    return ts.astype("datetime64[us]").astype(np.int64).to_numpy()


def stationary_sessions(silver: pd.DataFrame) -> tuple[set, set]:
    """Recompute the stationary gold table from silver speed samples:
    session windows with a 13 s gap over zero-speed samples, emitted once
    the event-time watermark (latest zero sample minus 30 s) has passed
    the session end. Returns (sessions, sessions whose end equals the
    watermark exactly, which either side of the boundary may emit)."""
    sp = silver[silver["channel"] == "speed"]
    zero = sp[sp["values"].map(lambda v: v is not None and len(v) > 0 and v[0] <= 0.0)]
    if zero.empty:
        return set(), set()
    z = pd.DataFrame({"device_id": zero["device_id"].to_numpy(), "ts": _us(zero["ts"])})
    z = z.drop_duplicates().sort_values(["device_id", "ts"])
    watermark = int(z["ts"].max()) - STATIONARY_WATERMARK_US
    new = (z["device_id"] != z["device_id"].shift()) | (z["ts"].diff() >= SESSION_GAP_US)
    z["sid"] = new.cumsum()
    g = z.groupby("sid").agg(device_id=("device_id", "first"), start=("ts", "min"), last=("ts", "max"), n=("ts", "size"))
    g["end"] = g["last"] + SESSION_GAP_US
    rows = {(d, int(s), int(e), int(n)) for d, s, e, n in zip(g["device_id"], g["start"], g["end"], g["n"])}
    emitted = {r for r in rows if r[2] < watermark}
    ties = {r for r in rows if r[2] == watermark}
    return emitted, ties


def check_topology(root: str, truth) -> list[str]:
    """Silver, quarantine, autopilot and stationary checks of one
    topology root against the corpus truth."""
    p = topology_paths(root)
    problems = []
    silver = _read(p["silver"], ["device_id", "ts", "channel", "values"])
    want = truth.silver_rows()
    if len(silver) != want:
        problems.append(f"silver rows {len(silver)} != {want} unique frames + quarantine")
    n_q = int((silver["channel"] == "_quarantine").sum())
    if n_q != truth.quarantined:
        problems.append(f"quarantine rows {n_q} != {truth.quarantined}")

    ap = _read(p["gold_autopilot"], ["device_id", "ts_us", "status"])
    got = set(zip(ap["device_id"], ap["ts_us"].astype(np.int64).tolist(), ap["status"]))
    want_t = truth.transitions()
    if got != want_t or len(ap) != len(got):
        problems.append(
            f"autopilot events {len(ap)} != {len(want_t)} transitions "
            f"(missing {len(want_t - got)}, extra {len(got - want_t)})"
        )

    st = _read(p["gold_stationary"], ["device_id", "start_us", "end_us", "n_samples"])
    got_s = set(
        zip(st["device_id"], st["start_us"].tolist(), st["end_us"].tolist(), st["n_samples"].tolist())
    )
    emitted, ties = stationary_sessions(silver)
    if not (emitted <= got_s <= emitted | ties) or len(st) != len(got_s):
        problems.append(
            f"stationary sessions {len(st)} != {len(emitted)} recomputed from silver "
            f"(missing {len(emitted - got_s)}, extra {len(got_s - emitted - ties)})"
        )
    return problems


def drop_one_silver_row(root: str) -> None:
    """Deliberate fault for checking the checks: rewrite one data file of
    the latest silver partition without its last row."""
    import pyarrow.parquet as pq

    silver = topology_paths(root)["silver"]
    for dirpath, _dirs, files in sorted(os.walk(silver), reverse=True):
        for f in sorted(files):
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                path = os.path.join(dirpath, f)
                t = pq.read_table(path)
                if t.num_rows:
                    pq.write_table(t.slice(0, t.num_rows - 1), path)
                    return
