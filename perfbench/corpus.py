"""Seeded inputs for the benchmark, with their own ground truth.

Two input families, both pure functions of ``(seed, size)``:

* A CANServer v2 log corpus built with ``sources.canserver.encode_*``:
  D devices x H hourly files carrying speed, ap_status, accel, gyro and
  gps frames, shuffled within and across one-second blocks
  (out-of-order), with repeated records (duplicates), overlapping file
  tails (cross-file duplicates) and one file with a bad header. A
  trickle sequence of small one-device files follows the history: every
  other file lands late in an hour that is already in silver, the rest
  open a new hour.
* The three query tables (events, documents, embeddings) read by the
  pinned registry queries, in the schema of the repository's test data
  (TESTDATA.md).

The generator keeps what a correct pipeline must produce: the unique
frame keys (silver rows), the bad-header file (one quarantine row) and
the autopilot transitions.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from matt3r_data_ingestion_serverless_spark.operators.autopilot import (
    AP_CODE_BY_NAME,
    AP_STATE_NAMES,
)
from matt3r_data_ingestion_serverless_spark.sources.canserver import (
    MAGIC,
    encode_frame,
    encode_mark,
    encode_sync,
)

SPEED, AP, ACCEL, GYRO, GPS = 599, 921, 273, 257, 79
# frame id -> (samples per second, payload bytes)
CHANNELS = {SPEED: (10, 3), AP: (2, 1), ACCEL: (10, 6), GYRO: (10, 6), GPS: (1, 7)}
STOPPED_RAW = 500  # speed raw value that decodes to exactly 0.0 kph
BASE_US = 1_709_510_400_000_000  # 2024-03-04T00:00:00Z
HOUR_US = 3_600_000_000
MINUTE_US = 60_000_000
BAD_DEVICE = "dev-bad"


@dataclass(frozen=True)
class CanSize:
    devices: int
    hours: int
    minutes: int  # minutes of data in each history file, from the top of the hour
    trickle_minutes: int  # minutes of data in each trickle file


@dataclass
class CanTruth:
    """Unique frames of every landed file, and what a correct drain of
    them must produce. Frames are kept as parallel arrays, one entry per
    file."""

    device: list[str] = field(default_factory=list)
    fid: list[np.ndarray] = field(default_factory=list)
    ts_us: list[np.ndarray] = field(default_factory=list)
    code: list[np.ndarray] = field(default_factory=list)  # ap code, -1 elsewhere
    quarantined: int = 0

    def add(self, device: str, frames: dict) -> None:
        self.device.append(device)
        self.fid.append(frames["fid"])
        self.ts_us.append(frames["ts_us"])
        self.code.append(frames["code"])

    def save(self, path: str) -> None:
        np.savez(
            path,
            device=np.array(self.device),
            sizes=np.array([len(f) for f in self.fid]),
            fid=np.concatenate(self.fid),
            ts_us=np.concatenate(self.ts_us),
            code=np.concatenate(self.code),
            quarantined=self.quarantined,
        )

    @classmethod
    def load(cls, path: str) -> "CanTruth":
        z = np.load(path)
        cuts = np.cumsum(z["sizes"])[:-1]
        return cls(
            [str(d) for d in z["device"]],
            np.split(z["fid"], cuts),
            np.split(z["ts_us"], cuts),
            np.split(z["code"], cuts),
            int(z["quarantined"]),
        )

    def _frame(self):
        import pandas as pd

        return pd.DataFrame(
            {
                "device_id": np.repeat(np.array(self.device, dtype=object), [len(f) for f in self.fid]),
                "fid": np.concatenate(self.fid),
                "ts_us": np.concatenate(self.ts_us),
                "code": np.concatenate(self.code),
            }
        ).drop_duplicates(["device_id", "fid", "ts_us"])

    def silver_rows(self) -> int:
        return len(self._frame()) + self.quarantined

    def transitions(self) -> set[tuple[str, int, str]]:
        """W1 lag transitions over each device's unique ap frames in time
        order; codes without a reverse name (FAULT, SNA) are skipped."""
        ap = self._frame()
        ap = ap[ap["fid"] == AP].sort_values(["device_id", "ts_us"])
        out = set()
        prev, prev_dev = None, None
        for dev, ts, code in zip(ap["device_id"], ap["ts_us"].tolist(), ap["code"].tolist()):
            if dev != prev_dev:
                prev, prev_dev = None, dev
            if AP_STATE_NAMES[code] not in AP_CODE_BY_NAME:
                continue
            if prev is not None:
                if code == 3 and prev <= 2:
                    out.add((dev, ts, "engagement"))
                elif code <= 2 and prev == 3:
                    out.add((dev, ts, "disengagement"))
            prev = code
        return out


def _device(i: int) -> str:
    return f"dev{i:02d}"


def _segments(rng, n_s: int, spans, values) -> np.ndarray:
    """Per-second series of alternating segments: ``spans(i)`` draws the
    length of segment i and ``values(i)`` its value."""
    out = np.empty(n_s, dtype=np.int64)
    pos, i = 0, int(rng.integers(0, 2))
    while pos < n_s:
        span = spans(i)
        out[pos : pos + span] = values(i)
        pos += span
        i += 1
    return out


def _speed_profile(rng, n_s: int, moving_only: bool) -> np.ndarray:
    """Moving segments of 2-8 s or 20-90 s between stops of 14-60 s.
    Gaps between stops stay clear of the 13 s session gap, so every stop
    has one reading as a stationary session."""

    def spans(i):
        if i % 2 == 0 and not moving_only:
            return int(rng.integers(14, 61))
        return int(rng.integers(2, 9) if rng.random() < 0.3 else rng.integers(20, 91))

    def values(i):
        return STOPPED_RAW if i % 2 == 0 and not moving_only else int(rng.integers(600, 2500))

    return _segments(rng, n_s, spans, values)


def _ap_profile(rng, n_s: int) -> np.ndarray:
    """Dwell 5-60 s per state, mostly cycling AVAILABLE <-> ACTIVE_NOMINAL,
    sometimes through other codes, FAULT and SNA among them (which carry
    no reverse code)."""
    state = {"cur": int(rng.choice([1, 2, 3]))}

    def values(_i):
        cur = state["cur"]
        state["cur"] = (2 if cur == 3 else 3) if rng.random() < 0.7 else int(
            rng.choice([0, 1, 4, 5, 8, 9, 14, 15])
        )
        return cur

    return _segments(rng, n_s, lambda _i: int(rng.integers(5, 61)), values)


_W = 14  # widest record: 0xCF + u16 offset + u16 id + u8 pack + 8 payload


def _encode_file(rng, start_us: int, n_s: int, *, moving_only: bool, with_ap: bool):
    """Encode ``n_s`` seconds of one device from ``start_us``.

    Every record is one row of a fixed-width byte matrix with its length;
    the file is the rows in emit order, flattened. Frames are shuffled
    within their one-second block, about 1 % are repeated verbatim, a
    few adjacent blocks swap places (frames up to 1 s late) and some
    blocks carry a mark message.

    Returns (bytes, frames, last_block) where ``frames`` holds the
    unique (fid, ts_us, code) arrays and ``last_block`` the bytes of the
    final block, which the next file of the device replays.
    """
    speed = _speed_profile(rng, n_s, moving_only)
    ap = _ap_profile(rng, n_s)
    parts = []
    for fid, (hz, plen) in CHANNELS.items():
        if fid == AP and not with_ap:
            continue
        step = 1000 // hz
        sec = np.repeat(np.arange(n_s), hz)
        off = np.tile(np.arange(hz) * step, n_s) + rng.integers(0, step, n_s * hz)
        pay = np.zeros((n_s * hz, 8), dtype=np.int64)
        code = np.full(n_s * hz, -1)
        if fid == SPEED:
            raw = speed[sec]
            moving = raw != STOPPED_RAW
            raw = raw + np.where(moving, rng.integers(-20, 21, len(raw)), 0)
            pay[:, 1] = (raw & 0xF) << 4
            pay[:, 2] = raw >> 4
        elif fid == AP:
            code = ap[sec]
            pay[:, 0] = code
        else:
            pay[:, :plen] = rng.integers(0, 256, (n_s * hz, plen))
        parts.append((sec, off, np.full(len(sec), fid), pay, np.full(len(sec), plen), code))
    sec, off, fid, pay, plen, code = (np.concatenate(c) for c in zip(*parts))
    frames = {"fid": fid, "ts_us": start_us + sec * 1_000_000 + off * 1000, "code": code}

    n = len(sec)
    bus = rng.integers(0, 3, n)
    rows = np.zeros((n, _W), dtype=np.uint8)
    rows[:, 0] = 0xCF
    rows[:, 1], rows[:, 2] = off & 0xFF, off >> 8
    rows[:, 3], rows[:, 4] = fid & 0xFF, fid >> 8
    rows[:, 5] = (bus << 4) | plen
    rows[:, 6:] = pay
    lens = 6 + plen
    if rows[0, : lens[0]].tobytes() != encode_frame(
        int(off[0]), int(fid[0]), pay[0, : plen[0]].astype(np.uint8).tobytes(), bus_id=int(bus[0])
    ):
        raise AssertionError("frame row layout disagrees with encode_frame")
    dup = np.flatnonzero(rng.random(n) < 0.01)
    rows, lens, sec = np.concatenate([rows, rows[dup]]), np.concatenate([lens, lens[dup]]), np.concatenate([sec, sec[dup]])
    kind = np.ones(len(sec), dtype=np.int64)

    syncs = np.zeros((n_s, _W), dtype=np.uint8)
    syncs[:, 0] = 0xCE
    sync_us = (start_us + np.arange(n_s, dtype=np.int64) * 1_000_000).astype("<u8")
    syncs[:, 1:9] = sync_us.view(np.uint8).reshape(n_s, 8)
    if syncs[0, :9].tobytes() != encode_sync(start_us):
        raise AssertionError("sync row layout disagrees with encode_sync")
    marked = np.flatnonzero(rng.random(n_s) < 0.05)
    marks = np.zeros((len(marked), _W), dtype=np.uint8)
    marks[:, :4] = np.frombuffer(encode_mark("mk"), dtype=np.uint8)

    rows = np.concatenate([rows, syncs, marks])
    lens = np.concatenate([lens, np.full(n_s, 9), np.full(len(marked), 4)])
    sec = np.concatenate([sec, np.arange(n_s), marked])
    kind = np.concatenate([kind, np.zeros(n_s, dtype=np.int64), np.full(len(marked), 2)])
    block = np.arange(n_s)
    for s in range(1, n_s - 1, 17):
        block[s], block[s + 1] = block[s + 1], block[s]
    order = np.lexsort((rng.random(len(sec)), kind, block[sec]))
    rows, lens, bpos = rows[order], lens[order], block[sec][order]
    mask = np.arange(_W)[None, :] < lens[:, None]
    data = rows[mask].tobytes()
    last = rows[bpos == n_s - 1][mask[bpos == n_s - 1]].tobytes()
    return data, frames, last


class CanCorpus:
    """History and trickle files for one (seed, size)."""

    def __init__(self, seed: int, size: CanSize):
        self.seed = seed
        self.size = size

    def _rng(self, *key: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, *key])

    def write_history(self, raw_dir: str) -> CanTruth:
        """D x H hourly files into ``raw_dir/<device>/``, each replaying the
        last second of the device's previous file, plus one file with a
        bad header."""
        sz = self.size
        truth = CanTruth()
        for d in range(sz.devices):
            dev = _device(d)
            tail = b""
            for h in range(sz.hours):
                data, frames, last = _encode_file(
                    self._rng(1, d, h),
                    BASE_US + h * HOUR_US,
                    sz.minutes * 60,
                    moving_only=False,
                    with_ap=True,
                )
                land(raw_dir, os.path.join(dev, f"{dev}-h{h:03d}.log"), MAGIC + tail + data)
                tail = last
                truth.add(dev, frames)
        land(
            raw_dir,
            os.path.join(BAD_DEVICE, "bad-header.log"),
            b"CANSERVER_v1_BROKEN___" + encode_sync(BASE_US),
        )
        truth.quarantined = 1
        return truth

    def trickle_plan(self, k: int) -> tuple[bool, int, int, int]:
        """Op ``k`` -> (late, device index, hour, start minute). Odd ops
        land late, after the history of one device in one history hour;
        even ops open the next new hour. The seed picks which device and
        hour; the alternation keeps the late share at one half over any
        two consecutive ops, so short runs see the same mix."""
        sz = self.size
        j = k // 2
        devs = self._rng(2, 0).permutation(sz.devices)
        if k % 2:
            hours = self._rng(2, 1).permutation(sz.hours)
            slot = j // (sz.hours * sz.devices)
            minute = sz.minutes + slot * sz.trickle_minutes
            if minute + sz.trickle_minutes > 60:
                raise ValueError("no late slot left in the history hours")
            return True, int(devs[(j // sz.hours) % sz.devices]), int(hours[j % sz.hours]), minute
        return False, int(devs[j % sz.devices]), sz.hours + j, 0

    def trickle_file(self, k: int) -> tuple[str, bytes, str, dict]:
        """(relative path, bytes, device, frames) of trickle op ``k``. Late
        files carry no autopilot frames and no stops: they land behind
        the device's gold state, where the stateful stages drop old
        samples by design, so only silver changes."""
        late, d, hour, minute = self.trickle_plan(k)
        dev = _device(d)
        data, frames, _ = _encode_file(
            self._rng(3, k),
            BASE_US + hour * HOUR_US + minute * MINUTE_US,
            self.size.trickle_minutes * 60,
            moving_only=late,
            with_ap=not late,
        )
        return os.path.join(dev, f"{dev}-t{k:05d}.log"), MAGIC + data, dev, frames


def land(raw_dir: str, rel: str, data: bytes) -> None:
    """Drop a file into the raw zone atomically: written beside the zone,
    then renamed in, so a sweep never lists a half-written file."""
    dst = os.path.join(raw_dir, rel)
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    tmp = os.path.join(os.path.dirname(raw_dir), ".landing")
    with open(tmp, "wb") as f:
        f.write(data)
    os.replace(tmp, dst)


def cached_history(cache_dir: str, seed: int, size: CanSize) -> tuple[str, CanTruth]:
    """History corpus and its truth under ``cache_dir``, generated once
    per (seed, size)."""
    path = os.path.join(cache_dir, f"can-s{seed}-d{size.devices}h{size.hours}m{size.minutes}")
    if not os.path.isdir(path):
        tmp = path + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        truth = CanCorpus(seed, size).write_history(os.path.join(tmp, "raw"))
        truth.save(os.path.join(tmp, "truth.npz"))
        os.replace(tmp, path)
    return os.path.join(path, "raw"), CanTruth.load(os.path.join(path, "truth.npz"))


# ---------------------------------------------------------------------------
# query tables
# ---------------------------------------------------------------------------

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()


@dataclass(frozen=True)
class QuerySize:
    events: int
    users: int
    documents: int
    embeddings: int


def write_query_tables(out_dir: str, seed: int, size: QuerySize) -> None:
    """events, documents and embeddings in the test-data schema of
    TESTDATA.md. Exact and near-duplicate documents are planted so the
    near-dup queries return rows."""
    rng = np.random.default_rng([seed, 7])
    os.makedirs(out_dir, exist_ok=True)

    def ts_col(us: np.ndarray) -> pa.Array:
        return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))

    e0 = BASE_US
    ev_ts = np.sort(rng.integers(e0, e0 + 30 * 24 * HOUR_US, size.events))
    etypes = np.array(["click", "error", "purchase", "signup", "view"])
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(np.arange(size.events), pa.int64()),
                "ts": ts_col(ev_ts),
                "user_id": pa.array(rng.integers(0, size.users, size.events), pa.int64()),
                "event_type": etypes[rng.integers(0, 5, size.events)],
                "value": np.round(rng.exponential(50.0, size.events), 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size.events)],
            }
        ),
        os.path.join(out_dir, "events.parquet"),
    )

    vocab = np.array(VOCAB)
    n = size.documents
    texts = [" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))]) for _ in range(n)]
    n_plant = max(4, n // 100)
    for i in range(n_plant):  # exact duplicates
        texts[n - 1 - i] = texts[i]
    for i in range(n_plant):  # single-token edits
        words = texts[n_plant + i].split(" ")
        words[len(words) // 2] = vocab[int(rng.integers(0, len(vocab)))]
        texts[n - 1 - n_plant - i] = " ".join(words)
    for c in range(n_plant // 2):  # clusters of three copies
        src = 2 * n_plant + c
        for j in (1, 2):
            texts[n - 1 - 2 * n_plant - 2 * c - j + 1] = texts[src]
    langs = np.array(["en", "zh", "es", "fr", "de"])
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(np.arange(n), pa.int64()),
                "text": texts,
                "lang": langs[rng.choice(5, n, p=[0.41, 0.15, 0.15, 0.15, 0.14])],
                "source": [f"src{s}" for s in rng.integers(0, 20, n)],
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        os.path.join(out_dir, "documents.parquet"),
    )

    x = rng.standard_normal((size.embeddings, 64))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(np.arange(size.embeddings), pa.int64()),
                "embedding": pa.array(list(x.astype(np.float32)), pa.list_(pa.float32())),
                "label": pa.array(rng.integers(0, 10, size.embeddings), pa.int32()),
            }
        ),
        os.path.join(out_dir, "embeddings.parquet"),
    )


def cached_query_tables(cache_dir: str, seed: int, size: QuerySize) -> str:
    key = f"tables-s{seed}-e{size.events}d{size.documents}v{size.embeddings}"
    path = os.path.join(cache_dir, key)
    if not os.path.isdir(path):
        tmp = path + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        write_query_tables(tmp, seed, size)
        os.replace(tmp, path)
    return path
