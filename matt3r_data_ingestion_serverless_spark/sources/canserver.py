"""CANServer v2 binary log source (SURVEY.md §2.1 S1–S5, §2.3 D1–D5).

Decodes the reference's proprietary binary CAN-bus log format
(parse_canserver_filtered_log.py:186-293) into a long-format typed
signal table. The byte-level record scan is inherently sequential per
file, so it runs as ONE Python pass per file inside ``mapInPandas``
over ``spark.read.format("binaryFile")`` — files are the parallelism
unit, exactly like the reference's one-Lambda-per-file model, but
scheduled by Spark across executors. Everything downstream of the scan
(bit-slicing, scaling, enum mapping) is vectorized numpy over Arrow
batches, then pure DataFrame ops.

Record grammar (parse_canserver_filtered_log.py:202-293):

    file    := MAGIC record*
    MAGIC   := b"CANSERVER_v2_CANSERVER"          (22 bytes, :191)
    record  := 'C' MAGIC[1:]                       embedded header, skipped (:206-223)
             | 0xCD u8 n, ascii[n]                 mark message (:224-232)
             | 0xCE u64le epoch_us                 time sync     (:234-241)
             | 0xCF u16le offset_ms u16le frame_id
               u8 (bus<<4 | len) payload[min(len,8)]  CAN frame  (:243-263)
             | any other byte                      skipped

Frame timestamp = last_sync_us + offset_ms*1000 (:250-252,265).

Signal decode (constants :111-117, layouts :146-184):
    273 accelerometer  3×int16le × 0.00125                → m/s²
    257 angular_vel    yaw=int16le×1e-4;
                       pitch=s15((b3&0x7f)<<8 | b2)×2.5e-4;
                       roll =s15((b5&0x3f)<<9 | b4<<1 | b3>>7)×2.5e-4  → rad/s
    599 speed          (b2<<4 | b1>>4)×0.08 − 40.0        → KPH
     79 gps            lat =s28((b3&0xf)<<24 | b2<<16 | b1<<8 | b0)×1e-6
                       long=s28(b6<<20 | b5<<12 | b4<<4 | b3>>4)×1e-6  → deg
    921 autopilot      AP_STATE_NAMES[b0 & 0xf]; unknown codes → NULL
                       (the reference raises KeyError, :184)

Frames with payloads shorter than the decode slice are dropped (the
reference would IndexError); channel='mark' rows preserve 0xCD
messages as a queryable superset of the reference's print-and-drop.

The inverse direction is a Python Data Source writer:
``df.write.format("canserver").save(dir)`` (after :func:`register`)
encodes frame rows back into log files that ``read_canserver`` decodes
bit-exactly.
"""

from __future__ import annotations

import os
import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.datasource import DataSource, DataSourceWriter, WriterCommitMessage

from matt3r_data_ingestion_serverless_spark.operators.autopilot import AP_STATE_NAMES

MAGIC = b"CANSERVER_v2_CANSERVER"

ACC_SCALE = 0.00125
YAW_SCALE = 0.0001
PITCH_ROLL_SCALE = 0.00025
SPEED_SCALE = 0.08
SPEED_OFFSET = -40.0
GNSS_FACTOR = 1e-6

CHANNEL_BY_FRAME = {273: "accel", 257: "gyro", 79: "location", 599: "speed", 921: "ap_status"}
MIN_PAYLOAD = {273: 6, 257: 6, 79: 7, 599: 3, 921: 1}

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("device_id", T.StringType()),
        T.StructField("ts_us", T.LongType()),
        T.StructField("frame_id", T.IntegerType()),
        T.StructField("bus_id", T.IntegerType()),
        T.StructField("payload", T.BinaryType()),
    ]
)

SIGNAL_SCHEMA = T.StructType(
    [
        T.StructField("device_id", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("channel", T.StringType()),
        T.StructField("values", T.ArrayType(T.DoubleType())),
        T.StructField("state", T.StringType()),
    ]
)


# ---------------------------------------------------------------------------
# fixture encoder (tests build golden byte streams with this)
# ---------------------------------------------------------------------------


def encode_header() -> bytes:
    return MAGIC


def encode_sync(epoch_us: int) -> bytes:
    return b"\xce" + struct.pack("<Q", epoch_us)


def encode_mark(message: str) -> bytes:
    raw = message.encode("ascii")
    return b"\xcd" + bytes([len(raw)]) + raw


def encode_frame(offset_ms: int, frame_id: int, payload: bytes, bus_id: int = 0) -> bytes:
    pack = ((bus_id & 0xF) << 4) | (len(payload) & 0xF)
    return b"\xcf" + struct.pack("<HHB", offset_ms, frame_id, pack) + payload


# ---------------------------------------------------------------------------
# writer: df.write.format("canserver").save(dir) — the format round-trips
# ---------------------------------------------------------------------------

FRAME_WRITE_SCHEMA = (
    "device_id string, ts_us long, frame_id int, bus_id int, payload binary"
)


class CanServerCommit(WriterCommitMessage):
    def __init__(self, files: list[str]):
        self.files = files


class CanServerWriter(DataSourceWriter):
    """Frame-level binary sink: each task encodes its rows back into
    CANServer v2 byte streams, one file per (task, device) under
    ``<path>/<device_id>/part-<pid>.canlog``.

    Timestamp fidelity: a frame's decode-time is sync + 16-bit
    ms-offset (parse_canserver_filtered_log.py:250-252,265), so the
    encoder re-syncs (0xCE) whenever a frame's µs timestamp is not an
    exact ms-multiple offset of the current sync within 65535 ms —
    the written stream decodes to BIT-IDENTICAL timestamps, while
    ms-aligned telemetry costs one sync per ~65 s, matching real
    logger output.

    Scale: tasks write independently (no shuffle — callers partition
    by device/time beforehand if they want file-per-hour layout);
    commit is metadata-only. This is the inverse of the reader, so
    bronze can be re-materialized FROM silver — the audit/export path
    object stores need."""

    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("canserver sink requires a path: .save('<dir>')")

    def write(self, iterator) -> CanServerCommit:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        by_device: dict[str, list] = {}
        for row in iterator:
            by_device.setdefault(row.device_id or "unknown", []).append(
                (int(row.ts_us), int(row.frame_id), int(row.bus_id or 0), bytes(row.payload))
            )
        files: list[str] = []
        for device, rows in by_device.items():
            rows.sort()
            d = os.path.join(self.path, device)
            os.makedirs(d, exist_ok=True)
            out = os.path.join(d, f"part-{pid:05d}.canlog")
            buf = [encode_header()]
            sync_us = None
            for ts_us, frame_id, bus_id, payload in rows:
                off = None if sync_us is None else ts_us - sync_us
                if off is None or off < 0 or off % 1000 != 0 or off // 1000 > 0xFFFF:
                    sync_us = ts_us
                    buf.append(encode_sync(sync_us))
                    off = 0
                buf.append(encode_frame(off // 1000, frame_id, payload, bus_id))
            with open(out, "wb") as fh:
                fh.write(b"".join(buf))
            files.append(out)
        return CanServerCommit(files)

    def commit(self, messages) -> None:
        pass  # files are final on write; readers list the dir

    def abort(self, messages) -> None:
        for m in messages:
            if m is not None:
                for f in getattr(m, "files", []):
                    try:
                        os.remove(f)
                    except OSError:
                        pass


class CanServerDataSource(DataSource):
    """Write side of ``format("canserver")``; reads go through
    :func:`read_canserver` / :func:`read_canserver_stream`."""

    @classmethod
    def name(cls) -> str:
        return "canserver"

    def writer(self, schema, overwrite: bool) -> CanServerWriter:
        if overwrite:
            import shutil

            shutil.rmtree(self.options.get("path", ""), ignore_errors=True)
        return CanServerWriter(self.options)


def register(spark) -> None:
    """Make ``df.write.format("canserver")`` available on this session."""
    spark.dataSource.register(CanServerDataSource)


# ---------------------------------------------------------------------------
# scanner: bytes → frame records
# ---------------------------------------------------------------------------


def scan_records(data: bytes) -> Iterator[tuple]:
    """Yield ('frame', ts_us, frame_id, bus_id, payload) and
    ('mark', ts_us, text) records from a CANServer v2 byte stream.

    Raises ValueError when the 22-byte magic header is absent (S2).
    """
    if len(data) < 22 or data[:22] != MAGIC:
        raise ValueError("not a valid CANServer v2 file")
    pos = 22
    n = len(data)
    last_sync = 0
    while pos < n:
        tag = data[pos]
        pos += 1
        if tag == 0x43:  # 'C' — possible embedded header from file concatenation
            if data[pos : pos + 21] == MAGIC[1:]:
                pos += 21
            # else: rewound — continue scanning from the next byte
        elif tag == 0xCD:
            if pos >= n:
                break
            size = data[pos]
            pos += 1
            if pos + size > n:
                break
            yield ("mark", last_sync, data[pos : pos + size].decode("ascii", "replace"))
            pos += size
        elif tag == 0xCE:
            if pos + 8 > n:
                break
            last_sync = struct.unpack_from("<Q", data, pos)[0]
            pos += 8
        elif tag == 0xCF:
            if pos + 5 > n:
                break
            offset_ms, frame_id, pack = struct.unpack_from("<HHB", data, pos)
            pos += 5
            length = min(pack & 0x0F, 8)
            bus_id = (pack & 0xF0) >> 4
            if pos + length > n:
                break
            yield (
                "frame",
                last_sync + offset_ms * 1000,
                frame_id,
                bus_id,
                data[pos : pos + length],
            )
            pos += length
        # other bytes: noise between records — skip (matches reference scan)


def decode_frames(data: bytes, device_id: str = "") -> pd.DataFrame:
    """Binary stream → bronze frame table (one row per 0xCF record)."""
    rows = [(device_id, r[1], r[2], r[3], r[4]) for r in scan_records(data) if r[0] == "frame"]
    return pd.DataFrame(rows, columns=["device_id", "ts_us", "frame_id", "bus_id", "payload"])


def _scan_frame_positions(data: bytes) -> tuple[np.ndarray, np.ndarray]:
    """Fast-path scan: only tracks record POSITIONS and the running
    time-sync — the loop body is a handful of int ops per record, and
    every field decode happens vectorized afterwards. Semantics are
    identical to scan_records (same tag dispatch, clamp, truncation and
    embedded-header handling)."""
    n = len(data)
    pos = 22
    last_sync = 0
    fpos: list[int] = []
    fsync: list[int] = []
    magic_tail = MAGIC[1:]
    while pos < n:
        tag = data[pos]
        pos += 1
        if tag == 0xCF:
            if pos + 5 > n:
                break
            length = data[pos + 4] & 0x0F
            if length > 8:
                length = 8
            if pos + 5 + length > n:
                break
            fpos.append(pos)
            fsync.append(last_sync)
            pos += 5 + length
        elif tag == 0xCE:
            if pos + 8 > n:
                break
            last_sync = int.from_bytes(data[pos : pos + 8], "little")
            pos += 8
        elif tag == 0xCD:
            if pos >= n:
                break
            size = data[pos]
            pos += 1
            if pos + size > n:
                break
            pos += size
        elif tag == 0x43:
            if data[pos : pos + 21] == magic_tail:
                pos += 21
    return np.asarray(fpos, dtype=np.int64), np.asarray(fsync, dtype=np.int64)


def decode_signals(data: bytes, device_id: str = "") -> pd.DataFrame:
    """bytes → long-format signal rows, fully vectorized: the scan loop
    yields frame positions only; timestamps, frame ids, and the padded
    payload matrix come from numpy gathers over one flat buffer, and the
    D1–D5 bit math runs on whole arrays. Equivalent to
    ``frames_to_signals(decode_frames(data))`` (tested), ~5× faster —
    no per-frame tuples, no per-payload bytes objects."""
    if len(data) < 22 or data[:22] != MAGIC:
        raise ValueError("not a valid CANServer v2 file")
    fpos, fsync = _scan_frame_positions(data)
    if len(fpos) == 0:
        return pd.DataFrame(columns=["device_id", "ts_us", "channel", "values", "state"])
    # one strided-view gather pulls each record's 13-byte slab (5 header
    # + ≤8 payload); field math then runs on narrow dtypes — this path
    # is memory-bandwidth-bound, so temporaries stay as small as the
    # values allow (u8 slab, i32 fields, u16 payload matrix)
    a = np.concatenate([np.frombuffer(data, dtype=np.uint8), np.zeros(16, np.uint8)])
    rec = np.lib.stride_tricks.sliding_window_view(a, 13)[fpos]
    offs = rec[:, 0].astype(np.int32) | (rec[:, 1].astype(np.int32) << 8)
    fid = rec[:, 2].astype(np.int32) | (rec[:, 3].astype(np.int32) << 8)
    length = np.minimum(rec[:, 4] & 0x0F, 8).astype(np.int32)
    ts = fsync + offs.astype(np.int64) * 1000
    mat = rec[:, 5:13].astype(np.uint16)
    mat[np.arange(8, dtype=np.int32)[None, :] >= length[:, None]] = 0
    return _signals_from_arrays(device_id, ts, fid, length, mat)


# ---------------------------------------------------------------------------
# vectorized signal decode: bronze frames → long-format signals
# ---------------------------------------------------------------------------


def _payload_matrix(payloads: pd.Series) -> np.ndarray:
    """N×8 uint16 matrix, zero-padded (uint16 so shifts don't overflow)."""
    mat = np.zeros((len(payloads), 8), dtype=np.uint16)
    for i, p in enumerate(payloads):
        b = np.frombuffer(p, dtype=np.uint8)[:8]
        mat[i, : len(b)] = b
    return mat


def _sign_extend(x: np.ndarray, bits: int) -> np.ndarray:
    x = x.astype(np.int64)
    sign = np.int64(1) << (bits - 1)
    return (x ^ sign) - sign


def _signals_from_arrays(device, ts, fid, length, mat) -> pd.DataFrame:
    """Shared D1–D5 decode over columnar arrays. ``device`` is a scalar
    (one file = one device, the fast path) or a per-row array; ``mat``
    is the N×8 zero-padded payload matrix."""
    out: list[pd.DataFrame] = []
    dev_arr = device if isinstance(device, np.ndarray) else None

    def emit(m: np.ndarray, channel: str, values: list | None, state=None) -> None:
        k = int(m.sum())
        if k == 0:
            return
        out.append(
            pd.DataFrame(
                {
                    "device_id": dev_arr[m] if dev_arr is not None else device,
                    "ts_us": ts[m],
                    "channel": channel,
                    "values": values if values is not None else [None] * k,
                    "state": state if state is not None else [None] * k,
                }
            )
        )

    for f, channel in CHANNEL_BY_FRAME.items():
        m = (fid == f) & (length >= MIN_PAYLOAD[f])
        if not m.any():
            continue
        b = mat[m].astype(np.int64)
        if f == 273:
            vals = [
                _sign_extend(b[:, 0] | (b[:, 1] << 8), 16) * ACC_SCALE,
                _sign_extend(b[:, 2] | (b[:, 3] << 8), 16) * ACC_SCALE,
                _sign_extend(b[:, 4] | (b[:, 5] << 8), 16) * ACC_SCALE,
            ]
            emit(m, channel, list(map(list, zip(*[v.tolist() for v in vals]))))
        elif f == 257:
            yaw = _sign_extend(b[:, 0] | (b[:, 1] << 8), 16) * YAW_SCALE
            pitch = _sign_extend(((b[:, 3] & 0x7F) << 8) | b[:, 2], 15) * PITCH_ROLL_SCALE
            roll = (
                _sign_extend(((b[:, 5] & 0x3F) << 9) | (b[:, 4] << 1) | (b[:, 3] >> 7), 15)
                * PITCH_ROLL_SCALE
            )
            emit(m, channel, list(map(list, zip(yaw.tolist(), pitch.tolist(), roll.tolist()))))
        elif f == 599:
            speed = ((b[:, 2] << 4) | (b[:, 1] >> 4)) * SPEED_SCALE + SPEED_OFFSET
            emit(m, channel, [[v] for v in speed.tolist()])
        elif f == 79:
            lat = (
                _sign_extend(((b[:, 3] & 0x0F) << 24) | (b[:, 2] << 16) | (b[:, 1] << 8) | b[:, 0], 28)
                * GNSS_FACTOR
            )
            lon = (
                _sign_extend((b[:, 6] << 20) | (b[:, 5] << 12) | (b[:, 4] << 4) | (b[:, 3] >> 4), 28)
                * GNSS_FACTOR
            )
            emit(m, channel, list(map(list, zip(lat.tolist(), lon.tolist()))))
        elif f == 921:
            codes = (b[:, 0] & 0x0F).tolist()
            emit(m, channel, None, [AP_STATE_NAMES.get(c) for c in codes])

    if not out:
        return pd.DataFrame(columns=["device_id", "ts_us", "channel", "values", "state"])
    return pd.concat(out, ignore_index=True)


def frames_to_signals(frames: pd.DataFrame) -> pd.DataFrame:
    """Vectorized D1–D5 decode over a bronze frame table."""
    if len(frames) == 0:
        return pd.DataFrame(columns=["device_id", "ts_us", "channel", "values", "state"])
    mat = _payload_matrix(frames["payload"])
    return _signals_from_arrays(
        frames["device_id"].to_numpy(),
        frames["ts_us"].to_numpy(dtype=np.int64),
        frames["frame_id"].to_numpy(dtype=np.int64),
        frames["payload"].map(len).to_numpy(dtype=np.int64),
        mat,
    )


# ---------------------------------------------------------------------------
# Spark sources
# ---------------------------------------------------------------------------


def _device_of(path: str, device_from: str) -> str:
    """Device/session identity. 'parent' (default) = the containing
    directory name — the reference carries the object-key prefix through
    as the partition identity (parse_canserver_filtered_log.py:302-304),
    so logs of one device share a prefix; 'stem' = file name."""
    if device_from == "parent":
        return os.path.basename(os.path.dirname(path.removeprefix("file:")))
    return os.path.splitext(os.path.basename(path))[0]


def _decode_partition_fn(device_from: str):
    def _decode_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for _, row in pdf.iterrows():
                device = _device_of(row["path"], device_from)
                try:
                    sig = decode_signals(bytes(row["content"]), device)
                except ValueError as exc:
                    # bad header (S2): the reference exit(1)s the whole
                    # Lambda (:197-198); a stream must survive one bad
                    # object — quarantine it as a queryable row instead.
                    yield pd.DataFrame(
                        {
                            "device_id": [device],
                            "ts": [pd.Timestamp(0, unit="us")],
                            "channel": ["_quarantine"],
                            "values": [None],
                            "state": [f"{row['path']}: {exc}"],
                        }
                    )
                    continue
                if len(sig):
                    sig["ts"] = pd.to_datetime(sig.pop("ts_us"), unit="us")
                    yield sig[["device_id", "ts", "channel", "values", "state"]]

    return _decode_partition


def read_canserver(spark: SparkSession, path: str, device_from: str = "parent") -> DataFrame:
    """Batch source: directory of CANServer logs → long-format signals.

    binaryFile scan parallelizes across files; each file decodes in one
    task (the format is a sequential tagged stream — same constraint the
    reference works under, parse_canserver_filtered_log.py:202).
    """
    raw = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .load(path)
        .select("path", "content")
    )
    return raw.mapInPandas(_decode_partition_fn(device_from), schema=SIGNAL_SCHEMA)


def read_canserver_stream(
    spark: SparkSession,
    path: str,
    device_from: str = "parent",
    options: dict | None = None,
) -> DataFrame:
    """Streaming source: the serverless S3→SNS→SQS fan-out (T1/T2)
    becomes a file-source readStream — new files are discovered natively,
    with checkpointed exactly-once progress instead of SQS redelivery.
    `options` passes file-source knobs through (e.g. maxFilesPerTrigger
    to bound per-batch ingest — also how tests replay a multi-batch
    timeline deterministically)."""
    reader = (
        spark.readStream.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .schema("path string, modificationTime timestamp, length long, content binary")
    )
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    raw = reader.load(path).select("path", "content")
    return raw.mapInPandas(_decode_partition_fn(device_from), schema=SIGNAL_SCHEMA)
