"""Golden-fixture tests for the CANServer v2 decoder (FIXTURES.md §B2).

Expected values computed from the decode math verified in SURVEY.md
§2.3 (constants parse_canserver_filtered_log.py:111-117, bit layouts
:146-184) — independent of the decoder implementation under test.
"""

from __future__ import annotations

import pytest

from matt3r_data_ingestion_serverless_spark.sources import canserver as cs

SYNC_US = 1_700_000_000_000_000


def build_stream(frames, *, header=True, prefix=b"", suffix=b"") -> bytes:
    data = cs.encode_header() if header else b""
    data += prefix + cs.encode_sync(SYNC_US)
    for offset_ms, fid, payload in frames:
        data += cs.encode_frame(offset_ms, fid, payload)
    return data + suffix


def signals_of(data: bytes):
    frames = cs.decode_frames(data, "dev")
    return cs.frames_to_signals(frames)


def test_header_required():
    with pytest.raises(ValueError):
        cs.decode_frames(b"NOT_A_CANSERVER_FILE__" + b"\x00" * 10)


def test_accel_decode():
    sig = signals_of(build_stream([(100, 273, bytes([0x34, 0x12, 0x00, 0x80, 0xFF, 0x7F]))]))
    row = sig.iloc[0]
    assert row["channel"] == "accel"
    assert row["ts_us"] == SYNC_US + 100_000
    assert row["values"] == pytest.approx([4660 * 0.00125, -32768 * 0.00125, 32767 * 0.00125])


def test_gyro_decode_cross_byte_fields():
    # yaw int16 -32768; pitch s15((0x7f&0x7f)<<8|0xff)=s15(32767)=-1;
    # roll s15((0x3f<<9)|(0xff<<1)|(0x7f>>7))=s15(32766)=-2
    sig = signals_of(build_stream([(0, 257, bytes([0x00, 0x80, 0xFF, 0x7F, 0xFF, 0x3F]))]))
    assert sig.iloc[0]["values"] == pytest.approx([-3.2768, -0.00025, -0.0005])


def test_speed_decode_extremes():
    sig = signals_of(
        build_stream(
            [
                (0, 599, bytes([0x00, 0xF0, 0xFF])),  # raw 4095 → 287.6
                (1, 599, bytes([0x00, 0x40, 0x1F])),  # raw 500 → 0.0
            ]
        )
    )
    vals = sorted(v[0] for v in sig["values"])
    assert vals == pytest.approx([0.0, 287.6])


def test_gps_decode_28bit_extremes():
    payload = bytes([0xFF, 0xFF, 0xFF, 0x07, 0x00, 0x00, 0x80])
    sig = signals_of(build_stream([(0, 79, payload)]))
    assert sig.iloc[0]["values"] == pytest.approx([134.217727, -134.217728])


def test_ap_decode_known_and_unknown_codes():
    sig = signals_of(
        build_stream([(0, 921, bytes([0x03])), (1, 921, bytes([0x06])), (2, 921, bytes([0x0F]))])
    )
    states = dict(zip(sig["ts_us"] - SYNC_US, sig["state"]))
    assert states[0] == "ACTIVE_NOMINAL"
    assert states[1000] is None  # reference would KeyError (:184)
    assert states[2000] == "SNA"


def test_mark_embedded_header_and_truncation():
    # mark message + embedded header mid-stream + truncated final frame
    data = (
        cs.encode_header()
        + cs.encode_mark("drive-42")
        + cs.encode_sync(SYNC_US)
        + cs.encode_frame(5, 599, bytes([0x00, 0x40, 0x1F]))
        + b"C" + cs.MAGIC[1:]  # concatenated-file header → skipped
        + cs.encode_frame(6, 921, bytes([0x02]))
        + b"\xcf\x01\x00"  # truncated frame record → clean stop
    )
    records = list(cs.scan_records(data))
    kinds = [r[0] for r in records]
    assert kinds == ["mark", "frame", "frame"]
    assert records[0][2] == "drive-42"


def test_rewind_on_false_header():
    # 'C' not followed by the magic tail: scanner continues; following
    # frame record is still decoded.
    data = cs.encode_header() + cs.encode_sync(SYNC_US) + b"C" + cs.encode_frame(1, 921, b"\x03")
    frames = cs.decode_frames(data)
    # the 'C' consumed the next 0xCF tag check? No: scanner rewinds.
    assert len(frames) == 1 and frames.iloc[0]["frame_id"] == 921


def test_short_payload_dropped():
    sig = signals_of(build_stream([(0, 273, bytes([0x01, 0x02]))]))  # needs 6 bytes
    assert len(sig) == 0


def test_unknown_frame_id_kept_in_bronze_not_silver():
    data = build_stream([(0, 1234, bytes([0x01])), (1, 599, bytes([0x00, 0x40, 0x1F]))])
    frames = cs.decode_frames(data)
    assert set(frames["frame_id"]) == {1234, 599}
    sig = cs.frames_to_signals(frames)
    assert set(sig["channel"]) == {"speed"}


def test_read_canserver_quarantines_bad_header(spark, tmp_path):
    for dev in ("veh_a", "veh_b"):
        (tmp_path / dev).mkdir()
        (tmp_path / dev / "c0.log").write_bytes(
            build_stream(
                [(i, 273, bytes([0x34, 0x12, 0x00, 0x80, 0xFF, 0x7F])) for i in range(5)]
                + [(20, 599, bytes([0x00, 0xF0, 0xFF])), (30, 921, bytes([0x03]))]
            )
        )
    # a bad file quarantines instead of failing the scan
    (tmp_path / "veh_a" / "bad.log").write_bytes(b"NOT_A_CANSERVER_FILE__")

    rows = cs.read_canserver(spark, str(tmp_path)).collect()
    good = [r for r in rows if r.channel != "_quarantine"]
    quarantined = [r for r in rows if r.channel == "_quarantine"]
    assert len(good) == 14 and len(quarantined) == 1
    assert "bad.log" in quarantined[0].state
    assert quarantined[0].device_id == "veh_a"


def test_spark_read_canserver_end_to_end(spark, tmp_path):
    for dev in ("veh_a", "veh_b"):
        stream = build_stream(
            [
                (i, 273, bytes([0x34, 0x12, 0x00, 0x80, 0xFF, 0x7F]))
                for i in range(10)
            ]
            + [(20, 599, bytes([0x00, 0xF0, 0xFF])), (30, 921, bytes([0x03]))]
        )
        (tmp_path / dev).mkdir()
        (tmp_path / dev / "chunk0.log").write_bytes(stream)

    sig = cs.read_canserver(spark, str(tmp_path))
    rows = sig.collect()
    assert len(rows) == 24  # (10 accel + 1 speed + 1 ap) × 2 files
    assert {r.device_id for r in rows} == {"veh_a", "veh_b"}
    speed = [r for r in rows if r.channel == "speed"][0]
    assert speed["values"][0] == pytest.approx(287.6)

    from matt3r_data_ingestion_serverless_spark.operators.signal_views import (
        channel_documents,
        signals_to_wide,
    )

    wide = signals_to_wide(sig)
    w = wide.filter("device_id = 'veh_a' and speed is not null").collect()
    assert len(w) == 1 and w[0]["speed"] == pytest.approx(287.6) and w[0]["speed_unit"] == "KPH"

    docs = channel_documents(sig).collect()
    assert len(docs) == 2
    import json

    doc = json.loads(docs[0]["document"])
    assert len(doc["accel"]) == 10 and doc["speed"][0]["value"] == [pytest.approx(287.6)]


def test_python_datasource_writer_roundtrip(spark, tmp_path):
    """df.write.format('canserver') → read_canserver: frames AND decoded
    signal timestamps are bit-identical (the writer re-syncs whenever a
    µs timestamp isn't an exact ms offset of the current sync)."""
    cs.register(spark)
    sync = SYNC_US
    rows = [
        # ms-aligned run: shares one sync
        *[
            ("veh_w", sync + i * 1000, 599, 0, bytearray([0x00, 0x40, 0x1F]))
            for i in range(5)
        ],
        # sub-ms timestamp: forces a re-sync, still exact
        ("veh_w", sync + 5_500, 921, 0, bytearray([0x03])),
        # beyond the 16-bit ms horizon: forces another sync
        ("veh_w", sync + 70_000_000, 599, 2, bytearray([0x00, 0xF0, 0xFF])),
        # second device → its own subdirectory
        ("veh_x", sync, 921, 0, bytearray([0x02])),
    ]
    df = spark.createDataFrame(rows, cs.FRAME_WRITE_SCHEMA)
    out = str(tmp_path / "bronze_export")
    df.write.format("canserver").mode("append").save(out)

    import pathlib

    assert {p.name for p in pathlib.Path(out).iterdir()} == {"veh_w", "veh_x"}

    back = cs.read_canserver(spark, out)
    got = {
        (r.device_id, int(r.ts.timestamp() * 1_000_000), r.channel)
        for r in back.collect()
    }
    assert got == {
        *{("veh_w", sync + i * 1000, "speed") for i in range(5)},
        ("veh_w", sync + 5_500, "ap_status"),
        ("veh_w", sync + 70_000_000, "speed"),
        ("veh_x", sync, "ap_status"),
    }
    # frame-level check: re-scanning ALL written files for the device
    # (each write task emits its own part file) yields exactly the
    # frames that were written — as a multiset of (frame_id, bus_id)
    from collections import Counter

    seen = Counter()
    for f in pathlib.Path(out, "veh_w").glob("*.canlog"):
        frames = cs.decode_frames(f.read_bytes())
        seen.update(zip(frames["frame_id"], frames["bus_id"]))
    assert seen == Counter({(599, 0): 5, (921, 0): 1, (599, 2): 1})
