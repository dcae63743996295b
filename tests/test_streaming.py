"""Streaming-topology tests (SURVEY.md §5.4): AvailableNow micro-batch
runs over file sequences asserting idempotent re-delivery (T3),
watermark dedupe (W3), and cross-batch stateful transition detection.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.operators.merge import upsert_parquet
from matt3r_data_ingestion_serverless_spark.sources import canserver as cs
from matt3r_data_ingestion_serverless_spark.streaming import pipeline as pl
from tests.test_canserver import SYNC_US, build_stream


@pytest.fixture()
def dirs(tmp_path):
    d = {
        "raw": tmp_path / "raw",
        "silver": tmp_path / "silver",
        "gold": tmp_path / "gold",
        "ckpt1": tmp_path / "ckpt1",
        "ckpt2": tmp_path / "ckpt2",
    }
    d["raw"].mkdir()
    return {k: str(v) for k, v in d.items()}


def _write_raw(dirs, name, frames, device="dev0"):
    import pathlib

    d = pathlib.Path(dirs["raw"], device)
    d.mkdir(exist_ok=True)
    (d / name).write_bytes(build_stream(frames))


def test_silver_pipeline_and_idempotent_redelivery(spark, dirs, tmp_path):
    frames = [(i, 599, bytes([0x00, 0x40, 0x1F])) for i in range(5)] + [
        (10, 921, bytes([0x02])),
        (20, 921, bytes([0x03])),
    ]
    _write_raw(dirs, "veh_a.log", frames)

    pl.run_silver_pipeline(spark, dirs["raw"], dirs["silver"], dirs["ckpt1"])
    silver = spark.read.parquet(dirs["silver"])
    n1 = silver.count()
    assert n1 == 7
    assert set(silver.select("channel").distinct().toPandas()["channel"]) == {"speed", "ap_status"}
    # partitioned by (date, hour) for pruning
    assert {"date", "hour"} <= set(silver.columns)

    # re-delivery: the same object is processed again (fresh checkpoint
    # = the SQS at-least-once path) → sink must be a no-op
    pl.run_silver_pipeline(spark, dirs["raw"], dirs["silver"], str(tmp_path / "ckpt1b"))
    n2 = spark.read.parquet(dirs["silver"]).count()
    assert n2 == n1  # dedupe-upsert absorbed the duplicate delivery


def test_silver_stream_watermark_dedupe(spark, dirs):
    # W3: the same (device, channel, ts) sample delivered twice inside
    # the 1.2 s disorder horizon collapses to one row IN-STREAM
    # (dropDuplicatesWithinWatermark), not just at the sink
    frames = [
        (5, 599, bytes([0x00, 0x40, 0x1F])),
        (5, 599, bytes([0x00, 0x40, 0x1F])),  # exact duplicate
        (7, 921, b"\x03"),
    ]
    _write_raw(dirs, "dup.log", frames)
    stream = pl.silver_signals_stream(spark, dirs["raw"])
    q = (
        stream.writeStream.format("memory")
        .queryName("w3_dedupe")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT device_id, channel, ts FROM w3_dedupe").collect()
    assert len(rows) == 2  # duplicate speed sample collapsed
    assert {r.channel for r in rows} == {"speed", "ap_status"}


def test_cross_batch_ap_transition_state(spark, dirs):
    # file 1 ends AVAILABLE(2); file 2 begins ACTIVE_NOMINAL(3):
    # the engagement straddles the gold-stream batch boundary, so the
    # lag must come from the persisted GroupState, not the batch.
    _write_raw(dirs, "f1.log", [(0, 921, bytes([0x00])), (100, 921, bytes([0x02]))])
    pl.run_silver_pipeline(spark, dirs["raw"], dirs["silver"], dirs["ckpt1"])
    pl.run_autopilot_pipeline(spark, dirs["silver"], dirs["gold"], dirs["ckpt2"])

    _write_raw(dirs, "f2.log", [(200, 921, bytes([0x03])), (300, 921, bytes([0x01]))])
    pl.run_silver_pipeline(spark, dirs["raw"], dirs["silver"], dirs["ckpt1"])
    pl.run_autopilot_pipeline(spark, dirs["silver"], dirs["gold"], dirs["ckpt2"])
    gold = spark.read.parquet(dirs["gold"]).collect()
    statuses = {(r.status, r.ts_us - SYNC_US) for r in gold}
    assert ("engagement", 200_000) in statuses
    assert ("disengagement", 300_000) in statuses


def test_full_fanout_topology(spark, dirs, tmp_path):
    # the reference's 3-Lambda fan-out (T2): one raw drop feeds silver,
    # then BOTH stage-2 pipelines run independently off the same silver
    # table and land in separate gold subdirs
    frames = [(i * 1000, 599, bytes([0x00, 0x40, 0x1F])) for i in range(20)] + [
        (25_000, 921, bytes([0x02])),
        (26_000, 921, bytes([0x03])),
    ]
    _write_raw(dirs, "drive.log", frames)
    pl.run_silver_pipeline(spark, dirs["raw"], dirs["silver"], dirs["ckpt1"])
    ap_gold = str(tmp_path / "gold_ap")
    st_gold = str(tmp_path / "gold_st")
    st_ckpt = str(tmp_path / "ckpt3")
    pl.run_autopilot_pipeline(spark, dirs["silver"], ap_gold, dirs["ckpt2"])
    pl.run_stationary_pipeline(spark, dirs["silver"], st_gold, st_ckpt, gap="5 seconds")
    # ap transitions emit in-batch (stateful scan, no watermark gate)
    ap = spark.read.parquet(ap_gold).collect()
    assert {(r.status,) for r in ap} == {("engagement",)}

    # the session is still OPEN against the 30 s watermark after one
    # drain — append mode correctly withholds it until event time passes
    # session end + watermark; a later sample closes and releases it
    _write_raw(dirs, "later.log", [(60_000, 599, bytes([0x00, 0x40, 0x1F]))])
    pl.run_silver_pipeline(spark, dirs["raw"], dirs["silver"], dirs["ckpt1"])
    pl.run_stationary_pipeline(spark, dirs["silver"], st_gold, st_ckpt, gap="5 seconds")
    st = spark.read.parquet(st_gold).collect()
    assert len(st) == 1
    assert st[0].n_samples == 20  # one fused zero-speed session


def test_exact_stationary_stream_matches_batch(spark, dirs, tmp_path):
    # EXACT streaming W2: a zero-run straddling the batch boundary stays
    # ONE run (GroupState carry) and the emitted interval equals the
    # batch operator's on the concatenated series
    from matt3r_data_ingestion_serverless_spark.operators.stationary import (
        stationary_intervals,
    )

    zero = bytes([0x00, 0x40, 0x1F])  # speed 0.0
    fast = bytes([0x00, 0xF0, 0xFF])  # speed 287.6
    f1 = [(i * 1000, 599, zero) for i in range(8)]  # zeros 0..7s
    f2 = [(i * 1000, 599, zero) for i in range(8, 15)] + [(20_000, 599, fast)]

    _write_raw(dirs, "f1.log", f1)
    pl.run_silver_pipeline(spark, dirs["raw"], dirs["silver"], dirs["ckpt1"])
    sink, ckpt = str(tmp_path / "st_exact"), str(tmp_path / "ckpt_st")

    def drain():
        signals = spark.readStream.schema(
            "device_id string, ts timestamp, channel string, values array<double>, "
            "state string, date date, hour int"
        ).parquet(dirs["silver"])
        (
            pl.stationary_intervals_stream(signals)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    drain()  # batch 1: run still open → nothing emitted
    _write_raw(dirs, "f2.log", f2)
    pl.run_silver_pipeline(spark, dirs["raw"], dirs["silver"], dirs["ckpt1"])
    drain()  # batch 2: nonzero closes the 0..14s run

    got = spark.read.parquet(sink).collect()
    assert len(got) == 1

    batch_signals = cs.read_canserver(spark, dirs["raw"]).select(
        "device_id", "ts", F.col("values")[0].alias("speed")
    )
    want = stationary_intervals(batch_signals, speed="speed").collect()
    assert [(r.device_id, r.start_us, r.end_us, r.duration_s) for r in got] == [
        (r.device_id, r.start_us, r.end_us, r.duration_s) for r in want
    ]


def test_upsert_parquet_partition_scoped_merge(spark, tmp_path):
    target = str(tmp_path / "t")
    df1 = spark.createDataFrame([(1, "a", 10), (2, "a", 20), (3, "b", 30)], "k int, p string, v int")
    upsert_parquet(df1, target, keys=["k"], partition_cols=["p"])
    # overlapping re-delivery + one new row in partition b
    df2 = spark.createDataFrame([(3, "b", 99), (4, "b", 40)], "k int, p string, v int")
    upsert_parquet(df2, target, keys=["k"], partition_cols=["p"])
    out = {(r.k, r.p, r.v) for r in spark.read.parquet(target).collect()}
    # k=3 keeps the FIRST committed value (idempotent, first-writer-wins)
    assert out == {(1, "a", 10), (2, "a", 20), (3, "b", 30), (4, "b", 40)}


def test_stationary_sessions_stream_schema(spark, dirs):
    # schema/plan sanity for the session_window variant (batch-mode run)
    _write_raw(
        dirs,
        "s.log",
        [(i * 1000, 599, bytes([0x00, 0x40, 0x1F])) for i in range(5)],  # speed 0.0
    )
    signals = cs.read_canserver(spark, dirs["raw"])
    sessions = pl.stationary_sessions_stream(signals).collect()
    assert len(sessions) == 1
    s = sessions[0]
    assert s["n_samples"] == 5 and s["end_us"] - s["start_us"] >= 4_000_000


def test_streamed_sketch_rollup_matches_batch(spark, tmp_path):
    """Sketch table materialized incrementally by the stream == sketch
    built in one batch pass: HLL registers are max-combine, so merging
    per-batch sketches over a partition of the corpus is exact w.r.t.
    the one-shot sketch — including across a second pipeline run that
    folds new files into the existing table."""
    from matt3r_data_ingestion_serverless_spark.functions import text as textfns
    from matt3r_data_ingestion_serverless_spark.sources.tables import load_table
    from tests.conftest import SF_CORRECTNESS

    docs = load_table(spark, SF_CORRECTNESS, "documents")
    stream_dir, sketch_dir = str(tmp_path / "docs"), str(tmp_path / "sketch")

    # first two chunks drain as separate micro-batches (maxFilesPerTrigger=1)
    docs.filter(F.col("doc_id") % 3 == 0).coalesce(1).write.mode("append").parquet(stream_dir)
    docs.filter(F.col("doc_id") % 3 == 1).coalesce(1).write.mode("append").parquet(stream_dir)
    pl.run_sketch_rollup_pipeline(
        spark, stream_dir, sketch_dir, str(tmp_path / "ck1"), max_files_per_trigger=1
    )
    # third chunk arrives later: a NEW pipeline run folds it into the table
    docs.filter(F.col("doc_id") % 3 == 2).coalesce(1).write.mode("append").parquet(stream_dir)
    pl.run_sketch_rollup_pipeline(
        spark, stream_dir, sketch_dir, str(tmp_path / "ck1"), max_files_per_trigger=1
    )

    streamed = {
        r["source"]: r["est_distinct_terms"]
        for r in pl.sketch_estimates(spark, sketch_dir).collect()
    }
    tok = docs.select("source", F.explode(textfns.tokens(F.col("text"))).alias("term"))
    batch = tok.groupBy("source").agg(
        F.hll_sketch_agg("term", F.lit(pl.SKETCH_LG_K)).alias("sk")
    )
    expected = {
        r["source"]: r["est"]
        for r in batch.select(
            "source", F.hll_sketch_estimate("sk").cast("long").alias("est")
        ).collect()
    }
    glob = tok.agg(F.hll_sketch_agg("term", F.lit(pl.SKETCH_LG_K)).alias("sk")).select(
        F.hll_sketch_estimate("sk").cast("long").alias("est")
    )
    expected["ALL"] = glob.collect()[0]["est"]
    assert streamed == expected


def test_stream_stream_interval_join(spark, dirs):
    # speed at t=1s has an ap report at t=0.5s inside the 5 s horizon →
    # joins; speed at t=20s has no ap report in [15s, 20s] → dropped by
    # the inner interval join. Both sides are live streams.
    frames = [
        (500, 921, bytes([0x03])),  # ap ACTIVE_NOMINAL @ 0.5s
        (1000, 599, bytes([0x00, 0x40, 0x1F])),  # speed @ 1s
        (20_000, 599, bytes([0x00, 0x40, 0x1F])),  # speed @ 20s, no ap near
    ]
    _write_raw(dirs, "join.log", frames)
    signals = cs.read_canserver_stream(spark, dirs["raw"])
    joined = pl.speed_ap_joined_stream(signals)
    q = (
        joined.writeStream.format("memory")
        .queryName("ss_join")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql(
        "SELECT device_id, unix_micros(s_ts) AS s_us, ap_state FROM ss_join"
    ).collect()
    assert len(rows) == 1
    assert rows[0].s_us - SYNC_US == 1_000_000
    assert rows[0].ap_state == "ACTIVE_NOMINAL"


def test_stateful_stream_under_rocksdb_provider(spark, dirs):
    """The applyInPandasWithState pipeline must run unchanged on the
    RocksDB state-store provider — the off-heap backend a production
    cluster uses so state is disk-bounded, not executor-memory-bounded."""
    _write_raw(
        dirs,
        "r1.log",
        [(0, 921, bytes([0x00])), (100, 921, bytes([0x02])), (200, 921, bytes([0x03])),
         (300, 921, bytes([0x01]))],
    )
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        signals = cs.read_canserver_stream(spark, dirs["raw"])
        out = pl.ap_transitions_stream(signals)
        q = (
            out.writeStream.format("memory")
            .queryName("rocksdb_ap")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if prev:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    rows = {
        (r.status, r.ts_us - SYNC_US)
        for r in spark.sql("SELECT * FROM rocksdb_ap").collect()
    }
    assert rows == {("engagement", 200_000), ("disengagement", 300_000)}


def test_chained_stateful_operators_one_stream(spark, dirs):
    """Two stateful operators in ONE streaming query (Spark 3.4+):
    watermarked keyed dedupe feeding a session_window aggregate —
    the reference's W3 reorder buffer and W2 sessionization fused in a
    single topology instead of two checkpointed hops through a table."""
    zero = bytes([0x00, 0x40, 0x1F])
    frames = (
        [(i * 1000, 599, zero) for i in range(6)]
        + [(3000, 599, zero)]  # duplicate mid-run sample (re-delivery)
        + [(40_000, 599, zero)]  # second session after a 34 s gap
        + [(60_000, 599, zero)]  # watermark pusher: closes both sessions
    )
    _write_raw(dirs, "chain.log", frames)
    signals = cs.read_canserver_stream(spark, dirs["raw"])
    zeroes = (
        signals.filter((signals.channel == "speed") & (signals["values"][0] <= 0.0))
        .withWatermark("ts", "2 seconds")
        .dropDuplicatesWithinWatermark(["device_id", "ts"])
    )
    sessions = (
        zeroes.groupBy("device_id", F.session_window("ts", "10 seconds"))
        .agg(F.count("*").alias("n_samples"))
    )
    q = (
        sessions.writeStream.format("memory")
        .queryName("chained_stateful")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql(
        "SELECT n_samples FROM chained_stateful ORDER BY n_samples"
    ).collect()
    # 6 unique zero samples in session 1 (duplicate absorbed by the
    # dedupe stage, NOT counted twice), 1 in session 2
    assert [r.n_samples for r in rows] == [1, 6]


def test_stream_static_dimension_join(spark, dirs):
    """Stream-static join: the live signal stream enriched against a
    static dimension table (device registry). The static side is
    re-planned per micro-batch — no state store involved — and rows
    without a registry entry pass through null-extended (left join)."""
    _write_raw(dirs, "s1.log", [(0, 599, bytes([0x00, 0x40, 0x1F]))], device="dev0")
    _write_raw(dirs, "s2.log", [(0, 599, bytes([0x00, 0x40, 0x1F]))], device="dev1")
    registry = spark.createDataFrame(
        [("dev0", "fleet-a")], "device_id string, fleet string"
    )
    signals = cs.read_canserver_stream(spark, dirs["raw"])
    enriched = signals.filter(signals.channel == "speed").join(
        registry, "device_id", "left"
    )
    q = (
        enriched.writeStream.format("memory")
        .queryName("ss_static")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {(r.device_id, r.fleet) for r in spark.sql("SELECT device_id, fleet FROM ss_static").collect()}
    assert rows == {("dev0", "fleet-a"), ("dev1", None)}


def test_silver_sweep_reads_late_sorting_and_bad_files_once(spark, dirs):
    """Files that land after a sweep are each read exactly once by the
    next one, even when their paths sort before files already drained
    (a new device directory) or their header is bad (quarantined); a
    drained file is never re-read."""
    import pathlib
    import threading
    import time

    from pyspark.sql.streaming import StreamingQueryListener

    class _Progress(StreamingQueryListener):
        def __init__(self):
            self.rows, self.started, self.ended = [], 0, 0
            self.lock = threading.Lock()

        def onQueryStarted(self, event):
            with self.lock:
                self.started += 1

        def onQueryProgress(self, event):
            with self.lock:
                self.rows.append(event.progress.numInputRows)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self.lock:
                self.ended += 1

    def sweep() -> list[int]:
        lst = _Progress()
        spark.streams.addListener(lst)
        try:
            pl.run_silver_pipeline(spark, dirs["raw"], dirs["silver"], dirs["ckpt1"])
            deadline = time.monotonic() + 30
            while lst.ended < lst.started and time.monotonic() < deadline:
                time.sleep(0.05)
        finally:
            spark.streams.removeListener(lst)
        assert lst.started and lst.ended == lst.started  # every event is in
        return lst.rows

    speed = bytes([0x00, 0x40, 0x1F])
    _write_raw(dirs, "0001.log", [(i, 599, speed) for i in range(3)], device="dev_b")
    assert sum(sweep()) == 1  # numInputRows counts files for this source

    _write_raw(dirs, "0001.log", [(10 + i, 599, speed) for i in range(4)], device="dev_a")
    pathlib.Path(dirs["raw"], "dev_a", "bad.log").write_bytes(b"NOT_A_CANSERVER_FILE__")
    assert sum(sweep()) == 2  # the two new files, each read once

    counts = spark.read.parquet(dirs["silver"]).groupBy("device_id", "channel").count()
    got = {(r.device_id, r.channel): r["count"] for r in counts.collect()}
    assert got == {("dev_b", "speed"): 3, ("dev_a", "speed"): 4, ("dev_a", "_quarantine"): 1}
    assert sum(sweep()) == 0  # a sweep with nothing new reads nothing


def test_drain_topology_scheduler(spark, dirs, tmp_path):
    """scheduler.drain_topology: one call = one serverless-style sweep.
    Sweep 2 with no new data is a no-op; a new raw drop is picked up
    incrementally from the checkpoints."""
    from matt3r_data_ingestion_serverless_spark.streaming.scheduler import (
        drain_topology,
    )

    zero = bytes([0x00, 0x40, 0x1F])
    frames = [(i * 1000, 599, zero) for i in range(20)] + [
        (25_000, 921, bytes([0x02])),
        (26_000, 921, bytes([0x03])),
    ]
    _write_raw(dirs, "a.log", frames)
    root = str(tmp_path / "topo")

    c1 = drain_topology(spark, dirs["raw"], root, gap="5 seconds")
    assert c1["silver_rows"] > 0
    assert c1["autopilot_events"] == 1  # 2→3 engagement

    # idempotent sweep: no new files → identical counts
    c2 = drain_topology(spark, dirs["raw"], root, gap="5 seconds")
    assert c2 == c1

    # incremental: one more raw drop advances silver AND closes the
    # stationary session (watermark passes), without reprocessing a.log
    _write_raw(dirs, "b.log", [(60_000, 599, zero)])
    c3 = drain_topology(spark, dirs["raw"], root, gap="5 seconds")
    assert c3["silver_rows"] == c1["silver_rows"] + 1
    assert c3["stationary_intervals"] >= 1


def test_streamed_bollinger_matches_batch_across_batches(spark, tmp_path):
    """The streamed Bollinger monitor must equal the batch window query
    even when a user's series is SPLIT across micro-batches (ring
    buffer carried in GroupState), and re-delivered rows must be
    ignored."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql import types as T

    from matt3r_data_ingestion_serverless_spark.plans.breadth_r4 import _BOLL_N
    from matt3r_data_ingestion_serverless_spark.plans.telemetry import (
        _bollinger_state_fn,
    )

    class FakeState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v
            self.exists = True

    cents = [100 + (i * 37) % 50 for i in range(_BOLL_N + 10)] + [10_000]
    rows = [
        {"ts_us": i * 1_000_000, "event_id": i, "cents": c}
        for i, c in enumerate(cents)
    ]
    # batch reference: trailing window over the whole series
    exp = []
    for i in range(len(cents)):
        w = cents[max(0, i - _BOLL_N):i]
        if len(w) < _BOLL_N:
            continue
        n, s1, s2 = len(w), sum(w), sum(v * v for v in w)
        dev = n * cents[i] - s1
        exp.append((i * 1_000_000, dev * dev * (n - 1) > 4 * n * (n * s2 - s1 * s1)))

    state = FakeState()
    got = []
    split = len(rows) // 2
    for chunk in (rows[:split], rows[split:], rows[:split]):  # 3rd = re-delivery
        out = list(
            _bollinger_state_fn(("7",), iter([pd.DataFrame(chunk)]), state)
        )[0]
        got.extend(zip(out["ts_us"], out["breach"]))
    assert [(int(t), bool(b)) for t, b in got] == exp
    assert any(b for _, b in got)  # the planted 10000-cent spike breaches


def test_stream_stream_left_outer_join(spark, dirs):
    # Left-outer interval join with watermark-gated null emission. Three
    # files replayed as three micro-batches (maxFilesPerTrigger=1,
    # mtime-ordered): batch 1 has a matched speed sample (t=1s, ap at
    # 0.5s) and an unmatched one (t=20s, no ap in [15s, 20s]); batch 2
    # advances both watermarks past the unmatched row's join window;
    # batch 3 triggers the state eviction that emits its null row. The
    # engine may only emit a null once the watermark PROVES no late
    # match can arrive — so the null surfaces in batch 3, not batch 1.
    import os
    import pathlib

    _write_raw(dirs, "a.log", [
        (500, 921, bytes([0x03])),
        (1000, 599, bytes([0x00, 0x40, 0x1F])),
        (20_000, 599, bytes([0x00, 0x40, 0x1F])),
    ])
    _write_raw(dirs, "b.log", [
        (40_000, 921, bytes([0x03])),
        (40_000, 599, bytes([0x00, 0x40, 0x1F])),
    ])
    _write_raw(dirs, "c.log", [
        (60_000, 921, bytes([0x03])),
        (60_000, 599, bytes([0x00, 0x40, 0x1F])),
    ])
    # pin the replay order: the file source orders batches by mtime
    for i, name in enumerate(("a.log", "b.log", "c.log")):
        p = pathlib.Path(dirs["raw"], "dev0", name)
        os.utime(p, (1_000_000 + i, 1_000_000 + i))

    signals = cs.read_canserver_stream(
        spark, dirs["raw"], options={"maxFilesPerTrigger": "1"}
    )
    joined = pl.speed_ap_joined_stream(signals, how="leftOuter")
    q = (
        joined.writeStream.format("memory")
        .queryName("ss_left_join")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql(
        "SELECT unix_micros(s_ts) AS s_us, ap_state FROM ss_left_join"
    ).collect()
    got = {(r.s_us - SYNC_US, r.ap_state) for r in rows}
    assert got == {
        (1_000_000, "ACTIVE_NOMINAL"),   # matched in batch 1
        (20_000_000, None),              # null emitted after eviction
        (40_000_000, "ACTIVE_NOMINAL"),  # matched in batch 2
        (60_000_000, "ACTIVE_NOMINAL"),  # matched in batch 3
    }
