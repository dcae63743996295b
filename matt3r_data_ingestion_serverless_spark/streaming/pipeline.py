"""Structured-Streaming topology (SURVEY.md §2.8, §3).

The reference's event-driven chain

    S3 raw → SNS → SQS → parse Lambda → landing
                          landing → SNS → SQS → infer Lambdas → events

becomes two chained streams with checkpointed exactly-once progress:

    readStream(binaryFile raw/) → decode → watermark(1.2s) dedupe
        → foreachBatch upsert → silver parquet (device/date/hour)
    readStream(parquet silver/) → W1/W2 inference
        → foreachBatch upsert → gold parquet (daily)

``Trigger.AvailableNow`` gives the serverless-shaped scheduling: each
invocation drains whatever new files exist, then stops — identical
semantics to the Lambda-per-object model, minus the 10 KB queue-message
and 600 s timeout limits (serverless.yml:179-204,72).

The 1.2 s watermark reproduces the reference's in-flight reorder buffer
(W3, parse_canserver_filtered_log.py:268-289 with MAX_SR=1.2): rows
later than watermark are dropped from dedupe state, keeping state
bounded no matter how long the stream runs.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from matt3r_data_ingestion_serverless_spark.operators.merge import (
    _table_exists,
    _write_merged,
    foreach_batch_upsert,
)
from matt3r_data_ingestion_serverless_spark.sources.canserver import read_canserver_stream

REORDER_WATERMARK = "1.2 seconds"  # MAX_SR, parse_canserver_filtered_log.py:117


def silver_signals_stream(spark: SparkSession, raw_dir: str) -> DataFrame:
    """Stage-1 stream with in-stream dedupe: binary logs → deduplicated
    long-format signals.

    ``dropDuplicatesWithinWatermark`` on the natural key is the
    streaming form of the reference's epoch_dict bounded-disorder
    assembly (W3) + its cross-file overlap skip (J1): duplicates within
    the 1.2 s disorder horizon collapse, state is evicted past the
    watermark. ``_quarantine`` rows (bad files) carry no event time —
    they bypass the keyed dedupe state and are unioned back.
    """
    signals = read_canserver_stream(spark, raw_dir)
    good = (
        signals.filter(F.col("channel") != "_quarantine")
        .withWatermark("ts", REORDER_WATERMARK)
        .dropDuplicatesWithinWatermark(["device_id", "channel", "ts"])
    )
    return good.unionByName(signals.filter(F.col("channel") == "_quarantine"))


def run_silver_pipeline(
    spark: SparkSession, raw_dir: str, silver_dir: str, checkpoint_dir: str
) -> None:
    """Drain available raw files into the silver parquet table.

    No in-stream dedupe here: the foreachBatch upsert sink is already
    idempotent on (device_id, channel, ts), which subsumes W3's
    duplicate-collapse for the at-rest table — and skips the second
    decode pass the branched dedupe stream would cost. Use
    ``silver_signals_stream`` when a consumer needs exactly-once rows
    *within* the live stream itself.
    """
    stream = read_canserver_stream(spark, raw_dir)
    stream = stream.withColumn("date", F.to_date("ts")).withColumn("hour", F.hour("ts"))
    (
        stream.writeStream.foreachBatch(
            foreach_batch_upsert(
                silver_dir, keys=["device_id", "channel", "ts"], partition_cols=["date", "hour"]
            )
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


# ---------------------------------------------------------------------------
# stage 2b streaming: autopilot transitions with cross-batch state
# ---------------------------------------------------------------------------

_AP_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("device_id", T.StringType()),
        T.StructField("ts_us", T.LongType()),
        T.StructField("status", T.StringType()),
        T.StructField("canbus_state", T.DoubleType()),
    ]
)
# last observed (ts_us, code) per device — the only state W1 needs
_AP_STATE_SCHEMA = T.StructType(
    [T.StructField("last_ts_us", T.LongType()), T.StructField("last_code", T.IntegerType())]
)


def _ap_transition_fn(key, pdfs, state: GroupState):
    """applyInPandasWithState body: W1 lag-transition scan with the lag
    carried across micro-batches (a transition split across two files /
    batches is still detected — strictly better than the reference's
    per-file scan which loses the boundary)."""
    prev_ts, prev_code = state.get if state.exists else (None, None)
    rows = pd.concat(list(pdfs), ignore_index=True).sort_values("ts_us")
    out = []
    for ts_us, code in zip(rows["ts_us"], rows["code"]):
        if code is None or pd.isna(code):
            continue
        # monotonic guard: a re-delivered (at-least-once, T3) or
        # partition-rewrite-re-exposed sample carries an old timestamp;
        # replaying it against newer state would fabricate transitions
        if prev_ts is not None and int(ts_us) <= prev_ts:
            continue
        code = int(code)
        if prev_code is not None:
            if code == 3 and prev_code <= 2:
                out.append((key[0], int(ts_us), "engagement", float(code)))
            elif code <= 2 and prev_code == 3:
                out.append((key[0], int(ts_us), "disengagement", float(code)))
        prev_ts, prev_code = int(ts_us), code
    if prev_code is not None:
        state.update((prev_ts, prev_code))
    yield pd.DataFrame(out, columns=["device_id", "ts_us", "status", "canbus_state"])


def ap_transitions_stream(signals: DataFrame) -> DataFrame:
    """Streaming W1 over the silver signal stream: custom stateful
    operator via applyInPandasWithState (SURVEY §2.9 mapping for the one
    operator Structured Streaming lacks natively)."""
    from matt3r_data_ingestion_serverless_spark.operators.autopilot import ap_state_code

    coded = (
        signals.filter(F.col("channel") == "ap_status")
        .withColumn("code", ap_state_code(F.col("state")))
        .withColumn("ts_us", F.unix_micros("ts"))
        .select("device_id", "ts_us", "code")
    )
    return coded.groupBy("device_id").applyInPandasWithState(
        _ap_transition_fn,
        outputStructType=_AP_OUTPUT_SCHEMA,
        stateStructType=_AP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_autopilot_pipeline(
    spark: SparkSession, silver_dir: str, gold_dir: str, checkpoint_dir: str
) -> None:
    """Stage-2b stream: silver parquet → autopilot transition events."""
    signals = spark.readStream.schema(
        "device_id string, ts timestamp, channel string, values array<double>, state string, "
        "date date, hour int"
    ).parquet(silver_dir)
    events = ap_transitions_stream(signals)
    events = events.withColumn("date", F.to_date(F.timestamp_micros(F.col("ts_us"))))
    (
        events.writeStream.foreachBatch(
            foreach_batch_upsert(
                gold_dir, keys=["device_id", "ts_us", "status"], partition_cols=["date"]
            )
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


# per-device zero-run state for the EXACT streaming W2: the open run's
# boundaries plus the last seen timestamp (monotonic re-delivery guard)
_ST_STATE_SCHEMA = T.StructType(
    [
        T.StructField("run_start_us", T.LongType()),
        T.StructField("last_zero_us", T.LongType()),
        T.StructField("last_ts_us", T.LongType()),
    ]
)
_ST_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("device_id", T.StringType()),
        T.StructField("start_us", T.LongType()),
        T.StructField("end_us", T.LongType()),
        T.StructField("duration_s", T.DoubleType()),
    ]
)


def _stationary_fn_factory(zero_threshold: float, min_duration_s: float, trim_s: float):
    min_dur_us = int(min_duration_s * 1_000_000)
    trim_us = int(trim_s * 1_000_000)

    def fn(key, pdfs, state: GroupState):
        run_start, last_zero, last_ts = state.get if state.exists else (None, None, None)
        rows = pd.concat(list(pdfs), ignore_index=True).sort_values("ts_us")
        out = []
        for ts_us, speed in zip(rows["ts_us"], rows["speed"]):
            ts_us = int(ts_us)
            if last_ts is not None and ts_us <= last_ts:
                continue  # re-delivered sample (T3) — no-op
            last_ts = ts_us
            if speed <= zero_threshold:
                if run_start is None:
                    run_start = ts_us
                last_zero = ts_us
            elif run_start is not None:
                # nonzero closes the run at the LAST zero sample
                # (infer_stationary_states.py:86-93 semantics)
                if last_zero - run_start >= min_dur_us:
                    out.append(
                        (
                            key[0],
                            run_start + trim_us,
                            last_zero - trim_us,
                            round((last_zero - run_start) / 1e6, 6),
                        )
                    )
                run_start = last_zero = None
        state.update((run_start, last_zero, last_ts))
        yield pd.DataFrame(out, columns=["device_id", "start_us", "end_us", "duration_s"])

    return fn


def stationary_intervals_stream(
    signals: DataFrame,
    *,
    zero_threshold: float = 0.0,
    min_duration_s: float = 13.0,
    trim_s: float = 3.0,
) -> DataFrame:
    """EXACT streaming W2 — identical semantics to the batch
    operators/stationary.py (zero-run boundaries, duration gate, trim),
    with the run carried across micro-batches in GroupState. Unlike the
    session_window variant (gap approximation, watermark-gated
    emission), a run emits the moment a nonzero sample closes it, and a
    run straddling any number of batches stays one run. Open runs at
    end-of-input remain in state (the batch operator closes them at
    series end — the one intentional difference, since a stream has no
    end)."""
    zero = (
        signals.filter(F.col("channel") == "speed")
        .withColumn("ts_us", F.unix_micros("ts"))
        .select("device_id", "ts_us", F.col("values")[0].alias("speed"))
    )
    return zero.groupBy("device_id").applyInPandasWithState(
        _stationary_fn_factory(zero_threshold, min_duration_s, trim_s),
        outputStructType=_ST_OUTPUT_SCHEMA,
        stateStructType=_ST_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_stationary_pipeline(
    spark: SparkSession,
    silver_dir: str,
    gold_dir: str,
    checkpoint_dir: str,
    *,
    gap: str = "13 seconds",
) -> None:
    """Stage-2a stream: silver parquet → stationary-interval events —
    the third leg of the reference's fan-out (T2: parse ∥
    infer-autopilot ∥ infer-stationary, serverless.yml:69-122). Both
    stage-2 pipelines read the same silver table independently with
    their own checkpoints, mirroring the per-queue SQS subscriptions."""
    signals = spark.readStream.schema(
        "device_id string, ts timestamp, channel string, values array<double>, state string, "
        "date date, hour int"
    ).parquet(silver_dir)
    sessions = stationary_sessions_stream(signals, gap=gap)
    sessions = sessions.withColumn("date", F.to_date(F.timestamp_micros(F.col("start_us"))))
    (
        sessions.writeStream.foreachBatch(
            foreach_batch_upsert(
                gold_dir, keys=["device_id", "start_us"], partition_cols=["date"]
            )
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def stationary_sessions_stream(signals: DataFrame, *, gap: str = "13 seconds") -> DataFrame:
    """Streaming W2 variant: session_window over stationary samples.

    Batch W2 defines a run as zero-samples bounded by nonzero samples;
    the streaming form uses a session gap (samples closer than ``gap``
    fuse into one session) — the natural watermark-compatible
    reformulation (SURVEY §7.3 risk item: batch-first, session_window
    behind the same API).
    """
    zero = signals.filter((F.col("channel") == "speed") & (F.col("values")[0] <= 0.0))
    zero = zero.withWatermark("ts", "30 seconds")
    if zero.isStreaming:
        # at-least-once hardening: the silver upsert sink rewrites whole
        # partitions, so a downstream file source re-reads old samples as
        # new files; keyed dedupe inside the watermark horizon makes the
        # re-delivery a no-op BEFORE it can inflate session counts
        zero = zero.dropDuplicatesWithinWatermark(["device_id", "ts"])
    return (
        zero.groupBy("device_id", F.session_window("ts", gap).alias("w"))
        .agg(F.count("*").alias("n_samples"))
        .select(
            "device_id",
            F.unix_micros(F.col("w.start")).alias("start_us"),
            F.unix_micros(F.col("w.end")).alias("end_us"),
            "n_samples",
        )
    )


# ---------------------------------------------------------------------------
# stream-stream interval join
# ---------------------------------------------------------------------------


def speed_ap_joined_stream(
    signals: DataFrame,
    *,
    horizon: str = "5 seconds",
    watermark: str = "2 seconds",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join: each speed sample paired with every
    autopilot-state report from the same device in the trailing
    ``horizon`` — the live form of the as-of enrichment the reference
    can only do after both daily files exist (infer_autopilot_states.py
    runs a day behind the speed channel).

    Scale: both sides carry watermarks and the join predicate bounds
    event-time distance, so the state store holds only ``horizon`` +
    ``watermark`` of each side per device — bounded regardless of
    stream length. The equi-key (device_id) hashes the two streams to
    the same partitions: the join is co-partitioned, no broadcast, no
    full-history scan."""
    speed = (
        signals.filter(F.col("channel") == "speed")
        .select(
            "device_id",
            F.col("ts").alias("s_ts"),
            F.col("values")[0].alias("speed_kph"),
        )
        .withWatermark("s_ts", watermark)
    )
    ap = (
        signals.filter(F.col("channel") == "ap_status")
        .select(
            F.col("device_id").alias("ap_device"),
            F.col("ts").alias("a_ts"),
            F.col("state").alias("ap_state"),
        )
        .withWatermark("a_ts", watermark)
    )
    cond = F.expr(
        f"device_id = ap_device AND a_ts BETWEEN s_ts - interval {horizon} AND s_ts"
    )
    # how="leftOuter": speed samples with NO autopilot report in the
    # horizon still emit (null ap columns) — but only once the watermark
    # passes their join window, i.e. the engine can PROVE no late match
    # can arrive. Null rows therefore surface a batch or two after their
    # match window closes; a stream that ends mid-window keeps its tail
    # rows in state (correct at-least-once semantics, asserted in
    # tests/test_streaming.py::test_stream_stream_left_outer_join).
    return speed.join(ap, cond, how).select(
        "device_id", "s_ts", "speed_kph", "a_ts", "ap_state"
    )


# ---------------------------------------------------------------------------
# streaming-materialized sketch tables
# ---------------------------------------------------------------------------

SKETCH_LG_K = 14  # matches plans/curation.py:sketch_hll_rollup


def _sketch_merge_sink(sketch_dir: str, lg_k: int):
    """foreachBatch body: sketch the batch's term vocabulary per source,
    then MERGE into the at-rest sketch table via hll_union — the batch
    is scanned once and never again; the table stays K rows × ~2^lg_k
    bytes regardless of corpus size. Idempotent only at the table level
    (re-delivering a batch double-counts nothing: HLL registers are
    max-combine, so re-unioning the same items is a no-op)."""
    from matt3r_data_ingestion_serverless_spark.functions import text as textfns

    def _sink(batch_df: DataFrame, _batch_id: int) -> None:
        spark = batch_df.sparkSession
        new = (
            batch_df.select(
                "source", F.explode(textfns.tokens(F.col("text"))).alias("term")
            )
            .groupBy("source")
            .agg(F.hll_sketch_agg("term", F.lit(lg_k)).alias("sk"))
        )
        if _table_exists(spark, sketch_dir):
            old = spark.read.parquet(sketch_dir)
            new = (
                old.unionByName(new)
                .groupBy("source")
                .agg(F.hll_union_agg("sk").alias("sk"))
            )
        _write_merged(new, sketch_dir, [])

    return _sink


def run_sketch_rollup_pipeline(
    spark: SparkSession,
    docs_dir: str,
    sketch_dir: str,
    checkpoint_dir: str,
    *,
    lg_k: int = SKETCH_LG_K,
    max_files_per_trigger: int | None = None,
) -> None:
    """Maintain a pre-aggregated distinct-term sketch table over a
    streaming documents source (SCALE.md roadmap: sketches materialized
    by the pipeline, not recomputed per query). Each drained micro-batch
    folds into the sketch table; any later distinct-count rollup is a
    merge of kilobytes via :func:`sketch_estimates` — the corpus is
    never rescanned. At 100 TB this turns vocabulary dashboards from a
    full-scan query into a constant-time lookup."""
    reader = spark.readStream.schema(
        "doc_id long, text string, lang string, source string, n_chars long"
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    docs = reader.parquet(docs_dir)
    (
        docs.writeStream.foreachBatch(_sketch_merge_sink(sketch_dir, lg_k))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def sketch_estimates(spark: SparkSession, sketch_dir: str) -> DataFrame:
    """Per-source + global distinct-term estimates from the materialized
    sketch table — the query side of run_sketch_rollup_pipeline, same
    output shape as plans/curation.py:sketch_hll_rollup."""
    sk = spark.read.parquet(sketch_dir)
    per = sk.select(
        "source", F.hll_sketch_estimate("sk").cast("long").alias("est_distinct_terms")
    )
    glob = sk.agg(F.hll_union_agg("sk").alias("sk")).select(
        F.lit("ALL").alias("source"),
        F.hll_sketch_estimate("sk").cast("long").alias("est_distinct_terms"),
    )
    return per.unionByName(glob)
