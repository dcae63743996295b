"""Tracing for the per-layer run. Everything is kept in memory and read
out when the run ends.

* Spans (name, start, end, parent, op) come from rebinding
  ``scheduler.run_{silver,autopilot,stationary}_pipeline`` and
  ``merge.upsert_parquet`` to timing wrappers. Both are looked up as
  module globals at call time, so ``drain_topology`` and the
  ``foreachBatch`` sink call the wrappers without knowing of them.
* Micro-batch phases, input rows and state size come from a
  ``StreamingQueryListener``.
* Jobs, tasks, executor CPU, shuffle and spill bytes come from the
  uncompressed Spark event log, matched to operations by time.
* Catalyst phase times come from ``queryExecution().tracker()``.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql.streaming import StreamingQueryListener

STAGES = ("silver", "autopilot", "stationary")
PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")


@dataclass
class Span:
    name: str
    start: float  # time.time() seconds
    end: float
    parent: str | None
    op: int | None

    @property
    def secs(self) -> float:
        return self.end - self.start


class _Listener(StreamingQueryListener):
    def __init__(self, tracer: "Tracer"):
        self.t = tracer

    def onQueryStarted(self, event) -> None:
        # called synchronously inside start(), so the open stage is the
        # one that started this query
        with self.t.lock:
            self.t.query_owner[str(event.id)] = (self.t.stage, self.t.op)
            self.t.started += 1

    def onQueryProgress(self, event) -> None:
        p = event.progress
        with self.t.lock:
            stage, op = self.t.query_owner.get(str(p.id), (None, None))
            self.t.progress.append(
                {
                    "stage": stage,
                    "op": op,
                    "rows": p.numInputRows,
                    "ms": dict(p.durationMs),
                    "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                    "state_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
                }
            )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self.t.lock:
            self.t.terminated += 1


class Tracer:
    """Spans and counters of one traced run."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self.merges: list[dict] = []
        self.progress: list[dict] = []
        self.query_owner: dict[str, tuple] = {}
        self.started = self.terminated = 0
        self.op: int | None = None
        self.stage: str | None = None
        self.lock = threading.Lock()
        self._open: list[str] = []
        self._saved: list[tuple] = []
        self._listener: _Listener | None = None

    @contextmanager
    def span(self, name: str):
        parent = self._open[-1] if self._open else None
        self._open.append(name)
        t0 = time.time()
        try:
            yield
        finally:
            self._open.pop()
            self.spans.append(Span(name, t0, time.time(), parent, self.op))

    def spans_for_query(self, name: str, t0: float, t1: float, t2: float) -> None:
        """Build and execution spans of one registry query, from
        ``time.perf_counter`` stamps."""
        off = time.time() - time.perf_counter()
        self.spans.append(Span(f"plans.{name}.build", t0 + off, t1 + off, None, self.op))
        self.spans.append(Span(f"plans.{name}.exec", t1 + off, t2 + off, None, self.op))

    # -- rebinding -----------------------------------------------------

    def install(self) -> None:
        from matt3r_data_ingestion_serverless_spark.operators import merge
        from matt3r_data_ingestion_serverless_spark.streaming import scheduler

        for stage in STAGES:
            self._rebind(scheduler, f"run_{stage}_pipeline", self._stage_wrapper(stage))
        self._rebind(merge, "upsert_parquet", self._merge_wrapper)
        self._listener = _Listener(self)
        self.spark.streams.addListener(self._listener)

    def uninstall(self) -> None:
        for module, name, orig in reversed(self._saved):
            setattr(module, name, orig)
        self._saved.clear()
        if self._listener is not None:
            self.spark.streams.removeListener(self._listener)
            self._listener = None

    def _rebind(self, module, name: str, make) -> None:
        orig = getattr(module, name)
        self._saved.append((module, name, orig))
        setattr(module, name, make(orig))

    def _stage_wrapper(self, stage: str):
        def make(orig):
            def wrapped(*args, **kwargs):
                self.stage = stage
                try:
                    with self.span(f"streaming.{stage}"):
                        return orig(*args, **kwargs)
                finally:
                    self.stage = None

            return wrapped

        return make

    def _merge_wrapper(self, orig):
        def wrapped(batch_df, target_dir, keys, partition_cols=None):
            t0 = time.time()
            with self.span("operators.merge.upsert"):
                orig(batch_df, target_dir, keys, partition_cols)
            secs = time.time() - t0
            parts, nbytes = _new_files(target_dir, t0)
            self.merges.append(
                {"op": self.op, "stage": self.stage, "secs": secs, "partitions": parts, "bytes": nbytes}
            )

        return wrapped

    def wait_streams(self, timeout: float = 20.0) -> None:
        """Block until the listener has seen every started query end, so
        an operation's progress events are in before the next begins."""
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            with self.lock:
                if self.terminated >= self.started:
                    return
            time.sleep(0.02)

    def dump(self, path: str, ops: list[dict]) -> None:
        """Write the spans, then each traced operation's layer numbers, as
        JSON lines."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({"span": s.name, "start": s.start, "end": s.end, "parent": s.parent, "op": s.op}) + "\n")
            for o in ops:
                if "layers" in o:
                    f.write(json.dumps({"op": o["k"], "wall_s": o["wall_s"], "layers": o["layers"]}) + "\n")

    # -- per-operation summaries ---------------------------------------

    def op_layers(self, op: int) -> dict[str, float]:
        """Streaming and merge numbers of one operation."""
        out: dict[str, float] = {}
        spans = [s for s in self.spans if s.op == op]
        stage_total = 0.0
        for stage in STAGES:
            secs = sum(s.secs for s in spans if s.name == f"streaming.{stage}")
            out[f"streaming.{stage}_s"] = secs
            stage_total += secs
            prog = [p for p in self.progress if p["op"] == op and p["stage"] == stage]
            out[f"streaming.{stage}.batches"] = len(prog)
            out[f"streaming.{stage}.rows_in"] = sum(p["rows"] for p in prog)
            for ph in PHASES:
                out[f"streaming.{stage}.{ph}_ms"] = sum(p["ms"].get(ph, 0) for p in prog)
            out[f"streaming.{stage}.state_rows"] = prog[-1]["state_rows"] if prog else 0
            out[f"streaming.{stage}.state_bytes"] = prog[-1]["state_bytes"] if prog else 0
        drain = sum(s.secs for s in spans if s.name == "streaming.drain")
        out["streaming.recount_s"] = max(0.0, drain - stage_total)
        merges = [m for m in self.merges if m["op"] == op]
        out["operators.merge.upsert_s"] = sum(m["secs"] for m in merges)
        out["operators.merge.upsert_calls"] = len(merges)
        out["operators.merge.partitions_rewritten"] = sum(m["partitions"] for m in merges)
        out["operators.merge.bytes_written"] = sum(m["bytes"] for m in merges)
        return out


def _new_files(target_dir: str, since: float) -> tuple[int, int]:
    """Partitions holding data files written since ``since``, and their bytes."""
    parts, nbytes = set(), 0
    for dirpath, _dirs, files in os.walk(target_dir):
        for f in files:
            if f.startswith((".", "_")):
                continue
            st = os.stat(os.path.join(dirpath, f))
            if st.st_mtime >= since:
                parts.add(dirpath)
                nbytes += st.st_size
    return len(parts), nbytes


def catalyst_phases(df) -> dict[str, float]:
    """Analysis, optimization and planning ms of ``df``'s own
    QueryExecution. The noop write plans a separate command, so the
    executed plan is forced once more here, after the timed write."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    out = {}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = float(kv._2().durationMs())
    return out


def gc_ms(spark) -> int:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(beans.get(i).getCollectionTime() for i in range(beans.size()))


def read_event_log(log_dir: str) -> tuple[list[float], list[dict]]:
    """(job submission times, task records) from an uncompressed event
    log. Times are epoch seconds."""
    jobs, tasks = [], []
    paths = sorted(
        p
        for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p) and not os.path.basename(p).startswith((".", "appstatus"))
    )
    for path in paths:
        with open(path) as f:
            for line in f:
                if '"SparkListenerJobStart"' in line:
                    jobs.append(json.loads(line)["Submission Time"] / 1000.0)
                elif '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    m = ev.get("Task Metrics") or {}
                    tasks.append(
                        {
                            "t": ev["Task Info"]["Finish Time"] / 1000.0,
                            "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                            "shuffle_bytes": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                            "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                        }
                    )
    return jobs, tasks


def spark_window(jobs: list[float], tasks: list[dict], t0: float, t1: float) -> dict[str, float]:
    """Jobs submitted and tasks finished inside [t0, t1]."""
    ts = [t for t in tasks if t0 <= t["t"] <= t1]
    return {
        "spark.jobs": sum(1 for j in jobs if t0 <= j <= t1),
        "spark.tasks": len(ts),
        "spark.executor_cpu_s": sum(t["cpu_s"] for t in ts),
        "spark.shuffle_bytes": sum(t["shuffle_bytes"] for t in ts),
        "spark.spill_bytes": sum(t["spill_bytes"] for t in ts),
    }
