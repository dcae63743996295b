"""The benchmark's workloads. Each is a closed loop with one client: an
operation starts when the previous one ends.

A workload has four steps, which the runner times separately:
``prepare`` builds the seeded inputs (excluded from set-up time),
``setup`` gets the program ready for the first operation, ``warmup`` runs
untimed operations so the first timed one does not pay for a cold JVM,
and ``op`` is one timed operation. ``check`` reports whether the outputs
equal the truth, checked once per run outside the timed operations.

Runs are far too short for the JVM to reach a steady state (operations
keep getting cheaper for dozens of repetitions), so each workload times
a fixed minimum number of operations at the same point of that curve in
every run, instead of however many fit a deadline.
"""

from __future__ import annotations

import os
import shutil
import time

from corpus import CanCorpus, CanSize, QuerySize, cached_history, cached_query_tables, land
from tracing import catalyst_phases

# 4 devices x 4 hourly files of 4 minutes: 127 k silver rows, 1.4 MB
CAN_SIZE = CanSize(devices=4, hours=4, minutes=4, trickle_minutes=2)
# the sizes of the sf0.01 test tables (TESTDATA.md) that these queries read
QUERY_SIZE = QuerySize(events=10_000, users=150, documents=500, embeddings=500)
QUERIES = (
    "w2_stationary_intervals",
    "w1_ap_transitions",
    "w5_hourly_buckets",
    "a1_timestamp_pivot",
    "j1_union_dedupe_merge",
    "ns_dedup_minhash_lsh",
    "ns_ann_ivf_topk",
)
QUERY_TABLES = ("events", "documents", "embeddings")


class Workload:
    name = ""
    warmup_ops = 1  # untimed operations before the timed ones
    min_ops = 4  # timed operations per run, however long they take
    cycle = 1  # operations come in repeating kinds, this many per cycle

    def __init__(self, work: str, cache: str, seed: int, corrupt: bool = False):
        self.work = work
        self.cache = cache
        self.seed = seed
        self.corrupt = corrupt  # drop one output row before the check
        self.spark = None

    def prepare(self) -> None:
        pass

    def setup(self, spark, tracer=None) -> None:
        self.spark = spark

    def warmup(self) -> None:
        """Untimed operations ``0 .. warmup_ops - 1``."""
        for k in range(self.warmup_ops):
            self.before(k)
            self.op(k)

    def before(self, k: int) -> None:
        """Untimed preparation of operation ``k``."""

    def op(self, k: int, tracer=None) -> dict[str, float]:
        """Run operation ``k``; return per-layer numbers taken inside it."""
        raise NotImplementedError

    def after(self, k: int) -> dict[str, float]:
        """Untimed per-layer numbers of operation ``k`` (traced runs only)."""
        return {}

    def check(self) -> list[str]:
        """Problems found in the outputs; empty when they are correct."""
        raise NotImplementedError


class _Topology(Workload):
    """Shared by the ingest workloads: a raw zone and topology roots
    under the work directory, fed from the cached seeded corpus."""

    def prepare(self) -> None:
        self.corpus = CanCorpus(self.seed, CAN_SIZE)
        self.history_dir, self.truth = cached_history(self.cache, self.seed, CAN_SIZE)

    def _drain(self, raw: str, root: str, tracer=None) -> None:
        from matt3r_data_ingestion_serverless_spark.streaming.scheduler import drain_topology

        if tracer is None:
            drain_topology(self.spark, raw, root)
        else:
            with tracer.span("streaming.drain"):
                drain_topology(self.spark, raw, root)

    def history_decode(self) -> dict[str, float]:
        """Decoder-only baseline: ``decode_signals`` over every history
        file in this one process, no Spark."""
        from matt3r_data_ingestion_serverless_spark.sources.canserver import decode_signals

        frames, secs = 0, 0.0
        for dev in sorted(os.listdir(self.history_dir)):
            for name in sorted(os.listdir(os.path.join(self.history_dir, dev))):
                with open(os.path.join(self.history_dir, dev, name), "rb") as f:
                    data = f.read()
                t0 = time.perf_counter()
                try:
                    frames += len(decode_signals(data, dev))
                except ValueError:
                    pass  # the bad-header file
                secs += time.perf_counter() - t0
        return {"frames": frames, "secs": secs}

    def check(self) -> list[str]:
        from checks import check_topology, drop_one_silver_row

        if self.corrupt:
            drop_one_silver_row(self.root)
        return check_topology(self.root, self.truth)


class Backlog(_Topology):
    """One operation is a full drain of the fixed corpus into a fresh,
    empty root. Runnable by name; see CHANGES.md for why BENCHMARK.json
    leaves it out."""

    name = "backlog"
    warmup_ops = 2

    def before(self, k: int) -> None:
        shutil.rmtree(os.path.join(self.work, f"root{k - 1}"), ignore_errors=True)
        self.root = os.path.join(self.work, f"root{k}")

    def op(self, k: int, tracer=None) -> dict[str, float]:
        self._drain(self.history_dir, self.root, tracer)
        return {}

    def after(self, k: int) -> dict[str, float]:
        base = self.history_decode()
        return {"sources.frames": base["frames"], "sources.decode_s": base["secs"]}


class Trickle(_Topology):
    """Set-up drains the history. Each operation then lands one small
    one-device file and runs one sweep; every other file lands late in an
    hour already in silver, which rewrites that hour for every device."""

    name = "trickle"
    warmup_ops = 1
    cycle = 2  # late file, fresh file

    def setup(self, spark, tracer=None) -> None:
        super().setup(spark)
        self.raw = os.path.join(self.work, "raw")
        self.root = os.path.join(self.work, "root")
        shutil.copytree(self.history_dir, self.raw)
        self._drain(self.raw, self.root, tracer)

    def before(self, k: int) -> None:
        rel, data, dev, frames = self.corpus.trickle_file(k)
        land(self.raw, rel, data)
        self.truth.add(dev, frames)
        self.landed = (data, dev)

    def op(self, k: int, tracer=None) -> dict[str, float]:
        self._drain(self.raw, self.root, tracer)
        return {}

    def after(self, k: int) -> dict[str, float]:
        from matt3r_data_ingestion_serverless_spark.sources.canserver import decode_signals

        data, dev = self.landed
        t0 = time.perf_counter()
        frames = len(decode_signals(data, dev))
        return {"sources.frames": frames, "sources.decode_s": time.perf_counter() - t0}


class Query(Workload):
    """One operation is one pass over the pinned registry queries, each
    built and written to the ``noop`` sink."""

    name = "query"
    warmup_ops = 1
    min_ops = 5

    def prepare(self) -> None:
        self.tables = cached_query_tables(self.cache, self.seed, QUERY_SIZE)

    def setup(self, spark, tracer=None) -> None:
        from matt3r_data_ingestion_serverless_spark.plans import all_queries

        super().setup(spark)
        registry = all_queries()
        self.queries = [(name, *registry[name]) for name in QUERIES]

    def op(self, k: int, tracer=None) -> dict[str, float]:
        out: dict[str, float] = {}
        self.traced_dfs = []
        for name, fn, _sql in self.queries:
            t0 = time.perf_counter()
            df = fn(self.spark, self.tables)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            if tracer is not None:
                tracer.spans_for_query(name, t0, t1, t2)
                self.traced_dfs.append((name, df))
            out[f"plans.{name}.build_s"] = t1 - t0
            out[f"plans.{name}.exec_s"] = t2 - t1
        out["plans.build_s"] = sum(out[f"plans.{n}.build_s"] for n in QUERIES)
        out["plans.exec_s"] = sum(out[f"plans.{n}.exec_s"] for n in QUERIES)
        return out

    def after(self, k: int) -> dict[str, float]:
        return {
            f"plans.{name}.{phase}_ms": ms
            for name, df in self.traced_dfs
            for phase, ms in catalyst_phases(df).items()
        }

    def warmup(self) -> None:
        """The first, cold pass is the output check: the queries are
        read-only, so every later pass returns the same rows."""
        self.problems = self._compare()
        super().warmup()

    def check(self) -> list[str]:
        return self.problems

    def _compare(self) -> list[str]:
        """Each pinned query against its DuckDB oracle over the same files."""
        import duckdb

        from tests.oracle_harness import compare

        con = duckdb.connect()
        try:
            for t in QUERY_TABLES:
                path = os.path.join(self.tables, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            problems = []
            for i, (name, fn, sql) in enumerate(self.queries):
                df = fn(self.spark, self.tables)
                if self.corrupt and i == 0:
                    df = df.offset(1)
                problems += [f"{name}: {p}" for p in compare(df, con, sql)]
            return problems
        finally:
            con.close()


WORKLOADS = {w.name: w for w in (Backlog, Trickle, Query)}
