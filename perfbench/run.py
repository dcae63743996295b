"""Ingest-and-query benchmark of the spark-graft engine.

Run from the repository root:

    python3 perfbench/run.py --workload trickle --seed 1 --seconds 20 --trace 0

Workloads (see workloads.py): ``trickle`` lands one small CANServer log
per operation and runs one ``drain_topology`` sweep over a drained
history; ``query`` runs one pass over pinned registry queries;
``backlog`` drains a whole corpus into an empty root per operation.

Each run builds its seeded inputs (cached under ``.perfbench_cache/``),
starts one Spark session, sets up, runs untimed warm-up operations,
then times operations until both the workload's fixed minimum count
and ``--seconds`` seconds are reached, then checks the outputs once. The last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` they are the
per-layer ones, taken from every other operation with tracing on, the
rest giving the tracing overhead. ``--corrupt`` drops one output row
before the check, to show that the check catches it.

All scratch state lives in ``.perfbench_work/<pid>/`` and is removed on
exit, failure included. A traced run leaves its spans and per-operation
layer numbers in ``.perfbench_traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "matt3r_data_ingestion_serverless_spark"


def process_start() -> float:
    """Epoch seconds at which this process started (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        s = f.read()
    start_ticks = int(s[s.rindex(")") + 2 :].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def configure(work: str) -> dict:
    """Environment for the session and its Python workers. Everything a
    run writes goes under ``work``; driver memory and core count follow
    the machine."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_mb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal")) // 1024
    driver_mb = max(1024, min(8192, mem_mb // 8))
    for d in ("local", "tmp", "warehouse", "ckpt", "events"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    pythonpath = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update(
        {
            "PYTHONPATH": os.pathsep.join(pythonpath),
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_DRIVER_MEM": f"{driver_mb}m",
            "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
            "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
            "TMPDIR": os.path.join(work, "tmp"),
            "PYTHONWARNINGS": "ignore",
        }
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return {"cpus": cpus, "driver_mem_mb": driver_mb, "mem_total_mb": mem_mb}


def session_conf(work: str, trace: bool) -> dict:
    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.streaming.checkpointLocation": os.path.join(work, "ckpt"),
        # keep the JVM's temp files and its perf-counter file out of /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:+PerfDisableSharedMem",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(work, "events"),
                "spark.eventLog.compress": "false",
            }
        )
    return conf


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric of a traced run, with its unit. A metric
    that does not apply to a workload reads 0."""
    from tracing import PHASES, STAGES
    from workloads import QUERIES

    u = {"session.start_s": "s", "plans.import_s": "s"}
    u.update({"sources.frames": "count", "sources.decode_s": "s", "sources.decode_frames_per_s": "1/s"})
    u.update(
        {
            "sources.history_decode_s": "s",
            "sources.history_decode_frames_per_s": "1/s",
            "streaming.history_silver_s": "s",
            "streaming.history_silver_frames_per_s": "1/s",
        }
    )
    u.update({f"streaming.{st}_s": "s" for st in STAGES})
    u["streaming.recount_s"] = "s"
    for st in STAGES:
        u[f"streaming.{st}.batches"] = "count"
        u[f"streaming.{st}.rows_in"] = "count"
        u.update({f"streaming.{st}.{ph}_ms": "ms" for ph in PHASES})
        u[f"streaming.{st}.state_rows"] = "count"
        u[f"streaming.{st}.state_bytes"] = "bytes"
    u.update(
        {
            "operators.merge.upsert_s": "s",
            "operators.merge.upsert_calls": "count",
            "operators.merge.partitions_rewritten": "count",
            "operators.merge.bytes_written": "bytes",
        }
    )
    u.update({"plans.build_s": "s", "plans.exec_s": "s"})
    for q in QUERIES:
        u.update({f"plans.{q}.build_s": "s", f"plans.{q}.exec_s": "s"})
        u.update({f"plans.{q}.{ph}_ms": "ms" for ph in ("analysis", "optimization", "planning")})
        u.update({f"plans.{q}.jobs": "count", f"plans.{q}.tasks": "count"})
    u.update({"cpu.jvm_s": "s", "cpu.py_workers_s": "s", "cpu.py_driver_s": "s"})
    u.update({f"cpu.jvm_{g}_s": "s" for g in ("jit", "gc", "other", "children")})
    u.update(
        {
            "jvm.gc_ms": "ms",
            "spark.jobs": "count",
            "spark.tasks": "count",
            "spark.executor_cpu_s": "s",
            "spark.shuffle_bytes": "bytes",
            "spark.spill_bytes": "bytes",
        }
    )
    u.update({"trace.op_p50_s": "s", "trace.untraced_op_p50_s": "s", "trace.overhead_ratio": "ratio"})
    return u


class Run:
    """One benchmark run: inputs, session, timed loop, check, teardown."""

    def __init__(self, args):
        self.args = args
        self.work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
        self.cache = os.path.join(ROOT, ".perfbench_cache")
        self.spark = None
        self.context: dict = {}

    def execute(self) -> dict:
        import procstat
        from workloads import WORKLOADS

        args = self.args
        self.context.update(configure(self.work))
        self.context["machine_start"] = procstat.machine()
        t_proc = process_start()

        w = WORKLOADS[args.workload](self.work, self.cache, args.seed, args.corrupt)
        t0 = time.perf_counter()
        w.prepare()
        gen_s = time.perf_counter() - t0

        with procstat.PeakMemory() as mem:
            self.ops: list[dict] = []
            t0 = time.perf_counter()
            from matt3r_data_ingestion_serverless_spark import get_spark

            self.spark = spark = get_spark("perfbench", session_conf(self.work, args.trace))
            self.session_s = time.perf_counter() - t0
            t0 = time.perf_counter()
            from matt3r_data_ingestion_serverless_spark.plans import all_queries

            all_queries()
            self.import_s = time.perf_counter() - t0

            tracer = None
            if args.trace:
                from tracing import Tracer

                tracer = Tracer(spark)
                tracer.install()
                tracer.op = -1
            w.setup(spark, tracer)
            setup_s = time.time() - t_proc - gen_s
            if tracer is not None:
                tracer.wait_streams()
                tracer.uninstall()

            w.warmup()

            deadline = time.monotonic() + args.seconds
            k = w.warmup_ops
            while len(self.ops) < w.min_ops or time.monotonic() < deadline:
                self.ops.append(self._timed_op(w, k, tracer if _traced(k - w.warmup_ops, w.cycle) else None))
                k += 1

        problems = w.check()
        for p in problems:
            print(f"check failed: {p}", file=sys.stderr)
        self.context["machine_end"] = procstat.machine()

        walls = [o["wall_s"] for o in self.ops if not o["failed"]]
        attempted = len(self.ops)
        failed = sum(o["failed"] for o in self.ops)
        if problems:
            failed = attempted  # every op wrote the output that failed its check
        if args.trace:
            metrics = self._per_layer(w, tracer)
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                "op_p50_s": (statistics.median(walls) if walls else 0.0, "s"),
                "op_cpu_s": (statistics.median(o["cpu_s"] for o in self.ops), "s"),
                "peak_rss_mb": (mem.peak / 2**20, "MB"),
            }
        self.context.update(
            {
                "workload": args.workload,
                "seed": args.seed,
                "corpus_gen_s": gen_s,
                "op_wall_s": walls,
                "op_cpu_s": [o["cpu_s"] for o in self.ops],
                "peak_pss_mb_by_kind": {k: v / 2**20 for k, v in mem.peak_by_kind.items()},
            }
        )
        return {
            "correct": not problems and failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
        }

    def _timed_op(self, w, k: int, tracer) -> dict:
        import procstat

        w.before(k)
        if tracer is not None:
            from tracing import gc_ms

            tracer.install()
            tracer.op = k
            gc0 = gc_ms(self.spark)
        snap0 = procstat.tree()
        if tracer is not None:
            threads0 = procstat.jvm_threads(snap0)
        t_epoch = time.time()
        t0 = time.perf_counter()
        failed, layers = False, {}
        try:
            layers = w.op(k, tracer) or {}
        except Exception:
            traceback.print_exc()
            failed = True
        wall = time.perf_counter() - t0
        snap1 = procstat.tree()
        cpu = procstat.cpu_delta(snap0, snap1)
        if tracer is not None:
            threads1 = procstat.jvm_threads(snap1)
        op = {"k": k, "wall_s": wall, "cpu_s": sum(cpu.values()), "failed": failed}
        op["window"] = (t_epoch, t_epoch + wall)
        if tracer is not None:
            tracer.wait_streams()
            tracer.uninstall()
            layers.update({f"cpu.{kind}_s": v for kind, v in cpu.items()})
            layers.update({f"cpu.jvm_{g}_s": threads1[g] - threads0[g] for g in threads1})
            layers["jvm.gc_ms"] = gc_ms(self.spark) - gc0
            layers.update(tracer.op_layers(k))
            layers.update(w.after(k))
            op["layers"] = layers
        return op

    def _per_layer(self, w, tracer) -> dict:
        from tracing import read_event_log, spark_window

        units = per_layer_units()
        self.shutdown()  # flushes the event log
        jobs, tasks = read_event_log(os.path.join(self.work, "events"))
        traced = [o for o in self.ops if "layers" in o]
        for o in traced:
            layers = o["layers"]
            layers.update(spark_window(jobs, tasks, *o["window"]))
            if layers.get("sources.decode_s"):
                layers["sources.decode_frames_per_s"] = layers["sources.frames"] / layers["sources.decode_s"]
            for s in tracer.spans:
                if s.op == o["k"] and s.name.startswith("plans.") and s.name.endswith(".build"):
                    q = s.name[len("plans.") : -len(".build")]
                    end = next(e.end for e in tracer.spans if e.op == s.op and e.name == f"plans.{q}.exec")
                    win = spark_window(jobs, tasks, s.start, end)
                    layers[f"plans.{q}.jobs"] = win["spark.jobs"]
                    layers[f"plans.{q}.tasks"] = win["spark.tasks"]
        values = {
            name: statistics.median(o["layers"].get(name, 0.0) for o in traced) if traced else 0.0 for name in units
        }
        values["session.start_s"] = self.session_s
        values["plans.import_s"] = self.import_s
        history = [s for s in tracer.spans if s.op == -1 and s.name == "streaming.silver"]
        if history:
            base = w.history_decode()
            silver_s = sum(s.secs for s in history)
            values["sources.history_decode_s"] = base["secs"]
            values["sources.history_decode_frames_per_s"] = base["frames"] / base["secs"]
            values["streaming.history_silver_s"] = silver_s
            values["streaming.history_silver_frames_per_s"] = base["frames"] / silver_s
        trace_path = os.path.join(ROOT, ".perfbench_traces", f"{w.name}-s{w.seed}-{os.getpid()}.jsonl")
        tracer.dump(trace_path, self.ops)
        self.context["trace_file"] = os.path.relpath(trace_path, ROOT)
        t_walls = [o["wall_s"] for o in traced if not o["failed"]]
        u_walls = [o["wall_s"] for o in self.ops if "layers" not in o and not o["failed"]]
        if t_walls and u_walls:
            values["trace.op_p50_s"] = statistics.median(t_walls)
            values["trace.untraced_op_p50_s"] = statistics.median(u_walls)
            values["trace.overhead_ratio"] = values["trace.op_p50_s"] / values["trace.untraced_op_p50_s"]
        return {name: (values[name], unit) for name, unit in units.items()}

    def shutdown(self) -> None:
        """Stop the session and wait until the JVM and every Python
        worker it started have exited."""
        import procstat

        if self.spark is None:
            return
        from pyspark import SparkContext

        children = set(procstat.tree()) - {os.getpid()}
        gateway = SparkContext._gateway
        try:
            self.spark.stop()
        finally:
            self.spark = None
            if gateway is not None:
                gateway.shutdown()
                proc = getattr(gateway, "proc", None)
                if proc is not None:
                    proc.stdin.close()  # the gateway JVM exits when its stdin closes
                    try:
                        proc.wait(timeout=60)
                    except Exception:
                        proc.kill()
                        proc.wait(timeout=30)
                SparkContext._gateway = None
                SparkContext._jvm = None
            _reap(children)

    def cleanup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.work))
        except OSError:
            pass
        # get_spark's default streaming scratch for this pid, if it made one
        shutil.rmtree(f"/dev/shm/spark-graft-scratch/ckpt-{os.getpid()}", ignore_errors=True)


def _traced(i: int, cycle: int) -> bool:
    """Whether timed operation ``i`` of a traced run is traced. Traced and
    untraced operations alternate cycle by cycle in mirrored order (for a
    cycle of two: traced, untraced, untraced, traced), so both halves get
    every kind of operation and the same average place on the warm-up
    curve, and their medians compare as tracing overhead."""
    return (i // cycle + i % cycle) % 2 == 0


def _reap(pids: set[int], timeout: float = 30.0) -> None:
    deadline = time.monotonic() + timeout
    while pids and time.monotonic() < deadline:
        pids = {p for p in pids if _alive(p)}
        time.sleep(0.05)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while any(_alive(p) for p in pids):
        time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().split(") ", 1)[1][0] != "Z"
    except (OSError, IndexError):
        return False


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("trickle", "query", "backlog"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True, help="minimum length of the timed phase")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", action="store_true", help="drop one output row before the check")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"run from a checkout of the repository: {PACKAGE}/ not found beside perfbench/", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]

    # a terminated run still stops its session and removes its scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    run = Run(args)
    try:
        result = run.execute()
    finally:
        try:
            run.shutdown()
        finally:
            run.cleanup()
    print(json.dumps({"context": run.context}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
