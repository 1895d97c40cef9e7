"""Benchmark of the engine's public functions, one closed-loop client.

    python3 perfbench/run.py --workload topic_scan --seed 1 --seconds 20 --trace 0

Run from the repository root. Each run sets up (package import, Spark
session bring-up, input generation, warm-up operations), verifies the
outputs against DuckDB (untimed), then issues operations back to back for
``--seconds`` seconds in whole passes. One operation is one report (with
its alive-key count) or one registered query. The last line of stdout is
a JSON object with the end-to-end metrics (``--trace 0``) or the
per-layer metrics (``--trace 1``); the lines before it name every metric
with its unit and sample count.

A traced run first does the untraced run, then restarts the Spark
context with an event log, tags one job group per layer call, listens to
streaming progress and measures again; the difference between the two
``wall_s`` is the tracing overhead.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import os
import random
import shutil
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("topic_scan", "catalog")
JVM_HEAP = "2g"
PAGE_SIZE = os.sysconf("SC_PAGE_SIZE")


class MemorySampler(threading.Thread):
    """Peak resident memory of this process and all its descendants, from /proc.

    Python processes count their proportional set size (PSS), which splits
    each shared page among the processes that map it, so forked Python
    workers do not count the pages they share with their daemon more than
    once. The JVM counts its resident set from ``statm``: its PSS is the
    same to within its few shared libraries, but reading it costs tens of
    milliseconds of CPU per sample, which would slow the run it measures.
    """

    def __init__(self, interval: float = 0.25) -> None:
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_bytes = 0
        self._lock = threading.Lock()  # reset() runs on the loop's thread
        self._stop_event = threading.Event()

    @staticmethod
    def _tree(pid: int) -> list[int]:
        parent = {}
        for entry in os.listdir("/proc"):
            if entry.isdigit():
                try:
                    with open(f"/proc/{entry}/stat") as fh:
                        parent[int(entry)] = int(fh.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    pass
        out, todo = [], [pid]
        while todo:
            p = todo.pop()
            out.append(p)
            todo.extend(c for c, pp in parent.items() if pp == p)
        return out

    @staticmethod
    def _resident(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/comm") as fh:
                if fh.read().strip() == "java":
                    with open(f"/proc/{pid}/statm") as statm:
                        return int(statm.read().split()[1]) * PAGE_SIZE
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        return int(line.split()[1]) * 1024
        except (OSError, IndexError, ValueError):
            pass
        return 0

    def reset(self) -> None:
        with self._lock:
            self.peak_bytes = 0

    def run(self) -> None:
        while not self._stop_event.wait(self.interval):
            total = sum(self._resident(p) for p in self._tree(os.getpid()))
            with self._lock:
                self.peak_bytes = max(self.peak_bytes, total)

    def stop(self) -> None:
        self._stop_event.set()
        self.join()


def stop_processes(timeout: float = 60.0) -> None:
    """Stop the JVM this process launched and wait for every child to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on end of its stdin
            proc.wait(timeout=timeout)
    deadline = time.monotonic() + timeout
    while len(MemorySampler._tree(os.getpid())) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


def p90(values: list[float]) -> float:
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=10, method="inclusive")[8]


class Loop:
    """The closed loop: runs ops one after another and counts outcomes."""

    def __init__(self, workload, spans, sampler: MemorySampler | None = None) -> None:
        self.workload = workload
        self.spans = spans
        self.sampler = sampler
        self.attempted = 0
        self.failed = 0

    def run_op(self, op) -> tuple[float, int] | None:
        """Time one op; ``None`` when it raised or returned a wrong output."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            records = op.run(self.spans)
            elapsed = time.perf_counter() - t0
        except Exception:  # every failure counts; the loop keeps going
            self.failed += 1
            print(f"operation {op.name} failed:", file=sys.stderr)
            traceback.print_exc()
            return None
        finally:
            gc.collect()  # untimed: drop py4j refs that pin checkpointed blocks
        return elapsed, records

    def passes(self, rng: random.Random, seconds: float) -> dict:
        """Whole passes until ``seconds`` have elapsed; at least one."""
        latencies, pass_records, pass_peaks, by_op = [], [], [], {}
        start = time.time()
        t_end = time.perf_counter() + seconds
        while True:
            records = 0
            if self.sampler is not None:
                self.sampler.reset()
            for op in self.workload.pass_ops(rng):
                done = self.run_op(op)
                if done is not None:
                    latencies.append(done[0])
                    by_op.setdefault(op.name, []).append(done[0])
                    records += done[1]
            pass_records.append(records)
            if self.sampler is not None:
                pass_peaks.append(self.sampler.peak_bytes)
            if time.perf_counter() >= t_end:
                break
        return {"latencies": latencies, "passes": len(pass_records),
                "records": statistics.median(pass_records), "by_op": by_op,
                "peak_bytes": statistics.median(pass_peaks) if pass_peaks else 0,
                "start": start, "end": time.time()}


def pass_wall(measured: dict) -> float:
    """The time of one pass: the sum of each operation's median latency.

    Unlike the median of whole-pass times, this uses every sample of a
    short run, and a burst of load on the host that slows one operation
    moves only that operation's median.
    """
    return sum(statistics.median(lat) for lat in measured["by_op"].values())


def set_environment(work_dir: str, cores: int) -> None:
    """Keep every file the run writes inside ``work_dir``; size the session.

    ``PYTHONPATH`` is inherited by the JVM, which hands it to the Python
    workers, so UDFs that import the package work from any directory.
    """
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = JVM_HEAP
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_SUBMIT_OPTS"] = " ".join(
        p for p in (os.environ.get("SPARK_SUBMIT_OPTS"),
                    f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData",
                    "-Dspark.ui.showConsoleProgress=false") if p)
    import tempfile
    tempfile.tempdir = tmp


def untraced_run(args, work_dir: str, cores: int, sampler: MemorySampler) -> dict:
    """Set up, verify and measure with tracing off."""
    t0 = time.perf_counter()
    from kafka_topic_analyzer_spark.registry import all_queries
    from kafka_topic_analyzer_spark.session import get_spark
    from tracing import Spans
    from workloads import Catalog, TopicScan, WrongOutput

    queries = all_queries()
    import_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    start_s = time.perf_counter() - t0

    if args.workload == "topic_scan":
        workload = TopicScan(spark, work_dir, args.seed)
    else:
        workload = Catalog(spark, queries)
    t0 = time.perf_counter()
    workload.prepare()
    input_s = time.perf_counter() - t0

    rng = random.Random(args.seed)
    loop = Loop(workload, Spans(spark, tag_jobs=False), sampler)
    t0 = time.perf_counter()
    for op in workload.warmup_ops(rng):
        loop.run_op(op)
    warmup_s = time.perf_counter() - t0
    try:
        workload.verify()
        verified = True
    except WrongOutput as exc:
        print(f"verification failed: {exc}", file=sys.stderr)
        verified = False

    measured = loop.passes(rng, args.seconds)
    return {
        "spark": spark, "workload": workload, "loop": loop, "rng": rng,
        "verified": verified, "measured": measured,
        "session": {"import_s": import_s, "start_s": start_s, "input_s": input_s,
                    "warmup_s": warmup_s},
    }


def end_to_end(run: dict) -> dict[str, tuple[float, str]]:
    m = run["measured"]
    lat = m["latencies"] or [0.0]  # every op failed; the run reports correct=false
    s = run["session"]
    wall = pass_wall(m)
    return {
        "setup_s": (s["import_s"] + s["start_s"] + s["input_s"] + s["warmup_s"], "s"),
        "wall_s": (wall, "s"),
        "op_p50_s": (statistics.median(lat), "s"),
        "op_p90_s": (p90(lat), "s"),
        "msgs_per_s": (m["records"] / wall if wall > 0 else 0.0, "msg/s"),
        "peak_rss_mb": (m["peak_bytes"] / 2**20, "MB"),
    }


def traced_run(args, work_dir: str, cores: int, run: dict) -> dict[str, tuple[float, str]]:
    """Restart the context with an event log and measure the layers."""
    from kafka_topic_analyzer_spark.session import get_spark
    from tracing import ProgressListener, Spans, layer_counters, parse_event_log, streaming_counters

    run["spark"].stop()
    log_dir = os.path.join(work_dir, "eventlog")
    os.makedirs(log_dir, exist_ok=True)
    jvm = run["spark"].sparkContext._jvm
    for key, value in (("spark.eventLog.enabled", "true"),
                       ("spark.eventLog.compress", "false"),
                       ("spark.eventLog.dir", "file://" + log_dir)):
        jvm.java.lang.System.setProperty(key, value)
    spark = get_spark(f"perfbench-{args.workload}-traced")
    spark.sparkContext.setLogLevel("ERROR")
    listener = ProgressListener()
    spark.streams.addListener(listener)

    workload = run["workload"]
    workload.spark = spark
    loop = run["loop"]
    loop.spans = Spans(spark, tag_jobs=True)
    loop.passes(run["rng"], 0)  # re-warm the new context; one whole pass
    loop.spans.records.clear()
    measured = loop.passes(run["rng"], args.seconds)
    spans = loop.spans.records
    spark.streams.removeListener(listener)
    spark.stop()
    totals = parse_event_log(log_dir, spans)

    def layer_s(layer: str) -> float:
        own = [s.seconds for s in spans if s.layer == layer]
        return statistics.mean(own) if own else 0.0

    out: dict[str, tuple[float, str]] = {}
    for k in ("import_s", "start_s", "warmup_s"):
        out[f"session.{k}"] = (run["session"][k], "s")
    out["registry.construct_s"] = (layer_s("registry.construct"), "s")
    construct = layer_counters("registry.construct", spans, totals, cores)
    for k, unit in (("jobs", "count"), ("tasks", "count"), ("python_start_s", "s"),
                    ("python_run_s", "s"), ("python_bytes", "B")):
        out[f"registry.construct.{k}"] = (construct[k], unit)
    execute = layer_counters("queries.execute", spans, totals, cores)
    out["queries.execute_s"] = (layer_s("queries.execute"), "s")
    for k, unit in (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                    ("sched_idle_frac", "ratio"), ("python_start_s", "s"),
                    ("python_run_s", "s"), ("python_bytes", "B"),
                    ("shuffle_write_bytes", "B"), ("spill_bytes", "B")):
        out[f"queries.execute.{k}"] = (execute[k], unit)
    report = layer_counters("operators.report", spans, totals, cores)
    out["operators.report_s"] = (layer_s("operators.report"), "s")
    out["operators.report.input_bytes"] = (report["input_bytes"], "B")
    out["operators.report.task_cpu_s"] = (report["task_cpu_s"], "s")
    alive = layer_counters("operators.alive_keys", spans, totals, cores)
    out["operators.alive_keys_s"] = (layer_s("operators.alive_keys"), "s")
    for k, unit in (("shuffle_write_bytes", "B"), ("spill_bytes", "B"), ("gc_s", "s")):
        out[f"operators.alive_keys.{k}"] = (alive[k], unit)
    stream = streaming_counters(listener.progress, measured["start"], measured["end"],
                                measured["passes"])
    for k, unit in (("triggers", "count"), ("trigger_s", "s"), ("commit_s", "s"),
                    ("state_rows", "count"), ("state_bytes", "B")):
        out[f"streaming.{k}"] = (stream[k], unit)
    traced_wall = pass_wall(measured)
    untraced_wall = pass_wall(run["measured"])
    out["trace.wall_s"] = (traced_wall, "s")
    out["trace.overhead_s"] = (traced_wall - untraced_wall, "s")
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "kafka_topic_analyzer_spark", "__init__.py")):
        print("run from a checkout of the repository: the engine package is missing",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    nproc = len(os.sched_getaffinity(0))
    # Spark gets half the cores. The rest keep the JVM's compiler and GC
    # threads and the Python driver off the task threads' cores. On a 4-core
    # virtual machine whose host was contended, reports on all four cores
    # ran 1.56x slower than in a quiet period and reports on two 1.24x.
    cores = max(1, nproc // 2)
    work_dir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    set_environment(work_dir, cores)

    sampler = MemorySampler()
    sampler.start()
    run = None
    try:
        run = untraced_run(args, work_dir, cores, sampler)
        untraced = end_to_end(run)
        if args.trace:
            metrics = traced_run(args, work_dir, cores, run)
        else:
            run["spark"].stop()
            metrics = untraced
    finally:
        sampler.stop()
        stop_processes()
        shutil.rmtree(work_dir, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work_dir))  # only when no other run uses it

    loop = run["loop"]
    m = run["measured"]
    print(f"workload {args.workload}: seed {args.seed}, local[{cores}] of {nproc} cores, "
          f"closed loop, 1 client, "
          f"{len(m['latencies'])} timed ops in {m['passes']} passes")
    print(f"error_rate {loop.failed / loop.attempted:.4f} ({loop.failed} of {loop.attempted} ops)")
    for name, lat in sorted(m["by_op"].items()):
        print(f"op {name}: {len(lat)} timed, median {statistics.median(lat):.3f} s")
    for name, (value, unit) in (untraced | metrics).items():
        print(f"{name} {value:.6g} {unit}")
    print(json.dumps({
        "correct": run["verified"] and loop.failed == 0,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
