"""Run one workload: session, set-up, closed-loop timed section, output
checks, machine context, and the result line.

Load shape, the same for every workload: one Python process, one client
in a closed loop (the next call starts when the previous one returned),
``local[nproc]`` with ``spark.sql.shuffle.partitions = nproc``.
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import socket
import statistics
import subprocess
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field

import tracing

SETUP_REPS = 3  # set-up repetitions per run; setup_s uses their median


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def tail_percentile(n: int, beyond: int = 10) -> float:
    """Highest percentile (0-100) that leaves at least ``beyond`` of ``n``
    samples above it; 0 when there are too few samples for any."""
    if n <= beyond:
        return 0.0
    return 100.0 * (n - beyond) / n


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile ``p`` (0-100) of ``values``."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


# ----------------------------------------------------------- machine context

def _steal_s() -> float:
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def _descendants(root: int) -> list[int]:
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as fh:
                parent[int(d)] = int(fh.read().rsplit(b")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
    out, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        frontier += kids
    return out


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") / 1e6
    except (OSError, ValueError, IndexError):
        return 0.0


class RssSampler:
    """Peak of the summed RSS of this process's descendants (the driver
    JVM and its Python workers), sampled from /proc every ``period`` s."""

    def __init__(self, period: float = 0.5):
        self.period = period
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_rss_mb(p) for p in _descendants(me))
            self.peak_mb = max(self.peak_mb, total)
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


# ------------------------------------------------------------------ session

def make_session(work: str, cores: int, event_log_dir: str | None):
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.appName("perfbench")
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.default.parallelism", str(cores))
        .config("spark.driver.memory", "2g")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # the engine's own session settings (vector_io_spark/session.py)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.parquet.enableNestedColumnVectorizedReader", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    )
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + event_log_dir)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    # start the Python worker on every core, as a session that serves
    # pandas UDFs has; query code paths stay cold
    spark.range(0, cores, 1, cores).mapInPandas(lambda it: it, "id long").collect()
    return spark


# ------------------------------------------------------------------ running

@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    cores: int
    tracer: tracing.Tracer
    state: dict = field(default_factory=dict)


@dataclass
class Unit:
    """What one timed unit reports back."""

    rows: int  # input rows the unit carried (throughput numerator)
    latencies: list[float]  # seconds per public call


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def run(workload, seed: int, seconds: float, trace: bool, root: str) -> int:
    """Run ``workload`` once; print its record and result line.

    Set-up is ``SETUP_REPS`` calls of ``workload.prepare``; the last
    one's inputs are used. The timed section runs ``workload.unit`` until
    ``seconds`` have passed, at least once. With ``trace`` every timed
    unit is traced."""
    cores = nproc()
    run_id = f"{workload.NAME}-{seed}-{os.getpid()}"
    work = os.path.join(root, ".perfbench_work", run_id)
    records = os.path.join(root, ".perfbench_work", "records")
    os.makedirs(records, exist_ok=True)
    # every file Python, its Spark workers, the JVMs (launcher and driver)
    # and Spark's block manager write stays inside the checkout
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    record = {
        "workload": workload.NAME,
        "seed": seed,
        "seconds": seconds,
        "trace": trace,
        "cpus": cores,
        "host": socket.gethostname(),
        "loadavg_1m_before": os.getloadavg()[0],
    }
    steal0 = _steal_s()
    event_dir = os.path.join(work, "eventlog") if trace else None

    t0 = time.perf_counter()
    spark = make_session(work, cores, event_dir)
    session_s = time.perf_counter() - t0
    sc = spark.sparkContext

    def set_group(gid):
        if gid is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(gid, gid)

    tracer = tracing.Tracer(run_id, enabled=False, set_group=set_group)
    ctx = Ctx(spark, work, seed, cores, tracer)
    try:
        prep = []
        for rep in range(SETUP_REPS):
            t = time.perf_counter()
            workload.prepare(ctx, rep)
            prep.append(time.perf_counter() - t)
        units: list[Unit] = []
        walls, windows = [], []
        tracer.enabled = trace
        with RssSampler() as rss:
            t_start = time.perf_counter()
            while not units or time.perf_counter() - t_start < seconds:
                w0, t = time.time(), time.perf_counter()
                with tracer.span(f"{workload.NAME}.unit"):
                    units.append(workload.unit(ctx, len(units)))
                walls.append(time.perf_counter() - t)
                windows.append((w0, time.time()))
            timed_s = time.perf_counter() - t_start
        tracer.enabled = False

        t = time.perf_counter()
        failed, problems = workload.check(ctx, units)
        check_s = time.perf_counter() - t
    except Exception:
        traceback.print_exc()
        shutdown(spark)
        return 1
    shutdown(spark)  # also flushes the event log

    lat = [x for u in units for x in u.latencies]
    e2e = {
        "wall_s": (_median(walls), "s"),
        "throughput_rows_per_s": (sum(u.rows for u in units) / timed_s, "rows/s"),
        "latency_p50_s": (percentile(lat, 50), "s"),
        "setup_s": (session_s + _median(prep), "s"),
    }
    # the highest percentile with at least ten samples beyond it; below
    # p90 at these run lengths, so p90 stays out of the end-to-end set
    tail_p = tail_percentile(len(lat))
    record.update({
        "units": len(units),
        "unit_wall_s": walls,
        "ops": len(lat),
        "op_latency_s": lat,
        "latency_tail_percentile": tail_p,
        "latency_tail_s": percentile(lat, tail_p),
        "latency_p90_s": percentile(lat, 90),
        "setup": {"session_s": session_s, "prepare_s": prep},
        "timed_s": timed_s,
        "check_s": check_s,
        "peak_rss_mb": rss.peak_mb,
        "inputs": ctx.state.get("inputs", {}),
        "problems": problems,
        "metrics": {k: v for k, (v, _) in e2e.items()},
    })
    if trace:
        metrics = _traced_metrics(tracer, event_dir, windows, session_s, records, record)
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    record["loadavg_1m_after"] = os.getloadavg()[0]
    record["steal_s"] = _steal_s() - steal0

    rec_path = os.path.join(records, f"{run_id}-trace{int(trace)}.json")
    with open(rec_path, "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)
    for p in problems[:20]:
        print("check failed:", p, file=sys.stderr)
    correct = failed == 0 and not problems and not record.get("unattributed_jobs")
    print("record:", rec_path)
    print(json.dumps({k: v for k, v in record.items()
                      if k not in ("spans", "per_layer", "op_latency_s")}, default=str))
    print(json.dumps({
        "correct": correct,
        "attempted": max(len(lat), 1),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0 if correct else 1


def _untraced_wall(records: str, record: dict) -> list[float]:
    """``wall_s`` of the untraced records of the same workload, run length
    and core count, from earlier runs in this checkout."""
    out = []
    for name in os.listdir(records):
        if not name.startswith(record["workload"] + "-") or not name.endswith("-trace0.json"):
            continue
        with open(os.path.join(records, name)) as fh:
            r = json.load(fh)
        if r["seconds"] == record["seconds"] and r["cpus"] == record["cpus"]:
            out.append(r["metrics"]["wall_s"])
    return out


def _traced_metrics(tracer, event_dir, windows, session_s, records, record) -> dict:
    """Per-layer metrics, per timed unit; fills the trace part of
    ``record``. ``trace.overhead_s`` is this run's median unit wall minus
    the median ``wall_s`` of untraced runs recorded in this checkout (0
    when there are none)."""
    lines = []
    for name in sorted(os.listdir(event_dir)):
        with open(os.path.join(event_dir, name)) as fh:
            lines += fh.readlines()
    jobs, tasks = tracing.parse_event_log(lines)
    spans = tracer.spans
    unattributed = tracing.attribute_jobs(spans, jobs, windows)
    n = len(windows)
    per_layer = {
        k: v if "_per_" in k.rsplit(".", 1)[1] else v / n
        for k, v in tracing.layer_metrics(spans, jobs, tasks).items()
    }
    untraced = _untraced_wall(records, record)
    in_bytes = record["inputs"].get("bytes", 0)
    per_layer.update({
        "session.wall_s": session_s,
        "run.peak_rss_mb": record["peak_rss_mb"],
        "trace.overhead_s":
            record["metrics"]["wall_s"] - _median(untraced) if untraced else 0.0,
        "trace.unattributed_jobs": float(len(unattributed)),
        "run.bytes_written_per_input_byte":
            per_layer["run.output_mb"] * tracing.MB / in_bytes if in_bytes else 0.0,
    })
    record.update(tracing.trace_record(spans, unattributed, {
        "untraced_runs": len(untraced),
        "per_layer": per_layer,
    }))
    return {
        name: {"value": per_layer.get(name, 0.0), "unit": tracing.metric_unit(name)}
        for name in tracing.per_layer_metric_names()
    }


def shutdown(spark) -> None:
    """Stop Spark, end the driver JVM, and wait until every process this
    run started (the JVM and its Python workers) has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while (left := _descendants(os.getpid())) and time.time() < deadline:
        time.sleep(0.2)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
