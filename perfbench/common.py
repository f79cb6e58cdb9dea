"""Shared plumbing of the benchmark: the Spark session, host state, peak
memory, and the span tracer with per-span Spark stage metrics."""

from __future__ import annotations

import json
import os
import subprocess
import time
import uuid
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", "work")
OUT = os.path.join(ROOT, "perfbench", "out")
DRIVER_MEMORY = "1g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------------------
# session
# ---------------------------------------------------------------------------


def start_spark(work: str):
    """``local[nproc]`` session with shuffle partitions = cores and every
    scratch file (Spark local dirs, JVM and Python temp files) under
    ``work``.  The driver heap is committed and touched at start, so peak
    RSS measures what the run adds beyond it, not when the collector
    happened to grow the heap.  Python workers import the package from the
    checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # every JVM, the launcher's too: no perf-data file, temp files in work
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    from atd_data_lake_spark.session import get_spark

    cores = nproc()
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": tmp,
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def session_shape(spark) -> dict:
    conf = spark.sparkContext.getConf()
    return {
        "master": conf.get("spark.master"),
        "cores": nproc(),
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "driver_memory": conf.get("spark.driver.memory"),
        "mem_total_gb": round(_meminfo_kb("MemTotal") / 1048576, 1),
    }


def stop_spark(spark) -> None:
    """Stop the context, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _status_kb(pid: str, key: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


def _meminfo_kb(key: str) -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    """Driver JVM plus Python driver high-water RSS (VmHWM), in MiB."""
    jvm = spark.sparkContext._gateway.proc.pid
    kb = _status_kb(str(jvm), "VmHWM") + _status_kb("self", "VmHWM")
    return kb / 1024.0


# ---------------------------------------------------------------------------
# host state
# ---------------------------------------------------------------------------


class Host:
    """Host state over a run: load average at start and end, hypervisor
    steal, memory-pressure stall time, and ``bench.py``'s single-thread
    calibration loop (run once, before the session starts)."""

    def __init__(self):
        from bench import _calibrate_cpu, _read_stat

        self._read_stat = _read_stat
        self.loadavg = [round(x, 2) for x in os.getloadavg()]
        self.calib_cpu_s = _calibrate_cpu()
        self._stat = _read_stat()
        self._mem_stall = _memory_stall_us()

    def finish(self) -> dict:
        from bench import _steal_pct

        return {
            "nproc": nproc(),
            "loadavg_start": self.loadavg,
            "loadavg_end": [round(x, 2) for x in os.getloadavg()],
            "calib_cpu_s": self.calib_cpu_s,
            "steal_pct": _steal_pct(self._stat),
            "memory_stall_s": (_memory_stall_us() - self._mem_stall) / 1e6,
        }


def _memory_stall_us() -> int:
    """Total µs some task stalled on memory (PSI), 0 where unsupported."""
    try:
        with open("/proc/pressure/memory") as f:
            return int(f.readline().rsplit("total=", 1)[1])
    except (OSError, IndexError, ValueError):
        return 0


# ---------------------------------------------------------------------------
# tracing
# ---------------------------------------------------------------------------

STAGE_FIELDS = ("tasks", "task_run_s", "task_cpu_s", "shuffle_write_mb",
                "shuffle_read_mb", "spill_mb", "input_mb")


def zero_stages() -> dict:
    return {k: 0.0 for k in STAGE_FIELDS}


def add_stages(acc: dict, more: dict) -> dict:
    for k in STAGE_FIELDS:
        acc[k] += more[k]
    return acc


def stage_totals(spark, group: str) -> dict:
    """Sum the metrics of every stage run by the jobs of one job group,
    read from the status store (kept with the UI disabled)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = zero_stages()
    for job in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job)
        for sid in info.stageIds if info else ():
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:  # evicted from the store
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            out["tasks"] += sd.numTasks()
            out["task_run_s"] += sd.executorRunTime() / 1e3
            out["task_cpu_s"] += sd.executorCpuTime() / 1e9
            out["shuffle_write_mb"] += sd.shuffleWriteBytes() / 1048576
            out["shuffle_read_mb"] += (
                sd.shuffleRemoteBytesRead() + sd.shuffleLocalBytesRead()
            ) / 1048576
            out["spill_mb"] += sd.diskBytesSpilled() / 1048576
            out["input_mb"] += sd.inputBytes() / 1048576
    return out


@contextmanager
def job_group(spark, group: str):
    """Tag the Spark jobs run inside with ``group`` (one local-property
    set, so cheap enough for untraced runs); a traced span inside re-tags
    its own jobs."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


class Tracer:
    """One span per layer call: name, start, end, parent, run id and
    attributes, kept in memory.  Each span tags its Spark jobs with a job
    group of its own and, when it ends, sums the stages of those jobs from
    the status store.  Disabled, every method is a no-op."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._spark = spark
        self.self_s = 0.0  # time spent in the tracer's own bookkeeping

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        b0 = time.perf_counter()
        sc = self._spark.sparkContext
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "run_id": self.run_id,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        group = f"{self.run_id}-{rec['id']}"
        sc.setJobGroup(group, name)
        self.self_s += time.perf_counter() - b0
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            b1 = time.perf_counter()
            rec["stages"] = stage_totals(self._spark, group)
            self._stack.pop()
            if self._stack:
                parent = self._stack[-1]
                sc.setJobGroup(f"{self.run_id}-{parent['id']}", parent["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
            self.self_s += time.perf_counter() - b1

    def duration(self, rec: dict) -> float:
        return rec["end"] - rec["start"]

    def subtree_stages(self, rec: dict) -> dict:
        """Stage totals of a span and every span below it."""
        acc = add_stages(zero_stages(), rec["stages"])
        for child in self.spans:
            if child["parent"] == rec["id"]:
                add_stages(acc, self.subtree_stages(child))
        return acc

    def coverage(self, roots: list[dict], wall: float) -> float:
        """Share of ``wall`` covered by the given spans."""
        return sum(self.duration(r) for r in roots) / wall if wall else 0.0

    def dump(self) -> list[dict]:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        return [
            {**s, "start": round(s["start"] - t0, 6), "end": round(s["end"] - t0, 6)}
            for s in self.spans
        ]


def cpu_ratio(stages: dict) -> float:
    """Task CPU time over task run time: near 1 when tasks get their cores,
    lower when they wait for CPU (contention) or block on I/O."""
    return stages["task_cpu_s"] / stages["task_run_s"] if stages["task_run_s"] else 0.0


# ---------------------------------------------------------------------------
# output
# ---------------------------------------------------------------------------


def write_artifact(workload: str, seed: int, trace: bool, artifact: dict) -> str:
    os.makedirs(OUT, exist_ok=True)
    path = os.path.join(OUT, f"{workload}_seed{seed}_trace{int(trace)}.json")
    with open(path, "w") as f:
        json.dump(artifact, f, indent=1, sort_keys=True, default=str)
    return path


def read_artifact(workload: str, seed: int, trace: bool) -> dict | None:
    path = os.path.join(OUT, f"{workload}_seed{seed}_trace{int(trace)}.json")
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None
