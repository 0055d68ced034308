"""Shared plumbing for the benchmark legs: paths, the Spark session at
local[nproc], a /proc RSS sampler, in-memory spans and the driver's
monitoring REST API."""

from __future__ import annotations

import json
import math
import os
import shlex
import shutil
import statistics
import threading
import time
import urllib.request
from contextlib import contextmanager

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(BENCH_DIR, "_work")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def cpu_ticks() -> dict:
    """Host-wide CPU time split from /proc/stat (in clock ticks)."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return {"busy": f[0] + f[1] + f[2] + f[5] + f[6], "idle": f[3] + f[4],
            "steal": f[7] if len(f) > 7 else 0}


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def quantile(xs, q):
    """Nearest-rank quantile (q in (0, 1])."""
    if not xs:
        return float("nan")
    return sorted(xs)[max(0, math.ceil(q * len(xs)) - 1)]


def prune(parent: str, prefix: str, keep: int) -> None:
    """Delete all but the ``keep`` most recently modified entries of
    ``parent`` whose name starts with ``prefix`` (bounded disk use for
    the per-seed caches and outputs)."""
    if not os.path.isdir(parent):
        return
    entries = sorted((e for e in os.scandir(parent)
                      if e.name.startswith(prefix)),
                     key=lambda e: e.stat().st_mtime, reverse=True)
    for e in entries[keep:]:
        shutil.rmtree(e.path, ignore_errors=True)


def start_spark(app: str, cores: int):
    """The program's own session factory at local[cores], with every
    scratch path inside the benchmark's work directory."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    # no hsperfdata files from the spark-submit launcher JVM either
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "20000",
        "spark.ui.retainedStages": "20000",
        "spark.sql.ui.retainedExecutions": "20000",
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.driver.extraJavaOptions":
            "-XX:-UsePerfData -Djava.io.tmpdir=" + tmp,
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        "--conf " + shlex.quote("%s=%s" % kv) for kv in confs.items()
    ) + " pyspark-shell"
    from rdf_rdfa_spark.pipeline.session import get_spark

    spark = get_spark(app_name=app, cores=cores)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    worker daemon) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


class RssSampler:
    """Peak summed RSS of this process's descendants (the driver JVM,
    the Python worker daemon and its workers), sampled from /proc."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _sample(self) -> int:
        parent = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open("/proc/%s/stat" % name) as fh:
                    stat = fh.read()
            except OSError:
                continue
            # field 4 (ppid) follows the parenthesised command name
            parent[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
        me = os.getpid()
        total = 0
        for pid in parent:
            p, seen = parent.get(pid), 0
            while p and p != me and seen < 64:
                p, seen = parent.get(p), seen + 1
            if p != me:
                continue
            try:
                with open("/proc/%d/statm" % pid) as fh:
                    total += int(fh.read().split()[1]) * self._page
            except OSError:
                pass
        return total

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, self._sample())
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, self._sample())


@contextmanager
def job_group(spark, name: str):
    """Tag the Spark jobs started inside with job group ``name`` (and
    restore the enclosing group after), so the REST metrics can be
    attributed to the call that ran them."""
    sc = spark.sparkContext
    outer = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(name, name)
    try:
        yield
    finally:
        if outer:
            sc.setJobGroup(outer, outer)
        else:
            for key in ("spark.jobGroup.id", "spark.job.description"):
                sc.setLocalProperty(key, None)


class Tracer:
    """Spans from the benchmark's own code around each call into a
    layer, kept in memory and written once at exit.  When disabled,
    ``span`` only runs the body."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list = []
        self._stack: list = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"name": name, "parent": self._stack[-1]["id"]
               if self._stack else None, "id": len(self.spans), **attrs}
        self.spans.append(rec)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


class SparkRest:
    """The driver's localhost monitoring REST API (read after the
    measured work, so polling never overlaps a timed region)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = "http://localhost:%s/api/v1/applications/%s" % (
            port, sc.applicationId)

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=60) as r:
            return json.load(r)

    def snapshot(self) -> dict:
        """jobs, stages (by id) and SQL executions."""
        jobs = self.get("/jobs")
        stages = {}
        for st in self.get("/stages"):
            stages[(st["stageId"], st["attemptId"])] = st
        sql = self.get("/sql?details=true&planDescription=false"
                       "&offset=0&length=100000")
        return {"jobs": jobs, "stages": stages, "sql": sql}

    def task_durations(self, stage_id: int, attempt: int = 0) -> list:
        tasks = self.get("/stages/%d/%d/taskList?length=100000"
                         % (stage_id, attempt))
        return [t.get("duration", 0) for t in tasks]


def group_jobs(snap: dict, group: str) -> list:
    return [j for j in snap["jobs"] if j.get("jobGroup") == group]


def stage_totals(snap: dict, jobs: list) -> dict:
    """Summed stage metrics over the stages of ``jobs`` (each stage
    counted once; skipped stages carry zero tasks)."""
    ids = {sid for j in jobs for sid in j.get("stageIds", ())}
    tot = {"tasks": 0, "run_ms": 0, "gc_ms": 0, "shuffle_write": 0,
           "spill": 0}
    for (sid, _att), st in snap["stages"].items():
        if sid not in ids or st.get("status") == "SKIPPED":
            continue
        tot["tasks"] += st.get("numCompleteTasks", 0)
        tot["run_ms"] += st.get("executorRunTime", 0)
        tot["gc_ms"] += st.get("jvmGcTime", 0)
        tot["shuffle_write"] += st.get("shuffleWriteBytes", 0)
        tot["spill"] += (st.get("memoryBytesSpilled", 0)
                         + st.get("diskBytesSpilled", 0))
    return tot


def spark_layer_metrics(snap: dict, jobs: list, wall_s: float,
                        cores: int) -> dict:
    tot = stage_totals(snap, jobs)
    return {
        "spark.jobs": len(jobs),
        "spark.tasks": tot["tasks"],
        "spark.busy_ratio": (tot["run_ms"] / 1000.0) / (wall_s * cores)
        if wall_s > 0 else 0.0,
        "spark.shuffle_write_bytes": tot["shuffle_write"],
        "spark.spill_bytes": tot["spill"],
        "spark.gc_s": tot["gc_ms"] / 1000.0,
    }


def sql_scan_metrics(snap: dict, job_ids: set) -> dict:
    """Files read and rows output by the scan nodes of the SQL
    executions that ran ``job_ids``."""
    files = rows = 0
    for ex in snap["sql"]:
        ran = set(ex.get("successJobIds", ())) | set(
            ex.get("failedJobIds", ())) | set(ex.get("runningJobIds", ()))
        if not ran & job_ids:
            continue
        for node in ex.get("nodes", ()):
            if not node.get("nodeName", "").startswith("Scan parquet"):
                continue
            for m in node.get("metrics", ()):
                val = str(m.get("value", "")).split("\n")[0]
                val = val.replace(",", "").split(" ")[0]
                if not val.replace(".", "").isdigit():
                    continue
                if m["name"] == "number of files read":
                    files += int(float(val))
                elif m["name"] == "number of output rows":
                    rows += int(float(val))
    return {"files": files, "rows": rows}
