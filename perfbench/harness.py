"""Process-level plumbing for the benchmark: work directories, a Spark
session sized to this machine, package shipping, /proc sampling of the
JVM and its Python workers, span tracing, and clean shutdown."""

from __future__ import annotations

import json
import os
import shutil
import signal
import threading
import time
import uuid
import zipfile
from contextlib import contextmanager

PAGE = os.sysconf("SC_PAGE_SIZE")
TICK = os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_available_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) // 1024
    return 4096


class Workdir:
    """Everything a run writes lives under <repo>/.perfbench: the input
    cache (kept across runs) and one scratch directory per run (removed
    at exit)."""

    def __init__(self, repo: str):
        self.root = os.path.join(repo, ".perfbench")
        self.run = os.path.join(self.root, "runs", uuid.uuid4().hex[:12])
        self.traces = os.path.join(self.root, "traces")
        self.tmp = os.path.join(self.run, "tmp")
        for d in (self.run, self.tmp, self.traces):
            os.makedirs(d, exist_ok=True)
        # the py4j launcher and any library temp files stay inside the repo
        os.environ["TMPDIR"] = self.tmp
        import tempfile

        tempfile.tempdir = self.tmp
        self._n = 0

    def fresh(self, name: str) -> str:
        self._n += 1
        return os.path.join(self.run, f"{name}-{self._n}")

    def cleanup(self) -> None:
        shutil.rmtree(self.run, ignore_errors=True)


def package_zip(repo: str, dest: str) -> str:
    """Zip the fuzi_spark package, as --py-files would ship it."""
    path = os.path.join(dest, "fuzi_spark.zip")
    src = os.path.join(repo, "fuzi_spark")
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for root, dirs, files in os.walk(src):
            dirs[:] = [d for d in dirs if d != "__pycache__"]
            for f in files:
                if f.endswith(".py"):
                    p = os.path.join(root, f)
                    z.write(p, os.path.relpath(p, repo))
    return path


def spark_conf(cores: int, wd: Workdir, event_log: bool) -> dict:
    # The heap is bounded (the workloads need far less) and committed and
    # touched up front, so peak RSS tracks the Python workers and the JVM's
    # native memory instead of when the collector happened to grow the heap.
    mem_mb = max(512, min(1024, mem_available_mb() // 8))
    local = os.path.join(wd.run, "spark-local")
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    # no /tmp/hsperfdata_* from spark-submit's launcher JVM either
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    conf = {
        "spark.master": f"local[{cores}]",
        "spark.app.name": "perfbench",
        "spark.driver.memory": f"{mem_mb}m",
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={wd.tmp} -XX:-UsePerfData -Xms{mem_mb}m -XX:+AlwaysPreTouch"
        ),
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(wd.run, "warehouse"),
        "spark.sql.shuffle.partitions": str(2 * cores),
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true" if event_log else "false",
    }
    if event_log:
        logdir = os.path.join(wd.run, "eventlog")
        os.makedirs(logdir, exist_ok=True)
        conf["spark.eventLog.dir"] = "file://" + logdir
        conf["spark.eventLog.compress"] = "false"
    return conf


def start_spark(cores: int, wd: Workdir, event_log: bool = False):
    from pyspark.sql import SparkSession

    b = SparkSession.builder
    for k, v in spark_conf(cores, wd, event_log).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    from pyspark.sql import SparkSession

    spark.stop()
    SparkSession._instantiatedSession = None
    SparkSession._activeSession = None


def shutdown_jvm() -> None:
    """Stop the py4j gateway JVM and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=20)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None


# ------------------------------------------------------------------ /proc


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_and_cpu(pid: int):
    try:
        with open(f"/proc/{pid}/statm") as f:
            rss = int(f.read().split()[1]) * PAGE
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
        fields = stat[stat.rfind(")") + 2 :].split()
        cpu = (int(fields[11]) + int(fields[12])) / TICK
        return rss, cpu, stat[stat.find("(") + 1 : stat.rfind(")")]
    except (OSError, IndexError, ValueError):
        return None


class ProcSampler:
    """Samples the summed RSS and CPU time of every process this one
    started (the JVM and, through it, the Python workers) while active."""

    def __init__(self, interval: float = 0.05):
        self.interval = interval
        self.peak_rss = 0
        self.peak_jvm_rss = 0
        self._cpu_first: dict[int, float] = {}
        self._cpu_last: dict[int, float] = {}
        self._stop = threading.Event()
        self._thread = None

    def _sample(self):
        total = jvm = 0
        for pid in descendants(os.getpid()):
            got = _rss_and_cpu(pid)
            if got is None:
                continue
            rss, cpu, comm = got
            # a clone the JVM makes to spawn a worker shares the JVM's pages
            # and carries the spawning thread's name: not a process of its own
            if comm != "java" and not comm.startswith("python"):
                continue
            total += rss
            if comm == "java":
                jvm += rss
            self._cpu_first.setdefault(pid, cpu)
            self._cpu_last[pid] = cpu
        self.peak_rss = max(self.peak_rss, total)
        self.peak_jvm_rss = max(self.peak_jvm_rss, jvm)

    def _loop(self):
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self):
        self._sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()

    @property
    def cpu_s(self) -> float:
        return sum(self._cpu_last[p] - self._cpu_first[p] for p in self._cpu_last)


def reap_descendants(timeout: float = 20.0) -> None:
    """Kill whatever this process started that is still alive and wait
    until each has ended (the Python daemon outlives the JVM briefly)."""
    deadline = time.time() + timeout
    sig = signal.SIGTERM
    while True:
        left = descendants(os.getpid())
        if not left:
            return
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        for pid in left:  # reap direct children
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        if time.time() > deadline:
            if sig == signal.SIGKILL:
                return
            sig = signal.SIGKILL
            deadline = time.time() + 5
        time.sleep(0.1)


# ------------------------------------------------------------------ tracing


class Tracer:
    """In-memory spans: name, start, end, parent, run id. Written out once,
    at exit. A disabled tracer records nothing and costs one branch."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.sc = None  # when set, each span also labels its Spark jobs

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        prev = None
        if self.sc is not None:
            prev = self.sc.getLocalProperty("spark.job.description")
            self.sc.setJobDescription(f"{name}#{sid}")
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                self.sc.setJobDescription(prev)

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus time covered by children."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is not None:
                out[s["name"]] = out.get(s["name"], 0.0) + (
                    s["end"] - s["start"] - child[s["id"]]
                )
        return out

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans, **extra}, f, indent=1)
