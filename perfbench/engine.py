"""Session set-up and engine-side counters for the benchmark.

- ``host_settings``/``build``: the engine's own ``build_session`` sized
  from the host, with every scratch directory inside the work directory;
- ``stage_totals``: Spark's status-store stage list, summed, so a
  before/after difference scopes the counters to one workload;
- ``job_group``/``group_stages``: the stages of the jobs one call ran;
- ``ProcTree``: ``/proc`` CPU and resident memory of this process, the
  JVM it launched and the ``pyspark.daemon`` worker tree;
- ``progress_listener``: a ``StreamingQueryListener`` that keeps every
  progress event (``query.recentProgress`` keeps only the last 100).
"""

from __future__ import annotations

import contextlib
import os
import signal
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


def host_settings(work: str) -> dict:
    """Engine settings resolved from the host, recorded in every result."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = {l.split(":")[0]: int(l.split()[1]) for l in f}
    # a quarter of physical memory, at most 4 GiB: the machine is shared
    heap_mb = min(4096, mem_kb["MemTotal"] // 4096)
    return {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_SHUFFLE_PARTITIONS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        # every JVM, the launcher's too: temp files inside the work directory
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }


def apply_host_settings(settings: dict) -> None:
    for k, v in settings.items():
        os.environ[k] = v
    for k in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(settings[k], exist_ok=True)


def build(work: str):
    """A SparkSession from the engine's factory; the status store keeps
    enough stages for a whole run to be diffed."""
    from flink_streaming_twitter_spark.session import build_session

    tmp = os.environ["TMPDIR"]
    return build_session(
        app_name="perfbench",
        extra_conf={
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedJobs": "100000",
            "spark.sql.ui.retainedExecutions": "1000",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Dderby.system.home={tmp}",
        },
    )


def stop(spark) -> None:
    """Stop the session and the JVM it launched, and wait until every
    process started under this one (JVM, Python workers) has ended."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.terminate()
            proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    tree = ProcTree()
    deadline = time.monotonic() + 20
    while True:
        left = [p for p in tree.snapshot() if p != tree.root]
        if not left:
            return
        if time.monotonic() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5
        time.sleep(0.1)


# ----------------------------------------------------------- status store

STAGE_FIELDS = {
    "tasks": "numCompleteTasks",
    "task_cpu_s": "executorCpuTime",  # ns
    "executor_run_s": "executorRunTime",  # ms
    "gc_s": "jvmGcTime",  # ms
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "memory_spill": "memoryBytesSpilled",
    "disk_spill": "diskBytesSpilled",
}
_SCALE = {"task_cpu_s": 1e-9, "executor_run_s": 1e-3, "gc_s": 1e-3}


def stage_totals(spark) -> dict:
    """Sum of every completed stage attempt in the status store: stage
    count, tasks, task CPU, run time, GC, shuffle bytes and spill. Uses
    the five-argument ``stageList`` call Py4J needs."""
    sc = spark.sparkContext
    jvm = sc._jvm
    stages = sc._jsc.sc().statusStore().stageList(
        jvm.java.util.ArrayList(), False, False, sc._gateway.new_array(jvm.double, 0),
        jvm.java.util.ArrayList(),
    )
    out = dict.fromkeys(["stages", *STAGE_FIELDS], 0.0)
    for i in range(stages.size()):
        s = stages.apply(i)
        if str(s.status()) != "COMPLETE":
            continue
        out["stages"] += 1
        for k, attr in STAGE_FIELDS.items():
            out[k] += getattr(s, attr)() * _SCALE.get(k, 1)
    return out


@contextlib.contextmanager
def job_group(spark, group: str):
    """Tag the jobs this thread starts inside the block with ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        for k in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(k, None)


def group_stages(spark, group: str) -> int:
    """Stages that ran tasks in the jobs of ``group`` (skipped stages,
    whose shuffle output was reused, are not counted)."""
    st = spark.sparkContext.statusTracker()
    ids = {s for j in st.getJobIdsForGroup(group) for s in st.getJobInfo(j).stageIds}
    infos = (st.getStageInfo(s) for s in ids)
    return sum(1 for i in infos if i is not None and i.numCompletedTasks > 0)


def stage_diff(before: dict, after: dict) -> dict:
    d = {k: after[k] - before[k] for k in after}
    d["spill_bytes"] = d.pop("memory_spill") + d.pop("disk_spill")
    return d


# ------------------------------------------------------------------ /proc


def _stat(pid: int):
    """(ppid, cpu seconds incl. reaped children, rss bytes) or None."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2 :].split()
    ticks = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return int(fields[1]), ticks / CLK_TCK, int(fields[21]) * PAGE


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


RSS_SAMPLE_S = 0.2


class ProcTree:
    """CPU and RSS of this process and all its descendants. A sampler
    thread keeps the peak resident set while ``start()``..``stop()``."""

    def __init__(self):
        self.root = os.getpid()
        self.peak_rss = 0
        self._stop = threading.Event()
        self._thread = None

    def snapshot(self) -> dict:
        """pid -> (cpu_s, rss_bytes, is_python_worker) for the tree."""
        stats = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    stats[int(name)] = st
        tree, frontier = {}, [self.root]
        children: dict[int, list[int]] = {}
        for pid, (ppid, _, _) in stats.items():
            children.setdefault(ppid, []).append(pid)
        while frontier:
            pid = frontier.pop()
            if pid in stats and pid not in tree:
                _, cpu, rss = stats[pid]
                tree[pid] = (cpu, rss, "pyspark.daemon" in _cmdline(pid))
                frontier.extend(children.get(pid, ()))
        return tree

    def _run(self):
        while not self._stop.wait(RSS_SAMPLE_S):
            rss = sum(v[1] for v in self.snapshot().values())
            self.peak_rss = max(self.peak_rss, rss)

    def start(self) -> dict:
        snap = self.snapshot()
        self.peak_rss = sum(v[1] for v in snap.values())
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)
        self._thread.start()
        return snap

    def stop(self, before: dict) -> dict:
        self._stop.set()
        self._thread.join(timeout=5)
        after = self.snapshot()
        self.peak_rss = max(self.peak_rss, sum(v[1] for v in after.values()))
        cpu = py = 0.0
        for pid, (c, _, is_py) in after.items():
            d = c - before[pid][0] if pid in before else c
            cpu += d
            py += d if is_py else 0.0
        return {"cpu_s": cpu, "python_cpu_s": py, "peak_rss_mb": self.peak_rss / 2**20}


def steal_s() -> float:
    """Host-wide steal seconds so far (all CPUs), context only."""
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return int(cpu[8]) / CLK_TCK


# ------------------------------------------------------- stream progress


def progress_listener(log: list):
    """A StreamingQueryListener that appends every progress event as a
    plain dict to ``log`` (list.append is atomic under the GIL)."""
    import json

    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = json.loads(event.progress.json)
            p["_received"] = time.perf_counter()
            log.append(p)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return ProgressLog()
