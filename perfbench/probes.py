"""Layer probes, installed from outside the program.

The benchmark does not change the engine. It replaces module attributes
with wrappers that open a span around each call into a layer:

    session  configure
    sources  loaders.load_table and the household CSV loaders
    sinks    sinks.run_dir and the sinks.* writers, plus DataFrameWriter
             save methods (plans also write with ``df.write`` directly)

Plan modules bind ``load_table`` and ``run_dir`` when they are imported,
so :func:`install` refuses to run after ``bigdata_electricity_spark.plans``
is loaded: wrappers installed later would be silently bypassed.

Untraced runs install no wrappers. ``run_dir`` is redirected in every
run, traced or not: the engine's version hard-codes a directory outside
the benchmark's checkout, and prunes sibling directories there.
"""

from __future__ import annotations

import contextlib
import functools
import os
import sys
import threading
import time

LOADERS = ("load_table", "load_household_raw", "load_household_typed")
SINK_FUNCTIONS = (
    "save_single_csv", "write_parquet", "write_bucketed_table",
    "export_corpus", "compact_parquet", "export_jsonl",
)
WRITER_METHODS = ("save", "saveAsTable", "insertInto", "parquet", "orc", "json", "csv", "text")


class Tracer:
    """Spans kept in memory; written out by the caller when the run ends.

    A span is ``{"name", "layer", "iteration", "parent", "start", "end",
    "jobs"}``: ``parent`` is the index of the enclosing span, ``iteration``
    names the pass and entry it belongs to, and ``jobs`` counts the Spark
    jobs started while it was open.
    """

    def __init__(self) -> None:
        self.enabled = False
        self.iteration = "setup"
        self.spans: list[dict] = []
        self.handed_dirs: list[str] = []
        self.next_job = lambda: 0
        self._open: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        jobs_before = self.next_job()
        rec = {
            "name": name, "layer": layer, "iteration": self.iteration,
            "parent": self._open[-1] if self._open else None,
            "start": time.perf_counter(), "end": None, "jobs": 0,
        }
        self.spans.append(rec)
        self._open.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()
            rec["jobs"] = self.next_job() - jobs_before

    def wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name, layer):
                return fn(*args, **kwargs)

        return wrapper


def install(tracer: Tracer, warehouse: str, trace: bool) -> None:
    """Redirect ``run_dir`` into ``warehouse`` and, when ``trace`` is set,
    wrap the layer entry points. Must precede the first plans import."""
    if "bigdata_electricity_spark.plans" in sys.modules:
        raise RuntimeError("probes must be installed before bigdata_electricity_spark.plans is imported")
    from pyspark.sql.readwriter import DataFrameWriter

    import bigdata_electricity_spark.sources as sources
    from bigdata_electricity_spark import session
    from bigdata_electricity_spark.sources import loaders, sinks

    def run_dir(entry: str, sf_dir: str) -> str:
        path = os.path.join(warehouse, f"{entry}_pid{os.getpid()}")
        tracer.handed_dirs.append(path)
        return path

    if not trace:
        sinks.run_dir = run_dir
        return
    sinks.run_dir = tracer.wrap(run_dir, "run_dir", "sinks")

    configure = tracer.wrap(session.configure, "configure", "session")
    session.configure = configure
    loaders.configure = configure

    for name in LOADERS:
        wrapped = tracer.wrap(getattr(loaders, name), name, "sources")
        setattr(loaders, name, wrapped)
        setattr(sources, name, wrapped)

    for name in SINK_FUNCTIONS:
        setattr(sinks, name, tracer.wrap(getattr(sinks, name), name, "sinks"))
    sources.save_single_csv = sinks.save_single_csv
    for name in WRITER_METHODS:
        setattr(DataFrameWriter, name,
                tracer.wrap(getattr(DataFrameWriter, name), f"write.{name}", "sinks"))


class SparkStats:
    """Read-only views of one SparkContext's scheduler and status store.

    The status store is fed by the listener bus, so :meth:`stages` first
    waits for the bus to drain. Works with the UI disabled.
    """

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._spark = spark
        self._jsc = sc._jsc.sc()
        self._dag = self._jsc.dagScheduler()
        self._store = self._jsc.statusStore()
        gw = sc._gateway
        self._no_status = gw.jvm.java.util.ArrayList()
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)

    def next_job(self) -> int:
        return self._dag.nextJobId()

    def next_stage(self) -> int:
        return self._dag.nextStageId()

    def stages(self, first: int, end: int) -> dict[str, float]:
        """Sum the task metrics of stage ids ``first .. end-1``."""
        from py4j.protocol import Py4JJavaError

        self._jsc.listenerBus().waitUntilEmpty()
        out = dict(stages=0, tasks=0, failed_tasks=0, executor_run_s=0.0,
                   executor_cpu_s=0.0, shuffle_read_bytes=0,
                   shuffle_write_bytes=0, spill_bytes=0)
        for sid in range(first, end):
            try:
                attempts = self._store.stageData(sid, False, self._no_status, False, self._no_quantiles)
            except Py4JJavaError:  # id consumed by a stage that never registered
                continue
            for i in range(attempts.length()):
                st = attempts.apply(i)
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                out["failed_tasks"] += st.numFailedTasks()
                out["executor_run_s"] += st.executorRunTime() / 1e3
                out["executor_cpu_s"] += st.executorCpuTime() / 1e9
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out

    def retained_storage(self) -> tuple[int, int]:
        """(cached RDDs, bytes they hold in memory and on disk)."""
        infos = self._jsc.getRDDStorageInfo()
        return len(infos), sum(i.memSize() + i.diskSize() for i in infos)

    def confs_unapplied(self, confs: dict[str, str]) -> int:
        return sum(self._spark.conf.get(k, None) != v for k, v in confs.items())

    @staticmethod
    def catalyst_ms(df) -> dict[str, int]:
        """Phase durations from the DataFrame's own QueryPlanningTracker."""
        phases = df._jdf.queryExecution().tracker().phases().iterator()
        out = {}
        while phases.hasNext():
            kv = phases.next()
            out[kv._1()] = kv._2().durationMs()
        return out


def dir_usage(paths: list[str]) -> tuple[int, int]:
    """(data files, bytes) under ``paths``, without checksums and markers."""
    files = size = 0
    for top in set(paths):
        for root, _, names in os.walk(top):
            for n in names:
                if n.startswith(".") or n.startswith("_"):
                    continue
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine since boot, from /proc/stat.

    Steal is time the hypervisor gave this machine's CPUs to someone
    else: the share of a run it covers explains run-to-run spread."""
    with open("/proc/stat") as fh:
        ticks = [int(v) for v in fh.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


def process_tree(root: int) -> dict[int, int]:
    """Resident bytes of ``root`` and of each of its descendants, by pid."""
    page = os.sysconf("SC_PAGE_SIZE")
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as fh:
                fields = fh.read().rsplit(b")", 1)[1].split()
        except OSError:  # exited between listdir and open
            continue
        pid = int(d)
        children.setdefault(int(fields[1]), []).append(pid)
        rss[pid] = int(fields[21]) * page
    tree, todo = {}, [root]
    while todo:
        pid = todo.pop()
        tree[pid] = rss.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return tree


def alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            return fh.read().rsplit(b")", 1)[1].split()[0] != b"Z"
    except OSError:
        return False


class PeakRss(threading.Thread):
    """Samples the process tree's RSS every ``interval`` seconds."""

    def __init__(self, interval: float = 0.5) -> None:
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self._stop_event = threading.Event()

    def run(self) -> None:
        pid = os.getpid()
        while True:
            self.peak = max(self.peak, sum(process_tree(pid).values()))
            if self._stop_event.wait(self.interval):
                return

    def stop(self) -> int:
        self._stop_event.set()
        self.join()
        return self.peak
