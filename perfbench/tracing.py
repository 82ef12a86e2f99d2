"""Spans and counters for the traced run (``--trace 1``).

Nothing in the engine package is edited: the tracer wraps the public
functions of each layer from the outside (rebinding the module
attributes that callers look up) and opens a span around every call.
Each span carries the counters read at its boundaries; Spark jobs are
attributed to the innermost open span through the job group, and the
status store is read once per pass, between passes.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import sys
import time
from dataclasses import asdict, dataclass, field

PKG = "nrg_etl_airflow_spark_emr_spark"

#: (module, function) -> span name. The function is rebound wherever a
#: module of the package imported it by name.
WRAPPED = {
    ("sources.tables", "load_table"): "tables.load",
    ("sources.readers", "read_csv_table"): "readers.csv_read",
    ("sources.readers", "write_partitioned_parquet"): "readers.write",
    ("qc", "evaluate"): "qc.evaluate",
}


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    pass_index: int
    start: float  # time.time(), to line up with the status store's clock
    end: float = 0.0
    jit_ms: int = 0
    gc_ms: int = 0
    codegen: int = 0
    persisted_rdds: int = 0
    files: int = 0
    bytes: int = 0
    jobs: list[int] = field(default_factory=list)


def dir_footprint(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``; Hadoop's ``.crc`` side files
    and ``_SUCCESS`` markers are not data."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".crc") or n == "_SUCCESS":
                continue
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


class JvmCounters:
    """Cumulative JIT, GC and Janino counters of the driver JVM."""

    def __init__(self, spark):
        jvm = spark.sparkContext._jvm
        mf = jvm.java.lang.management.ManagementFactory
        self._comp = mf.getCompilationMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        self.pid = int(jvm.java.lang.ProcessHandle.current().pid())

    def read(self) -> tuple[int, int, int]:
        return (
            int(self._comp.getTotalCompilationTime()),
            sum(int(g.getCollectionTime()) for g in self._gcs),
            int(self._codegen.getCount()),
        )

    def peak_rss_mb(self) -> float:
        with open(f"/proc/{self.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from /proc status")


def tree_cpu_s() -> float:
    """User + system CPU seconds of this process and every live descendant
    (the JVM and the Python workers it forks), read from ``/proc``. Cycles
    the host steals from the guest are charged to no process."""
    root, parent, cpu = os.getpid(), {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while we looked
        parent[int(entry)] = int(fields[1])
        cpu[int(entry)] = int(fields[11]) + int(fields[12])
    total = 0
    for pid, ticks in cpu.items():
        p = pid
        while p not in (root, 0, 1) and p in parent:
            p = parent[p]
        if p == root:
            total += ticks
    return total / os.sysconf("SC_CLK_TCK")


def cpu_steal_s() -> float:
    """Cumulative steal time of the host, all CPUs (``/proc/stat``)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


class Tracer:
    """Span recorder. Disabled, every method is a no-op."""

    def __init__(self, spark, jvm: JvmCounters, enabled: bool):
        self.enabled = enabled
        self.sc = spark.sparkContext
        self.jvm = jvm
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self._restore: list[tuple[object, str, object]] = []
        self._next_job = 0
        self.pass_index = 0  # set by the run loop

    # -- spans ---------------------------------------------------------

    def _open(self, name: str) -> Span:
        parent = self.stack[-1].sid if self.stack else None
        s = Span(len(self.spans), name, parent, self.pass_index, time.time())
        s.jit_ms, s.gc_ms, s.codegen = (-x for x in self.jvm.read())
        self.spans.append(s)
        self.stack.append(s)
        self.sc.setJobGroup(str(s.sid), name)
        return s

    def _close(self, s: Span, footprint: str | None) -> None:
        j, g, c = self.jvm.read()
        s.jit_ms += j
        s.gc_ms += g
        s.codegen += c
        s.persisted_rdds = int(self.sc._jsc.getPersistentRDDs().size())
        if footprint and os.path.isdir(footprint):
            s.files, s.bytes = dir_footprint(footprint)
        s.end = time.time()
        self.stack.pop()
        if self.stack:
            self.sc.setJobGroup(str(self.stack[-1].sid), self.stack[-1].name)
        else:
            self.sc._jsc.clearJobGroup()

    @contextlib.contextmanager
    def span(self, name: str, footprint: str | None = None):
        if not self.enabled:
            yield
            return
        s = self._open(name)
        try:
            yield
        finally:
            self._close(s, footprint)

    # -- wrapping the package's layer functions ----------------------------

    def install(self) -> None:
        if not self.enabled:
            return
        import importlib

        for (mod_name, fn_name), span_name in WRAPPED.items():
            owner = importlib.import_module(f"{PKG}.{mod_name}")
            orig = getattr(owner, fn_name)
            wrapped = self._wrap(orig, span_name, writes=fn_name == "write_partitioned_parquet")
            for mod in list(sys.modules.values()):
                if (getattr(mod, "__name__", "") or "").startswith(PKG) and getattr(mod, fn_name, None) is orig:
                    self._restore.append((mod, fn_name, orig))
                    setattr(mod, fn_name, wrapped)

    def uninstall(self) -> None:
        for mod, name, orig in reversed(self._restore):
            setattr(mod, name, orig)
        self._restore.clear()

    def _wrap(self, fn, span_name: str, writes: bool):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            footprint = (kwargs.get("path") or args[1]) if writes else None
            with tracer.span(span_name, footprint):
                return fn(*args, **kwargs)

        return traced

    # -- status store --------------------------------------------------------

    def harvest(self) -> None:
        """Copy the jobs and stages that finished since the last call out
        of Spark's status store (call between passes, when none run)."""
        if not self.enabled:
            return
        store = self.sc._jsc.sc().statusStore()
        jobs = store.jobsList(None)
        new_stages: set[int] = set()
        for i in range(jobs.size()):
            jd = jobs.apply(i)
            jid = int(jd.jobId())
            if jid < self._next_job or jid in self.jobs:
                continue
            group = jd.jobGroup()
            sub, done = jd.submissionTime(), jd.completionTime()
            stage_ids = jd.stageIds()
            sids = [int(stage_ids.apply(k)) for k in range(stage_ids.size())]
            self.jobs[jid] = {
                "group": int(group.get()) if group.isDefined() else None,
                "start": sub.get().getTime() / 1000.0 if sub.isDefined() else None,
                "end": done.get().getTime() / 1000.0 if done.isDefined() else None,
                "stages": sids,
            }
            new_stages.update(sids)
        if self.jobs:
            self._next_job = max(self.jobs) + 1
        gw = self.sc._gateway
        stages = store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)
        for i in range(stages.size()):
            sd = stages.apply(i)
            sid = int(sd.stageId())
            if sid not in new_stages or sid in self.stages:
                continue
            if int(sd.numTasks()) == 0 and int(sd.numCompleteTasks()) == 0:
                continue  # skipped stage: its output was reused
            self.stages[sid] = {
                "tasks": int(sd.numCompleteTasks()),
                "input_bytes": int(sd.inputBytes()),
                "shuffle_write_bytes": int(sd.shuffleWriteBytes()),
                "spill_bytes": int(sd.memoryBytesSpilled()) + int(sd.diskBytesSpilled()),
            }
        for jid, j in self.jobs.items():
            if j["group"] is not None and jid not in self.spans[j["group"]].jobs:
                self.spans[j["group"]].jobs.append(jid)

    # -- reduction -------------------------------------------------------------

    def children(self) -> dict[int, list[Span]]:
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        return kids

    def self_time(self, s: Span, kids: dict[int, list[Span]]) -> float:
        """Duration minus the union of the child spans' intervals."""
        covered = _union([(c.start, c.end) for c in kids.get(s.sid, [])], s.start, s.end)
        return (s.end - s.start) - covered

    def subtree_jobs(self, s: Span, kids: dict[int, list[Span]]) -> list[int]:
        out = list(s.jobs)
        for c in kids.get(s.sid, []):
            out.extend(self.subtree_jobs(c, kids))
        return out

    def idle_s(self, s: Span, kids: dict[int, list[Span]]) -> float:
        """Span wall time during which none of its jobs was running."""
        iv = [
            (self.jobs[j]["start"], self.jobs[j]["end"])
            for j in self.subtree_jobs(s, kids)
            if self.jobs[j]["start"] is not None and self.jobs[j]["end"] is not None
        ]
        return (s.end - s.start) - _union(iv, s.start, s.end)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {"spans": [asdict(s) for s in self.spans], "jobs": self.jobs, "stages": self.stages},
                f,
            )


def _union(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
