"""Spans and counters taken from outside the program.

A :class:`Tracer` records one span per layer call (name, start, end,
parent span, operation id). Spans that run Spark work also carry the
counters Spark keeps for that work:

* jobs, stages and tasks of the span's own job group (``statusTracker``);
* task run/CPU time, shuffle bytes and spill summed over those stages
  (the live application status store, which folds every task-end event).

Operation spans carry JVM deltas:

* codegen compiles (``CodegenMetrics.METRIC_COMPILATION_TIME`` count —
  an exact count; its time histogram decays, so no time is derived);
* GC time and count from the JVM's GC MXBeans.

With ``enabled=False`` every span is a bare context manager, so the
untraced run pays nothing for the instrumentation it does not use.
"""

from __future__ import annotations

import itertools
import resource
import time
from collections import defaultdict
from contextlib import contextmanager

MB = 1024 * 1024


class SparkProbe:
    """Cheap py4j reads of the counters the Spark JVM already keeps."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self._store = self.sc._jsc.sc().statusStore()
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        self._no_status = jvm.java.util.ArrayList()
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics
        self._mf = jvm.java.lang.management.ManagementFactory
        self.jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())

    def compiles(self) -> int:
        return int(self._codegen.METRIC_COMPILATION_TIME().getCount())

    def gc(self) -> tuple[float, int]:
        """(seconds, collections) summed over the JVM's collectors."""
        t = n = 0
        it = self._mf.getGarbageCollectorMXBeans().iterator()
        while it.hasNext():
            bean = it.next()
            t += max(0, bean.getCollectionTime())
            n += max(0, bean.getCollectionCount())
        return t / 1000.0, n

    def persisted(self) -> tuple[int, float]:
        """(persisted RDDs, MB they hold in memory and on disk)."""
        n = int(self._jsc_persistent().size())
        mb = sum(
            (i.memSize() + i.diskSize()) for i in self.sc._jsc.sc().getRDDStorageInfo()
        ) / MB
        return n, mb

    def sweep(self) -> None:
        """Unpersist everything still persisted (as ``bench.py`` does), so
        one operation's leftovers do not slow the next."""
        jmap = self._jsc_persistent()
        for rid in list(jmap.keySet().toArray()):
            jrdd = jmap.get(rid)
            if jrdd is not None:
                jrdd.unpersist(False)

    def _jsc_persistent(self):
        return self.sc._jsc.getPersistentRDDs()

    def group_counters(self, group: str) -> dict[str, float]:
        """Jobs, stages, tasks and folded task metrics of one job group."""
        tracker = self.sc.statusTracker()
        out = defaultdict(float)
        for job_id in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            out["jobs"] += 1
            for stage_id in info.stageIds:
                found = self._store.stageData(
                    stage_id, False, self._no_status, False, self._no_quantiles
                )
                if found.isEmpty():
                    continue
                sd = found.head()
                if str(sd.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                out["failed_tasks"] += sd.numFailedTasks()
                out["task_run_s"] += sd.executorRunTime() / 1e3
                out["task_cpu_s"] += sd.executorCpuTime() / 1e9
                out["shuffle_read_mb"] += sd.shuffleReadBytes() / MB
                out["shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
                out["spill_mb"] += (
                    sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                ) / MB
        return dict(out)

    def peak_rss_gb(self) -> float:
        """Peak resident memory of the Spark JVM plus this Python process."""
        jvm_kb = 0
        with open(f"/proc/{self.jvm_pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return (jvm_kb + py_kb) / (1024 * 1024)


class Tracer:
    """In-memory spans; counters on spans that run Spark work."""

    def __init__(self, probe: SparkProbe, enabled: bool) -> None:
        self.probe = probe
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count()
        self.op_id: str | None = None
        self.pass_no = 0

    @contextmanager
    def span(self, name: str, spark_work: bool = False, jvm: bool = False, **attrs):
        """Record ``name`` around the block. ``spark_work`` puts the
        block's Spark jobs in a job group of their own and folds that
        group's counters into the span; ``jvm`` adds codegen compiles and
        GC deltas over the block."""
        if not self.enabled:
            yield None
            return
        sid = next(self._ids)
        sc = self.probe.sc
        group = f"perfbench-{sid}"
        if spark_work:
            sc.setJobGroup(group, name)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "op": self.op_id,
            "pass": self.pass_no,
            **attrs,
        }
        if jvm:
            c0, g0 = self.probe.compiles(), self.probe.gc()
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if spark_work:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
                rec["counters"] = self.probe.group_counters(group)
            if jvm:
                g1 = self.probe.gc()
                rec["compiles"] = self.probe.compiles() - c0
                rec["gc_s"], rec["gc_count"] = g1[0] - g0[0], g1[1] - g0[1]
            self.spans.append(rec)

    def note(self, **counts: float) -> None:
        """Add counts to the innermost open span."""
        if self.enabled and self._stack:
            notes = self._stack[-1].setdefault("notes", {})
            for k, v in counts.items():
                notes[k] = notes.get(k, 0) + v
