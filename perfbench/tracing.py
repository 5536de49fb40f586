"""Tracing from outside the program: spans around calls into its modules,
Spark job metrics per operation, and host health.

Nothing here patches the program.  A span is recorded by the benchmark around
the library call it makes; an operation's Spark jobs are tagged with
``setJobGroup("bench:<workload>:<op>")`` and their stage metrics are read
back from the JVM status stores over py4j once the pass has ended.
"""

from __future__ import annotations

import os
import re
import time
from contextlib import contextmanager

# Physical operators that run Python workers: a stage whose operation graph
# holds one of them is a Python-crossing stage.
_PYTHON_NODE = re.compile(r'label="(\w*(?:Python|InPandas|InArrow)\w*)"')
_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
               "TiB": 1 << 40}
_PY_BYTES_METRICS = ("data sent to Python workers",
                     "data returned from Python workers")


class Tracer:
    """Spans (name, start, end, parent, op, pass) kept in memory."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.pass_id = 0
        self.op = None

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "pass": self.pass_id, "op": self.op,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time()}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()
            rec["dur_s"] = rec["end"] - rec["start"]

    def total(self, name: str, pass_id: int) -> float:
        return sum(s["dur_s"] for s in self.spans
                   if s["name"] == name and s["pass"] == pass_id)


def _seq(jseq):
    it = jseq.iterator()
    while it.hasNext():
        yield it.next()


def _size_bytes(formatted: str) -> float:
    """Total of a Spark size metric as rendered by the SQL status store
    (``"total (min, med, max ...)\\n1.5 MiB (...)"`` or ``"1.5 MiB"``)."""
    line = formatted.strip().splitlines()[-1]
    m = re.match(r"\s*([\d.,]+)\s*([KMGT]?i?B)", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SIZE_UNITS.get(m.group(2), 1)


def group_job_ids(sc, group: str) -> set[int]:
    return set(sc.statusTracker().getJobIdsForGroup(group))


def wait_for_jobs(sc, job_ids, timeout_s: float = 10.0) -> None:
    """The status store is fed asynchronously by the listener bus: wait until
    every job has ended before reading its metrics."""
    tracker = sc.statusTracker()
    deadline = time.time() + timeout_s
    pending = list(job_ids)
    while pending and time.time() < deadline:
        pending = [j for j in pending
                   if (info := tracker.getJobInfo(j)) is None
                   or info.status not in ("SUCCEEDED", "FAILED")]
        if pending:
            time.sleep(0.02)


def job_metrics(spark, job_ids, op_start: float, op_end: float) -> dict:
    """Stage metrics of the given jobs, summed, plus the union of the job
    intervals and the part of the op's wall time outside it."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    sql_store = spark._jsparkSession.sharedState().statusStore()
    graph = sc._jvm.org.apache.spark.ui.scope.RDDOperationGraph
    out = {k: 0.0 for k in (
        "spark.jobs", "spark.tasks", "spark.executor_run_s",
        "spark.executor_cpu_s", "spark.gc_s", "spark.shuffle_write_mb",
        "spark.shuffle_read_mb", "spark.spill_mb", "spark.input_mb",
        "spark.job_wall_s", "crossing.python_stage_s", "crossing.arrow_mb",
        "crossing.python_tasks")}
    intervals, sql_ids, seen_stages = [], set(), set()
    for jid in sorted(job_ids):
        pair = store.jobWithAssociatedSql(jid)
        job, sql_id = pair._1(), pair._2()
        out["spark.jobs"] += 1
        if job.submissionTime().isDefined() and job.completionTime().isDefined():
            intervals.append((job.submissionTime().get().getTime() / 1e3,
                              job.completionTime().get().getTime() / 1e3))
        if sql_id.isDefined():
            sql_ids.add(sql_id.get())
        for sid in _seq(job.stageIds()):
            if sid in seen_stages:
                continue
            seen_stages.add(sid)
            st = store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            run_s = st.executorRunTime() / 1e3
            out["spark.tasks"] += st.numTasks()
            out["spark.executor_run_s"] += run_s
            out["spark.executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["spark.gc_s"] += st.jvmGcTime() / 1e3
            out["spark.shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
            out["spark.shuffle_read_mb"] += st.shuffleReadBytes() / 1e6
            out["spark.spill_mb"] += (st.memoryBytesSpilled()
                                      + st.diskBytesSpilled()) / 1e6
            out["spark.input_mb"] += st.inputBytes() / 1e6
            dot = graph.makeDotFile(store.operationGraphForStage(sid))
            if _PYTHON_NODE.search(dot):
                out["crossing.python_stage_s"] += run_s
                out["crossing.python_tasks"] += st.numTasks()
    for eid in sql_ids:
        values = sql_store.executionMetrics(eid)
        for node in _seq(sql_store.planGraph(eid).allNodes()):
            if not _PYTHON_NODE.search(f'label="{node.name()}"'):
                continue
            for m in _seq(node.metrics()):
                if m.name() in _PY_BYTES_METRICS:
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        out["crossing.arrow_mb"] += _size_bytes(v.get()) / 1e6
    union = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                union += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        union += cur_e - cur_s
    out["spark.job_wall_s"] = union
    out["driver.outside_jobs_s"] = max(0.0, (op_end - op_start) - union)
    return out


def proc_stat() -> dict | None:
    """Host-wide CPU counters from the first line of /proc/stat."""
    try:
        with open("/proc/stat") as fh:
            vals = [int(x) for x in fh.readline().split()[1:9]]
    except OSError:
        return None
    return {"iowait": vals[4], "steal": vals[7], "total": sum(vals)}


@contextmanager
def host_health(into: dict):
    """Host steal/iowait share and the driver's system CPU time over a block
    (attribution only: a slow pass on a host in a steal episode is the
    host's, not the code's)."""
    s0, c0 = proc_stat(), os.times()
    try:
        yield
    finally:
        s1, c1 = proc_stat(), os.times()
        into["driver.sys_s"] = c1.system - c0.system
        if s0 and s1:
            dt = max(1, s1["total"] - s0["total"])
            into["host.steal_pct"] = 100.0 * (s1["steal"] - s0["steal"]) / dt
            into["host.iowait_pct"] = 100.0 * (s1["iowait"] - s0["iowait"]) / dt


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")
