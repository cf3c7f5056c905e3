"""Layer readers: everything is read from outside the engine.

* ``ProcTree``: CPU-seconds and RSS of the driver process, the JVM and the
  ``pyspark.daemon`` tree, from ``/proc``; host steal from ``/proc/stat``.
* ``spark_counters``: job, stage and task counts and stage metrics of one
  job group, from ``SparkContext.statusTracker()`` and the JVM's
  ``AppStatusStore`` (works with ``spark.ui.enabled=false``).
* ``catalyst_phases``: the Catalyst phase tracker of a query execution.
* ``python_boundary_nodes``: Python-boundary operators in an executed plan.
"""

from __future__ import annotations

import os
import re

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")

# Physical operators that hand rows to Python workers (pandas/Arrow UDFs,
# mapInPandas/mapInArrow, grouped-map and UDTF evaluation).
_PY_NODE = re.compile(
    r"\b(?:ArrowEvalPython\w*|BatchEvalPython\w*|MapInArrow|MapInPandas|"
    r"PythonMapInArrow|FlatMapGroupsIn\w+|FlatMapCoGroupsIn\w+|"
    r"AggregateInPandas|ArrowAggregatePython|WindowInPandas|"
    r"ArrowWindowPython)\b"
)


def host_cpu() -> tuple[int, int]:
    """(steal ticks, total ticks) of the whole host since boot."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal (guest* already in user)
    return vals[7], sum(vals[:8])


def steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


def _stat(pid: int) -> tuple[int, int, int] | None:
    """(ppid, cpu ticks incl. reaped children, rss pages) or None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces: split after its closing paren
    fields = raw[raw.rindex(")") + 2:].split()
    ppid = int(fields[1])
    ticks = sum(int(v) for v in fields[11:15])  # utime stime cutime cstime
    return ppid, ticks, int(fields[21])


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


class ProcTree:
    """CPU and memory of the benchmark's process tree, split by role.

    Roles: ``driver`` (this Python process), ``jvm`` (the Spark gateway
    JVM) and ``python`` (the ``pyspark.daemon`` process and its workers).
    A live process's own time plus the time of the children it has reaped
    counts every CPU-second of the tree exactly once.
    """

    def __init__(self, jvm_pid: int):
        self.driver = os.getpid()
        self.jvm = jvm_pid

    def _walk(self) -> dict[int, tuple[str, int, int]]:
        procs = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                st = _stat(int(d))
                if st is not None:
                    procs[int(d)] = st
        roles: dict[int, str | None] = {}
        out = {}
        for pid, (ppid, ticks, rss) in procs.items():
            role = self._role(pid, procs, roles)
            if role is not None:
                out[pid] = (role, ticks, rss)
        return out

    def _role(self, pid, procs, roles) -> str | None:
        if pid not in roles:
            if pid == self.driver:
                roles[pid] = "driver"
            elif pid == self.jvm:
                roles[pid] = "jvm"
            else:
                ppid = procs[pid][0]
                parent = self._role(ppid, procs, roles) if ppid in procs else None
                if parent == "jvm" and "pyspark.daemon" in _cmdline(pid):
                    roles[pid] = "python"
                else:
                    roles[pid] = parent
        return roles[pid]

    def sample(self) -> dict[str, float]:
        """CPU-seconds per role and total RSS in MB, right now."""
        cpu = {"driver": 0, "jvm": 0, "python": 0}
        rss = 0
        for role, ticks, pages in self._walk().values():
            cpu[role] += ticks
            rss += pages
        out = {k: v / _TICK for k, v in cpu.items()}
        out["rss_mb"] = rss * _PAGE / 1e6
        return out


def cpu_total(s: dict[str, float]) -> float:
    return s["driver"] + s["jvm"] + s["python"]


def jvm_thread_ticks(jvm_pid: int) -> dict[tuple[int, str], int]:
    """CPU ticks of every live JVM thread, keyed by (tid, thread name)."""
    out = {}
    try:
        tids = os.listdir(f"/proc/{jvm_pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{jvm_pid}/task/{tid}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        name = raw[raw.index("(") + 1:raw.rindex(")")]
        fields = raw[raw.rindex(")") + 2:].split()
        out[(int(tid), name)] = int(fields[11]) + int(fields[12])
    return out


def jit_cpu_s(before: dict, after: dict) -> float:
    """CPU-seconds the JVM's JIT compiler threads used between two
    ``jvm_thread_ticks`` samples.

    Compilation is warm-up work whose amount varies from run to run; it is
    kept out of the per-op CPU cost. The delta is taken thread by thread,
    so it only sees threads alive at ``after``: ``run.py`` starts the JVM
    with a fixed set of compiler threads, so none exits between samples.
    """
    ticks = sum(
        t - before.get(key, 0)
        for key, t in after.items()
        if "CompilerThre" in key[1]  # "C1 CompilerThre", "C2 CompilerThre"
    )
    return ticks / _TICK


def spark_counters(spark, group: str, build_jobs: set[int]) -> dict[str, float]:
    """Counts and stage metrics of every job run under ``group``.

    ``build_jobs`` are the group's job ids already present when the builder
    returned; they count as ``registry.build_jobs`` and are left out of the
    execution-side totals below.
    """
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = set(tracker.getJobIdsForGroup(group))
    exec_jobs = jobs - build_jobs
    out = {
        "registry.build_jobs": len(build_jobs & jobs),
        "spark.jobs": len(exec_jobs),
        "spark.stages": 0,
        "spark.stages_skipped": 0,
        "spark.tasks": 0,
        "spark.task_run_s": 0.0,
        "spark.task_cpu_s": 0.0,
        "spark.shuffle_write_mb": 0.0,
        "spark.shuffle_read_mb": 0.0,
        "spark.input_mb": 0.0,
    }
    stage_ids = set()
    for jid in exec_jobs:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    for sid in stage_ids:
        try:
            st = store.lastStageAttempt(sid)
        except Exception:  # py4j: stage evicted from the store
            continue
        if st.status().toString() == "SKIPPED":
            out["spark.stages_skipped"] += 1
            continue
        out["spark.stages"] += 1
        out["spark.tasks"] += st.numTasks()
        out["spark.task_run_s"] += st.executorRunTime() / 1e3
        out["spark.task_cpu_s"] += st.executorCpuTime() / 1e9
        out["spark.shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
        out["spark.shuffle_read_mb"] += st.shuffleReadBytes() / 1e6
        out["spark.input_mb"] += st.inputBytes() / 1e6
    return out


def catalyst_phases(df) -> dict[str, float]:
    """Analysis / optimization / planning milliseconds of ``df``'s execution."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        ms = phases.apply(name).durationMs() if phases.contains(name) else 0
        out[f"catalyst.{name}_ms"] = float(ms)
    return out


def python_boundary_nodes(plan_string: str) -> int:
    return len(_PY_NODE.findall(plan_string))


def jvm_heap_used_mb(spark) -> float:
    """Heap in use right after a full GC."""
    jvm = spark.sparkContext._jvm
    jvm.System.gc()
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return bean.getHeapMemoryUsage().getUsed() / 1e6
