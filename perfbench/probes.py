"""Collectors that observe the program from outside.

- ``ProcSnapshot``: CPU seconds of this process tree from ``/proc``,
  split into the driver (this Python process), the JVM and the PySpark
  Python workers, plus host steal time from ``/proc/stat``.
- ``peak_rss_by_role``: summed ``VmHWM`` of the live process tree.
- ``host_calibration_s``: time of a fixed Python loop (host speed).
- ``SparkSnapshot``: job/stage ids seen by the SparkContext status
  store; ``spark_delta`` turns two snapshots into runtime counters.

Every probe degrades to ``None`` when its source is unreadable; none
of them raises.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

_TICK = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100


def _read(path: str) -> str | None:
    try:
        with open(path, "rb") as fh:
            return fh.read().decode("utf-8", "replace")
    except OSError:
        return None


def _stat_fields(pid: int) -> list[str] | None:
    raw = _read(f"/proc/{pid}/stat")
    if raw is None or ")" not in raw:
        return None
    # fields after "(comm)": state is index 0, ppid 1, utime 11 ...
    return raw.rsplit(")", 1)[1].split()


def process_tree(root: int | None = None) -> list[int]:
    """``root`` and all its live descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    try:
        pids = [int(p) for p in os.listdir("/proc") if p.isdigit()]
    except OSError:
        return [root]
    for pid in pids:
        f = _stat_fields(pid)
        if f is not None:
            children.setdefault(int(f[1]), []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _role(pid: int, root: int) -> str:
    if pid == root:
        return "driver"
    cmd = _read(f"/proc/{pid}/cmdline") or ""
    if "pyspark.daemon" in cmd or "pyspark.worker" in cmd:
        return "pyworker"
    # the JVM and the spark-submit launcher that starts it
    return "jvm"


@dataclass
class ProcSnapshot:
    driver: float | None
    jvm: float | None
    pyworker: float | None
    steal: float | None

    @classmethod
    def take(cls) -> "ProcSnapshot":
        root = os.getpid()
        cpu = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}
        ok = False
        for pid in process_tree(root):
            f = _stat_fields(pid)
            if f is None:
                continue
            # utime + stime + cutime + cstime: reaped children (exited
            # Python workers) are charged to their parent
            ticks = sum(int(x) for x in f[11:15])
            cpu[_role(pid, root)] += ticks / _TICK
            ok = True
        return cls(
            driver=cpu["driver"] if ok else None,
            jvm=cpu["jvm"] if ok else None,
            pyworker=cpu["pyworker"] if ok else None,
            steal=host_steal_s(),
        )

    @property
    def total(self) -> float | None:
        parts = (self.driver, self.jvm, self.pyworker)
        return None if None in parts else sum(parts)


def host_steal_s() -> float | None:
    raw = _read("/proc/stat")
    if raw is None:
        return None
    for line in raw.splitlines():
        if line.startswith("cpu "):
            f = line.split()
            return int(f[8]) / _TICK if len(f) > 8 else None
    return None


def _sub(a: float | None, b: float | None) -> float | None:
    return None if a is None or b is None else a - b


def proc_delta(before: ProcSnapshot, after: ProcSnapshot) -> dict:
    return {
        "proc.driver_cpu_s": _sub(after.driver, before.driver),
        "proc.jvm_cpu_s": _sub(after.jvm, before.jvm),
        "proc.pyworker_cpu_s": _sub(after.pyworker, before.pyworker),
        "proc.steal_s": _sub(after.steal, before.steal),
        "cpu_s": _sub(after.total, before.total),
    }


def peak_rss_by_role() -> dict[str, float] | None:
    """Peak resident set (``VmHWM``, MiB) of the live process tree,
    summed per role: driver, jvm, pyworker."""
    root = os.getpid()
    out = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}
    ok = False
    for pid in process_tree(root):
        raw = _read(f"/proc/{pid}/status")
        if raw is None:
            continue
        for line in raw.splitlines():
            if line.startswith("VmHWM:"):
                out[_role(pid, root)] += int(line.split()[1]) / 1024.0
                ok = True
    return out if ok else None


def host_calibration_s(rounds: int = 3) -> float:
    """Median wall time of a fixed single-threaded Python workload:
    a yardstick for the host's speed at the time of a run, so runs made
    in a slow phase of a shared host can be told apart."""
    times = []
    for _ in range(rounds):
        t0 = time.perf_counter()
        acc = 0
        for i in range(2_000_000):
            acc = (acc * 31 + i) % 1_000_003
        times.append(time.perf_counter() - t0)
    return sorted(times)[len(times) // 2]


# -- Spark status store ----------------------------------------------------

ASYNC_JOB_MARK = "withThreadLocalCaptured"


def _store(spark):
    return spark.sparkContext._jsc.sc().statusStore()


def _drain(spark, timeout_ms: int = 5000) -> None:
    """Wait until the listener bus has delivered every event, so the
    status store holds the jobs that just ran."""
    try:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(timeout_ms)
    except Exception:  # noqa: BLE001 - best effort; fall back to a pause
        time.sleep(0.5)


def _iter(spark, seq):
    """A Scala Seq from the status store as a Python-iterable list."""
    conv = spark.sparkContext._gateway.jvm.scala.jdk.javaapi.CollectionConverters
    return conv.asJava(seq)


def _jobs(spark):
    return _iter(spark, _store(spark).jobsList(None))


def _stage_list(spark):
    gw = spark.sparkContext._gateway
    return _iter(spark, _store(spark).stageList(
        None, False, False, gw.new_array(gw.jvm.double, 0), None))


@dataclass
class SparkSnapshot:
    jobs: set | None
    stages: set | None

    @classmethod
    def take(cls, spark) -> "SparkSnapshot":
        _drain(spark)
        try:
            jobs = {j.jobId() for j in _jobs(spark)}
            stages = {(s.stageId(), s.attemptId()) for s in _stage_list(spark)}
            return cls(jobs, stages)
        except Exception:  # noqa: BLE001
            return cls(None, None)


SPARK_KEYS = (
    "spark.jobs", "spark.async_jobs", "spark.stages", "spark.tasks",
    "spark.failed_tasks", "spark.executor_run_s", "spark.executor_cpu_s",
    "spark.gc_s", "spark.shuffle_write_bytes", "spark.shuffle_read_bytes",
    "spark.spill_bytes", "spark.max_task_skew",
)


def spark_delta(spark, before: SparkSnapshot) -> dict:
    """Runtime counters of the jobs and stages that ran since ``before``.

    ``spark.max_task_skew`` is the largest max/median task run time
    ratio over the new stages with at least two tasks.
    """
    out: dict = {k: None for k in SPARK_KEYS}
    if before.jobs is None:
        return out
    _drain(spark)
    try:
        jobs = [j for j in _jobs(spark) if j.jobId() not in before.jobs]
        stages = [s for s in _stage_list(spark)
                  if (s.stageId(), s.attemptId()) not in before.stages]
        out["spark.jobs"] = len(jobs)
        out["spark.async_jobs"] = sum(
            1 for j in jobs if ASYNC_JOB_MARK in (j.name() or ""))
        out["spark.stages"] = len(stages)
        out["spark.tasks"] = sum(s.numTasks() for s in stages)
        out["spark.failed_tasks"] = sum(s.numFailedTasks() for s in stages)
        out["spark.executor_run_s"] = sum(s.executorRunTime() for s in stages) / 1e3
        out["spark.executor_cpu_s"] = sum(s.executorCpuTime() for s in stages) / 1e9
        out["spark.gc_s"] = sum(s.jvmGcTime() for s in stages) / 1e3
        out["spark.shuffle_write_bytes"] = sum(s.shuffleWriteBytes() for s in stages)
        out["spark.shuffle_read_bytes"] = sum(s.shuffleReadBytes() for s in stages)
        out["spark.spill_bytes"] = sum(
            s.memoryBytesSpilled() + s.diskBytesSpilled() for s in stages)
    except Exception:  # noqa: BLE001
        return {k: None for k in SPARK_KEYS}
    out["spark.max_task_skew"] = _max_skew(spark, stages)
    return out


def _max_skew(spark, stages) -> float | None:
    gw = spark.sparkContext._gateway
    q = gw.new_array(gw.jvm.double, 2)
    q[0], q[1] = 0.5, 1.0
    best = 0.0
    try:
        for s in stages:
            if s.numTasks() < 2:
                continue
            summary = _store(spark).taskSummary(s.stageId(), s.attemptId(), q)
            if summary.isEmpty():
                continue
            run = summary.get().executorRunTime()
            med, top = run.apply(0), run.apply(1)
            if med > 0:
                best = max(best, top / med)
    except Exception:  # noqa: BLE001
        return None
    return best
