"""Everything the benchmark asks of Spark and the box: where the
session's files go, how big it is, how many jobs it ran, what the
status store says those jobs cost, how much CPU the run's processes
used, how much CPU time the hypervisor stole, and how fast the box is
today.

Reads go through public or status-store handles only; nothing here
changes engine behaviour.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap_mb(total_mb: int) -> int:
    """A quarter of the box's memory, capped at 2 GiB: local mode runs
    driver and executors in one JVM, and the box is shared."""
    return max(512, min(2048, total_mb // 4))


def configure_environment(run_dir: str, cpus: int, heap_mb: int) -> None:
    """Point every file Spark, the JVM and Python workers write into
    ``run_dir`` and size the session for the box. Must run before the
    JVM starts; ``get_spark`` reads the two ``SPARK_GRAFT_*`` knobs."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_mb}m"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    # -XX:-UsePerfData: no hsperfdata file under the system temp dir
    os.environ["SPARK_SUBMIT_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


class JobCounter:
    """Jobs submitted so far in a session, read as the newest job id + 1.

    The status store lists retained jobs newest first, so its head is
    the highest id ever submitted even after older jobs are evicted.
    ``jobsList(...).size()`` is not a counter: it stops growing at
    ``spark.ui.retainedJobs``. The listener bus is drained first so a
    job that already returned is never missed."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()

    def read(self) -> int:
        self._sc.listenerBus().waitUntilEmpty()
        jobs = self._sc.statusStore().jobsList(None)
        return 0 if jobs.isEmpty() else int(jobs.head().jobId()) + 1


@dataclass
class SparkCost:
    jobs: int = 0
    tasks: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    executor_run_ms: int = 0
    unretained_jobs: int = 0
    stage_ids: set = field(default_factory=set)


def spark_cost(spark, windows: list[tuple[float, float]]) -> SparkCost:
    """Sum the status store's job and stage figures over jobs submitted
    inside any of ``windows`` (epoch seconds). Attribution is by the
    job's submission time, so it needs no job group and survives the
    engine setting its own groups; stages shared by several jobs count
    once. Jobs evicted under ``spark.ui.retainedJobs`` are counted in
    ``unretained_jobs`` instead of silently dropped."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    cost = SparkCost()
    if not windows:
        return cost
    lo_ms = min(w[0] for w in windows) * 1000
    hi_ms = max(w[1] for w in windows) * 1000
    ms_windows = [(a * 1000, b * 1000) for a, b in windows]
    it = store.jobsList(None).iterator()
    reached_older = False
    oldest_id = 0
    while it.hasNext():
        job = it.next()
        sub = job.submissionTime()
        if sub.isEmpty():
            continue
        t = sub.get().getTime()
        oldest_id = int(job.jobId())
        if t > hi_ms:
            continue
        if t < lo_ms:
            reached_older = True
            break  # newest first: everything after is older
        if not any(a <= t <= b for a, b in ms_windows):
            continue
        cost.jobs += 1
        cost.tasks += int(job.numCompletedTasks())
        sids = job.stageIds().iterator()
        while sids.hasNext():
            cost.stage_ids.add(int(sids.next()))
    for sid in cost.stage_ids:
        try:
            st = store.lastStageAttempt(sid)
        except Exception:  # evicted under spark.ui.retainedStages
            continue
        cost.shuffle_write_bytes += int(st.shuffleWriteBytes())
        cost.spill_bytes += int(st.diskBytesSpilled())
        cost.executor_run_ms += int(st.executorRunTime())
    if not reached_older:
        # the store ran out before the window started: every id below
        # the oldest retained one was evicted and may have belonged to it
        cost.unretained_jobs = oldest_id
    return cost


def jvm_pid(spark) -> int:
    jvm = spark.sparkContext._jvm
    return int(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getPid())


def peak_rss_mb(pid: int) -> float:
    """High-water resident set of ``pid`` (VmHWM), in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"VmHWM missing for pid {pid}")


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def _box_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks over all CPUs since boot, from the
    first line of /proc/stat. Steal is time a virtual CPU was ready to
    run but the hypervisor ran another guest."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def tree_cpu_s(pid: int) -> float:
    """User + system CPU seconds of ``pid`` and every live descendant,
    each including its reaped children, so a worker that exits between
    two readings still counts (in its parent)."""
    kids: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # exited while listing
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        p = int(name)
        kids.setdefault(int(fields[1]), []).append(p)
        ticks[p] = sum(int(x) for x in fields[11:15])
    total, todo = 0, [pid]
    while todo:
        p = todo.pop()
        total += ticks.get(p, 0)
        todo.extend(kids.get(p, []))
    return total * _TICK_S


@dataclass(frozen=True)
class Reading:
    """Wall clock, the box's steal and total CPU ticks, and the CPU
    seconds of this process with its descendants (the Spark JVM and its
    Python workers), read at one instant."""

    t: float
    steal: int
    ticks: int
    cpu_s: float

    @staticmethod
    def now() -> Reading:
        steal, ticks = _box_ticks()
        return Reading(time.time(), steal, ticks, tree_cpu_s(os.getpid()))

    def steal_share(self, later: Reading) -> float:
        """Share of the box's CPU time the hypervisor stole between the
        two readings."""
        return (later.steal - self.steal) / max(later.ticks - self.ticks, 1)


CALIB_ROWS = 40_000_000
CALIB_REPS = 3


def calibration_s(spark) -> float:
    """Median seconds of a fixed Spark job: ``range`` over 8 partitions,
    ``xxhash64`` per row, one global sum. It reads no input, runs no
    engine code and has no shuffle whose width a session setting could
    change, so neither the data nor the engine moves it; it tracks how
    fast this box runs Spark tasks right now. One untimed pass runs
    first."""
    from pyspark.sql import functions as F

    def once() -> float:
        t0 = time.perf_counter()
        spark.range(0, CALIB_ROWS, 1, 8).select(
            F.sum(F.pmod(F.xxhash64("id"), F.lit(1 << 20))).alias("s")
        ).collect()
        return time.perf_counter() - t0

    once()
    times = sorted(once() for _ in range(CALIB_REPS))
    return times[len(times) // 2]
