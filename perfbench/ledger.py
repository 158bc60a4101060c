"""Counters read from outside the engine: the scheduler's job/stage
ledger, JVM garbage-collection and code-generation counters,
code-generation failures in the captured stderr of the run, and CPU
time of the benchmark's processes and of the VM, from /proc.

Jobs are attributed to a span by job-id interval: the DAG scheduler
numbers jobs in submission order, so the jobs a span started are those
numbered from its opening snapshot up to its closing one. Job groups are
not used because the engine's worker threads do not inherit them.
"""

from __future__ import annotations

import os
import re
import time
from dataclasses import dataclass

# Spark keeps this many finished jobs and stages in its status store;
# set high enough that no job of a run is evicted before it is read.
RETAIN_CONF = {
    "spark.ui.retainedJobs": "1000000",
    "spark.ui.retainedStages": "1000000",
}

CODEGEN_FAILURE = re.compile(rb"Failed to compile the generated Java code")

MB = 1024.0 * 1024.0


@dataclass(frozen=True)
class Snapshot:
    wall: float  # epoch seconds
    job_id: int  # id the next submitted job will get
    gc_ms: int
    compiles: int
    compile_ns: int
    stderr_at: int  # size of the captured stderr file
    persisted: int  # RDDs persisted in the session


@dataclass
class JobRecord:
    job_id: int
    start: float  # epoch seconds
    end: float
    stages: int
    skipped: int
    tasks: int
    executor_run_s: float
    executor_cpu_s: float
    input_mb: float
    shuffle_read_mb: float
    shuffle_write_mb: float
    spill_mb: float


class SparkProbe:
    """py4j handles on the driver's scheduler and JVM counters."""

    def __init__(self, spark, stderr_path: str | None):
        jvm = spark._jvm
        self._sc = spark.sparkContext._jsc.sc()
        self._gcs = list(
            jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        )
        self._codegen_hist = (
            jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        )
        self._codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self._stderr_path = stderr_path
        self.jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())

    def next_job_id(self) -> int:
        return int(self._sc.dagScheduler().nextJobId())

    def snapshot(self) -> Snapshot:
        return Snapshot(
            wall=time.time(),
            job_id=self.next_job_id(),
            gc_ms=sum(int(g.getCollectionTime()) for g in self._gcs),
            compiles=int(self._codegen_hist.getCount()),
            compile_ns=int(self._codegen.compileTime()),
            stderr_at=self.stderr_size(),
            persisted=self.persisted_rdds(),
        )

    def stderr_size(self) -> int:
        if self._stderr_path is None:
            return 0
        try:
            return os.path.getsize(self._stderr_path)
        except OSError:
            return 0

    def codegen_failures(self, start: int, end: int) -> int:
        """Code-generation failures logged between two stderr offsets."""
        if self._stderr_path is None or end <= start:
            return 0
        with open(self._stderr_path, "rb") as f:
            f.seek(start)
            return len(CODEGEN_FAILURE.findall(f.read(end - start)))

    def jobs(self, first: int, stop: int) -> list[JobRecord]:
        """Ledger rows for jobs numbered [first, stop), after the listener
        bus has delivered every event posted so far."""
        self._sc.listenerBus().waitUntilEmpty()
        store = self._sc.statusStore()
        stage_cache: dict[int, tuple] = {}
        out = []
        for j in range(first, stop):
            jd = store.job(j)
            sub, done = jd.submissionTime(), jd.completionTime()
            start = sub.get().getTime() / 1000.0 if sub.isDefined() else 0.0
            end = done.get().getTime() / 1000.0 if done.isDefined() else start
            ids = [int(x) for x in jd.stageIds().mkString(",").split(",") if x]
            rec = JobRecord(j, start, end, len(ids), 0, 0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)
            for sid in ids:
                if sid not in stage_cache:
                    stage_cache[sid] = self._stage(store, sid)
                skipped, *m = stage_cache[sid]
                if skipped:
                    rec.skipped += 1
                    continue
                rec.tasks += m[0]
                rec.executor_run_s += m[1]
                rec.executor_cpu_s += m[2]
                rec.input_mb += m[3]
                rec.shuffle_read_mb += m[4]
                rec.shuffle_write_mb += m[5]
                rec.spill_mb += m[6]
            out.append(rec)
        return out

    @staticmethod
    def _stage(store, sid: int) -> tuple:
        sd = store.lastStageAttempt(sid)
        if sd.status().toString() == "SKIPPED":
            return (True,)
        return (
            False,
            int(sd.numTasks()),
            sd.executorRunTime() / 1000.0,
            sd.executorCpuTime() / 1e9,
            sd.inputBytes() / MB,
            sd.shuffleReadBytes() / MB,
            sd.shuffleWriteBytes() / MB,
            (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / MB,
        )

    def persisted_rdds(self) -> int:
        return int(self._sc.getPersistentRDDs().size())


def sql_conf(spark) -> dict[str, str]:
    """Every SQL conf key set in the session, as strings."""
    return {str(k): str(v) for k, v in spark.conf.getAll.items()}


def conf_drift(before: dict[str, str], after: dict[str, str]) -> list[str]:
    """Keys whose value differs between two conf snapshots."""
    return sorted(k for k in before.keys() | after.keys() if before.get(k) != after.get(k))


_TICK = float(os.sysconf("SC_CLK_TCK"))


def _stat_fields(pid: str) -> list[str] | None:
    """Fields of /proc/<pid>/stat from the state on (field 3 onwards)."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read()
    except OSError:  # the process ended while /proc was listed
        return None
    return raw[raw.rindex(b")") + 2:].decode().split()


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by process `root` and all its live
    descendants (the JVM and its Python workers), each with the children
    it has reaped. Time the host hands this VM's CPUs to other guests
    (steal) is not counted, so the figure swings far less than wall time
    with the load other tenants put on the host."""
    ppid, ticks = {}, {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        fields = _stat_fields(pid)
        if fields is None:
            continue
        p = int(pid)
        ppid[p] = int(fields[1])
        # utime, stime, cutime, cstime
        ticks[p] = sum(int(x) for x in fields[11:15])
    kids: dict[int, list[int]] = {}
    for p, pp in ppid.items():
        kids.setdefault(pp, []).append(p)
    total, todo = 0, [root]
    while todo:
        p = todo.pop()
        total += ticks.get(p, 0)
        todo += kids.get(p, [])
    return total / _TICK


# Names (as the kernel keeps them, cut to 15 bytes) of the JVM's own
# service threads: the JIT compilers and the garbage collector's workers.
SERVICE_THREADS = re.compile(r"C[12] CompilerThre|GC Thread#|G1 |VM Thread|VM Periodic")


def service_cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by the JVM's JIT and GC threads. The JVM
    must keep these threads for its lifetime
    (-XX:-UseDynamicNumberOfCompilerThreads,
    -XX:-UseDynamicNumberOfGCThreads), or an ended thread's time would
    drop out of the sum."""
    total = 0
    for tid in os.listdir(f"/proc/{jvm_pid}/task"):
        try:
            with open(f"/proc/{jvm_pid}/task/{tid}/stat", "rb") as f:
                raw = f.read()
        except OSError:
            continue
        name = raw[raw.index(b"(") + 1:raw.rindex(b")")].decode(errors="replace")
        if SERVICE_THREADS.match(name):
            fields = raw[raw.rindex(b")") + 2:].split()
            total += int(fields[11]) + int(fields[12])
    return total / _TICK


def host_ticks() -> tuple[int, int]:
    """(stolen, all) CPU ticks of this VM so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of the VM's CPU time the host gave to other guests between
    two `host_ticks` readings, in %."""
    stolen, total = after[0] - before[0], after[1] - before[1]
    return 100.0 * stolen / total if total > 0 else 0.0


def rss_peak_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM line for pid {pid}")
