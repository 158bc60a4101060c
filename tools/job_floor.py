"""Per-job floor: the wall time and CPU time of three small Spark jobs
on a `session.get_spark` session (`local[4]`, the full C2 JVM).

    python tools/job_floor.py

The jobs: `spark.range(1).collect()`; one `lloyd._lloyd_step` over
2000×64 points cached in 4 partitions, k = 8; and a no-op `mapInArrow`
of 4 tasks over 10 rows. Each runs WARM times, then REPS times
measured. Per job it reports the mean wall time and the mean CPU time
of the process tree, split into the Python workers (the daemon and
the workers it forked), the JVM's JIT-compiler and GC threads, the
rest of the JVM, and this driver process. CPU times are read from
/proc with `perfbench/ledger.py`'s readers, in clock ticks, so a
figure is good to a few 10 ms ticks / REPS; the JVM's own ticks and
the tree's are read a moment apart, so a job with no Python work can
show a worker figure just below zero. Prints a markdown table, then
the same numbers as one JSON line.
"""
from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "perfbench"))

from apachebeamkmeans_spark.operators.kmeans import lloyd  # noqa: E402
from apachebeamkmeans_spark.session import get_spark  # noqa: E402
from ledger import _TICK, _stat_fields, service_cpu_s, tree_cpu_s  # noqa: E402

WARM = REPS = 30
# Keep every JIT and GC thread alive, so no ended thread's time drops
# out of `service_cpu_s`.
JAVA_OPTS = "-XX:-UseDynamicNumberOfCompilerThreads -XX:-UseDynamicNumberOfGCThreads"


def cpu_split(jvm_pid: int) -> dict[str, float]:
    """CPU seconds so far: Python workers (the JVM's descendants), JIT
    and GC threads, the rest of the JVM, and this process."""
    jvm = sum(int(x) for x in _stat_fields(str(jvm_pid))[11:13]) / _TICK
    service, own = service_cpu_s(jvm_pid), os.times()
    return {
        "python_workers": tree_cpu_s(jvm_pid) - jvm,
        "jvm_jit_gc": service,
        "jvm_rest": jvm - service,
        "driver": own.user + own.system,
    }


def measure(jvm_pid: int, job) -> dict[str, float]:
    """Mean wall and CPU milliseconds per job over REPS runs after
    WARM unmeasured ones."""
    for _ in range(WARM):
        job()
    before, t = cpu_split(jvm_pid), time.perf_counter()
    for _ in range(REPS):
        job()
    wall, after = time.perf_counter() - t, cpu_split(jvm_pid)
    out = {"wall": wall}
    out.update({k: after[k] - before[k] for k in before})
    out["tree"] = sum(after[k] - before[k] for k in before)
    return {k: round(1000 * v / REPS, 1) for k, v in out.items()}


def main() -> None:
    import numpy as np

    spark = get_spark("job_floor", cpus=4, extra_conf={
        "spark.driver.memory": "2g", "spark.driver.extraJavaOptions": JAVA_OPTS})
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    rows = np.random.default_rng(0).normal(size=(2000, 64)).tolist()
    pts = spark.createDataFrame(list(enumerate(rows)), "id long, features array<double>")
    pts = pts.repartition(4).cache()
    pts.count()
    centers = rows[:8]

    def noop(batches):
        yield from batches

    jobs = {
        "spark.range(1).collect()": lambda: spark.range(1).collect(),
        "lloyd._lloyd_step": lambda: lloyd._lloyd_step(pts, [centers], 2.0, "features"),
        "no-op mapInArrow, 4 tasks": lambda: spark.range(10, numPartitions=4)
        .mapInArrow(noop, "id long").collect(),
    }
    result = {name: measure(jvm_pid, job) for name, job in jobs.items()}
    pts.unpersist()
    spark.stop()

    cols = ["wall", "tree", "python_workers", "jvm_jit_gc", "jvm_rest", "driver"]
    print("| Job | " + " | ".join(f"{c} ms" for c in cols) + " |")
    print("|---|" + "---|" * len(cols))
    for name, r in result.items():
        print(f"| `{name}` | " + " | ".join(f"{r[c]:.1f}" for c in cols) + " |")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
