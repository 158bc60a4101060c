"""Benchmark of the spark-kmeans-engine through its public API.

    python3 perfbench/run.py --workload kmeans_fit --seed 1 --seconds 26 --trace 0

Run from the root of a source checkout. Each run is one client process
driving a `local[4]` session in a closed loop: it generates its inputs
from `--seed`, sets up (session, inputs, warm-up calls), then runs as
many whole passes over the workload's fixed op list as fit in
`--seconds`, and at least one, checking every op's output outside the
timer. The last stdout line is
one JSON object: `correct`, `attempted`, `failed` and `metrics` — the
end-to-end metrics with `--trace 0`, the per-layer metrics with
`--trace 1`. Workloads and metrics are listed in BENCHMARK.json.

The end-to-end times are CPU seconds of the benchmark's process tree
(this client, the Spark JVM and its Python workers), leaving out the
JVM's JIT-compiler and garbage-collector threads, which run on a
schedule of their own. On a shared host the wall time of the same run
swings by half from run to run with the load other guests put on the
host; this CPU time holds within a few percent. Wall times, the JIT and
GC threads' CPU time, and the share of CPU time the host took away
(steal) are printed on the line before the result.

Inputs, Spark's local directories and temporary files live in
`.perfbench/work-*` under the checkout and are removed at exit; the
captured stderr and the traced run's spans are kept in `.perfbench/logs`.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # set-up is timed from process start

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = 4
DRIVER_MEM = "2g"
WORKLOADS = ("kmeans_fit", "query_mix")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


class Context:
    """What a workload needs: the session, its directories, the seeded
    generator, and the current tracer."""

    def __init__(self, spark, work_dir: str, seed: int, tracer):
        import numpy as np

        self.spark = spark
        self.data_dir = os.path.join(work_dir, "data")
        self.rng = np.random.default_rng(seed)
        self.tracer = tracer


def make_workload(name: str, ctx):
    if name == "kmeans_fit":
        from kmeans_fit import KMeansFit

        return KMeansFit(ctx)
    from query_mix import QueryMix

    return QueryMix(ctx)


def start_session(work_dir: str):
    from apachebeamkmeans_spark.session import get_spark
    from ledger import RETAIN_CONF

    tmp = os.path.join(work_dir, "tmp")
    # The JVM compiles with C1 only. With the C2 compiler as well, JIT
    # threads spent about twice the CPU of the ops themselves, catching
    # up in the background for passes after set-up, and how much of
    # that fell inside the timed ops went with the host's load.
    java_opts = (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1 "
                 "-XX:-UseDynamicNumberOfCompilerThreads -XX:-UseDynamicNumberOfGCThreads")
    conf = {
        **RETAIN_CONF,
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.driver.extraJavaOptions": java_opts,
    }
    return get_spark("perfbench", cpus=CPUS, extra_conf=conf)


def stop_session(spark) -> None:
    """Stop the session, then the JVM that py4j launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - make sure it is gone
            proc.kill()
            proc.wait()


def run(args, work_dir: str, log_prefix: str) -> dict:
    from harness import latency_summary, run_passes, settle
    from ledger import (SparkProbe, conf_drift, host_ticks, rss_peak_mb, sql_conf,
                        service_cpu_s, steal_pct, tree_cpu_s)
    from spans import NullTracer, Tracer

    t = time.perf_counter()
    spark = start_session(work_dir)
    get_spark_s = time.perf_counter() - t
    try:
        t = time.perf_counter()
        spark.range(1000).selectExpr("sum(id)").collect()
        warm_s = time.perf_counter() - t
        probe = SparkProbe(spark, log_prefix + ".stderr.log")

        def cpu_clock():
            return tree_cpu_s(os.getpid()) - service_cpu_s(probe.jvm_pid)

        ctx = Context(spark, work_dir, args.seed, NullTracer())
        wl = make_workload(args.workload, ctx)
        wl.setup()
        conf0 = sql_conf(spark)
        # start timing with no set-up garbage pending and the JIT idle
        spark._jvm.System.gc()
        settle(lambda: tree_cpu_s(os.getpid()))
        setup_wall_s = time.perf_counter() - T_START
        setup_cpu_s = cpu_clock()

        tracer = Tracer(probe) if args.trace else NullTracer()
        ctx.tracer = tracer
        ticks0 = host_ticks()
        svc0 = service_cpu_s(probe.jvm_pid)
        res = run_passes(wl, tracer, args.seconds, cpu_clock)
        service_s = service_cpu_s(probe.jvm_pid) - svc0
        steal = steal_pct(ticks0, host_ticks())
        rss_mb = rss_peak_mb(probe.jvm_pid)
        leaked = probe.persisted_rdds()
        drift = conf_drift(conf0, sql_conf(spark))
        lat = latency_summary(res)
        cpu = latency_summary(res, cpu=True)
        info = {
            "workload": wl.name, "seed": args.seed, "trace": args.trace,
            "ops": len(res.ops), "passes": len(res.pass_seconds),
            "setup_wall_s": setup_wall_s,
            "op_s.n": lat["n"], "op_s.p50": lat["p50"],
            "op_s.tail": [lat["tail_label"], lat["tail"]],
            "op_cpu_s.tail": [cpu["tail_label"], cpu["tail"]],
            "run_s": statistics.median(res.pass_seconds), "steal_pct": steal,
            "jit_gc_cpu_s": service_s,
            "leaked_rdds": leaked, "conf_drift": drift, "rss_peak_mb": rss_mb,
            "failures": [o.error for o in res.ops if not o.ok],
            "op_seconds": [[o.label, round(o.seconds, 3), round(o.cpu_s, 2)]
                           for o in res.ops],
            **wl.info(),
        }
        if args.trace:
            from layers import layer_metrics, self_seconds_by_name

            overhead_s = tracer.overhead_s  # of the timed loop only
            if hasattr(wl, "codegen_probe"):
                wl.codegen_probe()
            tracer.resolve()
            tracer.dump(log_prefix + ".spans.json")
            info["self_s"] = {k: round(v, 3) for k, v in self_seconds_by_name(tracer).items()}
            metrics = layer_metrics(
                tracer, res, wl, get_spark_s=get_spark_s, warm_s=warm_s,
                leaked=leaked, drift=len(drift), rss_mb=rss_mb, overhead_s=overhead_s,
                steal=steal,
            )
        else:
            metrics = {
                "setup_s": (setup_cpu_s, "s"),
                "op_cpu_s.p50": (cpu["p50"], "s"),
                "run_cpu_s": (statistics.median(res.pass_cpu_s), "s"),
            }
    finally:
        stop_session(spark)
    print(json.dumps(info))
    return {
        "correct": res.failed == 0,
        "attempted": len(res.ops),
        "failed": res.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (os.path.isfile(os.path.join(ROOT, "apachebeamkmeans_spark", "__init__.py"))
            and os.path.isfile(os.path.join(ROOT, "tools", "gen_scale.py"))):
        print(f"perfbench: no engine sources under {ROOT}; run from a source checkout",
              file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tools")]
    base = os.path.join(ROOT, ".perfbench")
    work_dir = os.path.join(base, f"work-{args.workload}-{os.getpid()}")
    logs = os.path.join(base, "logs")
    for d in ("data", "tmp", "spark-local"):
        os.makedirs(os.path.join(work_dir, d), exist_ok=True)
    os.makedirs(logs, exist_ok=True)
    log_prefix = os.path.join(logs, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    # children (the JVM, Python workers) inherit these
    os.environ["TMPDIR"] = os.path.join(work_dir, "tmp")
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    # the JVM's stderr is the run's stderr: capture it so code-generation
    # failures can be counted per span
    saved_err = os.dup(2)
    log_fd = os.open(log_prefix + ".stderr.log", os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    sys.stderr.flush()
    os.dup2(log_fd, 2)
    os.close(log_fd)
    result = None
    try:
        result = run(args, work_dir, log_prefix)
    finally:
        sys.stderr.flush()
        os.dup2(saved_err, 2)
        os.close(saved_err)
        shutil.rmtree(work_dir, ignore_errors=True)
        if result is None:
            print(f"perfbench: run failed; stderr kept in {log_prefix}.stderr.log",
                  file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
