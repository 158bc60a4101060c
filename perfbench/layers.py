"""Per-layer metrics of a traced run, from its spans and job ledger.

Every metric is reported on every workload. Scheduler, JVM and hygiene
metrics are per timed op. Engine-layer metrics are shares of the timed
ops' wall time (`_pct`) or counts, so a workload that never enters a
layer reads 0 % or 0 there, never a constant 0 s.
"""

from __future__ import annotations

import statistics

from spans import UNTIMED_OP
from stats import clip, interval_union


def _pct(part: float, whole: float) -> float:
    return 100.0 * part / whole if whole > 0 else 0.0


def self_seconds_by_name(tracer) -> dict[str, float]:
    """Total self time of the timed ops' spans, per span name."""
    children = tracer.children()
    out: dict[str, float] = {}
    for s in tracer.spans:
        if s.op_id >= 0:
            out[s.name] = out.get(s.name, 0.0) + tracer.self_seconds(s, children)
    return out


def layer_metrics(tracer, res, wl, *, get_spark_s, warm_s, leaked, drift, rss_mb,
                  overhead_s, steal):
    children = tracer.children()
    ops = [s for s in tracer.spans if s.parent is None and s.op_id >= 0]
    n = len(ops)
    op_s = sum(s.seconds for s in ops)

    jobs = stages = skipped = tasks = 0
    busy = gap = run = cpu = inp = srd = swr = spill = 0.0
    gc = compiles = compile_s = failures = 0.0
    for sp in ops:
        js = tracer.subtree_jobs(sp, children)
        b = interval_union(clip([(j.start, j.end) for j in js], sp.start, sp.end))
        busy += b
        gap += sp.seconds - b
        jobs += len(js)
        for j in js:
            stages += j.stages
            skipped += j.skipped
            tasks += j.tasks
            run += j.executor_run_s
            cpu += j.executor_cpu_s
            inp += j.input_mb
            srd += j.shuffle_read_mb
            swr += j.shuffle_write_mb
            spill += j.spill_mb
        gc += (sp.exit.gc_ms - sp.enter.gc_ms) / 1000.0
        compiles += sp.exit.compiles - sp.enter.compiles
        compile_s += (sp.exit.compile_ns - sp.enter.compile_ns) / 1e9
        failures += sp.codegen_failures

    def named(name):
        return [s for s in tracer.spans if s.name == name and s.op_id >= 0]

    def share(name):
        return _pct(sum(s.seconds for s in named(name)), op_s)

    def per_op(x):
        return x / n if n else 0.0

    m = {
        "session.get_spark_s": (get_spark_s, "s"),
        "session.warm_s": (warm_s, "s"),
        "spark.jobs": (per_op(jobs), "count/op"),
        "spark.stages": (per_op(stages), "count/op"),
        "spark.stages_skipped": (per_op(skipped), "count/op"),
        "spark.tasks": (per_op(tasks), "count/op"),
        "spark.job_busy_s": (per_op(busy), "s/op"),
        "spark.driver_gap_s": (per_op(gap), "s/op"),
        "spark.executor_run_s": (per_op(run), "s/op"),
        "spark.executor_cpu_s": (per_op(cpu), "s/op"),
        "spark.input_mb": (per_op(inp), "MB/op"),
        "spark.shuffle_read_mb": (per_op(srd), "MB/op"),
        "spark.shuffle_write_mb": (per_op(swr), "MB/op"),
        "spark.spill_mb": (per_op(spill), "MB/op"),
        "jvm.rss_peak_mb": (rss_mb, "MB"),
        "jvm.gc_s": (per_op(gc), "s/op"),
        "jvm.codegen_compiles": (per_op(compiles), "count/op"),
        "jvm.codegen_compile_s": (per_op(compile_s), "s/op"),
        "jvm.codegen_failures": (per_op(failures), "count/op"),
        "checkpoints.persisted_rdds": (max((s.exit.persisted for s in ops), default=0), "count"),
        "checkpoints.leaked_rdds": (leaked, "count"),
        "session.conf_drift": (drift, "count"),
        "trace.run_s": (statistics.median(res.pass_seconds), "s"),
        "trace.overhead_s": (overhead_s, "s"),
        "trace.spans": (len(tracer.spans), "count"),
        "host.steal_pct": (steal, "%"),
    }

    # operators.kmeans
    init, lloyd = named("kmeans.init"), named("kmeans.lloyd")
    iters = sum(wl.iters[: n]) if hasattr(wl, "iters") else 0
    lloyd_jobs = sum(len(s.jobs) for s in lloyd)
    m.update({
        "kmeans.init_pct": (share("kmeans.init"), "%"),
        "kmeans.lloyd_pct": (share("kmeans.lloyd"), "%"),
        "kmeans.sse_pct": (share("kmeans.sse"), "%"),
        "kmeans.init_jobs": (per_op(sum(len(s.jobs) for s in init)), "count/op"),
        "kmeans.iters": (per_op(iters), "count/op"),
        "kmeans.jobs_per_iter": (lloyd_jobs / iters if iters else 0.0, "count"),
    })
    probe = [s for s in tracer.spans if s.op_id == UNTIMED_OP]
    top = [s for s in probe if s.parent is None]
    probe_init = sum(s.seconds for s in probe if s.name == "kmeans.init")
    m.update({
        "kmeans.probe_init_pct": (_pct(probe_init, sum(s.seconds for s in top)), "%"),
        "kmeans.probe_codegen_failures": (sum(s.codegen_failures for s in top), "count"),
    })

    # registry / sources.io (query_mix)
    m.update({
        "mix.build_pct": (share("mix.build"), "%"),
        "mix.exec_pct": (share("mix.exec"), "%"),
    })
    return m
