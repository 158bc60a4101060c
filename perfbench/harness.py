"""The closed loop shared by every workload: one client, whole passes
over a fixed op list, each op's output checked outside the timer. Each
op is timed twice: in wall seconds, and in CPU seconds as `cpu_clock`
counts them."""

from __future__ import annotations

import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field
from typing import Callable

from stats import tail


@dataclass
class Op:
    kind: str  # what the op does, e.g. "fit"; names its span
    label: str  # which variant, e.g. "plusplus k=4"
    run: Callable[[], object]  # the timed call
    check: Callable[[object], None]  # raises AssertionError on a wrong output


@dataclass
class OpResult:
    label: str
    seconds: float
    cpu_s: float
    ok: bool
    error: str | None = None


@dataclass
class RunResult:
    ops: list[OpResult] = field(default_factory=list)
    pass_seconds: list[float] = field(default_factory=list)
    pass_cpu_s: list[float] = field(default_factory=list)

    @property
    def failed(self) -> int:
        return sum(not o.ok for o in self.ops)


def settle(cpu_clock: Callable[[], float], *, tick: float = 0.25, idle: float = 0.1,
           quiet_ticks: int = 4, limit: float = 20.0) -> float:
    """Wait until the process tree is idle: less than `idle` of one CPU
    used over each of `quiet_ticks` ticks in a row, or `limit` seconds.
    Work that set-up leaves running in the background (JIT compiles, a
    requested collection) would otherwise be counted in the CPU time of
    the first timed ops. Returns the seconds waited."""
    t0 = time.perf_counter()
    quiet, last = 0, cpu_clock()
    while quiet < quiet_ticks and time.perf_counter() - t0 < limit:
        time.sleep(tick)
        now = cpu_clock()
        quiet = quiet + 1 if now - last < idle * tick else 0
        last = now
    return time.perf_counter() - t0


def run_passes(workload, tracer, seconds: float,
               cpu_clock: Callable[[], float]) -> RunResult:
    """Run as many whole passes over the workload's op list as fit in
    `seconds`, and at least one: a further pass starts only if it would
    end in time were it as long as the last one."""
    res = RunResult()
    t_begin = time.perf_counter()
    while True:
        pass_s = pass_cpu = 0.0
        for op in workload.pass_ops():
            op_id = len(res.ops)
            dt = None
            c0 = cpu_clock()
            t0 = time.perf_counter()
            try:
                with tracer.span(op.kind, op_id):
                    out = op.run()
                dt = time.perf_counter() - t0
                dc = cpu_clock() - c0
                op.check(out)
                res.ops.append(OpResult(op.label, dt, dc, True))
            except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
                if dt is None:
                    dt = time.perf_counter() - t0
                    dc = cpu_clock() - c0
                msg = f"{type(e).__name__}: {e}"[:300]
                print(f"[perfbench] op {op_id} {op.kind} {op.label} failed: {msg}",
                      file=sys.stderr)
                traceback.print_exc(file=sys.stderr)
                res.ops.append(OpResult(op.label, dt, dc, False, msg))
            pass_s += dt
            pass_cpu += dc
        res.pass_seconds.append(pass_s)
        res.pass_cpu_s.append(pass_cpu)
        if time.perf_counter() - t_begin + pass_s > seconds:
            return res


def latency_summary(res: RunResult, cpu: bool = False) -> dict[str, float | str | int]:
    """Median and tail of the successful ops' wall (or CPU) seconds."""
    xs = [o.cpu_s if cpu else o.seconds for o in res.ops if o.ok]
    if not xs:
        raise RuntimeError("no op succeeded")
    label, value = tail(xs)
    return {"p50": statistics.median(xs), "tail": value, "tail_label": label, "n": len(xs)}
