"""Spans around the benchmark's calls into the engine.

A span records its name, the op it belongs to, its parent, its wall
interval, and counter snapshots at entry and exit. Spans stay in memory;
job ledgers are resolved and the spans written out after the timed loop,
so the timed region pays only for the snapshots, and that cost is
measured as the tracer's own overhead.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager, nullcontext
from dataclasses import asdict, dataclass, field

from ledger import JobRecord, Snapshot, SparkProbe
from stats import clip, interval_union


@dataclass
class Span:
    span_id: int
    parent: int | None
    op_id: int
    name: str
    enter: Snapshot
    exit: Snapshot | None = None
    jobs: list[JobRecord] = field(default_factory=list)
    codegen_failures: int = 0

    @property
    def start(self) -> float:
        return self.enter.wall

    @property
    def end(self) -> float:
        return self.exit.wall

    @property
    def seconds(self) -> float:
        return self.end - self.start


# op id of spans opened outside the timed loop, such as the codegen probe
UNTIMED_OP = -1


class NullTracer:
    """Stand-in for untraced runs: spans cost nothing and record nothing."""

    enabled = False

    def span(self, name: str, op_id: int | None = None):
        return nullcontext()


class Tracer:
    enabled = True

    def __init__(self, probe: SparkProbe):
        self.probe = probe
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, op_id: int | None = None):
        """A span for `op_id`; a nested span inherits its parent's op."""
        t = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        if op_id is None:
            op_id = parent.op_id if parent else UNTIMED_OP
        sp = Span(
            span_id=len(self.spans),
            parent=parent.span_id if parent else None,
            op_id=op_id,
            name=name,
            enter=self.probe.snapshot(),
        )
        self.spans.append(sp)
        self._stack.append(sp)
        self.overhead_s += time.perf_counter() - t
        try:
            yield sp
        finally:
            t = time.perf_counter()
            sp.exit = self.probe.snapshot()
            self._stack.pop()
            self.overhead_s += time.perf_counter() - t

    def resolve(self) -> None:
        """Attach to every span the jobs it started but its children did
        not, and the code-generation failures logged while it was open.
        Call after the timed loop."""
        if not self.spans:
            return
        first = min(s.enter.job_id for s in self.spans)
        stop = max(s.exit.job_id for s in self.spans)
        by_id = {j.job_id: j for j in self.probe.jobs(first, stop)}
        children = self.children()
        for sp in self.spans:
            own = set(range(sp.enter.job_id, sp.exit.job_id))
            for c in children[sp.span_id]:
                own -= set(range(c.enter.job_id, c.exit.job_id))
            sp.jobs = [by_id[j] for j in sorted(own)]
            sp.codegen_failures = self.probe.codegen_failures(
                sp.enter.stderr_at, sp.exit.stderr_at
            )

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {s.span_id: [] for s in self.spans}
        for s in self.spans:
            if s.parent is not None:
                out[s.parent].append(s)
        return out

    def self_seconds(self, sp: Span, children: dict[int, list[Span]]) -> float:
        """Span duration minus the part of it its child spans cover."""
        cover = clip([(c.start, c.end) for c in children[sp.span_id]], sp.start, sp.end)
        return sp.seconds - interval_union(cover)

    def subtree_jobs(self, sp: Span, children: dict[int, list[Span]]) -> list[JobRecord]:
        out = list(sp.jobs)
        for c in children[sp.span_id]:
            out += self.subtree_jobs(c, children)
        return out

    def dump(self, path: str) -> None:
        rows = []
        for s in self.spans:
            d = asdict(s)
            d["seconds"] = s.seconds
            rows.append(d)
        with open(path, "w") as f:
            json.dump(rows, f)
