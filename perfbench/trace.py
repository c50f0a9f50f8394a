"""In-memory spans and per-call scheduler counters.

A span records name, start, end, parent and run id. Spans that ask for
counters run their Spark jobs under a job group of their own — unique
per call, because ``statusTracker().getJobIdsForGroup`` accumulates over
every job ever tagged with a group name — and read jobs, stages, tasks
and failed tasks back from the status tracker when they close. A
span's counters include those of its children.

``NullTracer`` keeps the same interface and records nothing, so the
untraced run executes exactly the code path of the traced one minus the
bookkeeping; the difference of their end-to-end times is the tracing
overhead.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

_JOB_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    id: int
    name: str
    run_id: str
    parent: int | None
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class NullTracer:
    enabled = False

    @contextmanager
    def span(self, name: str, counters: bool = False):
        yield None


class Tracer:
    enabled = True

    def __init__(self, sc, run_id: str) -> None:
        self.sc = sc
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        # seconds spent in the tracer's own Spark calls (job-group
        # switches and status-tracker reads)
        self.bookkeeping_s = 0.0

    @contextmanager
    def span(self, name: str, counters: bool = False):
        parent = self._stack[-1] if self._stack else None
        sp = Span(next(self._ids), name, self.run_id, parent and parent.id, 0.0)
        group = outer = None
        if counters:
            t = time.perf_counter()
            outer = self.sc.getLocalProperty(_JOB_GROUP)
            group = f"{self.run_id}/{sp.id}/{name}"
            self.sc.setLocalProperty(_JOB_GROUP, group)
            self.bookkeeping_s += time.perf_counter() - t
        self._stack.append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self.spans.append(sp)
            if counters:
                self.sc.setLocalProperty(_JOB_GROUP, outer)
                sp.counters = self.job_counters(self.group_job_ids(group))
                for child in self.children(sp):
                    for k, v in child.counters.items():
                        sp.counters[k] = sp.counters.get(k, 0) + v
                self.bookkeeping_s += time.perf_counter() - sp.end

    def group_job_ids(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def job_counters(self, job_ids) -> dict:
        """Jobs, stages, tasks and failed tasks of the given job ids."""
        st = self.sc.statusTracker()
        jobs = stages = tasks = failed = 0
        for jid in job_ids:
            jobs += 1
            info = st.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                stage = st.getStageInfo(sid)
                if stage is None:
                    continue
                stages += 1
                tasks += stage.numTasks
                failed += stage.numFailedTasks
        return {"jobs": jobs, "stages": stages, "tasks": tasks, "failed_tasks": failed}

    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.id]

    def self_seconds(self, sp: Span) -> float:
        """Span duration minus the union of its children's intervals."""
        ivs = sorted((c.start, c.end) for c in self.children(sp))
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return sp.seconds - covered

    def find(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                row = asdict(s)
                row["self_s"] = self.self_seconds(s)
                f.write(json.dumps(row) + "\n")


@contextmanager
def traced_layers(tracer: Tracer):
    """Wrap the package's eager layer entry points in spans for the
    duration of the block: the broadcast-CSR build and kernel, the
    triangle cost probe, and every superstep loop (with its own job
    group, so jobs per superstep can be read back)."""
    from paralleltrianglecounting_spark.operators import csr, triangles
    from paralleltrianglecounting_spark.plans.superstep import SuperstepRunner

    def wrap(fn, name, counters=False):
        def traced(*args, **kwargs):
            with tracer.span(name, counters=counters):
                return fn(*args, **kwargs)

        return traced

    patches = [
        (csr, "build_oriented_csr", "csr.build_oriented_csr", False),
        (csr, "cumulative_row_cost", "csr.cumulative_row_cost", False),
        (csr, "run_slabs_local", "csr.run_slabs_local", False),
        (triangles, "strategy_cost_estimate", "triangles.strategy_cost_estimate", True),
        (SuperstepRunner, "run", "superstep.run", True),
    ]
    saved = [(owner, attr, getattr(owner, attr)) for owner, attr, _, _ in patches]
    try:
        for owner, attr, name, counters in patches:
            setattr(owner, attr, wrap(getattr(owner, attr), name, counters))
        yield
    finally:
        for owner, attr, fn in saved:
            setattr(owner, attr, fn)
