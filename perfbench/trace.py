"""Spans and Spark counters recorded at layer boundaries.

The benchmark times its own calls into each layer's public functions;
nothing inside ``sqltask_spark`` is instrumented. A span is
``{name, start, end, parent, workload, op_id}``. When tracing is on,
each span also runs under its own Spark job group, so the jobs a
layer call launched (and, through them, its stages) can be read back
from ``statusTracker().getJobIdsForGroup`` and the UI's REST API at
the end of the run. With tracing off, :meth:`Tracer.span` records
nothing and sets no job group.
"""

from __future__ import annotations

import contextlib
import json
import time
import urllib.request
from collections import defaultdict
from dataclasses import asdict, dataclass, field

#: ``op_id`` of the spans of a workload's once-per-run pass (traced runs),
#: as opposed to the closed loop's operations 0, 1, ...
ONCE = -1

STAGE_FIELDS = {
    "shuffle_write_bytes": "shuffleWriteBytes",
    "spill_bytes": ("memoryBytesSpilled", "diskBytesSpilled"),
    "gc_s": "jvmGcTime",
    "executor_run_s": "executorRunTime",
}


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: int | None
    workload: str
    op_id: int | None
    #: Spark jobs run while this span (not a child) held the job group
    jobs: list[int] = field(default_factory=list)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of it its children cover. Children
    of one span run one after another on the single client thread, so
    their durations do not overlap."""
    child = defaultdict(float)
    for s in spans:
        if s.parent is not None:
            child[s.parent] += s.end - s.start
    return {s.span_id: (s.end - s.start) - child[s.span_id] for s in spans}


def check_nesting(spans: list[Span]) -> list[str]:
    """Problems with a span tree: a child outside its parent's interval
    or a parent that does not exist."""
    by_id = {s.span_id: s for s in spans}
    out = []
    for s in spans:
        if s.end < s.start:
            out.append(f"{s.name}: ends before it starts")
        if s.parent is None:
            continue
        p = by_id.get(s.parent)
        if p is None:
            out.append(f"{s.name}: unknown parent {s.parent}")
        elif s.start < p.start or s.end > p.end:
            out.append(f"{s.name}: outside parent {p.name}")
    return out


class Tracer:
    """Records spans for one workload run. ``enabled=False`` makes every
    span a no-op; ``spark=None`` records spans without job groups."""

    def __init__(self, spark, workload: str, enabled: bool) -> None:
        self.spark = spark
        self.workload = workload
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.op_id: int | None = None
        self.counts: dict[tuple[str, int | None], float] = defaultdict(float)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(
            span_id=len(self.spans),
            name=name,
            start=time.perf_counter(),
            end=0.0,
            parent=parent.span_id if parent else None,
            workload=self.workload,
            op_id=self.op_id,
        )
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)

    def count(self, name: str, value: float) -> None:
        """Add ``value`` to a per-operation counter (traced runs only)."""
        if self.enabled:
            self.counts[(name, self.op_id)] += value

    def _group(self, s: Span) -> str:
        return f"pb-{s.span_id}"

    def _set_group(self, s: Span | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if s is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(self._group(s), s.name)

    def collect_jobs(self) -> None:
        """Fill each span's own job ids from the status tracker."""
        if self.spark is None:
            return
        tracker = self.spark.sparkContext.statusTracker()
        for s in self.spans:
            s.jobs = sorted(tracker.getJobIdsForGroup(self._group(s)))

    def stage_metrics(self) -> dict[int, dict[str, float]]:
        """Per-span sums of stage counters (own jobs only), read from the
        UI's REST API. Empty when the UI is off."""
        sc = self.spark.sparkContext if self.spark is not None else None
        url = sc.uiWebUrl if sc is not None else None
        if not url:
            return {}
        # the UI listens on every interface; ask it on the loopback one
        port = url.rsplit(":", 1)[1]
        with urllib.request.urlopen(
            f"http://localhost:{port}/api/v1/applications/{sc.applicationId}/stages", timeout=30
        ) as r:
            stages = {}
            for st in json.load(r):
                agg = stages.setdefault(st["stageId"], defaultdict(float))
                for key, src in STAGE_FIELDS.items():
                    srcs = src if isinstance(src, tuple) else (src,)
                    agg[key] += sum(float(st.get(x, 0)) for x in srcs)
        tracker = sc.statusTracker()
        out = {}
        for s in self.spans:
            acc = defaultdict(float)
            for j in s.jobs:
                info = tracker.getJobInfo(j)
                for sid in info.stageIds if info else ():
                    for k, v in stages.get(sid, {}).items():
                        acc[k] += v
            acc["gc_s"] /= 1000.0
            acc["executor_run_s"] /= 1000.0
            out[s.span_id] = dict(acc)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)
