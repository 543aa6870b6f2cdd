"""In-memory spans around the benchmark's calls into each engine layer.

A span records its name, layer, start, end, parent span and request id.
While a span is open its Spark jobs run under a job group of its own, so
the status tracker attributes jobs, completed tasks and failed tasks to
the innermost span that fired them. Spans stay in memory until the run
ends; :meth:`Tracer.resolve_jobs` then reads the attribution once, after
Spark's listener bus has drained.

A disabled tracer records nothing and sets no job group, so the untraced
run pays one attribute check per call.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import asdict, dataclass, field

LAYERS = ("session", "catalog", "sources", "pipeline", "functions",
          "plans", "operators", "sinks", "streaming", "action")

_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description",
                "spark.job.interruptOnCancel")


@dataclass
class Span:
    sid: int
    name: str            # "<layer>.<call>", or "bench.<step>" for the root
    start: float
    end: float = 0.0
    parent: int | None = None
    request: int | None = None
    error: bool = False
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


@dataclass
class Tracer:
    enabled: bool
    sc: object | None = None          # SparkContext, set once it exists
    spans: list[Span] = field(default_factory=list)
    counters: dict[str, float] = field(default_factory=dict)
    _stack: list[int] = field(default_factory=list)
    _request: int | None = None

    def count(self, name: str, n: float = 1) -> None:
        if self.enabled:
            self.counters[name] = self.counters.get(name, 0) + n

    @contextlib.contextmanager
    def request(self, rid: int):
        """Tag every span opened inside with request id ``rid``."""
        prev, self._request = self._request, rid
        try:
            yield
        finally:
            self._request = prev

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sp = Span(sid=len(self.spans), name=name, start=time.perf_counter(),
                  parent=self._stack[-1] if self._stack else None,
                  request=self._request)
        self.spans.append(sp)
        self._stack.append(sp.sid)
        saved = self._set_group(f"pb-span-{sp.sid}", name)
        try:
            yield sp
        except BaseException:
            sp.error = True
            raise
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._restore_group(saved)

    def _set_group(self, group: str, desc: str):
        if self.sc is None:
            return None
        saved = [self.sc.getLocalProperty(k) for k in _GROUP_PROPS]
        self.sc.setJobGroup(group, desc)
        return saved

    def _restore_group(self, saved) -> None:
        # restore, not clear: a span inside a streaming callback runs on
        # the stream's own thread, whose job group the stream set itself
        if self.sc is None or saved is None:
            return
        for k, v in zip(_GROUP_PROPS, saved):
            self.sc.setLocalProperty(k, v)

    def resolve_jobs(self) -> None:
        """Fill each span's job, task and failed-task counts."""
        if not self.enabled or self.sc is None:
            return
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(60_000)
        st = self.sc.statusTracker()
        for sp in self.spans:
            for jid in st.getJobIdsForGroup(f"pb-span-{sp.sid}"):
                sp.jobs += 1
                info = st.getJobInfo(jid)
                for sid in (info.stageIds if info else []):
                    si = st.getStageInfo(sid)
                    if si is not None:
                        sp.tasks += si.numCompletedTasks
                        sp.failed_tasks += si.numFailedTasks

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({"spans": [asdict(s) for s in self.spans],
                       "counters": self.counters}, fh)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of its interval that its direct
    children cover (children may overlap each other; the union counts
    once)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(kids.get(s.sid, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.sid] = (s.end - s.start) - covered
    return out


def by_name(spans: list[Span], name: str) -> list[Span]:
    return [s for s in spans if s.name == name]


def durations(spans: list[Span], name: str) -> list[float]:
    return [s.end - s.start for s in by_name(spans, name)]
