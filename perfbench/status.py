"""Per-layer attribution for one benchmark iteration.

- :class:`Tracer` tags the Spark jobs each layer starts with a job group
  unique to (iteration, layer) and, when asked, records spans (name, start,
  end, parent) for self time. Tagging adds no Spark job.
- :func:`read_window` reads Spark's status store after the clock stops and
  sums stage metrics per job group, plus the total over every stage the
  iteration submitted, so a job that escaped its layer's tag shows up as a
  mismatch instead of vanishing.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

MB = 1024 * 1024


@dataclass
class StageTotals:
    """Summed stage metrics. Integers as Spark reports them (ms, bytes), so
    per-layer sums can be compared with the iteration total exactly."""

    stages: int = 0
    tasks: int = 0
    run_ms: int = 0
    shuffle_write: int = 0
    shuffle_read: int = 0
    spill: int = 0

    def add(self, other: StageTotals) -> None:
        for k, v in asdict(other).items():
            setattr(self, k, getattr(self, k) + v)


@dataclass
class Span:
    name: str
    start: float
    end: float | None = None
    parent: int | None = None  # index into Tracer.spans


class Tracer:
    """Job-group tagging and (optionally) spans for one iteration.

    ``layer(name)`` nests; ``switch(name)`` closes the innermost layer and
    opens a sibling, for boundaries that only a callback can see (the
    ``on_stage`` hook of ``tiers.tiered_dedup``). Jobs started outside every
    layer carry the iteration's own tag, which no layer owns, so the
    per-layer sums then fall short of the iteration total."""

    def __init__(self, sc, run_id: str, record_spans: bool):
        self.sc = sc
        self.run_id = run_id
        self.record_spans = record_spans
        self.spans: list[Span] = []
        self._stack: list[tuple[str, int | None]] = []
        self.seen: list[str] = []  # layer names in first-entry order

    def tag(self, layer: str | None) -> str:
        return f"{self.run_id}/{layer}" if layer else self.run_id

    def _set_group(self, layer: str | None) -> None:
        tag = self.tag(layer)
        self.sc.setJobGroup(tag, tag)

    def _enter(self, name: str) -> None:
        idx = None
        if self.record_spans:
            parent = self._stack[-1][1] if self._stack else None
            self.spans.append(Span(name, time.perf_counter(), parent=parent))
            idx = len(self.spans) - 1
        self._stack.append((name, idx))
        if name not in self.seen:
            self.seen.append(name)
        self._set_group(name)

    def _exit(self) -> None:
        _, idx = self._stack.pop()
        if idx is not None:
            self.spans[idx].end = time.perf_counter()
        self._set_group(self._stack[-1][0] if self._stack else None)

    @contextmanager
    def layer(self, name: str):
        self._enter(name)
        try:
            yield
        finally:
            self._exit()

    def switch(self, name: str) -> None:
        self._exit()
        self._enter(name)

    def wall_and_self(self) -> dict[str, tuple[float, float]]:
        """{layer: (wall_s, self_s)} summed over the layer's spans. Self time
        is a span's duration minus the durations of its child spans (children
        run one after another, so they never overlap)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, tuple[float, float]] = {}
        for i, s in enumerate(self.spans):
            wall = s.end - s.start
            w, slf = out.get(s.name, (0.0, 0.0))
            out[s.name] = (w + wall, slf + wall - child[i])
        return out

    def span_dump(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


def _status_store(sc):
    return sc._jsc.sc().statusStore()


def drain_listener(sc) -> None:
    """Block until the listener bus has delivered every event, so the status
    store holds the final metrics of every stage that has ended."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def _stage_seq(sc):
    """All stage attempts in the status store, a Scala ``Seq``."""
    jvm = sc._jvm
    empty = jvm.java.util.ArrayList()
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    return _status_store(sc).stageList(empty, False, False, no_quantiles,
                                       empty)


def _newest_first(seq):
    """Stage attempts from the newest stage id down. The store keeps them
    sorted by stage id (descending on pyspark 4.1); both ends are checked so
    either order reads correctly."""
    n = seq.length()
    indices = range(n)
    if n > 1 and seq.apply(0).stageId() < seq.apply(n - 1).stageId():
        indices = range(n - 1, -1, -1)
    for i in indices:
        yield seq.apply(i)


def last_stage_id(sc) -> int:
    """Highest stage id Spark has recorded so far (-1 before any job)."""
    drain_listener(sc)
    return next((s.stageId() for s in _newest_first(_stage_seq(sc))), -1)


def _description(stage) -> str | None:
    desc = stage.description()  # scala.Option[String]
    return desc.get() if desc.isDefined() else None


@dataclass
class Window:
    """Stage metrics of the stages with ids in (lo, hi]."""

    total: StageTotals = field(default_factory=StageTotals)
    by_group: dict[str | None, StageTotals] = field(default_factory=dict)


def read_window(sc, lo: int, hi: int) -> Window:
    drain_listener(sc)
    win = Window()
    for s in _newest_first(_stage_seq(sc)):
        sid = s.stageId()
        if sid > hi:
            continue
        if sid <= lo:
            break
        t = StageTotals(
            stages=1,
            tasks=(s.numCompleteTasks() + s.numFailedTasks()
                   + s.numKilledTasks()),
            run_ms=s.executorRunTime(),
            shuffle_write=s.shuffleWriteBytes(),
            shuffle_read=s.shuffleReadBytes(),
            spill=s.diskBytesSpilled(),
        )
        win.total.add(t)
        win.by_group.setdefault(_description(s), StageTotals()).add(t)
    return win


def layer_metrics(tracer: Tracer, win: Window,
                  layers: list[str]) -> dict[str, dict[str, float]]:
    """The eight per-layer metrics for each name in ``layers`` (zeros for a
    layer this iteration never entered). Status-store figures belong to the
    innermost layer that was open when the job ran."""
    times = tracer.wall_and_self()
    tracker = tracer.sc.statusTracker()
    out = {}
    for name in layers:
        tag = tracer.tag(name)
        t = win.by_group.get(tag, StageTotals())
        wall, slf = times.get(name, (0.0, 0.0))
        out[name] = {
            "wall_s": wall,
            "self_s": slf,
            "jobs": len(tracker.getJobIdsForGroup(tag)),
            "tasks": t.tasks,
            "task_core_s": t.run_ms / 1000.0,
            "shuffle_write_mb": t.shuffle_write / MB,
            "shuffle_read_mb": t.shuffle_read / MB,
            "spill_mb": t.spill / MB,
        }
    return out


def untagged_run_ms(tracer: Tracer, win: Window) -> int:
    """Executor ms in the window that no layer of ``tracer`` owns: 0 when the
    per-layer ``task_core_s`` values sum exactly to the iteration total."""
    owned = sum(win.by_group.get(tracer.tag(n), StageTotals()).run_ms
                for n in tracer.seen)
    return win.total.run_ms - owned
