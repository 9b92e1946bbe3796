"""Benchmark-side tracing: spans around calls into the program's layers.

A span records name, layer, start, end, parent and the operation id it
belongs to.  Spans are kept in memory and written out when the run ends.
While a span is open its id is the thread's Spark job group, so after the
run every job — and through the job, every stage — is attributed to the
innermost span that launched it.  Stage metrics (run, CPU and GC time,
shuffle and spill bytes) come from the live status store over py4j, which
works with the UI disabled.

With tracing off, :meth:`Tracer.span` is a no-op and nothing is patched.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from dataclasses import asdict, dataclass, field
from pathlib import Path


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    parent: int | None
    op: int | None
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    # filled by Tracer.harvest from the jobs launched under this span's group
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0

    @property
    def duration(self) -> float:
        return self.end - self.start


GROUP_PREFIX = "perfbench-span-"


def _assign(owner, attr: str, value) -> None:
    if isinstance(owner, dict):
        owner[attr] = value
    else:
        setattr(owner, attr, value)


class Tracer:
    """Spans of the traced operations of a run; disabled, it records and
    patches nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []
        self._op: int | None = None
        self._next_op = 0
        self.sc = None  # set by bind(); spans before it carry no job group
        self._children: dict[int, list[Span]] | None = None

    # -- spans --------------------------------------------------------------

    def bind(self, spark) -> None:
        self.sc = spark.sparkContext if self.enabled else None

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if parent is None:
            self._op = self._next_op
            self._next_op += 1
        s = Span(
            id=len(self.spans),
            name=name,
            layer=layer,
            start=time.perf_counter(),
            parent=parent.id if parent else None,
            op=self._op,
        )
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, s: Span | None) -> None:
        if self.sc is None:
            return
        if s is None:
            self.sc._jsc.clearJobGroup()
        else:
            self.sc.setJobGroup(f"{GROUP_PREFIX}{s.id}", s.name)

    def wrap(self, owner, attr: str, name: str, layer: str, after=None) -> None:
        """Replace ``owner.attr`` (or ``owner[attr]`` for a dict, such as a
        Flask app's view functions) by a version that runs inside a span;
        ``after(span, result, args, kwargs)`` may add attributes."""
        if not self.enabled:
            return
        original = owner[attr] if isinstance(owner, dict) else getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name, layer) as s:
                result = original(*args, **kwargs)
                if after is not None:
                    after(s, result, args, kwargs)
                return result

        self._patches.append((owner, attr, original))
        _assign(owner, attr, traced)

    def restore(self) -> None:
        for owner, attr, original in reversed(self._patches):
            _assign(owner, attr, original)
        self._patches.clear()

    # -- Spark job / stage attribution --------------------------------------

    def harvest(self, spark) -> None:
        """Attach job and stage metrics to the spans whose group launched
        them.  Call once, after the traced work, before the status store
        can evict it (1000 jobs / stages by default)."""
        if not self.enabled or not self.spans:
            return
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
        stage_owner: dict[int, Span] = {}
        for job in sorted(conv.asJava(store.jobsList(None)), key=lambda j: j.jobId()):
            group = job.jobGroup()
            gid = group.get() if group.isDefined() else ""
            if not gid.startswith(GROUP_PREFIX):
                continue
            span = self.spans[int(gid[len(GROUP_PREFIX):])]
            span.jobs += 1
            for sid in conv.asJava(job.stageIds()):
                stage_owner.setdefault(int(sid), span)
        gw = sc._gateway
        stages = conv.asJava(
            store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), gw.jvm.java.util.ArrayList())
        )
        for st in stages:
            if str(st.status()) != "COMPLETE":
                continue
            span = stage_owner.get(int(st.stageId()))
            if span is None:
                continue
            span.stages += 1
            span.tasks += int(st.numTasks())
            span.task_s += st.executorRunTime() / 1e3
            span.cpu_s += st.executorCpuTime() / 1e9
            span.gc_s += st.jvmGcTime() / 1e3
            span.shuffle_write_bytes += int(st.shuffleWriteBytes())
            span.shuffle_read_bytes += int(st.shuffleReadBytes())
            span.spill_bytes += int(st.diskBytesSpilled())

    # -- aggregation --------------------------------------------------------

    def self_time(self, span: Span) -> float:
        return span.duration - sum(c.duration for c in self.children(span))

    def children(self, span: Span) -> list[Span]:
        if self._children is None:
            self._children = {}
            for s in self.spans:
                if s.parent is not None:
                    self._children.setdefault(s.parent, []).append(s)
        return self._children.get(span.id, [])

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: Path) -> None:
        path.write_text(json.dumps([asdict(s) for s in self.spans]))
