"""In-memory spans around the engine's public calls, with Spark job groups.

Tracing is built from this directory alone: ``Tracer.install`` replaces
each traced name where the engine looks it up (``cdc.pipeline`` and
``lake.feed`` call their own imported ``apply_changes``; ``cdc.apply``
calls its own imported ``merge_into``; ``LakeTable`` methods are looked
up on the class), and ``uninstall`` puts the originals back. Untraced
runs never call ``install``.

Each span sets a fresh Spark job group on the calling thread (job
groups are thread-local; the stream's ``foreachBatch`` body runs on the
stream thread, which is where the patched ``apply_changes`` sets it) and
restores the previous group afterwards, so Spark's own stream group is
kept. After the run, ``spark_metrics`` reads job count, executor CPU,
input, shuffle-write and spill bytes per group from the JVM status store.
"""

from __future__ import annotations

import itertools
import threading
import time
from dataclasses import dataclass, field

_GROUP_KEYS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    group: str
    t0: float = 0.0
    t1: float = 0.0
    result: object = None
    children: list = field(default_factory=list)
    spark: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.t1 - self.t0

    @property
    def self_time(self) -> float:
        return self.dur - sum(c.dur for c in self.children)


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ spans
    def call(self, name: str, fn, *args, **kwargs):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else None
        with self._lock:
            sid = next(self._ids)
        span = Span(sid, name, parent.id if parent else None, f"perfbench-{sid}")
        prev = [self.sc.getLocalProperty(k) for k in _GROUP_KEYS]
        self.sc.setJobGroup(span.group, name)
        stack.append(span)
        span.t0 = time.perf_counter()
        try:
            span.result = fn(*args, **kwargs)
            return span.result
        finally:
            span.t1 = time.perf_counter()
            stack.pop()
            for k, v in zip(_GROUP_KEYS, prev):
                self.sc.setLocalProperty(k, v)
            with self._lock:
                self.spans.append(span)
                if parent is not None:
                    parent.children.append(span)

    def _patch(self, owner, attr: str, name: str, method: bool = False):
        orig = getattr(owner, attr)
        tracer = self
        if method:
            def wrapper(self_, *a, **kw):
                return tracer.call(name, orig, self_, *a, **kw)
        else:
            def wrapper(*a, **kw):
                return tracer.call(name, orig, *a, **kw)
        wrapper.__wrapped__ = orig
        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def install(self) -> None:
        import datax_spark.cdc.apply as apply_mod
        import datax_spark.cdc.pipeline as pipeline_mod
        import datax_spark.lake.feed as feed_mod
        import datax_spark.operators.bloom as bloom_mod
        from datax_spark.lake.table import LakeTable

        self._patch(pipeline_mod, "apply_changes", "cdc.apply")
        self._patch(feed_mod, "apply_changes", "cdc.apply")
        self._patch(apply_mod, "merge_into", "lake.merge")
        self._patch(LakeTable, "write_data_files", "table.write", method=True)
        self._patch(LakeTable, "commit", "table.commit", method=True)
        self._patch(LakeTable, "compact_buckets", "table.compact", method=True)
        self._patch(bloom_mod, "bucket_blooms_local", "bloom.build")
        self._patch(bloom_mod, "bucket_blooms", "bloom.build")

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # ----------------------------------------------------------- queries
    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def descendants(self, span: Span):
        for c in span.children:
            yield c
            yield from self.descendants(c)

    def spark_metrics(self) -> None:
        """Attach per-span Spark totals (own group + descendants' groups)
        from the status store; call once, after the measured phase."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = jsc.statusStore()
        jvm = self.sc._jvm
        empty = self.sc._gateway.new_array(jvm.double, 0)
        own: dict[str, dict] = {}
        for s in self.spans:
            m = {"jobs": 0, "cpu_s": 0.0, "input_b": 0, "shuffle_w_b": 0, "spill_b": 0}
            seen_stages = set()
            for jid in tracker.getJobIdsForGroup(s.group):
                m["jobs"] += 1
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                for sid in info.stageIds:
                    if sid in seen_stages:
                        continue
                    seen_stages.add(sid)
                    it = store.stageData(sid, False, jvm.java.util.ArrayList(), False, empty).iterator()
                    while it.hasNext():
                        st = it.next()
                        if str(st.status()) == "SKIPPED":
                            continue
                        m["cpu_s"] += st.executorCpuTime() / 1e9
                        m["input_b"] += st.inputBytes()
                        m["shuffle_w_b"] += st.shuffleWriteBytes()
                        m["spill_b"] += st.diskBytesSpilled() + st.memoryBytesSpilled()
            own[s.group] = m
        for s in self.spans:
            tot = dict(own[s.group])
            for d in self.descendants(s):
                for k, v in own[d.group].items():
                    tot[k] += v
            s.spark = tot
