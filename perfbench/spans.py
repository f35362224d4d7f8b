"""Spans around calls into the engine's layers, plus Spark's job metrics.

A span is recorded in memory for each traced call: name, layer, start,
end, parent span and run id. While a span is open the Spark job group is
the span id, so ``statusTracker`` attributes every job the call starts to
it; streaming micro-batch jobs run on the query's own thread under the
query's run id, which a span adopts with :meth:`Tracer.adopt_group`.
Stage metrics are read from Spark's status store after each pass, outside
the timed region.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: str
    name: str
    layer: str
    parent: str | None
    run_id: str
    start: float
    end: float = 0.0
    groups: list[str] = field(default_factory=list)
    jobs: int = 0
    tasks: int = 0
    executor_run_ms: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0
    self_s: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when enabled; a disabled tracer adds one branch per
    call and touches neither the job group nor the status store."""

    def __init__(self, spark, run_id: str, enabled: bool) -> None:
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._pending: list[Span] = []

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        span_id = f"{self.run_id}-{len(self.spans)}"
        sp = Span(
            id=span_id,
            name=name,
            layer=layer,
            parent=parent.id if parent else None,
            run_id=self.run_id,
            start=time.perf_counter(),
            groups=[span_id],
        )
        self.spans.append(sp)
        self._pending.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp.id, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.id, parent.name)
            else:
                self.sc._jsc.clearJobGroup()

    @staticmethod
    def adopt_group(sp: Span | None, group: str) -> None:
        """Attribute the jobs of another job group (a streaming query's
        run id) to ``sp``."""
        if sp is not None:
            sp.groups.append(group)

    def collect(self) -> None:
        """Attach job and stage metrics to the spans closed since the last
        call. Waits for the listener bus so the store has every event."""
        if not self._pending:
            return
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for sp in self._pending:
            stages: set[int] = set()
            for group in sp.groups:
                for job_id in tracker.getJobIdsForGroup(group):
                    sp.jobs += 1
                    it = store.job(job_id).stageIds().iterator()
                    while it.hasNext():
                        stages.add(it.next())
            for stage_id in stages:
                sd = store.lastStageAttempt(stage_id)
                if str(sd.status()) == "SKIPPED":
                    continue
                sp.tasks += sd.numCompleteTasks()
                sp.executor_run_ms += sd.executorRunTime()
                sp.shuffle_write_bytes += sd.shuffleWriteBytes()
                sp.spill_bytes += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                sp.output_bytes += sd.outputBytes()
        for sp in self._pending:
            covered = sum(c.seconds for c in self._pending if c.parent == sp.id)
            sp.self_s = sp.seconds - covered
        self._pending = []

    def dump(self, path, extra: dict) -> None:
        """Write every span, and the self time summed per layer."""
        per_layer: dict[str, float] = {}
        for sp in self.spans:
            per_layer[sp.layer] = per_layer.get(sp.layer, 0.0) + sp.self_s
        with open(path, "w") as fh:
            json.dump(
                {
                    **extra,
                    "layer_self_s": per_layer,
                    "spans": [asdict(s) | {"seconds": s.seconds} for s in self.spans],
                },
                fh,
                indent=1,
            )
