"""Tracing for the benchmark's traced run, installed from outside the
program: the harness wraps the boundaries every stage already passes
through (``Pipeline._stage``, ``Pipeline._lineage_rows``,
``Pipeline.ingest_increment``, ``StageStore.commit/read/append``), puts a
Spark job group around each stage, and reads task counters back from the
status store, which works with ``spark.ui.enabled=false``.

Spans stay in memory; :meth:`Tracer.report` builds the per-layer metrics
and the span dump once the traced iteration has ended.
"""

from __future__ import annotations

import functools
import os
import time

from agenticknowledgegraphconstructionsystem_spark.plans.pipeline import Pipeline
from agenticknowledgegraphconstructionsystem_spark.sources.io import StageStore

#: every stage the benchmark's two pipeline shapes can commit; a stage a
#: workload does not run reports zeros
STAGES = (
    "extract",
    "mentions",
    "canonical_map",
    "entities",
    "edges",
    "relationships",
    "triples",
    "findings",
    "validated_edges",
    "graph_metrics",
)
STAGE_METRICS = {
    "wall_s": "s",
    "self_s": "s",
    "commit_s": "s",
    "lineage_s": "s",
    "tasks": "count",
    "cpu_s": "s",
    "skew": "ratio",
    "shuffle_mb": "MB",
    "spill_mb": "MB",
    "out_rows": "count",
    "out_files": "count",
}
GLOBAL_METRICS = {
    "pipeline.wall_s": "s",
    "pipeline.overhead_s": "s",
    "pipeline.busy_frac": "ratio",
    "ingest.wall_s": "s",
    "store.append_s": "s",
    "store.read_s": "s",
    "trace.overhead_s": "s",
}
MB = 1024 * 1024


def per_layer_units() -> dict[str, str]:
    units = {f"{s}.{m}": u for s in STAGES for m, u in STAGE_METRICS.items()}
    units.update(GLOBAL_METRICS)
    return units


class Span:
    __slots__ = ("name", "kind", "parent", "start", "end")

    def __init__(self, name: str, kind: str, parent: "Span | None"):
        self.name, self.kind, self.parent = name, kind, parent
        self.start = self.end = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start

    def layer(self) -> "Span | None":
        """The enclosing stage or ingest span, where counters are kept."""
        s = self
        while s is not None and s.kind not in ("stage", "ingest"):
            s = s.parent
        return s


class Tracer:
    """Wraps the pipeline's layer boundaries while installed (a context
    manager) and records one span per call."""

    def __init__(self, spark, tag: str):
        self.spark = spark
        self.tag = tag
        self.spans: list[Span] = []
        self._open: list[Span] = []
        self._patched: list[tuple[type, str, object]] = []
        self.cost = 0.0

    def group(self, span: Span) -> str:
        return f"{self.tag}:{span.name}"

    def _call(self, name: str, kind: str, fn, *args, **kwargs):
        """Run ``fn`` as one span.  The span times the call alone; what the
        tracer spends around it (job-group calls, bookkeeping) is summed in
        ``self.cost``, the tracing overhead."""
        t_enter = time.perf_counter()
        sp = Span(name, kind, self._open[-1] if self._open else None)
        self.spans.append(sp)
        self._open.append(sp)
        sc = self.spark.sparkContext
        layer = kind in ("stage", "ingest")
        if layer:
            sc.setJobGroup(self.group(sp), name)
        sp.start = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            sp.end = time.perf_counter()
            if layer:
                sc.setLocalProperty("spark.jobGroup.id", None)
            self._open.pop()
            self.cost += (time.perf_counter() - t_enter) - sp.dur

    def _wrap(self, cls: type, attr: str, kind: str, name_of) -> None:
        orig = getattr(cls, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(obj, *args, **kwargs):
            return tracer._call(name_of(args, kwargs), kind, orig, obj, *args, **kwargs)

        setattr(cls, attr, traced)
        self._patched.append((cls, attr, orig))

    def __enter__(self) -> "Tracer":
        first = lambda a, kw: a[0] if a else kw["name"]  # noqa: E731
        self._wrap(Pipeline, "_stage", "stage", first)
        self._wrap(Pipeline, "_lineage_rows", "lineage", lambda a, kw: "lineage")
        self._wrap(Pipeline, "ingest_increment", "ingest", lambda a, kw: "ingest")
        self._wrap(StageStore, "commit", "commit", lambda a, kw: "commit")
        self._wrap(StageStore, "read", "read", lambda a, kw: "read")
        self._wrap(StageStore, "append", "append", lambda a, kw: "append")
        return self

    def __exit__(self, *exc) -> None:
        for cls, attr, orig in reversed(self._patched):
            setattr(cls, attr, orig)
        self._patched.clear()

    # -- counters ------------------------------------------------------------
    def _spark_counters(self, group: str) -> dict:
        """Σ over the completed Spark stages of every job in ``group``."""
        sc = self.spark.sparkContext
        jvm_sc = sc._jsc.sc()
        status = jvm_sc.statusStore()
        tracker = sc.statusTracker()
        stage_ids = set()
        for job in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job)
            if info is not None:
                stage_ids.update(info.stageIds)
        quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        out = {"tasks": 0, "cpu_ms": 0, "shuffle": 0, "spill": 0, "skew": 1.0}
        heaviest = -1
        for sid in sorted(stage_ids):
            sd = status.lastStageAttempt(sid)
            if sd.numCompleteTasks() == 0:  # skipped: its shuffle output was reused
                continue
            out["tasks"] += sd.numCompleteTasks()
            out["cpu_ms"] += sd.executorRunTime()
            out["shuffle"] += sd.shuffleWriteBytes()
            out["spill"] += sd.memoryBytesSpilled()
            if sd.executorRunTime() > heaviest:
                heaviest = sd.executorRunTime()
                dist = status.taskSummary(sid, sd.attemptId(), quantiles)
                if dist.isDefined():
                    run_ms = dist.get().executorRunTime()
                    out["skew"] = run_ms.apply(1) / max(run_ms.apply(0), 1.0)
        return out

    def report(self, wall_s: float, store: StageStore, cores: int) -> tuple[dict, dict]:
        """(per-layer metrics, span dump) of the traced iteration."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        metrics = {name: 0.0 for name in per_layer_units()}
        top = [s for s in self.spans if s.parent is None]
        self_s = {id(s): s.dur for s in self.spans}
        for s in self.spans:
            if s.parent is not None:
                self_s[id(s.parent)] -= s.dur
        cpu_total = 0.0
        counters = {}
        for s in top:
            c = self._spark_counters(self.group(s))
            counters[s.name] = c
            cpu_total += c["cpu_ms"] / 1000
            if s.kind == "ingest":
                metrics["ingest.wall_s"] += s.dur
                continue
            if s.name not in STAGES:
                continue
            p = s.name + "."
            metrics[p + "wall_s"] += s.dur
            metrics[p + "self_s"] += self_s[id(s)]
            metrics[p + "tasks"] += c["tasks"]
            metrics[p + "cpu_s"] += c["cpu_ms"] / 1000
            metrics[p + "skew"] = c["skew"]
            metrics[p + "shuffle_mb"] += c["shuffle"] / MB
            metrics[p + "spill_mb"] += c["spill"] / MB
        for s in self.spans:
            layer = s.layer()
            if s.kind == "append":
                metrics["store.append_s"] += s.dur
            elif s.kind == "read":
                metrics["store.read_s"] += s.dur
            elif layer is not None and layer.kind == "stage" and layer.name in STAGES:
                if s.kind in ("commit", "lineage"):
                    metrics[f"{layer.name}.{s.kind}_s"] += s.dur
        for stage in STAGES:
            if store.is_committed(stage):
                m = store.manifest(stage)
                metrics[stage + ".out_rows"] = m["rows"]
                metrics[stage + ".out_files"] = sum(
                    _part_files(os.path.join(store.base_dir, stage, rel)) for rel in m["paths"]
                )
        metrics["pipeline.wall_s"] = wall_s
        metrics["pipeline.overhead_s"] = wall_s - sum(s.dur for s in top)
        metrics["pipeline.busy_frac"] = cpu_total / (wall_s * cores)
        metrics["trace.overhead_s"] = self.cost
        spans = [
            {
                "name": s.name,
                "kind": s.kind,
                "start_s": s.start - top[0].start if top else 0.0,
                "dur_s": s.dur,
                "self_s": self_s[id(s)],
                "parent": self.spans.index(s.parent) if s.parent is not None else None,
            }
            for s in self.spans
        ]
        return metrics, {"spans": spans, "spark": counters}


def _part_files(path: str) -> int:
    return sum(
        1 for _root, _dirs, files in os.walk(path) for f in files if f.startswith("part-")
    )
