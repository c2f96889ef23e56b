"""Spans around the engine's public calls, with the Spark work each call ran.

A span records name, start, end, parent and request id. Its Spark jobs are
the job ids the DAG scheduler assigned between its start and its end: with
one client thread that attribution is exact, and it also catches jobs that
``build``'s auxiliary thread pool submits on the caller's behalf (a job
group would miss those). Spans stay in memory; their Spark counters are
read from the JVM ``AppStatusStore`` once, after the measured loop, so the
loop itself pays only two py4j calls per span.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

COUNTERS = (
    "wall_ms", "driver_ms", "jobs", "tasks", "executor_run_ms",
    "executor_cpu_ms", "shuffle_bytes", "input_bytes", "spill_bytes",
)

# build_index names its jobs with these descriptions; everything else it
# runs (posting encode, shard write) carries no description
BUILD_LABELS = ("corpus stats", "terms table", "shard lineage", "doclens lineage")


@dataclass
class Span:
    name: str
    request: str | None
    parent: "Span | None"
    phase: str
    start: float
    first_job: int
    end: float = 0.0
    last_job: int = 0  # exclusive
    counters: dict = field(default_factory=dict)
    labels: dict = field(default_factory=dict)

    @property
    def wall_ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    """Records spans when ``enabled``; otherwise every call is a no-op."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.phase = "setup"
        self.spans: list[Span] = []
        self.overhead_s = 0.0  # time spent inside span bookkeeping
        self._stack: list[Span] = []
        self._sc = spark.sparkContext
        self._dag = self._sc._jsc.sc().dagScheduler()

    @contextmanager
    def span(self, name: str, request: str | None = None):
        if not self.enabled:
            yield None
            return
        t0 = time.time()
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, request if request is not None else getattr(parent, "request", None),
                  parent, self.phase, start=0.0, first_job=self._dag.nextJobId())
        self._stack.append(sp)
        sp.start = time.time()
        self.overhead_s += sp.start - t0
        try:
            yield sp
        finally:
            sp.end = time.time()
            sp.last_job = self._dag.nextJobId()
            self._stack.pop()
            self.spans.append(sp)
            self.overhead_s += time.time() - sp.end

    def resolve(self) -> None:
        """Attach Spark counters to every span (call after the loop)."""
        if not self.spans:
            return
        jobs = job_table(self._sc, min(s.first_job for s in self.spans),
                         max(s.last_job for s in self.spans))
        for sp in self.spans:
            sp.counters, sp.labels = job_counters(jobs, sp.first_job, sp.last_job,
                                                  sp.start, sp.end)

    def layer_spans(self, name: str) -> list[Span]:
        """The measured-phase calls of a layer, or its set-up calls when
        the workload only runs that layer while setting up."""
        spans = [s for s in self.spans if s.name == name]
        timed = [s for s in spans if s.phase == "timed"]
        return timed or spans


def job_table(sc, lo: int, hi: int) -> dict:
    """job id → (submit_s, complete_s, description, {stage id: counters})
    for the jobs ``lo``..``hi - 1``, read from the JVM status store."""
    jsc = sc._jsc.sc()
    try:
        jsc.listenerBus().waitUntilEmpty(30_000)
    except Exception:  # noqa: BLE001 - private API; fall back to a pause
        time.sleep(2.0)
    store, tracker = jsc.statusStore(), sc.statusTracker()
    out = {}
    for j in range(lo, hi):
        try:
            jd = store.job(j)
        except Exception:  # noqa: BLE001 - job evicted or never registered
            continue
        sub = jd.submissionTime()
        comp = jd.completionTime()
        desc = jd.description()
        info = tracker.getJobInfo(j)
        stages = {}
        for sid in (info.stageIds if info is not None else []):
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - skipped stage: never attempted
                continue
            stages[sid] = {
                "tasks": st.numCompleteTasks(),
                "executor_run_ms": st.executorRunTime(),
                "executor_cpu_ms": st.executorCpuTime() / 1e6,
                "shuffle_bytes": st.shuffleReadBytes() + st.shuffleWriteBytes(),
                "input_bytes": st.inputBytes(),
                "spill_bytes": st.memoryBytesSpilled() + st.diskBytesSpilled(),
            }
        out[j] = (
            sub.get().getTime() / 1000.0 if sub.isDefined() else None,
            comp.get().getTime() / 1000.0 if comp.isDefined() else None,
            desc.get() if desc.isDefined() else None,
            stages,
        )
    return out


def job_counters(jobs: dict, first: int, last: int, start: float, end: float
                 ) -> tuple[dict, dict]:
    """Counters of the jobs ``first``..``last - 1`` run within the interval
    ``start``..``end`` (epoch seconds), and executor ms per build label."""
    c = dict.fromkeys(COUNTERS, 0.0)
    c["wall_ms"] = (end - start) * 1000.0
    labels = dict.fromkeys([*BUILD_LABELS, "unlabelled"], 0.0)
    intervals = []
    seen_stages = set()
    for j in range(first, last):
        if j not in jobs:
            continue
        sub, comp, desc, stages = jobs[j]
        c["jobs"] += 1
        if sub is not None and comp is not None:
            intervals.append((max(sub, start), min(comp, end)))
        run_ms = 0.0
        for sid, st in stages.items():
            if sid in seen_stages:
                continue
            seen_stages.add(sid)
            for k, v in st.items():
                c[k] += v
            run_ms += st["executor_run_ms"]
        label = next((lb for lb in BUILD_LABELS if desc and lb in desc), "unlabelled")
        labels[label] += run_ms
    c["driver_ms"] = max(0.0, c["wall_ms"] - _union_ms(intervals))
    return c, labels


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(i for i in intervals if i[1] > i[0]):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total * 1000.0


def layer_metrics(tracer: Tracer, layers: list[str]) -> dict[str, float]:
    """Median per call of every counter, for each named layer."""
    out = {}
    for name in layers:
        spans = tracer.layer_spans(name)
        for k in COUNTERS:
            vals = [s.counters[k] for s in spans]
            out[f"{name}.{k}"] = statistics.median(vals) if vals else 0.0
    return out


def build_label_metrics(tracer: Tracer) -> dict[str, float]:
    spans = tracer.layer_spans("build.build_index")
    out = {}
    for lb in [*BUILD_LABELS, "unlabelled"]:
        vals = [s.labels[lb] for s in spans]
        key = lb.replace(" ", "_")
        out[f"build.build_index.{key}.executor_run_ms"] = (
            statistics.median(vals) if vals else 0.0
        )
    return out


def self_ms(tracer: Tracer) -> dict[int, float]:
    """Each span's self time: its duration minus the part of it that its
    child spans cover. Keyed by ``id(span)``."""
    children: dict[int, list[Span]] = {}
    for s in tracer.spans:
        if s.parent is not None:
            children.setdefault(id(s.parent), []).append(s)
    return {id(s): s.wall_ms - _union_ms([(c.start, c.end) for c in children.get(id(s), [])])
            for s in tracer.spans}


def unattributed_share(tracer: Tracer, ops: list[str]) -> float:
    """Largest share of an op's wall time not covered by its layer spans."""
    own = self_ms(tracer)
    return max((own[id(s)] / s.wall_ms for s in tracer.spans
                if s.name in ops and s.phase == "timed" and s.wall_ms > 0), default=0.0)


def dump(tracer: Tracer, path: str) -> None:
    """Write every span, one JSON object per line."""
    ids = {id(s): i for i, s in enumerate(tracer.spans)}
    own = self_ms(tracer)
    with open(path, "w") as f:
        for i, s in enumerate(tracer.spans):
            f.write(json.dumps({
                "id": i, "name": s.name, "request": s.request, "phase": s.phase,
                "parent": ids.get(id(s.parent)), "start": s.start, "end": s.end,
                "self_ms": own[id(s)], "job_ids": [s.first_job, s.last_job], **s.counters,
            }) + "\n")
