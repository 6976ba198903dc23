"""Tracing of the engine's layers for the benchmark.

The tracer wraps the public calls of each layer from outside the package
(no engine source change), records one span per call, and afterwards
attributes every Spark job of the traced window to the innermost span open
when the job was submitted, with task time and I/O read from Spark's
status store.

The engine runs one epoch at a time, so spans nest in time even when an
epoch runs on the streaming callback thread: one process-wide span stack
gives every span its parent.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from dataclasses import asdict, dataclass

from nvimagecodec_spark.lakehouse import table as table_mod
from nvimagecodec_spark.operators import merge as merge_mod
from nvimagecodec_spark.operators import schema_events as schema_mod
from nvimagecodec_spark.sources import changelog as changelog_mod
from nvimagecodec_spark.streaming import engine as engine_mod

# (span name, owner object, attribute). Module-level functions that the
# engine imports by name are patched in the engine module as well.
SPANS = [
    ("sources.max_lsn", changelog_mod.ChangeStream, "max_lsn"),
    ("sources.lsn_counts", changelog_mod.ChangeStream, "lsn_counts"),
    ("streaming.run_incremental", engine_mod.CdcEngine, "run_incremental"),
    ("streaming.run_stream", engine_mod.CdcEngine, "run_stream"),
    ("streaming.apply_epoch", engine_mod.CdcEngine, "apply_epoch"),
    ("operators.apply_schema_events", schema_mod, "apply_schema_events"),
    ("operators.reextract_payloads", schema_mod, "reextract_payloads"),
    ("operators.merge_into", merge_mod, "merge_into"),
    ("lakehouse.replace_buckets", table_mod.LakeTable, "replace_buckets"),
    ("lakehouse.expire_snapshots", table_mod.LakeTable, "expire_snapshots"),
]
SPAN_NAMES = [s[0] for s in SPANS]
STRATEGIES = ["initial-load", "broadcast", "sort-merge", "delta-append"]
# per-span metrics: suffix -> unit
SPAN_METRICS = {
    "calls": "count",
    "wall_s": "s",
    "self_s": "s",
    "jobs": "count",
    "task_s": "s",
    "input_records": "count",
    "shuffle_write_bytes": "B",
    "output_bytes": "B",
}

# every per-layer metric the traced run prints -> unit
PER_LAYER_UNITS = {f"{n}.{k}": u for n in SPAN_NAMES for k, u in SPAN_METRICS.items()}
PER_LAYER_UNITS.update({
    "streaming.jobs_per_epoch": "count",
    "streaming.unattributed_jobs": "count",
    "sources.input_records_per_event": "count",
    **{f"operators.merge_into.strategy.{s}": "count" for s in STRATEGIES},
    "trace.overhead_frac": "frac",
})


@dataclass
class Span:
    id: int
    name: str
    start: float  # time.time() seconds, the clock Spark stamps jobs with
    end: float
    parent: int | None
    epoch: int | None


class Tracer:
    """Record spans around the layer calls while installed (a context
    manager); ``report`` turns spans plus status-store jobs into metrics."""

    def __init__(self):
        self.spans: list[Span] = []
        self.strategies: dict[str, int] = {}
        self._stack: list[Span] = []
        self._lock = threading.Lock()
        self._saved: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ recording
    def _wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer._lock:
                parent = tracer._stack[-1] if tracer._stack else None
                epoch = parent.epoch if parent else None
                if name == "streaming.apply_epoch":
                    epoch = kwargs.get("batch_id", args[2] if len(args) > 2 else None)
                span = Span(len(tracer.spans), name, time.time(), 0.0,
                            parent.id if parent else None, epoch)
                tracer.spans.append(span)
                tracer._stack.append(span)
            try:
                out = fn(*args, **kwargs)
            finally:
                with tracer._lock:
                    span.end = time.time()
                    tracer._stack.remove(span)
            if name == "operators.merge_into":
                with tracer._lock:
                    tracer.strategies[out.strategy] = tracer.strategies.get(out.strategy, 0) + 1
            return out

        return traced

    def __enter__(self) -> "Tracer":
        for name, owner, attr in SPANS:
            orig = getattr(owner, attr)
            wrapped = self._wrap(name, orig)
            targets = [owner]
            if owner is not engine_mod.CdcEngine and getattr(engine_mod, attr, None) is orig:
                targets.append(engine_mod)
            for t in targets:
                self._saved.append((t, attr, t.__dict__[attr]))
                setattr(t, attr, wrapped)
        return self

    def __exit__(self, *exc) -> None:
        for t, attr, orig in reversed(self._saved):
            setattr(t, attr, orig)
        self._saved.clear()

    def write_jsonl(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")

    # ------------------------------------------------------------ reporting
    def self_times(self) -> dict[int, float]:
        """Span duration minus its children's (children never overlap:
        calls are sequential)."""
        out = {s.id: s.end - s.start for s in self.spans}
        for s in self.spans:
            if s.parent is not None:
                out[s.parent] -= s.end - s.start
        return out

    def innermost(self, t: float) -> Span | None:
        """Deepest span open at time ``t`` (later starts nest deeper)."""
        best = None
        for s in self.spans:
            if s.start <= t <= s.end and (best is None or s.start >= best.start):
                best = s
        return best

    def report(self, jobs: list[dict], first_job_id: int, epochs: int,
               events: int) -> dict[str, float]:
        """Every PER_LAYER_UNITS metric but ``trace.overhead_frac``, which
        needs the untraced run (zero for a layer that never ran)."""
        m = {f"{n}.{k}": 0.0 for n in SPAN_NAMES for k in SPAN_METRICS}
        selfs = self.self_times()
        for s in self.spans:
            m[f"{s.name}.calls"] += 1
            m[f"{s.name}.self_s"] += selfs[s.id]
            m[f"{s.name}.wall_s"] += s.end - s.start
        ids = {j["job_id"] for j in jobs}
        last_id = max(ids, default=first_job_id)
        # jobs the store no longer holds (evicted) or that fall outside
        # every span
        unattributed = len(set(range(first_job_id + 1, last_id + 1)) - ids)
        attributed = 0
        for j in jobs:
            span = self.innermost(j["submitted"])
            if span is None:
                unattributed += 1
                continue
            attributed += 1
            p = span.name
            m[f"{p}.jobs"] += 1
            m[f"{p}.task_s"] += j["task_s"]
            m[f"{p}.input_records"] += j["input_records"]
            m[f"{p}.shuffle_write_bytes"] += j["shuffle_write_bytes"]
            m[f"{p}.output_bytes"] += j["output_bytes"]
        m["streaming.jobs_per_epoch"] = attributed / epochs if epochs else 0.0
        m["streaming.unattributed_jobs"] = float(unattributed)
        scanning = [n for n in SPAN_NAMES if n.split(".")[0] in ("sources", "streaming")]
        scanning += ["operators.apply_schema_events", "operators.merge_into"]
        m["sources.input_records_per_event"] = (
            sum(m[f"{n}.input_records"] for n in scanning) / events if events else 0.0
        )
        for st in STRATEGIES:
            m[f"operators.merge_into.strategy.{st}"] = float(self.strategies.get(st, 0))
        return m


def last_job_id(sc) -> int:
    """Highest job id the status store holds (-1 when none)."""
    jl = sc._jsc.sc().statusStore().jobsList(None)
    return max((jl.apply(i).jobId() for i in range(jl.size())), default=-1)


def collect_jobs(sc, after_job_id: int) -> list[dict]:
    """Jobs with id > ``after_job_id`` from the status store, each with its
    submission time and the metrics of the stages it ran. A stage that a
    later job reuses (skipped there) is counted once, for the job that ran
    it first."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    jl = store.jobsList(None)
    raw = []
    for i in range(jl.size()):
        j = jl.apply(i)
        if j.jobId() > after_job_id and j.submissionTime().isDefined():
            sids = j.stageIds()
            raw.append((j.jobId(), j.submissionTime().get().getTime(),
                        [sids.apply(k) for k in range(sids.size())]))
    raw.sort()
    seen: set[tuple[int, int]] = set()
    jobs = []
    for job_id, sub_ms, stage_ids in raw:
        agg = {"task_s": 0.0, "input_records": 0, "shuffle_write_bytes": 0, "output_bytes": 0}
        for sid in stage_ids:
            attempts = store.stageData(sid, False, None, False, None)
            for k in range(attempts.size()):
                st = attempts.apply(k)
                key = (sid, st.attemptId())
                if str(st.status()) == "SKIPPED" or key in seen:
                    continue
                seen.add(key)
                agg["task_s"] += st.executorRunTime() / 1000.0
                agg["input_records"] += st.inputRecords()
                agg["shuffle_write_bytes"] += st.shuffleWriteBytes()
                agg["output_bytes"] += st.outputBytes()
        # millisecond stamp: take the middle of the millisecond
        jobs.append({"job_id": job_id, "submitted": (sub_ms + 0.5) / 1000.0, **agg})
    return jobs
