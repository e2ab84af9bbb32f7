"""In-memory span tracer for the traced run.

A span records name, start, end, parent and op id.  Each span sets its
own Spark job group on the calling thread (job groups are thread-local),
so the traced run makes every layer call on the tracing thread itself
and never through the server's handler threads.  After an op, the job,
stage and task counts of each span come from ``statusTracker()`` and the
job intervals from the status store; the intervals split a span's wall
time into in-job time and driver time.

``instrument`` wraps a few module-level functions of the engine's layers
for the duration of the traced phase, so calls that happen deep inside
``Engine.upsert`` (the coalesce merge, the snapshot commit, the zone-map
collection) show up as child spans.  The wrappers only time and count;
arguments and results pass through untouched.
"""

from __future__ import annotations

import itertools
import threading
import time
from contextlib import contextmanager

# (module path, attribute path, span name): functions that run inside an
# engine call and are looked up through their module at call time.
WRAPPED = [
    ("polars_lake_spark.engine", "Engine.upsert", "engine.upsert"),
    ("polars_lake_spark.operators.merge", "upsert", "operators.merge.upsert"),
    ("polars_lake_spark.zonemaps", "collect_zonemap", "zonemaps.collect"),
    ("polars_lake_spark.snapshots", "SnapshotStore.commit", "snapshots.commit"),
    ("polars_lake_spark.snapshots", "SnapshotStore.read", "snapshots.read"),
    ("polars_lake_spark.dml", "try_execute_dml", "dml.statement"),
]


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self.spans: list[dict] = []
        self._tls = threading.local()
        self._ids = itertools.count(1)
        self.op = None  # op id stamped on every span opened while set

    def _stack(self) -> list:
        if not hasattr(self._tls, "stack"):
            self._tls.stack = []
        return self._tls.stack

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        sid = next(self._ids)
        rec = {
            "id": sid,
            "name": name,
            "parent": stack[-1]["id"] if stack else None,
            "op": self.op,
            "group": f"perfbench-{sid}",
            **attrs,
        }
        stack.append(rec)
        self.sc.setJobGroup(rec["group"], name, False)
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["ms"] = (time.perf_counter() - t0) * 1e3
            rec["end"] = time.time()
            stack.pop()
            if stack:
                self.sc.setJobGroup(stack[-1]["group"], stack[-1]["name"], False)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)

    def resolve(self, spans: list[dict]) -> None:
        """Attach Spark counters to finished spans: each span's own jobs
        (those run under its group) and, in ``in_job_ms``, the union of
        all job intervals inside the span, children included."""
        self._jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = self._jsc.statusStore()
        by_id = {s["id"]: s for s in spans}
        for s in spans:
            jobs, stages, tasks, rows_in, intervals = 0, 0, 0, 0, []
            for jid in tracker.getJobIdsForGroup(s["group"]):
                jobs += 1
                data = store.job(jid)
                if data.submissionTime().isDefined() and data.completionTime().isDefined():
                    intervals.append((data.submissionTime().get().getTime() / 1e3,
                                      data.completionTime().get().getTime() / 1e3))
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else []:
                    st = tracker.getStageInfo(sid)
                    if st is None or st.numCompletedTasks == 0:
                        continue  # skipped (reused shuffle) stage
                    stages += 1
                    tasks += st.numCompletedTasks
                    rows_in += store.lastStageAttempt(sid).inputRecords()
            s.update(jobs=jobs, stages=stages, tasks=tasks, rows_in=rows_in,
                     total_jobs=jobs, total_stages=stages, total_tasks=tasks,
                     total_rows_in=rows_in, _intervals=intervals)
        # roll each subtree up into its root (children have larger ids)
        for s in sorted(spans, key=lambda r: -r["id"]):
            p = by_id.get(s["parent"])
            if p is not None:
                for key in ("jobs", "stages", "tasks", "rows_in"):
                    p[f"total_{key}"] += s[f"total_{key}"]
                p["_intervals"] += s["_intervals"]
        for s in spans:
            s["in_job_ms"] = _covered_ms(s.pop("_intervals"), s["start"], s["end"])
            s["driver_ms"] = max(0.0, s["ms"] - s["in_job_ms"])
            # self time: the span minus what its direct children cover
            kids = [(c["start"], c["end"]) for c in spans if c["parent"] == s["id"]]
            s["self_ms"] = max(0.0, s["ms"] - _covered_ms(kids, s["start"], s["end"]))

    def dump(self) -> list[dict]:
        return sorted(self.spans, key=lambda r: r["id"])


def _covered_ms(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi], in ms."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total * 1e3


@contextmanager
def instrument(tracer: Tracer):
    """Wrap ``WRAPPED`` so each call opens a child span; restore on exit."""
    import importlib

    saved = []
    for mod_name, attr, span_name in WRAPPED:
        owner = importlib.import_module(mod_name)
        *path, leaf = attr.split(".")
        for p in path:
            owner = getattr(owner, p)
        orig = owner.__dict__[leaf]
        saved.append((owner, leaf, orig))

        def wrapper(*a, __orig=orig, __name=span_name, **kw):
            # first string argument: the table, write dir or statement
            target = next((x for x in a if isinstance(x, str)), None)
            with tracer.span(__name, target=target):
                return __orig(*a, **kw)

        setattr(owner, leaf, wrapper)
    try:
        yield tracer
    finally:
        for owner, leaf, orig in reversed(saved):
            setattr(owner, leaf, orig)
