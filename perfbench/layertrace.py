"""Outside-in layer trace for the benchmark's traced run.

Spans are opened only in the benchmark's own files, around calls into the
``sparkrdf`` modules. Each span tags the Spark jobs it starts with its own
job group, so after the run the Spark status store (which works with the UI
disabled) gives, per span:

- ``wall_s``     self time: span duration minus its child spans;
- ``driver_s``   self time during which none of the span's own jobs ran,
  i.e. the Python / py4j / driver-loop share;
- ``jobs``       Spark jobs the span started;
- ``executor_s`` summed executor run time of those jobs' stages;
- ``shuffle_write_bytes`` and ``spill_bytes`` (disk spill) of those stages;
- ``skew``       max / median task input (input + shuffle-read bytes) of the
  span's largest stage; max / mean when the median task reads nothing;
- ``exchanges``  Exchange nodes in the final executed plans of the span's
  SQL executions.

Spans are kept in memory and resolved once, after the measured work.
"""

from __future__ import annotations

import contextlib
import re
import time

METRICS = ("wall_s", "driver_s", "jobs", "executor_s", "shuffle_write_bytes",
           "spill_bytes", "skew", "exchanges")

#: summed over a layer's spans (skew is a per-span max instead)
ADDITIVE = tuple(m for m in METRICS if m != "skew")

_EXCHANGE = re.compile(r"\b(?:Exchange|BroadcastExchange)\b")
_GROUP = "spark.jobGroup.id"

#: status-store retention for a traced run: the defaults (1000 jobs/stages)
#: would evict the start of the run before it is read back
TRACE_CONF = {
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.ui.retainedTasks": "1000000",
    "spark.sql.ui.retainedExecutions": "100000",
}


class Tracer:
    """Records spans around library calls; :meth:`resolve` reads the Spark
    status store for them once the traced work is done."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, layer: str):
        sid = f"perfbench-{len(self.spans) + len(self._stack)}-{time.monotonic_ns()}"
        rec = {"id": sid, "layer": layer, "children_s": 0.0}
        outer = self.sc.getLocalProperty(_GROUP)
        self.sc.setLocalProperty(_GROUP, sid)
        self._stack.append(rec)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur_s"] = time.perf_counter() - t0
            self._stack.pop()
            if self._stack:
                self._stack[-1]["children_s"] += rec["dur_s"]
            self.sc.setLocalProperty(_GROUP, outer)
            self.spans.append(rec)

    def wrap(self, layer: str, fn):
        """``fn`` with every call inside a ``layer`` span."""
        def traced(*args, **kwargs):
            with self.span(layer):
                return fn(*args, **kwargs)

        return traced

    # -- read-back ----------------------------------------------------------
    def resolve(self) -> None:
        """Fill each span's metrics from the status store (off the clock)."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(30_000)
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        exchanges_by_job = self._exchanges_by_job()
        for rec in self.spans:
            job_ids = sorted(tracker.getJobIdsForGroup(rec["id"]))
            intervals, stage_ids = [], []
            for jid in job_ids:
                jd = store.job(jid)
                sub, end = jd.submissionTime(), jd.completionTime()
                if sub.isDefined() and end.isDefined():
                    intervals.append((sub.get().getTime(), end.get().getTime()))
                stage_ids.extend(_seq(jd.stageIds()))
            stages = [s for s in (_stage(self.sc, store, sid) for sid in set(stage_ids)) if s]
            busy = _union_ms(intervals) / 1000.0
            self_s = max(rec["dur_s"] - rec["children_s"], 0.0)
            rec["metrics"] = {
                "wall_s": self_s,
                "driver_s": max(self_s - busy, 0.0),
                "jobs": len(job_ids),
                "executor_s": sum(s["run_ms"] for s in stages) / 1000.0,
                "shuffle_write_bytes": sum(s["shuffle_write"] for s in stages),
                "spill_bytes": sum(s["spill"] for s in stages),
                "skew": _skew(self.sc, store, stages),
                "exchanges": sum(exchanges_by_job.pop(j, 0) for j in job_ids),
            }

    def _exchanges_by_job(self) -> dict[int, int]:
        """Exchange count of each SQL execution, keyed on its first job."""
        sql_store = self.spark._jsparkSession.sharedState().statusStore()
        out: dict[int, int] = {}
        for ex in _seq(sql_store.executionsList()):
            jobs = sorted(int(j) for j in _seq(ex.jobs().keys()))
            if jobs:
                out[jobs[0]] = out.get(jobs[0], 0) + count_exchanges(
                    ex.physicalPlanDescription()
                )
        return out

    def layer_totals(self) -> dict[str, dict[str, float]]:
        """Per-layer sums of the span metrics (skew: the max)."""
        out: dict[str, dict[str, float]] = {}
        for rec in self.spans:
            tot = out.setdefault(rec["layer"], {m: 0 for m in METRICS})
            for m in ADDITIVE:
                tot[m] += rec["metrics"][m]
            tot["skew"] = max(tot["skew"], rec["metrics"]["skew"])
        return out


def count_exchanges(plan: str) -> int:
    """Exchange nodes in the executed plan text: the adaptive ``Final Plan``
    section when there is one, else the whole operator tree."""
    tree = plan.split("\n\n", 1)[0]
    if "== Final Plan ==" in tree:
        tree = tree.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    return sum(1 for line in tree.splitlines() if _EXCHANGE.search(line))


def span_delta(hi: dict, lo: dict | None) -> dict:
    """Metrics of one prefix layer: the longer prefix minus the shorter."""
    if lo is None:
        return dict(hi)
    out = {m: hi[m] - lo[m] for m in ADDITIVE}
    out["skew"] = hi["skew"]
    return out


def _seq(scala_seq) -> list:
    it = scala_seq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def _doubles(gateway, values) -> object:
    arr = gateway.new_array(gateway.jvm.double, len(values))
    for i, v in enumerate(values):
        arr[i] = v
    return arr


def _stage(sc, store, stage_id: int) -> dict | None:
    attempts = _seq(store.stageData(
        stage_id, False, sc._jvm.java.util.ArrayList(), False,
        _doubles(sc._gateway, []),
    ))
    if not attempts:
        return None
    s = attempts[-1]
    return {
        "id": stage_id,
        "attempt": s.attemptId(),
        "run_ms": s.executorRunTime(),
        "shuffle_write": s.shuffleWriteBytes(),
        "spill": s.diskBytesSpilled(),
        "input": s.inputBytes() + s.shuffleReadBytes(),
        "tasks": s.numTasks(),
    }


def _skew(sc, store, stages: list[dict]) -> float:
    if not stages:
        return 0.0
    big = max(stages, key=lambda s: (s["input"], s["run_ms"]))
    if big["tasks"] < 2 or big["input"] == 0:
        return 1.0
    summary = store.taskSummary(big["id"], big["attempt"], _doubles(sc._gateway, [0.5, 1.0]))
    if not summary.isDefined():
        return 1.0
    d = summary.get()
    inp = _seq(d.inputMetrics().bytesRead())
    shr = _seq(d.shuffleReadMetrics().readBytes())
    med, top = inp[0] + shr[0], inp[1] + shr[1]
    if med > 0:
        return top / med
    return top / (big["input"] / big["tasks"])


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
