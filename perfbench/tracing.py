"""Spans around the calls into each layer, and Spark's per-op job record.

A span is ``name, op_id, start, end, parent``. Spans live in memory and are
written out once, when the run ends. Inside a span the Spark job group is
``<op_id>|<span name>``, so the status store can later attribute every job,
stage and task to the op and layer that launched it. The status store is
read through ``sc._jsc.sc().statusStore()``, which works with the UI
disabled.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

GROUP_SEP = "|"


class Tracer:
    """Records spans when ``enabled``; otherwise every span is a no-op, so
    the untraced run pays nothing for the instrumentation points."""

    def __init__(self, sc=None, enabled: bool = True):
        self.sc, self.enabled = sc, enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id = ""

    def _set_group(self, group: str) -> None:
        if self.sc is not None:
            self.sc.setJobGroup(group, group, interruptOnCancel=False)

    @contextmanager
    def op(self, op_id: str):
        """The root span of one op; its job group is the bare op id."""
        if not self.enabled:
            yield
            return
        self.op_id = op_id
        self._set_group(op_id)
        try:
            with self.span("op"):
                yield
        finally:
            # jobs launched between ops (set-up, checks) belong to no op
            if self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        rec = {"name": name, "op_id": self.op_id, "parent": parent,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(idx)
        if parent is not None:
            self._set_group(f"{self.op_id}{GROUP_SEP}{name}")
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if parent is not None:
                outer = self.spans[parent]["name"]
                self._set_group(
                    self.op_id if outer == "op"
                    else f"{self.op_id}{GROUP_SEP}{outer}"
                )


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_s, cur_e = 0.0, None, None
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


def self_times(spans: list[dict]) -> list[float]:
    """Each span's duration minus the part of it its child spans cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            p = spans[s["parent"]]
            kids.setdefault(s["parent"], []).append(
                (max(s["start"], p["start"]), min(s["end"], p["end"]))
            )
    return [
        (s["end"] - s["start"]) - union_length(kids.get(i, []))
        for i, s in enumerate(spans)
    ]


# ------------------------------------------------------- status store

def _seq(x) -> list:
    return [x.apply(i) for i in range(x.length())]


def _opt(x):
    return x.get() if x.isDefined() else None


def read_status_store(sc) -> tuple[list[dict], dict[int, dict]]:
    """Every retained job and stage attempt as plain dicts: times in epoch
    seconds, durations in seconds, sizes in bytes."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    jobs = []
    for j in _seq(store.jobsList(None)):
        sub, done = _opt(j.submissionTime()), _opt(j.completionTime())
        jobs.append({
            "job_id": j.jobId(),
            "group": _opt(j.jobGroup()),
            "start": sub.getTime() / 1000.0 if sub is not None else None,
            "end": done.getTime() / 1000.0 if done is not None else None,
            "stage_ids": list(_seq(j.stageIds())),
        })
    defaults = [getattr(store, f"stageList$default${i}")() for i in range(2, 6)]
    stages = {}
    for s in _seq(store.stageList(None, *defaults)):
        stages[(s.stageId(), s.attemptId())] = {
            "stage_id": s.stageId(),
            "status": s.status().toString(),
            "tasks": s.numCompleteTasks(),
            "run_s": s.executorRunTime() / 1000.0,
            "cpu_s": s.executorCpuTime() / 1e9,
            "input_bytes": s.inputBytes(),
            "output_bytes": s.outputBytes(),
            "shuffle_read_bytes": s.shuffleReadBytes(),
            "shuffle_write_bytes": s.shuffleWriteBytes(),
            "spill_bytes": s.diskBytesSpilled(),
            "gc_s": s.jvmGcTime() / 1000.0,
        }
    return jobs, stages


_SUMS = ("tasks", "run_s", "cpu_s", "input_bytes", "output_bytes",
         "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "gc_s")


def aggregate_by_group(
    jobs: list[dict], stages: dict, level: str = "op"
) -> dict[str, dict]:
    """Sum job, stage and task metrics per job group.

    ``level="op"`` folds ``<op_id>|<layer>`` groups into their op;
    ``level="layer"`` keeps them apart. A stage that several jobs list
    (a reused shuffle) ran once and is charged to the first job that
    lists it; stages that never ran (skipped) carry no metrics."""
    attempts: dict[int, list[dict]] = {}
    for st in stages.values():
        attempts.setdefault(st["stage_id"], []).append(st)
    charged: set[int] = set()
    out: dict[str, dict] = {}
    for job in sorted(jobs, key=lambda j: j["job_id"]):
        group = job["group"]
        if group is None:
            continue
        if level == "op":
            group = group.split(GROUP_SEP, 1)[0]
        agg = out.setdefault(
            group, {"jobs": 0, "stages": 0, "intervals": [], **{k: 0 for k in _SUMS}}
        )
        agg["jobs"] += 1
        if job["start"] is not None and job["end"] is not None:
            agg["intervals"].append((job["start"], job["end"]))
        for sid in job["stage_ids"]:
            if sid in charged:
                continue
            charged.add(sid)
            ran = [a for a in attempts.get(sid, []) if a["status"] != "SKIPPED"]
            if ran:
                agg["stages"] += 1
            for a in ran:
                for k in _SUMS:
                    agg[k] += a[k]
    return out
