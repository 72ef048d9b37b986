"""Per-layer tracing for the benchmark's traced run.

Spans are recorded from the benchmark's side only: `Tracer.wrap` replaces
a public function where its caller looks it up (a module attribute or a
`SnapshotCatalog` method) with a wrapper that

- opens a span (name, layer, parent, operation index) with a Spark job
  group of its own, so the jobs the call runs are attributable;
- materialises a DataFrame result with an eager local checkpoint, so the
  span covers the execution of the call and not just lazy plan building.

A layer's self time is its span's duration minus the part covered by
child spans. Job, stage and task counts come from `statusTracker()`; task
run time, shuffle writes and spills come from the Spark event log, which
only the traced session enables. Jobs submitted from helper threads carry
no job group (`SnapshotCatalog.commit` writes its tables from a thread
pool); they are charged to the innermost span open when they were
submitted. Spans stay in memory until the run ends.
"""

from __future__ import annotations

import functools
import glob
import json
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame

ROOT_GROUP = "perfbench"


class Tracer:
    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.active = False
        self.op: int | None = None  # None = set-up
        self._patches: list[tuple[object, str, object]] = []
        self._next_id = 0
        sc.setJobGroup(ROOT_GROUP, ROOT_GROUP)

    # ------------------------------------------------------------ spans
    @contextmanager
    def span(self, name: str, layer: str):
        self._next_id += 1
        parent = self.stack[-1] if self.stack else None
        sp = {
            "id": self._next_id,
            "name": name,
            "layer": layer,
            "parent": parent["id"] if parent else None,
            "op": self.op,
            "group": f"{ROOT_GROUP}-{self._next_id}",
            "child_s": 0.0,
        }
        self.stack.append(sp)
        self.sc.setJobGroup(sp["group"], name)
        sp["t0"] = time.time()
        start = time.perf_counter()
        try:
            yield sp
        finally:
            sp["wall_s"] = time.perf_counter() - start
            sp["t1"] = time.time()
            sp["self_s"] = sp["wall_s"] - sp["child_s"]
            self.stack.pop()
            if parent is not None:
                parent["child_s"] += sp["wall_s"]
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setJobGroup(ROOT_GROUP, ROOT_GROUP)
            sp["jobs"] = list(self.sc.statusTracker().getJobIdsForGroup(sp["group"]))
            self.spans.append(sp)

    def bookkeeping(self, fn):
        """Run a measurement-only action (e.g. a row count) in a span of
        layer ``trace``, so its time is never charged to the caller."""
        with self.span("trace.bookkeeping", "trace"):
            return fn()

    def count_rows(self, sp, args, kwargs, out) -> None:
        """``after`` hook of `wrap`: the row count of the call's result."""
        sp["rows"] = self.bookkeeping(out.count)

    def ungrouped_jobs(self) -> set[int]:
        return set(self.sc.statusTracker().getJobIdsForGroup(None))

    # ---------------------------------------------------------- wrapping
    def wrap(self, owner, attr: str, layer: str, after=None) -> None:
        """Trace ``owner.attr``. ``after(span, args, kwargs, result)``
        runs once the span has closed, so it is never timed as part of
        the call."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if not tracer.active:
                return orig(*args, **kwargs)
            with tracer.span(f"{layer}.{attr}", layer) as sp:
                out = orig(*args, **kwargs)
                if isinstance(out, DataFrame):
                    out = out.localCheckpoint(eager=True)
            if after is not None:
                after(sp, args, kwargs, out)
            return out

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # ------------------------------------------------------------ counts
    def spark_counts(self, jobs: set[int]) -> dict:
        """Jobs, stages run, tasks run and failed tasks (live status
        tracker; call before the session stops)."""
        st = self.sc.statusTracker()
        stages: set[int] = set()
        for j in jobs:
            info = st.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        n_stages = n_tasks = n_failed = 0
        for s in stages:
            info = st.getStageInfo(s)
            if info is None or info.numCompletedTasks + info.numFailedTasks == 0:
                continue  # skipped: its shuffle output was reused
            n_stages += 1
            n_tasks += info.numCompletedTasks
            n_failed += info.numFailedTasks
        return {"jobs": len(jobs), "stages": n_stages, "tasks": n_tasks,
                "failed_tasks": n_failed}


def innermost(spans: list[dict], t: float) -> dict | None:
    """The most deeply nested span open at epoch time ``t``."""
    best = None
    for sp in spans:
        if sp["t0"] <= t <= sp["t1"] and (best is None or sp["t0"] >= best["t0"]):
            best = sp
    return best


def event_log_stats(log_dir: str, spans: list[dict]) -> dict[int, dict]:
    """Per span id: executor run time, shuffle bytes written and bytes
    spilled, summed over the task ends in the event log under
    ``log_dir``."""
    by_group = {sp["group"]: sp for sp in spans}
    stage_span: dict[int, dict | None] = {}
    out: dict[int, dict] = {}
    for path in sorted(glob.glob(f"{log_dir}/*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    sp = by_group.get(group)
                    if sp is None and info.get("Submission Time"):
                        sp = innermost(spans, info["Submission Time"] / 1000.0)
                    stage_span[info["Stage ID"]] = sp
                elif kind == "SparkListenerTaskEnd":
                    sp = stage_span.get(ev["Stage ID"])
                    if sp is None:
                        continue
                    m = ev.get("Task Metrics") or {}
                    agg = out.setdefault(
                        sp["id"],
                        {"task_s": 0.0, "shuffle_write_bytes": 0, "spill_bytes": 0},
                    )
                    agg["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                    sw = m.get("Shuffle Write Metrics") or {}
                    agg["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    agg["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    return out
