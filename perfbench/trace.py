"""Per-layer spans recorded from outside the program.

`Tracer.wrap(module, "fn")` swaps a public function of an `imc` module for
a wrapper that times each call as a span and labels every Spark job the
call starts with a job group naming the span. Production code calls
these functions through module attributes (`joins.eps_join(...)` inside
`pipeline.run`), so the wrappers see the calls production makes. The
Spark event log of the benchmark's own session is parsed offline
(`parse_event_log`) into per-job-group task metrics, which
`Tracer.figures` folds into per-layer figures. Spans live in memory
until the run ends; span ids are unique over the whole run, so the job
groups of several passes never mix.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_KEY = "spark.jobGroup.id"
# span kinds that carry per-function figures: time inside the imc call,
# the stage write (manifest.materialize) and the benchmark's own sink
FN_KINDS = ("build", "write", "exec")


@dataclass
class Span:
    sid: int
    name: str       # "<module>.<function>", an op key, or "pass"
    kind: str       # "pass", "op", one of FN_KINDS, or "other"
    parent: int | None
    t0: float
    t1: float = 0.0
    children: list[int] = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """Spans around calls into `imc` modules, for one traced run."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._undo: list[tuple[object, str, object]] = []
        self.overhead_s = 0.0    # time spent recording spans

    @contextmanager
    def span(self, name: str, kind: str = "build"):
        t_in = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, kind, parent, t_in)
        self.spans.append(sp)
        if parent is not None:
            self.spans[parent].children.append(sp.sid)
        outer = self.sc.getLocalProperty(GROUP_KEY)
        self.sc.setLocalProperty(GROUP_KEY, f"span-{sp.sid}")
        self._stack.append(sp.sid)
        t_body = time.perf_counter()
        self.overhead_s += t_body - t_in
        try:
            yield sp
        finally:
            t_out = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty(GROUP_KEY, outer)
            sp.t1 = time.perf_counter()
            self.overhead_s += sp.t1 - t_out

    def wrap(self, module, fn_name: str, label=None):
        """Replace `module.fn_name` with a wrapper that spans each call.
        `label(*args, **kwargs)` may name the span as (name, kind); by
        default it is ("<module>.<fn_name>", "build")."""
        fn = getattr(module, fn_name)
        default = (f"{module.__name__.rsplit('.', 1)[-1]}.{fn_name}", "build")

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            name, kind = label(*args, **kwargs) if label else default
            with self.span(name, kind):
                return fn(*args, **kwargs)

        setattr(module, fn_name, traced)
        self._undo.append((module, fn_name, fn))

    def unwrap(self):
        for module, fn_name, fn in reversed(self._undo):
            setattr(module, fn_name, fn)
        self._undo.clear()

    def _subtree(self, sid: int) -> list[int]:
        out, todo = [], [sid]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.spans[s].children)
        return out

    def self_time(self, sp: Span) -> float:
        """Span duration minus the part its child spans cover."""
        return sp.dur - sum(self.spans[c].dur for c in sp.children)

    def figures(self, groups: dict, root: Span,
                scopes: dict[str, str]) -> dict[str, float]:
        """Per-layer figures of one pass under `root`. Every op span
        directly under the root has a metric prefix, `scopes[op name]`.
        Inside an op, each span of a FN_KINDS kind adds its duration to
        `<prefix><name>.<kind>_s` and the Spark jobs of its subtree to
        `.jobs`, `.shuffle_mb` and `.skew` (largest max ÷ median task
        time). The op's own time outside those spans (driver-side work)
        goes to `<prefix>driver_s` (`pipeline.driver_s` for an empty
        prefix), its duration to `<prefix>wall_s`.
        Also whole-pass Spark totals and the time inside
        manifest.refresh_manifest."""
        out: dict[str, float] = defaultdict(float)
        for op_sid in root.children:
            op = self.spans[op_sid]
            pre = scopes[op.name]
            out[f"{pre}wall_s"] += op.dur
            out[f"{pre or 'pipeline.'}driver_s"] += self.self_time(op)
            for sid in self._subtree(op_sid)[1:]:
                sp = self.spans[sid]
                if sp.kind not in FN_KINDS:
                    continue
                key = f"{pre}{sp.name}"
                out[f"{key}.{sp.kind}_s"] += sp.dur
                if sp.kind == "write":
                    out[f"{pre}manifest.materialize_s"] += sp.dur
                for s in self._subtree(sid):
                    g = groups.get(f"span-{s}")
                    if g:
                        out[f"{key}.jobs"] += g["jobs"]
                        out[f"{key}.shuffle_mb"] += g["shuffle_mb"]
                        out[f"{key}.skew"] = max(out[f"{key}.skew"],
                                                 *g["skews"], 0.0)
        for s in self._subtree(root.sid):
            g = groups.get(f"span-{s}")
            if g:
                out["spark.jobs"] += g["jobs"]
                out["spark.tasks"] += g["tasks"]
                out["spark.executor_cpu_s"] += g["cpu_s"]
                out["spark.spill_mb"] += g["spill_mb"]
            if self.spans[s].name == "manifest.refresh_manifest":
                out["manifest.refresh_s"] += self.spans[s].dur
        out["pass.wall_s"] = root.dur
        return dict(out)


# ------------------------------------------------------------- event log

def parse_event_log(log_dir: str) -> dict[str, dict]:
    """Per-job-group task metrics from the Spark event log under
    `log_dir`: jobs, tasks, shuffle_mb (read + written), spill_mb
    (memory + disk), cpu_s, and `skews`, each stage's max ÷ median task
    run time."""
    stage_group: dict[int, str] = {}
    job_group: dict[int, str | None] = {}
    tasks_by_stage: dict[int, list[dict]] = defaultdict(list)
    for path in sorted(glob.glob(f"{log_dir}/**/*", recursive=True)):
        if os.path.isdir(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get(GROUP_KEY)
                    job_group[ev["Job ID"]] = g
                    for st in ev.get("Stage IDs", []):
                        stage_group.setdefault(st, g)
                elif kind == "SparkListenerStageSubmitted":
                    g = (ev.get("Properties") or {}).get(GROUP_KEY)
                    stage_group[ev["Stage Info"]["Stage ID"]] = g
                elif kind == "SparkListenerTaskEnd":
                    tm = ev.get("Task Metrics") or {}
                    rd = tm.get("Shuffle Read Metrics") or {}
                    wr = tm.get("Shuffle Write Metrics") or {}
                    tasks_by_stage[ev["Stage ID"]].append({
                        "run_ms": tm.get("Executor Run Time", 0),
                        "cpu_ns": tm.get("Executor CPU Time", 0),
                        "shuffle_b": (rd.get("Remote Bytes Read", 0)
                                      + rd.get("Local Bytes Read", 0)
                                      + wr.get("Shuffle Bytes Written", 0)),
                        "spill_b": (tm.get("Memory Bytes Spilled", 0)
                                    + tm.get("Disk Bytes Spilled", 0)),
                    })

    groups: dict[str, dict] = defaultdict(lambda: {
        "jobs": 0, "tasks": 0, "shuffle_mb": 0.0, "spill_mb": 0.0,
        "cpu_s": 0.0, "skews": []})
    for g in job_group.values():
        if g:
            groups[g]["jobs"] += 1
    for st, tasks in tasks_by_stage.items():
        g = stage_group.get(st)
        if not g:
            continue
        acc = groups[g]
        run = [t["run_ms"] for t in tasks]
        med = statistics.median(run)
        acc["skews"].append(max(run) / med if med > 0 else 1.0)
        acc["tasks"] += len(tasks)
        acc["shuffle_mb"] += sum(t["shuffle_b"] for t in tasks) / 2**20
        acc["spill_mb"] += sum(t["spill_b"] for t in tasks) / 2**20
        acc["cpu_s"] += sum(t["cpu_ns"] for t in tasks) / 1e9
    return dict(groups)
