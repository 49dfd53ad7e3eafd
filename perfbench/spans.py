"""Outside-in tracing: spans around calls into the engine's modules.

Nothing in ``pandasqlite_spark`` is changed.  A traced run replaces
module attributes (``text2sql.assemble_messages``, ``ingest.hash_spark``,
...) with wrappers that, around each call:

- set the Spark job group ``<workload>/<op>/<layer>``;
- take the wall clock and the process-tree CPU (``procstat``);
- record a span (name, start, end, parent) in memory.

After the loop, ``resolve`` asks ``statusTracker()`` how many jobs,
stages and tasks ran under each group, and ``parse_event_log`` reads the
Spark event log (enabled for traced runs only) for per-stage run, CPU
and GC time, input, shuffle and spill, and for the rows each scan
produced.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

from procstat import ProcTree, cpu_delta

SCAN_PREFIXES = ("Scan", "LocalTableScan", "BatchScan")


class Tracer:
    def __init__(self, spark, workload: str, procs: ProcTree):
        self.sc = spark.sparkContext
        self.workload = workload
        self.procs = procs
        self.spans: list[dict] = []
        self._open: list[int] = []  # indices of the spans not yet ended
        self._patches: list[tuple[object, str, object]] = []
        self.op_name = "setup"

    # -- spans -----------------------------------------------------------
    @contextmanager
    def span(self, layer: str):
        group = f"{self.workload}/{self.op_name}/{layer}"
        parent = self._open[-1] if self._open else None
        self.sc.setJobGroup(group, group)
        cpu0 = self.procs.sample()
        idx = len(self.spans)
        rec = {"name": layer, "op": self.op_name, "group": group, "parent": parent,
               "start": time.perf_counter()}
        self.spans.append(rec)
        self._open.append(idx)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["cpu"] = cpu_delta(cpu0, self.procs.sample())
            self._open.pop()
            if self._open:
                outer = self.spans[self._open[-1]]["group"]
                self.sc.setJobGroup(outer, outer)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def op(self, op_name: str):
        """The root span of one operation; rediscovers Python workers first."""
        self.op_name = op_name
        self.procs.refresh()
        with self.span("op") as rec:
            yield rec

    # -- wrapping module functions ------------------------------------------
    def wrap(self, owner: object, attr: str, layer: str, observe=None) -> None:
        """Time every call of ``owner.attr`` as a ``layer`` span;
        ``observe(args, result)`` sees each call's first argument and result."""
        orig = getattr(owner, attr)

        def traced(*args, **kwargs):
            with self.span(layer):
                result = orig(*args, **kwargs)
            if observe is not None:
                observe(args[0], result)
            return result

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def unwrap(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- after the loop ----------------------------------------------------
    def resolve(self) -> dict[str, dict]:
        """Jobs, stages and completed tasks per job group, from statusTracker."""
        st = self.sc.statusTracker()
        out: dict[str, dict] = {}
        for group in {s["group"] for s in self.spans}:
            jobs = list(st.getJobIdsForGroup(group))
            stages: set[int] = set()
            for j in jobs:
                info = st.getJobInfo(j)
                if info is not None:
                    stages.update(int(s) for s in info.stageIds)
            tasks = 0
            for s in stages:
                sinfo = st.getStageInfo(s)
                if sinfo is not None:
                    tasks += sinfo.numCompletedTasks
            out[group] = {"jobs": len(jobs), "stages": len(stages), "tasks": tasks}
        return out

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(self.spans))


def _plan_scan_accums(node: dict, out: set[int]) -> None:
    children = node.get("children") or []
    if not children and node.get("nodeName", "").startswith(SCAN_PREFIXES):
        for m in node.get("metrics", []):
            if m.get("name") == "number of output rows":
                out.add(int(m["accumulatorId"]))
    for c in children:
        _plan_scan_accums(c, out)


def parse_event_log(log_dir: Path) -> dict[str, dict]:
    """Per job group: tasks, executor run/CPU/GC seconds, input bytes,
    shuffle-write bytes, spilled bytes, and rows produced by scans."""
    files = sorted((p for p in log_dir.rglob("events_*") if p.is_file()),
                   key=lambda p: int(p.name.split("_")[1]))
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    scan_accums: set[int] = set()
    acc: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    pending: list[tuple[int, list]] = []  # driver accumulator updates, by execution
    for f in files:
        with open(f) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    group = props.get("spark.jobGroup.id")
                    if group is None:
                        continue
                    for s in e["Stage IDs"]:
                        stage_group.setdefault(int(s), group)
                    if "spark.sql.execution.id" in props:
                        exec_group.setdefault(int(props["spark.sql.execution.id"]), group)
                elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
                    _plan_scan_accums(e["sparkPlanInfo"], scan_accums)
                    if kind.endswith("SQLExecutionStart") and e.get("description"):
                        exec_group.setdefault(int(e["executionId"]), e["description"])
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    pending.append((int(e["executionId"]), e["accumUpdates"]))
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(int(e["Stage ID"]))
                    m = e.get("Task Metrics")
                    if group is None or m is None:
                        continue
                    a = acc[group]
                    a["tasks"] += 1
                    a["run_s"] += m["Executor Run Time"] / 1e3
                    a["cpu_s"] += m["Executor CPU Time"] / 1e9
                    a["gc_s"] += m["JVM GC Time"] / 1e3
                    a["input_bytes"] += m["Input Metrics"]["Bytes Read"]
                    a["shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    a["spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
                    for u in e["Task Info"].get("Accumulables", []):
                        if int(u["ID"]) in scan_accums:
                            a["scan_rows"] += float(u.get("Update", 0))
    for ex, updates in pending:
        group = exec_group.get(ex)
        if group is not None:
            for acc_id, value in updates:
                if int(acc_id) in scan_accums:
                    acc[group]["scan_rows"] += float(value)
    return {g: dict(v) for g, v in acc.items()}
