"""Spans around the benchmark's calls into the engine, and the Spark
event-log numbers for the jobs each span ran.

A span records name, start, end and parent. With tracing on, every
span runs its Spark jobs under its own job group, so the event log can
attribute task CPU, GC, shuffle, spill and Python-worker time to it,
and ``force`` materializes a call's output inside the span that made it.
With tracing off, spans only keep the call stack, so a failure can
name the call it happened in.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager

# "time to initialize Python workers" is left out: its per-task updates
# add up to more than the tasks' own run time.
PY_TIMES = ("time to start Python workers", "time to run Python workers")


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self._persisted = []
        self.failed_call: str | None = None

    @contextmanager
    def span(self, name: str):
        parent = self.stack[-1] if self.stack else None
        rec = {
            "id": len(self.spans), "name": name,
            "parent": parent["id"] if parent else None,
            "start": time.time(), "end": None,
        }
        if self.enabled:
            self.spans.append(rec)
            self.spark.sparkContext.setJobGroup(f"span-{rec['id']}", name)
        self.stack.append(rec)
        try:
            yield rec
        except BaseException:
            if self.failed_call is None:
                self.failed_call = name
            raise
        finally:
            rec["end"] = time.time()
            self.stack.pop()
            if self.enabled:
                sc = self.spark.sparkContext
                if parent is not None:
                    sc.setJobGroup(f"span-{parent['id']}", parent["name"])
                else:
                    sc.setJobGroup("untraced", "between spans")

    def force(self, df):
        """Materialize ``df`` now when tracing, so its work is billed
        to the enclosing span rather than to the next consumer."""
        if not self.enabled:
            return df
        df = df.persist()
        df.count()
        self._persisted.append(df)
        return df

    def release(self) -> None:
        for df in self._persisted:
            df.unpersist()
        self._persisted = []


def _plan_nodes(plan: dict, out: dict) -> None:
    for m in plan.get("metrics", []):
        out[m["accumulatorId"]] = plan["nodeName"]
    for child in plan.get("children", []):
        _plan_nodes(child, out)


def read_event_log(path: str) -> dict:
    """Per job group: job count, task metrics and task intervals, plus
    per-stage shuffle figures, from an uncompressed, non-rolling Spark
    event log."""
    acc_node: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    groups = defaultdict(lambda: defaultdict(float))
    intervals = defaultdict(list)
    stages: dict[int, dict] = {}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind.endswith("SQLExecutionStart") or kind.endswith(
                "SQLAdaptiveExecutionUpdate"
            ):
                _plan_nodes(e["sparkPlanInfo"], acc_node)
            elif kind == "SparkListenerJobStart":
                g = (e.get("Properties") or {}).get("spark.jobGroup.id", "none")
                groups[g]["jobs"] += 1
                for sid in e["Stage IDs"]:
                    stage_group.setdefault(sid, g)
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                st = stages.setdefault(info["Stage ID"], defaultdict(float))
                st["group"] = stage_group.get(info["Stage ID"], "none")
                st["start"] = info.get("Submission Time", 0) / 1000.0
                st["end"] = info.get("Completion Time", 0) / 1000.0
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(e["Stage ID"], "none")
                m = e.get("Task Metrics") or {}
                info = e["Task Info"]
                acc = groups[g]
                acc["tasks"] += 1
                acc["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                acc["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                acc["spill_mb"] += (
                    m.get("Memory Bytes Spilled", 0)
                    + m.get("Disk Bytes Spilled", 0)
                ) / 1e6
                sw = m.get("Shuffle Write Metrics") or {}
                acc["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
                acc["records_read"] += (m.get("Input Metrics") or {}).get(
                    "Records Read", 0
                )
                st = stages.setdefault(e["Stage ID"], defaultdict(float))
                st["shuffle_records_written"] += sw.get(
                    "Shuffle Records Written", 0
                )
                st["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
                for a in info.get("Accumulables", []):
                    name, upd = a.get("Name"), a.get("Update")
                    if name not in PY_TIMES and name != "number of output rows":
                        continue
                    # SQL metric updates are logged as decimal strings
                    upd = int(upd)
                    if name in PY_TIMES:
                        acc["python_worker_s"] += upd / 1000.0
                    elif name == "number of output rows" and acc_node.get(
                        a["ID"]
                    ) == "ArrowEvalPython":
                        acc["python_eval_rows"] += upd
                intervals[g].append(
                    (info["Launch Time"] / 1000.0, info["Finish Time"] / 1000.0)
                )
    return {"groups": groups, "intervals": intervals, "stages": stages}


def _covered(intervals: list, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted(intervals):
        a, b = max(a, lo), min(b, hi)
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def span_table(spans: list[dict], log: dict) -> list[dict]:
    """Each span with its self time (duration minus its children's) and
    the event-log figures of the jobs that ran in its own job group."""
    child_time = defaultdict(float)
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            child_time[s["parent"]] += s["end"] - s["start"]
            children[s["parent"]].append(s["id"])
    rows = []
    for s in spans:
        g = f"span-{s['id']}"
        own = dict(log["groups"].get(g, {}))
        dur = s["end"] - s["start"]
        rows.append({
            **s,
            "wall_s": dur,
            "self_s": dur - child_time[s["id"]],
            "children": children[s["id"]],
            **own,
            "stages": [
                dict(st) for st in log["stages"].values() if st["group"] == g
            ],
        })
    return rows


def task_busy(log: dict, span_ids: list[int], lo: float, hi: float) -> float:
    """Seconds of [lo, hi] during which any task of the given spans ran."""
    ivs = []
    for sid in span_ids:
        ivs.extend(log["intervals"].get(f"span-{sid}", []))
    return _covered(ivs, lo, hi)
