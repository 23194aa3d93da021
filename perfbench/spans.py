"""Spans and per-layer metrics.

The benchmark records its own spans (name, start, end, parent id)
around every call it makes into the engine.  In a traced run Spark's
event log adds job -> stage -> task spans beneath them: a job's parent
is the operation span that shares its job group and contains its
submission time.  The per-layer metrics are sums over those spans and
their task metrics, divided by the number of timed passes.
"""

from __future__ import annotations

import contextlib
import glob
import json
import statistics
import time

SQL = "org.apache.spark.sql.execution.ui."
JOIN_NODES = {
    "BroadcastHashJoin": "broadcast_hash",
    "ShuffledHashJoin": "shuffled_hash",
    "SortMergeJoin": "sort_merge",
    "BroadcastNestedLoopJoin": "nested_loop",
    "CartesianProduct": "nested_loop",
}
PY_SENT, PY_RECV = "data sent to Python workers", "data returned from Python workers"
FILES_SIZE = "size of files read"


class Tracer:
    """In-memory spans; ``span`` nests under the innermost open span."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sp = {"id": len(self.spans), "name": name, "start": time.time(), "end": None,
              "parent": self._stack[-1] if self._stack else None, **attrs}
        self.spans.append(sp)
        self._stack.append(sp["id"])
        try:
            yield sp
        finally:
            self._stack.pop()
            sp["end"] = time.time()

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> int:
        sid = len(self.spans)
        self.spans.append({"id": sid, "name": name, "start": start, "end": end,
                           "parent": parent, **attrs})
        return sid

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(json.dumps(sp) + "\n")


def _plan_nodes(info: dict):
    yield info
    for child in info.get("children", []):
        yield from _plan_nodes(child)


def _read_events(log_dir: str) -> list[dict]:
    events = []
    for path in sorted(glob.glob(f"{log_dir}/*")):
        with open(path) as fh:
            events += [json.loads(line) for line in fh if line.strip()]
    return events


def _union_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def layer_metrics(log_dir: str, tracer: Tracer, ops: list[dict], n_passes: int,
                  cores: int) -> tuple[dict[str, float], dict[int, int]]:
    """Per-layer metrics of the timed ``ops`` (their spans) from the event
    log, and the number of jobs of each op (by span id).

    Adds job, stage and task spans to ``tracer`` beneath the op spans.
    """
    jobs, stages, tasks, plans, driver_accums = {}, {}, [], {}, {}
    for ev in _read_events(log_dir):
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = {
                "start": ev["Submission Time"] / 1e3,
                "group": props.get("spark.jobGroup.id"),
                "sql": props.get("spark.sql.execution.id"),
                "stages": ev["Stage IDs"],
            }
        elif kind == "SparkListenerJobEnd":
            jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
        elif kind == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            stages[si["Stage ID"]] = {
                "start": si.get("Submission Time", 0) / 1e3,
                "end": si.get("Completion Time", 0) / 1e3,
                "accums": {a["ID"]: a.get("Value") for a in si.get("Accumulables", [])},
                "tasks": [],
            }
        elif kind == "SparkListenerTaskEnd":
            tasks.append(ev)
        elif kind in (SQL + "SparkListenerSQLExecutionStart",
                      SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
            plans.setdefault(str(ev["executionId"]), []).append(ev["sparkPlanInfo"])
        elif kind == SQL + "SparkListenerDriverAccumUpdates":
            acc = driver_accums.setdefault(str(ev["executionId"]), {})
            for aid, val in ev["accumUpdates"]:
                acc[aid] = acc.get(aid, 0) + val
    for t in tasks:
        if t["Stage ID"] in stages:
            stages[t["Stage ID"]]["tasks"].append(t)

    # jobs of the timed ops, as spans beneath them
    op_jobs: dict[int, list[int]] = {op["id"]: [] for op in ops}
    for jid, job in sorted(jobs.items()):
        op = next((o for o in ops if o["op"] == job["group"]
                   and o["start"] <= job["start"] <= o["end"]), None)
        if op is None or "end" not in job:
            continue
        op_jobs[op["id"]].append(jid)
        js = tracer.add(f"job {jid}", job["start"], job["end"], op["id"])
        for sid in job["stages"]:
            st = stages.get(sid)
            if st is None or st.get("job") is not None:
                continue  # skipped, or already owned by an earlier job
            st["job"] = jid
            ss = tracer.add(f"stage {sid}", st["start"], st["end"], js)
            for t in st["tasks"]:
                ti = t["Task Info"]
                tracer.add(f"task {ti['Task ID']}", ti["Launch Time"] / 1e3,
                           ti["Finish Time"] / 1e3, ss)

    win_jobs = [j for js in op_jobs.values() for j in js]
    win_stages = [st for st in stages.values() if st.get("job") in set(win_jobs)]
    win_tasks = [t for st in win_stages for t in st["tasks"]]

    def tm(t: dict, *keys) -> float:
        v = t.get("Task Metrics") or {}
        for k in keys:
            v = v.get(k, 0) if isinstance(v, dict) else 0
        return float(v or 0)

    def per_pass(x: float) -> float:
        return x / n_passes

    # executed plans: the last adaptive update of each execution is final
    execs = {str(jobs[j]["sql"]) for j in win_jobs if jobs[j]["sql"] is not None}
    joins = dict.fromkeys(sorted(set(JOIN_NODES.values())), 0)
    py_ids: dict[str, set] = {"sent": set(), "recv": set(), "rows": set()}
    scan_bytes = 0
    for ex in execs:
        versions = plans.get(ex, [])
        for node in _plan_nodes(versions[-1]) if versions else ():
            kind = JOIN_NODES.get(node.get("nodeName"))
            if kind:
                joins[kind] += 1
        scan_ids = set()
        for info in versions:
            for node in _plan_nodes(info):
                ms = {m["name"]: m["accumulatorId"] for m in node.get("metrics", [])}
                scan_ids.add(ms.get(FILES_SIZE))
                if PY_SENT in ms:
                    py_ids["sent"].add(ms[PY_SENT])
                    py_ids["recv"].add(ms.get(PY_RECV))
                    py_ids["rows"].add(ms.get("number of output rows"))
        # file sizes are driver-side metrics of the scan nodes
        scan_bytes += sum(driver_accums.get(ex, {}).get(i, 0) for i in scan_ids - {None})

    def accum_sum(ids: set) -> float:
        return float(sum(int(st["accums"].get(i) or 0) for st in win_stages for i in ids))

    py_stages = [st for st in win_stages
                 if any(int(st["accums"].get(i) or 0) > 0 for i in py_ids["sent"])]

    skew = 1.0
    for st in win_stages:
        durs = [t["Task Info"]["Finish Time"] - t["Task Info"]["Launch Time"]
                for t in st["tasks"]]
        if len(durs) >= cores and statistics.median(durs) >= 10:
            skew = max(skew, max(durs) / statistics.median(durs))

    task_s = sum(tm(t, "Executor Run Time") for t in win_tasks) / 1e3
    op_wall = sum(o["end"] - o["start"] for o in ops)
    gap = 0.0
    for o in ops:
        ivals = [(t["Task Info"]["Launch Time"] / 1e3, t["Task Info"]["Finish Time"] / 1e3)
                 for j in op_jobs[o["id"]] for st in win_stages if st["job"] == j
                 for t in st["tasks"]]
        gap += (o["end"] - o["start"]) - _union_s(ivals, o["start"], o["end"])

    out = {
        "sources.scan_bytes": per_pass(scan_bytes),
        "algos.jobs": per_pass(len(win_jobs)),
        "algos.driver_gap_s": per_pass(gap),
        "operators.task_s": per_pass(task_s),
        "operators.task_cpu_s": per_pass(sum(tm(t, "Executor CPU Time") for t in win_tasks) / 1e9),
        "operators.gc_s": per_pass(sum(tm(t, "JVM GC Time") for t in win_tasks) / 1e3),
        "operators.stages": per_pass(len(win_stages)),
        "operators.tasks": per_pass(len(win_tasks)),
        "operators.shuffle_read_bytes": per_pass(sum(
            tm(t, "Shuffle Read Metrics", "Remote Bytes Read")
            + tm(t, "Shuffle Read Metrics", "Local Bytes Read") for t in win_tasks)),
        "operators.shuffle_write_bytes": per_pass(sum(
            tm(t, "Shuffle Write Metrics", "Shuffle Bytes Written") for t in win_tasks)),
        "operators.shuffle_records": per_pass(sum(
            tm(t, "Shuffle Write Metrics", "Shuffle Records Written") for t in win_tasks)),
        "operators.spill_bytes": per_pass(sum(tm(t, "Disk Bytes Spilled") for t in win_tasks)),
        "operators.task_skew": skew,
        "operators.core_util": task_s / max(op_wall * cores, 1e-9),
        "pipeline.py_rows": per_pass(accum_sum(py_ids["rows"] - {None})),
        "pipeline.py_bytes_sent": per_pass(accum_sum(py_ids["sent"])),
        "pipeline.py_bytes_received": per_pass(accum_sum(py_ids["recv"] - {None})),
        "pipeline.py_task_s": per_pass(sum(tm(t, "Executor Run Time")
                                           for st in py_stages for t in st["tasks"]) / 1e3),
    }
    for kind, n in joins.items():
        out[f"operators.joins.{kind}"] = per_pass(n)
    return out, {op_id: len(js) for op_id, js in op_jobs.items()}
