"""Driver side of the traced run: Spark status and worker spans → layers.

Each benchmark operation runs under its own Spark job group, named by its
label.  In a traced operation the Spark local properties
``perfbench.trace``/``perfbench.op`` tell the worker wrappers
(:mod:`pb_worker`) to record spans under that label.  After the timed
window, :class:`Tracer` reads the operation's jobs, stages and tasks from
the driver's status store (the data behind the Spark UI, kept even with
the UI off) and the workers' span files; the ``*_layers`` functions turn them into
per-layer numbers.

Self time follows the usual definition: a span's duration minus the part
of its interval that its child spans cover.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict

import pb_worker


def _opt(o):
    return o.get() if o.isDefined() else None


class Tracer:
    def __init__(self, spark, trace_dir: str):
        self.sc = spark.sparkContext
        self.trace_dir = trace_dir
        self.ops: list[dict] = []

    def begin(self, label: str, traced: bool) -> None:
        self.sc.setJobGroup(label, label)
        self.sc.setLocalProperty(pb_worker.TRACE_PROP, "1" if traced else "0")
        self.sc.setLocalProperty(pb_worker.OP_PROP, label)

    def end(self, op: dict) -> None:
        self.sc.setLocalProperty(pb_worker.TRACE_PROP, "0")
        if op["traced"] and op["ok"]:
            self.ops.append(op)

    def collect(self) -> None:
        """Attach worker task records, Spark jobs and stages, and the tasks
        of the stages that ran the engine's Python, to every traced
        operation."""
        # a worker appends its task's spans just after reporting the task
        # done; give the last task of the window time to land
        time.sleep(0.5)
        by_label = {op["label"]: op for op in self.ops}
        for op in self.ops:
            op["workers"] = []
        for path in glob.glob(os.path.join(self.trace_dir, "w-*.jsonl")):
            with open(path) as f:
                for line in f:
                    rec = json.loads(line)
                    op = by_label.get(rec["op"])
                    if op is not None:
                        op["workers"].append(rec)
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for op in self.ops:
            py = {r["stage"] for r in op["workers"]}
            jobs, stages = [], {}
            for jid in tracker.getJobIdsForGroup(op["label"]):
                sub = _opt(store.job(jid).submissionTime())
                jobs.append({"submit": sub.getTime() / 1e3 if sub else None})
                info = tracker.getJobInfo(jid)
                for sid in (list(info.stageIds) if info else []):
                    sd = _stage(store, sid)
                    if sd is None or sid in stages:
                        continue
                    done = _opt(sd.completionTime())
                    stages[sid] = {
                        "run_s": sd.executorRunTime() / 1e3,
                        "gc_s": sd.jvmGcTime() / 1e3,
                        "shuffle_bytes": sd.shuffleWriteBytes(),
                        "complete": done.getTime() / 1e3 if done else None,
                        "tasks": _tasks(store, sid, sd) if sid in py else [],
                    }
            op["jobs"], op["stages"] = jobs, stages


def _stage(store, sid: int):
    """The stage's last attempt, or None for a stage that never ran."""
    try:
        sd = store.lastStageAttempt(sid)
    except Exception:  # a skipped stage has no attempt in the store
        return None
    return sd if _opt(sd.submissionTime()) is not None else None


def _tasks(store, sid: int, sd) -> list[dict]:
    tl = store.taskList(sid, sd.attemptId(), 1 << 30)
    tasks = []
    for i in range(tl.size()):
        td = tl.apply(i)
        tm = _opt(td.taskMetrics())
        tasks.append({
            "partition": td.partitionId(),
            "attempt": td.attempt(),
            "ok": td.status() == "SUCCESS",
            "run_s": (tm.executorRunTime() if tm else 0) / 1e3,
        })
    return tasks


# --- span arithmetic ------------------------------------------------------


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def span_totals(records: list[dict]) -> tuple[dict, dict, dict]:
    """Total duration, self time and count per span name over task records;
    also rows per name (for spans that record them)."""
    dur, self_t, count = defaultdict(float), defaultdict(float), defaultdict(int)
    for rec in records:
        spans = rec["spans"]
        kids = defaultdict(list)
        for sid, parent, name, t0, t1, _thr, _rows in spans:
            kids[parent].append((t0, t1))
        for sid, parent, name, t0, t1, _thr, rows in spans:
            d = t1 - t0
            dur[name] += d
            self_t[name] += d - _union_len(
                [(max(a, t0), min(b, t1)) for a, b in kids.get(sid, [])
                 if b > t0 and a < t1])
            count[name] += 1
            if rows is not None:
                count[name + "#rows"] += rows
    return dur, self_t, count


def _stage_tasks(op: dict, sids) -> list[dict]:
    return [t for s in sids for t in op["stages"][s]["tasks"]]


def _py_stages(op: dict) -> set:
    return {r["stage"] for r in op["workers"] if r["stage"] in op["stages"]}


def _skew(tasks: list[dict]) -> float:
    runs = [t["run_s"] for t in tasks if t["ok"]]
    if not runs or statistics.median(runs) <= 0:
        return 0.0
    return max(runs) / statistics.median(runs)


def _retries(tasks: list[dict]) -> int:
    return sum(1 for t in tasks if t["attempt"] > 0 or not t["ok"])


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def encode_layers(ops: list[dict]) -> dict:
    rows = []
    for op in ops:
        py = _py_stages(op)
        tasks = _stage_tasks(op, py)
        dur, self_t, _ = span_totals(op["workers"])
        submits = [j["submit"] for j in op["jobs"] if j["submit"]]
        ends = [op["stages"][s]["complete"] for s in py
                if op["stages"][s]["complete"]]
        rows.append({
            "plan_s": min(submits) - op["t_call"] if submits else 0.0,
            "commit_s": op["t_ret"] - max(ends) if ends else 0.0,
            "jobs": len(op["jobs"]),
            "shuffle_bytes": sum(s["shuffle_bytes"]
                                 for s in op["stages"].values()),
            "task_s": sum(t["run_s"] for t in tasks),
            "task_skew": _skew(tasks),
            "task_retries": _retries(tasks),
            "gc_s": sum(s["gc_s"] for s in op["stages"].values()),
            "read_s": dur["pyarrow.read"],
            "chunk_s": self_t["pipeline.encode.chunk"],
        })
    return {k: _mean(r[k] for r in rows) for k in rows[0]} if rows else {}


def decode_layers(ops: list[dict], store_chunks: int) -> dict:
    rows = []
    for op in ops:
        py = _py_stages(op)
        tasks = _stage_tasks(op, py)
        dur, self_t, count = span_totals(op["workers"])
        task_s = sum(t["run_s"] for t in tasks)
        kernels = sum(v for k, v in self_t.items()
                      if k.startswith("kernels.") and k.endswith(".decode"))
        kernels += self_t["kernels.decode_any"]
        handoff = task_s - dur["udf.next"]
        parts = (dur["pyarrow.read"] + self_t["kernels.crc"] + kernels
                 + self_t["pipeline.decode.decode_chunk_table"] + handoff)
        chunks = count["pipeline.decode.decode_chunk_table"]
        rows.append({
            "plan_s": op.get("plan_s", 0.0),
            "chunks_read_frac": chunks / max(1, store_chunks),
            "rows_decoded_per_row_returned": (
                count["pipeline.decode.decode_chunk_table#rows"]
                / max(1, op.get("rows", 0))),
            "read_s": dur["pyarrow.read"],
            "crc_s": self_t["kernels.crc"],
            "kernel_s": kernels,
            "assemble_s": self_t["pipeline.decode.decode_chunk_table"],
            "handoff_s": handoff,
            "other_s": self_t["udf.next"],
            "task_s": task_s,
            "attributed_frac": parts / task_s if task_s > 0 else 0.0,
            "task_skew": _skew(tasks),
            "task_retries": _retries(tasks),
        })
    return {k: _mean(r[k] for r in rows) for k in rows[0]} if rows else {}


def verify_layers(ops: list[dict]) -> dict:
    """Split a verify job's scan stage into its two legs: tasks that ran the
    engine's Python decode are the decoded leg, the others the source
    leg.  ``agg_s`` is the time from the end of the scan stage to the
    verdict."""
    rows = []
    for op in ops:
        py = _py_stages(op)
        decoded = {(r["stage"], r["partition"]) for r in op["workers"]}
        src = dec = 0.0
        for s in py:
            for t in op["stages"][s]["tasks"]:
                if (s, t["partition"]) in decoded:
                    dec += t["run_s"]
                else:
                    src += t["run_s"]
        ends = [op["stages"][s]["complete"] for s in py
                if op["stages"][s]["complete"]]
        rows.append({"source_leg_s": src, "decoded_leg_s": dec,
                     "agg_s": op["t_ret"] - max(ends) if ends else 0.0})
    return {k: _mean(r[k] for r in rows) for k in rows[0]} if rows else {}


