"""Tracing for the benchmark's traced run.

- ``SpanRecorder`` keeps spans in memory (name, start, end, parent,
  operation id) and tags every Spark job launched inside a span with
  the span's id through a thread-local Spark property, so the event log
  can attribute jobs, stages and tasks back to it.
- ``parse_event_log`` reads an uncompressed Spark event log and sums
  task metrics, Python-worker SQL metrics, stage intervals and SQL
  execution intervals per span id.
- ``layer_metrics`` folds spans and the parsed log into the per-layer
  metrics the benchmark reports.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager

SPAN_PROPERTY = "lakebench.span"

# Spark 4.1 SQL metric names of the Python-evaluation operators
# (MapInPandas, ArrowEvalPython, FlatMapGroupsInPandas, ...)
PY_METRICS = {
    "time to run Python workers": "python_ms",
    "data sent to Python workers": "python_sent_b",
    "data returned from Python workers": "python_recv_b",
}


_S, _N, _MB, _R = "s", "count", "MB", "ratio"
LAYER_UNITS = {
    "session.start_s": _S,
    "queries.plan_build_s": _S,
    "queries.plan_jobs": _N,
    "queries.similarity.ivf_build_s": _S,
    "queries.atrest_check_s": _S,
    "queries.atrest_hit_ratio": _R,
    "sources.scan_task_s": _S,
    "sources.input_mb": _MB,
    "sources.records_in": _N,
    "transform.serialise_self_s": _S,
    "transform.aggregate_self_s": _S,
    "sinks.write_s": _S,
    "sinks.commit_s": _S,
    "sinks.files_out": _N,
    "sinks.output_mb": _MB,
    "operators.python_s": _S,
    "operators.python_mb_sent": _MB,
    "operators.python_mb_recv": _MB,
    "operators.python_share": _R,
    "exec.jobs": _N,
    "exec.stages": _N,
    "exec.tasks": _N,
    "exec.driver_gap_s": _S,
    "exec.stage_busy_s": _S,
    "exec.task_run_s": _S,
    "exec.task_cpu_s": _S,
    "exec.gc_s": _S,
    "exec.shuffle_write_mb": _MB,
    "exec.shuffle_read_mb": _MB,
    "exec.spill_mb": _MB,
    "exec.core_util": _R,
    "exec.op_wall_s": _S,
    "trace.overhead_s": _S,
}


class SpanRecorder:
    """In-memory span tree. ``sc`` is a SparkContext (or None to record
    spans without tagging jobs)."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.op_id: int | None = None

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": self.op_id,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._tag(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._tag(parent["id"] if parent else None)

    def _tag(self, span_id):
        if self.sc is not None:
            self.sc.setLocalProperty(
                SPAN_PROPERTY, None if span_id is None else str(span_id)
            )

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def _new_span_stats() -> dict:
    return defaultdict(float, stage_intervals=[], sql_intervals=[])


def parse_event_log(path: str) -> dict[int, dict]:
    """Per span id: jobs, stages, tasks, task time and bytes, Python
    SQL metrics, completed-stage intervals and SQL execution intervals
    (seconds since the epoch). Jobs launched outside any span land
    under id -1."""
    job_span: dict[int, int] = {}
    job_exec: dict[int, int] = {}
    stage_span: dict[int, int] = {}
    exec_times: dict[int, list] = {}
    stages_done: dict[int, tuple] = {}
    task_rows: list[tuple[int, dict]] = []
    with open(path) as fh:
        for line in fh:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                sid = props.get(SPAN_PROPERTY)
                span = int(sid) if sid not in (None, "") else -1
                job_span[e["Job ID"]] = span
                if "spark.sql.execution.id" in props:
                    job_exec[e["Job ID"]] = int(props["spark.sql.execution.id"])
                for st in e["Stage IDs"]:
                    stage_span[st] = span
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                if "Submission Time" in info and "Completion Time" in info:
                    stages_done[info["Stage ID"]] = (
                        info["Submission Time"] / 1000.0,
                        info["Completion Time"] / 1000.0,
                    )
            elif kind == "SparkListenerTaskEnd":
                task_rows.append((e["Stage ID"], e))
            elif kind.endswith("SQLExecutionStart"):
                exec_times.setdefault(e["executionId"], [None, None])[0] = e["time"] / 1000.0
            elif kind.endswith("SQLExecutionEnd"):
                exec_times.setdefault(e["executionId"], [None, None])[1] = e["time"] / 1000.0

    out: dict[int, dict] = defaultdict(_new_span_stats)
    for job, span in job_span.items():
        out[span]["jobs"] += 1
    for stage, iv in stages_done.items():
        span = stage_span.get(stage, -1)
        out[span]["stages"] += 1
        out[span]["stage_intervals"].append(iv)
    seen_exec: set[tuple[int, int]] = set()
    for job, ex in job_exec.items():
        span = job_span[job]
        iv = exec_times.get(ex)
        if iv and None not in iv and (span, ex) not in seen_exec:
            seen_exec.add((span, ex))
            out[span]["sql_intervals"].append(tuple(iv))
    for stage, e in task_rows:
        s = out[stage_span.get(stage, -1)]
        m = e.get("Task Metrics") or {}
        s["tasks"] += 1
        s["task_run_ms"] += m.get("Executor Run Time", 0)
        s["task_cpu_ns"] += m.get("Executor CPU Time", 0)
        s["gc_ms"] += m.get("JVM GC Time", 0)
        s["spill_b"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        sw = m.get("Shuffle Write Metrics") or {}
        s["shuffle_write_b"] += sw.get("Shuffle Bytes Written", 0)
        sr = m.get("Shuffle Read Metrics") or {}
        s["shuffle_read_b"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        inp = m.get("Input Metrics") or {}
        s["input_b"] += inp.get("Bytes Read", 0)
        s["records_in"] += inp.get("Records Read", 0)
        if inp.get("Bytes Read", 0) > 0:
            s["scan_task_ms"] += m.get("Executor Run Time", 0)
        outm = m.get("Output Metrics") or {}
        s["output_b"] += outm.get("Bytes Written", 0)
        for acc in e["Task Info"].get("Accumulables", []):
            key = PY_METRICS.get(acc.get("Name"))
            if key is not None:
                try:
                    s[key] += float(acc.get("Update") or 0)
                except (TypeError, ValueError):
                    pass
    return dict(out)


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
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


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of it its child spans cover."""
    kids: dict[int, list] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"]) - union_length(kids[s["id"]]) for s in spans
    }


def subtree(spans: list[dict]) -> dict[int, list[int]]:
    """span id -> ids of the span and all its descendants."""
    kids: dict[int, list] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append(s["id"])
    out = {}
    for s in spans:
        ids, todo = [], [s["id"]]
        while todo:
            i = todo.pop()
            ids.append(i)
            todo.extend(kids[i])
        out[s["id"]] = ids
    return out


def layer_metrics(spans: list[dict], log: dict[int, dict], ops: list[int], cores: int) -> dict:
    """Per-layer metrics over the measured operations ``ops`` (op ids).

    Spans used: ``op`` (one per operation), ``queries.plan_build``,
    ``queries.atrest.*`` (warm ``_ensure_*`` calls inside plan build),
    ``exec.run`` (plan execution), ``transform.serialise``,
    ``transform.aggregate``, ``sources.read``, ``sinks.write``.
    Times and counts are means per operation; ``exec.core_util`` is
    task run time over (measured wall x cores)."""
    opset = set(ops)
    mine = [s for s in spans if s["op"] in opset]
    selft = self_times(spans)
    tree = subtree(spans)
    n = max(1, len(ops))

    def by(prefix):
        return [s for s in mine if s["name"] == prefix or s["name"].startswith(prefix + ".")]

    def stat(span_ids, key):
        return sum(log.get(i, {}).get(key, 0.0) for i in span_ids)

    def tree_ids(ss):
        return [i for s in ss for i in tree[s["id"]]]

    def wall(ss):
        return sum(s["end"] - s["start"] for s in ss)

    all_ids = [s["id"] for s in mine]
    op_spans = [s for s in mine if s["name"] == "op"]
    measured_wall = wall(op_spans)
    plan = by("queries.plan_build")
    atrest = by("queries.atrest")
    runs = by("exec.run")
    ser, agg = by("transform.serialise"), by("transform.aggregate")
    sinks = by("sinks.write")
    atrest_hits = sum(1 for s in atrest if stat(tree[s["id"]], "jobs") == 0)

    def covered(span, key):
        """Length of ``span``'s subtree intervals of kind ``key``."""
        return union_length([iv for i in tree[span["id"]] for iv in log.get(i, {}).get(key, [])])

    # execution-phase wall covered by completed stages; the rest is the
    # driver gap (scheduling, commit, driver-side work)
    execs = runs + ser + agg
    busy = sum(covered(s, "stage_intervals") for s in execs)
    # a write's wall outside its SQL executions: staging and rename
    commit = sum((s["end"] - s["start"]) - covered(s, "sql_intervals") for s in sinks)
    task_run_s = stat(all_ids, "task_run_ms") / 1000.0
    python_s = stat(all_ids, "python_ms") / 1000.0
    mb = 1024.0 * 1024.0
    return {
        "queries.plan_build_s": sum(selft[s["id"]] for s in plan) / n,
        "queries.plan_jobs": stat(tree_ids(plan), "jobs") / n,
        "queries.atrest_check_s": sum(selft[s["id"]] for s in atrest) / n,
        "queries.atrest_hit_ratio": atrest_hits / len(atrest) if atrest else 1.0,
        "sources.scan_task_s": stat(all_ids, "scan_task_ms") / 1000.0 / n,
        "sources.input_mb": stat(all_ids, "input_b") / mb / n,
        "sources.records_in": stat(all_ids, "records_in") / n,
        "transform.serialise_self_s": sum(selft[s["id"]] for s in ser) / n,
        "transform.aggregate_self_s": sum(selft[s["id"]] for s in agg) / n,
        "sinks.write_s": wall(sinks) / n,
        "sinks.commit_s": commit / n,
        "sinks.files_out": len(sinks) / n,
        "sinks.output_mb": stat(tree_ids(sinks), "output_b") / mb / n,
        "operators.python_s": python_s / n,
        "operators.python_mb_sent": stat(all_ids, "python_sent_b") / mb / n,
        "operators.python_mb_recv": stat(all_ids, "python_recv_b") / mb / n,
        "operators.python_share": python_s / task_run_s if task_run_s else 0.0,
        "exec.jobs": stat(all_ids, "jobs") / n,
        "exec.stages": stat(all_ids, "stages") / n,
        "exec.tasks": stat(all_ids, "tasks") / n,
        "exec.driver_gap_s": (wall(execs) - busy) / n,
        "exec.stage_busy_s": busy / n,
        "exec.task_run_s": task_run_s / n,
        "exec.task_cpu_s": stat(all_ids, "task_cpu_ns") / 1e9 / n,
        "exec.gc_s": stat(all_ids, "gc_ms") / 1000.0 / n,
        "exec.shuffle_write_mb": stat(all_ids, "shuffle_write_b") / mb / n,
        "exec.shuffle_read_mb": stat(all_ids, "shuffle_read_b") / mb / n,
        "exec.spill_mb": stat(all_ids, "spill_b") / mb / n,
        "exec.core_util": task_run_s / (measured_wall * cores) if measured_wall else 0.0,
        "exec.op_wall_s": measured_wall / n,
    }
