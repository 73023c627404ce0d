"""Regenerates ``data/small_eventlog.json`` and ``data/small_spans.jsonl``,
the recorded traced run ``test_trace.py`` parses: two operations on a
``local[2]`` session, one through a ``mapInPandas`` Python worker, one
through a shuffle aggregation. Only the events and fields the parser
reads are kept.

    python3 lakebench/tests/record_eventlog.py
"""

import glob
import json
import os
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

from lakebench.trace import SPAN_PROPERTY, SpanRecorder  # noqa: E402

KEEP = {
    "SparkListenerJobStart": ("Job ID", "Stage IDs", "Properties"),
    "SparkListenerStageCompleted": ("Stage Info",),
    "SparkListenerTaskEnd": ("Stage ID", "Task Info", "Task Metrics"),
    "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart": ("executionId", "time"),
    "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd": ("executionId", "time"),
}


def _slim(e: dict) -> dict:
    out = {"Event": e["Event"]}
    for k in KEEP[e["Event"]]:
        out[k] = e[k]
    if "Properties" in out:
        out["Properties"] = {
            k: v for k, v in out["Properties"].items()
            if k in (SPAN_PROPERTY, "spark.sql.execution.id")
        }
    if "Stage Info" in out:
        out["Stage Info"] = {
            k: v for k, v in out["Stage Info"].items()
            if k in ("Stage ID", "Submission Time", "Completion Time")
        }
    if "Task Info" in out:
        out["Task Info"] = {"Accumulables": [
            {"Name": a["Name"], "Update": a.get("Update")}
            for a in out["Task Info"].get("Accumulables", [])
            if "Python" in a.get("Name", "")
        ]}
    return out


def main() -> None:
    with tempfile.TemporaryDirectory(prefix="lakebench-eventlog-") as logdir:
        record(logdir)


def record(logdir: str) -> None:
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", logdir)
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .getOrCreate()
    )
    rec = SpanRecorder(spark.sparkContext)

    def slow(batches):
        for b in batches:
            time.sleep(0.05)
            yield b

    for op, build in enumerate((
        lambda: spark.range(4000).repartition(2).mapInPandas(slow, "id long"),
        lambda: spark.range(20000).selectExpr("id % 7 AS k").groupBy("k").count(),
    )):
        rec.op_id = op
        with rec.span("op"):
            with rec.span("queries.plan_build"):
                df = build()
            with rec.span("exec.run"):
                df.write.mode("overwrite").format("noop").save()
    rec.sc = None
    spark.stop()
    (path,) = glob.glob(os.path.join(logdir, "*"))
    with open(path) as fh, open(os.path.join(HERE, "data", "small_eventlog.json"), "w") as out:
        for line in fh:
            e = json.loads(line)
            if e["Event"] in KEEP:
                out.write(json.dumps(_slim(e)) + "\n")
    rec.dump(os.path.join(HERE, "data", "small_spans.jsonl"))


if __name__ == "__main__":
    main()
