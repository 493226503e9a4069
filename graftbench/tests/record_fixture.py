"""Record the small event log and span list that ``test_fold.py`` reads.

    python3 graftbench/tests/record_fixture.py

Runs three nested spans on a two-core local session with the event log
on, using the benchmark's own tracer, then writes ``data/spans.jsonl``
and ``data/eventlog.jsonl``.  Only the events and fields the folder
reads are kept, so the files hold no call sites, paths or environment
of the machine that recorded them.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from spans import Tracer  # noqa: E402

DATA = os.path.join(HERE, "data")
KEEP = {
    "SparkListenerJobStart": ("Job ID", "Submission Time", "Stage IDs", "Properties"),
    "SparkListenerJobEnd": ("Job ID", "Completion Time"),
    "SparkListenerStageSubmitted": ("Stage Info", "Properties"),
    "SparkListenerTaskEnd": ("Stage ID", "Task End Reason", "Task Metrics"),
}
TASK_METRICS = (
    "Executor Run Time", "Executor CPU Time", "JVM GC Time", "Memory Bytes Spilled",
    "Disk Bytes Spilled", "Peak Execution Memory", "Shuffle Read Metrics",
    "Shuffle Write Metrics", "Input Metrics", "Output Metrics",
)


def slim(e: dict) -> dict | None:
    keep = KEEP.get(e["Event"])
    if keep is None:
        return None
    out = {"Event": e["Event"], **{k: e[k] for k in keep if k in e}}
    if "Properties" in out:
        out["Properties"] = {
            k: v for k, v in out["Properties"].items() if k == "spark.jobGroup.id"
        }
    if "Stage Info" in out:
        out["Stage Info"] = {"Stage ID": out["Stage Info"]["Stage ID"]}
    if "Task Metrics" in out:
        out["Task Metrics"] = {k: out["Task Metrics"][k] for k in TASK_METRICS
                               if k in out["Task Metrics"]}
    return out


def main() -> None:
    from pyspark.sql import SparkSession

    work = tempfile.mkdtemp(prefix="graftbench-fixture-")
    try:
        spark = (
            SparkSession.builder.master("local[2]")
            .config("spark.ui.enabled", "false")
            .config("spark.sql.shuffle.partitions", "2")
            .config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + work)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
            .getOrCreate()
        )
        app = spark.sparkContext.applicationId
        tracer = Tracer(spark.sparkContext, "it0")
        with tracer.span("iteration", "workload"):
            with tracer.span("outer", "operators.a"):
                spark.range(20_000, numPartitions=2).selectExpr("sum(id)").collect()
                with tracer.span("inner", "operators.b"):
                    spark.range(20_000, numPartitions=2).selectExpr(
                        "id % 10 AS k"
                    ).groupBy("k").count().collect()
                time.sleep(0.3)  # outer's own time, covered by no job
        spark.stop()
        os.makedirs(DATA, exist_ok=True)
        tracer.dump(os.path.join(DATA, "spans.jsonl"))
        with open(os.path.join(work, app)) as src, open(
            os.path.join(DATA, "eventlog.jsonl"), "w"
        ) as dst:
            for line in src:
                e = slim(json.loads(line))
                if e is not None:
                    dst.write(json.dumps(e) + "\n")
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
