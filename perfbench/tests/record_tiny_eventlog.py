"""Re-record tests/data/tiny_eventlog.jsonl: two job groups on a local
Spark session (a shuffled join of 200 x 50 rows; a mapInPandas over 100
rows), plus one job with no group.  Only the events and fields the fold
reads are kept.  Run from the repository root:

    python3 perfbench/tests/record_tiny_eventlog.py
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import tempfile

KEEP = {
    "SparkListenerJobStart",
    "SparkListenerTaskEnd",
    "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
}


def _plan(p: dict) -> dict:
    return {
        "nodeName": p.get("nodeName"),
        "metrics": [
            {"name": m["name"], "accumulatorId": m["accumulatorId"]}
            for m in p.get("metrics", [])
        ],
        "children": [_plan(c) for c in p.get("children", [])],
    }


def trim(ev: dict) -> dict:
    kind = ev["Event"]
    if kind == "SparkListenerJobStart":
        group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
        return {
            "Event": kind, "Job ID": ev["Job ID"], "Stage IDs": ev["Stage IDs"],
            "Properties": {"spark.jobGroup.id": group} if group else {},
        }
    if kind == "SparkListenerTaskEnd":
        info = ev["Task Info"]
        return {
            "Event": kind, "Stage ID": ev["Stage ID"],
            "Task Info": {
                "Task ID": info["Task ID"],
                "Accumulables": [
                    {"ID": a["ID"], "Name": a.get("Name"), "Update": a.get("Update")}
                    for a in info.get("Accumulables", [])
                ],
            },
            "Task Metrics": ev.get("Task Metrics"),
        }
    return {"Event": kind, "sparkPlanInfo": _plan(ev.get("sparkPlanInfo", {}))}


def main() -> None:
    from pyspark.sql import SparkSession

    log_dir = tempfile.mkdtemp()
    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.dir", "file://" + log_dir)
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.sql.autoBroadcastJoinThreshold", "-1")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    sc = spark.sparkContext
    a = spark.range(200).selectExpr("id % 50 AS k", "id AS v")
    b = spark.range(50).selectExpr("id AS k", "id * 2 AS w")
    sc.setJobGroup("g_join", "join")
    assert a.join(b, "k").count() == 200
    sc.setJobGroup("g_py", "python")

    def double(batches):
        for pdf in batches:
            yield pdf.assign(id=pdf["id"] * 2)

    assert spark.range(100).repartition(2).mapInPandas(double, "id long").count() == 100
    sc.setLocalProperty("spark.jobGroup.id", None)
    spark.range(10).count()
    spark.stop()

    out = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "tiny_eventlog.jsonl")
    with open(out, "w") as f:
        for path in sorted(glob.glob(os.path.join(log_dir, "*", "events_*"))):
            for line in open(path):
                ev = json.loads(line)
                if ev["Event"] in KEEP:
                    f.write(json.dumps(trim(ev)) + "\n")
    shutil.rmtree(log_dir)


if __name__ == "__main__":
    main()
