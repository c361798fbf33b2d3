"""Capture the event log that ``test_rollup_of_captured_tiny_job`` reads.

    python3 perfbench/testdata/capture_tiny_eventlog.py

Runs one job group (a 4-partition ``groupBy``, so there is a shuffle) on
``local[2]`` with an uncompressed, non-rolling event log, and keeps only
the listener events and fields the roll-up reads (the rest carries
call sites and local paths).
"""

from __future__ import annotations

import glob
import json
import os
import tempfile

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

GROUP = "spark.jobGroup.id"


def _reduce(ev: dict) -> dict | None:
    kind = ev.get("Event")
    props = {GROUP: (ev.get("Properties") or {}).get(GROUP)}
    if kind == "SparkListenerJobStart":
        return {"Event": kind, "Job ID": ev["Job ID"], "Submission Time": ev["Submission Time"],
                "Stage IDs": ev["Stage IDs"], "Properties": props}
    if kind == "SparkListenerJobEnd":
        return {"Event": kind, "Job ID": ev["Job ID"], "Completion Time": ev["Completion Time"]}
    if kind == "SparkListenerStageSubmitted":
        return {"Event": kind, "Stage Info": {"Stage ID": ev["Stage Info"]["Stage ID"]}, "Properties": props}
    if kind == "SparkListenerTaskEnd":
        return {"Event": kind, "Stage ID": ev["Stage ID"], "Task Metrics": ev["Task Metrics"]}
    return None


def main() -> None:
    here = os.path.dirname(os.path.abspath(__file__))
    with tempfile.TemporaryDirectory() as d:
        spark = (SparkSession.builder.master("local[2]").appName("tiny-eventlog")
                 .config("spark.ui.enabled", "false")
                 .config("spark.eventLog.enabled", "true").config("spark.eventLog.dir", d)
                 .config("spark.eventLog.compress", "false")
                 .config("spark.eventLog.rolling.enabled", "false")
                 .config("spark.sql.shuffle.partitions", "4").getOrCreate())
        spark.sparkContext.setJobGroup("tiny-group", "tiny job")
        spark.range(0, 1000, 1, 4).groupBy((F.col("id") % 7).alias("k")).count().collect()
        spark.stop()
        (log,) = glob.glob(os.path.join(d, "*"))
        with open(log) as src, open(os.path.join(here, "tiny_eventlog.json"), "w") as dst:
            for line in src:
                ev = _reduce(json.loads(line))
                if ev is not None:
                    dst.write(json.dumps(ev) + "\n")


if __name__ == "__main__":
    main()
