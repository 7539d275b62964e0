"""Re-record ``eventlog_small/``: a local[2] session runs one aggregate +
parquet write under a benchmark-style job description, then one unlabelled
job. Only the events and properties the parser reads are kept.

    python3 cdcbench/tests/data/record_eventlog.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(HERE))))

KEEP = {"SparkListenerJobStart", "SparkListenerStageSubmitted",
        "SparkListenerTaskEnd"}


def main() -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from cdcbench.ledger import Tracer

    tmp = tempfile.mkdtemp(dir=HERE)
    try:
        spark = (SparkSession.builder.master("local[2]")
                 .config("spark.eventLog.enabled", "true")
                 .config("spark.eventLog.dir", "file://" + tmp)
                 .config("spark.eventLog.compress", "false")
                 .config("spark.sql.shuffle.partitions", "4")
                 .config("spark.ui.enabled", "false").getOrCreate())
        sc = spark.sparkContext
        t = Tracer(lambda p: sc.setLocalProperty("spark.job.description",
                                                 p or None))
        with t.span("bench.chunk"), t.span("cdc.apply.apply_chunk"), \
                t.span("lake.write_delta_files"):
            (spark.range(5000).groupBy((F.col("id") % 7).alias("k")).count()
             .write.parquet(os.path.join(tmp, "out")))
        spark.range(10).collect()
        spark.stop()
        out_dir = os.path.join(HERE, "eventlog_small")
        shutil.rmtree(out_dir, ignore_errors=True)
        os.makedirs(out_dir)
        with open(os.path.join(out_dir, "events_1"), "w") as out:
            for d, _, files in os.walk(tmp):
                for name in sorted(files):
                    if name.startswith(".") or d.endswith("out"):
                        continue
                    with open(os.path.join(d, name)) as f:
                        for line in f:
                            ev = json.loads(line)
                            if ev.get("Event") not in KEEP:
                                continue
                            if "Properties" in ev:
                                ev["Properties"] = {
                                    k: v for k, v in ev["Properties"].items()
                                    if k == "spark.job.description"}
                            if ev["Event"] == "SparkListenerStageSubmitted":
                                ev["Stage Info"] = {
                                    "Stage ID": ev["Stage Info"]["Stage ID"]}
                            if ev["Event"] == "SparkListenerJobStart":
                                ev.pop("Stage Infos", None)
                            out.write(json.dumps(ev) + "\n")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
