"""Record the tiny event log the reader's tests use.

    python3 perfbench/record_fixture.py

Runs one 200-page ``join_broadcast`` iteration on ``local[2]`` with the
event log on, then keeps only the events ``eventlog.EventLog`` reads, with
job properties cut to the group and execution id, plan paths replaced by
``/data/...``, and writes it zstd-compressed as a rolling log under
``perfbench/fixtures/``.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import tempfile

import pyarrow as pa

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
APP = "local-fixture"
KEEP = ("SparkListenerJobStart", "SparkListenerTaskEnd",
        "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
        "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate")
_PATH_RE = re.compile(r"(?:file:)?(?:/[\w.@+-]+){2,}/?")


def record(work: str) -> str:
    sys.path[:0] = [ROOT, HERE]
    os.environ["PYTHONPATH"] = os.pathsep.join((ROOT, HERE))
    from pyspark.sql import SparkSession

    from spatial.synth import synth_pages
    from workloads import JoinBroadcast, job_group

    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir)
    spark = (SparkSession.builder.master("local[2]").appName("fixture")
             .config("spark.sql.shuffle.partitions", "2")
             .config("spark.sql.constraintPropagation.enabled", "false")
             .config("spark.ui.enabled", "false")
             .config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", log_dir)
             .getOrCreate())
    try:
        wl = JoinBroadcast(spark, work)
        path = os.path.join(work, "pages")
        with job_group(spark, "setup"):
            synth_pages(spark, 200, seed=1, partitions=2).write.parquet(path)
            wl.prepare(wl.pages(path), wl.make_plan())
        wl.iteration(0)
    finally:
        spark.stop()
    return log_dir


def scrub(ev: dict) -> dict:
    if ev["Event"] == "SparkListenerJobStart":
        ev.pop("Stage Infos", None)
        props = ev.get("Properties") or {}
        ev["Properties"] = {k: props[k] for k in
                            ("spark.jobGroup.id", "spark.sql.execution.id")
                            if k in props}
    for key in ("physicalPlanDescription", "details", "modifiedConfigs"):
        ev.pop(key, None)
    return json.loads(_PATH_RE.sub("/data/fixture", json.dumps(ev)))


def main() -> int:
    from eventlog import read_events

    scratch = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(scratch, exist_ok=True)
    work = tempfile.mkdtemp(prefix="fixture-", dir=scratch)
    try:
        events = [scrub(ev) for ev in read_events(record(work))
                  if ev.get("Event") in KEEP]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    out_dir = os.path.join(HERE, "fixtures", f"eventlog_v2_{APP}")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    data = "".join(json.dumps(ev) + "\n" for ev in events).encode()
    with pa.output_stream(os.path.join(out_dir, f"events_1_{APP}.zstd"),
                          compression="zstd") as fh:
        fh.write(data)
    print(f"{len(events)} events, {len(data)} bytes before compression")
    return 0


if __name__ == "__main__":
    sys.exit(main())
