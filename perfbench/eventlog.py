"""Reader for Spark event logs, as the traced benchmark run writes them.

Spark 4 writes rolling logs: a directory ``eventlog_v2_<app>/`` holding
``events_<n>_<app>[.<codec>]`` parts, zstd-compressed by default. Plain-text
logs (single file or rolling) are read too; zstd goes through pyarrow's
streaming codec, and other codecs are refused rather than misread.

``EventLog`` keeps what the per-layer metrics need:

* jobs with their job group and SQL execution id (from JobStart properties),
  so work can be attributed to the benchmark phase that tagged it;
* task metrics per stage (run time, GC, shuffle, input/output, spill);
* every SQL-metric accumulator mapped to the plan node that owns it, taken
  from the execution's plan and from each adaptive re-plan, so accumulator
  updates on tasks can be summed per node -- e.g. Python worker time for
  the ``ArrowEvalPython`` node that runs ``extract_text`` separately from
  the one that runs ``st_contains_point``.
"""

from __future__ import annotations

import json
import os
import re
import statistics
from dataclasses import dataclass, field
from typing import Callable, Iterable, Iterator

import pyarrow as pa

_PART_RE = re.compile(r"^events_(\d+)_")
_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_REPLAN = ("org.apache.spark.sql.execution.ui."
               "SparkListenerSQLAdaptiveExecutionUpdate")


def log_files(log_dir: str) -> list[str]:
    """Event-log files under ``log_dir``, rolling parts in order."""
    files = []
    for entry in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, entry)
        if os.path.isdir(path):
            parts = [p for p in os.listdir(path) if _PART_RE.match(p)]
            parts.sort(key=lambda p: int(_PART_RE.match(p).group(1)))
            files.extend(os.path.join(path, p) for p in parts)
        elif not entry.startswith("."):
            files.append(path)
    return files


def read_lines(path: str) -> Iterator[str]:
    name = os.path.basename(path)
    if name.endswith(".inprogress"):
        name = name[: -len(".inprogress")]
    codec = name.rsplit(".", 1)[1] if "." in name.split("_")[-1] else None
    if codec == "zstd":
        with pa.input_stream(path, compression="zstd") as fh:
            data = fh.read()
    elif codec is None:
        with open(path, "rb") as fh:
            data = fh.read()
    else:
        raise ValueError(f"unsupported event-log codec {codec!r} in {path}")
    yield from data.decode("utf-8").splitlines()


def read_events(log_dir: str) -> Iterator[dict]:
    for path in log_files(log_dir):
        for line in read_lines(path):
            if line:
                yield json.loads(line)


@dataclass
class Task:
    stage: int
    run_ms: int
    metrics: dict
    accums: dict  # accumulator id -> update of this task


@dataclass
class PlanMetric:
    node: str         # node name, e.g. "ArrowEvalPython"
    detail: str       # the node's one-line description
    name: str         # metric name, e.g. "time to run Python workers"
    kind: str         # "sum", "size", "timing" (ms), "nsTiming", ...


@dataclass
class EventLog:
    job_group: dict = field(default_factory=dict)      # job id -> group
    job_execution: dict = field(default_factory=dict)  # job id -> exec id
    job_stages: dict = field(default_factory=dict)     # job id -> [stage]
    stage_job: dict = field(default_factory=dict)      # stage -> first job
    tasks: list = field(default_factory=list)
    accum_node: dict = field(default_factory=dict)     # acc id -> PlanMetric
    plan_nodes: dict = field(default_factory=dict)     # exec id -> [(name, detail, meta)]

    # -- building ---------------------------------------------------------
    @classmethod
    def load(cls, log_dir: str) -> "EventLog":
        log = cls()
        for ev in read_events(log_dir):
            log.add(ev)
        return log

    def add(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            job = ev["Job ID"]
            props = ev.get("Properties") or {}
            self.job_group[job] = props.get("spark.jobGroup.id")
            exec_id = props.get("spark.sql.execution.id")
            self.job_execution[job] = None if exec_id is None else int(exec_id)
            self.job_stages[job] = list(ev.get("Stage IDs", []))
            for stage in self.job_stages[job]:
                self.stage_job.setdefault(stage, job)
        elif kind == "SparkListenerTaskEnd":
            info = ev.get("Task Info") or {}
            accums = {}
            for acc in info.get("Accumulables", []):
                try:
                    accums[acc["ID"]] = int(acc.get("Update", 0))
                except (TypeError, ValueError):
                    continue
            run_ms = (ev.get("Task Metrics") or {}).get("Executor Run Time", 0)
            self.tasks.append(Task(ev["Stage ID"], run_ms,
                                   ev.get("Task Metrics") or {}, accums))
        elif kind in (_SQL_START, _SQL_REPLAN):
            self._add_plan(ev["executionId"], ev["sparkPlanInfo"])

    def _add_plan(self, exec_id: int, root: dict) -> None:
        nodes = self.plan_nodes.setdefault(exec_id, [])
        stack = [root]
        while stack:
            node = stack.pop()
            nodes.append((node["nodeName"], node.get("simpleString", ""),
                          node.get("metadata") or {}))
            for m in node.get("metrics", []):
                self.accum_node[m["accumulatorId"]] = PlanMetric(
                    node["nodeName"], node.get("simpleString", ""),
                    m["name"], m.get("metricType", "sum"))
            stack.extend(node.get("children", []))

    # -- selecting --------------------------------------------------------
    def jobs(self, group_prefix: str) -> list[int]:
        return sorted(j for j, g in self.job_group.items()
                      if g is not None and g.startswith(group_prefix))

    def stages(self, jobs: Iterable[int]) -> set[int]:
        jobs = set(jobs)
        return {s for s, j in self.stage_job.items() if j in jobs}

    def executions(self, jobs: Iterable[int]) -> set[int]:
        return {self.job_execution[j] for j in jobs
                if self.job_execution.get(j) is not None}

    def tasks_of(self, jobs: Iterable[int]) -> list[Task]:
        stages = self.stages(jobs)
        return [t for t in self.tasks if t.stage in stages]

    # -- summarising ------------------------------------------------------
    def task_totals(self, jobs: Iterable[int]) -> dict:
        """Summed task metrics of the stages these jobs ran."""
        jobs = list(jobs)
        tot = dict(jobs=len(jobs), stages=0, tasks=0, run_s=0.0, gc_s=0.0,
                   spill_bytes=0, input_bytes=0, output_bytes=0,
                   shuffle_write_bytes=0, shuffle_records=0,
                   shuffle_read_bytes=0, fetch_wait_s=0.0)
        tasks = self.tasks_of(jobs)
        tot["stages"] = len({t.stage for t in tasks})
        for t in tasks:
            m = t.metrics
            rd = m.get("Shuffle Read Metrics") or {}
            wr = m.get("Shuffle Write Metrics") or {}
            tot["tasks"] += 1
            tot["run_s"] += t.run_ms / 1e3
            tot["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            tot["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                   + m.get("Disk Bytes Spilled", 0))
            tot["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            tot["output_bytes"] += (m.get("Output Metrics") or {}).get(
                "Bytes Written", 0)
            tot["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
            tot["shuffle_records"] += wr.get("Shuffle Records Written", 0)
            tot["shuffle_read_bytes"] += (rd.get("Local Bytes Read", 0)
                                          + rd.get("Remote Bytes Read", 0))
            tot["fetch_wait_s"] += rd.get("Fetch Wait Time", 0) / 1e3
        return tot

    def node_metrics(self, jobs: Iterable[int],
                     match: Callable[[PlanMetric], bool]) -> dict:
        """{metric name: summed task updates} over accumulators of the plan
        nodes ``match`` selects, in the tasks of these jobs. Times are in
        seconds whatever unit the metric was recorded in."""
        out: dict = {}
        for t in self.tasks_of(jobs):
            for acc, upd in t.accums.items():
                pm = self.accum_node.get(acc)
                if pm is None or not match(pm):
                    continue
                val = (upd / 1e3 if pm.kind == "timing"
                       else upd / 1e9 if pm.kind == "nsTiming" else upd)
                out[pm.name] = out.get(pm.name, 0) + val
        return out

    def shuffle_read_skew(self, jobs: Iterable[int]) -> float:
        """Slowest / median task run time in the stage that read the most
        shuffle records; 0.0 when these jobs read no shuffle."""
        per_stage: dict = {}
        for t in self.tasks_of(jobs):
            rd = t.metrics.get("Shuffle Read Metrics") or {}
            recs, times = per_stage.setdefault(t.stage, [0, []])
            per_stage[t.stage][0] = recs + rd.get("Total Records Read", 0)
            times.append(t.run_ms)
        reading = {s: v for s, v in per_stage.items() if v[0] > 0}
        if not reading:
            return 0.0
        _, times = max(reading.values(), key=lambda v: v[0])
        mid = statistics.median(times)
        return max(times) / mid if mid else 0.0

    def scans(self, jobs: Iterable[int], location_part: str) -> set[int]:
        """Execution ids among these jobs whose plan scans a file location
        containing ``location_part``."""
        hits = set()
        for ex in self.executions(jobs):
            for name, _, meta in self.plan_nodes.get(ex, ()):
                if name.startswith("Scan") and \
                        location_part in str(meta.get("Location", "")):
                    hits.add(ex)
        return hits

    def jobs_of_executions(self, execs: set[int]) -> list[int]:
        return sorted(j for j, e in self.job_execution.items() if e in execs)
