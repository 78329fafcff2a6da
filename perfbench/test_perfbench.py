"""Tests of the benchmark's own code: the event-log reader on a tiny
recorded log (``record_fixture.py``), its task-skew median, the checksum,
and that BENCHMARK.json lists exactly the metrics the code reports.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import eventlog  # noqa: E402

FIXTURE = os.path.join(HERE, "fixtures")


@pytest.fixture(scope="module")
def log():
    return eventlog.EventLog.load(FIXTURE)


def test_fixture_is_zstd_rolling_log():
    files = eventlog.log_files(FIXTURE)
    assert len(files) == 1
    assert os.path.basename(os.path.dirname(files[0])).startswith("eventlog_v2_")
    assert files[0].endswith(".zstd")
    with open(files[0], "rb") as fh:
        with pytest.raises(UnicodeDecodeError):
            fh.read().decode("utf-8")


def test_jobs_grouped_and_tied_to_executions(log):
    timed = log.jobs("timed-")
    assert timed and set(timed) <= set(log.job_group)
    assert log.executions(timed)
    assert not set(timed) & set(log.jobs("setup"))
    tot = log.task_totals(timed)
    assert tot["jobs"] == len(timed)
    assert tot["tasks"] > 0 and tot["stages"] > 0 and tot["run_s"] > 0


def test_python_metrics_split_per_udf(log):
    timed = log.jobs("timed-")

    def udf(name):
        return log.node_metrics(timed, lambda pm: pm.node == "ArrowEvalPython"
                                and f"{name}(" in pm.detail)

    text, refine = udf("extract_text"), udf("st_contains_point")
    # both noop writes enrich all 200 pages; only the joined one refines
    assert text["number of output rows"] == 400
    assert 0 < refine["number of output rows"] < 200
    for per_udf in (text, refine):
        assert per_udf["data sent to Python workers"] > 0
        assert per_udf["data returned from Python workers"] > 0
        assert per_udf["time to run Python workers"] > 0
    every = log.node_metrics(timed, lambda pm: "Python" in pm.node)
    assert every["number of output rows"] >= 400 + refine["number of output rows"]


def test_plain_text_log_reads_the_same(log, tmp_path):
    (src,) = eventlog.log_files(FIXTURE)
    part = tmp_path / "eventlog_v2_local-plain" / "events_1_local-plain"
    part.parent.mkdir()
    part.write_text("\n".join(eventlog.read_lines(src)) + "\n")
    plain = eventlog.EventLog.load(str(tmp_path))
    timed = log.jobs("timed-")
    assert plain.jobs("timed-") == timed
    assert plain.task_totals(timed) == log.task_totals(timed)


def test_rolling_parts_in_numeric_order(tmp_path):
    app = tmp_path / "eventlog_v2_app"
    app.mkdir()
    for n in (10, 2, 1):
        (app / f"events_{n}_app").write_text(
            json.dumps({"Event": "SparkListenerJobStart", "Job ID": n,
                        "Stage IDs": [n]}) + "\n")
    (app / "appstatus_app").write_text("")
    files = eventlog.log_files(str(tmp_path))
    assert [os.path.basename(f) for f in files] == \
        ["events_1_app", "events_2_app", "events_10_app"]
    assert sorted(eventlog.EventLog.load(str(tmp_path)).job_stages) == [1, 2, 10]


def test_other_codecs_are_refused(tmp_path):
    shutil.copy(eventlog.log_files(FIXTURE)[0], tmp_path / "events_1_app.lz4")
    with pytest.raises(ValueError, match="lz4"):
        list(eventlog.read_lines(str(tmp_path / "events_1_app.lz4")))


def test_shuffle_read_skew_is_slowest_over_median():
    log = eventlog.EventLog()
    log.add({"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
             "Properties": {"spark.jobGroup.id": "g"}})
    for stage, recs, run_ms in ((0, 0, 900), (1, 5, 100), (1, 5, 200),
                                (1, 5, 600)):
        log.add({"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                 "Task Info": {"Accumulables": []},
                 "Task Metrics": {"Executor Run Time": run_ms,
                                  "Shuffle Read Metrics":
                                      {"Total Records Read": recs}}})
    # stage 1 read the shuffle: slowest 600 ms over median 200 ms
    assert log.shuffle_read_skew(log.jobs("g")) == pytest.approx(3.0)
    assert eventlog.EventLog().shuffle_read_skew([]) == 0.0


def test_checksum_ignores_order_but_not_content():
    import checks

    rows = [("a", 1), ("b", 2), ("c", 3)]
    assert checks.checksum(rows) == checks.checksum(reversed(rows))
    assert checks.checksum(rows) != checks.checksum(rows[:2] + [("c", 4)])
    assert checks.checksum([]) == "0:0000000000000000"


def test_oracle_pairs_brute_force_pip_with_hole():
    import pandas as pd

    import checks

    square = [(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0), (0.0, 0.0)]
    hole = [(1.0, 1.0), (3.0, 1.0), (3.0, 3.0), (1.0, 3.0), (1.0, 1.0)]
    xy = np.asarray(square + hole)
    regions = [(7, xy[:, 0], xy[:, 1], [0, 5, 10])]
    points = pd.DataFrame({"url": ["in", "hole", "out"],
                           "lon": [0.5, 2.0, 5.0], "lat": [0.5, 2.0, 2.0]})
    assert checks.oracle_pairs(points, regions) == {("in", 7)}


def test_region_table_matches_the_fixture_rings():
    import checks
    from spatial.synth import region_rings

    table = checks.region_table()
    assert [t[0] for t in table] == [r[0] for r in region_rings()]
    for (_, xs, ys, offsets), (_, _, rings) in zip(table, region_rings()):
        assert offsets[-1] == len(xs) == len(ys) == sum(len(r) for r in rings)
        assert (xs[0], ys[0]) == rings[0][0]


def test_plan_problems_flags_missing_work_and_counts():
    import checks

    required = {"joined": ("extract_text", "st_contains_point")}
    full = "ArrowEvalPython [extract_text(html)] ArrowEvalPython [st_contains_point(g)]"
    label = lambda desc, plan: desc if desc == "joined" else None  # noqa: E731
    ok = [(1, "joined", full), (2, "other", "")]
    assert checks.plan_problems(ok, label, required, {"joined": 1}) == []
    pruned = [(3, "joined", "ArrowEvalPython [extract_text(html)]")]
    found = checks.plan_problems(pruned, label, required, {"joined": 1})
    assert found == ["execution 3 (joined) lacks st_contains_point"]
    assert checks.plan_problems(ok, label, required, {"joined": 2})


def test_benchmark_json_lists_the_reported_metrics():
    import layers
    import run

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["end_to_end"]] \
        == run.END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] \
        == layers.PER_LAYER
    import workloads
    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)
