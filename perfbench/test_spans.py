"""Tests of the benchmark's own attribution and metric catalogue.

    python3 -m pytest perfbench/test_spans.py -q
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import spans as tr  # noqa: E402


def _span(i, name, op, start, end, parent=None):
    return {"id": i, "name": name, "op": op, "start": start, "end": end,
            "parent": parent}


def _job(jid, t_ms, stages, group=None):
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t_ms,
            "Stage IDs": stages, "Properties": props}


def _task(stage, run_ms, shuffle_w=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Metrics": {"Executor Run Time": run_ms,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w}}}


def _stage_done(stage, tasks):
    return {"Event": "SparkListenerStageCompleted",
            "Stage Info": {"Stage ID": stage, "Number of Tasks": tasks}}


SPANS = [
    _span(0, "pagerank", "pagerank#0", 10.0, 20.0),
    _span(1, "operators.pagerank", "pagerank#0", 10.5, 18.0, parent=0),
    _span(2, "spark.collect", "pagerank#0", 18.0, 19.5, parent=0),
    _span(3, "wcc", "wcc#0", 21.0, 25.0),
]
EVENTS = [
    _job(0, 10_700, [0, 1], group="pagerank#0"),   # inside operators.pagerank
    _job(1, 12_000, [2]),                          # background thread: no group
    _job(2, 18_500, [3], group="pagerank#0"),      # inside spark.collect
    _job(3, 20_400, [4]),                          # between spans: untagged
    _job(4, 22_000, [5, 1], group="wcc#0"),        # stage 1 reused (skipped)
    _job(5, 23_000, [6], group="pagerank#0"),      # group disagrees with time
    _stage_done(0, 2), _task(0, 100, 10), _task(0, 300, 30),
    _stage_done(1, 1), _task(1, 50),
    _stage_done(2, 1), _task(2, 70),
    _stage_done(3, 1), _task(3, 5),
    _stage_done(4, 1), _task(4, 9),
    _stage_done(5, 1), _task(5, 11),
    _stage_done(6, 1), _task(6, 13),
]


def test_every_job_lands_in_exactly_one_span_or_untagged():
    attr = tr.attribute(EVENTS, SPANS)
    per_span = {k: b["jobs"] for k, b in attr["by_span"].items() if k is not None}
    assert attr["jobs_total"] == 6
    assert attr["untagged_jobs"] == 1
    assert sum(per_span.values()) + attr["untagged_jobs"] == attr["jobs_total"]
    assert per_span == {1: 2, 2: 1, 3: 2}
    assert attr["group_mismatch"] == 1


def test_stage_metrics_follow_their_first_job():
    attr = tr.attribute(EVENTS, SPANS)
    inner = attr["by_span"][1]
    # stages 0, 1 (job 0) and 2 (job 1); stage 1 is not counted again for wcc
    assert inner["stages"] == 3 and inner["tasks"] == 4
    assert inner["executor_run_s"] == (100 + 300 + 50 + 70) / 1e3
    assert inner["shuffle_write_bytes"] == 40
    assert attr["by_span"][3]["stages"] == 2


def test_op_totals_and_self_times():
    attr = tr.attribute(EVENTS, SPANS)
    ops = tr.op_totals(attr, SPANS)
    assert ops["pagerank#0"]["jobs"] == 3 and ops["wcc#0"]["jobs"] == 2
    own = tr.self_times(SPANS)
    assert abs(own["pagerank"] - 1.0) < 1e-9  # 10 s span, 9 s in children
    assert abs(own["operators.pagerank"] - 7.5) < 1e-9


def test_catalogue_matches_benchmark_json():
    import layers

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == layers.per_layer_catalog()
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == layers.END_TO_END
