"""Tests of the benchmark's own code; none of them starts Spark.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os

import pytest

import gen
import run
import stats
import tracing

HERE = os.path.dirname(os.path.abspath(__file__))


def test_corpus_is_deterministic_per_seed():
    a = gen.make_corpus(7, 300, 2 / 3, 0.7)
    b = gen.make_corpus(7, 300, 2 / 3, 0.7)
    c = gen.make_corpus(8, 300, 2 / 3, 0.7)
    assert a == b
    assert a[0]["content"] != c[0]["content"]


def test_dup_corpus_is_deterministic_per_seed():
    assert gen.make_dup_corpus(3, 20, 5, 10, 30) == gen.make_dup_corpus(3, 20, 5, 10, 30)
    assert gen.make_dup_corpus(3, 20, 5, 10, 30) != gen.make_dup_corpus(4, 20, 5, 10, 30)


def test_corpus_gold_is_consistent():
    cols, gold = gen.make_corpus(1, 500, 2 / 3, 0.7)
    files = {f"{r}:{p}" for r, p in zip(cols["repo"], cols["path"])}
    regions = {rid for rid, _n, _a in gen.REGIONS}
    for subj, pred, obj in gold:
        if pred == "mentions_address":
            assert subj in files and obj.startswith("kaddr:")
        else:
            assert pred == "located_in" and obj in regions
    # each planted address line ends in the terminator, so its span is exact
    assert all(gen.TERMINATOR in c for c, s in zip(cols["content"], cols["doc_id"])
               if any(t[0].endswith(f"/f{s}.py") for t in gold))
    assert len(set(cols["doc_id"])) == 500


def test_dup_gold_drops_all_but_the_min_id_of_each_cluster():
    n_clusters, size = 12, 6
    cols, dropped = gen.make_dup_corpus(2, n_clusters, size, 5, 9)
    assert len(dropped) == n_clusters * (size - 1)
    assert sorted(cols["doc_id"]) == list(range(n_clusters * size + 5 + 9))


@pytest.mark.parametrize("n,expected", [
    (0, None), (19, None), (20, 50), (39, 50), (40, 75), (99, 75),
    (100, 90), (199, 90), (200, 95), (1000, 99),
])
def test_tail_percentile_keeps_ten_samples_beyond(n, expected):
    assert stats.tail_percentile(n) == expected


def test_percentile_is_nearest_rank():
    vals = list(range(1, 41))
    assert stats.percentile(vals, 50) == 20
    assert stats.percentile(vals, 75) == 30
    assert stats.percentile([5.0], 99) == 5.0


def test_metric_names_and_benchmark_json_agree():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert all(stats.METRIC_NAME.fullmatch(n) for n in names)
    assert len(names) == len(set(names))
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    assert all(stats.METRIC_NAME.fullmatch(n) for n in run.PER_LAYER)


class _FakeSc:
    def __init__(self):
        self.groups = []

    def setJobGroup(self, group_id, desc):
        self.groups.append(group_id)


def test_spans_set_the_job_group_and_self_time():
    sc = _FakeSc()
    t = tracing.Tracer(sc, "r")
    with t.span("op") as op:
        with t.span("tagger") as child:
            pass
    assert sc.groups == [op.id, child.id, op.id, "none"]
    assert child.parent == op.id
    assert t.self_time(op) == pytest.approx(op.wall - child.wall)


def test_event_log_attributes_tasks_to_the_stage_group(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Properties": {"spark.jobGroup.id": "s1"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 4},
         "Properties": {"spark.jobGroup.id": "s1"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 4,
         "Task End Reason": {"Reason": "Success"},
         "Task Metrics": {"Executor Run Time": 1500, "JVM GC Time": 100,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 64},
                          "Output Metrics": {"Records Written": 3, "Bytes Written": 9}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 4,
         "Task End Reason": {"Reason": "ExceptionFailure"},
         "Task Metrics": {"Executor Run Time": 500}},
    ]
    log = tmp_path / "eventlog_v2_app" / "events_1_app"
    log.parent.mkdir()
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    (log.parent / "appstatus_app").write_text("")
    groups = tracing.read_event_log(tracing.event_log_file(str(tmp_path)))
    g = groups["s1"]
    assert (g.jobs, g.tasks, g.failed_tasks) == (1, 2, 1)
    assert g.task_s == pytest.approx(2.0) and g.gc_s == pytest.approx(0.1)
    assert (g.shuffle_bytes, g.records_written, g.bytes_written) == (64, 3, 9)
    assert g.task_skew() == pytest.approx(1.5 / 1.0)


def test_cpu_clock_counts_this_process():
    clock = stats.CpuClock(os.getpid())
    c0 = clock.now()
    sum(i * i for i in range(2_000_000))
    assert clock.now() > c0
