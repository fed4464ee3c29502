"""Tests of the benchmark's own machinery.

    python -m pytest perfbench -q -p no:cacheprovider
"""

import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.trace import Tracer, read_event_log  # noqa: E402


@pytest.mark.parametrize("rolling", [False, True])
def test_event_log_sums_tasks_per_job_group(tmp_path, rolling):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "percolate"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2], "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor CPU Time": 2_000_000_000, "Executor Run Time": 2500,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
            "Output Metrics": {"Bytes Written": 7}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Executor CPU Time": 1_000_000_000}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {}},
    ]
    lines = [json.dumps(e) + "\n" for e in events]
    log = tmp_path / "app"
    if rolling:
        # Spark's rolling layout: a directory of numbered parts
        log.mkdir()
        (log / "events_10_app").write_text("".join(lines[3:]))
        (log / "events_2_app").write_text("".join(lines[:3]))
    else:
        log.write_text("".join(lines))
    got = read_event_log(str(log))
    assert got["percolate"]["tasks"] == 2
    assert got["percolate"]["cpu_s"] == pytest.approx(3.0)
    assert got["percolate"]["run_s"] == pytest.approx(2.5)
    assert got["percolate"]["shuffle_bytes"] == 100
    assert got["percolate"]["bytes_written"] == 7
    # stage 1 was first claimed by job 0; stage 2 ran with no group
    assert got["bench"]["tasks"] == 1


def test_call_counts_depend_on_seconds_only():
    from perfbench.workloads import n_calls

    assert n_calls(8, 12.0) == 1
    assert n_calls(4, 3.0) == 1
    assert n_calls(30, 3.0) == 10
    assert n_calls(0.1, 3.0) == 1


def test_index_call_cpu_averages_the_median_of_each_state():
    from perfbench.workloads import Outcome, summarize

    out = Outcome()
    out.attempted = 1
    for cpu in (5.0, 9.0, 6.0):
        out.time("call_cpu.appended", cpu)
    for cpu in (2.0, 4.0, 3.0):
        out.time("call_cpu.compacted", cpu)
    value, unit, n = summarize("index-rw", out)["call_cpu_s"]
    assert (value, unit, n) == (4.5, "s", 6)


@pytest.fixture(scope="module")
def spark():
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from elasticsearch_batch_percolator_spark.session import get_spark

    s = get_spark("perfbench-tests", cores=2)
    yield s
    s.stop()


def test_delivered_outputs_evaluate_every_udf_column(spark):
    """The benchmark times toPandas() of each output: every column is
    computed. A count() of the same frame lets Spark prune the highlight
    UDF column, so its Python evaluator never runs."""
    from elasticsearch_batch_percolator_spark.operators.percolate import percolate
    from elasticsearch_batch_percolator_spark.sources.registry import CompiledRegistry

    reg = CompiledRegistry.from_rows([
        ("q1", {"query": {"phrase": {"field": "content", "terms": ["quick", "fox"], "slop": 1}},
                "highlight": {"fields": ["content"]}}),
        ("q2", {"query": {"term": {"content": "dog"}}, "highlight": {"fields": ["content"]}}),
    ])
    docs = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "a lazy dog"), (3, "nothing here")],
        "doc_id long, content string",
    ).persist()
    docs.count()
    tr = Tracer(spark, traced=True)
    tr.exclude(docs)
    res = percolate(spark, docs, reg)
    scored = res.with_scores(reg)
    assert len(scored.toPandas()) == 2
    tr.walk("percolate", res.matches)

    counted = res.with_highlights(reg).groupBy().count()
    assert counted.collect()[0][0] == 2
    tr.walk("counted", counted)
    assert tr.plan["counted"]["python_rows"] == 0

    delivered = res.with_highlights(reg)
    pdf = delivered.toPandas()
    tr.walk("delivered", delivered)
    assert tr.plan["delivered"]["python_rows"] == 2
    assert all(dict(h)["content"] for h in pdf["highlights"])
    res.unpersist()
    docs.unpersist()
