"""Self-tests of the benchmark harness on tiny inputs (no Spark).

    python3 -m pytest perfbench/test_harness.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import eventlog  # noqa: E402
import inputs  # noqa: E402
import oracles  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402

from document_quality_assessment_ocr_spark import oracle  # noqa: E402


def test_printed_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)


def _tiny_corpus():
    pages = {
        "good0": inputs.render_page(5, 0),
        "good1": inputs.render_page(5, 1),
        "bad": inputs.render_page(5, 2)[:100],  # truncated PNG
    }
    payloads = {k: {"png": v, "dpi": 200} for k, v in pages.items()}

    def doc(i, spans):
        return {"doc_id": f"t{i}", "skip_checks": False, "ingest_seq": i, "spans": spans}

    rows = [
        doc(0, [inputs._span("text", "spark join", "", 0), inputs._span("media", "", "good0", 5),
                inputs._span("media", "", "good1", 9)]),
        doc(1, [inputs._span("media", "", "bad", 0), inputs._span("text", "scan", "", 3)]),
        doc(2, [inputs._span("text", "row batch", "", 1)]),
    ]
    return rows, payloads


def _engine_rows(expected):
    return [{"doc_id": d, **e} for d, e in expected.items()]


def test_corrupt_page_is_rejected_as_data_not_failed():
    rows, payloads = _tiny_corpus()
    expected = oracle.evaluate_corpus(rows, payloads)
    assert expected["t1"]["reasons"][0].startswith(oracles.CRITICAL)
    res = oracles.check_extraction(_engine_rows(expected), expected)
    assert res == {"attempted": 3, "failed": 0, "rejected_as_data": 1, "mismatches": []}


def test_tampered_missing_or_duplicated_rows_are_failures():
    rows, payloads = _tiny_corpus()
    expected = oracle.evaluate_corpus(rows, payloads)
    out = json.loads(json.dumps(_engine_rows(expected)))
    out[0]["spans"][0]["text"] += "!"
    assert oracles.check_extraction(out, expected)["failed"] == 1
    assert oracles.check_extraction(_engine_rows(expected)[1:], expected)["failed"] == 1
    dup = _engine_rows(expected) + _engine_rows(expected)[:1]
    assert oracles.check_extraction(dup, expected)["failed"] == 1
    extra = _engine_rows(expected) + [{**_engine_rows(expected)[0], "doc_id": "zz"}]
    res = oracles.check_extraction(extra, expected)
    assert (res["attempted"], res["failed"]) == (4, 1)


def test_layer_reconciliation_arithmetic():
    rec = tracing.reconcile(10.0, {"a": 4.0, "b": 5.0}, slack=0.15)
    assert rec["layers_s"] == pytest.approx(9.0)
    assert rec["gap_s"] == pytest.approx(1.0)
    assert rec["gap_share"] == pytest.approx(0.1)
    assert rec["within"]
    assert not tracing.reconcile(10.0, {"a": 12.0}, slack=0.15)["within"]
    # children [1,3] and [2,5] overlap: union 4 s of the 10 s parent
    assert tracing.covered((0.0, 10.0), [(1.0, 3.0), (2.0, 5.0), (20.0, 30.0)]) == pytest.approx(4.0)
    assert tracing.self_time((0.0, 10.0), [(1.0, 3.0), (2.0, 5.0)]) == pytest.approx(6.0)


def test_tracer_self_times():
    t = tracing.Tracer()
    with t.span("root"):
        with t.span("child"):
            pass
    st = t.self_times()
    assert set(st) == {"root", "child"}
    root, child = t.spans
    assert child["parent"] == root["id"]
    assert st["root"] == pytest.approx((root["end"] - root["start"]) - (child["end"] - child["start"]))
    off = tracing.Tracer(enabled=False)
    with off.span("x"):
        pass
    assert off.spans == []


def _write_log(path, events):
    with open(path, "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")


def test_eventlog_without_task_count_and_without_directory(tmp_path):
    with pytest.raises(eventlog.EventLogMissing):
        eventlog.EventLog(str(tmp_path / "absent"))
    task = {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
            "Task Metrics": {"Executor Run Time": 7, "JVM GC Time": 1},
            "Task Info": {"Accumulables": [{"ID": 5, "Name": "time to run Python workers",
                                            "Update": "30", "Metadata": "sql"}]}}
    _write_log(tmp_path / "app-1", [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0],
         "Properties": {"spark.jobGroup.id": "g"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0, "Submission Time": 100}},
        task, task,
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0, "Completion Time": 150}},
    ])
    g = eventlog.EventLog(str(tmp_path)).group("g")
    assert (g.jobs, g.tasks, g.total("run_ms"), g.total("gc_ms")) == (1, 2, 14.0, 2.0)
    assert g.metric("time to run Python workers") == 60.0
    assert g.stages[0].wall_ms == 50.0


def test_inputs_are_a_function_of_the_seed():
    a, pa_ = inputs.unique_pages_corpus(7, n_docs=5)
    b, pb = inputs.unique_pages_corpus(7, n_docs=5)
    c, _ = inputs.unique_pages_corpus(8, n_docs=5)
    assert a == b and pa_ == pb and a != c
    assert inputs.make_documents(4).equals(inputs.make_documents(4))
    assert inputs.render_page(4, 3) == inputs.render_page(4, 3)


def test_k8_read_share_counts_first_pages_of_low_dpi_docs():
    rows = [
        {"doc_id": "a", "skip_checks": False, "ingest_seq": 0,
         "spans": [inputs._span("media", "", "lo", 9), inputs._span("media", "", "hi", 2)]},
        {"doc_id": "b", "skip_checks": True, "ingest_seq": 1, "spans": [inputs._span("media", "", "lo", 0)]},
    ]
    pay = {"lo": {"dpi": 0}, "hi": {"dpi": 200}, "x": {"dpi": 0}}
    assert inputs.k8_read_share(rows, pay) == pytest.approx(1 / 3)  # doc a reads page "hi"


def test_registry_comparison_rule():
    import pandas as pd

    a = pd.DataFrame({"k": [2, 1], "v": [0.5, 0.25]})
    assert oracles.frames_match(a, a.iloc[::-1]) is None
    assert "values" in oracles.frames_match(a, a.assign(v=[0.5, 0.2500001]))
    assert "shape" in oracles.frames_match(a, a.iloc[:1])
    assert "columns" in oracles.frames_match(a, a.rename(columns={"v": "w"}))
    assert oracles.frames_match(a, "duckdb: boom") == "duckdb: boom"


def test_pipeline_breakdown_splits_dedup_explode_and_fold(tmp_path):
    def node(name, desc, *metrics, children=()):
        return {"nodeName": name, "simpleString": desc, "children": list(children),
                "metrics": [{"name": m, "accumulatorId": a} for m, a in metrics]}

    plan = node("WholeStageCodegen", "wsc", children=[
        node("ObjectHashAggregate", "ObjectHashAggregate(functions=[collect_list(s)])",
             ("time in aggregation build", 1)),
        node("Generate", "Generate posexplode(spans)", ("number of output rows", 2)),
        node("SortAggregate", "SortAggregate(functions=[max_by(v, v.seq)])", ("number of output rows", 3)),
        node("Sort", "Sort [doc_id]", ("sort time", 4)),
        node("SortAggregate", "SortAggregate(functions=[partial_max_by(v, v.seq)])", ("number of output rows", 5)),
    ])

    def task(stage, run_ms, *updates):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Metrics": {"Executor Run Time": run_ms},
                "Task Info": {"Accumulables": [{"ID": a, "Update": v, "Metadata": "sql"} for a, v in updates]}}

    _write_log(tmp_path / "app-1", [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart", "executionId": 0,
         "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "g", "spark.sql.execution.id": "0"}},
        task(0, 100, (5, 10)),                        # dedup map stage: counts whole
        task(1, 50, (2, 40), (3, 10), (4, 7), (1, 12)),  # dedup sort 7, fold 12, explode the rest
    ])
    g = eventlog.EventLog(str(tmp_path)).group("g")
    assert run._pipeline_breakdown(g) == (107.0, 31.0, 12.0)


def test_descendants_and_wait_ended_track_a_child_to_its_exit():
    import subprocess

    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(30)"])
    try:
        assert child.pid in tracing.descendants(os.getpid())
        assert tracing.wait_ended([child.pid], 0.2) == [child.pid]
        child.kill()
        child.wait()
        assert tracing.wait_ended([child.pid], 5) == []
    finally:
        child.kill()
        child.wait()
