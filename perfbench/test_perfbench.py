"""Tests of the benchmark's own logic; no Spark session needed.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from perfbench import eventlog, inputs, stats
from perfbench.workloads import classify

# -- percentile rule -----------------------------------------------------------


@pytest.mark.parametrize(
    "n, level",
    [(0, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0), (100, 90.0),
     (199, 90.0), (200, 95.0), (1000, 99.0), (10_000, 99.9)],
)
def test_tail_percentile_is_highest_level_with_ten_beyond(n, level):
    assert stats.tail_percentile(n) == level
    if level is not None:
        assert stats.samples_beyond(n, level) >= stats.MIN_BEYOND


def test_percentile_is_nearest_rank():
    values = [float(v) for v in range(1, 101)]
    assert stats.percentile(values, 50) == 50.0
    assert stats.percentile(values, 90) == 90.0
    assert stats.percentile(list(reversed(values)), 99.9) == 100.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)


# -- event-log reader -------------------------------------------------------------

SQL = "org.apache.spark.sql.execution.ui."


def _job(jid, group, stages, t, site=None, execution=None):
    props = {"spark.jobGroup.id": group}
    if site:
        props["callSite.short"] = site
    if execution is not None:
        props["spark.sql.execution.id"] = str(execution)
    return {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t,
            "Stage IDs": stages, "Properties": props}


def _stage(sid, tasks, cpu_ns, run_ms, shuffle_b=0, written_b=0):
    acc = [
        {"Name": "internal.metrics.executorCpuTime", "Value": cpu_ns},
        {"Name": "internal.metrics.executorRunTime", "Value": run_ms},
        {"Name": "internal.metrics.jvmGCTime", "Value": 10},
        {"Name": "internal.metrics.shuffle.write.bytesWritten", "Value": shuffle_b},
        {"Name": "internal.metrics.output.bytesWritten", "Value": written_b},
        {"Name": "number of output rows", "Value": 5},  # a SQL metric: not a task metric
    ]
    return {"Event": "SparkListenerStageCompleted",
            "Stage Info": {"Stage ID": sid, "Number of Tasks": tasks, "Accumulables": acc}}


CANNED = [
    # warmup job before the measured window: ignored
    _job(0, "sources.archive", [0], t=500),
    _stage(0, 4, 9e9, 9000),
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 900},
    # a pruned archive scan: files read come from the driver metric
    {"Event": SQL + "SparkListenerSQLExecutionStart", "executionId": 7,
     "sparkPlanInfo": {"nodeName": "Project", "metrics": [], "children": [
         {"nodeName": "Scan parquet", "children": [], "metrics": [
             {"name": "number of files read", "accumulatorId": 41, "metricType": "sum"},
             {"name": "number of output rows", "accumulatorId": 42, "metricType": "sum"}]}]}},
    {"Event": SQL + "SparkListenerDriverAccumUpdates", "executionId": 7,
     "accumUpdates": [[41, 3], [42, 999]]},
    _job(1, "sources.archive", [1], t=1000, site="collect at x.py:1", execution=7),
    _stage(1, 2, 1e9, 1500),
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1400},
    # the pipeline's own job and its tier write (no Python call site)
    _job(2, "plans.pipeline", [2], t=2000, site="collect at tstore_spark/plans/pipeline.py:45"),
    _stage(2, 4, 2e9, 2500),
    {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 2200},
    _job(3, "plans.pipeline", [3, 4], t=3000),
    _stage(3, 16, 4e9, 6000, shuffle_b=5_000_000),
    _stage(4, 8, 1e9, 1000, written_b=2_000_000),
    {"Event": "SparkListenerJobEnd", "Job ID": 3, "Completion Time": 4500},
    # a job that reuses stage 3 (skipped: never completes again)
    _job(4, "plans.pipeline", [3, 5], t=5000),
    _stage(5, 1, 1e8, 100),
    {"Event": "SparkListenerJobEnd", "Job ID": 4, "Completion Time": 5100},
    # harness jobs carry no layer
    _job(5, "perfbench", [6], t=6000),
    _stage(6, 4, 5e9, 5000),
]


def _write_log(tmp_path: Path) -> Path:
    log_dir = tmp_path / "eventlog_v2_local-1"
    log_dir.mkdir()
    lines = [json.dumps(ev) for ev in CANNED] + ['{"Event": "SparkListenerJobEnd", "Jo']
    (log_dir / "events_1_local-1").write_text("\n".join(lines))
    (log_dir / "appstatus_local-1").write_text("")
    return tmp_path


def test_event_files_finds_only_event_logs(tmp_path):
    root = _write_log(tmp_path)
    assert [Path(p).name for p in eventlog.event_files(str(root))] == ["events_1_local-1"]


def test_layer_totals_on_canned_log(tmp_path):
    root = _write_log(tmp_path)
    events = eventlog.read_events(eventlog.event_files(str(root)))
    totals = eventlog.layer_totals(events, classify, since_ms=1000)

    assert set(totals) == {"sources.archive", "plans.pipeline", "operators.rollup"}
    arch = totals["sources.archive"]
    assert arch["jobs"] == 1 and arch["tasks"] == 2
    assert arch["cpu_s"] == pytest.approx(1.0)
    assert arch["task_run_s"] == pytest.approx(1.5)
    assert (arch["files_read"], arch["scans"]) == (3, 1)
    assert arch["job_s"] == pytest.approx(0.4)

    pipe = totals["plans.pipeline"]
    assert pipe["jobs"] == 1 and pipe["cpu_s"] == pytest.approx(2.0)

    roll = totals["operators.rollup"]
    assert roll["jobs"] == 2
    assert roll["tasks"] == 16 + 8 + 1  # stage 3 counted once
    assert roll["cpu_s"] == pytest.approx(5.1)
    assert roll["shuffle_mb"] == pytest.approx(5.0)
    assert roll["written_mb"] == pytest.approx(2.0)
    assert roll["gc_s"] == pytest.approx(0.03)
    assert roll["job_s"] == pytest.approx(1.6)


def test_classify_splits_the_pipeline_call():
    assert classify("plans.pipeline", "collect at /x/tstore_spark/plans/pipeline.py:45") == "plans.pipeline"
    assert classify("plans.pipeline", None) == "operators.rollup"
    assert classify("operators.graph", "count at graph.py:1") == "operators.graph"
    assert classify("perfbench", None) is None
    assert classify(None, None) is None


# -- corpus generator -------------------------------------------------------------


def test_corpus_generator_plants_exact_and_near_duplicates():
    n = 300
    docs = inputs.corpus_docs(n, seed=5)
    assert list(docs["doc_id"]) == list(range(n))
    texts = dict(zip(docs["doc_id"], docs["text"]))
    exact = [i for i in range(n) if i % 100 == 2 and texts[i] == texts[i - 2]]
    near = [i for i in range(n) if i % 100 == 1 and texts[i] == texts[i - 1] + inputs.NEAR_DUP_SUFFIX]
    assert exact == [2, 102, 202] and near == [1, 101, 201]
    # every other doc is distinct text
    assert docs["text"].nunique() == n - len(exact)
    assert inputs.corpus_truth(n) == {"admitted": 297, "near_pairs": 3, "docs_out": 294}


def test_corpus_generator_is_seeded_and_one_third_stopwords():
    from tstore_spark.functions.text import EN_STOPWORDS

    a, b, c = (inputs.corpus_docs(50, seed=s) for s in (1, 1, 2))
    assert a.equals(b) and not a.equals(c)
    toks = a["text"].iloc[0].split()
    assert len(toks) == inputs.CORPUS_TOKENS
    assert sum(t in EN_STOPWORDS for t in toks) == inputs.CORPUS_TOKENS // 3


# -- BENCHMARK.json ----------------------------------------------------------------


def test_benchmark_json_names_what_run_reports():
    from perfbench import run
    from perfbench.workloads import WORKLOADS

    spec = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()


# -- process clean-up --------------------------------------------------------------


def test_kill_tree_stops_and_reaps_children_and_grandchildren():
    import subprocess
    import time

    p = subprocess.Popen(["sh", "-c", "sleep 60 & sleep 60 & wait"])
    deadline = time.monotonic() + 10
    while len(stats.descendants(p.pid)) < 2 and time.monotonic() < deadline:
        time.sleep(0.05)
    tree = [p.pid, *stats.descendants(p.pid)]
    assert len(tree) == 3
    stats.kill_tree([])
    assert stats.wait_gone(tree, 1) == []
    assert not any(stats._alive(pid) for pid in tree)
    p.wait()
