"""Self-tests of the benchmark: the arithmetic behind its metrics, the
event-log attribution, the oracle gate and the release between queries.

    python3 -m pytest perfbench -q -p no:cacheprovider

The last two tests generate tiny inputs; the last one also starts a local
Spark session.
"""

from __future__ import annotations

import json
import math
import sys

import pytest

import fixtures
import run
import stats
from spans import Span, Tracer, exec_counts, layer_catalogue, pass_layers, read_eventlog
from workloads import WORKLOADS, Workload


def test_self_time_is_span_minus_union_of_children():
    # children overlap (1-3, 2-5) and one runs past the span's end (8-12)
    assert stats.self_time((0, 10), [(1, 3), (2, 5), (8, 12)]) == pytest.approx(10 - 4 - 2)
    assert stats.self_time((0, 10), []) == 10
    assert stats.self_time((0, 10), [(0, 10), (2, 3)]) == 0


def test_query_geomean_is_geomean_of_per_query_medians():
    lat = {"a": [1.0, 2.0, 3.0], "b": [4.0, 100.0, 4.0]}
    assert stats.query_geomean(lat) == pytest.approx(math.sqrt(2.0 * 4.0))
    # a long query weighs no more than a short one: doubling either moves it alike
    assert stats.query_geomean({"a": [2.0], "b": [4.0]}) == pytest.approx(
        stats.query_geomean({"a": [1.0], "b": [8.0]})
    )


def test_rows_per_s_counts_every_load():
    reads = {"q1": ("lineitem", "lineitem"), "q2": ("documents",), "q3": ()}
    rows = stats.rows_per_pass(reads, {"lineitem": 100, "documents": 10, "orders": 7})
    assert rows == 210
    assert stats.rows_per_s(rows, 4.2) == pytest.approx(50.0)


def test_rows_per_pass_stated_in_each_workload_matches_the_generator():
    import importlib.util

    spec = importlib.util.spec_from_file_location("make_fixtures", fixtures.GENERATOR)
    mf = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mf)
    for w in WORKLOADS.values():
        rows = {t: int(round(n * w.scale)) for t, n in mf.BASE.items()}
        assert f"{stats.rows_per_pass(w.reads, rows):,} input rows per pass" in w.why


def test_benchmark_json_lists_the_printed_metrics():
    with open(f"{run.REPO}/BENCHMARK.json") as f:
        doc = json.load(f)
    assert [(m["name"], m["unit"], m["better"]) for m in doc["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in doc["per_layer"]] == layer_catalogue()
    assert {w["name"]: w["why"] for w in doc["workloads"]} == {
        w.name: w.why for w in WORKLOADS.values()
    }
    setup_bound = next(m["bound"] for m in doc["end_to_end"] if m["name"] == "setup_s")
    assert setup_bound == max(m["bound"] for m in doc["end_to_end"])


def test_abba_order_is_balanced():
    on = [stats.abba_on(i) for i in range(8)]
    assert on == [True, False, False, True] * 2
    # a linear trend t = i over the passes averages the same on both sides
    assert sum(i for i in range(8) if on[i]) == sum(i for i in range(8) if not on[i])


def test_sample_counts_are_reported():
    passes = [(1, True, 3.0, {}), (2, False, 2.0, {}), (3, False, 2.1, {}), (4, True, 2.9, {})]
    counts = run.sample_counts(passes, {"a": [1.0, 2.0], "b": [1.0]})
    assert counts == {
        "setup": 1,
        "cold_pass": 1,
        "warmup_passes": run.WARMUP_PASSES,
        "warm_passes": 2,
        "traced_passes": 2,
        "per_query": 1,
    }


def _task(stage, launch, finish, run_ms, sw=0, sr=0, spill=0, failed=False):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Launch Time": launch, "Finish Time": finish, "Failed": failed},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Disk Bytes Spilled": spill,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": sw},
            "Shuffle Read Metrics": {"Remote Bytes Read": sr, "Local Bytes Read": sr},
        },
    }


def _eventlog(tmp_path):
    mb = 2**20
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "perfbench-1"}},
        _task(0, 0, 100, 90, sw=mb),
        _task(0, 0, 100, 90, sw=mb),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        _task(1, 100, 110, 10, sr=mb // 2),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
        # job 1 lists stage 1 again (skipped) and runs stage 2 with one slow task
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
         "Properties": {"spark.jobGroup.id": "perfbench-3"}},
        _task(2, 0, 10, 10),
        _task(2, 0, 10, 10),
        _task(2, 0, 80, 80, spill=3 * mb, failed=True),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3],
         "Properties": {}},
    ]
    path = tmp_path / "app"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    return read_eventlog(str(path))


def test_eventlog_totals_and_skew(tmp_path):
    jobs, stages = _eventlog(tmp_path)
    assert jobs[1]["stages"] == [2]  # stage 1 belongs to job 0
    ex = exec_counts([0, 1], jobs, stages)
    assert ex["jobs"] == 2 and ex["stages"] == 3 and ex["tasks"] == 6
    assert ex["task_run_s"] == pytest.approx(0.29)
    assert ex["shuffle_write_mb"] == pytest.approx(2.0)
    assert ex["shuffle_read_mb"] == pytest.approx(1.0)
    assert ex["spill_mb"] == pytest.approx(3.0)
    assert ex["failed_tasks"] == 1
    # widest stage among them is stage 2 (3 tasks): max 80 ms over median 10 ms
    assert ex["task_skew"] == pytest.approx(8.0)


def test_layer_metrics_attribute_jobs_and_self_time(tmp_path):
    jobs, stages = _eventlog(tmp_path)

    def span(i, parent, kind, name, t0, t1):
        return Span(i, parent, kind, name, 1, "q", t0, t1)

    tracer = Tracer()
    tracer.spans = [
        span(0, None, "query", "q", 0, 10),
        span(1, 0, "build", "q", 0, 6),
        span(2, 1, "operators", "wordcount.word_counts", 1, 3),  # group perfbench-2
        span(3, 2, "operators", "wordcount.word_counts", 1.5, 2),  # nested call, runs job 1
        span(4, 1, "sources", "documents", 4, 5),
        span(5, 0, "plan", "q", 6, 7),
        span(6, 0, "action", "q", 7, 10),
    ]
    jobs[0]["group"] = "perfbench-6"  # job 0 ran in the action
    m = pass_layers(tracer, jobs, stages)[1]["q"]
    assert m["queries.build_s"] == pytest.approx(6 - 2 - 1)
    assert m["queries.build_jobs"] == 1
    assert m["operators.wordcount.word_counts.calls"] == 2
    assert m["operators.wordcount.word_counts.s"] == pytest.approx(2)  # outermost call only
    assert m["operators.wordcount.word_counts.jobs"] == 1
    assert m["sources.load_calls"] == 1 and m["sources.load_s"] == pytest.approx(1)
    assert m["catalyst.plan_s"] == pytest.approx(1)
    assert m["exec.action_s"] == pytest.approx(3)
    assert m["spark.jobs"] == 2  # job 2 has no group of this query
    assert m["query_s"] == pytest.approx(10)


@pytest.fixture(scope="module")
def tiny_inputs(tmp_path_factory):
    return fixtures.ensure(3, 0.02, root=str(tmp_path_factory.mktemp("data")))


class _Registry:
    def __init__(self):
        from amorphous_mapreduce_spark import queries_registry

        self.registry = queries_registry


def test_oracle_gate_names_the_mismatching_query(tiny_inputs):
    import duckdb

    sys.path.insert(0, run.REPO)
    data_dir, rows = tiny_inputs
    assert rows["documents"] == 100
    w = run.WORKLOADS["mapreduce_core"]
    runner = run.Runner(w, data_dir, _Registry(), None)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{data_dir}/documents.parquet')")
    good = con.sql(runner.s.registry.ORACLES["wordcount"]).df()
    bad = good.copy()
    bad.iloc[0, bad.columns.get_loc(bad.select_dtypes("number").columns[0])] += 1
    runner.check_oracles({"wordcount": good, "exact_dedup": None})
    assert runner.failures == {} and runner.failed == 0
    runner.check_oracles({"wordcount": bad})
    assert list(runner.failures) == ["wordcount"]
    assert runner.failures["wordcount"].startswith("VALUES")
    assert runner.failed == 1
    runner.check_oracles({"wordcount": good.iloc[1:]})
    assert runner.failures["wordcount"].startswith("ROWCOUNT")


def test_release_leaves_no_persistent_rdds(tiny_inputs):
    """Two consecutive queries that persist and localCheckpoint leave
    nothing behind once the benchmark has released after each."""
    data_dir, _ = tiny_inputs
    w = Workload(
        "two_loops",
        0.02,
        {"bellman_ford_delta_frontier": ("lineitem",), "kcore_near_dup": ("documents",)},
        why="",
    )
    session = run.Session({})
    try:
        runner = run.Runner(w, data_dir, session, None)
        jsc = session.spark.sparkContext._jsc
        for q in w.queries:
            latency, _ = runner.run_query(1, q, collect=False)
            assert latency is not None, runner.failures
            assert len(jsc.getPersistentRDDs()) == 0
            assert session.cache_left() == (0, 0.0)
        # the queries did leave blocks behind before each release
        assert all(rdds > 0 for _, _, rdds, _ in runner.cache)
    finally:
        jvm = session.spark.sparkContext._gateway.proc
        run.stop_engine()
    assert jvm.poll() is not None  # the gateway JVM has exited, not just the context


_ORPHANS = """
import sys, time, subprocess
sys.path.insert(0, {here!r})
import run
run.adopt_orphans()
# the shell exits at once; its background sleep is orphaned, as a Python
# worker is when the JVM that forked it exits first
subprocess.run(["sh", "-c", "sleep {sleep} &"], check=True)
t0 = time.monotonic()
run.reap_children(timeout={timeout})
print(time.monotonic() - t0, run.children())
"""


@pytest.mark.parametrize("sleep,timeout,lo,hi", [(1, 30, 0.9, 10), (60, 0.5, 0.5, 10)])
def test_reap_children_waits_for_orphans_and_kills_stragglers(sleep, timeout, lo, hi):
    import subprocess

    code = _ORPHANS.format(here=run.HERE, sleep=sleep, timeout=timeout)
    out = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True, check=True)
    waited, left = out.stdout.split(" ", 1)
    assert lo <= float(waited) < hi
    assert left.strip() == "[]"
