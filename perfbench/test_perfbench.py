"""Tests of the benchmark itself.

  python3 -m pytest perfbench -q

The smoke tests run the real benchmark command (about a minute per run) and
check that every metric named in BENCHMARK.json prints with its unit.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import checks as C  # noqa: E402
import tracing as T  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from nlp_entity_linking_spark.conf import get_spark
    from session import session_conf

    extra, _ = session_conf(str(tmp_path_factory.mktemp("spark")), trace=False)
    extra.update({"spark.driver.memory": "1g",
                  "spark.driver.extraJavaOptions": "-Xms256m"})
    s = get_spark(app_name="perfbench-tests", master="local[2]", extra_conf=extra)
    yield s
    s.stop()


def test_cluster_check_fires_on_corrupted_cluster_table(spark):
    records = spark.createDataFrame([(1,), (2,), (3,)], "record_id long")
    good = spark.createDataFrame([(1, 1), (2, 1), (3, 3)], "record_id long, cluster_id long")
    assert C.check_clusters(records, good) == []

    dropped = good.filter("record_id != 3")
    assert any("in no cluster" in f for f in C.check_clusters(records, dropped))
    doubled = good.unionByName(spark.createDataFrame([(2, 3)], good.schema))
    assert any("more than one cluster" in f for f in C.check_clusters(records, doubled))
    foreign = good.unionByName(spark.createDataFrame([(9, 9)], good.schema))
    assert any("unknown records" in f for f in C.check_clusters(records, foreign))


def test_edge_and_record_checks(spark):
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    assert C.check_edges_subset(pairs.limit(1), pairs) == []
    stray = spark.createDataFrame([(1, 3)], "id_a long, id_b long")
    assert C.check_edges_subset(stray, pairs)
    records = spark.createDataFrame([(1,), (2,), (2,)], "record_id long")
    fails = C.check_records(records, 3)
    assert any("duplicate" in f for f in fails) and any("staged urls" in f for f in fails)


def test_counts_and_f1_checks():
    assert C.check_counts({"n": 1}, None) == []
    assert C.check_counts({"n": 1}, {"n": 1}) == []
    assert C.check_counts({"n": 2}, {"n": 1}) == ["n: expected 1, got 2"]
    assert C.check_f1(0.995) == [] and C.check_f1(0.98)
    # clusters {a,b} {c}; entities {a,b,c}: tp=1, predicted=1, true=3
    assign = pd.DataFrame({"cluster_id": [1, 1, 2], "entity_id": [7, 7, 7]})
    assert C.all_pairs_f1(assign) == pytest.approx(2 * 1 / (1 + 3))


def test_heap_clamp_only_when_the_request_exceeds_the_host():
    from session import heap_clamp

    conf = {"spark.driver.memory": "96g",
            "spark.driver.extraJavaOptions": "-Xms32g -XX:+UseG1GC"}
    assert heap_clamp(conf, 128 * 2**30) == {}
    assert heap_clamp(conf, 16 * 2**30) == {
        "spark.driver.memory": "4096m",
        "spark.driver.extraJavaOptions": "-Xms1024m -XX:+UseG1GC",
    }


class _FakeContext:
    def __init__(self):
        self.props = {}

    def getLocalProperty(self, key):
        return self.props.get(key)

    def setLocalProperty(self, key, value):
        self.props[key] = value


def test_jobs_attributed_by_group_then_by_time():
    tr = T.Tracer(_FakeContext())
    with tr.span("run") as root:
        with tr.span("stage:records", "records") as stage:
            with tr.span("write:records", "catalog") as write:
                time.sleep(0.01)
            time.sleep(0.01)
        with tr.span("select_threshold", "sweep") as sweep:
            time.sleep(0.01)
        time.sleep(0.01)
    jobs = [
        {"id": 0, "submit": write.t0, "group": write.id, "stages": [0]},
        {"id": 1, "submit": stage.t1, "group": stage.id, "stages": [1]},
        # a job from a program thread pool: no group, inside the sweep span
        {"id": 2, "submit": (sweep.t0 + sweep.t1) / 2, "group": None, "stages": [2]},
        {"id": 3, "submit": root.t1 + 10, "group": None, "stages": [3]},
    ]
    stages = {i: {"tasks_failed": i, "shuffle_write": 2**20, "spill": 0, "gc_ms": 1000}
              for i in range(4)}
    m = T.layer_metrics(tr, root, jobs, stages)
    assert m["records.jobs"] == 2 and m["catalog.jobs"] == 2
    assert m["sweep.jobs"] == 1 and m["sweep.tasks_failed"] == 2
    assert m["records.shuffle_write_mb"] == pytest.approx(2.0)
    assert m["records.gc_s"] == pytest.approx(2.0)
    assert m["trace.unattributed_jobs"] == 0
    assert m["trace.wall_s"] == pytest.approx(root.dur)
    assert m["trace.uncovered_s"] == pytest.approx(root.dur - stage.dur - sweep.dur)
    assert tr.sc.props["spark.jobGroup.id"] is None


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=200,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_every_metric_prints_with_unit(workload, trace):
    res = _run(workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {m["name"]: m["unit"] for m in spec} == {
        k: v["unit"] for k, v in res["metrics"].items()}
    for name, v in res["metrics"].items():
        assert isinstance(v["value"], (int, float)), name
        if not trace:
            assert v["value"] > 0, name


def test_fails_without_the_program(tmp_path):
    """In a directory holding only the benchmark, it exits non-zero without
    printing a result."""
    import shutil

    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "er_labeled", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
