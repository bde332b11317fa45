"""Tests of the benchmark itself: the open-loop timer, self time, the
status-store collector, the top-k checker, and a smoke run per workload.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from checks import mismatches, per_query  # noqa: E402
from loops import open_loop  # noqa: E402
from spans import SparkCalls, Span, Tracer, self_times  # noqa: E402


class FakeClock:
    def __init__(self):
        self.now = 0.0

    def __call__(self):
        return self.now

    def sleep(self, dt):
        self.now += dt


def test_open_loop_counts_a_stall_against_later_requests():
    clock = FakeClock()

    def service(i):
        clock.now += 0.050 if i == 3 else 0.001
        return i

    due = np.arange(10) * 0.005  # one request every 5 ms
    res = open_loop(service, list(range(10)), due, clock=clock, sleep=clock.sleep)
    assert res.outputs == list(range(10))
    # request 3 starts on time and runs 50 ms; request 4 (due 5 ms later)
    # waits 45 ms, so its latency from the due time is 46 ms, not 1 ms
    assert res.latency_s[3] == pytest.approx(0.050)
    assert res.queue_s[4] == pytest.approx(0.045)
    assert res.latency_s[4] == pytest.approx(0.046)
    # the backlog drains one request per ms: every later request still waits
    assert all(res.latency_s[i] > 0.001 for i in range(4, 10))
    assert res.latency_s[:3] == pytest.approx([0.001] * 3)
    assert res.late_s.max() == pytest.approx(0.0)


def test_self_time_subtracts_the_union_of_children():
    spans = [Span("root", 0.0, 10.0, None, None, 0),
             Span("a", 1.0, 4.0, 0, None, 1),
             Span("b", 3.0, 6.0, 0, None, 2),     # overlaps a: union 1..6
             Span("c", 9.0, 12.0, 0, None, 3),    # clipped to the parent: 9..10
             Span("a.child", 2.0, 3.0, 1, None, 4)]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[1] == pytest.approx(3.0 - 1.0)
    assert st[2] == pytest.approx(3.0)
    assert st[4] == pytest.approx(1.0)


def test_tracer_off_records_nothing():
    t = Tracer(False)
    with t.span("x"):
        pass
    assert t.spans == []


def _frame(scores, qid="q1"):
    n = len(scores)
    return pd.DataFrame({"qid": [qid] * n, "docid": np.arange(n, dtype=np.int64),
                         "docno": [f"d{i}" for i in range(n)],
                         "score": np.asarray(scores, dtype=np.float32),
                         "rank": np.arange(n, dtype=np.int32)})


def test_checker_counts_a_perturbed_score_as_failed():
    ref_frame = pd.concat([_frame([3.0, 2.0, 1.0], "q1"), _frame([5.0, 4.0], "q2")])
    ref = per_query(ref_frame)
    assert mismatches(ref, ref_frame.sample(frac=1.0, random_state=1), ["q1", "q2"]) == 0
    bad = ref_frame.copy()
    bad.iloc[1, bad.columns.get_loc("score")] = np.nextafter(np.float32(2.0), np.float32(3.0))
    assert mismatches(ref, bad, ["q1", "q2"]) == 1
    swapped = ref_frame.copy()
    swapped.iloc[[0, 1], swapped.columns.get_loc("docno")] = ["d1", "d0"]
    assert mismatches(ref, swapped, ["q1", "q2"]) == 1
    assert mismatches(ref, ref_frame[ref_frame.qid == "q1"], ["q1", "q2"]) == 1
    # absent from both, e.g. a query of stopwords only: a match
    assert mismatches(ref, ref_frame, ["q1", "q2", "q3"]) == 0


def test_parts_of_each_workload_share_the_mix_of_query_sizes():
    import gen
    from workload import HOT_TERMS, NUM_TOPICS, POOL_SIZE, WORKLOADS, split

    rng = np.random.default_rng(0)
    vocab = gen.vocabulary(0, 5000)
    sets = {"topics": gen._topics(rng, vocab, NUM_TOPICS, HOT_TERMS),
            "pool": gen._pool(rng, vocab, POOL_SIZE, 0.0)}
    for wl in WORKLOADS.values():
        parts = split(sets[wl.query_set], wl.parts)
        assert sorted(q for part in parts for q in part) == sorted(sets[wl.query_set])
        sizes = sorted({len(q.split()) for _qid, q in sets[wl.query_set]})
        for size in sizes:
            per_part = [sum(len(q.split()) == size for _qid, q in part) for part in parts]
            assert max(per_part) - min(per_part) <= 1, (wl.name, size, per_part)


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    spark = (SparkSession.builder.master("local[2]")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.sql.shuffle.partitions", "2")
             .config("spark.sql.adaptive.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


def test_status_store_collector_on_a_two_stage_job(spark):
    from pyspark.sql import functions as F

    calls = SparkCalls(spark, Tracer(True))
    out: dict = {}
    with calls.call("two_stage", out):
        rows = (spark.range(1000, numPartitions=2)
                .groupBy((F.col("id") % 3).alias("k")).count().collect())
    assert sorted(r["count"] for r in rows) == [333, 333, 334]
    (c,) = out["two_stage"]
    assert c.jobs == 1
    assert c.stages == 2                     # map stage + reduce stage
    assert c.tasks == 4                      # 2 map tasks + 2 reduce tasks
    assert c.tasks_failed == 0
    assert c.shuffle_write_mb > 0
    assert c.shuffle_read_mb == pytest.approx(c.shuffle_write_mb)
    assert c.executor_run_s >= 0 and 0 <= c.driver_only_s <= c.wall_s
    assert [s.name for s in calls.tracer.spans] == ["two_stage"]


def _run(*args) -> tuple[dict, dict]:
    proc = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), *args],
                          cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert proc.returncode == 0, proc.stderr[-3000:]
    details, result = (json.loads(line) for line in proc.stdout.strip().splitlines()[-2:])
    return details, result


@pytest.mark.parametrize("workload,trace", [("batch_eval", 0), ("interactive", 0),
                                            ("interactive", 1)])
def test_smoke_run_prints_every_metric_with_its_unit(workload, trace):
    from layers import PER_LAYER_UNITS
    from workload import E2E_UNITS

    details, result = _run("--workload", workload, "--seed", "5", "--seconds", "1",
                           "--trace", str(trace), "--docs", "300")
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    # every serving request is checked, not only the Spark results
    assert result["attempted"] > details["samples"]["serve_qps"]
    units = PER_LAYER_UNITS if trace else E2E_UNITS
    assert {m: v["unit"] for m, v in result["metrics"].items()} == units
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
    assert set(details["samples"]) == set(E2E_UNITS)


def test_benchmark_json_names_the_metrics_the_runs_print():
    from layers import PER_LAYER_UNITS
    from workload import E2E_UNITS, WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER_UNITS


def test_outside_a_checkout_the_run_fails_without_a_result(tmp_path):
    proc = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                           "batch_eval", "--seed", "1", "--seconds", "1"],
                          cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert proc.returncode != 0
    assert proc.stdout == ""
