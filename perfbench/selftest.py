"""Self-test of the benchmark's own machinery, at a tiny size.

    python3 perfbench/selftest.py

Checks the percentile/tail rule, that an injected failing op shows up in
``error_rate``, that the event-log fold attributes jobs and tasks to the
layer whose span submitted them (on a synthetic log and on a real one), and
that ``BENCHMARK.json`` lists exactly the metrics ``run.py`` prints and
the workloads it runs.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT]

from perfbench import run  # noqa: E402
from perfbench.stats import closed_loop, percentile, tail  # noqa: E402
from perfbench.tracing import Tracer, find_event_log, fold_event_log  # noqa: E402


def test_tail_rule() -> None:
    xs = [float(i) for i in range(1, 20)]
    assert tail(xs) is None, "19 samples leave fewer than 10 beyond the median"
    assert tail(xs + [20.0]) == (50.0, 10.0, 10)
    assert tail([float(i) for i in range(1, 41)]) == (75.0, 30.0, 10)
    assert tail([float(i) for i in range(1, 101)]) == (90.0, 90.0, 10)
    assert tail([float(i) for i in range(1, 1001)]) == (99.0, 990.0, 10)
    assert percentile([3.0, 1.0, 2.0], 50) == 2.0
    assert percentile([5.0], 99) == 5.0


def test_injected_failures() -> None:
    def op(i):
        if i == 1:
            raise RuntimeError("injected op failure")
        return i

    def check(i, out):
        if i == 2:
            raise AssertionError("injected output-check failure")
        return 10

    res = closed_loop(op, check, seconds=1e9, min_ops=4, max_ops=4)
    s = res.summary()
    assert (s["attempted"], s["failed"], s["error_rate"]) == (4, 2, 0.5), s
    assert res.items == 20


def test_loop_stops_after_whole_groups() -> None:
    res = closed_loop(
        lambda i: time.sleep(0.01), lambda i, out: 1, seconds=0.025, min_ops=3, group=3
    )
    assert res.attempted == 3 and res.items == 3, res


def _ev(kind: str, **kw) -> str:
    return json.dumps({"Event": kind, **kw})


def test_fold_synthetic() -> None:
    grp = lambda layer: {"spark.jobGroup.id": "pb:" + layer}  # noqa: E731
    task = lambda stage, ok, run_ms, gc_ms, shuf, spill: _ev(  # noqa: E731
        "SparkListenerTaskEnd",
        **{
            "Stage ID": stage,
            "Stage Attempt ID": 0,
            "Task End Reason": {"Reason": "Success" if ok else "ExceptionFailure"},
            "Task Metrics": {
                "Executor Run Time": run_ms,
                "JVM GC Time": gc_ms,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": shuf},
                "Disk Bytes Spilled": spill,
            },
        },
    )
    stage = lambda sid, props: _ev(  # noqa: E731
        "SparkListenerStageSubmitted",
        **{"Stage Info": {"Stage ID": sid, "Stage Attempt ID": 0}, "Properties": props},
    )
    lines = [
        _ev("SparkListenerJobStart", **{"Job ID": 0, "Properties": grp("pairs")}),
        stage(0, grp("pairs")),
        task(0, True, 1500, 100, 1024 * 1024, 0),
        task(0, False, 500, 0, 0, 2 * 1024 * 1024),
        _ev("SparkListenerJobStart", **{"Job ID": 1, "Properties": {}}),
        stage(1, {}),
        task(1, True, 9000, 0, 0, 0),
        _ev("SparkListenerJobStart", **{"Job ID": 2, "Properties": grp("merge")}),
        _ev("SparkListenerJobStart", **{"Job ID": 3, "Properties": grp("merge")}),
        stage(2, grp("merge")),
        task(2, True, 250, 0, 0, 0),
    ]
    with tempfile.NamedTemporaryFile("w", suffix=".log", delete=False) as f:
        f.write("\n".join(lines) + "\n")
    try:
        g = fold_event_log(f.name)
    finally:
        os.unlink(f.name)
    assert set(g) == {"pairs", "merge"}, g
    p = g["pairs"]
    assert (p["jobs"], p["tasks"], p["failed_tasks"]) == (1, 2, 1), p
    assert (p["task_s"], p["gc_s"], p["shuffle_mb"], p["spill_mb"]) == (2.0, 0.1, 1.0, 2.0), p
    assert (g["merge"]["jobs"], g["merge"]["task_s"]) == (2, 0.25), g["merge"]


def test_fold_real_spark() -> None:
    """Spans tag real Spark jobs; the fold finds them under their layers."""
    os.environ.update(run.launch_env())
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(run.WORK, d), exist_ok=True)
    log_dir = os.path.join(run.WORK, "selftest-eventlog")
    shutil.rmtree(log_dir, ignore_errors=True)
    os.makedirs(log_dir)
    from mediachain_indexer_spark.session import get_spark

    spark = get_spark(app_name="perfbench-selftest", cores=2, extra_conf=run.spark_conf(log_dir))
    try:
        spark.sparkContext.setLogLevel("ERROR")
        tr = Tracer(spark.sparkContext, enabled=True)
        df = spark.range(0, 20000)
        with tr.span("batch", 0):
            with tr.span("blocking", 0):
                df.selectExpr("id % 97 AS k").groupBy("k").count().collect()
            with tr.span("cluster", 0):
                df.count()
                df.where("id > 5").count()
        df.count()  # untagged: must not be attributed to any layer
    finally:
        run.stop_engine(spark)
    g = fold_event_log(find_event_log(log_dir))
    shutil.rmtree(log_dir, ignore_errors=True)
    assert set(g) == {"blocking", "cluster"}, g
    assert g["cluster"]["jobs"] >= 2, g["cluster"]
    assert g["blocking"]["jobs"] >= 1 and g["blocking"]["shuffle_mb"] > 0, g["blocking"]
    assert all(v["task_s"] > 0 and v["failed_tasks"] == 0 for v in g.values()), g
    assert [s.layer for s in tr.spans] == ["batch", "blocking", "cluster"]
    assert tr.self_time(0) < tr.spans[0].wall


def test_benchmark_json_matches() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == dict(run.END_TO_END), e2e
    assert layer == run.per_layer_units(), sorted(set(layer) ^ set(run.per_layer_units()))
    from perfbench import workloads

    names = [w["name"] for w in bench["workloads"]]
    assert names == list(workloads.WORKLOADS), names


def main() -> int:
    tests = [
        test_tail_rule,
        test_injected_failures,
        test_loop_stops_after_whole_groups,
        test_fold_synthetic,
        test_benchmark_json_matches,
        test_fold_real_spark,
    ]
    for t in tests:
        t()
        print(f"ok {t.__name__}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
