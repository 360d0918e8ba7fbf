"""Tests of the benchmark's own measuring code.

Run from the repository root: ``python -m pytest perfbench -q``.
"""

from __future__ import annotations

import operator
import types

import pytest

import workloads
from tracing import (
    LAYER_PROPERTY,
    PASS_PROPERTY,
    EventLog,
    Job,
    Tracer,
    busy_seconds,
    closure,
)


class FakeClock:
    def __init__(self):
        self.now = 0.0

    def __call__(self) -> float:
        return self.now

    def advance(self, s: float) -> None:
        self.now += s


def _fake_module(clock: FakeClock) -> types.ModuleType:
    """outer spends 1 s, calls inner (5 s) through the module global, then
    spends 2 s more."""
    mod = types.ModuleType("fake_operators")
    mod.clock = clock
    exec(
        "def inner():\n"
        "    clock.advance(5)\n"
        "def outer():\n"
        "    clock.advance(1)\n"
        "    inner()\n"
        "    clock.advance(2)\n"
        "def _private():\n"
        "    pass\n",
        mod.__dict__,
    )
    return mod


def test_self_time_excludes_nested_wrapped_calls():
    clock = FakeClock()
    mod = _fake_module(clock)
    changes = []
    tracer = Tracer(clock=clock, on_change=changes.append)
    tracer.install(mod, "ops.outer", ["outer"])
    tracer.install(mod, "ops.inner", ["inner"])
    mod.outer()
    outer, inner = tracer.stats["ops.outer"], tracer.stats["ops.inner"]
    assert (outer.calls, outer.total_s, outer.self_s) == (1, 8.0, 3.0)
    assert (inner.calls, inner.total_s, inner.self_s) == (1, 5.0, 5.0)
    assert changes == ["ops.outer", "ops.inner", "ops.outer", None]


def test_same_layer_nesting_counts_calls_but_time_once():
    clock = FakeClock()
    mod = _fake_module(clock)
    original = mod.outer
    tracer = Tracer(clock=clock)
    tracer.install(mod, "ops")  # every public function the module defines
    assert not hasattr(mod._private, "__wrapped__")
    mod.outer()
    st = tracer.stats["ops"]
    assert (st.calls, st.total_s, st.self_s) == (2, 8.0, 8.0)
    tracer.uninstall()
    assert mod.outer is original


def test_busy_seconds_merges_overlapping_jobs():
    jobs = [Job(0, None, None, None, 1000, 3000),
            Job(1, None, None, None, 2000, 4000),  # overlaps job 0
            Job(2, None, None, None, 6000, 6500),
            Job(3, None, None, None, 7000, None)]  # never finished
    assert busy_seconds(jobs) == pytest.approx(3.5)


def test_closure_holds_when_build_and_action_cover_the_pass():
    # Tracing adds 0.1 s inside the build; nothing falls outside the spans.
    traced = [(1.1, 1.0, 2.1), (1.1, 1.0, 2.1), (1.1, 1.0, 2.1)]
    got = closure(traced, [2.0, 2.0, 2.0])
    assert got["trace.overhead_s"] == pytest.approx(0.1)
    assert got["trace.unaccounted_s"] == pytest.approx(0.0)
    assert got["trace.closure_gap_s"] == pytest.approx(0.1)
    assert got["trace.closes"] == 1.0


def test_closure_fails_when_time_falls_outside_build_and_action():
    # 0.5 s of each pass is in neither span, five times the overhead.
    traced = [(1.0, 1.0, 2.6)] * 3
    got = closure(traced, [2.5, 2.5, 2.5])
    assert got["trace.unaccounted_s"] == pytest.approx(0.6)
    assert got["trace.closure_gap_s"] == pytest.approx(-0.5)
    assert got["trace.closes"] == 0.0


def test_registry_share_is_every_ninth_query_by_warm_time():
    import json

    with open(workloads.QUERY_TIMES) as f:
        times = json.load(f)["queries"]
    for module in ("queries", "llm_ops"):
        names = workloads.registry_names(module)
        pool = [n for n, t in times.items() if t["module"] == module
                and n not in workloads.EXCLUDED_QUERIES]
        stride = workloads.QUERY_STRIDE
        assert len(names) == len(pool[stride // 2::stride])
        warm = [times[n]["warm_s"] for n in names]
        assert warm == sorted(warm)
        assert not workloads.EXCLUDED_QUERIES & set(names)


def test_event_log_parse_and_job_group_attribution(tmp_path):
    pyspark_sql = pytest.importorskip("pyspark.sql")
    log_dir = tmp_path / "eventlog"
    log_dir.mkdir()
    spark = (
        pyspark_sql.SparkSession.builder.master("local[2]")
        .appName("perfbench-test")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", str(tmp_path / "local"))
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", f"file://{log_dir}")
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .config("spark.sql.adaptive.enabled", "false")
        .getOrCreate()
    )
    sc = spark.sparkContext
    try:
        sc.setLocalProperty("spark.jobGroup.id", "q|build")
        sc.setLocalProperty(PASS_PROPERTY, "7")
        sc.setLocalProperty(LAYER_PROPERTY, "operators.fake")
        # One job, two stages: 4 map tasks, then 2 reduce tasks.
        (sc.parallelize(range(100), 4).map(lambda x: (x % 3, 1))
         .reduceByKey(operator.add, 2).collect())
        sc.setLocalProperty(LAYER_PROPERTY, None)
        sc.setLocalProperty("spark.jobGroup.id", "q|action")
        # One job, one stage of 3 tasks.
        sc.parallelize(range(10), 3).count()
        # A Python-evaluated SQL node over 50 rows.
        (spark.range(0, 50, 1, 2).mapInPandas(lambda it: it, "id long")
         .write.format("noop").mode("overwrite").save())
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty(PASS_PROPERTY, None)
        sc.parallelize(range(4), 2).count()  # untagged
    finally:
        spark.stop()

    (log_file,) = log_dir.iterdir()
    log = EventLog.read(str(log_file))
    build = [j for j in log.jobs.values() if j.group == "q|build"]
    action = [j for j in log.jobs.values() if j.group == "q|action"]
    untagged = [j for j in log.jobs.values() if j.group is None]

    assert len(build) == 1
    (b,) = build
    assert (b.phase, b.pass_no, b.layer) == ("build", "7", "operators.fake")
    assert (b.stages, b.tasks, b.task_retries) == (2, 6, 0)
    assert b.shuffle_write_b > 0 and b.shuffle_read_b > 0
    assert b.completed_ms >= b.submitted_ms

    count_job, *sql_jobs = sorted(action, key=lambda j: j.job_id)
    assert (count_job.stages, count_job.tasks) == (1, 3)
    assert count_job.layer is None and count_job.pass_no == "7"
    assert sum(j.python_rows for j in sql_jobs) == 50
    assert sum(j.python_sent_b for j in sql_jobs) > 0
    assert sum(j.python_received_b for j in sql_jobs) > 0
    assert all(j.python_rows == 0 for j in build + [count_job])

    assert len(untagged) == 1 and untagged[0].pass_no is None
    assert untagged[0].tasks == 2
