"""Tests of the benchmark's tracer. Run: python3 -m pytest perfbench/test_tracer.py"""

from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in [str(ROOT), os.environ.get("PYTHONPATH", "")] if p
)

from perfbench.tracer import Span, Tracer, install, union_length  # noqa: E402


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from mercurygate_spark.session import get_spark

    s = get_spark(
        app_name="perfbench_tracer_tests",
        cpus=2,
        extra_conf={
            "spark.driver.memory": "1g",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(tmp_path_factory.mktemp("warehouse")),
        },
    )
    yield s
    s.stop()


def _count(spark, n: int = 100) -> int:
    return spark.range(n).selectExpr("id % 7 AS k").groupBy("k").count().count()


def test_union_length_merges_overlaps():
    assert union_length([(0, 2), (1, 3), (5, 6), (6, 6)]) == pytest.approx(4.0)
    assert union_length([]) == 0.0


def test_self_time_subtracts_child_coverage():
    parent = Span("p", "g0", None, "t", start=0.0, end=10.0)
    parent.children = [
        Span("a", "g1", parent, "t", start=1.0, end=4.0),
        Span("b", "g2", parent, "t", start=3.0, end=5.0),
        Span("c", "g3", parent, "t", start=9.0, end=12.0),  # runs past the parent
    ]
    assert parent.self_time() == pytest.approx(10.0 - 4.0 - 1.0)


def test_nesting_assigns_jobs_to_the_innermost_span(spark):
    tr = Tracer(spark.sparkContext, prefix="nest")
    with tr.span("outer") as outer:
        _count(spark)
        with tr.span("inner") as inner:
            _count(spark)
    tr.resolve(tr.spans)
    assert inner.parent is outer and outer.children == [inner]
    assert outer.jobs and inner.jobs
    assert not set(outer.jobs) & set(inner.jobs)
    assert inner.counters["tasks"] > 0


def test_parent_group_is_restored(spark):
    sc = spark.sparkContext
    sc.setJobGroup("caller-group", "caller")
    try:
        tr = Tracer(sc, prefix="restore")
        with tr.span("a"):
            with tr.span("b"):
                assert sc.getLocalProperty("spark.jobGroup.id") == tr.spans[1].group
            assert sc.getLocalProperty("spark.jobGroup.id") == tr.spans[0].group
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller-group"
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    with Tracer(sc, prefix="restore2").span("c"):
        pass
    assert sc.getLocalProperty("spark.jobGroup.id") is None


def test_side_thread_jobs_and_spans_belong_to_the_spawning_span(spark):
    from mercurygate_spark.concurrency import run_in_background

    tr = Tracer(spark.sparkContext, prefix="side")

    def side() -> int:
        with tr.span("side-child"):
            return _count(spark, 50)

    with tr.span("main") as main:
        job = run_in_background(lambda: _count(spark, 60), "side-jobs")
        nested = run_in_background(side, "side-span")
        assert job.result(timeout_s=120) == 7
        assert nested.result(timeout_s=120) == 7
    tr.resolve(tr.spans)
    child = next(s for s in tr.spans if s.name == "side-child")
    assert child.parent is main
    assert child.thread != main.thread
    assert len(main.jobs) >= 1  # the unwrapped side-thread job ran in main's group
    assert child.jobs


def test_traced_op_returns_the_same_result_hash(spark, tmp_path):
    """Wrapping engine functions changes no result."""
    from perfbench import datagen
    from perfbench.workloads import result_hash

    datagen.write_tables(str(tmp_path), seed=3, rows=dict.fromkeys(datagen.SF01_ROWS, 60))
    from mercurygate_spark.queries import all_queries

    key = "text_quality_score"

    def run() -> str:
        df = all_queries()[key](spark, str(tmp_path))
        return result_hash(df.columns, [tuple(r) for r in df.collect()])

    plain = run()
    tr = Tracer(spark.sparkContext, prefix="hash")
    import mercurygate_spark.operators.text as text_mod

    undo = install(tr, {"mercurygate_spark.operators.text:quality_features": "qf"})
    try:
        with tr.span("op"):
            traced = run()
    finally:
        undo()
    assert text_mod.quality_features.__name__ == "quality_features"
    assert not hasattr(text_mod.quality_features, "__wrapped__")
    assert traced == plain
    assert any(s.name == "qf" for s in tr.spans)
