"""loganalyzer_spark.measure: the timed window starts on an empty
cache, materialize keeps every output column, and the median-vs-best-of
policy (checked with a stubbed probe and clock, no Spark), and the
host stamp every published run carries."""

from __future__ import annotations

import pytest

from loganalyzer_spark import measure


def test_timed_builds_on_an_empty_cache(spark, monkeypatch):
    monkeypatch.setattr(measure, "first_touch_mb_s", lambda: 1000.0)
    cm = spark._jsparkSession.sharedState().cacheManager()
    spark.range(10).cache().count()
    assert not cm.isEmpty()
    seen = []

    def build():
        # an operator that persists at build time, like dsir_weights
        seen.append(cm.isEmpty())
        df = spark.range(100).cache()
        df.count()
        return df

    t = measure.timed(build, reps=2)
    spark.catalog.clearCache()
    assert seen == [True, True]
    assert t.rows == 100 and t.healthy and len(t.walls) == 2


def test_materialize_executes_every_output_column(spark, tmp_path):
    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    spark.range(50).selectExpr("id AS a", "id * 2 AS b", "CAST(id AS string) AS c") \
        .write.parquet(path)
    df = spark.read.parquet(path).withColumn("d", F.md5("c"))
    assert measure.materialize(df) == 50
    # the physical plan of the last SQL execution: materialize's own
    store = spark._jsparkSession.sharedState().statusStore()
    runs = store.executionsList()
    plan = runs.apply(runs.size() - 1).physicalPlanDescription()
    # count() would read struct<> and drop the md5 column entirely
    assert "ReadSchema: struct<a:bigint,b:bigint,c:string>" in plan
    assert "xxhash64(a#" in plan and "md5(" in plan


@pytest.fixture
def stubbed(monkeypatch):
    """measure.timed with scripted walls and probes: returns
    run(walls, probes, reps) -> (Timing, wait_healthy budgets)."""
    from pyspark.sql import SparkSession

    monkeypatch.setattr(SparkSession, "getActiveSession", lambda: None)

    def run(walls, probes, reps=3):
        clock = [0.0]
        walls, probes, waits = iter(walls), iter(probes), []
        monkeypatch.setattr(measure, "perf_counter", lambda: clock[0])
        monkeypatch.setattr(measure, "first_touch_mb_s", lambda: next(probes))
        monkeypatch.setattr(measure, "wait_healthy", lambda budget_s: waits.append(budget_s))

        def action(_df):
            clock[0] += next(walls)
            return 7

        return measure.timed(lambda: None, action, reps), waits

    return run


def test_timed_policy_median_when_every_probe_healthy(stubbed):
    t, waits = stubbed([3.0, 1.0, 2.0], [900.0, 800.0, 700.0])
    assert (t.wall, t.rows, t.walls, t.healthy) == (2.0, 7, [3.0, 1.0, 2.0], True)
    assert waits == []


def test_timed_policy_retries_a_degraded_round_then_best_of(stubbed):
    # one degraded probe poisons the round: one retry after a wait,
    # then best-of over every wall (the first round still counts)
    t, waits = stubbed([3.0, 1.5, 2.0, 6.0, 5.0, 4.0], [900.0, 100.0, 900.0] + [900.0] * 3)
    assert len(waits) == 1
    assert len(t.walls) == 6 and not t.healthy and t.wall == 1.5


def test_timed_policy_best_of_when_every_round_degraded(stubbed):
    t, waits = stubbed([3.0, 2.5, 2.0, 6.0, 5.0, 4.0], [100.0] * 6)
    assert len(waits) == 1  # one retry round, no more
    assert len(t.walls) == 6 and not t.healthy and t.wall == 2.0


def test_host_stamp_names_the_host():
    import os

    import pyspark

    stamp = measure.host_stamp()
    assert stamp.startswith(f"{os.cpu_count()} cpus, MemTotal ")
    assert f"Spark {pyspark.__version__}" in stamp and "heap budget " in stamp
    assert stamp.endswith(" UTC")
