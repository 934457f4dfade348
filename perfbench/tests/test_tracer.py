"""Span accounting of the tracer: self times, job attribution, patching."""
import time

import pytest

import tracer as T
import workloads


def test_union_length():
    assert T.union_length([], 0, 10) == 0
    assert T.union_length([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert T.union_length([(-5, 2), (9, 20)], 0, 10) == 3


def test_nested_self_times_sum_to_the_root_wall():
    tr = T.Tracer()
    with tr.span("root") as root:
        time.sleep(0.01)
        with tr.span("a"):
            time.sleep(0.01)
            with tr.span("a1"):
                time.sleep(0.01)
        with tr.span("b"):
            time.sleep(0.01)
    selfs = tr.self_times()
    assert sum(selfs[i] for i in tr.subtree(root.sid)) == pytest.approx(root.wall, abs=1e-9)
    assert all(v >= 0 for v in selfs.values())
    assert [s.name for s in tr.outermost({"a", "a1"})] == ["a"]


def test_pool_thread_spans_hang_under_the_open_main_thread_span():
    from concurrent.futures import ThreadPoolExecutor

    tr = T.Tracer()

    def probe(_):
        with tr.span("probe"):
            time.sleep(0.01)

    with tr.span("admit") as admit:
        with ThreadPoolExecutor(2) as pool:
            list(pool.map(probe, range(4)))
    probes = tr.named("probe")
    assert len(probes) == 4 and all(p.parent == admit.sid for p in probes)
    # concurrent children overlap: self time counts their union once
    assert 0 <= tr.self_times()[admit.sid] < admit.wall


def test_function_patch_reaches_importers_and_restores():
    import chillastic_spark.engine as engine
    import chillastic_spark.sinks as sinks

    original = sinks.upsert
    tr = T.Tracer()
    p = T.Patches(tr)
    p.function(sinks, "upsert", "sinks.upsert")
    assert engine.upsert is sinks.upsert is not original
    p.restore()
    assert engine.upsert is sinks.upsert is original


def test_metric_value_parses_spark_formatting():
    assert T._metric_value("1,000") == 1000
    assert T._metric_value("total (min, med, max)\n2.7 s (1.3 s, 1.4 s)") == 2.7
    assert T._metric_value("total (min, med, max)\n840 ms (1 ms)") == pytest.approx(0.84)
    assert T._metric_value("total (min, med, max)\n1.5 m (1 ms)") == 90


@pytest.fixture(scope="module")
def spark():
    from chillastic_spark.session import get_spark

    s = get_spark("perfbench-tests", cpus=2)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_two_stage_job_is_attributed_to_its_span(spark):
    """A groupBy over spark.range with AQE off is one job of two stages:
    4 map tasks and 3 reduce tasks, with the shuffle written then read."""
    from pyspark.sql import functions as F

    conf = {"spark.sql.adaptive.enabled": "false", "spark.sql.shuffle.partitions": "3"}
    old = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        tr = T.Tracer(spark.sparkContext)
        with tr.span("outer") as outer:
            spark.range(0, 10_000, 1, 4).count()
            with tr.span("inner") as inner:
                spark.range(0, 10_000, 1, 4).groupBy(
                    (F.col("id") % 7).alias("k")
                ).count().collect()
        m, _ = workloads.spark_layer(spark, tr, [inner])
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    assert len(inner.jobs) == 1 and len(outer.jobs) == 1
    assert set(inner.jobs).isdisjoint(outer.jobs)
    assert m["spark.jobs"][0] == 1
    assert m["spark.stages"][0] == 2
    assert m["spark.tasks"][0] == 4 + 3
    assert m["spark.shuffle_write_bytes"][0] > 0
    assert m["spark.shuffle_read_bytes"][0] == m["spark.shuffle_write_bytes"][0]
    assert 0 <= m["spark.driver_s"][0] < inner.wall
    assert spark.sparkContext.getLocalProperty(T.GROUP_KEY) is None
