"""Golden tests for the adaptive bounds planner — exact expected values
from the reference suite (tests/services/subtasks.bounds.spec.js:118-231,
recorded in BASELINE.md), plus the count each Bound carries. Pure-
Python provider: the algorithm is driver-side math; only the
stats/histogram touch data.
"""
import pytest

from chillastic_spark.model import Subtask
from chillastic_spark.plans import (
    Bound,
    CollectedSizeStats,
    DataFrameSizeStats,
    calculate_bounds,
    flush_size_for,
    initial_bounds,
    plan_bounds,
)


class ListSizeStats:
    def __init__(self, sizes, shards=1):
        self.sizes = sizes
        self.shards = shards

    def stats(self):
        if not self.sizes:
            return 0, 0, 0
        return len(self.sizes), min(self.sizes), max(self.sizes)

    def histogram3(self, b0, b1, b2):
        c1 = sum(1 for s in self.sizes if 0 <= s < b0)
        c2 = sum(1 for s in self.sizes if b0 <= s < b1)
        c3 = sum(1 for s in self.sizes if b1 <= s < b2)
        return len(self.sizes), c1, c2, c3


def assert_counts_match(sizes, shards=1):
    """Every planned Bound.count is the number of sizes in its range
    (the whole input for the unranged bound)."""
    for b in plan_bounds(ListSizeStats(sizes, shards=shards)):
        if b.min_size == -1:
            assert b.count == len(sizes), b
        else:
            assert b.count == sum(b.min_size <= s < b.max_size for s in sizes), b


def KB(n):
    return int(n * 1024)


def corpus_10kb():
    sizes = [1 + (i % 1023) for i in range(10_000)]           # [1B, 1KB)
    sizes += [7168 + (i % 1024) for i in range(1_000)]        # [7KB, 8KB)
    sizes += [9421 + (i % 819) for i in range(10_000)]        # [9.2KB, 10KB)
    sizes += [KB(6), KB(9), KB(10)]                           # exact marks
    return sizes


def test_no_records():
    assert plan_bounds(ListSizeStats([])) == [
        Bound(-1, -1, Subtask.DEFAULT_FLUSH_SIZE, 0)
    ]


def test_all_same_size():
    # spec: 100 docs × 100 B → single full-range bound, flush maxed
    assert plan_bounds(ListSizeStats([100] * 100)) == [Bound(-1, -1, 10_000, 100)]


def test_nothing_above_1kb():
    sizes = [1 + (i % 1023) for i in range(20_000)] + [KB(1)]
    assert plan_bounds(ListSizeStats(sizes)) == [
        Bound(0, 613, 10_000, 12191),
        Bound(613, 919, 10_000, 5814),
        Bound(919, KB(1) + 1, 10_000, 1996),
    ]
    assert_counts_match(sizes)


def test_nothing_above_10kb_1_shard():
    assert plan_bounds(ListSizeStats(corpus_10kb())) == [
        Bound(0, 6145, 8533, 10001),
        Bound(6145, 9217, 5688, 1001),
        Bound(9217, KB(10) + 1, 5120, 10001),
    ]
    assert_counts_match(corpus_10kb())


def test_nothing_above_10kb_4_shards():
    assert plan_bounds(ListSizeStats(corpus_10kb(), shards=4)) == [
        Bound(0, 6145, 2133, 10001),
        Bound(6145, 9217, 1422, 1001),
        Bound(9217, KB(10) + 1, 1280, 10001),
    ]


@pytest.mark.parametrize("big_max", [50, 500])
def test_long_tail_mb(big_max):
    MB1 = 1024 * 1024
    top = big_max * MB1
    sizes = [20 + (i % 10220) for i in range(10_000)]
    sizes += [10240 + (i % 194560) for i in range(250_000)]
    sizes += [20 * MB1 + i * ((top - 20 * MB1) // 100) for i in range(100)]
    sizes += [top]
    got = plan_bounds(ListSizeStats(sizes))
    assert got == [Bound(0, 524288, 100, 260_000), Bound(MB1, top + 1, 1, 101)]
    assert_counts_match(sizes)


def test_initial_bounds_formula():
    # subtasks.js:210-237: piece=(u-l)/10 → 60%/90% points; 1MB cap
    assert initial_bounds(0, 0, 0) == [0, 0, 0]
    assert initial_bounds(10, 99, 100) == [100, 100, 100]
    assert initial_bounds(100, 0, 1000) == [600, 900, 1000]
    b = initial_bounds(100, 0, 10 * 1024 * 1024)
    assert b[1] == 1024 * 1024 and b[0] == 524288


def test_flush_size_formula():
    # clamp(50MB/((max−1)·shards), 1, 10000)   (subtasks.js:267)
    assert flush_size_for(10241, 1) == 5120
    assert flush_size_for(10241, 4) == 1280
    assert flush_size_for(2, 1) == 10_000
    assert flush_size_for(52428801, 1) == 1


def test_dataframe_provider_matches_list(spark):
    sizes = corpus_10kb()
    df = spark.createDataFrame([(s,) for s in sizes], "_size: long")
    got = plan_bounds(DataFrameSizeStats(df))
    assert got == plan_bounds(ListSizeStats(sizes))


def test_collected_provider_matches_list_under_and_over_the_cap(spark, monkeypatch):
    """The collected histogram plans exactly what the per-iteration
    aggregates plan; a driver gate below the distinct sizes, or 0,
    falls back to them."""
    sizes = corpus_10kb()
    df = spark.createDataFrame([(s,) for s in sizes], "_size: long")
    want = plan_bounds(ListSizeStats(sizes))
    under = CollectedSizeStats(df)
    assert plan_bounds(under) == want
    assert not isinstance(under._provider(), DataFrameSizeStats)
    for cap in ("100", "0"):  # ~2.8k distinct sizes
        monkeypatch.setenv("CHILLASTIC_CC_LOCAL_CAP", cap)
        over = CollectedSizeStats(df)
        assert plan_bounds(over) == want
        assert isinstance(over._provider(), DataFrameSizeStats)


def _planning_jobs(spark, provider) -> tuple[list, int]:
    """(bounds, Spark jobs) of one plan_bounds, counted with the status
    tracker under a job group of its own."""
    import uuid

    sc = spark.sparkContext
    group = f"plan-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "plan_bounds")
    try:
        bounds = plan_bounds(provider)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return bounds, len(sc.statusTracker().getJobIdsForGroup(group))


def test_collected_plan_runs_one_aggregate(spark, store_factory):
    """Under the cap, planning a slice is one aggregate (a shuffle job
    and its result job under AQE), however many refinement iterations
    the search takes; the collect happens inside plan_bounds."""
    src = store_factory("src", {"ix": [
        {"_id": f"d{i}", "_type": "t", "_size": s, "_source": {}}
        for i, s in enumerate([1 + (i % 1023) for i in range(300)] + [KB(9)] * 30)
    ]})
    sizes = src.read_sizes(spark, "ix", "t")
    collected, jobs = _planning_jobs(spark, CollectedSizeStats(sizes))
    assert 1 <= jobs <= 2, jobs
    per_iteration, more = _planning_jobs(spark, DataFrameSizeStats(sizes))
    # stats + at least one histogram: two aggregates or more
    assert collected == per_iteration and more >= 4, more
