"""Property-based invariants for the bounds planner (hypothesis):
whatever the size distribution, the plan must cover every document
exactly once with sane flush sizes, and the collected size histogram
must plan exactly what the per-iteration aggregates plan."""
from hypothesis import given, settings, strategies as st

from chillastic_spark.plans import MAX_FLUSH_SIZE, plan_bounds

from test_bounds import ListSizeStats

sizes_strategy = st.lists(
    st.integers(min_value=1, max_value=2_000_000), min_size=0, max_size=400
)


@settings(max_examples=60, deadline=None)
@given(sizes=sizes_strategy, shards=st.integers(min_value=1, max_value=8))
def test_plan_invariants(sizes, shards):
    bounds = plan_bounds(ListSizeStats(sizes, shards=shards))
    assert 1 <= len(bounds) <= 3
    for b in bounds:
        assert 1 <= b.flush_size <= MAX_FLUSH_SIZE

    if len(bounds) == 1 and bounds[0].min_size == -1:
        return  # full-range plan covers everything by definition

    # emitted buckets are ordered and disjoint (empty ones are elided,
    # so the first need not start at 0 — makeBounds filters count>0)
    for prev, nxt in zip(bounds, bounds[1:]):
        assert prev.max_size <= nxt.min_size
    assert bounds[-1].max_size > max(sizes)

    # THE invariant: every document lands in exactly one emitted bucket
    # (a doc in an elided bucket would be silently lost)
    for s in sizes:
        hits = [b for b in bounds if b.min_size <= s < b.max_size]
        assert len(hits) == 1, f"size {s} covered {len(hits)}× by {bounds}"


# size multisets with NULLs, 0, negatives, single points and sizes over
# 1 MB (NULL is planned as size 0, the rule sources.size_range scans by)
MB = 1024 * 1024
nullable_sizes = st.lists(
    st.one_of(
        st.none(),
        st.just(0),
        st.integers(min_value=-5_000, max_value=-1),
        st.integers(min_value=1, max_value=20_000),
        st.integers(min_value=MB, max_value=60 * MB),
    ),
    min_size=0,
    max_size=60,
) | st.tuples(
    st.one_of(st.none(), st.integers(min_value=-5, max_value=3 * MB)),
    st.integers(min_value=1, max_value=40),
).map(lambda t: [t[0]] * t[1])  # a single point
thresholds = st.lists(
    st.one_of(
        st.integers(min_value=-10, max_value=61 * MB),
        st.floats(min_value=-10, max_value=61 * MB, allow_nan=False),
    ),
    min_size=3,
    max_size=3,
)


class NullableListSizeStats:
    """Pure-Python DataFrameSizeStats: NULL counts as size 0, and a
    histogram range holds ``lo <= size < hi``."""

    def __init__(self, sizes, shards=1):
        self.sizes = [0 if s is None else s for s in sizes]
        self.shards = shards

    def stats(self):
        if not self.sizes:
            return 0, 0.0, 0.0
        return len(self.sizes), float(min(self.sizes)), float(max(self.sizes))

    def histogram3(self, b0, b1, b2):
        def n(lo, hi):
            return sum(lo <= s < hi for s in self.sizes)

        return len(self.sizes), n(0, b0), n(b0, b1), n(b1, b2)


def _assert_counts(bounds, sizes):
    planned = [0 if s is None else s for s in sizes]
    for b in bounds:
        if b.min_size == -1:
            assert b.count == len(planned)
        else:
            assert b.count == sum(b.min_size <= s < b.max_size for s in planned)


@settings(max_examples=200, deadline=None)
@given(
    sizes=nullable_sizes,
    shards=st.integers(min_value=1, max_value=8),
    cuts=st.lists(thresholds, min_size=1, max_size=4),
)
def test_collected_histogram_answers_like_the_aggregates(sizes, shards, cuts):
    """The driver-side histogram behind CollectedSizeStats, fed the
    (size, count) rows its aggregate collects, answers stats(),
    histogram3() at any thresholds and the whole plan as the
    per-iteration aggregates' semantics do, and every Bound.count is the
    number of sizes in its range."""
    from collections import Counter

    from chillastic_spark.plans import _Histogram

    rows = list(Counter(0 if s is None else s for s in sizes).items())
    hist, ref = _Histogram(rows), NullableListSizeStats(sizes)
    hist.shards = shards
    ref.shards = shards
    assert hist.stats() == ref.stats()
    for b0, b1, b2 in cuts:
        assert hist.histogram3(b0, b1, b2) == ref.histogram3(b0, b1, b2)
    bounds = plan_bounds(hist)
    assert bounds == plan_bounds(ref)
    _assert_counts(bounds, sizes)


@settings(max_examples=10, deadline=None)
@given(
    sizes=nullable_sizes,
    shards=st.integers(min_value=1, max_value=8),
    cuts=st.lists(thresholds, min_size=1, max_size=3),
)
def test_collected_provider_equals_per_iteration_aggregates(spark, sizes, shards, cuts):
    """CollectedSizeStats over a DataFrame answers stats(), histogram3()
    at any thresholds and the whole plan exactly as DataFrameSizeStats
    does over the same frame (Spark's comparison and NULL rules, not a
    Python mirror of them)."""
    from chillastic_spark.plans import CollectedSizeStats, DataFrameSizeStats

    df = spark.createDataFrame([(s,) for s in sizes], "_size: long")
    collected = CollectedSizeStats(df, shards=shards)
    frame = DataFrameSizeStats(df, shards=shards)
    assert collected.stats() == frame.stats()
    assert not isinstance(collected._provider(), DataFrameSizeStats)
    for b0, b1, b2 in cuts:
        assert collected.histogram3(b0, b1, b2) == frame.histogram3(b0, b1, b2)
    bounds = plan_bounds(CollectedSizeStats(df, shards=shards))
    assert bounds == plan_bounds(frame)
    _assert_counts(bounds, sizes)
