"""Backlog planning: adaptive size-range partitioning (SURVEY §4.1).

Re-implements the BEHAVIOR of the reference's bounds search
(app/services/subtasks.js:162-361): split each (index, type) into ≤3
``_size`` buckets with comparable chunk counts, where chunk count =
ceil(count / flush_size) and flush_size targets ≈50 MB of bulk payload
per shard. Seed boundaries come from a stats pass (60%/90% points,
1 MB cap); ≤10 refinement iterations of a 3-bucket histogram move the
boundaries by delta-scaled multipliers until chunk counts converge
within 100. Golden outputs are pinned in tests/test_bounds.py
(from tests/services/subtasks.bounds.spec.js:118-231).

Data access is abstracted behind SizeStatsProvider. The engine plans
with CollectedSizeStats: one ``groupBy(size).count()`` aggregate,
collected to the driver once (at most ``knobs.local_cap()`` distinct
sizes), answers the stats pass and every refinement iteration on the
driver. Above the cap it falls back to DataFrameSizeStats, ONE scan for
stats and ONE scan per refinement iteration (conditional-count
aggregate) — at 100 TB those scans prune to the (index,type) partition
and read only the size column. The last histogram holds the exact
count of every range it returns, so each Bound carries its count and
admission needs no per-subtask count query.
"""
from __future__ import annotations

import math
from bisect import bisect_left
from dataclasses import dataclass
from itertools import accumulate
from typing import Optional, Protocol

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from chillastic_spark.knobs import local_cap
from chillastic_spark.model import Subtask

MB = 1024 * 1024
TARGET_BULK_BYTES = 50 * MB  # subtasks.js:267
MAX_FLUSH_SIZE = 10_000  # subtasks.js:15
MAX_ITERATIONS = 10  # subtasks.js:358
CLOSE_ENOUGH_CHUNKS = 100  # subtasks.js:191


@dataclass(frozen=True)
class Bound:
    min_size: float
    max_size: float
    flush_size: int
    # documents in [min_size, max_size) — or in the whole slice for the
    # unranged (-1, -1) bound — read off the histogram that chose it
    count: int


@dataclass(frozen=True)
class _Bucket:
    count: int
    flush_size: int
    chunks: int
    min_size: float
    max_size: float


class SizeStatsProvider(Protocol):
    shards: int

    def stats(self) -> tuple[int, float, float]:
        """(count, min, max) of the size field."""

    def histogram3(self, b0: float, b1: float, b2: float) -> tuple[int, int, int, int]:
        """(total, n[0,b0), n[b0,b1), n[b1,b2))."""


class DataFrameSizeStats:
    """Size stats over an envelope DataFrame slice."""

    def __init__(self, df: DataFrame, size_col: str = "_size", shards: int = 1):
        # NULL size counts as 0 so unsized docs are planned (and later
        # scanned) into the lowest bucket instead of silently dropped
        self._df = df.select(F.coalesce(F.col(size_col), F.lit(0)).alias("s"))
        self.shards = shards

    def stats(self) -> tuple[int, float, float]:
        row = self._df.agg(
            F.count("*").alias("c"), F.min("s").alias("mn"), F.max("s").alias("mx")
        ).collect()[0]
        return int(row["c"]), float(row["mn"] or 0), float(row["mx"] or 0)

    def histogram3(self, b0: float, b1: float, b2: float):
        row = self._df.agg(
            F.count("*").alias("t"),
            F.sum(((F.col("s") >= 0) & (F.col("s") < b0)).cast("long")).alias("c1"),
            F.sum(((F.col("s") >= b0) & (F.col("s") < b1)).cast("long")).alias("c2"),
            F.sum(((F.col("s") >= b1) & (F.col("s") < b2)).cast("long")).alias("c3"),
        ).collect()[0]
        return (
            int(row["t"]),
            int(row["c1"] or 0),
            int(row["c2"] or 0),
            int(row["c3"] or 0),
        )


class _Histogram:
    """Driver-side answers from collected (size, count) rows."""

    def __init__(self, rows):
        pairs = sorted((r[0], r[1]) for r in rows)
        self._sizes = [s for s, _ in pairs]
        # _below[i]: rows whose size is below the i-th distinct size
        self._below = list(accumulate((n for _, n in pairs), initial=0))

    def _between(self, lo: float, hi: float) -> int:
        """Rows with ``lo <= size < hi``."""
        n = self._below[bisect_left(self._sizes, hi)] - self._below[
            bisect_left(self._sizes, lo)
        ]
        return max(0, n)

    def stats(self) -> tuple[int, float, float]:
        if not self._sizes:
            return 0, 0.0, 0.0
        return self._below[-1], float(self._sizes[0]), float(self._sizes[-1])

    def histogram3(self, b0: float, b1: float, b2: float):
        return (
            self._below[-1],
            self._between(0, b0),
            self._between(b0, b1),
            self._between(b1, b2),
        )


class CollectedSizeStats:
    """The slice's size histogram, collected to the driver once.

    The first ``stats()`` runs ONE aggregate — ``groupBy(size).count()``,
    at most ``cap + 1`` rows collected — and then it and every
    ``histogram3()`` are answered on the driver, so a whole bounds
    search costs one Spark aggregate instead of one per iteration. The
    collect is lazy so that it runs inside ``plan_bounds``. ``cap`` is
    the shared driver gate, ``knobs.local_cap()``: more than ``cap``
    distinct sizes, or ``cap <= 0``, fall back to
    :class:`DataFrameSizeStats` over the same frame (the extra cost: one
    aggregate and ``cap + 1`` rows)."""

    def __init__(self, df: DataFrame, size_col: str = "_size", shards: int = 1):
        self._frame = DataFrameSizeStats(df, size_col, shards)
        self._answers: "Optional[SizeStatsProvider]" = None
        self.shards = shards

    def _provider(self) -> SizeStatsProvider:
        if self._answers is None:
            cap, rows = local_cap(), None
            if cap > 0:
                rows = self._frame._df.groupBy("s").count().limit(cap + 1).collect()
            if rows is not None and len(rows) <= cap:
                self._answers = _Histogram(rows)
            else:
                self._answers = self._frame
        return self._answers

    def stats(self) -> tuple[int, float, float]:
        return self._provider().stats()

    def histogram3(self, b0: float, b1: float, b2: float):
        return self._provider().histogram3(b0, b1, b2)


def flush_size_for(max_size: float, shards: int) -> int:
    """clamp(50MB / ((maxDocBytes−1)·shards), 1, 10000)  (subtasks.js:267)."""
    denom = (max_size - 1) * shards
    if denom <= 0:
        return MAX_FLUSH_SIZE
    return max(1, min(MAX_FLUSH_SIZE, math.floor(TARGET_BULK_BYTES / denom)))


def initial_bounds(count: int, lower: float, upper_exclusive: float) -> list[float]:
    """Seed boundaries from stats (subtasks.js:210-237): 60%/90% points
    of [min, max+1), second boundary capped at 1 MB."""
    upper = upper_exclusive
    if count == 0:
        return [0, 0, 0]
    if lower + 1 == upper:
        return [upper, upper, upper]
    piece = max(1, math.floor((upper - lower) / 10))
    b1 = 6 * piece + lower
    b2 = 9 * piece + lower
    if upper > MB:
        b2 = MB
    if b1 > b2:
        b1 = math.floor(b2 / 2)
    return [b1, b2, upper]


def _multiplier(lhs: _Bucket, rhs: _Bucket) -> float:
    """Delta-scaled boundary step (subtasks.js:194-209)."""
    delta = abs(lhs.chunks - rhs.chunks)
    for limit, m in ((200, 1.1), (500, 2), (1000, 3), (4000, 5), (10000, 8)):
        if delta < limit:
            return m
    return 10


def _close(lhs: _Bucket, rhs: _Bucket) -> bool:
    return abs(lhs.chunks - rhs.chunks) < CLOSE_ENOUGH_CHUNKS


def _inc(v: float, m: float) -> float:
    return math.ceil(v * m)


def _dec(v: float, m: float) -> float:
    return math.floor(v / m)


def calculate_bounds(
    provider: SizeStatsProvider,
    bounds: list[float],
    max_iterations: int = MAX_ITERATIONS,
) -> list[Bound]:
    """Iterative 3-bucket refinement (subtasks.js:238-351).

    Each iteration: histogram over [0,b0),[b0,b1),[b1,b2) → per-bucket
    flush/chunks → either converge (all pairwise chunk deltas < 100),
    give up (iteration cap / degenerate), or move b0/b1 by the
    delta-scaled multiplier toward balance and recurse.
    """
    shards = provider.shards

    for i in range(max_iterations + 1):
        total, c1, c2, c3 = provider.histogram3(*bounds)
        if total == 0 or total > c1 + c2 + c3:
            # empty, or rows outside every range: one unranged subtask
            return [Bound(-1, -1, Subtask.DEFAULT_FLUSH_SIZE, total)]
        edges = [(0.0, bounds[0]), (bounds[0], bounds[1]), (bounds[1], bounds[2])]
        buckets = []
        for count, (lo, hi) in zip((c1, c2, c3), edges):
            fs = flush_size_for(hi, shards)
            buckets.append(
                _Bucket(count, fs, math.ceil(count / fs), lo, hi)
            )
        b1_, b2_, b3_ = buckets

        def make_bounds() -> list[Bound]:
            return [
                Bound(b.min_size, b.max_size, b.flush_size, b.count)
                for b in buckets
                if b.count > 0
            ]

        if b1_.max_size == b2_.max_size == b3_.max_size:
            # degenerate single-point distribution (or empty seed)
            fs = (
                Subtask.DEFAULT_FLUSH_SIZE if b1_.max_size == 0 else b1_.flush_size
            )
            return [Bound(-1, -1, fs, total)]
        if i >= max_iterations:
            return make_bounds()

        min_bound2 = min(MB, b3_.max_size / 2)
        bound1, bound2 = b1_.max_size, b2_.max_size
        if _close(b1_, b2_) and _close(b2_, b3_):
            return make_bounds()
        elif _close(b1_, b2_):
            m = _multiplier(b2_, b3_)
            f = _dec if b2_.chunks > b3_.chunks else _inc
            bound1, bound2 = f(b1_.max_size, m), f(b2_.max_size, m)
        elif _close(b2_, b3_):
            if bound2 == min_bound2:
                return make_bounds()
            m = _multiplier(b1_, b2_)
            f = _dec if b1_.chunks > b2_.chunks else _inc
            bound1, bound2 = f(b1_.max_size, m), f(b2_.max_size, m)
        else:
            m1, m2 = _multiplier(b1_, b2_), _multiplier(b2_, b3_)
            if bound2 == min_bound2:
                if b1_.chunks < b2_.chunks * 10:
                    bound1 = _inc(b1_.max_size, m1)
                else:
                    return make_bounds()
            elif b1_.chunks < b2_.chunks and b2_.chunks < b3_.chunks:
                bound1, bound2 = _inc(b1_.max_size, m1), _inc(b2_.max_size, m2)
            elif b1_.chunks > b2_.chunks and b2_.chunks > b3_.chunks:
                bound1, bound2 = _dec(b1_.max_size, m1), _dec(b2_.max_size, m2)
            elif b1_.chunks < b2_.chunks and b2_.chunks > b3_.chunks:
                bound1, bound2 = _inc(b1_.max_size, m1), _dec(b2_.max_size, m2)
            elif b1_.chunks > b2_.chunks and b2_.chunks < b3_.chunks:
                bound1, bound2 = _dec(b1_.max_size, m1), _inc(b2_.max_size, m2)

        bound2 = max(min_bound2, bound2)
        if bound1 > bound2:
            bound1 = bound2 / 2
        bounds = [bound1, bound2, b3_.max_size]
    raise AssertionError("unreachable: the last iteration returns")


def plan_bounds(provider: SizeStatsProvider) -> list[Bound]:
    """stats → seed → refine (the per-(index,type) planning entry)."""
    count, lower, upper = provider.stats()
    seed = initial_bounds(count, lower, upper + 1)
    return calculate_bounds(provider, seed)


def formatted_plan(df) -> str:
    """Formatted physical plan of a DataFrame — the ONE explain
    incantation shared by the plan-shape tests and the PLANS.md dump,
    so the audited artifact and the asserted plans can never use
    different explain modes."""
    spark = df.sparkSession
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
