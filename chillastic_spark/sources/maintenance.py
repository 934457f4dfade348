"""Table maintenance: small-file stats + compaction (OPTIMIZE).

A long-running upsert/reindex pipeline (the reference's continuous
re-enqueue model, worker.js:61-123) accretes small parquet files —
every micro-batch commit adds a few. At 100 TB the file count, not the
byte count, becomes the scan bottleneck: each file costs a footer read,
a task, and a scheduler round-trip. Periodic compaction to
~128 MB files keeps scans planable (one task per ~1 row-group) and is
what Delta/Iceberg OPTIMIZE does; on plain parquet we implement it as
repartition-to-size + atomic directory swap.

Compaction preserves a Hive ``_type=...`` layout so the partition
pruning the store's per-type reads rely on (SURVEY P4) survives.
"""
from __future__ import annotations

import math
import os
import uuid

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from chillastic_spark.locks import swap_pending
from chillastic_spark.sources import ENVELOPE_SCHEMA, DocumentStore

DEFAULT_TARGET_FILE_BYTES = 128 * 1024 * 1024
_ENVELOPE_COLS = [f.name for f in ENVELOPE_SCHEMA.fields]


def file_stats(index_path: str, small_file_bytes: int = 32 * 1024 * 1024) -> dict:
    """File-level shape of one index dir: the signal that decides
    whether compaction is worth a rewrite.

    Scratch/crash leftovers (``bucket-NNNN.old-``/``.compact-`` dirs a
    recovery deliberately parks) are PRUNED from the walk: they are not
    live data, and counting them double-reports n_files/small_files and
    flips needs_compaction on an index whose live buckets are already
    compact."""
    scratch = DocumentStore._SCRATCH_RE
    n_files = 0
    total = 0
    small = 0
    for dirpath, dirs, files in os.walk(index_path):
        dirs[:] = [d for d in dirs if not scratch.search(d)]
        for f in files:
            if not f.endswith(".parquet"):
                continue
            sz = os.path.getsize(os.path.join(dirpath, f))
            n_files += 1
            total += sz
            if sz < small_file_bytes:
                small += 1
    return {
        "n_files": n_files,
        "total_bytes": total,
        "small_files": small,
        "avg_file_bytes": total // n_files if n_files else 0,
    }


def _is_type_partitioned(index_path: str) -> bool:
    return any(
        d.startswith("_type=")
        for d in os.listdir(index_path)
        if os.path.isdir(os.path.join(index_path, d))
    )


def compact_index(
    spark: SparkSession,
    store: DocumentStore,
    index: str,
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
    min_files_to_compact: int = 2,
    sort_by: "list[str] | None" = None,
    zorder_by: "list[str] | None" = None,
) -> dict:
    """Rewrite one index's data files to ~target_file_bytes each.

    Returns {"before": stats, "after": stats, "compacted": bool}.
    No-op when the dir already has fewer files than the target implies
    (never rewrites 100 TB to fix nothing). The rewrite is a narrow
    read → repartition(n) → write to a temp dir → atomic rename, so a
    crash mid-compaction leaves the original data untouched; row
    content is bit-identical (no re-encoding of values, only file
    boundaries move).

    ``sort_by`` clusters the rewrite on those columns
    (repartitionByRange + sortWithinPartitions): each output file gets
    a disjoint min/max range in the parquet footer, so later range
    predicates on those columns skip whole files/row-groups — the
    Z-ORDER-lite layout step. Forces the rewrite even when file counts
    are fine (layout, not size, is the point).

    ``zorder_by`` clusters on SEVERAL columns at once via the Morton
    curve (see :func:`zorder_layout`) — range/equality predicates on
    any of the zorder columns skip most files, where a linear sort
    only serves its leading column.

    A hash-BUCKETED index (the upsert-sink layout) compacts each bucket
    dir independently — rows never cross buckets, so the bucket-scoped
    MERGE invariant survives OPTIMIZE, exactly as Delta compaction
    respects table partitioning.

    Compaction runs under the SAME mutation guard as upsert/purge
    (``DocumentStore.mutation``): a rewrite racing a concurrent merge
    would otherwise rename stale compacted data over the batch the
    merge just landed.
    """
    path = store.index_path(index)
    with store.mutation(index):
        dirs = [path] if store.bucket_count(index) is None else store.bucket_paths(index)
        stats = [
            _compact_dir(
                spark, store, index, d, target_file_bytes,
                min_files_to_compact, sort_by, zorder_by,
            )
            for d in dirs
        ]
    agg: dict = {
        side: {
            k: sum(s[side][k] for s in stats)
            for k in ("n_files", "total_bytes", "small_files")
        }
        for side in ("before", "after")
    }
    for side in agg.values():
        side["avg_file_bytes"] = (
            side["total_bytes"] // side["n_files"] if side["n_files"] else 0
        )
    return {**agg, "compacted": any(s["compacted"] for s in stats)}


def _compact_dir(
    spark: SparkSession,
    store: DocumentStore,
    index: str,
    path: str,
    target_file_bytes: int,
    min_files_to_compact: int,
    sort_by: "list[str] | None",
    zorder_by: "list[str] | None",
) -> dict:
    """Compact ONE parquet dataset — a flat index, or one bucket of a
    bucketed index (rows never cross buckets, so the bucket-scoped
    MERGE invariant survives) — on its own file stats, and swap the
    rewrite in with :meth:`DocumentStore.swap`."""
    before = file_stats(path, small_file_bytes=target_file_bytes // 4)
    n_out = max(1, math.ceil(before["total_bytes"] / target_file_bytes))
    relayout = sort_by is not None or zorder_by is not None
    if before["n_files"] == 0 or (
        not relayout and before["n_files"] <= max(n_out, min_files_to_compact - 1)
    ):
        # empty/absent, or already compact: never rewrite to fix nothing
        return {"before": before, "after": before, "compacted": False}

    df = spark.read.parquet(path).select(*_ENVELOPE_COLS)
    if zorder_by:
        shaped = zorder_layout(df, zorder_by, n_out)
    elif sort_by:
        shaped = df.repartitionByRange(n_out, *[F.col(c) for c in sort_by])
        shaped = shaped.sortWithinPartitions(*sort_by)
    else:
        shaped = df.repartition(n_out)
    writer = shaped.write.mode("overwrite")
    if _is_type_partitioned(path):
        # one task writes at most one file per type ⇒ ≤ n_out files
        # per partition, and the pruned layout survives
        writer = writer.partitionBy("_type")
    tmp = path + ".compact-" + uuid.uuid4().hex[:8]
    writer.parquet(tmp)
    store.swap(index, path, tmp)
    return {
        "before": before,
        "after": file_stats(path, small_file_bytes=target_file_bytes // 4),
        "compacted": True,
    }


def compact_store(
    spark: SparkSession,
    store: DocumentStore,
    pattern: str = "*",
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
) -> dict[str, dict]:
    """Compact every index matching the glob; returns per-index stats."""
    return {
        index: compact_index(spark, store, index, target_file_bytes)
        for index in store.list_data_indices(pattern)
    }


# ------------------------------------------------------------- Z-order


def zorder_layout(df, cols: "list[str]", n_files: int, bits: int = 12):
    # (bits is capped below so the interleaved key fits in 63 bits:
    # Java's << wraps the shift amount mod 64, so bit positions past 63
    # would silently fold onto the low bits and scramble the curve)
    """Shape a DataFrame so each output file clusters on ALL of
    ``cols`` at once: interleave the bit representations of the
    min/max-scaled columns (Morton / Z-order curve) and range-partition
    + sort on the interleaved key.

    A linear sort gives perfect file skipping on its leading column and
    none on the others; the Z-curve trades a little of each for useful
    min/max footer ranges on EVERY zorder column — the Delta/Iceberg
    OPTIMIZE ZORDER layout, built from two narrow passes:
    one tiny min/max agg (driver-side constants) + one
    repartitionByRange on a pure-codegen bit-interleave expression.
    String columns ride xxhash64, which clusters equality lookups but
    not ranges (same caveat as the real OPTIMIZE ZORDER).
    """
    numeric = {"tinyint", "smallint", "int", "bigint", "float", "double"}
    vals = []
    for c in cols:
        dt = dict(df.dtypes)[c]
        if dt == "date":
            # DATE does not cast to BIGINT in Spark — epoch-day keeps
            # the range semantics a date column wants from the curve
            v = F.unix_date(F.col(c))
        elif dt.startswith("timestamp"):
            v = F.unix_micros(F.col(c).cast("timestamp"))
        elif dt in numeric:
            v = F.col(c).cast("long")
        else:
            v = F.xxhash64(F.col(c))
        vals.append(v)
    stats = df.select(
        *[F.min(v).alias(f"lo{i}") for i, v in enumerate(vals)],
        *[F.max(v).alias(f"hi{i}") for i, v in enumerate(vals)],
    ).collect()[0]

    # cap BEFORE scaling: the columns must be scaled into [0, 2^bits)
    # for the capped bits, else the interleave below reads only each
    # value's LOW-order bits and the curve clusters on noise instead
    # of coarsening
    bits = max(1, min(bits, 63 // max(len(vals), 1)))
    top = (1 << bits) - 1
    scaled = []
    for i, v in enumerate(vals):
        lo, hi = stats[f"lo{i}"], stats[f"hi{i}"]
        if lo is None or hi is None or hi == lo:
            scaled.append(F.lit(0).cast("long"))
            continue
        # scale into [0, 2^bits) in DOUBLE space: hi-lo on xxhash64
        # values spans the full int64 range and would overflow long math
        width = max((hi - lo) / (top + 1), 1e-12)
        s = F.floor(
            (F.coalesce(v, F.lit(lo)).cast("double") - F.lit(float(lo))) / F.lit(width)
        ).cast("long")
        scaled.append(F.least(F.greatest(s, F.lit(0)), F.lit(top)))

    key = F.lit(0).cast("long")
    n = len(scaled)
    for b in range(bits):
        for i, s in enumerate(scaled):
            bit = F.shiftright(s, b).bitwiseAND(F.lit(1))
            key = key.bitwiseOR(F.shiftleft(bit, b * n + i))

    return df.repartitionByRange(max(n_files, 1), key).sortWithinPartitions(key)


def engine_observability() -> dict:
    """Session-level operator observability for the dashboard (r9
    verdict #3): the similarity ``DROP_COUNTERS`` — rows each ANN
    stage's most recent plan silently dropped (NULL / NaN / off-width
    vectors) — and the dedup hot-gram preflight verdict ring (every
    guard run, hot or benign). Both existed only as logs/test hooks;
    surfacing them here puts a mixed-width corpus losing index rows or
    a skew-hazard corpus on the same dashboard an operator already
    polls for compaction verdicts."""
    from chillastic_spark.operators.dedup import PREFLIGHT_VERDICTS
    from chillastic_spark.operators.similarity import DROP_COUNTERS

    drops: dict[str, "int | None"] = {}
    for stage, acc in DROP_COUNTERS.items():
        try:
            drops[stage] = int(acc.value)
        except Exception:  # accumulator from an ended SparkContext
            drops[stage] = None
    return {
        "ann_dropped_rows": drops,
        "dedup_hot_gram_preflight": list(PREFLIGHT_VERDICTS),
    }


def index_health(index_dir: str) -> dict:
    """Dashboard snapshot of ONE materialized-index dir (vector LSH /
    vector IVF / inverted text — whichever artifacts are present):
    persisted metas (IVF centroid matrix elided — it is the model, not
    a health stat), file shape per artifact, and whether a crashed swap
    is pending (``locks.swap_pending`` — a leftover the next reader or
    writer heals). Pure metadata walk, no Spark job — the GET
    /indexes/health body."""
    import json as _json

    out: dict = {"path": index_dir, "exists": os.path.isdir(index_dir)}
    if not out["exists"]:
        return out
    meta_p = os.path.join(index_dir, "meta.json")
    if os.path.exists(meta_p):
        with open(meta_p) as f:
            out["lsh"] = {
                **_json.load(f),
                "files": file_stats(os.path.join(index_dir, "data")),
            }
    ivf_p = os.path.join(index_dir, "ivf_meta.json")
    if os.path.exists(ivf_p):
        with open(ivf_p) as f:
            m = _json.load(f)
        m.pop("centroids", None)
        out["ivf"] = {
            **m,
            "files": file_stats(os.path.join(index_dir, "ivf_data")),
        }
    stats_p = os.path.join(index_dir, "stats.json")
    if os.path.exists(stats_p):
        with open(stats_p) as f:
            out["inverted"] = {
                **_json.load(f),
                "postings_files": file_stats(
                    os.path.join(index_dir, "postings")
                ),
            }
    out["pending_swap_journal"] = swap_pending(index_dir)
    return out


def store_health_report(
    store: DocumentStore,
    pattern: str = "*",
    small_file_bytes: int = 32 * 1024 * 1024,
) -> dict[str, dict]:
    """Per-index health snapshot of a document store — the table-
    maintenance dashboard an operator reads before scheduling
    compaction (the catalog-side companion to the engine's /status
    control plane; pure metadata walk, no Spark job).

    Per index: file shape (count / bytes / small-file fraction), the
    bucket layout (bucket count, min/max files per bucket), whether the
    dir is `_type=` partitioned, and a `needs_compaction` verdict using
    the same small-file signal compact_index acts on.
    """
    report: dict[str, dict] = {}
    for index in store.list_data_indices(pattern):
        path = store.index_path(index)
        stats = file_stats(path, small_file_bytes)
        n_buckets = store.bucket_count(index)
        per_bucket: list[int] = []
        if n_buckets is not None:
            for bdir in store.bucket_paths(index):
                per_bucket.append(
                    sum(
                        1
                        for _, _, files in os.walk(bdir)
                        for f in files
                        if f.endswith(".parquet")
                    )
                )
        small_frac = (
            stats["small_files"] / stats["n_files"] if stats["n_files"] else 0.0
        )
        report[index] = {
            **stats,
            "small_file_frac": round(small_frac, 4),
            "type_partitioned": _is_type_partitioned(path),
            "n_buckets": n_buckets,
            "files_per_bucket_min": min(per_bucket) if per_bucket else None,
            "files_per_bucket_max": max(per_bucket) if per_bucket else None,
            "needs_compaction": stats["n_files"] > 1 and small_frac > 0.5,
        }
    # reserved key (ES-style index names cannot start with "_"):
    # session-level engine observability rides the same dashboard
    # poll — see engine_observability (r9 verdict #3)
    report["_engine"] = engine_observability()
    return report
