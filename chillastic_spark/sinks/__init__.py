"""Idempotent upsert sink (SURVEY §2.1 S4/S5).

The reference achieves effectively-once delivery with at-least-once
scroll + ``doc_as_upsert`` bulk updates (transfer.js:175-189). The
Spark-native equivalent is a MERGE on ``(_index,_type,_id)``: new rows
replace existing rows with the same key, unseen keys append.

On parquet (this repo's storage) the merge is BUCKET-SCOPED: every
index is laid out in N hash buckets of ``_id`` (sources.bucket_expr),
and a batch rewrites only the buckets containing its keys — read the
touched 1/N-th, ``existing ⟕anti new ∪ new``, atomic per-bucket dir
swap, each rewritten bucket written as ONE part file
(``DocumentStore.staged_buckets``), so the next merge reads no small
files back. Write amplification is O(|index|·touched/N) per batch instead of
O(|index|): a 1k-doc micro-batch against a 1 TB index touches ≤1k
buckets' worth of data, not the whole terabyte. On a real deployment
the same call maps 1:1 to Delta/Iceberg ``MERGE INTO`` over a
bucket-partitioned table (transactional, partition-pruned), which is
the 100 TB path; the dir swap here exists only because plain parquet
has no transaction log.

The first upsert against a flat index migrates it to the bucketed
layout (one full rewrite, once), mirroring how a Delta conversion works.

Every mutation here runs under ``DocumentStore.mutation`` (one writer
per index, crashed swaps healed first) and installs its rewrite with
``DocumentStore.swap`` — ``locks.swap_dir``, the one install primitive
every on-disk artifact shares.
"""
from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from chillastic_spark.sources import (
    BUCKET_MARKER,
    ENVELOPE_SCHEMA,
    N_BUCKETS_DEFAULT,
    DocumentStore,
    bucket_expr,
)
from chillastic_spark.sources.maintenance import _is_type_partitioned, file_stats

KEY = ["_index", "_type", "_id"]


def _key_cond(a: DataFrame, b: DataFrame):
    """Null-safe key equality for the MERGE anti-join: a plain
    ``join(KEY)`` never matches NULL == NULL, so a null-typed doc
    (typeless ES 7+/8 envelopes) would DUPLICATE on every re-upsert
    instead of replacing — the anti-join must treat NULL keys as
    equal, exactly like the within-batch dedup window (whose
    partitionBy groups NULLs together)."""
    import functools
    import operator

    return functools.reduce(
        operator.and_, [a[k].eqNullSafe(b[k]) for k in KEY]
    )


def _normalise(df: DataFrame, *keep: str) -> DataFrame:
    """Project onto the envelope schema (plus the ``keep`` columns)."""
    cols = []
    for f_ in ENVELOPE_SCHEMA.fields:
        if f_.name in df.columns:
            cols.append(F.col(f_.name).cast(f_.dataType))
        else:
            cols.append(F.lit(None).cast(f_.dataType).alias(f_.name))
    return df.select(*cols, *keep)


def _auto_buckets(index_path: str) -> int:
    """Bucket count for a first-time migration: one bucket per ~256 MB
    of existing data, power of two, clamped to [N_BUCKETS_DEFAULT, 4096].

    The merge prunes to the buckets holding batch keys, and k uniform
    keys touch ~k buckets — so the pruning only bites when N is well
    above the batch size. Sizing N by bytes keeps both properties at
    any scale: a 1 TB index gets 4096 buckets (a 1k-doc batch rewrites
    ≤¼ of it, a 100-doc micro-batch ≤2.5%), while a test-sized index
    stays at the floor and out of small-file territory."""
    import math

    total = file_stats(index_path)["total_bytes"] if os.path.isdir(index_path) else 0
    target = max(total // (256 << 20), 1)
    n = 1 << math.ceil(math.log2(target)) if target > 1 else 1
    return min(max(n, N_BUCKETS_DEFAULT), 4096)


def upsert(
    spark: SparkSession,
    store: DocumentStore,
    df: DataFrame,
    n_buckets: "int | None" = None,
    ordinal: "str | None" = None,
) -> dict[int, int]:
    """MERGE ``df`` into ``store`` keyed on (_index,_type,_id).

    Within-batch duplicates keep ONE row chosen by a deterministic
    tie-break (highest md5(_source), then _size) — "arrival order" is
    not meaningful in a distributed DataFrame, and the stable winner
    keeps re-runs (and the Delta sink, which pins the SAME rule)
    byte-identical. Returns {ordinal: rows delivered} (below; a batch
    with no ``ordinal`` column is all ordinal 0). ``n_buckets``
    applies only when an index is first converted to the bucketed
    layout (default: sized from the index bytes, see _auto_buckets);
    an already-bucketed index keeps its pinned N.

    ``ordinal`` names an integer column that tags each row with the
    batch it came from when several batches are MERGEd as one (the
    engine's slice group: one tag per size-range subtask, a row in two
    members' ranges arriving once per member). Duplicates
    then keep the HIGHEST ordinal first and fall back to the tie-break
    above — the row a one-batch-at-a-time delivery in ordinal order
    would have left. The column is never written; a row a later
    ordinal superseded counts for that one only, and an ordinal left
    with no rows is absent from the result.
    The engine checkpoints such a group only after this call returns,
    so a crash in between re-delivers the whole group on resume — at
    most one slice, and re-MERGEing it leaves the same rows.
    """
    keep = (ordinal,) if ordinal else ()
    df = _normalise(df, *keep)
    # Within-batch conflicts on the same key keep ONE row chosen by a
    # DETERMINISTIC tie-break (payload hash). "Arrival order" is not
    # meaningful after a distributed mutate (and would vary with
    # partitioning); a stable winner keeps re-runs byte-identical.
    w_rank = F.row_number().over(
        Window.partitionBy(*KEY).orderBy(
            *[F.desc(c) for c in keep],
            F.desc(F.md5(F.col("_source"))),
            F.desc("_size"),
        )
    )
    df = df.withColumn("__rk", w_rank).filter(F.col("__rk") == 1).drop("__rk")
    df = df.cache()
    try:
        # ONE aggregate over the cached batch validates it and sizes
        # every destination (and every ordinal): rows per group plus a
        # NULL-_id flag
        per_index = df.groupBy("_index", *keep).agg(
            F.count(F.lit(1)).alias("n"),
            F.max(F.col("_id").isNull()).alias("null_id"),
        ).collect()
        if any(r["_index"] is None for r in per_index):
            raise ValueError(
                "upsert: rows with NULL _index cannot be delivered — "
                "every envelope row needs a destination index"
            )
        # NULL _id is equally undeliverable, and worse than a failed
        # merge: xxhash64(NULL) yields a NULL bucket, which crashes the
        # touched-bucket sort on a bucketed index and lands rows in a
        # __HIVE_DEFAULT_PARTITION__ dir on migration — where the
        # bucket-id parse aborts MID-rename-loop (rows already moved
        # duplicate on retry). Validate up front like _index.
        if any(r["null_id"] for r in per_index):
            raise ValueError(
                "upsert: rows with NULL _id cannot be delivered — the "
                "merge key and the bucket hash both need a document id"
            )
        rows = df.drop(*keep)
        for index in sorted({r["_index"] for r in per_index}):
            batch = rows.filter(F.col("_index") == index)
            path = store.index_path(index)
            # the guard heals any swap a crashed prior delivery left
            # open BEFORE this merge reads the index
            with store.mutation(index):
                nb = store.bucket_count(index)
                if nb is None:
                    existing = store.read(spark, index)
                    merged = _normalise(
                        existing.join(batch, _key_cond(existing, batch), "left_anti")
                        .unionByName(batch)
                    )
                    if os.path.isdir(path) and _is_type_partitioned(path):
                        # an index laid out with Hive _type= partitions
                        # (write_documents(partition_by=['_type']) — the
                        # layout its docstring recommends at scale) must
                        # KEEP that layout: silently rewriting it
                        # bucketed would destroy the per-type partition
                        # pruning and blind any stream reading the typed
                        # subdirs — _atomic_replace preserves it, as
                        # compaction does
                        _atomic_replace(store, index, merged)
                    else:
                        # one-time migration: flat (or empty) → bucketed
                        n = n_buckets or _auto_buckets(path)
                        if not 0 < n <= 9999:
                            # bucket dirs are bucket-NNNN and the stream
                            # glob matches exactly 4 digits — a 5-digit
                            # bucket id would be written but silently
                            # excluded from readStream
                            raise ValueError(
                                f"n_buckets must be in [1, 9999] (got {n})"
                            )
                        _replace_index_bucketed(store, index, merged, n)
                else:
                    touched = sorted(
                        r["b"]
                        for r in batch.select(bucket_expr(nb).alias("b"))
                        .distinct()
                        .collect()
                    )
                    existing = store.read(spark, index, buckets=touched)
                    merged = _normalise(
                        existing.join(batch, _key_cond(existing, batch), "left_anti")
                        .unionByName(batch)
                    )
                    _replace_buckets(store, index, nb, merged, touched)
        delivered: dict[int, int] = {}
        for r in per_index:
            tag = r[ordinal] if ordinal else 0
            delivered[tag] = delivered.get(tag, 0) + r["n"]
        return delivered
    finally:
        df.unpersist()


def _replace_buckets(
    store: DocumentStore, index: str, n_buckets: int, merged: DataFrame,
    touched: list[int],
) -> None:
    """Rewrite ONLY the touched buckets. Untouched bucket dirs (the
    other N−|touched|) are never opened, listed, or rewritten; a
    touched bucket with no surviving rows is deleted."""
    with store.staged_buckets(merged, index, n_buckets) as staged:
        for b in touched:
            store.swap(index, store.bucket_path(index, b), staged.get(b))


def _replace_index_bucketed(
    store: DocumentStore, index: str, merged: DataFrame, n_buckets: int
) -> None:
    """Full rewrite into the bucketed layout (migration / first write)."""
    target = store.index_path(index)
    new = target + ".new-" + uuid.uuid4().hex[:8]
    with store.staged_buckets(merged, index, n_buckets) as staged:
        try:
            os.makedirs(new)
            for b, d in staged.items():
                os.rename(
                    d, os.path.join(new, os.path.basename(store.bucket_path(index, b)))
                )
            # marker rides the swap: the new dir is born bucketed, so no
            # crash window exists where bucket dirs are visible under a
            # "flat" index
            with open(os.path.join(new, BUCKET_MARKER), "w") as f:
                f.write(str(n_buckets))
        except BaseException:
            # an exception mid-loop (ENOSPC, a corrupt partition dir
            # name) must not strand the half-built .new- dir forever —
            # no recovery path touches pre-swap scratch, and scratch-
            # filtered listings make the leaked bytes invisible
            shutil.rmtree(new, ignore_errors=True)
            raise
    store.swap(index, target, new)


def purge(
    spark: SparkSession,
    store: DocumentStore,
    index: str,
    ids: DataFrame | list[str],
    type: "str | None" = None,
) -> int:
    """Targeted delete by document id (right-to-be-forgotten): rewrite
    WITHOUT the given ``_id``s and atomically swap — bucket-scoped on a
    bucketed index (only buckets holding victim ids are rewritten).

    ``ids`` may be a list (small, driver-side) or a DataFrame with an
    ``_id`` column (billions of ids: the anti-join broadcasts or
    shuffles as Catalyst sees fit). Returns rows removed. The reverse
    of upsert's effectively-once delivery — re-running a purge is a
    no-op, so it composes with checkpointed task resume.
    """
    if isinstance(ids, list):
        id_df = spark.createDataFrame([(i,) for i in ids], "_id string")
    else:
        id_df = ids.select(F.col("_id").cast("string"))
    # NULL victim ids match nothing in the anti-join (the es_purge
    # convention) — and a NULL bucket hash would crash the touched-
    # bucket sort below, so drop them before planning
    victims = id_df.filter(F.col("_id").isNotNull()).distinct()
    with store.mutation(index):
        nb = store.bucket_count(index)
        buckets = None
        if nb is not None:
            buckets = sorted(
                r["b"]
                for r in victims.select(bucket_expr(nb).alias("b"))
                .distinct()
                .collect()
            )
        existing = store.read(spark, index, buckets=buckets)
        if type is not None:
            match = existing.filter(F.col("_type") == type).join(victims, "_id", "semi")
            kept = existing.join(
                match.select("_type", "_id"), ["_type", "_id"], "left_anti"
            )
            removed = match.count()
        else:
            kept = existing.join(victims, "_id", "left_anti")
            # one narrow semi-join count (the dual of the typed
            # branch's match.count) instead of two full scans
            removed = existing.join(victims, "_id", "semi").count()
        if removed == 0:
            return 0
        if nb is not None:
            _replace_buckets(store, index, nb, _normalise(kept), buckets)
        else:
            _atomic_replace(store, index, _normalise(kept))
    return removed


def _atomic_replace(store: DocumentStore, index: str, merged: DataFrame) -> None:
    """Whole-dir swap for a FLAT index (purge on never-upserted data,
    a merge into a ``_type=``-partitioned index). A Hive ``_type=``
    layout is preserved (the same detection compaction uses) —
    rewriting it flat would silently destroy the partition pruning
    every per-type read depends on."""
    target = store.index_path(index)
    tmp = target + ".tmp-" + uuid.uuid4().hex[:8]
    writer = merged.write.mode("overwrite")
    if os.path.isdir(target) and _is_type_partitioned(target):
        writer = writer.partitionBy("_type")
    try:
        writer.parquet(tmp)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    store.swap(index, target, tmp)
