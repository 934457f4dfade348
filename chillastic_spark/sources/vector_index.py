"""Materialized ANN vector index — the serving-path twin of
``operators.similarity.lsh_topk`` (mirroring how sources/search_index.py
materializes the inverted text index).

Layout: the corpus is written ONCE with its LSH bucket id as a Hive
partition column (``bucket=NNN/``), plus a ``meta.json`` recording the
hash family (planes/seed) and corpus stats. A query then:

1. derives its probe bucket ids with the SAME deterministic hyperplane
   family (no state beyond meta.json — the planes are hash-derived);
2. reads the index with a ``bucket IN (...)`` predicate, which Spark
   turns into PartitionFilters: only the probed bucket DIRECTORIES are
   listed and scanned — at 2^planes buckets the serving scan touches
   probes/2^planes of the corpus instead of all of it;
3. scores candidates with the identical rounded-cosine ranking, so
   results are bit-identical to the scan-time ``lsh_topk`` (test-pinned).

Incremental adds append into the same bucket partitions (dynamic
partition append — untouched buckets' files are never rewritten).

Concurrency contract: the index rides the ONE swap protocol in
``chillastic_spark.locks``. Every mutation (build, update, compact, IVF
build) runs in the writer window (EXCLUSIVE flock on the index dir's
``locks.swap_lock``, crash leftovers healed on entry); every
query lists its files in the reader window (SHARED side), which heals
a crashed swap and retries. Both are re-entrant for a thread that
already holds the writer. Compaction installs its output with
``locks.swap_dir``: it never changes rows, so a crash between the two
renames heals BACK to the pre-compaction ``data.old-`` copy (as correct
as rolling forward); the orphaned compacted ``data.new-`` dir is never
installed and the next compaction deletes it.
"""
from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from chillastic_spark import functions as CF
from chillastic_spark.locks import (
    heal_swaps,
    reader_window,
    swap_dir,
    swap_leftovers,
    swap_lock,
    write_json,
    writer_window,
)
from chillastic_spark.operators.similarity import (
    _empty_topk,
    _rank_topk,
    _unit_rows,
    random_hyperplane_buckets,
)

META = "meta.json"
DATA = "data"


def _lock(index_dir: str) -> str:
    return swap_lock(index_dir, inside=True)


def _writing(index_dir: str):
    """The index's writer window, healing crashed swaps on entry."""
    return writer_window(_lock(index_dir), lambda: heal_swaps(index_dir))


def _serving(index_dir: str):
    """The index's reader window: a ``.old-`` leftover seen under the
    shared lock is a crashed swap — healed, then the read retries."""
    return reader_window(
        _lock(index_dir),
        lambda: bool(swap_leftovers(index_dir)),
        lambda: heal_swaps(index_dir),
    )


def _write_meta(index_dir: str, meta: dict, name: str = META) -> None:
    """Atomic meta write — an in-place json.dump killed mid-write
    leaves a truncated file that bricks every later _meta() read even
    though the parquet data is intact."""
    write_json(os.path.join(index_dir, name), meta, indent=1)


def _read_parquet(spark: SparkSession, path: str) -> DataFrame | None:
    """``path`` as a DataFrame, or None when it holds no data: the dir
    is absent, or holds no part files (a write of an empty frame leaves
    a dir with none). Any other read failure — a corrupt footer, a
    permission error — raises."""
    for _, dirs, files in os.walk(path):
        # Spark skips hidden (_temporary, .crc) paths: so does the probe
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        if any(f.endswith(".parquet") and not f.startswith(("_", ".")) for f in files):
            return spark.read.parquet(path)
    return None


def build_vector_index(
    df: DataFrame,
    index_dir: str,
    planes: int = 6,
    seed: str = "rp",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Bucket the corpus and write it partitioned by bucket id.

    Runs in the writer window (r9 verdict #4): a REBUILD's
    ``mode('overwrite')`` deletes the live data dir before rewriting
    it — unlocked, a concurrent reader's listing lands in that window
    and serves a partial (or empty) index with no error."""
    first = df.select(F.col(vec_col)).first()
    dims = len(first[0]) if first and first[0] is not None else None
    rows = df.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("embedding"),
        random_hyperplane_buckets(vec_col, planes, seed, dims=dims).alias("bucket"),
    )
    data = os.path.join(index_dir, DATA)
    with _writing(index_dir):
        rows.write.mode("overwrite").partitionBy("bucket").parquet(data)
        # count the WRITTEN index (parquet footers — nearly free), not the
        # input: df.count() would re-run the whole upstream pipeline a
        # third time, and for a nondeterministic df could disagree with
        # what actually landed on disk. An empty-corpus build leaves a data
        # dir with no part files — that reads as 0, not an error.
        written = _read_parquet(df.sparkSession, data)
        n_written = 0 if written is None else written.count()
        meta = {
            "planes": planes,
            "seed": seed,
            "n_vectors": n_written,
            "n_buckets": 1 << planes,
            # persisted so every later bucket computation (update, serve)
            # can embed the plane coefficients as literals instead of
            # hashing planes*dims md5s per row
            "dims": dims,
        }
        _write_meta(index_dir, meta)
    return meta


def update_vector_index(
    df_new: DataFrame,
    index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    on_existing: str = "error",
) -> dict:
    """Append new vectors into their bucket partitions (dynamic
    partition append: existing buckets' files are untouched).

    Duplicate-id guard (same contract as ``update_inverted_index``):
    ``on_existing='skip'`` anti-joins out ids already indexed — the
    idempotence an at-least-once streaming source needs on redelivery;
    the default ``'error'`` raises. Without the guard a redelivered
    batch would double-count ``n_vectors``, and a RE-ADDED id with a
    CHANGED embedding could land in a different bucket, making
    multi-probe queries see two rows with different cosines and serve
    whichever survives dropDuplicates — nondeterministic results."""
    # the whole update runs in the single-writer window (same
    # convention as the doc store and search_index): an unlocked
    # append races a live compaction's swap — freshly appended part
    # files ride into the data.old- dir and are rmtree'd
    with _writing(index_dir):
        meta = _meta(index_dir)
        # within-batch duplicates first: identical (id, embedding) copies
        # collapse deterministically; the SAME id with DIFFERENT embeddings
        # inside one batch is a data error in every mode — appending both
        # recreates exactly the nondeterministic-serving hazard the
        # cross-batch guard below exists to prevent
        df_new = df_new.select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
        ).dropDuplicates(["vec_id", "embedding"])
        batch_dup = (
            df_new.groupBy("vec_id").count().filter(F.col("count") > 1).limit(3)
        )
        clash_in = [r["vec_id"] for r in batch_dup.collect()]
        if clash_in:
            raise ValueError(
                f"batch contains the same vec_id with different embeddings "
                f"(e.g. {clash_in}) — resolve upstream; neither skip nor "
                "error mode can order them deterministically"
            )
        rows = df_new.select(
            "vec_id",
            "embedding",
            random_hyperplane_buckets(
                "embedding", meta["planes"], meta["seed"], dims=meta.get("dims")
            ).alias("bucket"),
        )
        spark = df_new.sparkSession
        data = os.path.join(index_dir, DATA)
        # an index built from an EMPTY frame has no data yet (nothing to
        # guard against); any other read failure raises — it must NOT
        # silently disable the duplicate guard
        existing = _read_parquet(spark, data)
        if existing is not None:
            ids = existing.select("vec_id")
            if on_existing == "skip":
                rows = rows.join(ids.distinct(), "vec_id", "left_anti")
            else:
                dup = rows.select("vec_id").join(ids, "vec_id", "semi")
                clash = [r["vec_id"] for r in dup.limit(3).collect()]
                if clash:
                    raise ValueError(
                        f"vector ids already indexed (e.g. {clash}); use "
                        "on_existing='skip' for at-least-once redelivery, or "
                        "rebuild the index to change embeddings"
                    )
        # pin before writing: the skip-mode anti-join READS the same data
        # dir the append writes — cutting lineage here avoids a
        # self-read-while-write plan. Forced 'local': the pinned frame is
        # batch-sized and a lost-block failure just retries the batch.
        from chillastic_spark.persist import materialize, release

        rows = materialize(rows, mode="local")
        try:
            n_added = rows.count()
            if n_added:
                rows.write.mode("append").partitionBy("bucket").parquet(data)
        finally:
            release(rows)
        # recount from the written footers rather than += n_added: a crash
        # after the append but before this write must not leave n_vectors
        # permanently understated on the retry (the retry's skip anti-join
        # sees the appended rows, so += would skip them)
        written = _read_parquet(spark, data)
        meta["n_vectors"] = 0 if written is None else written.count()
        _write_meta(index_dir, meta)
        # batch-scoped observability rides the RETURN only (n_added is
        # per-call; persisting it in meta.json would misread as a
        # corpus stat on the next load) — r9 verdict #3
        return {**meta, "n_added": n_added}


def _meta(index_dir: str) -> dict:
    with open(os.path.join(index_dir, META)) as f:
        return json.load(f)


def ann_query_index(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    k: int = 10,
    probes: int = 1,
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k by cosine for each query, served from the materialized
    index — bit-identical ranking to ``lsh_topk`` at the same
    planes/probes, but scanning only the probed bucket partitions.

    The queries frame is collected ONCE (|queries| × probes rows —
    queries are small by the same contract that lets lsh_topk broadcast
    them); both the probe frame and the partition predicate derive from
    that one collect, so a nondeterministic queries frame can never
    produce a bucket list that disagrees with the join-time probes
    (silently missing neighbors).

    Meta read + data listing run inside one reader window, so a live
    compaction's mid-swap state (data dir renamed away) can never be
    misread as a bootstrap-empty index: no data under the window is
    GENUINELY empty (an empty-corpus build), and serves empty results.
    """
    with _serving(index_dir):
        meta = _meta(index_dir)
        data_df = _read_parquet(spark, os.path.join(index_dir, DATA))
    planes = meta["planes"]
    base = random_hyperplane_buckets(
        vec_col, planes, meta["seed"], dims=meta.get("dims")
    )
    # THE shared probe policy (operators.similarity.probe_buckets_expr)
    # — a policy change must hit the scan-time operator and the served
    # index together or results silently diverge
    from chillastic_spark.operators.similarity import probe_buckets_expr

    probe_buckets = probe_buckets_expr(base, probes, planes)
    from chillastic_spark.operators.similarity import _id_type

    qid_t = _id_type(queries, query_id_col)
    q_rows = queries.select(
        F.col(query_id_col).alias("query_id"),
        CF.as_double_array(vec_col).alias("qvec"),
        probe_buckets.alias("bs"),
    ).collect()
    if not q_rows:
        return _empty_topk(spark, qid_t=qid_t)
    probe = [(r["query_id"], r["qvec"], int(b)) for r in q_rows for b in r["bs"]]
    q = spark.createDataFrame(
        probe, f"query_id {qid_t}, qvec array<double>, bucket int"
    )
    wanted = sorted({b for _, _, b in probe})
    if data_df is None:  # bootstrap-empty index (listed under the lock)
        return _empty_topk(spark, qid_t=qid_t)
    idx = (
        data_df
        .filter(F.col("bucket").isin(wanted))
        .select(
            F.col("vec_id").alias("neighbor_id"),
            CF.as_double_array("embedding").alias("vec"),
            "bucket",
        )
    )
    scored = (
        idx.join(F.broadcast(q), ["bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
        .withColumn("cos", CF.round_det(CF.cosine(F.col("vec"), F.col("qvec")), 6))
        # cross-dimension pairs drop (NULL cosine = width mismatch) —
        # the exact mirror of lsh_topk's filter; the served index and
        # the scan-time operator must rank identically
        .filter(F.col("cos").isNotNull())
        .select("query_id", "neighbor_id", "cos")
    )
    return _rank_topk(scored, k)


def compact_vector_index(spark: SparkSession, index_dir: str) -> dict:
    """Merge the small files incremental adds accrete into one file per
    bucket partition (same maintenance need as the document store's
    compact_index; run it in the same single-writer window). Rows never
    change buckets, so serving results are identical before and after —
    only the file count drops.

    Crash-safe AND concurrency-safe: the compacted dir is written
    first, then installed with ``locks.swap_dir`` — all in the writer
    window, so a concurrent reader or updater waits instead of seeing
    the swap mid-flight. A crash between the renames heals BACK to the
    pre-compaction ``data.old-`` copy (compaction never changes rows);
    the orphaned compacted ``data.new-`` dir is never installed."""
    with _writing(index_dir):
        # any .new- dir is an ORPHAN of a crashed compaction (in the
        # writer window no compaction is live): clean it here
        for d in os.listdir(index_dir):
            if d.startswith(DATA + ".new-"):
                shutil.rmtree(os.path.join(index_dir, d), ignore_errors=True)
        data = os.path.join(index_dir, DATA)
        df = spark.read.parquet(data)
        # one shuffle partition per bucket value → exactly one file each
        new = f"{data}.new-{uuid.uuid4().hex[:8]}"
        df.repartition(F.col("bucket")).write.partitionBy("bucket").parquet(new)
        # torture-test crash window (vi_mid_swap): live data dir renamed
        # away, compacted dir not yet installed
        swap_dir(_lock(index_dir), data, new, "vi_mid_swap")
        n_files = sum(
            1 for _, _, fs in os.walk(data) for f in fs if f.endswith(".parquet")
        )
    return {"n_files": n_files}


# ------------------------------------------------------------- IVF index

IVF_META = "ivf_meta.json"
IVF_DATA = "ivf_data"


def build_ivf_index(
    df: DataFrame,
    index_dir: str,
    n_cells="auto",
    iters: int = 5,
    sample: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    calibrate: bool = True,
    target_recall: float = 0.8,
) -> dict:
    """Materialized IVF index — the second ANN serving path next to the
    LSH one: the coarse quantizer trains once (driver k-means on the
    deterministic hash-ordered sample, operators.similarity), its
    centroid matrix is persisted in the meta file (plain floats — the
    whole 'model'), and the corpus is written partitioned by cell id.
    A probe reads only its ``nprobe`` nearest cell partitions.
    ``n_cells='auto'`` sizes cells to the corpus (~512 rows/cell, the
    sweep-picked rule — see operators.similarity._auto_cells).

    ``calibrate=True`` (default, r11) additionally measures THIS
    corpus's held-out recall curve against the centroids being
    persisted (one bounded Spark job — ``ivf_recall_curve``'s per-cell
    top-k; n_queries·n_cells·k rows to the driver, never the corpus)
    and stores the smallest nprobe meeting ``target_recall`` as
    ``calibrated_nprobe`` in the meta. Serving then probes a MEASURED
    per-corpus fraction by default: ~1-2 cells on a clustered corpus
    (SWEEP_ann_r10: recall 0.897 at a 3% scan) instead of a blind
    constant — and on a structureless corpus the calibration honestly
    demands the wide scan the recall floor requires. Build-time cost,
    amortized over the index lifetime; a corpus too small to hold out
    queries from skips calibration with a warning rather than failing
    the build."""
    from chillastic_spark.operators.similarity import (
        ivf_assign_cells,
        ivf_coarse_centroids,
        resolve_n_cells,
    )

    from chillastic_spark.operators.similarity import DROP_COUNTERS

    n_cells = resolve_n_cells(df, n_cells, vec_col)
    C = ivf_coarse_centroids(
        df, n_cells=n_cells, iters=iters, sample=sample,
        id_col=id_col, vec_col=vec_col,
    )
    calibration = None
    if calibrate:
        from chillastic_spark.operators.similarity import calibrate_nprobe

        try:
            pick = calibrate_nprobe(
                df, target_recall=target_recall, n_cells=n_cells,
                sample=sample, id_col=id_col, vec_col=vec_col,
                centroids=C,
            )
            calibration = {
                k: pick[k]
                for k in (
                    "nprobe",
                    "scan_frac",
                    "recall_at_k",
                    "target_recall",
                    "met_target",
                )
            }
        except ValueError as e:
            # advisory: a corpus too small to hold out queries from
            # ("ivf_recall_curve: no usable held-out queries") builds
            # uncalibrated; any other error is a bug and propagates
            import logging

            logging.getLogger("chillastic_spark.vector_index").warning(
                "build_ivf_index: nprobe calibration skipped (%s) — "
                "serving falls back to the uncalibrated default", e,
            )
    assigned = ivf_assign_cells(
        df.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")),
        C,
        vec_col="embedding",
    )
    data = os.path.join(index_dir, IVF_DATA)
    # writer window (r9 verdict #4): a REBUILD's overwrite deletes the
    # live cell dirs before rewriting — unlocked, a concurrent reader's
    # listing lands mid-delete and serves a partial index silently
    with _writing(index_dir):
        assigned.write.mode("overwrite").partitionBy("cell").parquet(data)
        dropped = DROP_COUNTERS.get("ivf_assign_cells")
        meta = {
            "n_cells": len(C),
            "centroids": [[float(x) for x in row] for row in C],
            # measured serving default (None when calibration was
            # skipped): the smallest nprobe meeting target_recall on
            # THIS corpus, held out — what ann_query_ivf_index probes
            # when the caller does not pass nprobe explicitly
            "calibrated_nprobe": (
                calibration["nprobe"] if calibration else None
            ),
            "calibration": calibration,
            # footer count of what was actually written, not a third pass
            # over the input pipeline
            "n_vectors": df.sparkSession.read.parquet(data).count(),
            # rows the assignment stage dropped during THIS build's write
            # (NULL / NULL-element / NaN / off-width vectors) — persisted
            # so a mixed-width corpus losing index rows is dashboard-
            # visible (vector_index_health / GET /indexes/health, r9
            # verdict #3), not only a DROP_COUNTERS log line
            "dropped_rows": int(dropped.value) if dropped is not None else 0,
        }
        _write_meta(index_dir, meta, name=IVF_META)
    if meta["dropped_rows"]:
        import logging

        logging.getLogger("chillastic_spark.vector_index").warning(
            "build_ivf_index: dropped %d unindexable vectors "
            "(NULL/NaN/off-width) — see ivf_meta.json dropped_rows",
            meta["dropped_rows"],
        )
    return meta


def ann_query_ivf_index(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: "int | None" = None,
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k by cosine served from the materialized IVF index —
    identical ranking to scan-time ``ivf_topk`` at the same quantizer
    (the persisted centroids ARE that quantizer), scanning only the
    probed cell partitions. Meta read + cell listing share one reader
    window so a live rebuild's overwrite (which deletes cell dirs
    before rewriting) can never serve a partial index.

    ``nprobe=None`` (default, r11) probes the index's MEASURED
    ``calibrated_nprobe`` (build-time held-out calibration against the
    persisted centroids — see ``build_ivf_index``), falling back to
    the historical constant 3 for indexes built without calibration.
    An explicit int always wins."""
    import numpy as np

    with _serving(index_dir):
        with open(os.path.join(index_dir, IVF_META)) as f:
            meta = json.load(f)
        # a hand-rolled/damaged meta with no data dir (or an empty-write
        # dir with no part files) serves empty results, not a crash —
        # in the reader window this state is genuinely bootstrap-empty,
        # never a live rebuild mid-swap
        idx_raw = _read_parquet(spark, os.path.join(index_dir, IVF_DATA))
    if nprobe is None:
        nprobe = meta.get("calibrated_nprobe") or 3
    C = np.array(meta["centroids"], dtype=np.float64)
    q_rows = queries.select(
        F.col(query_id_col).alias("query_id"),
        CF.as_double_array(vec_col).alias("qvec"),
    ).collect()
    # bootstrap-empty index (no centroids to probe / no data dir) or no
    # queries: empty results, not a numpy matmul ValueError mid-stream
    if not q_rows or C.size == 0 or idx_raw is None:
        from chillastic_spark.operators.similarity import _id_type

        return _empty_topk(spark, qid_t=_id_type(queries, query_id_col))
    Q = np.array([r["qvec"] for r in q_rows], dtype=np.float64)
    # zero-norm queries → zero vector (cos 0 per _unit_rows), not a
    # NaN row whose argsort picks arbitrary probe cells
    Qn = _unit_rows(Q)
    probe_cells = np.argsort(-(Qn @ C.T), axis=1, kind="stable")[:, : max(nprobe, 1)]
    probe = [
        (r["query_id"], r["qvec"], int(c))
        for r, cells in zip(q_rows, probe_cells)
        for c in cells
    ]
    # carry the caller's query-id TYPE (string ids work on the LSH
    # serving path; hardcoding long here made the twins diverge)
    qid_t = queries.schema[query_id_col].dataType.simpleString()
    q = spark.createDataFrame(
        probe, f"query_id {qid_t}, qvec array<double>, cell int"
    )
    wanted = sorted({c for _, _, c in probe})
    idx = (
        idx_raw
        .filter(F.col("cell").isin(wanted))
        .select(
            F.col("vec_id").alias("neighbor_id"),
            CF.as_double_array("embedding").alias("vec"),
            "cell",
        )
    )
    scored = (
        idx.join(F.broadcast(q), ["cell"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos", CF.round_det(CF.cosine(F.col("vec"), F.col("qvec")), 6))
        .select("query_id", "neighbor_id", "cos")
    )
    return _rank_topk(scored, k)
