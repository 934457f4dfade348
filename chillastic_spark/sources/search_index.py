"""Materialized inverted index: build once, serve BM25 queries from
postings instead of re-tokenising the corpus per query.

Build writes three artifacts under ``index_dir``:
  postings/    (term, doc_id, tf, dl) — denormalised doc length, so a
               query never joins back to the corpus; range-partitioned
               AND sorted by term → parquet footer min/max on `term`
               skip whole files/row-groups for any term predicate
  term_stats/  (term, df) — one row per vocab term (broadcast side)
  stats.json   {n_docs, avgdl} corpus constants

Query reads ONLY the postings of the query terms (In-filter pushed to
the scan + footer skipping from the sorted layout): at 100 TB of text
the per-query scan cost is proportional to the matched postings, not
the corpus — the point of an inverted index. Scoring mirrors
queries/search.py:bm25_topk exactly (same rounding), so the served
result is bit-identical to the scan-time query.

Concurrency contract: the index rides the ONE swap protocol in
``chillastic_spark.locks``. Mutations (build/update) are SINGLE-WRITER
maintenance operations in the writer window (EXCLUSIVE flock on the
index dir's ``locks.swap_lock``); query functions list files in the reader
window (SHARED side of the same lock) for their journal check + stats
read + parquet file listing, so a read can never interleave with a live
swap's renames — it sees the whole old index or the whole new one,
never new postings paired with old term_stats/stats.json (silently
wrong BM25) and never a half-renamed dir misread as empty. Both windows
are re-entrant for a thread that already holds the writer. Because one
update changes three artifacts together, the swap is journaled
(``locks.SWAP_JOURNAL``) and a crash rolls FORWARD; each dir is still
installed with ``locks.swap_dir``. The returned DataFrames stay LAZY
(keeping the In-filter pushdown visible and composable): an action
that runs AFTER a later swap completes can still fail loudly with
file-not-found (the swap renames the postings dir) — loud-and-retriable,
never torn. Multiprocess proof: tests/test_index_reader_race.py (reader
vs pause-injected mid-swap writer).
"""
from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from chillastic_spark import functions as CF
from chillastic_spark.locks import (
    SWAP_JOURNAL,
    heal_swaps,
    reader_window,
    swap_dir,
    swap_lock,
    test_pause,
    write_json,
    writer_window,
)

DEFAULT_POSTING_FILES = 8


def _lock(index_dir: str) -> str:
    return swap_lock(index_dir, inside=True)


def _journal(index_dir: str) -> str:
    return os.path.join(index_dir, SWAP_JOURNAL)


def _serving(index_dir: str):
    """The index's reader window: a journal seen under the shared lock
    can only be a crash leftover (a live swap holds the exclusive side
    from before the journal write until after its removal), so it is
    rolled forward and the read retries."""
    return reader_window(
        _lock(index_dir),
        lambda: os.path.exists(_journal(index_dir)),
        lambda: _recover_swap_locked(index_dir),
    )


def _recover_swap_locked(index_dir: str) -> None:
    """Roll an interrupted swap FORWARD — caller holds the writer
    window. update_inverted_index replaces postings, term_stats, and
    stats.json in three steps; a crash between them would otherwise
    leave postings that disagree with term df / corpus stats — silently
    wrong BM25 scores with no error. The journal (written before the
    first rename, removed after the last write) records the tmp dirs
    and the already-computed stats, so recovery completes whichever
    steps remain, idempotently: a dir whose tmp still exists is
    installed with ``swap_dir``, and every ``.old-`` leftover of the
    interrupted run is healed away."""
    jpath = _journal(index_dir)
    if not os.path.exists(jpath):
        return
    with open(jpath) as f:
        journal = json.load(f)
    for live_name, tmp_key in (("postings", "post_tmp"), ("term_stats", "ts_tmp")):
        if os.path.exists(journal[tmp_key]):  # this step never completed
            swap_dir(
                _lock(index_dir), os.path.join(index_dir, live_name),
                journal[tmp_key],
            )
    heal_swaps(index_dir)
    _write_stats(index_dir, journal["stats"])
    os.remove(jpath)


def _postings_of(toks: DataFrame) -> DataFrame:
    """THE postings aggregation (term, doc_id, dl, tf, positions) from
    a (doc_id, dl, w) frame — one definition shared by build, the
    bootstrap schema, and the incremental batch, so a tokenisation or
    positions change can never desynchronise rebuilds from updates."""
    return (
        toks.select("doc_id", "dl", F.posexplode("w").alias("pos0", "term"))
        .groupBy("term", "doc_id", "dl")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            # 1-based sorted positions — the Lucene-style positional
            # postings phrase queries need (phrase_search_index)
            F.array_sort(F.collect_list(F.col("pos0") + 1)).alias("positions"),
        )
    )


def _input_stats_row(toks: DataFrame):
    """(n_docs, sum_dl) over the INPUT docs — the same universe as the
    scan-time bm25_rank (count(*) counts every doc, including null-text
    docs whose dl is NULL and whose sum contribution is skipped), so
    served BM25 stays bit-identical to scan-time BM25 even on corpora
    with degenerate docs."""
    return toks.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").cast("double").alias("sum_dl"),
    ).collect()[0]


def _make_stats(n_docs: int, sum_dl: float) -> dict:
    return {
        "n_docs": int(n_docs),
        "sum_dl": float(sum_dl or 0.0),
        "avgdl": float(sum_dl or 0.0) / max(int(n_docs), 1),
    }


def _read_stats(index_dir: str) -> dict:
    with open(os.path.join(index_dir, "stats.json")) as f:
        stats = json.load(f)
    # pre-sum_dl indexes: reconstruct the incremental accumulator
    stats.setdefault("sum_dl", stats["avgdl"] * stats["n_docs"])
    return stats


def _write_stats(index_dir: str, stats: dict) -> None:
    write_json(os.path.join(index_dir, "stats.json"), stats)


def _discard_stale_swap(index_dir: str) -> None:
    """A full rebuild supersedes any crashed update: drop the stale
    journal and its tmp dirs (rolling them FORWARD after the rebuild
    would silently replace the fresh artifacts with the crashed
    update's), and heal its ``.old-`` leftovers. Caller holds the
    writer window."""
    jpath = _journal(index_dir)
    if os.path.exists(jpath):
        with open(jpath) as f:
            journal = json.load(f)
        for key in ("post_tmp", "ts_tmp"):
            shutil.rmtree(journal.get(key, ""), ignore_errors=True)
        heal_swaps(index_dir)
        os.remove(jpath)


def _clean_batch(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Input hygiene shared by build and update: identical (doc_id,
    text) copies collapse to one row; the same doc_id with DIFFERENT
    text raises — both copies would otherwise survive and permanently
    corrupt tf (doubled), positions (interleaved), and df (no longer
    the distinct-doc count bm25_rank assumes) with no error."""
    src = docs.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("__text")
    ).dropDuplicates(["doc_id", "__text"])
    clash = (
        src.groupBy("doc_id").count().filter(F.col("count") > 1).limit(3)
    ).collect()
    if clash:
        raise ValueError(
            f"batch contains the same doc_id with different text "
            f"(e.g. {[r['doc_id'] for r in clash]}); resolve upstream"
        )
    return src


def build_inverted_index(
    spark: SparkSession,
    docs: DataFrame,
    index_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_files: int = DEFAULT_POSTING_FILES,
) -> dict:
    """Tokenise once, write postings/term_stats/corpus stats (in the
    writer window; a stale crashed-update journal is discarded, not
    rolled forward over the rebuild).

    Crash-atomic like the update path: artifacts land in tmp dirs, the
    swap is journaled, and the renames roll forward from any crash
    window (_recover_swap_locked). The old in-place overwrites could crash
    between the three writes and leave fresh postings beside the
    PREVIOUS build's term_stats/stats — torn silently, because without
    a journal no entry point can even detect it. Input hygiene matches
    update_inverted_index (_clean_batch)."""
    from chillastic_spark.persist import batch_scope
    from chillastic_spark.persist import materialize as _pin

    with writer_window(_lock(index_dir), lambda: _discard_stale_swap(index_dir)):
        src = _clean_batch(docs, id_col, text_col)
        toks = src.select(
            "doc_id", CF.words("__text").alias("w")
        ).select("doc_id", F.size("w").alias("dl"), "w")
        post_dir = os.path.join(index_dir, "postings")
        ts_dir = os.path.join(index_dir, "term_stats")
        with batch_scope():
            # ONE tokenise pass: pinned, toks feeds the postings write
            # AND the corpus-stats aggregate — unpinned, the whole
            # corpus re-tokenises a second time just to compute two
            # numbers (n_docs, sum_dl)
            toks = _pin(toks)
            postings = _postings_of(toks)
            tmp = post_dir + ".tmp-" + uuid.uuid4().hex[:8]
            (
                postings.repartitionByRange(n_files, "term")
                .sortWithinPartitions("term", "doc_id")
                .write.mode("overwrite")
                .parquet(tmp)
            )
            written = spark.read.schema(postings.schema).parquet(tmp)
            ts_tmp = ts_dir + ".tmp-" + uuid.uuid4().hex[:8]
            written.groupBy("term").agg(
                F.count(F.lit(1)).alias("df")
            ).coalesce(1).write.mode("overwrite").parquet(ts_tmp)
            row = _input_stats_row(toks)
            stats = _make_stats(row["n_docs"], row["sum_dl"])
        _swap_in(index_dir, tmp, ts_tmp, stats)
    return stats


def _swap_in(index_dir: str, post_tmp: str, ts_tmp: str, stats: dict) -> None:
    """Journal → install postings → install term_stats → stats.json →
    journal removed. ONE definition of the swap shared by build and
    update, matching _recover_swap_locked's roll-forward exactly; each
    dir goes in through ``swap_dir`` (a first build has no live dirs
    yet). Caller holds the writer window."""
    write_json(_journal(index_dir), {"post_tmp": post_tmp, "ts_tmp": ts_tmp, "stats": stats})
    swap_dir(_lock(index_dir), os.path.join(index_dir, "postings"), post_tmp)
    # torture-test crash window: postings installed, term_stats and
    # stats.json not yet — the silently-wrong-BM25 tear the journal
    # roll-forward exists for
    test_pause("si_mid_swap", index_dir)
    swap_dir(_lock(index_dir), os.path.join(index_dir, "term_stats"), ts_tmp)
    _write_stats(index_dir, stats)
    os.remove(_journal(index_dir))


def bm25_search_index(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Serve a BM25 top-k from the prebuilt index. Identical math and
    rounding to queries/search.py:bm25_topk — the golden equivalence is
    test-pinned. Stats + both artifact listings happen inside ONE
    reader window, so the three can never come from different swap
    generations."""
    with _serving(index_dir):
        with open(os.path.join(index_dir, "stats.json")) as f:
            stats = json.load(f)
        n_docs, avgdl = stats["n_docs"], stats["avgdl"]
        p = spark.read.parquet(os.path.join(index_dir, "postings")).filter(
            F.col("term").isin(terms)
        )
        dfreq = spark.read.parquet(os.path.join(index_dir, "term_stats")).filter(
            F.col("term").isin(terms)
        )
    scored = (
        p.join(F.broadcast(dfreq), "term")
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.lit(n_docs) - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
            ),
        )
        .withColumn(
            "tscore",
            CF.round_det(
                F.col("idf")
                * (F.col("tf") * F.lit(k1 + 1.0))
                / (
                    F.col("tf")
                    + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.lit(avgdl))
                ),
                9,
            ).cast("decimal(18,9)"),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        CF.round_det(F.sum("tscore").cast("double"), 6).alias("bm25"),
        F.count(F.lit(1)).alias("n_terms_matched"),
    )
    return per_doc.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(k)


def update_inverted_index(
    spark: SparkSession,
    new_docs: DataFrame,
    index_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_files: int = DEFAULT_POSTING_FILES,
    on_existing: str = "error",
) -> dict:
    """Incrementally fold a batch of NEW documents into an existing
    index (the foreachBatch-able maintenance op): new postings union
    the old ones (tf rows are per-doc, so new doc_ids append cleanly),
    term df and corpus stats re-derive from the merged postings.

    ``on_existing='skip'`` drops batch docs whose doc_id is already
    indexed (anti-join) instead of raising — the idempotence an
    at-least-once streaming source needs on redelivery.

    Identical (doc_id, text) copies WITHIN one batch collapse to one
    row; the same doc_id with DIFFERENT text in one batch raises in
    every mode — both copies would otherwise survive the batch-vs-index
    guard and permanently corrupt tf/df/stats with no error.

    Cost is |old postings| + |batch| — one union + the same sorted
    rewrite as build; at scale the rewrite is the same amortised
    OPTIMIZE-style pass compaction already does. The whole mutation
    runs in the writer window, so concurrent updates, rebuilds, and
    reader-triggered recovery serialize instead of racing the renames.
    Re-adding an existing doc_id is rejected (the store's upsert
    handles mutation; an index rebuild covers it)."""
    with writer_window(_lock(index_dir), lambda: _recover_swap_locked(index_dir)):
        try:
            old_stats = _read_stats(index_dir)
        except FileNotFoundError:
            raise RuntimeError(
                f"{index_dir} has no stats.json — run build_inverted_index "
                "first (an empty corpus is fine); updates fold into an "
                "EXISTING index"
            ) from None
        post_dir = os.path.join(index_dir, "postings")
        src = _clean_batch(new_docs, id_col, text_col)
        toks = src.select(
            "doc_id", CF.words("__text").alias("w")
        ).select("doc_id", F.size("w").alias("dl"), "w")
        # explicit part-file probe, NOT a bare try/except around the
        # read: an index built from an EMPTY corpus has a postings dir
        # with no part files (bootstrap-then-stream must append, not
        # crash), but a TRANSIENT read failure on a populated index
        # swallowed by except-Exception would silently substitute an
        # empty frame — the swap below would then install batch-only
        # postings and rmtree the old ones, destroying the whole index
        if not os.path.isdir(post_dir):
            raise RuntimeError(
                f"{post_dir} missing — the index is torn (stats.json "
                "exists without postings); rebuild it"
            )
        has_parts = any(
            f.endswith(".parquet")
            for _, _, fs in os.walk(post_dir)
            for f in fs
        )
        if has_parts:
            old = spark.read.parquet(post_dir)
        else:
            old = spark.createDataFrame([], _postings_of(toks).schema)
        if on_existing == "skip":
            toks = toks.join(
                old.select("doc_id").distinct(), "doc_id", "left_anti"
            )
        else:
            dup = old.select("doc_id").distinct().join(
                toks.select("doc_id").distinct(), "doc_id", "inner"
            )
            if dup.limit(1).count():
                raise ValueError("doc_id already indexed; rebuild to mutate")
        # one evaluation of the (possibly filtered) batch serves the
        # emptiness check AND the incremental stats accumulator
        batch = _input_stats_row(toks)
        if not batch["n_docs"]:
            return {**old_stats, "n_docs_added": 0}
        stats = _make_stats(
            old_stats["n_docs"] + batch["n_docs"],
            old_stats["sum_dl"] + (batch["sum_dl"] or 0.0),
        )
        fresh = _postings_of(toks)
        cols = ["term", "doc_id", "dl", "tf", "positions"]
        merged = old.select(*cols).unionByName(fresh.select(*cols))
        tmp = post_dir + ".tmp-" + uuid.uuid4().hex[:8]
        (
            merged.repartitionByRange(n_files, "term")
            .sortWithinPartitions("term", "doc_id")
            .write.mode("overwrite")
            .parquet(tmp)
        )

        # compute the term stats from the tmp postings BEFORE any swap,
        # journal the plan, then perform the renames (_swap_in — the
        # one swap definition shared with build). A crash between the
        # three replacement steps left postings disagreeing with term
        # df / corpus stats (silently wrong BM25) — with the journal
        # every entry point rolls the interrupted swap FORWARD.
        merged2 = spark.read.schema(merged.schema).parquet(tmp)
        ts_dir = os.path.join(index_dir, "term_stats")
        ts_tmp = ts_dir + ".tmp-" + uuid.uuid4().hex[:8]
        merged2.groupBy("term").agg(F.count(F.lit(1)).alias("df")).coalesce(
            1
        ).write.mode("overwrite").parquet(ts_tmp)
        _swap_in(index_dir, tmp, ts_tmp, stats)
    # batch-scoped observability rides the RETURN only (the persisted
    # stats.json stays a pure corpus stat) — r9 verdict #3, mirroring
    # update_vector_index's n_added
    return {**stats, "n_docs_added": batch["n_docs"]}


def wildcard_search_index(
    spark: SparkSession, index_dir: str, prefix: str, k: int = 100
) -> DataFrame:
    """Prefix (wildcard) query served FROM the index: the
    StringStartsWith predicate pushes into the postings scan, and the
    sorted-term layout turns it into a contiguous range of files
    (footer min/max skipping — the reason build sorts by term). Per-doc
    hit counts + matched terms, top-k by hits."""
    with _serving(index_dir):
        p = spark.read.parquet(os.path.join(index_dir, "postings")).filter(
            F.col("term").startswith(prefix)
        )
    return (
        p.groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_hits"),
            F.concat_ws(",", F.array_sort(F.collect_set("term"))).alias("matched_terms"),
        )
        .orderBy(F.desc("n_hits"), F.asc("doc_id"))
        .limit(k)
    )


def suggest_terms(
    spark: SparkSession, index_dir: str, prefix: str, k: int = 10
) -> list[str]:
    """Autocomplete: most-frequent vocabulary terms with the given
    prefix, straight off the tiny term_stats artifact (df = doc
    frequency) — no postings touched. Collects INSIDE the reader
    window: the result is end-to-end consistent, not just listed
    consistently."""
    with _serving(index_dir):
        ts = spark.read.parquet(os.path.join(index_dir, "term_stats"))
        rows = (
            ts.filter(F.col("term").startswith(prefix))
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(k)
            .collect()
        )
    return [r["term"] for r in rows]


def bm25_rank(
    df: DataFrame,
    id_cols: list[str],
    text_col,
    terms: list[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Generic BM25 over any DataFrame: build postings for the query
    terms in-plan (filter-before-shuffle), broadcast corpus stats and
    per-term df, score with the engine's standard rounding. ``text_col``
    may be a Column expression (e.g. get_json_object of an ES-envelope
    `_source`)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    toks = df.select(*id_cols, CF.words(c).alias("w"))
    corpus = toks.select(*id_cols, F.size("w").alias("dl"))
    stats = corpus.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    p = (
        toks.select(*id_cols, F.size("w").alias("dl"), F.explode("w").alias("term"))
        .filter(F.col("term").isin(terms))
        .groupBy("term", *id_cols, "dl")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = p.groupBy("term").agg(F.countDistinct(*id_cols).alias("df"))
    scored = (
        p.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
            ),
        )
        .withColumn(
            "tscore",
            CF.round_det(
                F.col("idf")
                * (F.col("tf") * F.lit(k1 + 1.0))
                / (
                    F.col("tf")
                    + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
                ),
                9,
            ).cast("decimal(18,9)"),
        )
    )
    per_doc = scored.groupBy(*id_cols).agg(
        CF.round_det(F.sum("tscore").cast("double"), 6).alias("bm25"),
        F.count(F.lit(1)).alias("n_terms_matched"),
    )
    return per_doc.orderBy(F.desc("bm25"), *[F.asc(c_) for c_ in id_cols]).limit(k)


def bm25_search_store(
    spark: SparkSession,
    store,
    pattern: str,
    terms: list[str],
    k: int = 20,
    source_path: str = "$.text",
) -> DataFrame:
    """ES multi-index search: run BM25 across every store index
    matching the glob pattern (`log_data_*`-style), text extracted
    from the JSON `_source` envelope. Index pruning happens at
    planning time (only matching index dirs are read — the metadata
    filters of SURVEY P3), and results carry (_index, _id)."""
    indices = store.list_data_indices(pattern)
    if not indices:
        raise ValueError(f"no indices match {pattern!r}")
    parts = [store.read(spark, ix) for ix in indices]
    df = parts[0]
    for p_ in parts[1:]:
        df = df.unionByName(p_)
    text = F.get_json_object(F.col("_source"), source_path)
    return bm25_rank(df, ["_index", "_id"], text, terms, k=k)


def phrase_search_index(
    spark: SparkSession, index_dir: str, phrase: list[str], k: int = 100
) -> DataFrame:
    """Phrase query served from the POSITIONAL postings: join each
    phrase term's postings on doc_id and count positions where the
    terms are adjacent in order (position-list intersection — how
    Lucene runs phrases). Only the phrase terms' postings are read
    (term In-filter + sorted-layout skipping); the position check is a
    JVM-side array intersect, no re-tokenisation of anything.

    Adjacency for an m-term phrase: p ∈ positions(t0) such that
    p+i ∈ positions(ti) for all i — folded as iterative array
    intersects of shifted position lists."""
    if len(phrase) < 2:
        raise ValueError("phrase needs at least 2 terms")
    with _serving(index_dir):
        posts = spark.read.parquet(os.path.join(index_dir, "postings")).filter(
            F.col("term").isin(phrase)
        )
    parts = [
        posts.filter(F.col("term") == t).select(
            "doc_id", F.col("positions").alias(f"p{i}")
        )
        for i, t in enumerate(phrase)
    ]
    joined = parts[0]
    for part in parts[1:]:
        joined = joined.join(part, "doc_id")
    # anchor positions of t0 that have every successor at the right offset.
    # NB: the shift lambda must take exactly ONE parameter — pyspark calls a
    # two-parameter lambda as (element, array_index), so a `d=i` default
    # would be silently overridden by the element's position in the array.
    def _shift_by(col: Column, d: int) -> Column:
        return F.transform(col, lambda x: x - F.lit(d))

    anchors = F.col("p0")
    for i in range(1, len(phrase)):
        anchors = F.array_intersect(anchors, _shift_by(F.col(f"p{i}"), i))
    return (
        joined.select("doc_id", F.size(anchors).alias("n_occurrences"))
        .filter(F.col("n_occurrences") > 0)
        .orderBy(F.desc("n_occurrences"), F.asc("doc_id"))
        .limit(k)
    )
