"""Reader-vs-writer torture for the materialized-index serving paths
(r9 verdict #4): r9 proved writer-writer serialization and SIGKILL
recovery (test_index_writer_race.py); the remaining race was a READER
querying during the live two-rename swap windows — before the
shared-lock reader window (locks.reader_window), a reader landing between
compact_vector_index's renames saw the data dir missing and misread it
as a BOOTSTRAP-EMPTY index (silently empty results), and a reader
landing inside _swap_in's window could pair NEW postings with OLD
term_stats/stats.json (silently wrong BM25).

Contract proven here, each against REAL OS processes:

1. a reader that arrives while a writer is parked INSIDE the mid-swap
   window (holding the exclusive flock) BLOCKS on the shared flock —
   it does not return empty, partial, or torn results;
2. once the writer dies mid-swap (SIGKILL — the kernel drops its
   flock), the blocked reader proceeds, heals the crashed swap (the
   vector index back to its ``data.old-`` copy, the inverted index
   FORWARD from its journal), and serves results equal to a clean
   rebuild: old-or-new, never torn.

The crash windows are injected with locks.test_pause
(CHILLASTIC_TEST_PAUSE) exactly like the writer-race suite, so the
reader meets the window deterministically.
"""
import json
import os
import signal
import subprocess
import sys
import time

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

COMPACT_VICTIM = """
import os, sys
sys.path.insert(0, {repo!r})
os.environ["SPARK_GRAFT_CPUS"] = "4"
os.environ["CHILLASTIC_TEST_PAUSE"] = "vi_mid_swap"
from chillastic_spark.session import get_spark
from chillastic_spark.sources.vector_index import compact_vector_index
spark = get_spark("vi-compact-victim-r")
spark.sparkContext.setLogLevel("ERROR")
compact_vector_index(spark, {idx!r})
"""

VEC_READER = """
import json, os, sys
sys.path.insert(0, {repo!r})
os.environ["SPARK_GRAFT_CPUS"] = "4"
from chillastic_spark.session import get_spark
from chillastic_spark.sources.vector_index import ann_query_index
spark = get_spark("vi-reader")
spark.sparkContext.setLogLevel("ERROR")
q = spark.createDataFrame(
    [(900 + j, [float(j) + 0.25, float(j % 5), 1.0, 0.5]) for j in range(4)],
    "query_id long, embedding array<double>",
)
open({qmark!r}, "w").close()  # spark is up: about to enter the guard
rows = sorted(
    (r.query_id, r.neighbor_id, r.cos)
    for r in ann_query_index(spark, {idx!r}, q, k=10, probes=2).collect()
)
with open({out!r}, "w") as f:
    json.dump(rows, f)
"""

SEARCH_VICTIM = """
import os, sys
sys.path.insert(0, {repo!r})
os.environ["SPARK_GRAFT_CPUS"] = "4"
os.environ["CHILLASTIC_TEST_PAUSE"] = "si_mid_swap"
from chillastic_spark.session import get_spark
from chillastic_spark.sources.search_index import update_inverted_index
spark = get_spark("si-update-victim-r")
spark.sparkContext.setLogLevel("ERROR")
rows = [(100 + i, "quick brown fox " + ("lazy dog " * (i % 3 + 1)) + f"tail{{i}}")
        for i in range(40)]
df = spark.createDataFrame(rows, "doc_id long, text string")
update_inverted_index(spark, df, {idx!r})
"""

SEARCH_READER = """
import json, os, sys
sys.path.insert(0, {repo!r})
os.environ["SPARK_GRAFT_CPUS"] = "4"
from chillastic_spark.session import get_spark
from chillastic_spark.sources.search_index import bm25_search_index
spark = get_spark("si-reader")
spark.sparkContext.setLogLevel("ERROR")
open({qmark!r}, "w").close()  # spark is up: about to enter the guard
rows = sorted(
    (r.doc_id, r.bm25)
    for r in bm25_search_index(
        spark, {idx!r}, ["quick", "lazy", "fox"], k=50
    ).collect()
)
with open({out!r}, "w") as f:
    json.dump(rows, f)
"""


def _spawn(src: str) -> subprocess.Popen:
    return subprocess.Popen(
        [sys.executable, "-c", src],
        stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL,
        cwd=REPO,
    )


def _wait_file(path: str, timeout: float = 300.0) -> None:
    t0 = time.time()
    while not os.path.exists(path):
        if time.time() - t0 > timeout:
            raise TimeoutError(f"{path} never appeared")
        time.sleep(0.5)


def _base_vectors(spark, n=200):
    rows = [
        (i, [float(i % 7) + 0.25, float(i % 5), 1.0, 0.5]) for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_vector_reader_blocks_on_live_swap_then_serves_consistent(
    spark, tmp_path
):
    from chillastic_spark.sources.vector_index import (
        ann_query_index,
        build_vector_index,
        update_vector_index,
    )

    idx = str(tmp_path / "vi")
    build_vector_index(_base_vectors(spark), idx, planes=3, seed="race")
    extra = spark.createDataFrame(
        [(500 + i, [0.5, float(i % 3), 1.0, 0.25]) for i in range(30)],
        "vec_id long, embedding array<double>",
    )
    update_vector_index(extra, idx)

    # compaction never changes content — the reader must serve exactly
    # this, whether it reads the old generation or the new one
    q = spark.createDataFrame(
        [(900 + j, [float(j) + 0.25, float(j % 5), 1.0, 0.5]) for j in range(4)],
        "query_id long, embedding array<double>",
    )
    want = sorted(
        (r.query_id, r.neighbor_id, r.cos)
        for r in ann_query_index(spark, idx, q, k=10, probes=2).collect()
    )
    assert want, "baseline serve must be non-empty"

    out = str(tmp_path / "reader-out.json")
    qmark = str(tmp_path / "reader-querying")
    victim = _spawn(COMPACT_VICTIM.format(repo=REPO, idx=idx))
    reader = None
    try:
        _wait_file(os.path.join(idx, ".paused-vi_mid_swap"))
        # mid-swap: live data dir renamed away to data.old-, EX held
        assert [d for d in os.listdir(idx) if d.startswith("data.old-")]
        assert not os.path.exists(os.path.join(idx, "data"))

        reader = _spawn(
            VEC_READER.format(repo=REPO, idx=idx, out=out, qmark=qmark)
        )
        _wait_file(qmark)
        # the reader is at the guard while the writer holds the window:
        # it must BLOCK — not exit, not produce (empty) results
        deadline = time.time() + 6
        while time.time() < deadline:
            assert reader.poll() is None, "reader exited during a live swap"
            assert not os.path.exists(out), (
                "reader produced results during the mid-swap window — "
                "it read a torn index"
            )
            time.sleep(0.5)
    finally:
        victim.kill()  # SIGKILL inside the window; kernel drops the flock
        victim.wait(timeout=60)

    # the blocked reader now proceeds: heals back to data.old- and
    # serves EXACTLY the pre-compaction results (old-or-new — and for
    # compaction old == new by definition)
    try:
        _wait_file(out, timeout=300)
    finally:
        if reader is not None and reader.poll() is None:
            reader.kill()
    reader.wait(timeout=60)
    with open(out) as f:
        got = [tuple(r) for r in json.load(f)]
    assert got == [tuple(r) for r in want]
    assert not [d for d in os.listdir(idx) if d.startswith("data.old-")]
    assert os.path.isdir(os.path.join(idx, "data"))


def _docs_a(spark):
    rows = [
        (i, "quick brown fox " + ("jumps over " * (i % 2 + 1)) + f"head{i}")
        for i in range(40)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _docs_b(spark):
    rows = [
        (100 + i, "quick brown fox " + ("lazy dog " * (i % 3 + 1)) + f"tail{i}")
        for i in range(40)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_search_reader_blocks_on_live_swap_then_serves_rebuild_scores(
    spark, tmp_path
):
    """The BM25 tear window: postings renamed in, term_stats/stats.json
    not yet. An unguarded reader here pairs new postings with old
    corpus stats — plausible-looking, silently wrong scores. The
    guarded reader blocks, then (after the writer dies) rolls the
    journal FORWARD and scores identically to a clean rebuild over
    A ∪ B."""
    from chillastic_spark.sources.search_index import build_inverted_index

    idx = str(tmp_path / "si")
    build_inverted_index(spark, _docs_a(spark), idx)

    out = str(tmp_path / "reader-out.json")
    qmark = str(tmp_path / "reader-querying")
    victim = _spawn(SEARCH_VICTIM.format(repo=REPO, idx=idx))
    reader = None
    try:
        _wait_file(os.path.join(idx, ".paused-si_mid_swap"))
        assert os.path.exists(os.path.join(idx, "swap-journal.json"))

        reader = _spawn(
            SEARCH_READER.format(repo=REPO, idx=idx, out=out, qmark=qmark)
        )
        _wait_file(qmark)
        deadline = time.time() + 6
        while time.time() < deadline:
            assert reader.poll() is None, "reader exited during a live swap"
            assert not os.path.exists(out), (
                "reader scored during the mid-swap window — new postings "
                "with old stats is the silently-wrong-BM25 tear"
            )
            time.sleep(0.5)
    finally:
        victim.kill()
        victim.wait(timeout=60)

    try:
        _wait_file(out, timeout=300)
    finally:
        if reader is not None and reader.poll() is None:
            reader.kill()
    reader.wait(timeout=60)

    ref = str(tmp_path / "si-rebuild")
    build_inverted_index(
        spark, _docs_a(spark).unionByName(_docs_b(spark)), ref
    )
    from chillastic_spark.sources.search_index import bm25_search_index

    want = sorted(
        (r.doc_id, r.bm25)
        for r in bm25_search_index(
            spark, ref, ["quick", "lazy", "fox"], k=50
        ).collect()
    )
    with open(out) as f:
        got = [tuple(r) for r in json.load(f)]
    assert got == [tuple(r) for r in want]
    assert not os.path.exists(os.path.join(idx, "swap-journal.json"))
