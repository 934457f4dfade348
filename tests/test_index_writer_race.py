"""Concurrent-writer torture for the materialized-index single-writer
contract (r8 verdict #6): prove the dir-flock serialization the way
test_locks.py proved the task state — with real OS processes and a
real SIGKILL inside a swap window.

Three contracts, each against a REAL second process:

1. two writers racing ``update_vector_index`` SERIALIZE on the flock
   (index merges block rather than fail — locks.py's documented
   split); the merged index equals a full rebuild of the union;
2. a compactor SIGKILLed BETWEEN the two swap renames (live dir
   renamed away to ``data.old-``) leaves a lock that dies with the
   process and a leftover the next entry point heals BACK to: serving
   results equal a full rebuild, nothing lost, and the orphaned
   compacted ``data.new-`` dir is never installed;
3. same for the inverted index: an updater killed after the postings
   rename but before term_stats/stats (the silently-wrong-BM25 tear)
   recovers to exactly the full-rebuild scores.

While the victim is parked INSIDE the window (holding the flock), a
would-be writer probing with ``blocking=False`` must fail fast with
LockHeld — the "loser fails fast" half of the contract.

The crash windows are injected with locks.test_pause (env
CHILLASTIC_TEST_PAUSE) so the SIGKILL lands deterministically inside
the named window, not wherever a sleep happens to race.
"""
import json
import os
import signal
import subprocess
import sys
import time

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

VEC_WORKER = """
import json, os, sys
sys.path.insert(0, {repo!r})
os.environ["SPARK_GRAFT_CPUS"] = "4"
from chillastic_spark.session import get_spark
from chillastic_spark.sources.vector_index import update_vector_index
spark = get_spark("vi-race-{tag}")
spark.sparkContext.setLogLevel("ERROR")
rows = [({base} + i, [float(({base} + i) % 7) + 0.25, float(i % 5), 1.0, 0.5])
        for i in range(50)]
df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
meta = update_vector_index(df, {idx!r})
print(json.dumps({{"ok": True, "n": meta["n_vectors"]}}), flush=True)
"""

COMPACT_WORKER = """
import os, sys
sys.path.insert(0, {repo!r})
os.environ["SPARK_GRAFT_CPUS"] = "4"
os.environ["CHILLASTIC_TEST_PAUSE"] = "vi_mid_swap"
from chillastic_spark.session import get_spark
from chillastic_spark.sources.vector_index import compact_vector_index
spark = get_spark("vi-compact-victim")
spark.sparkContext.setLogLevel("ERROR")
compact_vector_index(spark, {idx!r})
"""

SEARCH_WORKER = """
import os, sys
sys.path.insert(0, {repo!r})
os.environ["SPARK_GRAFT_CPUS"] = "4"
os.environ["CHILLASTIC_TEST_PAUSE"] = "si_mid_swap"
from chillastic_spark.session import get_spark
from chillastic_spark.sources.search_index import update_inverted_index
spark = get_spark("si-update-victim")
spark.sparkContext.setLogLevel("ERROR")
rows = [(100 + i, "quick brown fox " + ("lazy dog " * (i % 3 + 1)) + f"tail{{i}}")
        for i in range(40)]
df = spark.createDataFrame(rows, "doc_id long, text string")
update_inverted_index(spark, df, {idx!r})
"""


def _spawn(src: str) -> subprocess.Popen:
    return subprocess.Popen(
        [sys.executable, "-c", src],
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        text=True,
        cwd=REPO,
    )


def _wait_marker(path: str, timeout: float = 300.0) -> None:
    t0 = time.time()
    while not os.path.exists(path):
        if time.time() - t0 > timeout:
            raise TimeoutError(f"marker {path} never appeared")
        time.sleep(0.5)


def _base_vectors(spark, n=200):
    rows = [
        (i, [float(i % 7) + 0.25, float(i % 5), 1.0, 0.5]) for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _queries(spark):
    rows = [(900 + j, [float(j) + 0.25, float(j % 5), 1.0, 0.5]) for j in range(4)]
    return spark.createDataFrame(rows, "query_id long, embedding array<double>")


def _serve(spark, idx, qdf):
    from chillastic_spark.sources.vector_index import ann_query_index

    return sorted(
        (r.query_id, r.neighbor_id, r.cos)
        for r in ann_query_index(spark, idx, qdf, k=10, probes=2).collect()
    )


def test_concurrent_vector_updates_serialize_and_merge(spark, tmp_path):
    from chillastic_spark.sources.vector_index import build_vector_index

    idx = str(tmp_path / "vi")
    build_vector_index(_base_vectors(spark), idx, planes=3, seed="race")

    procs = [
        _spawn(VEC_WORKER.format(repo=REPO, tag=t, base=b, idx=idx))
        for t, b in (("a", 1000), ("b", 2000))
    ]
    outs = [p.communicate(timeout=600)[0] for p in procs]
    assert all(p.returncode == 0 for p in procs), outs
    assert all(json.loads(o.strip().splitlines()[-1])["ok"] for o in outs)

    # both batches landed exactly once; meta counted from footers
    from chillastic_spark.sources.vector_index import _meta

    data = spark.read.parquet(os.path.join(idx, "data"))
    ids = {r.vec_id for r in data.select("vec_id").collect()}
    assert ids == set(range(200)) | set(range(1000, 1050)) | set(range(2000, 2050))
    assert _meta(idx)["n_vectors"] == 300

    # serving equals a FULL REBUILD of the union (same planes/seed →
    # same buckets → bit-identical ranking)
    union = _base_vectors(spark).unionByName(
        spark.createDataFrame(
            [
                (b + i, [float((b + i) % 7) + 0.25, float(i % 5), 1.0, 0.5])
                for b in (1000, 2000)
                for i in range(50)
            ],
            "vec_id long, embedding array<double>",
        )
    )
    from chillastic_spark.sources.vector_index import build_vector_index as bvi

    ref = str(tmp_path / "vi-rebuild")
    bvi(union, ref, planes=3, seed="race")
    q = _queries(spark)
    assert _serve(spark, idx, q) == _serve(spark, ref, q)


def test_compactor_sigkill_mid_swap_recovers_to_rebuild(spark, tmp_path):
    from chillastic_spark.locks import FileLock, LockHeld
    from chillastic_spark.sources.vector_index import (
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

    victim = _spawn(COMPACT_WORKER.format(repo=REPO, idx=idx))
    try:
        _wait_marker(os.path.join(idx, ".paused-vi_mid_swap"))
        # mid-swap: live data renamed away to data.old-, flock held.
        # The loser fails fast while the swap is in flight:
        with pytest.raises(LockHeld):
            FileLock(os.path.join(idx, ".swap.lock")).acquire(blocking=False)
        assert _leftovers(idx, "data.old-")
        assert not os.path.exists(os.path.join(idx, "data"))
    finally:
        victim.kill()  # SIGKILL inside the swap window; kernel drops flock
        victim.wait(timeout=60)

    # reader-path recovery heals BACK to the pre-compaction copy: index
    # readable and serving equals a clean rebuild of the same rows
    union = _base_vectors(spark).unionByName(extra)
    ref = str(tmp_path / "vi-rebuild")
    from chillastic_spark.sources.vector_index import (
        _meta,
        build_vector_index as bvi,
    )

    bvi(union, ref, planes=3, seed="race")
    q = _queries(spark)
    assert _serve(spark, idx, q) == _serve(spark, ref, q)
    assert not _leftovers(idx, "data.old-")
    assert _leftovers(idx, "data.new-")  # the orphan was never installed
    assert _meta(idx)["n_vectors"] == 230

    # and the index keeps accepting writes after the crash
    more = spark.createDataFrame(
        [(800, [1.0, 1.0, 1.0, 1.0])], "vec_id long, embedding array<double>"
    )
    assert update_vector_index(more, idx)["n_vectors"] == 231


def _leftovers(idx, prefix):
    return [d for d in os.listdir(idx) if d.startswith(prefix)]


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


def _bm25(spark, idx):
    from chillastic_spark.sources.search_index import bm25_search_index

    return sorted(
        (r.doc_id, r.bm25)
        for r in bm25_search_index(
            spark, idx, ["quick", "lazy", "fox"], k=50
        ).collect()
    )


def test_search_index_updater_sigkill_mid_swap_recovers(spark, tmp_path):
    from chillastic_spark.locks import FileLock, LockHeld
    from chillastic_spark.sources.search_index import build_inverted_index

    idx = str(tmp_path / "si")
    build_inverted_index(spark, _docs_a(spark), idx)

    victim = _spawn(SEARCH_WORKER.format(repo=REPO, idx=idx))
    try:
        _wait_marker(os.path.join(idx, ".paused-si_mid_swap"))
        # postings installed, term_stats/stats not — the tear window.
        # A concurrent writer fails fast while the updater holds it:
        with pytest.raises(LockHeld):
            FileLock(os.path.join(idx, ".swap.lock")).acquire(blocking=False)
        assert os.path.exists(os.path.join(idx, "swap-journal.json"))
    finally:
        victim.kill()
        victim.wait(timeout=60)

    # reader-path recovery completes the journaled swap: BM25 equals a
    # clean rebuild over A ∪ B — postings, df and stats all consistent
    ref = str(tmp_path / "si-rebuild")
    build_inverted_index(
        spark, _docs_a(spark).unionByName(_docs_b(spark)), ref
    )
    assert _bm25(spark, idx) == _bm25(spark, ref)
    assert not os.path.exists(os.path.join(idx, "swap-journal.json"))
