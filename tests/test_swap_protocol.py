"""The one swap protocol (``chillastic_spark.locks``) as the inverted
index and the vector index ride it.

1. A thread that already holds an index's writer window can read that
   index: the reader window sees the held exclusive lock and steps
   aside, where taking the shared side on a fresh fd would block on
   the thread's own flock forever.
2. ``index_health`` reports a pending swap from the one check in
   ``locks.swap_pending``: a vector ``.old-`` leftover and an
   inverted-index journal alike, and a serving read heals both.
3. ``write_json`` replaces its target atomically and never leaves its
   tmp file behind.
"""
import json
import os
import threading

import pytest

from chillastic_spark.locks import SWAP_JOURNAL, swap_lock, write_json, writer_window
from chillastic_spark.sources.maintenance import index_health

TERMS = ["quick", "fox"]


def _docs(spark):
    rows = [(i, f"quick brown fox number{i} " + "lazy " * (i % 3)) for i in range(20)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _vectors(spark, n=60):
    rows = [(i, [float(i % 7) + 0.25, float(i % 5), 1.0, 0.5]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _queries(spark):
    rows = [(900 + j, [float(j) + 0.25, float(j % 5), 1.0, 0.5]) for j in range(3)]
    return spark.createDataFrame(rows, "query_id long, embedding array<double>")


def _in_writer_window(idx, read, timeout=180):
    """Run ``read`` on a thread holding ``idx``'s writer window; fail
    (instead of hanging) if it deadlocks."""
    out = {}

    def body():
        try:
            with writer_window(swap_lock(idx, inside=True)):
                out["rows"] = read()
        except BaseException as e:  # surfaced below
            out["error"] = e

    t = threading.Thread(target=body, daemon=True)
    t.start()
    t.join(timeout)
    assert not t.is_alive(), "a read inside its own writer window deadlocked"
    if "error" in out:
        raise out["error"]
    return out["rows"]


def test_search_read_inside_its_writer_window_returns(spark, tmp_path):
    from chillastic_spark.sources.search_index import (
        bm25_search_index,
        build_inverted_index,
    )

    idx = str(tmp_path / "si")
    build_inverted_index(spark, _docs(spark), idx)
    want = bm25_search_index(spark, idx, TERMS, k=5).collect()
    got = _in_writer_window(
        idx, lambda: bm25_search_index(spark, idx, TERMS, k=5).collect()
    )
    assert got == want and got


def test_vector_read_inside_its_writer_window_returns(spark, tmp_path):
    from chillastic_spark.sources.vector_index import (
        ann_query_index,
        build_vector_index,
    )

    idx = str(tmp_path / "vi")
    build_vector_index(_vectors(spark), idx, planes=3, seed="w")
    want = ann_query_index(spark, idx, _queries(spark), k=4).collect()
    got = _in_writer_window(
        idx, lambda: ann_query_index(spark, idx, _queries(spark), k=4).collect()
    )
    assert got == want and got


def test_index_health_reports_a_vector_old_leftover(spark, tmp_path):
    from chillastic_spark.sources.vector_index import (
        ann_query_index,
        build_vector_index,
    )

    idx = str(tmp_path / "vi")
    build_vector_index(_vectors(spark), idx, planes=3, seed="h")
    want = sorted(ann_query_index(spark, idx, _queries(spark), k=4).collect())
    assert index_health(idx)["pending_swap_journal"] is False

    # a compaction that died between its renames
    data = os.path.join(idx, "data")
    os.rename(data, data + ".old-0badf00d")
    assert index_health(idx)["pending_swap_journal"] is True

    # the next serving read heals back to the pre-swap copy
    assert sorted(ann_query_index(spark, idx, _queries(spark), k=4).collect()) == want
    assert index_health(idx)["pending_swap_journal"] is False
    assert not [d for d in os.listdir(idx) if ".old-" in d]


def test_index_health_reports_an_inverted_index_journal(spark, tmp_path):
    from chillastic_spark.sources.search_index import (
        bm25_search_index,
        build_inverted_index,
    )

    idx = str(tmp_path / "si")
    build_inverted_index(spark, _docs(spark), idx)
    want = bm25_search_index(spark, idx, TERMS, k=5).collect()
    assert index_health(idx)["pending_swap_journal"] is False

    # an update that died after installing both dirs, before its stats
    # write and journal removal: the roll-forward has only those left
    with open(os.path.join(idx, "stats.json")) as f:
        stats = json.load(f)
    with open(os.path.join(idx, SWAP_JOURNAL), "w") as f:
        json.dump(
            {
                "post_tmp": os.path.join(idx, "postings.tmp-gone"),
                "ts_tmp": os.path.join(idx, "term_stats.tmp-gone"),
                "stats": stats,
            },
            f,
        )
    assert index_health(idx)["pending_swap_journal"] is True

    assert bm25_search_index(spark, idx, TERMS, k=5).collect() == want
    assert index_health(idx)["pending_swap_journal"] is False


def test_write_json_keeps_format_and_leaves_no_tmp(tmp_path):
    p = str(tmp_path / "state.json")
    write_json(p, {"b": 1, "a": [1, 2]}, indent=1, sort_keys=True)
    with open(p) as f:
        assert f.read() == json.dumps({"b": 1, "a": [1, 2]}, indent=1, sort_keys=True)

    # a failed dump leaves the previous content and no tmp file
    with pytest.raises(TypeError):
        write_json(p, {"x": object()})
    with open(p) as f:
        assert json.load(f) == {"a": [1, 2], "b": 1}
    assert os.listdir(tmp_path) == ["state.json"]
