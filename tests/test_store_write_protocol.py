"""The document store's one write protocol, pinned from the outside.

Every writer — upsert (its first migration, a bucketed merge, a merge
into a ``_type=``-partitioned index), purge and compaction — installs
its rewrite through ``sources.swap_dir`` under ``DocumentStore.mutation``.
These tests pin what that shared protocol promises:

1. a writer that dies between ``swap_dir``'s two renames leaves the
   only copy of the live dir (the index's or a bucket's) in ``.old-``;
   the next plain read or delivery restores it, so the index holds
   exactly its pre-crash rows (plus the new batch, where one is
   delivered) and no ``.old-`` dir survives;
2. two threads of one process delivering into the same index serialize
   on the per-index file lock alone — nothing is lost, nothing leaks;
3. a bad ``CHILLASTIC_STORE_BUCKETS`` value falls back to 32 with a
   warning instead of breaking ``import chillastic_spark.sources``.
"""
import json
import os
import subprocess
import sys
import threading

import pytest

import chillastic_spark.sources as sources
from chillastic_spark.sinks import purge, upsert
from chillastic_spark.sources import DocumentStore
from chillastic_spark.sources.maintenance import compact_index

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCHEMA = "_index string, _type string, _id string, _source string, _size long"
N_BUCKETS = 4


class _SwapCrash(RuntimeError):
    pass


def _docs(spark, ids, types=("t",), v=0):
    return spark.createDataFrame(
        [
            ("ix", types[k % len(types)], i, json.dumps({"v": v, "id": i}), 10)
            for k, i in enumerate(ids)
        ],
        SCHEMA,
    )


def _ids(lo, hi):
    return [f"d{i}" for i in range(lo, hi)]


def _rows(spark, store):
    return {
        (r["_type"], r["_id"], r["_source"])
        for r in store.read(spark, "ix").collect()
    }


def _leftovers(store):
    data = os.path.dirname(store.index_path("ix"))
    return [
        os.path.join(dirpath, d)
        for dirpath, dirs, _ in os.walk(data)
        for d in dirs
        if ".old-" in d
    ]


# --- set-ups: the index each writer starts from -------------------------


def _flat(spark, store):
    store.write_documents(_docs(spark, _ids(0, 20)), "ix")


def _flat_many_files(spark, store):
    for j in range(3):
        store.write_documents(_docs(spark, _ids(10 * j, 10 * j + 10)), "ix")


def _type_partitioned(spark, store):
    store.write_documents(
        _docs(spark, _ids(0, 20), types=("a", "b")), "ix", partition_by=["_type"]
    )


def _bucketed(spark, store):
    upsert(spark, store, _docs(spark, _ids(0, 40)), n_buckets=N_BUCKETS)


def _bucketed_many_files(spark, store):
    _bucketed(spark, store)
    # raw appends route into the buckets as extra files to compact
    store.write_documents(_docs(spark, _ids(40, 60)), "ix")
    store.write_documents(_docs(spark, _ids(60, 80)), "ix")


# --- the writers that die inside the swap window ------------------------


def _upsert_changed(spark, store):
    upsert(spark, store, _docs(spark, _ids(0, 5) + ["dX"], v=1), n_buckets=N_BUCKETS)


def _purge_some(spark, store):
    purge(spark, store, "ix", ["d1", "d2", "d3"])


def _compact(spark, store):
    compact_index(spark, store, "ix", target_file_bytes=1 << 30)


# case → (set-up, writer, swap level, next operation after the crash)
CASES = {
    "upsert_first_migration": (_flat, _upsert_changed, "index", "upsert"),
    "upsert_bucketed_merge": (_bucketed, _upsert_changed, "bucket", "upsert"),
    "upsert_type_partitioned": (_type_partitioned, _upsert_changed, "index", "read"),
    "purge_flat": (_flat, _purge_some, "index", "read"),
    "purge_bucketed": (_bucketed, _purge_some, "bucket", "read"),
    "compact_flat": (_flat_many_files, _compact, "index", "read"),
    "compact_bucketed": (_bucketed_many_files, _compact, "bucket", "read"),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_crash_between_swap_renames_heals_to_pre_crash_rows(
    spark, tmp_path, monkeypatch, case
):
    setup, writer, level, next_op = CASES[case]
    store = DocumentStore(str(tmp_path / "s"))
    setup(spark, store)
    before = _rows(spark, store)
    assert before

    def crash(point, marker_dir):
        raise _SwapCrash(point)

    with monkeypatch.context() as m:
        m.setattr(sources, "test_pause", crash)
        with pytest.raises(_SwapCrash, match="store_mid_swap"):
            writer(spark, store)

    # the writer died INSIDE the window: the live dir's only copy is in
    # a .old- dir (a bucket's, or the whole index's)
    assert _leftovers(store)
    if level == "index":
        assert not os.path.isdir(store.index_path("ix"))
    else:
        # a bucket's live dir is gone, its rows only in bucket-NNNN.old-
        live = os.listdir(store.index_path("ix"))
        assert any(
            d.split(".old-")[0] not in live for d in live if ".old-" in d
        )

    if next_op == "read":
        assert _rows(spark, store) == before  # the read healed itself
    else:
        new = _docs(spark, ["dNEW"], v=2)
        assert upsert(spark, store, new, n_buckets=N_BUCKETS) == {0: 1}
        expected = before | {(r["_type"], r["_id"], r["_source"]) for r in new.collect()}
        assert _rows(spark, store) == expected  # healed BEFORE merging
    assert not _leftovers(store)


def test_threads_upserting_one_index_serialize_on_the_file_lock(spark, tmp_path):
    """More threads than cores of one process MERGE disjoint key sets
    into the same bucketed index at once. Every batch touches most
    buckets, so unserialized writers would swap in bucket rewrites that
    each miss the others' rows; the per-index FileLock alone must make
    them take turns."""
    store = DocumentStore(str(tmp_path / "s"))
    upsert(spark, store, _docs(spark, _ids(0, 20)), n_buckets=N_BUCKETS)
    # more threads than cores, capped: each one runs a few Spark jobs
    n = min(os.cpu_count() or 1, 8) + 1
    key_sets = [_ids(100 * (k + 1), 100 * (k + 1) + 20) for k in range(n)]
    batches = [_docs(spark, ids) for ids in key_sets]
    errors = []
    go = threading.Barrier(n)

    def deliver(df):
        try:
            go.wait()
            upsert(spark, store, df)
        except Exception as e:  # surfaced by the assert below
            errors.append(e)

    threads = [threading.Thread(target=deliver, args=(b,)) for b in batches]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=600)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    ids = [r["_id"] for r in store.read(spark, "ix").select("_id").collect()]
    assert sorted(ids) == sorted(_ids(0, 20) + [i for ks in key_sets for i in ks])
    data = os.path.dirname(store.index_path("ix"))
    scratch = [
        os.path.join(dirpath, d)
        for dirpath, dirs, _ in os.walk(data)
        for d in dirs
        if DocumentStore._SCRATCH_RE.search(d)
    ]
    assert not scratch, scratch


def _default_buckets_with(value):
    env = dict(os.environ, CHILLASTIC_STORE_BUCKETS=value)
    return subprocess.run(
        [
            sys.executable, "-c",
            "import chillastic_spark.sources as s; print(s.N_BUCKETS_DEFAULT)",
        ],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=120,
    )


@pytest.mark.parametrize("value", ["lots", "12.5", "0", "20000"])
def test_bad_store_buckets_env_falls_back_to_32_with_a_warning(value):
    p = _default_buckets_with(value)
    assert p.returncode == 0, p.stderr
    assert p.stdout.strip() == "32"
    assert "CHILLASTIC_STORE_BUCKETS" in p.stderr and repr(value) in p.stderr


def test_valid_store_buckets_env_is_used_silently():
    p = _default_buckets_with("64")
    assert p.returncode == 0, p.stderr
    assert p.stdout.strip() == "64"
    assert "CHILLASTIC_STORE_BUCKETS" not in p.stderr
