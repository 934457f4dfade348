"""Bucket-scoped MERGE: an upsert of k docs rewrites ONLY the buckets
containing those keys (VERDICT r2 item 2 — the S4 sink must not cost
O(|index|) per batch). Proven at the filesystem level: untouched bucket
dirs keep the same inodes and mtimes across a merge."""
import json
import os

from pyspark.sql import functions as F

from chillastic_spark.sinks import purge, upsert
from chillastic_spark.sources import DocumentStore, bucket_expr

N_BUCKETS = 8


def _corpus(spark, n=200):
    return spark.range(n).select(
        F.lit("ix").alias("_index"),
        F.lit("t").alias("_type"),
        F.concat(F.lit("doc"), F.col("id")).alias("_id"),
        F.to_json(F.struct(F.col("id").alias("v"))).alias("_source"),
        F.lit(10).cast("long").alias("_size"),
    )


def _batch(spark, rows):
    return spark.createDataFrame(
        [("ix", "t", _id, json.dumps({"v": v}), 10) for _id, v in rows],
        "_index string, _type string, _id string, _source string, _size long",
    )


def _buckets_of(spark, ids):
    df = spark.createDataFrame([(i,) for i in ids], "_id string")
    return {
        r["b"] for r in df.select(bucket_expr(N_BUCKETS).alias("b")).collect()
    }


def _bucket_sigs(store, index):
    """{bucket_dir_name: {(file, inode, mtime_ns)}} for every bucket."""
    sigs = {}
    for p in store.bucket_paths(index):
        st = {
            (f, os.stat(os.path.join(p, f)).st_ino, os.stat(os.path.join(p, f)).st_mtime_ns)
            for f in os.listdir(p)
            if f.endswith(".parquet")
        }
        sigs[os.path.basename(p)] = st
    return sigs


def test_first_upsert_migrates_to_bucketed_layout(spark, tmp_path):
    store = DocumentStore(str(tmp_path / "s"))
    assert upsert(spark, store, _corpus(spark), n_buckets=N_BUCKETS) == {0: 200}
    assert store.bucket_count("ix") == N_BUCKETS
    assert len(store.bucket_paths("ix")) <= N_BUCKETS
    assert store.read(spark, "ix").count() == 200
    # all 200 ids present exactly once
    assert store.read(spark, "ix").select("_id").distinct().count() == 200


def test_upsert_rewrites_only_touched_buckets(spark, tmp_path):
    store = DocumentStore(str(tmp_path / "s"))
    upsert(spark, store, _corpus(spark), n_buckets=N_BUCKETS)
    before = _bucket_sigs(store, "ix")

    batch_ids = ["doc0", "doc1", "docNEW"]
    touched = {f"bucket-{b:04d}" for b in _buckets_of(spark, batch_ids)}
    upsert(
        spark, store,
        _batch(spark, [("doc0", 1000), ("doc1", 1001), ("docNEW", 1002)]),
        n_buckets=N_BUCKETS,
    )
    after = _bucket_sigs(store, "ix")

    untouched_seen = 0
    for name, sig in before.items():
        if name in touched:
            assert after[name] != sig, f"touched bucket {name} not rewritten"
        else:
            assert after[name] == sig, (
                f"untouched bucket {name} was rewritten — merge is not bucket-scoped"
            )
            untouched_seen += 1
    assert untouched_seen >= 1  # the claim is vacuous if every bucket was hit

    # merge semantics intact: updates landed, insert landed, count is 201
    got = {
        r["_id"]: json.loads(r["_source"])["v"]
        for r in store.read(spark, "ix").collect()
    }
    assert len(got) == 201
    assert got["doc0"] == 1000 and got["doc1"] == 1001 and got["docNEW"] == 1002
    assert got["doc5"] == 5  # untouched doc unchanged


def test_bucketed_upsert_is_idempotent(spark, tmp_path):
    store = DocumentStore(str(tmp_path / "s"))
    b = _batch(spark, [("a", 1), ("b", 2)])
    upsert(spark, store, _corpus(spark, 50), n_buckets=N_BUCKETS)
    upsert(spark, store, b, n_buckets=N_BUCKETS)
    upsert(spark, store, b, n_buckets=N_BUCKETS)  # re-delivery
    assert store.read(spark, "ix").count() == 52


def test_bucket_pruned_read(spark, tmp_path):
    store = DocumentStore(str(tmp_path / "s"))
    upsert(spark, store, _corpus(spark, 100), n_buckets=N_BUCKETS)
    ids = [f"doc{i}" for i in range(100)]
    some = _buckets_of(spark, ids[:10])
    pruned = store.read(spark, "ix", buckets=sorted(some))
    full = store.read(spark, "ix")
    assert pruned.count() < full.count()
    # pruned read contains every doc whose id hashes into those buckets
    want = {
        i for i in ids if next(iter(_buckets_of(spark, [i]))) in some
    }
    assert {r["_id"] for r in pruned.collect()} == want


def test_bucketed_purge_rewrites_only_victim_buckets(spark, tmp_path):
    store = DocumentStore(str(tmp_path / "s"))
    upsert(spark, store, _corpus(spark), n_buckets=N_BUCKETS)
    before = _bucket_sigs(store, "ix")
    victims = ["doc3", "doc7"]
    touched = {f"bucket-{b:04d}" for b in _buckets_of(spark, victims)}
    assert purge(spark, store, "ix", victims) == 2
    after = _bucket_sigs(store, "ix")
    for name, sig in before.items():
        if name not in touched:
            assert after.get(name) == sig, f"untouched bucket {name} rewritten by purge"
    assert store.read(spark, "ix").count() == 198


def test_write_documents_append_routes_into_buckets(spark, tmp_path):
    store = DocumentStore(str(tmp_path / "s"))
    upsert(spark, store, _corpus(spark, 40), n_buckets=N_BUCKETS)
    before = _bucket_sigs(store, "ix")
    extra = _batch(spark, [("x1", 1), ("x2", 2)])
    store.write_documents(extra, "ix", mode="append")
    after = _bucket_sigs(store, "ix")
    # raw append adds files, never rewrites existing ones
    for name, sig in before.items():
        assert sig <= after.get(name, set()), f"append rewrote files in {name}"
    assert store.read(spark, "ix").count() == 42


def test_bucketed_compaction_preserves_layout_and_content(spark, tmp_path):
    from chillastic_spark.sources.maintenance import compact_index

    store = DocumentStore(str(tmp_path / "s"))
    upsert(spark, store, _corpus(spark, 60), n_buckets=N_BUCKETS)
    # several appends → many small files per bucket
    for i in range(3):
        store.write_documents(
            _batch(spark, [(f"y{i}a", i), (f"y{i}b", i)]), "ix", mode="append"
        )
    res = compact_index(spark, store, "ix", target_file_bytes=1 << 30)
    assert res["compacted"]
    assert res["after"]["n_files"] <= res["before"]["n_files"]
    assert store.bucket_count("ix") == N_BUCKETS  # layout survives OPTIMIZE
    assert store.read(spark, "ix").count() == 66
    # a follow-up merge still only touches its buckets
    before = _bucket_sigs(store, "ix")
    touched = {f"bucket-{b:04d}" for b in _buckets_of(spark, ["doc0"])}
    upsert(spark, store, _batch(spark, [("doc0", 9)]), n_buckets=N_BUCKETS)
    after = _bucket_sigs(store, "ix")
    for name, sig in before.items():
        if name not in touched:
            assert after[name] == sig


def test_stray_scratch_dirs_do_not_break_reads(spark, tmp_path):
    """A crash can leave .merge-/.old- scratch dirs behind; reads and
    index listings must ignore them."""
    import os

    import shutil

    store = DocumentStore(str(tmp_path / "s"))
    upsert(spark, store, _corpus(spark, 30), n_buckets=N_BUCKETS)
    os.makedirs(store.index_path("ix") + ".merge-deadbeef/__bucket=0")
    os.makedirs(store.index_path("ix") + ".old-cafe")
    # a DATA-BEARING swap leftover: copy a live bucket to bucket-NNNN.old-x
    live = store.bucket_paths("ix")[0]
    shutil.copytree(live, live + ".old-1234")
    assert store.list_data_indices() == ["ix"]
    assert store.read(spark, "ix").count() == 30  # no double-count
    # and a subsequent merge still works
    upsert(spark, store, _batch(spark, [("z", 1)]), n_buckets=N_BUCKETS)
    assert store.read(spark, "ix").count() == 31


def test_null_typed_docs_replace_instead_of_duplicating(spark, tmp_path):
    """Typeless envelopes (_type NULL — ES 7+/8 documents) must MERGE:
    a plain equi-join anti-join never matches NULL == NULL, which
    silently duplicated every null-typed doc on re-upsert."""
    store = DocumentStore(str(tmp_path / "s"))
    nullbatch = spark.createDataFrame(
        [("ix", None, "a", json.dumps({"v": 1}), 10)],
        "_index string, _type string, _id string, _source string, _size long",
    )
    upsert(spark, store, nullbatch, n_buckets=N_BUCKETS)
    newer = spark.createDataFrame(
        [("ix", None, "a", json.dumps({"v": 2}), 10)],
        "_index string, _type string, _id string, _source string, _size long",
    )
    upsert(spark, store, newer, n_buckets=N_BUCKETS)
    rows = store.read(spark, "ix").collect()
    assert len(rows) == 1, rows  # replaced, not duplicated
    assert json.loads(rows[0]["_source"]) == {"v": 2}


def test_null_index_is_a_clear_error(spark, tmp_path):
    import pytest

    store = DocumentStore(str(tmp_path / "s2"))
    bad = spark.createDataFrame(
        [(None, "t", "a", json.dumps({"v": 1}), 10)],
        "_index string, _type string, _id string, _source string, _size long",
    )
    with pytest.raises(ValueError, match="NULL _index"):
        upsert(spark, store, bad, n_buckets=N_BUCKETS)


def test_every_staged_bucket_write_lands_one_file_per_bucket(spark, tmp_path):
    """All four bucketed writers (migration upsert, bucket-scoped merge,
    bucketed append, purge) write each bucket from ONE task: a bucket
    dir they write holds exactly one part file (an append adds exactly
    one), and the index holds exactly the expected rows."""
    store = DocumentStore(str(tmp_path / "s"))
    expected = {f"doc{i}": {"v": i} for i in range(200)}

    def files():
        return {
            os.path.basename(p): sorted(f for f in os.listdir(p) if f.endswith(".parquet"))
            for p in store.bucket_paths("ix")
        }

    def holds_expected():
        got = {r["_id"]: json.loads(r["_source"]) for r in store.read(spark, "ix").collect()}
        return got == expected

    # several flat files, and batches spread over several partitions, so
    # an unclustered write would give a bucket one file per task
    store.write_documents(_corpus(spark).repartition(4), "ix")
    rows = [(f"doc{i}", 1000 + i) for i in range(0, 200, 3)]
    upsert(spark, store, _batch(spark, rows).repartition(4), n_buckets=N_BUCKETS)
    expected.update({i: {"v": v} for i, v in rows})
    after_migration = files()
    assert len(after_migration) == N_BUCKETS
    assert all(len(f) == 1 for f in after_migration.values())
    assert holds_expected()

    rows = [(f"doc{i}", 2000 + i) for i in range(0, 40, 7)] + [("new1", 1), ("new2", 2)]
    upsert(spark, store, _batch(spark, rows).repartition(4))
    expected.update({i: {"v": v} for i, v in rows})
    after_merge = files()
    assert after_merge != after_migration  # the touched buckets were rewritten
    assert all(len(f) == 1 for f in after_merge.values())
    assert holds_expected()

    rows = [(f"app{i}", i) for i in range(12)]
    store.write_documents(_batch(spark, rows).repartition(4), "ix", mode="append")
    expected.update({i: {"v": v} for i, v in rows})
    appended = {f"bucket-{b:04d}" for b in _buckets_of(spark, [i for i, _ in rows])}
    after_append = files()
    for name, fs in after_append.items():
        assert len(fs) == len(after_merge.get(name, [])) + (name in appended), name
    assert holds_expected()

    victims = ["app0", "app5", "doc9", "doc100"]
    assert purge(spark, store, "ix", victims) == 4
    for v in victims:
        del expected[v]
    purged = {f"bucket-{b:04d}" for b in _buckets_of(spark, victims)}
    after_purge = files()
    assert all(len(after_purge[name]) == 1 for name in purged)
    assert all(after_purge[n] == fs for n, fs in after_append.items() if n not in purged)
    assert holds_expected()
