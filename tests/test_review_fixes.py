"""Regression tests for the round-1 code-review findings."""
import json

import pytest

from pyspark.sql import functions as F

from chillastic_spark.engine import Engine, TaskState
from chillastic_spark.model import Subtask, Task, TransferSpec
from chillastic_spark.sinks import upsert
from chillastic_spark.sources import ENVELOPE_SCHEMA, DocumentStore

from conftest import docs_f1


def test_upsert_returns_delivered_not_index_total(spark, store_factory):
    dst = store_factory("dst-del")
    first = spark.createDataFrame(
        [("i1", "t", str(i), '{"v":1}', 5) for i in range(10)], ENVELOPE_SCHEMA
    )
    assert upsert(spark, dst, first) == {0: 10}
    second = spark.createDataFrame(
        [("i1", "t", "new1", '{"v":2}', 5), ("i1", "t", "new2", '{"v":2}', 5)],
        ENVELOPE_SCHEMA,
    )
    # review finding #1: returned 12 (post-merge index size) before
    assert upsert(spark, dst, second) == {0: 2}
    assert dst.count(spark, "i1") == 12


def test_null_size_docs_survive_range_planning(spark, tmp_path, store_factory):
    # review finding #2: NULL _size docs were dropped by range subtasks
    src = store_factory("src-null")
    rows = [("idx1", "t", str(i), json.dumps({"v": i}), (100 + i) if i < 20 else None)
            for i in range(25)]
    from pyspark.sql import Row
    df = spark.createDataFrame(
        [Row(_index=a, _type=b, _id=c, _source=d, _size=e) for a, b, c, d, e in rows],
        ENVELOPE_SCHEMA,
    )
    src.write_documents(df, "idx1")
    src.put_indices([{"name": "idx1", "settings": {"index": {"number_of_shards": 1}},
                      "mappings": {"t": {}}, "aliases": {}}])
    dst = store_factory("dst-null")
    eng = Engine(spark, str(tmp_path / "st-null"))
    eng.add_task("t1", Task(source=src.root, destination=dst.root,
                            transfer=TransferSpec(from_indices="idx1")))
    status = eng.run_task("t1")
    assert dst.count(spark, "idx1") == 25  # all docs, sized or not
    assert status["total"] == 25


def test_status_not_complete_with_pending_zero_count_work(spark, tmp_path, store_factory):
    # review finding #8: index-only backlog showed 100% before running
    src = store_factory("src-z", {}, indices_cfg={
        "idx1": {"settings": {"index": {}}, "mappings": {"t": {}}, "aliases": {}}})
    dst = store_factory("dst-z")
    eng = Engine(spark, str(tmp_path / "st-z"))
    eng.add_task("t1", Task(source=src.root, destination=dst.root,
                            transfer=TransferSpec(index_names="idx1")))
    assert eng.get_task_status("t1")["percentComplete"] == 0.0
    eng.run_task("t1")
    assert eng.get_task_status("t1")["percentComplete"] == 100.0
    assert dst.get_indices("idx1")


def test_rebuild_persists_cleared_backlog(spark, tmp_path, store_factory):
    # review finding #3: cleared backlog wasn't saved when nothing enqueued
    src = store_factory("src-c", {"idx1": docs_f1(3)})
    dst = store_factory("dst-c")
    eng = Engine(spark, str(tmp_path / "st-c"))
    eng.add_task("t1", Task(source=src.root, destination=dst.root,
                            transfer=TransferSpec(from_indices="idx1")))
    eng.run_task("t1")
    # remove the index from catalog+data and rebuild → the cleared
    # backlog must be PERSISTED even though nothing was enqueued
    import shutil
    shutil.rmtree(src.index_path("idx1"))
    src._write_catalog("indices", {})
    eng.build_backlog("t1")
    fresh = TaskState(str(tmp_path / "st-c"), "t1")
    assert fresh.data["backlog"] == []


def test_asof_null_fields_not_backfilled(spark):
    # review finding #4: per-column carry composited rows
    from chillastic_spark.operators.asof import asof_join

    left = spark.createDataFrame([("u", 10, "p")], "k: string, ts: long, pid: string")
    right = spark.createDataFrame(
        [("u", 1, 1.0, None), ("u", 2, None, 5.0)],
        "k: string, ts: long, a: double, b: double",
    )
    got = asof_join(left, right, key="k", ts="ts", value_cols=["a", "b"]).collect()[0]
    # true match is ts=2 → (a=NULL, b=5.0); the old code returned a=1.0
    assert got["a"] is None and got["b"] == 5.0


def test_minhash_bands_validated(spark):
    from chillastic_spark.operators.dedup import minhash_lsh_pairs

    df = spark.createDataFrame([(1, "a b c d")], "doc_id: long, text: string")
    with pytest.raises(ValueError, match="bands must divide"):
        minhash_lsh_pairs(df, num_perm=8, bands=16)
    with pytest.raises(ValueError, match="bands must divide"):
        minhash_lsh_pairs(df, num_perm=16, bands=3)

    # the signatures-path entry (used by the streaming shapes, which
    # skip minhash_lsh_pairs) must enforce the SAME guard — a silent
    # mis-banding would either degrade recall (ignored permutations)
    # or collapse every doc into one bucket (bands > num_perm)
    from chillastic_spark.operators.dedup import (
        minhash_pairs_from_signatures,
        minhash_signatures_wide,
    )

    sig = minhash_signatures_wide(df, "doc_id", "text", 3, 8)
    with pytest.raises(ValueError, match="bands must divide"):
        minhash_pairs_from_signatures(sig, num_perm=8, bands=16, threshold=0.25)
    with pytest.raises(ValueError, match="bands must divide"):
        minhash_pairs_from_signatures(sig, num_perm=8, bands=3, threshold=0.25)


def test_registry_replace_string_with_object_drops_source(tmp_path):
    # review finding #9: stale persisted source resurrected old code
    from chillastic_spark.registry import Mutators

    d = str(tmp_path / "reg")
    m = Mutators(d)
    m.add("m1", "TYPE='data'\ndef predicate(d,a):\n    return True\ndef mutate(d,a):\n    d['_source']['v']='old'\n    return d\n")

    class NewImpl:
        TYPE = "data"
        @staticmethod
        def predicate(doc, args):
            return True
        @staticmethod
        def mutate(doc, args):
            doc["_source"]["v"] = "new"
            return doc

    m.add("m1", {"TYPE": "data", "predicate": NewImpl.predicate, "mutate": NewImpl.mutate})
    m2 = Mutators(d)  # reload from disk
    # old persisted source must be gone, not resurrected
    assert not m2.exists("m1")


def test_upsert_within_batch_conflict_deterministic(spark, store_factory):
    # review finding #6: winner must not depend on partitioning
    dst1 = store_factory("dst-d1")
    dst2 = store_factory("dst-d2")
    rows = [("i1", "t", "same", '{"v": 1}', 5), ("i1", "t", "same", '{"v": 2}', 5)]
    b1 = spark.createDataFrame(rows, ENVELOPE_SCHEMA).repartition(8)
    b2 = spark.createDataFrame(list(reversed(rows)), ENVELOPE_SCHEMA).coalesce(1)
    upsert(spark, dst1, b1)
    upsert(spark, dst2, b2)
    v1 = json.loads(dst1.read(spark, "i1").collect()[0]["_source"])
    v2 = json.loads(dst2.read(spark, "i1").collect()[0]["_source"])
    assert v1 == v2  # same winner regardless of order/partitioning


def test_parallel_run_task(spark, tmp_path, store_factory):
    # N driver threads submitting concurrent Spark jobs (different
    # destination indices → no writer races on the parquet store)
    corpora = {f"idx{i}": docs_f1(4, f"t{i}") for i in range(6)}
    src = store_factory("src-par", corpora)
    dst = store_factory("dst-par")
    eng = Engine(spark, str(tmp_path / "st-par"))
    eng.add_task("t1", Task(source=src.root, destination=dst.root,
                            transfer=TransferSpec(from_indices="idx*")))
    status = eng.run_task("t1", parallelism=4)
    assert status["percentComplete"] == 100.0
    assert status["errors"] == 0
    for i in range(6):
        assert dst.count(spark, f"idx{i}") == 4


def test_partitioned_layout_prunes_type_scans(spark, tmp_path):
    # _type-partitioned layout → per-type reads are partition-pruned
    store = DocumentStore(str(tmp_path / "pstore"))
    rows = [("i1", f"t{i % 3}", str(i), '{"v":1}', 5) for i in range(30)]
    df = spark.createDataFrame(rows, ENVELOPE_SCHEMA)
    store.write_documents(df, "i1", partition_by=["_type"])
    got = store.read(spark, "i1", type="t1")
    assert got.count() == 10
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "_type" in plan
    # full read still sees every partition
    assert store.read(spark, "i1").count() == 30


def test_get_spark_reuses_active_session(spark):
    """get_spark must never override an active session's master
    (spark-submit contract): it returns the running session as-is."""
    from chillastic_spark.session import get_spark

    s = get_spark("anything")
    assert s is spark or s.sparkContext is spark.sparkContext


def test_resolve_master_behavior():
    """Master resolution is a pure helper — pin BEHAVIOR, not source
    text: env override wins, cpus sizes the local[] default, explicit
    cpus beats the env."""
    from chillastic_spark.session import resolve_master

    assert resolve_master(env={}) == ("local[32]", "32")
    assert resolve_master(env={"SPARK_GRAFT_CPUS": "8"}) == ("local[8]", "8")
    assert resolve_master(env={"SPARK_GRAFT_MASTER": "yarn"}) == ("yarn", "32")
    assert resolve_master(
        env={"SPARK_GRAFT_MASTER": "spark://h:7077", "SPARK_GRAFT_CPUS": "8"},
        cpus=4,
    ) == ("spark://h:7077", "4")


def test_shuffle_partitions_star_fallback():
    """SPARK_GRAFT_CPUS='*' (local[*]) is not a partition count — the
    shuffle-partition rule must fall back to real cores, never hand
    Spark a non-numeric value."""
    import os

    from chillastic_spark.session import shuffle_partitions_for

    assert shuffle_partitions_for(32) == "32"
    assert shuffle_partitions_for("8") == "8"
    assert shuffle_partitions_for("*") == str(os.cpu_count() or 8)


def test_object_id_rejects_trailing_newline():
    """re's $ also matches before a trailing newline; ids are state-file
    keys, so 'task1\\n' must NOT validate as a distinct key rendering
    identically to 'task1' everywhere."""
    import pytest as _pytest

    from chillastic_spark.model import validate_object_id

    assert validate_object_id("task1") == "task1"
    for bad in ("task1\n", "task1\r", "\ntask1", "1task", "a" * 50):
        with _pytest.raises(ValueError):
            validate_object_id(bad)


def test_service_bind_rules():
    """Non-loopback binds refuse to start without an api key (the
    endpoints read local filesystem paths); loopback is the default."""
    import pytest

    from chillastic_spark.__main__ import resolve_bind

    assert resolve_bind(env={}) == ("127.0.0.1", 8080)
    assert resolve_bind(env={"CHILLASTIC_PORT": "9999"}) == ("127.0.0.1", 9999)
    with pytest.raises(SystemExit):
        resolve_bind(env={"CHILLASTIC_HOST": "0.0.0.0"})
    assert resolve_bind(
        env={"CHILLASTIC_HOST": "0.0.0.0", "CHILLASTIC_API_KEY": "k"}
    ) == ("0.0.0.0", 8080)
