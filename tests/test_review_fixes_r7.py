"""Regression tests for the round-7 ADVICE findings:

1. vector_index compaction recovery must be journal-TAG-keyed — an
   orphan ``data.new-<tag>`` from a crash before the journal write must
   never be installed as the live index (it can predate appends).
2. Engine.add_task admission must be cross-replica safe: the state
   writer flock is reserved for the whole admission, a sibling's
   in-flight planning is detected (not raced, not orphan-deleted), and
   the on-disk task table is consulted as the cross-process truth.
3. registry add() clears a stale load error for the key it (re)registers.
"""
import json
import os
import shutil

import pytest

from chillastic_spark.engine import Engine, TaskError, TaskState
from chillastic_spark.locks import FileLock
from chillastic_spark.model import Task, TransferSpec

from conftest import docs_f1

SF = "/root/testdata/sf0.001"


def _task(src, dst, **transfer):
    return Task(
        source=src.root, destination=dst.root, transfer=TransferSpec(**transfer)
    )


# ------------------------------------------- vector index swap recovery


def _queries(e):
    return e.limit(3).selectExpr("vec_id as query_id", "embedding")


def test_compact_recovery_never_installs_an_orphan(spark, tmp_path):
    """ADVICE r6 (medium): recovery installed the lexicographically-last
    ``data.new-*`` — with an orphan ``data.new-zzzz`` (a stale copy,
    missing buckets) beside a crash between the two renames of a
    genuine compaction, it installed the stale dir and silently lost
    vectors. Recovery now heals BACK to the swap's ``data.old-`` copy
    and never installs any ``.new-`` dir."""
    from chillastic_spark.sources.vector_index import (
        DATA,
        ann_query_index,
        build_vector_index,
        compact_vector_index,
    )
    from chillastic_spark.tables import load

    e = load(spark, SF, "embeddings").limit(200)
    idx = str(tmp_path / "vidx")
    build_vector_index(e, idx, planes=4)
    data = os.path.join(idx, DATA)
    want = {
        (r["query_id"], r["neighbor_id"], r["cos"])
        for r in ann_query_index(spark, idx, _queries(e), k=5).collect()
    }
    assert want

    # orphan from an EARLIER crash: a stale copy with half its bucket
    # partitions deleted; its tag sorts AFTER the genuine swap's tag so
    # the old news[-1] pick would choose it
    shutil.copytree(data, data + ".new-zzzz")
    buckets = sorted(
        d for d in os.listdir(data + ".new-zzzz") if d.startswith("bucket=")
    )
    for d in buckets[: max(1, len(buckets) // 2)]:
        shutil.rmtree(os.path.join(data + ".new-zzzz", d))

    # the genuine swap, crashed between rename data->old and new->data
    shutil.copytree(data, data + ".new-aaaa")
    os.rename(data, data + ".old-aaaa")
    assert not os.path.exists(data)

    # a serving read heals: the .old- copy is back, neither orphan is
    # installed, and no vector is lost to the stale one
    got = {
        (r["query_id"], r["neighbor_id"], r["cos"])
        for r in ann_query_index(spark, idx, _queries(e), k=5).collect()
    }
    assert got == want
    assert os.path.exists(data)
    assert not os.path.exists(data + ".old-aaaa")
    assert os.path.exists(data + ".new-zzzz")  # untouched by recovery

    # a fresh compaction cleans the orphans in the writer window and
    # round-trips results
    compact_vector_index(spark, idx)
    assert not os.path.exists(data + ".new-zzzz")
    assert not os.path.exists(data + ".new-aaaa")
    got2 = {
        (r["query_id"], r["neighbor_id"], r["cos"])
        for r in ann_query_index(spark, idx, _queries(e), k=5).collect()
    }
    assert got2 == want


# --------------------------------------------------- admission reservation


def test_add_task_fails_fast_while_sibling_plans_same_id(
    spark, tmp_path, store_factory
):
    """A sibling replica mid-planning holds the task's state writer
    flock for the whole build; this replica's admission must fail fast
    with 'already exists' instead of planning the same id in parallel
    (or deleting the sibling's in-flight state file as an orphan)."""
    src = store_factory("src", {"myindex1": docs_f1(5)})
    dst = store_factory("dst")
    eng = Engine(spark, str(tmp_path / "state"))
    # simulate the sibling: an independent fd holding the state flock
    # (FileLock re-entrancy is per-instance, so this contends even
    # in-process) plus its in-flight state file
    sibling = TaskState(eng.state_root, "t1")
    sibling.data["completed"] = {"half-planned": 3}
    sibling.save()
    lock = FileLock(sibling.path + ".lock").acquire()
    try:
        with pytest.raises(TaskError, match="already exists"):
            eng.add_task("t1", _task(src, dst, from_indices="myindex1"))
        # the sibling's in-flight state file survived the probe
        with open(sibling.path) as f:
            assert json.load(f)["completed"] == {"half-planned": 3}
    finally:
        lock.release()
    # once the sibling is gone the id admits cleanly (orphan discarded)
    state = eng.add_task("t1", _task(src, dst, from_indices="myindex1"))
    assert state.data["completed"] == {}
    assert state.data["backlog"]


def test_add_task_consults_disk_task_table_across_replicas(
    spark, tmp_path, store_factory
):
    """Two Engine replicas over one state root: after replica A admits
    t1, replica B (whose in-memory dict predates the admission) must
    raise 'already exists' — and must NOT delete A's planned state
    file, which the buggy orphan cleanup did."""
    src = store_factory("src", {"myindex1": docs_f1(5)})
    dst = store_factory("dst")
    root = str(tmp_path / "state")
    eng_b = Engine(spark, root)  # loaded tasks.json before A's admission
    eng_a = Engine(spark, root)
    eng_a.add_task("t1", _task(src, dst, from_indices="myindex1"))
    state_path = os.path.join(root, "task-t1.json")
    assert os.path.exists(state_path)
    with pytest.raises(TaskError, match="already exists"):
        eng_b.add_task("t1", _task(src, dst, from_indices="myindex1"))
    # A's planned backlog survived B's rejected admission
    with open(state_path) as f:
        assert json.load(f)["backlog"]
    status = eng_a.run_task("t1")
    assert status["percentComplete"] == 100.0
    assert dst.count(spark, "myindex1") == 5


# --------------------------------------------- bounded planning parallelism


def test_backlog_planning_runs_probes_at_bounded_concurrency(
    spark, tmp_path, store_factory, monkeypatch
):
    """VERDICT r6 #2: build_backlog probed stats/histograms/counts per
    (index,type) slice sequentially — thousands of serialized tiny
    Spark jobs at thousands of slices. The reference planned its counts
    at concurrency 10 (app/services/subtasks.js:394). Pin: probes
    overlap (max observed concurrency > 1), never exceed the bound, and
    the planned backlog is byte-identical to the sequential build."""
    import threading
    import time

    from chillastic_spark.sources import DocumentStore

    corpora = {f"idx{i:02d}": docs_f1(4) for i in range(12)}
    src = store_factory("src", corpora)
    dst = store_factory("dst")

    active = {"now": 0, "max": 0}
    gauge = threading.Lock()
    real_sizes = DocumentStore.read_sizes

    # the per-slice planning probe: read the sizes (then one aggregate)
    def tracked_sizes(self, *a, **kw):
        with gauge:
            active["now"] += 1
            active["max"] = max(active["max"], active["now"])
        time.sleep(0.05)  # widen the overlap window on tiny test data
        try:
            return real_sizes(self, *a, **kw)
        finally:
            with gauge:
                active["now"] -= 1
    monkeypatch.setattr(DocumentStore, "read_sizes", tracked_sizes)

    eng = Engine(spark, str(tmp_path / "state"), plan_concurrency=10)
    state = eng.add_task("t1", _task(src, dst, from_indices="idx*"))
    assert active["max"] > 1  # probes actually overlapped
    assert active["max"] <= 10  # and stayed inside the bound

    eng_seq = Engine(spark, str(tmp_path / "state-seq"), plan_concurrency=1)
    state_seq = eng_seq.add_task("t1", _task(src, dst, from_indices="idx*"))
    assert state.data["backlog"] == state_seq.data["backlog"]
    assert state.data["total"] == state_seq.data["total"]

    # the parallel-planned task still transfers correctly
    status = eng.run_task("t1")
    assert status["percentComplete"] == 100.0
    assert sum(dst.count(spark, f"idx{i:02d}") for i in range(12)) == 48


def test_add_task_recheck_under_flock_spares_finished_sibling(
    spark, tmp_path, store_factory, monkeypatch
):
    """r7 review finding: the disk-table duplicate check ran only
    BEFORE the flock probe, so a sibling that completed its whole
    admission inside the probe->acquire window was silently
    reset_orphan'd and overwritten. Deterministic interleave: the
    sibling's full admission is injected exactly in that window."""
    src = store_factory("src", {"myindex1": docs_f1(5)})
    dst = store_factory("dst")
    root = str(tmp_path / "state")
    eng_a = Engine(spark, root)
    eng_b = Engine(spark, root)
    fired = []
    orig = TaskState.acquire_writer

    def inject_sibling(self, blocking=False):
        if self.task_id == "t1" and not fired:
            fired.append(1)
            eng_a.add_task("t1", _task(src, dst, from_indices="myindex1"))
        return orig(self, blocking)

    monkeypatch.setattr(TaskState, "acquire_writer", inject_sibling)
    with pytest.raises(TaskError, match="already exists"):
        eng_b.add_task("t1", _task(src, dst, from_indices="myindex1"))
    # A's planned state survived B's rejected admission and still runs
    with open(os.path.join(root, "task-t1.json")) as f:
        assert json.load(f)["backlog"]
    monkeypatch.undo()
    assert eng_a.run_task("t1")["percentComplete"] == 100.0


def test_planning_pool_fails_fast_and_cleans_up(
    spark, tmp_path, store_factory, monkeypatch
):
    """r7 review finding: pool.map ran EVERY queued probe to completion
    after the first failure (hours at thousands of slices x wire
    timeouts) before surfacing the error. Now the first probe error
    cancels the queue: only in-flight probes finish, admission fails
    with the original error, and the id re-admits cleanly."""
    import threading
    import time

    from chillastic_spark.sources import DocumentStore

    corpora = {f"idx{i:02d}": docs_f1(2) for i in range(40)}
    src = store_factory("src", corpora)
    dst = store_factory("dst")
    started = []
    gauge = threading.Lock()
    real_sizes = DocumentStore.read_sizes

    def flaky_sizes(self, spark_, index, *a, **kw):
        with gauge:
            started.append(index)
        if index == "idx00":
            time.sleep(0.05)
            raise RuntimeError("transient source failure")
        time.sleep(0.3)
        return real_sizes(self, spark_, index, *a, **kw)

    monkeypatch.setattr(DocumentStore, "read_sizes", flaky_sizes)
    eng = Engine(spark, str(tmp_path / "state"), plan_concurrency=4)
    with pytest.raises(RuntimeError, match="transient source failure"):
        eng.add_task("t1", _task(src, dst, from_indices="idx*"))
    # the queue was cancelled: far fewer than 40 probes ever started
    assert len(started) <= 12, started
    # failed admission left no residue; the id re-admits and runs
    assert not os.path.exists(os.path.join(eng.state_root, "task-t1.json"))
    monkeypatch.undo()
    state = eng.add_task("t1", _task(src, dst, from_indices="idx*"))
    assert state.data["backlog"]


# ----------------------------------------------- registry stale load error


def test_registry_add_clears_stale_load_error(tmp_path):
    """ADVICE r6 (low): after an operator fixes a source that failed at
    load, GET /_errors kept reporting the stale compile error until
    restart even though the entry now loads and serves."""
    from chillastic_spark.registry import Mutators

    state = str(tmp_path / "state")
    os.makedirs(state)
    with open(os.path.join(state, "mutators.json"), "w") as f:
        json.dump({"ns1/broken": "import os  # forbidden"}, f)
    m = Mutators(state_dir=state)
    assert "ns1/broken" in m.load_errors
    good_src = (
        'TYPE = "data"\n'
        "def predicate(doc, args):\n    return True\n"
        "def mutate(doc, args):\n    return doc\n"
    )
    m.add("broken", good_src, namespace="ns1")
    assert m.load_errors == {}
    assert m.exists("broken", "ns1")
    # and the fixed source is what persists
    with open(os.path.join(state, "mutators.json")) as f:
        assert json.load(f)["ns1/broken"] == good_src


def test_registry_add_supersedes_bare_id_orphan(tmp_path):
    """Bare-id orphans (malformed persisted keys) are addressed by id
    regardless of namespace — same convention as remove(): a proper
    registration supersedes the orphan source and its error record."""
    from chillastic_spark.registry import Mutators

    state = str(tmp_path / "state")
    os.makedirs(state)
    good_src = (
        'TYPE = "data"\n'
        "def predicate(doc, args):\n    return True\n"
        "def mutate(doc, args):\n    return doc\n"
    )
    with open(os.path.join(state, "mutators.json"), "w") as f:
        json.dump({"badkey": "stale orphan source"}, f)
    m = Mutators(state_dir=state)
    assert "badkey" in m.load_errors
    m.add("badkey", good_src)  # default namespace
    assert m.load_errors == {}
    with open(os.path.join(state, "mutators.json")) as f:
        saved = json.load(f)
    assert "badkey" not in saved  # orphan copy no longer re-emitted
    assert any(k.endswith("/badkey") for k in saved)
