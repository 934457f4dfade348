"""Regression tests for the round-7 control-plane review sweep:
flock-leak on torn acquire, cross-replica task visibility, admission
type checks, status rounding, rotation resilience, atomic pop+progress,
and lock-file cleanup with inode-revalidated FileLock."""
import json
import os
import threading

import pytest

from chillastic_spark.engine import Engine, TaskError, TaskState
from chillastic_spark.locks import FileLock
from chillastic_spark.model import Subtask, Task, TransferSpec

from conftest import docs_f1


def _task(src, dst, **transfer):
    return Task(
        source=src.root, destination=dst.root, transfer=TransferSpec(**transfer)
    )


def test_acquire_writer_releases_flock_when_state_removed(tmp_path):
    """reload() raising AFTER the flock was acquired must release it:
    leaked, every later op on this task id in this process reports
    'being written by another process' until restart."""
    root = str(tmp_path / "state")
    st = TaskState(root, "t1")
    st.data["total"] = 1
    st.save()
    victim = TaskState(root, "t1")  # _seen_on_disk=True
    os.remove(victim.path)  # removed by "another process"
    with pytest.raises(TaskError, match="removed"):
        victim.acquire_writer()
    # the flock did NOT leak: a fresh writer acquires instantly
    TaskState(root, "t1").acquire_writer().release_writer()


def test_tasks_admitted_on_one_replica_visible_on_another(
    spark, tmp_path, store_factory
):
    """The documented multi-replica drain: replica B must see (and be
    able to status/run) a task replica A admitted after B started."""
    src = store_factory("src", {"myindex1": docs_f1(5)})
    dst = store_factory("dst")
    root = str(tmp_path / "state")
    eng_b = Engine(spark, root)  # started before A's admission
    eng_a = Engine(spark, root)
    eng_a.add_task("t1", _task(src, dst, from_indices="myindex1"))
    assert "t1" in eng_b.list_tasks()
    assert eng_b.get_task("t1").source == src.root
    assert eng_b.get_task_status("t1")["backlog"] > 0
    status = eng_b.run_task("t1")
    assert status["percentComplete"] == 100.0
    assert dst.count(spark, "myindex1") == 5


def test_flush_size_type_checked_at_admission(spark, tmp_path, store_factory):
    """A string flushSize admitted cleanly and then failed EVERY
    subtask at run time with a TypeError; it must 400 at admission."""
    src = store_factory("src", {"myindex1": docs_f1(3)})
    dst = store_factory("dst")
    eng = Engine(spark, str(tmp_path / "state"))
    for bad in ("500", 0, -3, True):
        with pytest.raises((TaskError, ValueError), match="flushSize"):
            eng.add_task(
                "t1",
                Task(
                    source=src.root, destination=dst.root,
                    transfer=TransferSpec(from_indices="myindex1", flush_size=bad),
                ),
            )
    # a valid value still admits
    eng.add_task(
        "ok",
        Task(
            source=src.root, destination=dst.root,
            transfer=TransferSpec(from_indices="myindex1", flush_size=2),
        ),
    )


def test_percent_complete_never_rounds_failures_to_100(tmp_path):
    """999,999 of 1,000,000 done with one FAILED subtask rounded to
    100.0 — fail() clears backlog and progress, so only
    completed < total betrays the unfinished slice."""
    st = TaskState(str(tmp_path), "t1")
    st.data["total"] = 1_000_000
    st.data["completed"] = {"big-sub": 999_999}
    st.data["backlog"] = []
    st.data["progress"] = {}
    st.data["errors"] = [{"ts": "x", "subtask_id": "s", "message": "boom"}]
    s = st.status()
    assert s["percentComplete"] == 99.99
    # genuinely complete still reads 100
    st.data["completed"] = {"big-sub": 1_000_000}
    assert st.status()["percentComplete"] == 100.0


def test_run_all_skips_contended_task(spark, tmp_path, store_factory):
    """A task whose writer flock another process holds must be SKIPPED
    for the cycle, not abort the whole rotation."""
    src = store_factory("src", {"idxa": docs_f1(4), "idxb": docs_f1(3, "t2")})
    dst = store_factory("dst")
    eng = Engine(spark, str(tmp_path / "state"))
    eng.add_task("ta", _task(src, dst, from_indices="idxa"))
    eng.add_task("tb", _task(src, dst, from_indices="idxb"))
    # a "foreign process" holds ta's state flock
    foreign = FileLock(
        os.path.join(eng.state_root, "task-ta.json.lock")
    ).acquire()
    try:
        eng.run_all()
    finally:
        foreign.release()
    # tb drained fully despite ta being contended
    assert dst.count(spark, "idxb") == 3
    assert eng.get_task_status("tb")["percentComplete"] == 100.0
    # ta unblocked later
    assert eng.run_task("ta")["percentComplete"] == 100.0


def test_pop_with_progress_is_one_atomic_round(tmp_path):
    """After pop(with_progress=True) the ON-DISK state must already
    carry the progress entry — the separate-round shape left a window
    where the subtask was in no persisted structure and a concurrent
    rebuild re-enqueued it."""
    root = str(tmp_path / "state")
    st = TaskState(root, "t1")
    with st:
        st.enqueue(Subtask(kind="index", names="ix1", count=1), save=False)
        st.save()
        (sub,) = st.pop(with_progress=True)
        assert sub.names == "ix1"
        on_disk = json.load(open(st.path))
        assert on_disk["backlog"] == []
        assert list(on_disk["progress"]) == [sub.subtask_id()]
        # the concurrent-rebuild guard now sees the in-flight subtask
        assert st.data["progress"]


def test_remove_task_cleans_lock_file_and_readmission_works(
    spark, tmp_path, store_factory
):
    """remove_task unlinks task-<id>.json.lock (unbounded litter over a
    long-lived state root otherwise); FileLock's inode revalidation
    makes the unlink safe, and the id re-admits cleanly."""
    src = store_factory("src", {"myindex1": docs_f1(3)})
    dst = store_factory("dst")
    eng = Engine(spark, str(tmp_path / "state"))
    eng.add_task("t1", _task(src, dst, from_indices="myindex1"))
    lock_path = os.path.join(eng.state_root, "task-t1.json.lock")
    assert os.path.exists(lock_path)
    eng.remove_task("t1")
    assert not os.path.exists(lock_path)
    assert not os.path.exists(os.path.join(eng.state_root, "task-t1.json"))
    eng.add_task("t1", _task(src, dst, from_indices="myindex1"))
    assert eng.run_task("t1")["percentComplete"] == 100.0


def test_filelock_never_holds_a_ghost_inode(tmp_path):
    """A waiter that opened the lock path before the holder unlinked it
    must retry on the fresh path, not 'acquire' the unlinked inode
    while a third opener locks the recreated file."""
    path = str(tmp_path / "x.lock")
    holder = FileLock(path).acquire()
    got = {}

    def waiter():
        w = FileLock(path).acquire(blocking=True)
        st_fd = os.fstat(w._fd)
        st_path = os.stat(path)
        got["same_inode"] = (st_fd.st_ino, st_fd.st_dev) == (
            st_path.st_ino, st_path.st_dev,
        )
        w.release()

    t = threading.Thread(target=waiter)
    t.start()
    # teardown: unlink while the waiter blocks, then release
    os.remove(path)
    holder.release()
    t.join(timeout=30)
    assert got.get("same_inode") is True
