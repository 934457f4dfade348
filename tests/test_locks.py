"""Cross-process writer exclusion (VERDICT r2 item 4): two TaskState
writers on the same state file must not race — the second fails cleanly
(fcntl.flock, the Redis-atomics analog, subtasks.js:45-69)."""
import multiprocessing as mp

import pytest

from chillastic_spark.engine import TaskError, TaskState
from chillastic_spark.locks import FileLock, LockHeld


def test_filelock_excludes_second_holder(tmp_path):
    p = str(tmp_path / "x.lock")
    a = FileLock(p).acquire()
    with pytest.raises(LockHeld):
        FileLock(p).acquire(blocking=False)
    a.release()
    FileLock(p).acquire(blocking=False).release()  # free after release


def test_filelock_reentrant_within_holder(tmp_path):
    p = str(tmp_path / "x.lock")
    a = FileLock(p).acquire()
    a.acquire(blocking=False)  # no-op, not a deadlock
    a.release()


def test_filelock_threads_contend_like_processes(tmp_path):
    """Two threads sharing ONE FileLock object must exclude each other
    (re-entrancy is per holder thread, not per object) — the r3 advice
    hole where both threads could enter the critical section."""
    import threading

    p = str(tmp_path / "x.lock")
    lock = FileLock(p).acquire()
    results = {}

    def contender():
        try:
            lock.acquire(blocking=False)
            results["entered"] = True
            lock.release()
        except LockHeld:
            results["entered"] = False

    t = threading.Thread(target=contender)
    t.start()
    t.join(timeout=10)
    assert results["entered"] is False  # second thread was excluded
    # release from a non-holder thread is a bug, not a silent unlock
    def bad_release():
        try:
            lock.release()
            results["released"] = True
        except RuntimeError:
            results["released"] = False

    t2 = threading.Thread(target=bad_release)
    t2.start()
    t2.join(timeout=10)
    assert results["released"] is False
    lock.release()
    # free for a fresh thread once the holder is done
    def fresh():
        FileLock(p).acquire(blocking=False).release()
        results["fresh"] = True

    t3 = threading.Thread(target=fresh)
    t3.start()
    t3.join(timeout=10)
    assert results.get("fresh") is True


def _child_try_acquire(state_root, q):
    try:
        TaskState(state_root, "t1").acquire_writer(blocking=False)
        q.put("acquired")
    except TaskError:
        q.put("refused")
    except Exception as e:  # noqa: BLE001
        q.put(f"unexpected:{e}")


def test_second_process_writer_fails_cleanly(tmp_path):
    root = str(tmp_path / "state")
    holder = TaskState(root, "t1").acquire_writer()
    holder.data["total"] = 7
    holder.save()
    try:
        ctx = mp.get_context("fork")
        q = ctx.Queue()
        proc = ctx.Process(target=_child_try_acquire, args=(root, q))
        proc.start()
        proc.join(timeout=30)
        assert q.get(timeout=5) == "refused"
    finally:
        holder.release_writer()
    # once released, another process-equivalent writer succeeds and sees
    # the holder's last saved state
    again = TaskState(root, "t1").acquire_writer()
    assert again.data["total"] == 7
    again.release_writer()


def _worker_drain(state_root, out_q):
    """One cooperating worker process: pop→complete until the shared
    backlog drains (run_task(shared=True)'s state protocol)."""
    st = TaskState(state_root, "coop")
    mine = []
    while True:
        group = st.pop()
        if group is None:
            break
        (sub,) = group
        mine.append(sub.subtask_id())
        st.complete(sub)
    out_q.put(mine)


def test_two_processes_cooperatively_drain_one_backlog(tmp_path):
    """The reference's N-worker deployment (worker.js:61-123): multiple
    processes pop one queue; every subtask runs exactly once."""
    from chillastic_spark.model import Subtask

    root = str(tmp_path / "state")
    st = TaskState(root, "coop")
    with st:  # exclusive while planning, like build_backlog
        for i in range(40):
            st.enqueue(Subtask(kind="index", names=f"ix{i:02d}", count=1), save=False)
        st.save()

    ctx = mp.get_context("fork")
    q = ctx.Queue()
    procs = [
        ctx.Process(target=_worker_drain, args=(root, q)) for _ in range(2)
    ]
    for p in procs:
        p.start()
    results = [q.get(timeout=60) for _ in procs]
    for p in procs:
        p.join(timeout=30)

    a, b = results
    assert not (set(a) & set(b)), "a subtask was processed by both workers"
    assert len(a) + len(b) == 40
    final = TaskState(root, "coop")
    assert len(final.data["completed"]) == 40
    assert final.data["backlog"] == []
    assert final.status()["percentComplete"] == 100.0


def _stress_worker(state_root, out_q, victim_q=None, victim_after=None):
    """run_task(shared=True)'s per-subtask protocol: pop -> progress ->
    work -> complete. A victim worker reports its in-flight subtask id
    after ``victim_after`` completions and then hangs, waiting for
    SIGKILL mid-subtask (progress written, completion never reached)."""
    import time

    st = TaskState(state_root, "stress")
    from chillastic_spark.model import Progress

    mine = []
    while True:
        group = st.pop()
        if group is None:
            break
        (sub,) = group
        st.update_progress(sub, Progress(tick=0, transferred=0, total=sub.count))
        if victim_q is not None and len(mine) >= victim_after:
            victim_q.put(sub.subtask_id())
            time.sleep(300)  # killed here — mid-subtask, flock-free window
        time.sleep(0.001)
        mine.append(sub.subtask_id())
        st.complete(sub)
    out_q.put(mine)


def test_shared_backlog_survives_sigkill_mid_subtask(tmp_path):
    """r6 verdict #7: 4 worker processes, 200 subtasks, one worker
    SIGKILLed mid-subtask. The survivors drain the rest exactly-once;
    the killed subtask is NOT silently re-delivered (worker.js:108-111
    semantics, documented on Engine.run_task: errors/corpses reappear
    only on the next build_backlog); the rebuild re-enqueues exactly
    the corpse's subtask and a final drain completes it."""
    from chillastic_spark.model import Subtask

    root = str(tmp_path / "state")
    st = TaskState(root, "stress")
    with st:  # exclusive while planning, like build_backlog
        for i in range(200):
            st.enqueue(
                Subtask(kind="index", names=f"ix{i:03d}", count=1), save=False
            )
        st.save()

    ctx = mp.get_context("fork")
    out_q, victim_q = ctx.Queue(), ctx.Queue()
    victim = ctx.Process(
        target=_stress_worker, args=(root, out_q, victim_q, 5)
    )
    victim.start()
    in_flight = victim_q.get(timeout=60)  # progress written, not completed
    victim.kill()  # SIGKILL — the kernel drops its flock fd
    victim.join(timeout=30)

    survivors = [
        ctx.Process(target=_stress_worker, args=(root, out_q)) for _ in range(3)
    ]
    for p in survivors:
        p.start()
    drained = [out_q.get(timeout=120) for _ in survivors]
    for p in survivors:
        p.join(timeout=30)

    # exactly-once across every worker that reported (victim's completes
    # are in state but its list died with it — reconstruct from state)
    seen: set = set()
    for ids in drained:
        assert not (set(ids) & seen), "a subtask was delivered twice"
        seen |= set(ids)
    final = TaskState(root, "stress")
    assert final.data["backlog"] == []
    # every subtask except the corpse's in-flight one is completed once
    assert len(final.data["completed"]) == 199
    assert in_flight not in final.data["completed"]
    # the corpse's partial state is visible, not silently re-queued
    assert set(final.data["progress"]) == {in_flight}
    assert final.status()["percentComplete"] < 100.0

    # the documented recovery: a (force) rebuild clears dead progress
    # and re-enqueues ONLY work without a completion record — exactly
    # the build_backlog recipe (engine.py _build_backlog_locked)
    with TaskState(root, "stress") as reb:
        reb.data["progress"] = {}
        reb.data["total"] = sum(reb.data["completed"].values())
        seen_ids: set = set()
        for i in range(200):
            reb.enqueue(
                Subtask(kind="index", names=f"ix{i:03d}", count=1),
                save=False, seen=seen_ids,
            )
        reb.save()
    after = TaskState(root, "stress")
    assert [s for s, _ in after.data["backlog"]] == [in_flight]

    q2 = ctx.Queue()
    finisher = ctx.Process(target=_stress_worker, args=(root, q2))
    finisher.start()
    assert q2.get(timeout=60) == [in_flight]
    finisher.join(timeout=30)
    done = TaskState(root, "stress")
    assert len(done.data["completed"]) == 200
    assert done.data["backlog"] == [] and done.data["progress"] == {}
    assert done.status()["percentComplete"] == 100.0


def test_writer_lock_released_on_exception(tmp_path):
    root = str(tmp_path / "state")
    with pytest.raises(RuntimeError):
        with TaskState(root, "t1"):
            raise RuntimeError("boom")
    TaskState(root, "t1").acquire_writer(blocking=False).release_writer()
