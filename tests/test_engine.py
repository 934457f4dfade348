"""End-to-end engine tests: the reference's golden transfer/worker
integration scenarios (transfer.spec.js:333-545, worker.spec.js:64-143)
on the Spark engine."""
import json

import pytest

from pyspark.sql import functions as F

from chillastic_spark.engine import Engine, TaskError, TaskState, Transfer
from chillastic_spark.model import ActionRef, Subtask, Task, TransferSpec
from chillastic_spark.sinks import upsert
from chillastic_spark.sources import DocumentStore

from conftest import docs_f1

DATE_MUTATOR = """
TYPE = "data"
OLD = re.compile(r"^(.*)_(\\d{4}-\\d{2})-\\d{2}$")
def predicate(doc, args):
    return bool(OLD.match(doc["_index"]))
def mutate(doc, args):
    doc["_index"] = OLD.sub(r"\\1_\\2", doc["_index"])
    return doc
"""

DROP_WITH_ARGS = """
TYPE = "data"
def predicate(doc, args):
    return doc["_source"].get("field") == args["match"]
def mutate(doc, args):
    return None
"""


def _engine(spark, tmp_path):
    return Engine(spark, str(tmp_path / "state"))


def _task(src, dst, **kw):
    return Task(source=src.root, destination=dst.root,
                transfer=TransferSpec(**kw.pop("transfer", {})), **kw)


# ------------------------------------------------- golden 20-doc transfer


def test_golden_transfer_20_docs(spark, tmp_path, store_factory):
    src = store_factory("src", {"myindex1": docs_f1(20)})
    dst = store_factory("dst")
    eng = _engine(spark, tmp_path)
    eng.add_task("t1", _task(src, dst, transfer={"from_indices": "myindex1"}))
    status = eng.run_task("t1")
    assert status["percentComplete"] == 100.0
    assert status["completed"] == 20
    assert dst.count(spark, "myindex1") == 20
    # payload survived intact
    row = dst.read(spark, "myindex1").filter(F.col("_id") == "id7").collect()[0]
    assert json.loads(row["_source"]) == {"someField_1": "something 7"}


def test_rerun_is_idempotent(spark, tmp_path, store_factory):
    src = store_factory("src", {"myindex1": docs_f1(20)})
    dst = store_factory("dst")
    eng = _engine(spark, tmp_path)
    eng.add_task("t1", _task(src, dst, transfer={"from_indices": "myindex1"}))
    eng.run_task("t1")
    eng.build_backlog("t1")  # resume: completed subtasks are skipped
    status = eng.run_task("t1")
    assert dst.count(spark, "myindex1") == 20
    assert status["backlog"] == 0


def test_two_index_worker_golden(spark, tmp_path, store_factory):
    # worker.spec.js:64-143 golden: 10 + 5 docs across two indices
    src = store_factory(
        "src", {"myindex1": docs_f1(10), "myindex2": docs_f1(5, "mytype2")}
    )
    dst = store_factory("dst")
    eng = _engine(spark, tmp_path)
    eng.add_task("t1", _task(src, dst, transfer={"from_indices": "myindex*"}))
    status = eng.run_task("t1")
    assert status["total"] == 15
    assert status["completed"] == 15
    assert dst.count(spark, "myindex1") == 10
    assert dst.count(spark, "myindex2") == 5


def test_shared_mode_run_and_second_exclusive_writer_refused(spark, tmp_path, store_factory):
    """run_task(shared=True) drains via per-op atomic state rounds (the
    N-worker protocol) and produces the same golden result; meanwhile
    the DEFAULT mode still refuses a second concurrent writer."""
    src = store_factory(
        "src", {"myindex1": docs_f1(10), "myindex2": docs_f1(5, "mytype2")}
    )
    dst = store_factory("dst")
    eng = _engine(spark, tmp_path)
    eng.add_task("t1", _task(src, dst, transfer={"from_indices": "myindex*"}))
    status = eng.run_task("t1", shared=True)
    assert status["completed"] == 15
    assert dst.count(spark, "myindex1") == 10
    # exclusive-mode exclusion is still enforced against a live holder
    holder = TaskState(str(tmp_path / "state"), "t1").acquire_writer()
    try:
        other = TaskState.__new__(TaskState)  # fresh lock fd, same file
        other.__init__(str(tmp_path / "state"), "t1")
        with pytest.raises(TaskError):
            other.acquire_writer(blocking=False)
    finally:
        holder.release_writer()


# O1 index comparator (examples/comparators/indices.js re-expressed in
# sandboxed Python: dated indices sort NEWEST first, non-dated lead,
# alphabetical tie-break)
DATE_COMPARATOR = """
import re
import datetime
OLD = re.compile(r"[0-9]{4}-[0-9]{2}-[0-9]{2}$")
def _key(s):
    m = OLD.search(s)
    return datetime.datetime.strptime(m.group(0), "%Y-%m-%d") if m else None
def compare(a, b):
    ka, kb = _key(a), _key(b)
    if ka is not None and kb is not None:
        if ka != kb:
            return 1 if kb > ka else -1
        return (a > b) - (a < b)
    if ka is not None:
        return 1
    if kb is not None:
        return -1
    return (a > b) - (a < b)
"""


def test_index_comparator_orders_backlog(spark, tmp_path, store_factory):
    src = store_factory(
        "src",
        {
            "logs_2020-01-01": docs_f1(2),
            "logs_2021-06-01": docs_f1(2),
            "alpha": docs_f1(2),
        },
    )
    dst = store_factory("dst")
    eng = _engine(spark, tmp_path)
    state = eng.add_task(
        "t1",
        _task(src, dst, transfer={
            "from_indices": "*", "index_comparator": DATE_COMPARATOR,
        }),
    )
    order = [json.loads(sid)["index"] for sid, _ in state.data["backlog"]]
    assert order == ["alpha", "logs_2021-06-01", "logs_2020-01-01"]
    # and a broken comparator is an admission error, not a runtime one
    with pytest.raises(TaskError):
        eng.add_task(
            "t2",
            _task(src, dst, transfer={
                "from_indices": "*", "index_comparator": "compare = 3",
            }),
        )
    with pytest.raises(TaskError):  # sandbox applies to comparators too
        eng.add_task(
            "t3",
            _task(src, dst, transfer={
                "from_indices": "*",
                "index_comparator": "import os\ndef compare(a,b):\n    return 0",
            }),
        )


# ---------------------------------------------------------- data mutators


def test_date_reroute_mutator(spark, tmp_path, store_factory):
    # transfer.spec.js:487-511: something_1990-05-21 → something_1990-05
    docs = [
        {"_id": i, "_type": "sometype", "_source": {"field": f"daata{i}"}}
        for i in range(4)
    ]
    src = store_factory("src", {"something_1990-05-21": docs})
    dst = store_factory("dst")
    eng = _engine(spark, tmp_path)
    eng.mutators.add("indexDate", DATE_MUTATOR)
    eng.add_task(
        "t1",
        _task(
            src, dst,
            transfer={"from_indices": "something_*"},
            mutators=[ActionRef(id="indexDate")],
        ),
    )
    eng.run_task("t1")
    assert dst.count(spark, "something_1990-05") == 4
    assert dst.count(spark, "something_1990-05-21") == 0


def test_drop_mutator_with_args(spark, tmp_path, store_factory):
    # transfer.spec.js:513-545: null-mutate drops matching docs only
    docs = [
        {"_id": 1, "_source": {"field": "daata"}},
        {"_id": 2, "_source": {"field": "daata2"}},
        {"_id": 3, "_source": {"field": "daata3"}},
    ]
    src = store_factory("src", {"myindex1": docs})
    dst = store_factory("dst")
    eng = _engine(spark, tmp_path)
    eng.mutators.add("dropper", DROP_WITH_ARGS)
    eng.add_task(
        "t1",
        _task(
            src, dst,
            transfer={"from_indices": "myindex1"},
            mutators=[ActionRef(id="dropper", arguments={"match": "daata2"})],
        ),
    )
    eng.run_task("t1")
    remaining = {
        r["_id"] for r in dst.read(spark, "myindex1").select("_id").collect()
    }
    assert remaining == {"1", "3"}


# -------------------------------------------------- catalog (index/template)


def test_index_config_transfer_strips_nonportable(spark, tmp_path, store_factory):
    cfg = {
        "myindex1": {
            "settings": {
                "index": {
                    "number_of_shards": 3,
                    "uuid": "abc",
                    "creation_date": 123,
                    "provided_name": "myindex1",
                    "version": {"created": 6000},
                }
            },
            "mappings": {"mytype1": {}},
            "aliases": {"alias_1": {}},
            # warmers ride along like any other config blob
            # (transfer.js:364-372, transfer.spec.js:240)
            "warmers": {"warmer_1": {"types": [], "source": {"query": {"match_all": {}}}}},
        }
    }
    src = store_factory("src", {}, indices_cfg=cfg)
    dst = store_factory("dst")
    t = Transfer(spark, src, dst)
    assert t.transfer_indices("myindex*") == 1
    got = dst.get_indices("myindex1")[0]
    idx = got["settings"]["index"]
    assert idx["number_of_shards"] == 3
    for bad in ("uuid", "creation_date", "provided_name"):
        assert bad not in idx
    assert "created" not in idx.get("version", {})
    assert got["aliases"] == {"alias_1": {}}
    assert got["warmers"] == {
        "warmer_1": {"types": [], "source": {"query": {"match_all": {}}}}
    }


def test_template_transfer_excludes_system(spark, tmp_path, store_factory):
    templates = {
        "test_template": {"index_patterns": ["te*"], "settings": {"number_of_shards": 1}},
        "system_tpl": {"index_patterns": [".monitoring*"]},
    }
    src = store_factory("src", {}, templates=templates)
    dst = store_factory("dst")
    t = Transfer(spark, src, dst)
    assert t.transfer_templates("*") == 1  # system template dropped
    assert [x["name"] for x in dst.get_templates("*")] == ["test_template"]
    with pytest.raises(Exception):
        src.get_templates("nomatch*")  # none found → error (transfer.js:397)


# ------------------------------------------------------ admission/controls


def test_task_admission_validation(spark, tmp_path, store_factory):
    src = store_factory("src", {"myindex1": docs_f1(2)})
    dst = store_factory("dst")
    eng = _engine(spark, tmp_path)
    with pytest.raises(ValueError):
        eng.add_task("9bad id", _task(src, dst, transfer={"from_indices": "x"}))
    with pytest.raises(TaskError):  # missing mutator
        eng.add_task(
            "t1",
            _task(src, dst, transfer={"from_indices": "myindex1"},
                  mutators=[ActionRef(id="nope")]),
        )
    eng.add_task("t2", _task(src, dst, transfer={"from_indices": "myindex1"}))
    with pytest.raises(TaskError):  # duplicate
        eng.add_task("t2", _task(src, dst, transfer={"from_indices": "myindex1"}))
    assert eng.list_tasks() == ["t2"]
    eng.remove_task("t2")
    assert eng.list_tasks() == []


def test_filters_prune_planning(spark, tmp_path, store_factory):
    src = store_factory(
        "src", {"myindex1": docs_f1(3), "other1": docs_f1(3)}
    )
    dst = store_factory("dst")
    eng = _engine(spark, tmp_path)
    eng.filters.add(
        "onlyMy",
        "TYPE='index'\ndef predicate(index, args):\n    return index['name'].startswith('myindex')\n",
    )
    eng.add_task(
        "t1",
        _task(
            src, dst,
            transfer={"from_indices": "*", "filters": [ActionRef(id="onlyMy")]},
        ),
    )
    eng.run_task("t1")
    assert dst.count(spark, "myindex1") == 3
    assert dst.count(spark, "other1") == 0


def test_stop_halts_processing(spark, tmp_path, store_factory):
    src = store_factory("src", {"myindex1": docs_f1(5)})
    dst = store_factory("dst")
    eng = _engine(spark, tmp_path)
    eng.add_task("t1", _task(src, dst, transfer={"from_indices": "myindex1"}))
    eng.stop()
    status = eng.run_task("t1")
    assert status["completed"] == 0 and status["backlog"] == 5
    eng.start()
    assert eng.run_task("t1")["completed"] == 5


def test_error_logged_not_requeued(spark, tmp_path, store_factory):
    src = store_factory("src", {"myindex1": docs_f1(2)})
    dst = store_factory("dst")
    eng = _engine(spark, tmp_path)
    bad = "TYPE='data'\ndef predicate(d,a):\n    return True\ndef mutate(d,a):\n    raise RuntimeError('boom')\n"
    eng.mutators.add("boom", bad)
    eng.add_task(
        "t1",
        _task(src, dst, transfer={"from_indices": "myindex1"},
              mutators=[ActionRef(id="boom")]),
    )
    status = eng.run_task("t1")
    assert status["completed"] == 0
    assert status["backlog"] == 0  # popped, failed, NOT re-queued (worker.js:108)
    errs = eng.get_task_errors("t1")
    assert len(errs) == 1 and "boom" in errs[0]["message"]
    # backlog rebuild resurrects the failed subtask (subtasks.js:385-392)
    eng.build_backlog("t1")
    assert eng.get_task_status("t1")["backlog"] == 2


# ------------------------------------------------------------------- sink


def test_upsert_idempotent_and_updates(spark, tmp_path, store_factory):
    dst = store_factory("dst")
    from chillastic_spark.sources import ENVELOPE_SCHEMA

    batch = spark.createDataFrame(
        [("i1", "t", "a", '{"v": 1}', 8), ("i1", "t", "b", '{"v": 2}', 8)],
        ENVELOPE_SCHEMA,
    )
    assert upsert(spark, dst, batch) == {0: 2}
    assert upsert(spark, dst, batch) == {0: 2}  # re-delivery → no dups
    assert dst.count(spark, "i1") == 2
    updated = spark.createDataFrame(
        [("i1", "t", "b", '{"v": 99}', 9)], ENVELOPE_SCHEMA
    )
    upsert(spark, dst, updated)
    rows = {r["_id"]: json.loads(r["_source"]) for r in dst.read(spark, "i1").collect()}
    assert rows == {"a": {"v": 1}, "b": {"v": 99}}


def test_flush_override_and_subtask_id_roundtrip():
    s = Subtask(kind="documents", index="i", type="t", min_size=0, max_size=10,
                flush_size=50, count=7)
    s2 = Subtask.from_id(s.subtask_id(), count=7)
    assert s2 == s
    assert s.has_size_range()
    assert not Subtask(kind="documents", index="i", type="t").has_size_range()


def test_restart_preserves_index_comparator(spark, tmp_path, store_factory):
    """A restarted Engine must reload the task's index_comparator —
    silently dropping it loses the index ordering (and its
    admission-time validation) after every restart."""
    src = store_factory(
        "src", {"logs_2020-01-01": docs_f1(1), "alpha": docs_f1(1)}
    )
    dst = store_factory("dst")
    eng = _engine(spark, tmp_path)
    eng.add_task(
        "t1",
        _task(src, dst, transfer={
            "from_indices": "*", "index_comparator": DATE_COMPARATOR,
        }),
    )
    eng2 = _engine(spark, tmp_path)  # same state root, fresh process
    assert eng2.get_task("t1").transfer.index_comparator == DATE_COMPARATOR
    state = eng2.build_backlog("t1")
    order = [json.loads(sid)["index"] for sid, _ in state.data["backlog"]]
    assert order == ["alpha", "logs_2020-01-01"]


def test_add_task_rolls_back_on_planning_failure(spark, tmp_path, store_factory, monkeypatch):
    """A transient build_backlog failure must not half-admit the task:
    the retry must not hit 'already exists'."""
    src = store_factory("src", {"ix": docs_f1(2)})
    dst = store_factory("dst")
    eng = _engine(spark, tmp_path)
    orig = type(src).get_indices
    calls = {"n": 0}

    def flaky(self, *a, **k):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("transient 500 from the source")
        return orig(self, *a, **k)

    monkeypatch.setattr(type(src), "get_indices", flaky)
    with pytest.raises(RuntimeError):
        eng.add_task("t1", _task(src, dst, transfer={"from_indices": "ix"}))
    assert "t1" not in eng.list_tasks()
    eng2 = _engine(spark, tmp_path)
    assert "t1" not in eng2.list_tasks()  # nothing persisted either
    # retry succeeds
    state = eng.add_task("t1", _task(src, dst, transfer={"from_indices": "ix"}))
    assert len(state.data["backlog"]) == 1


def test_remove_task_refused_while_running(spark, tmp_path, store_factory):
    """remove_task fails fast when another holder has the state writer
    lock instead of racing the runner and resurrecting state files."""
    src = store_factory("src", {"ix": docs_f1(2)})
    dst = store_factory("dst")
    eng = _engine(spark, tmp_path)
    eng.add_task("t1", _task(src, dst, transfer={"from_indices": "ix"}))
    import multiprocessing as mp

    def hold(root, q):
        from chillastic_spark.engine import TaskState

        s = TaskState(root, "t1").acquire_writer()
        q.put("held")
        import time as _t

        _t.sleep(3)
        s.release_writer()

    q = mp.Queue()
    p = mp.Process(target=hold, args=(eng.state_root, q))
    p.start()
    try:
        assert q.get(timeout=10) == "held"
        with pytest.raises(TaskError, match="being written"):
            eng.remove_task("t1")
    finally:
        p.join()
    eng.remove_task("t1")  # lock released: removal proceeds
    assert "t1" not in eng.list_tasks()


def test_build_backlog_refuses_inflight_progress(spark, tmp_path, store_factory):
    """Rebuilding while subtasks are in flight would clear LIVE
    progress and re-enqueue work another process is delivering —
    refuse unless force=True (the crashed-run escape hatch)."""
    src = store_factory("src-bf", {"idx1": [
        {"_id": f"d{i}", "_type": "t", "_source": {"v": i}} for i in range(6)
    ]})
    dst = store_factory("dst-bf")
    eng = Engine(spark, str(tmp_path / "st-bf"))
    eng.add_task("t1", Task(source=src.root, destination=dst.root,
                            transfer=TransferSpec(from_indices="idx1")))
    state = TaskState(str(tmp_path / "st-bf"), "t1")
    state.data["progress"]["doc:idx1:0"] = {"ts": 1}
    state.save()
    with pytest.raises(TaskError, match="in-flight"):
        eng.build_backlog("t1")
    eng.build_backlog("t1", force=True)  # crashed-run override


def test_removed_task_state_is_not_resurrected(spark, tmp_path):
    """A shared-mode worker whose state file was deleted by
    remove_task must ABORT its next state op, not re-save the stale
    in-memory copy as an orphan task file."""
    import os

    root = str(tmp_path / "st-rm")
    s1 = TaskState(root, "tx")
    s1.data["total"] = 5
    s1.save()
    s2 = TaskState(root, "tx")  # the running worker's handle
    os.remove(s1.path)  # remove_task deleted it mid-run
    with pytest.raises(TaskError, match="removed"):
        s2.log_error(None, "boom")  # shared-mode atomic op
    assert not os.path.exists(s1.path)  # nothing resurrected


# ----------------------------------------------------------- slice groups
# 30 docs sized 10..300: size planning splits the one (index, type) into
# three size ranges, [0,184) [184,271) [271,301), of 18, 9 and 3 docs
SIZED = [
    {"_id": str(i), "_type": "t", "_size": 10 * (i + 1), "_source": {"n": i}}
    for i in range(30)
]

# maps docs from every size range onto 4 keys: a later size range must
# win a key it shares with an earlier one, as in one-at-a-time delivery
COLLAPSE = """
TYPE = "data"
def predicate(doc, args):
    return True
def mutate(doc, args):
    doc["_source"]["orig"] = doc["_id"]
    doc["_id"] = "k" + str(int(doc["_id"]) % 4)
    return doc
"""

BOOM_MIDDLE = """
TYPE = "data"
def predicate(doc, args):
    return 184 <= doc["_size"] < 271
def mutate(doc, args):
    raise RuntimeError("boom in the middle range")
"""


def _sized_task(eng, src, dst, task_id="t1", mutators=()):
    eng.add_task(task_id, _task(
        src, dst, transfer={"from_indices": "ix"},
        mutators=[ActionRef(id=m) for m in mutators],
    ))
    backlog = TaskState(eng.state_root, task_id).data["backlog"]
    # the premise: one slice, three size ranges queued back to back
    assert [c for _, c in backlog] == [18, 9, 3]
    return backlog


def _merge_calls(monkeypatch):
    """Record the member count of each ``upsert`` the engine runs."""
    import chillastic_spark.engine as E

    calls, members = [], []
    orig_transfer, orig_upsert = Transfer.transfer_data, E.upsert

    def transfer(self, work):
        members.append(len(work))
        return orig_transfer(self, work)

    def merge(*a, **k):
        calls.append(members[-1])
        return orig_upsert(*a, **k)

    monkeypatch.setattr(Transfer, "transfer_data", transfer)
    monkeypatch.setattr(E, "upsert", merge)
    return calls


def _dst_rows(spark, dst):
    return sorted(
        (r["_type"], r["_id"], r["_source"]) for r in dst.read(spark, "ix").collect()
    )


def test_slice_group_merges_once_and_matches_member_by_member(
    spark, tmp_path, store_factory, monkeypatch
):
    src = store_factory("src", {"ix": SIZED})
    eng = _engine(spark, tmp_path)
    eng.mutators.add("collapse", COLLAPSE)
    calls = _merge_calls(monkeypatch)
    transferred = []
    orig_progress = TaskState.update_progress

    def progress(self, sub, p):
        transferred.append(p.transferred)
        return orig_progress(self, sub, p)

    monkeypatch.setattr(TaskState, "update_progress", progress)

    grouped = store_factory("grouped")
    _sized_task(eng, src, grouped, "tg", ["collapse"])
    status = eng.run_task("tg")
    assert calls == [3]  # one MERGE carried all three ranges
    assert status["completed"] == 30 and status["errors"] == 0
    # each member is progressed with the rows of its own that the MERGE
    # kept: together, exactly the rows written
    assert sum(transferred) == len(_dst_rows(spark, grouped)) == 4

    single = store_factory("single")
    _sized_task(eng, src, single, "ts", ["collapse"])
    calls.clear()
    while eng.run_task("ts", max_subtasks=1)["backlog"]:
        pass
    assert calls == [1, 1, 1]  # one subtask per call

    assert _dst_rows(spark, grouped) == _dst_rows(spark, single)
    winners = {
        r["_id"]: json.loads(r["_source"])["orig"]
        for r in grouped.read(spark, "ix").collect()
    }
    # docs 27..29 are the last size range: they win k3, k0, k1; k2's
    # last sighting is in the middle range (18, 22 or 26)
    assert winners["k3"] == "27" and winners["k0"] == "28" and winners["k1"] == "29"
    assert winners["k2"] in {"18", "22", "26"}


def test_slice_group_failure_retries_member_by_member(
    spark, tmp_path, store_factory, monkeypatch
):
    src = store_factory("src", {"ix": SIZED})
    dst = store_factory("dst")
    eng = _engine(spark, tmp_path)
    eng.mutators.add("boom", BOOM_MIDDLE)
    backlog = _sized_task(eng, src, dst, mutators=["boom"])
    calls = _merge_calls(monkeypatch)
    status = eng.run_task("t1")
    # the group's MERGE failed, then each member went alone
    assert calls == [3, 1, 1, 1]
    errs = eng.get_task_errors("t1")
    assert len(errs) == 1 and "boom in the middle range" in errs[0]["message"]
    assert errs[0]["subtask_id"] == backlog[1][0]
    state = TaskState(eng.state_root, "t1").data
    assert sorted(state["completed"]) == sorted([backlog[0][0], backlog[2][0]])
    assert state["progress"] == {} and state["backlog"] == []
    assert status["completed"] == 21
    assert dst.count(spark, "ix") == 21


def test_checkpoint_error_after_group_merge_does_not_redeliver(
    spark, tmp_path, store_factory, monkeypatch
):
    src = store_factory("src", {"ix": SIZED})
    dst = store_factory("dst")
    eng = _engine(spark, tmp_path)
    backlog = _sized_task(eng, src, dst)
    calls = _merge_calls(monkeypatch)
    orig_complete = TaskState.complete

    def complete(self, sub):
        if sub.subtask_id() == backlog[0][0]:
            raise RuntimeError("checkpoint lost")
        return orig_complete(self, sub)

    monkeypatch.setattr(TaskState, "complete", complete)
    eng.run_task("t1")
    assert calls == [3]  # the landed MERGE is never re-run for a member
    errs = eng.get_task_errors("t1")
    assert len(errs) == 1 and "checkpoint lost" in errs[0]["message"]
    assert errs[0]["subtask_id"] == backlog[0][0]
    state = TaskState(eng.state_root, "t1").data
    assert sorted(state["completed"]) == sorted([backlog[1][0], backlog[2][0]])
    assert state["progress"] == {}
    assert dst.count(spark, "ix") == 30


def test_stop_during_failed_group_skips_member_retries(
    spark, tmp_path, store_factory, monkeypatch
):
    src = store_factory("src", {"ix": SIZED})
    dst = store_factory("dst")
    eng = _engine(spark, tmp_path)
    eng.mutators.add("boom", BOOM_MIDDLE)
    _sized_task(eng, src, dst, mutators=["boom"])
    calls = _merge_calls(monkeypatch)
    failing = Transfer.transfer_data

    def stop_then_transfer(self, work):
        eng.stop()
        return failing(self, work)

    monkeypatch.setattr(Transfer, "transfer_data", stop_then_transfer)
    eng.run_task("t1")
    assert calls == [3]  # no member was retried after the stop
    errs = eng.get_task_errors("t1")
    assert len(errs) == 3 and all("not retried" in e["message"] for e in errs)
    state = TaskState(eng.state_root, "t1").data
    assert state["progress"] == {} and state["completed"] == {}
    eng.start()
    eng.build_backlog("t1")  # nothing left in flight: no force needed
    assert len(TaskState(eng.state_root, "t1").data["backlog"]) == 3


def test_run_all_round_robin_delivers_one_subtask_per_call(
    spark, tmp_path, store_factory, monkeypatch
):
    src = store_factory("src", {"ix": SIZED})
    eng = _engine(spark, tmp_path)
    _sized_task(eng, src, store_factory("d1"), "ta")
    _sized_task(eng, src, store_factory("d2"), "tb")
    calls = _merge_calls(monkeypatch)
    status = eng.run_all()
    assert calls == [1] * 6
    assert all(t["completed"] == 30 for t in status["tasks"].values())


class _Killed(BaseException):
    """Stands in for the process dying: no ``except Exception`` sees it."""


def test_crash_between_group_merge_and_complete_rebuilds_doc_exact(
    spark, tmp_path, store_factory, monkeypatch
):
    src = store_factory("src", {"ix": SIZED})
    eng = _engine(spark, tmp_path)
    eng.mutators.add("collapse", COLLAPSE)
    clean = store_factory("clean")
    _sized_task(eng, src, clean, "tc", ["collapse"])
    eng.run_task("tc")

    dst = store_factory("dst")
    _sized_task(eng, src, dst, "t1", ["collapse"])
    with monkeypatch.context() as m:
        def die(self, subtask):
            raise _Killed()

        m.setattr(TaskState, "complete", die)
        with pytest.raises(_Killed):
            eng.run_task("t1")
    # the MERGE landed; every member is still in progress, none completed
    assert _dst_rows(spark, dst) == _dst_rows(spark, clean)
    state = TaskState(eng.state_root, "t1").data
    assert len(state["progress"]) == 3 and state["completed"] == {}

    with pytest.raises(TaskError, match="in-flight"):
        eng.build_backlog("t1")
    eng.build_backlog("t1", force=True)
    status = eng.run_task("t1")
    assert status["completed"] == 30 and status["backlog"] == 0
    assert status["errors"] == 0
    assert _dst_rows(spark, dst) == _dst_rows(spark, clean)


# ------------------------------------------------------ one-pass group scan
# 30 sized docs (_size 0, 10, .., 290) plus 4 with a NULL _size, in two types
PARITY = [
    ("ix", "t", str(i), json.dumps({"n": i}), 10 * i) for i in range(30)
] + [("ix", "t", f"u{i}", json.dumps({"n": -i}), None) for i in range(4)] + [
    ("ix", "other", f"o{i}", json.dumps({"n": i}), 10 * i) for i in range(5)
]

# rewrites _size (out of every member's range) and re-routes _index, so
# a tag taken after the mutation would drop or misfile the row
RESIZE = """
TYPE = "data"
def predicate(doc, args):
    return doc["_id"].startswith("u") or int(doc["_id"]) % 3 == 0
def mutate(doc, args):
    doc["_size"] = 1000 + (doc["_size"] or 0)
    doc["_index"] = "ix_moved"
    return doc
"""


def _parity_source(spark, tmp_path):
    from chillastic_spark.sources import ENVELOPE_SCHEMA

    src = DocumentStore(str(tmp_path / "src"))
    src.write_documents(spark.createDataFrame(PARITY, ENVELOPE_SCHEMA), "ix")
    return src


def _member_union(transfer, group):
    """The scan the group scan replaced, as the oracle: one read and one
    mutator pass per member, tagged with its position, unioned."""
    import functools

    from pyspark.sql import DataFrame

    from chillastic_spark.operators.mutate import apply_data_mutators

    return functools.reduce(DataFrame.unionByName, [
        apply_data_mutators(
            transfer.source.read(transfer.spark, m.index, m.type, m.min_size, m.max_size),
            transfer.mutators_by_type.get("data"),
        ).withColumn(Transfer.ORDINAL, F.lit(i))
        for i, m in enumerate(group)
    ])


def _all_rows(spark, store):
    return sorted(
        (r["_index"], r["_type"], r["_id"], r["_source"], r["_size"])
        for ix in store.list_data_indices()
        for r in store.read(spark, ix).collect()
    )


@pytest.mark.parametrize("ranges, mutators", [
    # NULL sizes land with the member holding 0
    ([(0, 100), (100, 200), (200, 300)], ()),
    # no member holds 0: NULL sizes are delivered by none
    ([(100, 200), (200, 300)], ()),
    # overlapping ranges: a row in both comes out twice, the later wins
    ([(0, 150), (100, 300)], ()),
    # non-contiguous: the completed middle member's rows stay out
    ([(0, 100), (200, 300)], ()),
    # a member with no range is the whole slice
    ([(0, 100), (-1, -1)], ()),
    # the tag is the PRE-mutation size
    ([(0, 100), (100, 200), (200, 300)], ("resize",)),
], ids=["null-sizes", "no-zero", "overlap", "non-contiguous", "unranged", "resize"])
def test_group_scan_matches_member_union(spark, tmp_path, ranges, mutators):
    from chillastic_spark.model import SliceGroup

    eng = _engine(spark, tmp_path)
    eng.mutators.add("resize", RESIZE)
    by_type = eng.mutators.load_by_type([ActionRef(id=m) for m in mutators])
    src = _parity_source(spark, tmp_path)
    group = SliceGroup(tuple(
        Subtask(kind="documents", index="ix", type="t", min_size=lo, max_size=hi)
        for lo, hi in ranges
    ))
    one_pass = DocumentStore(str(tmp_path / "one"))
    reads = []
    orig_read = src.read
    src.read = lambda *a, **k: reads.append(a[1:]) or orig_read(*a, **k)
    delivered = Transfer(spark, src, one_pass, by_type).transfer_data(group)
    assert len(reads) == 1  # one scan for the whole group

    union = DocumentStore(str(tmp_path / "union"))
    oracle = Transfer(spark, src, union, by_type)
    merged = upsert(spark, union, _member_union(oracle, group), ordinal=Transfer.ORDINAL)
    assert delivered == [merged.get(i, 0) for i in range(len(group))]
    assert _all_rows(spark, one_pass) == _all_rows(spark, union)
    assert sum(delivered) > 0


def test_group_scan_delivers_exact_counts(spark, tmp_path):
    """Pins the parity oracle itself on the hand-counted case."""
    from chillastic_spark.model import SliceGroup

    src = _parity_source(spark, tmp_path)
    dst = DocumentStore(str(tmp_path / "dst"))
    group = SliceGroup(tuple(
        Subtask(kind="documents", index="ix", type="t", min_size=lo, max_size=hi)
        for lo, hi in [(0, 150), (100, 200), (250, 300)]
    ))
    # [0,150) holds sizes 0..90 (10 docs) + 4 NULL; its 100..140 rows
    # go to the later [100,200) member (10 docs); [250,300) holds 5
    assert Transfer(spark, src, dst).transfer_data(group) == [14, 10, 5]
    assert dst.count(spark, "ix") == 29


def test_data_mutators_pass_tag_through_quarantine(spark):
    from chillastic_spark.operators.mutate import QUARANTINE_INDEX, apply_data_mutators

    df = spark.createDataFrame(
        [("ix", "t", str(i), json.dumps({"n": i}), i, i % 2) for i in range(6)],
        "_index string, _type string, _id string, _source string, _size long, tag int",
    )

    def boom(doc, args):
        if doc["_source"]["n"] >= 3:
            raise ValueError("bad doc")
        assert "tag" not in doc and "tag" not in doc["_source"]
        doc["_source"]["seen"] = True
        return doc

    class Mut:
        predicate, mutate, arguments = staticmethod(lambda d, a: True), staticmethod(boom), None

    out = apply_data_mutators(df, [Mut()], quarantine=True, passthrough=["tag"])
    assert out.columns[-1] == "tag" and out.schema["tag"].dataType.simpleString() == "int"
    rows = {r["_id"]: r for r in out.collect()}
    assert {r["_index"] for r in rows.values()} == {"ix", QUARANTINE_INDEX}
    for i in range(6):
        r = rows[str(i)] if i < 3 else rows[f"ix/{i}"]
        assert r["tag"] == i % 2
    assert rows["ix/4"]["_index"] == QUARANTINE_INDEX


def test_canonicalize_keeps_malformed_ids_and_propagates_bugs(tmp_path, monkeypatch):
    path = tmp_path / "task-t1.json"
    legacy = Subtask(kind="documents", index="ix", min_size=0.0, max_size=10.0)
    path.write_text(json.dumps({
        "task": None, "total": 0, "errors": [],
        "backlog": [["not json", 1], ['{"kind": "documents", "bogus": 1}', 2]],
        "completed": {'{"index":"ix","kind":"documents","max_size":10.0,"min_size":0.0}': 3},
        "progress": {"[1, 2]": {}},
    }))
    data = TaskState(str(tmp_path), "t1").data
    # malformed (ValueError) and unknown-shape (TypeError) ids verbatim
    assert data["backlog"] == [["not json", 1], ['{"kind": "documents", "bogus": 1}', 2]]
    assert data["progress"] == {"[1, 2]": {}}
    assert list(data["completed"]) == [legacy.subtask_id()]  # canonicalized

    def broken(sid, count=0):
        raise RuntimeError("bug in from_id")

    monkeypatch.setattr(Subtask, "from_id", staticmethod(broken))
    with pytest.raises(RuntimeError, match="bug in from_id"):
        TaskState(str(tmp_path), "t1")


# ------------------------------------------------ counts ride on the plan


def _planning_source(spark, tmp_path):
    """Two slices of one index: ix/t (sizes 0..290 and 4 NULL) and
    ix/other (sizes 0..40)."""
    src = _parity_source(spark, tmp_path)
    src.put_indices([{
        "name": "ix", "settings": {"index": {"number_of_shards": 1}},
        "mappings": {"t": {"properties": {}}, "other": {"properties": {}}},
        "aliases": {},
    }])
    return src


def _per_query_backlog(spark, src, index):
    """The backlog as the per-iteration aggregates planned it and one
    count query per subtask counted it: [subtask id, count] in FIFO
    order."""
    from chillastic_spark.plans import DataFrameSizeStats, plan_bounds

    out = []
    for cfg in src.get_indices(index):
        for t in src.types_of(cfg):
            sizes = src.read_sizes(spark, cfg["name"], t["name"])
            for b in plan_bounds(DataFrameSizeStats(sizes)):
                sub = Subtask(
                    kind="documents", index=cfg["name"], type=t["name"],
                    min_size=b.min_size, max_size=b.max_size, flush_size=b.flush_size,
                )
                count = src.count(spark, sub.index, sub.type, sub.min_size, sub.max_size)
                out.append([sub.subtask_id(), count])
    return out


def test_planned_counts_equal_store_counts_fresh_and_after_resume(
    spark, tmp_path, monkeypatch
):
    """Every planned subtask's count is DocumentStore.count over its
    range, and the backlog (ids, counts, order) is the one the
    per-iteration aggregates plus one count per subtask built — fresh,
    after a resume rebuild, and with the driver gate off."""
    src = _planning_source(spark, tmp_path)
    dst = DocumentStore(str(tmp_path / "dst"))
    want = _per_query_backlog(spark, src, "ix")
    assert len(want) >= 4 and sum(n for _, n in want) == 39
    eng = _engine(spark, tmp_path)
    state = eng.add_task("t1", _task(src, dst, transfer={"from_indices": "ix"}))
    assert state.data["backlog"] == want
    assert state.data["total"] == 39

    # deliver the first slice group, then rebuild: the completed
    # members are subtracted, the rest keep their planned counts
    eng.run_task("t1", max_subtasks=1)
    state = eng.build_backlog("t1")
    done = state.data["completed"]
    assert done and state.data["backlog"] == [e for e in want if e[0] not in done]
    assert state.data["total"] == 39

    monkeypatch.setenv("CHILLASTIC_CC_LOCAL_CAP", "0")
    state = eng.add_task("t2", _task(src, dst, transfer={"from_indices": "ix"}))
    assert state.data["backlog"] == want


def test_admission_plans_each_slice_in_one_aggregate(spark, tmp_path, monkeypatch):
    """Under the driver gate, admitting a task runs at most two Spark
    jobs (one aggregate) per (index, type) slice and no count query."""
    import uuid

    src = _planning_source(spark, tmp_path)
    dst = DocumentStore(str(tmp_path / "dst"))
    counts = []
    real_count = DocumentStore.count

    def count(self, *a, **kw):
        counts.append(a[1:])
        return real_count(self, *a, **kw)

    monkeypatch.setattr(DocumentStore, "count", count)
    # sequential planning: the job group below is a thread-local property
    eng = Engine(spark, str(tmp_path / "state"), plan_concurrency=1)
    sc = spark.sparkContext
    group = f"admit-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "add_task")
    try:
        eng.add_task("t1", _task(src, dst, transfer={"from_indices": "ix"}))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 2 <= jobs <= 4, jobs
    assert counts == []


def test_flush_size_override_counts_each_slice_once(spark, tmp_path, monkeypatch):
    """A flush_size override plans no sizes: one unranged subtask and one
    count query per slice."""
    src = _planning_source(spark, tmp_path)
    dst = DocumentStore(str(tmp_path / "dst"))
    counts, sized = [], []
    real_count, real_sizes = DocumentStore.count, DocumentStore.read_sizes

    def count(self, *a, **kw):
        counts.append(a[1:])
        return real_count(self, *a, **kw)

    def read_sizes(self, *a, **kw):
        sized.append(a[1:])
        return real_sizes(self, *a, **kw)

    monkeypatch.setattr(DocumentStore, "count", count)
    monkeypatch.setattr(DocumentStore, "read_sizes", read_sizes)
    eng = _engine(spark, tmp_path)
    state = eng.add_task(
        "t1", _task(src, dst, transfer={"from_indices": "ix", "flush_size": 7})
    )
    got = [(Subtask.from_id(sid, n), n) for sid, n in state.data["backlog"]]
    assert [(s.type, s.min_size, s.max_size, s.flush_size, n) for s, n in got] == [
        ("other", -1, -1, 7, 5), ("t", -1, -1, 7, 34),
    ]
    assert sorted(counts) == [("ix", "other"), ("ix", "t")]
    assert sized == []
