"""Regression tests for the round-6 control-plane review findings:
admission RCE gate, task-store concurrency, plan-before-clear backlog
rebuild, source-surface admission checks, status semantics, registry
load resilience."""
import json
import os
import threading

import pytest

from chillastic_spark.api import create_app
from chillastic_spark.engine import Engine, TaskError, TaskState
from chillastic_spark.model import Task, TransferSpec
from chillastic_spark.registry import Mutators
from chillastic_spark.sources import DocumentStore

from conftest import docs_f1

COMPARATOR = "def compare(a, b):\n    return (a > b) - (a < b)\n"


def _task(src, dst, **transfer):
    return Task(
        source=src.root, destination=dst.root, transfer=TransferSpec(**transfer)
    )


# ----------------------------------------------------- admission RCE gate


def test_task_comparator_code_needs_code_registration_gate(
    spark, tmp_path, store_factory
):
    """POST /tasks carrying index_comparator source is exec()'d at
    admission — it must sit behind the same gate as POST /mutators, or
    an unauthenticated caller gets driver-side code execution."""
    src = store_factory("src", {"myindex1": docs_f1(3)})
    dst = store_factory("dst")
    eng = Engine(spark, str(tmp_path / "state"))
    app = create_app(eng)  # no api_key -> code registration disabled
    app.config["TESTING"] = True
    c = app.test_client()
    body = {
        "source": src.root,
        "destination": dst.root,
        "transfer": {
            "documents": {"fromIndices": "myindex*"},
            "index_comparator": COMPARATOR,
        },
    }
    r = c.post("/tasks/evil", json=body)
    assert r.status_code == 403
    assert "evil" not in eng.list_tasks()

    # the opt-in app admits the same body
    app2 = create_app(eng, allow_code_registration=True)
    app2.config["TESTING"] = True
    r = app2.test_client().post("/tasks/ok", json=body)
    assert r.status_code == 200
    assert "ok" in eng.list_tasks()


# ------------------------------------------------ task-store concurrency


def test_concurrent_admissions_keep_tasks_json_valid(
    spark, tmp_path, store_factory
):
    src = store_factory("src", {"myindex1": docs_f1(4)})
    dst = store_factory("dst")
    eng = Engine(spark, str(tmp_path / "state"))
    errs = []

    def admit(i):
        try:
            eng.add_task(f"t{i}", _task(src, dst, from_indices="myindex1"))
        except Exception as e:  # pragma: no cover - failure detail
            errs.append(e)

    threads = [threading.Thread(target=admit, args=(i,)) for i in range(6)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    with open(os.path.join(str(tmp_path / "state"), "tasks.json")) as f:
        on_disk = json.load(f)  # parses -> not interleaved/corrupt
    assert sorted(on_disk) == [f"t{i}" for i in range(6)]


def test_two_engine_replicas_merge_admissions(spark, tmp_path, store_factory):
    """Two API replicas over one state_root: each admission must
    survive the other's save (blind rewrite used to drop them)."""
    src = store_factory("src", {"myindex1": docs_f1(3)})
    dst = store_factory("dst")
    root = str(tmp_path / "state")
    a = Engine(spark, root)
    b = Engine(spark, root)  # constructed before a admits anything
    a.add_task("fromA", _task(src, dst, from_indices="myindex1"))
    b.add_task("fromB", _task(src, dst, from_indices="myindex1"))
    with open(os.path.join(root, "tasks.json")) as f:
        assert sorted(json.load(f)) == ["fromA", "fromB"]
    # and the removal is not resurrected by the other replica's save
    b.remove_task("fromA")
    a.add_task("extra", _task(src, dst, from_indices="myindex1"))
    with open(os.path.join(root, "tasks.json")) as f:
        assert sorted(json.load(f)) == ["extra", "fromB"]


# ------------------------------------------- plan-before-clear rebuild


def test_failed_rebuild_preserves_backlog(spark, tmp_path, store_factory, monkeypatch):
    src = store_factory("src", {"myindex1": docs_f1(5)})
    dst = store_factory("dst")
    eng = Engine(spark, str(tmp_path / "state"))
    eng.add_task("t1", _task(src, dst, from_indices="myindex1"))
    before = TaskState(eng.state_root, "t1").data["backlog"]
    assert before  # planned work exists

    def boom(self, *a, **kw):
        raise RuntimeError("source 500 during index listing")

    monkeypatch.setattr(DocumentStore, "get_indices", boom)
    with pytest.raises(RuntimeError):
        eng.build_backlog("t1", force=True)
    after = TaskState(eng.state_root, "t1")
    assert after.data["backlog"] == before  # NOT wiped
    assert after.status()["percentComplete"] != 100.0


def test_failed_admission_leaves_no_state_file(
    spark, tmp_path, store_factory, monkeypatch
):
    src = store_factory("src", {"myindex1": docs_f1(5)})
    dst = store_factory("dst")
    eng = Engine(spark, str(tmp_path / "state"))

    def boom(self, *a, **kw):
        raise RuntimeError("transient listing failure")

    monkeypatch.setattr(DocumentStore, "get_indices", boom)
    with pytest.raises(RuntimeError):
        eng.add_task("t1", _task(src, dst, from_indices="myindex1"))
    assert not os.path.exists(os.path.join(eng.state_root, "task-t1.json"))
    monkeypatch.undo()
    # retry succeeds cleanly (no 'already exists', no inherited state)
    state = eng.add_task("t1", _task(src, dst, from_indices="myindex1"))
    assert state.data["completed"] == {}


def test_orphan_state_file_not_inherited_by_fresh_admission(
    spark, tmp_path, store_factory
):
    """A task-<id>.json left by a crashed process must not feed its
    completed-ids into a NEW task's resume anti-join."""
    src = store_factory("src", {"myindex1": docs_f1(5)})
    dst = store_factory("dst")
    eng = Engine(spark, str(tmp_path / "state"))
    # forge an orphan: completed entry for the subtask the new task plans
    orphan = TaskState(eng.state_root, "t1")
    orphan.data["completed"] = {"bogus-old-subtask": 5}
    orphan.save()
    state = eng.add_task("t1", _task(src, dst, from_indices="myindex1"))
    assert state.data["completed"] == {}
    assert state.data["backlog"]  # work planned, not skipped
    status = eng.run_task("t1")
    assert status["completed"] == 5
    assert dst.count(spark, "myindex1") == 5


# ------------------------------------------------- admission surface check


def test_destination_only_store_rejected_as_source(
    spark, tmp_path, store_factory, monkeypatch
):
    from chillastic_spark.sources.delta import DeltaStore

    monkeypatch.setattr(DeltaStore, "reachable", lambda self: True)
    dst = store_factory("dst")
    eng = Engine(spark, str(tmp_path / "state"))
    task = Task(
        source="delta:some_table",
        destination=dst.root,
        transfer=TransferSpec(from_indices="*"),
    )
    with pytest.raises(TaskError, match="destination-only"):
        eng.add_task("t1", task)


# ---------------------------------------------------- status semantics


def test_percent_complete_caps_below_100_with_pending_zero_count_work(tmp_path):
    state = TaskState(str(tmp_path), "t1")
    state.data["total"] = 10
    state.data["completed"] = {"docs-sub": 10}
    state.data["backlog"] = [["index-sub", 0]]  # zero-count index subtask
    assert state.status()["percentComplete"] < 100.0
    state.data["backlog"] = []
    assert state.status()["percentComplete"] == 100.0


def test_remove_unknown_task_is_client_error(spark, tmp_path):
    eng = Engine(spark, str(tmp_path / "state"))
    with pytest.raises(TaskError, match="unknown task"):
        eng.remove_task("nope")
    # and no lock-file litter for the typo'd id
    assert not os.path.exists(os.path.join(eng.state_root, "task-nope.json.lock"))


# ------------------------------------------------ registry load resilience


def test_bad_persisted_registry_entry_does_not_wedge_load(tmp_path):
    reg_dir = str(tmp_path / "registry")
    m = Mutators(reg_dir)
    m.add("good", "TYPE='data'\ndef predicate(d,a):\n    return True\n"
                  "def mutate(d,a):\n    return d\n")
    # corrupt one persisted source in place
    path = os.path.join(reg_dir, "mutators.json")
    with open(path) as f:
        data = json.load(f)
    data["global/broken"] = "def ("  # does not compile
    with open(path, "w") as f:
        json.dump(data, f)

    m2 = Mutators(reg_dir)  # must not raise
    assert m2.exists("good")
    assert not m2.exists("broken")
    assert "global/broken" in m2.load_errors
    # the broken entry is still removable, and removal persists
    m2.remove("broken")
    m3 = Mutators(reg_dir)
    assert not m3.load_errors


# --------------------------------------------- parse-time ref validation


def test_action_ref_object_without_id_is_a_400(spark, tmp_path, store_factory):
    """A dict mutator ref missing 'id' must be a ValueError (→ API 400),
    not a KeyError 500 — consistent with the string-spec path."""
    from chillastic_spark.model import ActionRef

    with pytest.raises(ValueError, match="must carry an 'id'"):
        ActionRef.parse({"namespace": "ns"})
    with pytest.raises(ValueError, match="string or object"):
        ActionRef.parse(42)

    src = store_factory("src", {"myindex1": docs_f1(2)})
    dst = store_factory("dst")
    eng = Engine(spark, str(tmp_path / "state"))
    app = create_app(eng)
    app.config["TESTING"] = True
    r = app.test_client().post(
        "/tasks/t1",
        json={
            "source": src.root,
            "destination": dst.root,
            "transfer": {"documents": {"fromIndices": "myindex*"}},
            "mutators": [{"namespace": "ns"}],
        },
    )
    assert r.status_code == 400


# --------------------------------------------- session-conf hygiene


def test_micros_events_load_does_not_set_global_nanos_flag(spark):
    """tables.load('events') must only set the session-global
    nanosAsLong legacy flag when the footer actually carries
    TIMESTAMP(NANOS) — for micros-era data the session stays untouched
    (the flag silently turns every later nanos parquet read into
    bigint)."""
    import os

    from chillastic_spark.tables import _events_ts_is_nanos, load

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR_SMALL", "/root/testdata/sf0.001")
    key = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.unset(key)
    df = load(spark, sf_dir, "events")
    assert dict(df.dtypes)["ts"].startswith("timestamp")
    is_nanos = _events_ts_is_nanos(os.path.join(sf_dir, "events.parquet"))
    assert (spark.conf.get(key, None) == "true") == is_nanos
