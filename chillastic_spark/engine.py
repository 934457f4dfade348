"""Engine facade: task admission, backlog planning, execution, status.

The Spark-native control plane replacing the reference's
worker/manager/Redis machinery (SURVEY §2.11, §3): Spark supplies
dispatch/retry/heartbeat; what remains is planning (build_backlog),
per-subtask pipelines (Transfer), checkpointed state (TaskState JSON —
the Redis analog; at deployment scale this would be a Delta table), and
a status API.
"""
from __future__ import annotations

import datetime as _dt
import functools
import json
import os
import threading
import traceback
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from chillastic_spark.locks import FileLock, LockHeld, write_json
from chillastic_spark.model import (
    ActionRef, Progress, SliceGroup, Subtask, Task, validate_object_id,
)
from chillastic_spark.operators.mutate import apply_data_mutators, mutate_objects
from chillastic_spark.plans import Bound, DataFrameSizeStats, plan_bounds
from chillastic_spark.registry import Filters, Mutators
from chillastic_spark.sinks import upsert
from chillastic_spark.sources import DocumentStore, open_store


class TaskError(RuntimeError):
    pass


class TaskState:
    """Per-task checkpoint state (the Redis backlog/completed/progress/
    error structures, subtasks.js:27-97, tasks.js:114-158) as an
    atomically-rewritten JSON file."""

    def __init__(self, state_root: str, task_id: str):
        os.makedirs(state_root, exist_ok=True)
        self.path = os.path.join(state_root, f"task-{task_id}.json")
        self.task_id = task_id
        self._lock = FileLock(self.path + ".lock")
        self._writer_held = False
        self.data = {
            "task": None,
            "backlog": [],  # FIFO of [subtask_id, count]
            "completed": {},  # subtask_id -> count
            "progress": {},  # subtask_id -> Progress dict
            "errors": [],  # [{ts, subtask_id, message}]
            "total": 0,
        }
        self._seen_on_disk = os.path.exists(self.path)
        if self._seen_on_disk:
            with open(self.path) as f:
                self.data = json.load(f)
            self._canonicalize_ids()

    def _canonicalize_ids(self) -> None:
        """Normalize subtask ids persisted before the int/float
        canonicalization (model/__init__.py subtask_id): a legacy state
        file keys completed/progress on `-1.0` renderings while fresh
        producers emit `-1`, so the resume anti-join would miss and
        re-enqueue already-completed subtasks. One rewrite on read
        makes old and new state formats interchangeable."""

        def canon(sid: str) -> str:
            try:
                return Subtask.from_id(sid).subtask_id()
            except Exception:
                return sid  # unknown shape: keep verbatim

        self.data["backlog"] = [[canon(s), c] for s, c in self.data["backlog"]]
        self.data["completed"] = {
            canon(s): c for s, c in self.data["completed"].items()
        }
        self.data["progress"] = {
            canon(s): p for s, p in self.data["progress"].items()
        }

    def save(self) -> None:
        write_json(self.path, self.data, indent=1)
        self._seen_on_disk = True

    def reset_orphan(self) -> None:
        """Discard an unowned checkpoint (file + the in-memory copy
        __init__ may have loaded from it). Caller MUST hold the writer
        flock — holding it proves no live planner owns the file, so the
        state is an orphan from a crashed planning attempt; a fresh
        admission must not inherit its completed-ids (the resume
        anti-join would silently skip work the new task never did)."""
        if not self._writer_held:
            raise TaskError("reset_orphan requires the writer lock")
        if os.path.exists(self.path):
            os.remove(self.path)
        self.data = {
            "task": None,
            "backlog": [],
            "completed": {},
            "progress": {},
            "errors": [],
            "total": 0,
        }
        self._seen_on_disk = False

    def reload(self) -> None:
        if os.path.exists(self.path):
            with open(self.path) as f:
                self.data = json.load(f)
            self._canonicalize_ids()
            self._seen_on_disk = True
        elif self._seen_on_disk:
            # the file existed for THIS holder and is now gone:
            # remove_task deleted it mid-run. Silently keeping the
            # stale in-memory copy would let the next save() resurrect
            # the deleted task as an orphan — abort the run instead.
            raise TaskError(
                f"task {self.task_id} state was removed by another process"
            )

    # -- cross-process coordination (the Redis-atomics analog,
    # subtasks.js:45-69; see locks.py). Two modes, mirroring the
    # reference's deployment shapes:
    #   * EXCLUSIVE (acquire_writer): one process owns the whole run —
    #     build_backlog and default run_task. A second process fails
    #     fast instead of racing.
    #   * SHARED: every mutating op below is an atomic
    #     lock→reload→mutate→save round, so N worker PROCESSES can
    #     cooperatively drain one backlog (worker.js:61-123: N workers
    #     popping one Redis queue) — run_task(shared=True).
    # Status readers never lock.
    def acquire_writer(self, blocking: bool = False) -> "TaskState":
        try:
            self._lock.acquire(blocking=blocking)
        except LockHeld as e:
            raise TaskError(
                f"task {self.task_id} state is being written by another process"
            ) from e
        # another process may have advanced the state while we waited —
        # and may have REMOVED it: reload() then raises, and the flock
        # must not leak with it (a leaked fd wedges this task id in this
        # process forever — every later acquisition contends with it)
        try:
            self.reload()
        except BaseException:
            self._lock.release()
            raise
        self._writer_held = True
        return self

    def release_writer(self) -> None:
        self._writer_held = False
        self._lock.release()

    def __enter__(self) -> "TaskState":
        return self.acquire_writer()

    def __exit__(self, *exc) -> None:
        self.release_writer()

    def _atomic(self, fn):
        """Run one read-modify-write against the LATEST on-disk state.

        Under an EXCLUSIVE writer (acquire_writer) the flock is already
        held for the whole run and the in-memory copy is authoritative,
        so ops run directly — crucially WITHOUT touching the flock:
        FileLock re-entrancy is per holder THREAD, and Engine.run_task
        worker threads (which serialize on the engine's own mutex)
        would otherwise flock-block against the main thread's writer
        forever. In SHARED mode each op is its own
        lock→reload→mutate→save round, syncing with whatever other
        processes (or threads, via fresh fds) saved."""
        if self._writer_held:
            return fn()
        self._lock.acquire(blocking=True)
        try:
            self.reload()
            return fn()
        finally:
            self._lock.release()

    # -- queue ops (FIFO + dedup, subtasks.js:45-69) ---------------------
    def enqueue(
        self, subtask: Subtask, save: bool = True, seen: "set | None" = None
    ) -> bool:
        """FIFO append with duplicate guard. ``save=False`` defers the
        state write (build_backlog batches thousands of enqueues into
        one save — per-enqueue rewrites would be O(N²) driver I/O).
        ``seen`` lets a bulk caller supply the already-enqueued sid set
        so the guard is O(1) per enqueue instead of a linear backlog
        scan (O(N²) across a big build)."""
        sid = subtask.subtask_id()
        if seen is not None:
            if sid in seen or sid in self.data["completed"]:
                return False  # duplicate-enqueue guard (subtasks.js:51-67)
            seen.add(sid)
        elif any(sid == s for s, _ in self.data["backlog"]) or sid in self.data["completed"]:
            return False  # duplicate-enqueue guard (subtasks.js:51-67)
        self.data["backlog"].append([sid, subtask.count])
        self.data["total"] += subtask.count
        if save:
            self.save()
        return True

    def pop(
        self, with_progress: bool = False, max_members: Optional[int] = 1
    ) -> Optional[SliceGroup]:
        """FIFO pop of one slice group: the head subtask plus the
        backlog entries right behind it of the same (documents, index,
        type) — at most ``max_members`` in all (None: no cap). Index
        and template subtasks always pop alone. ``with_progress=True``
        writes every member's initial progress entry IN THE SAME atomic
        round: popped-but-untracked is a window where a subtask exists
        in NO persisted structure (backlog, progress, completed), so a
        concurrent build_backlog's in-flight guard passes and
        re-enqueues it — the slice then transfers twice. One round
        closes the window."""

        def _pop():
            backlog = self.data["backlog"]
            if not backlog:
                return None
            members = [Subtask.from_id(*backlog[0])]
            key = members[0].slice_key()
            while (
                key is not None
                and len(members) < len(backlog)
                and (max_members is None or len(members) < max_members)
            ):
                nxt = Subtask.from_id(*backlog[len(members)])
                if nxt.slice_key() != key:
                    break
                members.append(nxt)
            del backlog[: len(members)]
            if with_progress:
                for m in members:
                    self.data["progress"][m.subtask_id()] = vars(
                        Progress(tick=0, transferred=0, total=m.count).validate()
                    )
            self.save()
            return SliceGroup(tuple(members))

        return self._atomic(_pop)

    def complete(self, subtask: Subtask) -> None:
        def _complete():
            sid = subtask.subtask_id()
            self.data["progress"].pop(sid, None)
            self.data["completed"][sid] = subtask.count
            self.save()

        self._atomic(_complete)

    def completed_ids(self) -> set[str]:
        return set(self.data["completed"])

    def update_progress(self, subtask: Subtask, progress: Progress) -> None:
        def _update():
            self.data["progress"][subtask.subtask_id()] = vars(progress.validate())
            self.save()

        self._atomic(_update)

    def log_error(self, subtask: Optional[Subtask], message: str) -> None:
        self._atomic(lambda: self._log_error_unlocked(subtask, message))

    def _log_error_unlocked(self, subtask: Optional[Subtask], message: str) -> None:
        self.data["errors"].append(
            {
                "ts": _dt.datetime.now(_dt.timezone.utc).isoformat(),
                "subtask_id": subtask.subtask_id() if subtask else None,
                "message": message,
            }
        )
        self.save()

    def fail(self, subtask: Subtask, message: str) -> None:
        """A failed subtask is neither completed nor in progress — it
        reappears only on backlog rebuild (worker.js:108-111)."""

        def _fail():
            self.data["progress"].pop(subtask.subtask_id(), None)
            self._log_error_unlocked(subtask, message)

        self._atomic(_fail)

    # -- status (tasks.controller.js:14-27) ------------------------------
    def status(self) -> dict:
        total = self.data["total"]
        completed = sum(self.data["completed"].values())
        backlog = sum(c for _, c in self.data["backlog"])
        if total == 0:
            # zero-count work (index/template subtasks) still pending
            # must not read as done
            pct = 0.0 if (self.data["backlog"] or self.data["progress"]) else 100.0
        else:
            pct = round(completed / total * 100, 2)
            if pct >= 100.0 and (
                completed < total
                or self.data["backlog"]
                or self.data["progress"]
            ):
                # unfinished work must never READ as done: zero-count
                # subtasks (index/template) still pending/in-flight, or
                # a FAILED counted subtask whose tiny remainder rounds
                # 99.9999 up to 100.0 (fail() removes it from both
                # backlog and progress, so only completed < total
                # still betrays it)
                pct = 99.99
        return {
            "percentComplete": pct,
            "total": total,
            "completed": completed,
            "backlog": backlog,
            "inProgress": self.data["progress"],
            "errors": len(self.data["errors"]),
        }


class Transfer:
    """Per-task pipeline executor (app/services/transfer.js, Spark-first):
    scan → mutate → upsert for documents; catalog read → driver-side
    mutate → catalog write for index configs and templates."""

    # the tag upsert uses to tell a slice group's members apart
    ORDINAL = "__member"

    def __init__(
        self,
        spark: SparkSession,
        source: DocumentStore,
        dest: DocumentStore,
        mutators_by_type: Optional[dict] = None,
    ):
        self.spark = spark
        self.source = source
        self.dest = dest
        self.mutators_by_type = mutators_by_type or {}
        self.update_callback: Optional[Callable[[int, int], None]] = None
        # ES and Delta destinations deliver via _bulk doc_as_upsert /
        # Delta MERGE, one call per subtask at its planned flushSize;
        # parquet stores take the bucket-scoped MERGE, where flushSize
        # means nothing and one call can carry a whole slice group
        self.merges = not hasattr(dest, "deliver")

    def mutate(self, objs: list, type_: str) -> list:
        return mutate_objects(objs, self.mutators_by_type.get(type_))

    def _scan(self, subtask: Subtask) -> DataFrame:
        """One (index,type,[size-range)) slice with the data mutator
        chain applied (transfer.js:103-151 reshaped: the scroll loop IS
        the partitioned scan; retries are Spark task retries)."""
        read_kw = {}
        if hasattr(self.source, "deliver"):  # ES source pages at flushSize
            read_kw["flush_size"] = _flush_size(subtask)
        df = self.source.read(
            self.spark, subtask.index, subtask.type, subtask.min_size,
            subtask.max_size, **read_kw,
        )
        return apply_data_mutators(df, self.mutators_by_type.get("data"))

    def transfer_data(self, work: "Subtask | SliceGroup") -> list[int]:
        """Scan, mutate and deliver a subtask or a slice group; returns
        the rows delivered per member, in member order.

        A wire or Delta destination gets one ``deliver`` per member at
        the member's planned flushSize, which drives the bulk batch size
        exactly as in the reference (transfer.js:145, :159-167). A
        parquet destination gets ONE ``upsert`` for the whole group: the
        members' scans are tagged with their position and unioned, and
        the MERGE keeps the later member's row on a key two members
        share, so the rows match member-by-member delivery while the
        fixed cost of a MERGE (its Spark jobs and bucket rewrites) is
        paid once per slice instead of once per size range."""
        group = work if isinstance(work, SliceGroup) else SliceGroup((work,))
        if self.merges:
            tagged = [
                self._scan(sub).withColumn(self.ORDINAL, F.lit(i))
                for i, sub in enumerate(group)
            ]
            merged = upsert(
                self.spark, self.dest,
                functools.reduce(DataFrame.unionByName, tagged),
                ordinal=self.ORDINAL,
            )
            delivered = [merged.get(i, 0) for i in range(len(group))]
        else:
            delivered = [
                self.dest.deliver(
                    self.spark, self._scan(sub), flush_size=_flush_size(sub)
                )
                for sub in group
            ]
        if self.update_callback:
            for sub, n in zip(group, delivered):
                self.update_callback(n, sub.count)
        return delivered

    def transfer_indices(self, names: str) -> int:
        indices = self.source.get_indices(names)
        self.dest.put_indices(self.mutate(indices, "index"))
        return len(indices)

    def transfer_templates(self, names: str) -> int:
        templates = self.source.get_templates(names)
        self.dest.put_templates(self.mutate(templates, "template"))
        return len(templates)


class Engine:
    """Embedding API (index.js:7-41: Chillastic(...) → run/stop) —
    ``Engine(spark, state_root)`` with task CRUD, registries, execution.
    """

    def __init__(
        self, spark: SparkSession, state_root: str, plan_concurrency: int = 10
    ):
        self.spark = spark
        self.state_root = state_root
        # bounded planning parallelism (the reference planned its counts
        # at concurrency 10, app/services/subtasks.js:394): build_backlog
        # probes stats/histograms/counts per (index,type) slice, and at
        # thousands of slices a sequential loop serializes thousands of
        # tiny Spark jobs (or wire round-trips) on the driver
        self.plan_concurrency = max(1, int(plan_concurrency))
        os.makedirs(state_root, exist_ok=True)
        self.mutators = Mutators(os.path.join(state_root, "registry"))
        self.filters = Filters(os.path.join(state_root, "registry"))
        self._tasks: dict[str, Task] = {}
        # serializes task-dict mutation + tasks.json rewrite: Flask
        # serves threaded, and two concurrent admissions writing the
        # same tmp path (or iterating _tasks mid-insert) corrupt the
        # file / throw "dictionary changed size" — the registry's rule
        # (registry/__init__.py _mutex), applied to the task store
        self._mutex = threading.RLock()
        self._cmp_cache: dict[str, Callable] = {}
        self._running = True  # _start/_stop switch (manager.js:111-118)
        self._load_tasks()

    # ------------------------------------------------------------ tasks
    def _tasks_path(self) -> str:
        return os.path.join(self.state_root, "tasks.json")

    def _load_tasks(self) -> None:
        if os.path.exists(self._tasks_path()):
            with open(self._tasks_path()) as f:
                self._tasks = {k: _task_from_dict(v) for k, v in json.load(f).items()}
        self._persisted = set(self._tasks)

    def _save_tasks(self, removed: "frozenset[str] | set[str]" = frozenset()) -> None:
        """Merge-write tasks.json under a cross-process file lock.

        A blind whole-file rewrite from one API replica silently drops
        tasks admitted by another (each process's in-memory dict only
        knows its own admissions). Under the lock: read the disk copy,
        fold unknown disk entries INTO memory, honor other replicas'
        deletions (an id THIS engine previously persisted that is now
        gone from disk was removed elsewhere — keeping it would
        resurrect the deleted task), drop the explicit ``removed``
        ids, write via a unique tmp name. Callers hold self._mutex."""
        with FileLock(self._tasks_path() + ".lock"):
            on_disk = None
            if os.path.exists(self._tasks_path()):
                try:
                    with open(self._tasks_path()) as f:
                        on_disk = json.load(f)
                except json.JSONDecodeError:
                    on_disk = None  # corrupt file: memory is authoritative
            if on_disk is not None:
                for k in list(self._tasks):
                    if k in self._persisted and k not in on_disk and k not in removed:
                        self._tasks.pop(k)  # deleted by another replica
                        self._persisted.discard(k)
                for k, v in on_disk.items():
                    if k not in self._tasks and k not in removed:
                        self._tasks[k] = _task_from_dict(v)
            for k in removed:
                self._tasks.pop(k, None)
            write_json(
                self._tasks_path(),
                {k: _task_to_dict(t) for k, t in self._tasks.items()},
                indent=1,
            )
            self._persisted = set(self._tasks)

    def add_task(self, task_id: str, task: Task) -> TaskState:
        """Admission (tasks.js:72-82): id regex, duplicate check, store
        reachability + scan-surface check, mutator/filter existence —
        then plan the backlog.
        """
        validate_object_id(task_id, "task id")
        if task_id in self._tasks:
            raise TaskError(f"task {task_id} already exists")
        task.validate()
        # one store handle per side, reused for the reachability probe
        # AND the capability check (a third open happens at planning,
        # where the store may be constructed with create=True)
        src_store = open_store(task.source, create=False)
        dst_store = open_store(task.destination, create=False)
        for path, store in ((task.source, src_store), (task.destination, dst_store)):
            if not store.reachable():
                raise TaskError(f"store not reachable: {path}")
        # reachable() only proves the store EXISTS; planning needs the
        # scan surface. A destination-only adapter (delta:) admitted as
        # a source used to 500 with AttributeError deep in
        # build_backlog instead of a 400 here.
        t = task.transfer
        needed = []
        if t.index_names or t.from_indices:
            needed.append("get_indices")
        if t.template_names:
            needed.append("get_templates")
        if t.from_indices:
            needed += ["read", "read_sizes", "count", "types_of"]
        missing = [m for m in needed if not hasattr(src_store, m)]
        if missing:
            raise TaskError(
                f"store {task.source} cannot act as a source for this "
                f"transfer (missing {missing}) — delta: stores are "
                "destination-only"
            )
        try:
            self.mutators.ensure_exist(task.mutators)
            self.filters.ensure_exist(task.transfer.filters)
            self._index_comparator(task)  # bad comparator fails admission
        except Exception as e:  # admission surfaces one error kind (tasks.js:72-82)
            raise TaskError(str(e)) from e
        with self._mutex:
            if task_id in self._tasks:  # re-check under the lock (TOCTOU)
                raise TaskError(f"task {task_id} already exists")
            # cross-replica duplicate check: the in-memory dict only
            # knows THIS process's admissions + the last merge-fold; a
            # sibling replica may have admitted and persisted this id
            # since — the disk table is the cross-process truth
            if task_id in self._disk_task_ids():
                raise TaskError(f"task {task_id} already exists")
            # reserve the state writer flock for the WHOLE admission
            # (probe non-blocking): a sibling replica mid-planning the
            # same id holds this lock, so we fail fast instead of both
            # planning — and instead of deleting its in-flight
            # task-<id>.json as an "orphan" while it is still writing
            state = TaskState(self.state_root, task_id)
            try:
                state.acquire_writer()
            except TaskError:
                raise TaskError(
                    f"task {task_id} already exists (admission in flight "
                    "in another process)"
                ) from None
            try:
                # re-check the disk table now that the flock is HELD: a
                # sibling that finished its whole admission between our
                # pre-flock probe and this acquire persisted the id
                # before releasing — without the re-check we would
                # reset_orphan its freshly planned state file
                if task_id in self._disk_task_ids():
                    raise TaskError(f"task {task_id} already exists")
                # holding the flock proves any existing state file is a
                # true orphan from a crashed planning attempt — discard
                state.reset_orphan()
                self._tasks[task_id] = task
            except BaseException:
                state.release_writer()
                raise
        # plan BEFORE persisting: a transient build_backlog failure
        # (source 500 during index listing) must not leave a
        # half-admitted task that 'already exists' on retry yet was
        # never planned
        try:
            state = self._build_backlog_locked(task, state)
        except Exception:
            try:
                with self._mutex:
                    self._tasks.pop(task_id, None)
                    # persist the removal, not just the in-memory pop: a
                    # CONCURRENT admission's _save_tasks may have written
                    # this still-planning task to tasks.json, and the next
                    # merge-fold (or a restart) would resurrect the
                    # never-planned task — its id then reports 'already
                    # exists' forever with no backlog behind it
                    if task_id in self._persisted or task_id in self._disk_task_ids():
                        try:
                            self._save_tasks(removed={task_id})
                        except OSError:
                            pass  # cleanup is best-effort; admission re-raises
                    self._persisted.discard(task_id)
                    # the failed planning attempt may have created/updated
                    # the state file; a later re-admission must start clean
                    try:
                        if os.path.exists(state.path):
                            os.remove(state.path)
                    except OSError:
                        pass
            finally:
                # ALWAYS drop the reservation — a cleanup failure that
                # leaked the flock would make this id 'admission in
                # flight' for the whole process lifetime
                state.release_writer()
            raise
        # persist BEFORE releasing the reservation: the moment the flock
        # is free a sibling's admission probe can run, and it must find
        # the id already in tasks.json — releasing first opens a window
        # where the sibling would reset_orphan the freshly planned state
        try:
            with self._mutex:
                self._save_tasks()
        finally:
            state.release_writer()
        return state

    def _disk_task_ids(self) -> set:
        if not os.path.exists(self._tasks_path()):
            return set()
        try:
            with open(self._tasks_path()) as f:
                return set(json.load(f))
        except json.JSONDecodeError:
            return set()

    def _fold_disk_tasks(self) -> None:
        """Fold tasks admitted by OTHER replicas into this process's
        dict (the read-side half of _save_tasks' merge-fold): without
        it, GET /tasks/<id> and shared-mode _run on replica B return
        'unknown task' for anything admitted on replica A after B's
        startup load — breaking the documented multi-replica drain."""
        if not os.path.exists(self._tasks_path()):
            return
        try:
            with open(self._tasks_path()) as f:
                on_disk = json.load(f)
        except (json.JSONDecodeError, OSError):
            return
        with self._mutex:
            for k, v in on_disk.items():
                if k not in self._tasks:
                    try:
                        self._tasks[k] = _task_from_dict(v)
                    except Exception:  # noqa: BLE001 — a malformed disk
                        continue       # entry must not break listings
                    self._persisted.add(k)

    def get_task(self, task_id: str) -> Task:
        if task_id not in self._tasks:
            self._fold_disk_tasks()  # admitted on another replica?
        if task_id not in self._tasks:
            raise TaskError(f"unknown task {task_id}")
        return self._tasks[task_id]

    def list_tasks(self) -> list[str]:
        self._fold_disk_tasks()
        return sorted(self._tasks)

    def remove_task(self, task_id: str) -> None:
        """tasks.js:89-97: drop state + the task's registry namespace.

        Takes the state writer lock first: removing while a run_task is
        draining would otherwise race — the runner's next state.save()
        resurrects the deleted task-<id>.json as an orphan. Fails fast
        with TaskError when the task is mid-run."""
        # unknown id is a client error (400), like every other task op
        # — returning 200 {deleted} for a typo'd id also littered a
        # permanent task-<id>.json.lock file per call
        if task_id not in self._tasks and task_id not in self._disk_task_ids():
            raise TaskError(f"unknown task {task_id}")
        state = TaskState(self.state_root, task_id).acquire_writer()
        try:
            with self._mutex:
                # removed= survives the merge-save: a plain pop would be
                # resurrected from another replica's disk entry
                self._save_tasks(removed={task_id})
            if os.path.exists(state.path):
                os.remove(state.path)
            # drop the lock file too: every admit-then-remove otherwise
            # litters one permanent .lock in state_root — unbounded
            # growth over a long-lived deployment. Safe while the flock
            # is held: FileLock.acquire revalidates the inode after
            # acquisition, so a waiter on the unlinked inode retries on
            # the fresh path instead of holding a ghost lock.
            try:
                os.remove(state.path + ".lock")
            except OSError:
                pass
        finally:
            state.release_writer()
        self.mutators.remove_namespace(task_id)
        self.filters.remove_namespace(task_id)

    def start(self) -> None:
        self._running = True

    def stop(self) -> None:
        self._running = False

    # --------------------------------------------------------- planning
    def build_backlog(self, task_id: str, force: bool = False) -> TaskState:
        """subtasks.js:369-396: generate index + template + document
        subtasks, subtract completed, count, enqueue FIFO.

        Refuses while subtasks are in flight: in SHARED mode the flock
        is free between worker ops, so a rebuild here would clear LIVE
        progress entries and re-enqueue work another process is mid-way
        through delivering (a duplicate full transfer). ``force=True``
        overrides after a crashed run left stale progress behind."""
        task = self.get_task(task_id)
        state = TaskState(self.state_root, task_id).acquire_writer()
        try:
            return self._build_backlog_locked(task, state, force)
        finally:
            state.release_writer()

    def _build_backlog_locked(
        self, task: Task, state: TaskState, force: bool = False
    ) -> TaskState:
        inflight = list(state.data["progress"])
        if inflight and not force:
            raise TaskError(
                f"task {state.task_id} has in-flight subtasks "
                f"{inflight[:3]}{'...' if len(inflight) > 3 else ''}; a "
                "shared-mode run may still be draining — rebuild with "
                "force=True only once the previous run is known dead"
            )
        # plan FIRST, clear after: persisting the cleared backlog before
        # the source listing/count calls meant a transient source
        # failure wiped the existing backlog on disk and left the task
        # reading as fully complete (total==completed, nothing queued)
        source = open_store(task.source)

        potential: list[Subtask] = []
        t = task.transfer
        if t.index_names:  # one subtask per matching index (subtasks.js:109-117)
            for cfg in source.get_indices(t.index_names):
                potential.append(Subtask(kind="index", names=cfg["name"]))
        if t.template_names:  # subtasks.js:126-134
            try:
                for tpl in source.get_templates(t.template_names):
                    potential.append(Subtask(kind="template", names=tpl["name"]))
            except Exception as e:
                state.log_error(None, f"template listing: {e}")
        if t.from_indices:
            potential.extend(self._document_subtasks(task, source))

        completed = state.completed_ids()  # resume anti-join (subtasks.js:385-392)
        pending = [s for s in potential if s.subtask_id() not in completed]

        def _count(sub: Subtask) -> Subtask:
            if sub.kind != "documents":
                return sub
            count = source.count(
                self.spark, sub.index, sub.type, sub.min_size, sub.max_size
            )
            return Subtask(**{**vars(sub), "count": count})

        # bounded-parallel count probes (subtasks.js:394 ran these at
        # concurrency 10): map preserves FIFO order, an exception in any
        # probe propagates and fails the build like the sequential loop
        counted = list(self._plan_pool_map(_count, pending))

        # planning succeeded — now swap in the fresh backlog atomically
        state.data["backlog"] = []
        state.data["progress"] = {}  # stale in-progress from a dead run
        state.data["total"] = sum(state.data["completed"].values())
        seen: set = set()
        for sub in counted:
            state.enqueue(sub, save=False, seen=seen)
        state.save()  # persist the rebuild even if nothing got enqueued
        return state

    def _plan_pool_map(self, fn, items: list) -> list:
        """Order-preserving bounded-parallel map for planning probes.
        Sequential for 0/1 items or concurrency 1 (no pool overhead,
        and tests can pin exact sequential behavior that way).

        Fail-FAST like the sequential loop: the first probe error
        cancels every not-yet-started future, so a source dying during
        a thousand-slice build surfaces after at most ``workers``
        in-flight probes finish — not after every queued probe has run
        to its wire timeout while the admission flock is held."""
        if len(items) <= 1 or self.plan_concurrency <= 1:
            return [fn(x) for x in items]
        from concurrent.futures import ThreadPoolExecutor

        workers = min(self.plan_concurrency, len(items))
        pool = ThreadPoolExecutor(max_workers=workers)
        try:
            futures = [pool.submit(fn, x) for x in items]
            return [f.result() for f in futures]
        finally:
            pool.shutdown(wait=True, cancel_futures=True)

    def _index_comparator(self, task: Task):
        """Compile the task's optional index-name comparator (O1,
        examples/comparators/indices.js: e.g. newest-dated index first).
        Registered-code sandbox rules apply (registry.compile_source)."""
        src = task.transfer.index_comparator
        if not src:
            return None
        # memoized on the source string: admission compiles for
        # validation and every backlog rebuild would otherwise re-parse
        # + re-exec the same sandboxed module
        if src in self._cmp_cache:
            return self._cmp_cache[src]
        from chillastic_spark.registry import compile_source

        cmp = compile_source(src).get("compare")
        if not callable(cmp):
            raise TaskError("index_comparator must define compare(a, b)")
        self._cmp_cache[src] = cmp
        return cmp

    def _document_subtasks(self, task: Task, source: DocumentStore) -> list[Subtask]:
        """Filter pruning + adaptive size bucketing per (index, type)
        (subtasks.js:144-361)."""
        loaded = self.filters.load_by_type(task.transfer.filters, task.arguments)

        def keep(entries, items):
            if not entries:
                return items
            return [
                x for x in items
                if any(f.predicate(x, f.arguments) for f in entries)
            ]

        out: list[Subtask] = []
        flush_override = task.transfer.flush_size
        cfgs = keep(loaded.get("index"), source.get_indices(task.transfer.from_indices))
        cmp = self._index_comparator(task)
        if cmp is not None:
            import functools

            cfgs.sort(key=functools.cmp_to_key(lambda a, b: cmp(a["name"], b["name"])))
        slices: list[tuple[dict, dict, int]] = []
        for cfg in cfgs:
            shards = int(
                ((cfg.get("settings") or {}).get("index") or {}).get("number_of_shards", 1)
            )
            for type_cfg in keep(loaded.get("type"), source.types_of(cfg)):
                slices.append((cfg, type_cfg, shards))

        def _plan_slice(item: tuple[dict, dict, int]) -> list[Bound]:
            cfg, type_cfg, shards = item
            if flush_override:
                return [Bound(-1, -1, flush_override)]
            # sizes-only planning read: the wire store scrolls
            # metadata-only (_source: false) so planning never
            # ships document bodies; parquet prunes to the one
            # column natively. Planning probes stats +
            # histograms (several actions); a wire source would
            # re-scroll the cluster per action, so pin the
            # one-column sample for the duration of the search
            stats_df = source.read_sizes(self.spark, cfg["name"], type_cfg["name"])
            if hasattr(source, "deliver"):
                stats_df = stats_df.persist()
            try:
                return plan_bounds(DataFrameSizeStats(stats_df, shards=shards))
            finally:
                if hasattr(source, "deliver"):
                    stats_df.unpersist()

        # bounded-parallel per-slice bounds search (subtasks.js:394):
        # slices are planned independently and results assembled in the
        # ORIGINAL slice order, so the FIFO backlog is byte-identical to
        # the sequential build regardless of probe completion order
        for (cfg, type_cfg, _), bounds in zip(
            slices, self._plan_pool_map(_plan_slice, slices)
        ):
            for b in bounds:
                out.append(
                    Subtask(
                        kind="documents",
                        index=cfg["name"],
                        type=type_cfg["name"],
                        min_size=b.min_size,
                        max_size=b.max_size,
                        flush_size=b.flush_size,
                    )
                )
        return out

    # -------------------------------------------------------- execution
    def run_task(
        self,
        task_id: str,
        max_subtasks: Optional[int] = None,
        parallelism: int = 1,
        shared: bool = False,
    ) -> dict:
        """Drain the backlog (worker.js:61-144 collapsed: Spark is the
        worker pool; each subtask is one distributed job). Errors are
        logged and the subtask is NOT re-queued (worker.js:108-111) —
        it reappears on the next build_backlog.

        Every pop takes a slice group (``TaskState.pop``). When the
        destination MERGEs (a parquet store), the group is the head
        subtask plus the other size ranges of its (index, type) queued
        right behind it, capped by what is left of ``max_subtasks``,
        and it is delivered in ONE ``upsert``; ES and Delta
        destinations pop one subtask at a time. A group whose delivery
        fails (its MERGE did not land) is retried member by member, so
        only a member that fails on its own is logged; once the MERGE
        has landed, a checkpoint error fails only the member it hit.

        ``parallelism`` > 1 submits that many subtasks as CONCURRENT
        Spark jobs from driver threads — the analog of the reference's
        N worker processes, useful when subtasks are small relative to
        cluster capacity. State mutations serialize on a lock.

        ``shared=True`` opts into MULTI-PROCESS draining (the
        reference's N-worker deployment, worker.js:61-123): instead of
        holding the exclusive writer lock for the whole run, every
        state op is an atomic lock→reload→mutate→save round, so any
        number of processes can pop the same backlog without double-
        processing a subtask. The index-dir flock in sinks serializes
        their writes to a shared destination index.

        CAVEAT: concurrent subtasks that write the SAME destination
        index serialize on the index lock — subtasks for different
        indices/types are the parallel case. On Delta (transactional
        MERGE) they could truly interleave. And when the destination
        MERGEs, the checkpoint granularity is the slice group: a crash
        between a group's MERGE and its ``complete`` calls leaves every
        member in progress, so the next rebuild re-delivers the whole
        slice — at most one slice per crash, and the MERGE is
        idempotent, so the rows come out the same.
        """
        task = self.get_task(task_id)
        state = TaskState(self.state_root, task_id)
        if not shared:
            # exclusive writer: a second process running the same task
            # fails fast instead of racing the backlog pops
            state.acquire_writer()
        try:
            # everything below the acquire runs inside the release guard:
            # a setup failure (deleted mutator, dead store) must not leak
            # the flock and wedge the task for the process lifetime
            source = open_store(task.source)
            dest = open_store(task.destination)
            mutators = self.mutators.load_by_type(task.mutators, task.arguments)
            transfer = Transfer(self.spark, source, dest, mutators)
        except Exception:
            if not shared:
                state.release_writer()
            raise
        lock = threading.Lock()
        done = [0]

        def deliver(group: SliceGroup) -> list:
            """Move a group's data; returns the rows delivered per
            member (None for index and template transfers)."""
            head = group.members[0]
            if head.kind == "documents":
                return transfer.transfer_data(group)
            if head.kind == "index":
                transfer.transfer_indices(head.names)
            elif head.kind == "template":
                transfer.transfer_templates(head.names)
            else:
                raise TaskError(f"unknown subtask kind {head.kind}")
            return [None]

        def settle(sub: Subtask, delivered: Optional[int]) -> None:
            """Checkpoint one delivered subtask; a state error fails it
            (and re-raises when the task's state is gone)."""
            with lock:
                try:
                    if delivered is not None:
                        state.update_progress(
                            sub,
                            Progress(tick=1, transferred=delivered, total=sub.count),
                        )
                    state.complete(sub)
                except Exception:
                    state.fail(sub, traceback.format_exc(limit=5))

        def run_alone(sub: Subtask) -> None:
            try:
                (delivered,) = deliver(SliceGroup((sub,)))
            except Exception:
                with lock:
                    state.fail(sub, traceback.format_exc(limit=5))
                return
            settle(sub, delivered)

        def run_one() -> bool:
            with lock:
                if not self._running:
                    return False
                left = None if max_subtasks is None else max_subtasks - done[0]
                if left is not None and left <= 0:
                    return False
                # pop + initial progress in ONE atomic round — a
                # separate update_progress left a window where the
                # subtask was in no persisted structure and a
                # concurrent rebuild re-enqueued it (duplicate slice)
                group = state.pop(
                    with_progress=True, max_members=left if transfer.merges else 1
                )
                if group is None:
                    return False
                done[0] += len(group)
            if len(group) == 1:
                run_alone(group.members[0])
                return True
            try:
                delivered = deliver(group)
            except Exception:
                # the group's MERGE did not land: retry member by
                # member, so only a member that fails on its own is
                # logged and left for the next rebuild (a stop skips
                # the retries and leaves every member for it)
                err = traceback.format_exc(limit=5)
                for sub in group:
                    if self._running:
                        run_alone(sub)
                    else:
                        with lock:
                            state.fail(sub, f"slice group failed; not retried (stopped)\n{err}")
                return True
            # the MERGE landed: from here a member fails only on its own
            # checkpoint, never by re-delivering
            for sub, n in zip(group, delivered):
                settle(sub, n)
            return True

        try:
            if parallelism <= 1:
                while run_one():
                    pass
            else:
                from concurrent.futures import ThreadPoolExecutor

                def drain():
                    while run_one():
                        pass

                with ThreadPoolExecutor(max_workers=parallelism) as pool:
                    futures = [pool.submit(drain) for _ in range(parallelism)]
                # surface drainer crashes: run_one catches per-subtask
                # transfer errors itself, so an exception escaping a
                # drain thread is a state-layer failure (save/pop) the
                # serial path would raise — swallowing it reports a
                # normal-looking status for work that never ran
                for f in futures:
                    f.result()
            if shared:
                state.reload()  # fold in what other workers finished
            return state.status()
        finally:
            if not shared:
                state.release_writer()

    def run_all(self) -> dict:
        """Round-robin across tasks, one subtask each per cycle
        (worker.js:43-51: drain taskIds, pop one from each) until all
        backlogs drain or stop() is called.

        With a SINGLE task there is nothing to be fair between, so the
        whole backlog drains in one run_task call — the per-cycle setup
        (open both stores, compile every mutator, writer flock) is paid
        once instead of once per subtask."""
        ids = self.list_tasks()
        if len(ids) == 1:
            if self._running and TaskState(self.state_root, ids[0]).data["backlog"]:
                self.run_task(ids[0])
            # a task admitted while the fast path drained is picked up
            # by the loop below on the re-listed id set
            ids = self.list_tasks()
            if len(ids) == 1:
                return self.status()
        progressed = True
        while progressed and self._running:
            progressed = False
            # re-list each cycle: a task admitted mid-drain joins the
            # rotation now, not on the next run_all invocation
            ids = self.list_tasks()
            for task_id in ids:
                before = TaskState(self.state_root, task_id).data["backlog"]
                if before:
                    try:
                        self.run_task(task_id, max_subtasks=1)
                    except TaskError:
                        # contended (another process's writer flock) or
                        # removed mid-rotation: SKIP this task this
                        # cycle instead of aborting the whole rotation —
                        # the other backlogs still deserve their turn
                        continue
                    progressed = True
        return self.status()

    def get_task_status(self, task_id: str) -> dict:
        self.get_task(task_id)
        return TaskState(self.state_root, task_id).status()

    def get_task_errors(self, task_id: str) -> list[dict]:
        self.get_task(task_id)
        return TaskState(self.state_root, task_id).data["errors"]

    def status(self) -> dict:
        """GET / (root.controller.js:9-20)."""
        tasks = {}
        for t in self.list_tasks():
            try:
                tasks[t] = self.get_task_status(t)
            except TaskError:
                pass  # removed between the listing and the status read
        return {
            "manager": "running" if self._running else "stopped",
            "tasks": tasks,
        }


def _flush_size(subtask: Subtask) -> int:
    return subtask.flush_size if (subtask.flush_size or 0) > 0 else 100


def _task_to_dict(task: Task) -> dict:
    from dataclasses import asdict

    return asdict(task)


def _task_from_dict(d: dict) -> Task:
    from chillastic_spark.model import TransferSpec

    t = d["transfer"]
    return Task(
        source=d["source"],
        destination=d["destination"],
        transfer=TransferSpec(
            index_names=t.get("index_names"),
            template_names=t.get("template_names"),
            from_indices=t.get("from_indices"),
            filters=[ActionRef(**f) for f in t.get("filters", [])],
            flush_size=t.get("flush_size"),
            # without this, a restarted Engine silently loses the
            # task's index ordering (and its admission-time validation)
            index_comparator=t.get("index_comparator"),
        ),
        mutators=[ActionRef(**m) for m in d.get("mutators", [])],
        arguments=d.get("arguments"),
    )
