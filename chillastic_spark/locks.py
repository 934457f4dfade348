"""Cross-process file locks, and the ONE swap protocol every on-disk
artifact uses: the parquet document store, the inverted index and the
vector index.

The reference coordinates N worker processes through Redis atomics
(subtasks.js:45-69 rpush/hset; worker.js:61-123). This repo's parquet
store, materialized indexes and JSON task state have no transaction
log, so the same guarantees come from ``fcntl.flock`` plus a directory
rename:

* :class:`FileLock` — a second PROCESS touching the same task state
  fails fast (or blocks, for index mutations) instead of corrupting
  the backlog or losing a directory swap.
* :func:`writer_window` — EXCLUSIVE flock on an artifact's
  ``.swap.lock`` (:func:`swap_lock`), re-entrant per thread, healing
  crash leftovers on entry.
* :func:`reader_window` — the SHARED side of the same lock around a
  reader's existence checks + file listing, so a read never lands
  between a swap's renames. It is skipped when the calling thread
  already holds the writer; leftovers of a crashed swap seen under it
  are healed under the exclusive lock, then the read retries.
* :func:`swap_dir` — the one install primitive:
  ``rename(live→.old-)``, ``rename(staged→live)``, ``rmtree(.old-)``
  under the writer window. :func:`heal_swap` heals its crash window
  BACK to the ``.old-`` copy when the live dir is missing, so a crash
  halfway through any swap heals to the pre-swap state. (The inverted
  index changes three artifacts together, so it journals the swap and
  rolls FORWARD; each of its dirs still goes in through
  :func:`swap_dir`.)
* :func:`write_json` — the one atomic JSON write.

flock is advisory and per-open-file-description: every acquisition
opens its own fd, so two threads in one process contend exactly like
two processes do. Locks die with the process — a crashed worker never
wedges the task (the Redis-TTL analog for free). Caveat: flock over
NFS is historically unreliable; on a real cluster deployment the state
layer should be a database/Delta log, not a shared filesystem.
"""
from __future__ import annotations

import errno
import fcntl
import json
import os
import shutil
import threading
import uuid
from contextlib import contextmanager
from typing import Any, Callable, Optional

# the inverted index's swap journal (sources/search_index.py): present
# from before its first rename until after its last write
SWAP_JOURNAL = "swap-journal.json"


class LockHeld(RuntimeError):
    """The lock is held by another process (or another fd)."""


# Per-thread registry of exclusively-held lock paths. flock treats two
# fds of one process as INDEPENDENT holders, so a thread that holds
# LOCK_EX and then requests LOCK_SH on a fresh fd of the same file
# would block on itself forever. The reader and writer windows consult
# this to step aside when the calling thread already holds the writer.
_HELD_EX = threading.local()


def _held_map() -> dict:
    m = getattr(_HELD_EX, "m", None)
    if m is None:
        m = _HELD_EX.m = {}
    return m


def held_exclusive(path: str) -> bool:
    """True when THIS thread currently holds an exclusive FileLock on
    ``path`` (at any re-entrancy depth)."""
    return _held_map().get(os.path.abspath(path), 0) > 0


class FileLock:
    """An advisory lock on ``path`` (created if absent) — exclusive by
    default, shared with ``shared=True``.

    Use as a context manager (blocking) or call :meth:`acquire`
    with ``blocking=False`` to fail fast with :class:`LockHeld`.

    ``shared=True`` takes ``LOCK_SH``: any number of readers hold it
    together, and all of them block a ``LOCK_EX`` writer (and vice
    versa). :func:`reader_window` rides this — a read's existence
    checks + file listing must not interleave with a live swap's
    renames (r9 verdict #4).

    Thread semantics match process semantics: re-entrancy is granted
    only to the thread currently holding the lock through this object;
    any OTHER thread's acquisition opens a fresh fd, whose flock
    contends with the holder's fd exactly as a second process would
    (flock is per-open-file-description, including within one
    process). Holder bookkeeping (``_fd``/``_depth``/``_owner``) is
    guarded by an internal mutex, so concurrent acquire/release on one
    shared FileLock cannot corrupt the depth count."""

    def __init__(self, path: str, shared: bool = False):
        self.path = path
        self.shared = shared
        self._fd: Optional[int] = None
        self._depth = 0
        self._owner: Optional[int] = None
        self._guard = threading.Lock()

    def acquire(self, blocking: bool = True) -> "FileLock":
        me = threading.get_ident()
        with self._guard:
            if self._fd is not None and self._owner == me:
                self._depth += 1  # re-entrant within the holder thread
                if not self.shared:
                    ap = os.path.abspath(self.path)
                    _held_map()[ap] = _held_map().get(ap, 0) + 1
                return self
        os.makedirs(os.path.dirname(self.path) or ".", exist_ok=True)
        while True:
            fd = os.open(self.path, os.O_CREAT | os.O_RDWR, 0o644)
            try:
                # blocks (or EWOULDBLOCKs) against the current holder
                # even when that holder is another thread of this
                # process — distinct fds are distinct open file
                # descriptions
                fcntl.flock(
                    fd,
                    (fcntl.LOCK_SH if self.shared else fcntl.LOCK_EX)
                    | (0 if blocking else fcntl.LOCK_NB),
                )
            except OSError as e:
                os.close(fd)
                if e.errno in (errno.EAGAIN, errno.EACCES):
                    raise LockHeld(
                        f"{self.path} is locked by another process"
                    ) from e
                raise
            # revalidate the inode: a holder may UNLINK the lock file on
            # teardown (remove_task cleans task-<id>.json.lock). Without
            # this check a waiter that opened the pre-unlink inode
            # acquires a GHOST lock that no new opener contends with —
            # two processes would both believe they hold the lock.
            try:
                st_path = os.stat(self.path)
                st_fd = os.fstat(fd)
                if (st_path.st_ino, st_path.st_dev) == (
                    st_fd.st_ino, st_fd.st_dev,
                ):
                    break
            except FileNotFoundError:
                pass  # unlinked under us: retry on the fresh path
            fcntl.flock(fd, fcntl.LOCK_UN)
            os.close(fd)
        with self._guard:
            self._fd = fd
            self._depth = 1
            self._owner = me
        if not self.shared:
            ap = os.path.abspath(self.path)
            _held_map()[ap] = _held_map().get(ap, 0) + 1
        return self

    def release(self) -> None:
        with self._guard:
            if self._fd is None:
                return
            if self._owner != threading.get_ident():
                raise RuntimeError(
                    f"{self.path}: release() from a thread that does not "
                    "hold the lock"
                )
            self._depth -= 1
            if not self.shared:
                ap = os.path.abspath(self.path)
                n = _held_map().get(ap, 0) - 1
                if n > 0:
                    _held_map()[ap] = n
                else:
                    _held_map().pop(ap, None)
            if self._depth > 0:
                return  # an outer holder still owns the lock
            fcntl.flock(self._fd, fcntl.LOCK_UN)
            os.close(self._fd)
            self._fd = None
            self._owner = None

    def __enter__(self) -> "FileLock":
        return self.acquire()

    def __exit__(self, *exc) -> None:
        self.release()


def test_pause(point: str, marker_dir: str) -> None:
    """Crash-injection hook for the multiprocess torture tests
    (tests/test_index_writer_race.py): when CHILLASTIC_TEST_PAUSE
    names this ``point``, drop a marker file and sleep so the test can
    SIGKILL the process INSIDE the named crash window (e.g. between
    the two renames of an index swap) while the writer flock is held.
    Inert in production — the env var is never set there, and the
    fast path is one dict lookup."""
    import time

    if os.environ.get("CHILLASTIC_TEST_PAUSE") != point:
        return
    open(os.path.join(marker_dir, f".paused-{point}"), "w").close()
    time.sleep(600)


def swap_lock(path: str, inside: bool = False) -> str:
    """The ``.swap.lock`` guarding an artifact's live dirs: beside a
    document-store index dir (``<index>.swap.lock``), or ``inside`` a
    materialized index dir (``<dir>/.swap.lock``)."""
    return os.path.join(path, ".swap.lock") if inside else path + ".swap.lock"


@contextmanager
def writer_window(lock_path: str, heal: Optional[Callable[[], None]] = None):
    """EXCLUSIVE flock on ``lock_path``; ``heal`` runs first, so the
    holder never builds on a crashed swap's leftovers. Re-entrant per
    thread through :func:`held_exclusive` (the outer holder already
    healed)."""
    if held_exclusive(lock_path):
        yield
        return
    with FileLock(lock_path):
        if heal is not None:
            heal()
        yield


@contextmanager
def reader_window(
    lock_path: str, crashed: Callable[[], bool], heal: Callable[[], None]
):
    """SHARED flock on ``lock_path`` around a read's existence checks
    and file listing. Every live swap holds the exclusive side from
    before its first rename until after its last, so ``crashed()``
    seen true under the shared side can only be a CRASH leftover: the
    window releases, runs ``heal`` under :func:`writer_window`, and
    retries. Skipped when this thread already holds the writer — flock
    treats two fds of one process as independent holders, so taking
    the shared side would block on ourselves forever."""
    if held_exclusive(lock_path):
        yield
        return
    for _ in range(4):
        with FileLock(lock_path, shared=True):
            if not crashed():
                yield
                return
        with writer_window(lock_path, heal):
            pass
    raise RuntimeError(
        f"{lock_path}: swap leftovers persist after repeated healing — "
        "the artifact needs manual inspection"
    )


def swap_dir(
    lock_path: str, target: str, staged: Optional[str], pause: Optional[str] = None
) -> None:
    """Install ``staged`` as ``target``: ``rename(target→.old-)``,
    ``rename(staged→target)``, ``rmtree(.old-)``, all in
    :func:`writer_window` — one flock, two renames, no listing. Either
    dir may be absent: an absent ``target`` is a first write, an absent
    (or None) ``staged`` deletes ``target`` (absent == empty). A crash
    between the renames leaves the only copy in ``.old-``;
    :func:`heal_swap` restores it. ``pause`` names the crash-injection
    point (:func:`test_pause`) between the renames."""
    old = target + ".old-" + uuid.uuid4().hex[:8]
    with writer_window(lock_path):
        if os.path.exists(target):
            os.rename(target, old)
        if pause:
            test_pause(pause, os.path.dirname(lock_path))
        if staged is not None and os.path.isdir(staged):
            os.rename(staged, target)
        if os.path.exists(old):
            shutil.rmtree(old)


def heal_swap(path: str) -> None:
    """Heal :func:`swap_dir`'s crash window for one dir. ``.old-``
    siblings exist only because a swap died inside the window, and the
    live dir tells us WHERE it died:

    * live path missing → between the two renames: the NEWEST
      ``.old-`` (by mtime — the suffixes are random hex, not ordered)
      holds the pre-swap data; restore it. Older leftovers are from
      earlier crashes and are superseded — remove them so a later
      crash can never resurrect a stale snapshot.
    * live path present → after the install, before ``rmtree(old)``:
      every ``.old-`` is a superseded snapshot; remove them all.

    The interrupted writer's staged dir is left alone (never installed;
    rerunning the mutation redoes it). Caller holds the writer window."""
    base = os.path.basename(path)
    parent = os.path.dirname(path) or "."
    if not os.path.isdir(parent):
        return
    olds = [
        os.path.join(parent, d)
        for d in os.listdir(parent)
        if d.startswith(base + ".old-")
    ]
    if not olds:
        return
    olds.sort(key=lambda p: os.path.getmtime(p))
    if not os.path.exists(path):
        os.rename(olds.pop(), path)
    for stale in olds:
        shutil.rmtree(stale)


def swap_leftovers(parent: str) -> list:
    """Live paths of the dirs in ``parent`` that a crashed
    :func:`swap_dir` left ``.old-`` copies of."""
    if not os.path.isdir(parent):
        return []
    return sorted({
        os.path.join(parent, d.split(".old-", 1)[0])
        for d in os.listdir(parent)
        if ".old-" in d
    })


def heal_swaps(parent: str) -> None:
    """:func:`heal_swap` every dir in ``parent`` with leftovers — keyed
    off the ``.old-`` entries, because a dir whose live copy vanished
    mid-swap is otherwise invisible to a listing."""
    for path in swap_leftovers(parent):
        heal_swap(path)


def swap_pending(index_dir: str) -> bool:
    """True when a crashed swap awaits healing in a materialized index
    dir: a ``.old-`` leftover, or the inverted index's journal. The
    next reader or writer heals it."""
    return bool(swap_leftovers(index_dir)) or os.path.exists(
        os.path.join(index_dir, SWAP_JOURNAL)
    )


def write_json(path: str, obj: Any, **dump_kw: Any) -> None:
    """The one atomic JSON write: dump into a uniquely named sibling,
    then ``os.replace`` it over ``path``. A crash mid-dump never
    truncates ``path``, and concurrent writers never share a tmp file.
    ``dump_kw`` carries each file's own formatting (``indent``...)."""
    tmp = f"{path}.{uuid.uuid4().hex[:8]}.tmp"
    try:
        with open(tmp, "w") as f:
            json.dump(obj, f, **dump_kw)
        os.replace(tmp, path)
    except BaseException:
        if os.path.exists(tmp):
            os.remove(tmp)
        raise
