"""Cross-process file locks for the parquet state/store layer.

The reference coordinates N worker processes through Redis atomics
(subtasks.js:45-69 rpush/hset; worker.js:61-123). This repo's parquet
store and JSON task state have no transaction log, so the documented
single-writer rule (``DocumentStore.mutation`` in sources/__init__.py
for the store) is enforced here with ``fcntl.flock`` instead of being
silently assumed: a second PROCESS touching the same task state fails
fast (or blocks, for index mutations) rather than corrupting the
backlog or losing a directory swap.

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
import os
import threading
from typing import Optional


class LockHeld(RuntimeError):
    """The lock is held by another process (or another fd)."""


# Per-thread registry of exclusively-held lock paths. flock treats two
# fds of one process as INDEPENDENT holders, so a thread that holds
# LOCK_EX and then requests LOCK_SH on a fresh fd of the same file
# would block on itself forever. The reader guards consult this to
# skip their shared lock when the calling thread is the writer (e.g.
# upsert's merge reading the index inside its own locked window).
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
    versa). The index reader guards ride this — a serving read's
    journal-check + file listing must not interleave with a live
    swap's renames (r9 verdict #4).

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
