"""Run registry: single-writer locking (SURVEY.md §1.1 "Lock / run registry").

The reference guards runs with PID files + stale-PID detection
(``misc_functions.sh:151-183``) and a ``dump.lock`` (``beeline_functions.sh:92-101``).
The engine holds an exclusive ``flock`` on ``<dir>/<name>.lock``; the kernel
drops it when the holder's last descriptor closes, SIGKILL included, so no
lock goes stale. ``flock``, not ``fcntl.lockf``: ``flock`` belongs to the
open file description, so two ``RunLock``s in one process exclude each
other; POSIX record locks belong to the process and would not. The lock
dir must be on a local filesystem. Executors take no lock: snapshot dirs
are immutable and the watermark advance is a one-row append-mode parquet
write (``snapshot.advance_watermark``).
"""

from __future__ import annotations

import fcntl
import os
from pathlib import Path


class LockHeldError(RuntimeError):
    pass


class RunLock:
    """``with RunLock(dir, 'dump'):`` — mirrors dump.lock semantics."""

    def __init__(self, run_dir: str | os.PathLike, name: str) -> None:
        self.path = Path(run_dir) / f"{name}.lock"
        self._fd: int | None = None

    def __enter__(self) -> "RunLock":
        self.acquire()
        return self

    def __exit__(self, *exc: object) -> None:
        self.release()

    def acquire(self) -> None:
        self.path.parent.mkdir(parents=True, exist_ok=True)
        fd = os.open(self.path, os.O_RDWR | os.O_CREAT, 0o644)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
            os.ftruncate(fd, 0)  # the pid is for operators; nothing reads it
            os.write(fd, f"{os.getpid()}\n".encode())
        except OSError as exc:
            os.close(fd)  # closing the only descriptor drops the lock
            if isinstance(exc, BlockingIOError):
                raise LockHeldError(f"{self.path} is held by another run") from None
            raise
        self._fd = fd

    def release(self) -> None:
        # Never unlink: a new acquirer would lock a fresh inode beside a holder.
        if self._fd is not None:
            fd, self._fd = self._fd, None
            fcntl.flock(fd, fcntl.LOCK_UN)
            os.close(fd)
