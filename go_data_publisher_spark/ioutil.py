"""Shared metadata-plane IO primitives: atomic publish + commit lock.

One implementation for the write-fsync-rename idiom and the flock critical
section, used by the lake manifest log and the tailer's cursor file — a
durability fix (e.g. directory fsync policy) lands in exactly one place.
"""

from __future__ import annotations

import contextlib
import json
import os
import tempfile


def atomic_write_text(path: str, text: str) -> None:
    """Publish ``text`` at ``path`` atomically: tmp file in the same
    directory, fsync, rename.  A concurrent reader sees the old content or
    the new content, never a torn write."""
    d = os.path.dirname(path) or "."
    fd, tmp = tempfile.mkstemp(dir=d)
    with os.fdopen(fd, "w") as f:
        f.write(text)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def atomic_write_json(path: str, obj) -> None:
    atomic_write_text(path, json.dumps(obj))


@contextlib.contextmanager
def locked(lock_path: str):
    """Exclusive flock on ``lock_path`` for the duration of the block.

    LOCAL POSIX filesystems only — on NFS/FUSE mounts flock may be
    advisory-per-host or a no-op (see TranscriptTable._write_manifest's
    scope note)."""
    import fcntl

    fd = os.open(lock_path, os.O_CREAT | os.O_RDWR, 0o644)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)
        yield
    finally:
        os.close(fd)  # releases the flock
