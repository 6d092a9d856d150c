"""How a version file becomes visible — the one commit primitive of the
registry, the Delta log and the Iceberg metadata.

Every version file is written to a hidden temp file in the target's
directory and fsynced, then published in one step:

- :func:`put_if_absent` links the temp file to the target.  ``os.link``
  fails when the target exists, so of two writers racing one version
  exactly one wins, the loser's bytes never become visible, and a reader
  never sees a partial file.  Registry catalog files, Delta commits and
  Iceberg metadata documents commit this way.
- :func:`replace_file` moves the temp file over the target
  (``os.replace``), for files that are rewritten in place: the registry
  pointer and compaction journal, Delta checkpoints and
  ``_last_checkpoint``, the Iceberg version hint, manifests and manifest
  lists.  A crash mid-write leaves the old file, never a torn one.

Temp names start with ``.`` and end in ``.tmp``, so no version listing
(Delta ``versions()`` and checkpoints, Iceberg ``current_version``,
registry ``versions()``) ever sees them.

Every write face follows one rule on top of the primitive: read the base
version once; derive the new version, and every version-named file, from
that base; call :func:`check_free` on the base + 1 version file just
before the first file write, so a writer that lost the race never
overwrites the winner's identically named files; commit put-if-absent at
base + 1.  The loser raises :class:`CommitConflict` and the caller
retries from a fresh base (the reference's sync is one transaction that
leaves the previous state on any failure, ``HdfsSynchronizer.java:223-331``).
"""

from __future__ import annotations

import os
import threading


class CommitConflict(FileExistsError):
    """Another writer committed the version this write was built for."""


def _write_temp(path: str, data: bytes) -> str:
    head, name = os.path.split(path)
    tmp = os.path.join(
        head, f".{name}.{os.getpid()}-{threading.get_ident()}.tmp"
    )
    fd = os.open(tmp, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o666)
    try:
        view = memoryview(data)
        while view:
            view = view[os.write(fd, view):]
        os.fsync(fd)
    except BaseException:
        os.close(fd)
        os.unlink(tmp)
        raise
    os.close(fd)
    return tmp


def put_if_absent(path: str, data: bytes) -> str:
    """Publish ``data`` at ``path`` unless it exists; raise
    :class:`CommitConflict` if it does."""
    tmp = _write_temp(path, data)
    try:
        os.link(tmp, path)
    except FileExistsError:
        raise CommitConflict(f"{path} already exists") from None
    finally:
        os.unlink(tmp)
    return path


def replace_file(path: str, data: bytes) -> str:
    """Publish ``data`` at ``path``, replacing any previous file."""
    tmp = _write_temp(path, data)
    try:
        os.replace(tmp, path)
    except BaseException:
        os.unlink(tmp)
        raise
    return path


def check_free(path: str) -> None:
    """Raise :class:`CommitConflict` if the version file ``path`` this
    write will commit already exists."""
    if os.path.exists(path):
        raise CommitConflict(f"{path} already exists")
