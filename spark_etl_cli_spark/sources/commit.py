"""One commit primitive for the engine-free lakehouse writers.

Delta log versions, Iceberg ``vN.metadata.json`` files and Hudi
``<ts>.<action>`` instants are all published the same way: the whole
body is written to a hidden temp file beside the target, then
hard-linked into place. ``os.link`` is atomic and refuses an existing
target, so a commit either claims its slot with a complete body or
raises :class:`CommitConflict`. A writer that dies mid-write leaves at
most a dot-prefixed ``.tmp`` file that no log listing matches, never a
truncated commit. Atomic on POSIX filesystems; object stores need a
real catalog / LogStore.
"""

from __future__ import annotations

import os
import uuid


class CommitConflict(FileExistsError):
    """Another writer already published the slot this commit claims."""

    def __init__(self, path: str) -> None:
        super().__init__(f"commit slot already taken: {path}")
        self.path = path


def _write_temp(path: str, payload: bytes) -> str:
    """Write ``payload`` to a fresh hidden temp file beside ``path``."""
    head, name = os.path.split(path)
    tmp = os.path.join(head, f".{name}.{uuid.uuid4().hex}.tmp")
    fd = os.open(tmp, os.O_WRONLY | os.O_CREAT | os.O_EXCL, 0o644)
    try:
        with os.fdopen(fd, "wb") as fh:
            fh.write(payload)
    except BaseException:
        os.unlink(tmp)
        raise
    return tmp


def claim(path: str, payload: str | bytes) -> None:
    """Publish ``payload`` at ``path`` iff no commit holds that slot."""
    if isinstance(payload, str):
        payload = payload.encode()
    tmp = _write_temp(path, payload)
    try:
        os.link(tmp, path)
    except FileExistsError:
        raise CommitConflict(path) from None
    finally:
        os.unlink(tmp)


def overwrite(path: str, payload: str | bytes) -> None:
    """Atomically overwrite ``path`` (pointers such as Iceberg's
    ``version-hint.text``: readers see the old or the new body)."""
    if isinstance(payload, str):
        payload = payload.encode()
    tmp = _write_temp(path, payload)
    try:
        os.replace(tmp, path)
    except BaseException:
        os.unlink(tmp)
        raise
