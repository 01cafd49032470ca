"""The commit core every table format shares.

Two durable writes, each staged to a uniquely named hidden sibling,
flushed and fsync'd first:

- ``publish_if_absent`` hard-links the staged file to its final name.
  ``os.link`` fails atomically with EEXIST when the name exists
  (rename would silently replace it), so exactly one of several racing
  writers publishes a version; the others get ``CommitConflict``.
- ``replace_atomically`` renames the staged file over its target, so a
  reader sees the old bytes or the new, never a torn file.

Retry loops bound their attempts with ``MAX_ATTEMPTS``.
"""

from __future__ import annotations

import contextlib
import os
import uuid

MAX_ATTEMPTS = 10


class CommitConflict(RuntimeError):
    """Another writer published this version first (the lost side of
    an optimistic-concurrency race). Retryable: re-read the table,
    re-validate, and commit at the next version."""


def _write_staged(final: str, data: bytes, install) -> None:
    head, name = os.path.split(final)
    tmp = os.path.join(head, f".{name}.{uuid.uuid4().hex[:8]}.tmp")
    try:
        with open(tmp, "wb") as f:
            f.write(data)
            f.flush()
            os.fsync(f.fileno())
        install(tmp, final)
    finally:
        with contextlib.suppress(FileNotFoundError):
            os.unlink(tmp)


def publish_if_absent(final: str, data: bytes) -> None:
    """Create ``final`` holding ``data``, or raise ``CommitConflict``
    if it already exists."""
    try:
        _write_staged(final, data, os.link)
    except FileExistsError:
        raise CommitConflict(
            f"{final} already exists — lost the optimistic-commit race"
        ) from None


def replace_atomically(path: str, data: bytes) -> None:
    """Replace ``path`` with ``data`` in one rename."""
    _write_staged(path, data, os.replace)
