"""Filesystem seam for LakeTable metadata and directory I/O.

At 100 TB the table lives on an object store, not a POSIX disk; every
manifest read/write and directory listing the engine does goes through
this interface so an S3/GCS adapter is a drop-in (the reference gets
this for free from the Iceberg FileIO stack; here it's explicit).

The contract is deliberately tiny — exactly the operations the
snapshot/manifest protocol needs:

- ``write_exclusive``: create-if-absent, atomic, FAILING when the path
  exists — the commit-race arbiter (S3: conditional PUT If-None-Match;
  local: O_CREAT|O_EXCL).
- ``replace_atomic``: last-writer-wins pointer flip for ``_current``
  (S3: plain PUT — single-key PUTs are atomic).
- listings and recursive deletes for data-dir bookkeeping.

Data-file bytes flow through here in one case only: ``open_output``
carries the small parquet file ``LakeTable.append_rows`` writes from the
driver (a few ops-ledger rows, where a Spark job would cost more than
the bytes). Every other data file is read and written by Spark through
its own Hadoop FileSystem; otherwise this seam carries only metadata
(manifests, version pointers, directory names).
"""

from __future__ import annotations

import os
import shutil
import uuid


class LocalFilesystem:
    """POSIX implementation (test/bench target)."""

    #: POSIX metadata ops are ~µs; object-store adapters must set False
    #: so latency-sensitive callers (footer-stats fan-out) switch to
    #: distributed paths at much lower file counts.
    is_local = True

    def join(self, *parts: str) -> str:
        return os.path.join(*parts)

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def isdir(self, path: str) -> bool:
        return os.path.isdir(path)

    def makedirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def listdir(self, path: str) -> list[str]:
        return os.listdir(path)

    def size(self, path: str) -> int:
        return os.path.getsize(path)

    def mtime(self, path: str) -> float:
        """Last-modified time, seconds since epoch. Object-store
        adapters map this to the object's LastModified — used only for
        AGE GATES (orphan/reserved-manifest reclamation), never for
        ordering, so second-granularity store timestamps are fine."""
        return os.path.getmtime(path)

    def open_input(self, path: str):
        """Binary reader for metadata-sized files (parquet footers,
        manifests) — callers must close it. Object-store adapters return
        their native seekable stream."""
        return open(path, "rb")

    def open_output(self, path: str):
        """Binary writer for a driver-written data file (the few rows
        of ``LakeTable.append_rows``) — callers must close it. The path
        is a fresh name in a fresh commit dir, so no reader sees the
        file before the manifest that lists its dir publishes.
        Object-store adapters return an upload stream that creates the
        object on close."""
        return open(path, "wb")

    def read_text(self, path: str) -> str:
        with open(path) as f:
            return f.read()

    def write_exclusive(self, path: str, text: str) -> None:
        """Create ``path`` with ``text`` iff it does not exist; raise
        ``FileExistsError`` if it does. Atomicity of the existence check
        is the commit protocol's linearization point."""
        fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        with os.fdopen(fd, "w") as f:
            f.write(text)

    def replace_atomic(self, path: str, text: str) -> None:
        """Atomically (re)point ``path`` at ``text`` — readers see either
        the old or the new content, never a torn write."""
        tmp = f"{path}.{uuid.uuid4().hex}.tmp"
        with open(tmp, "w") as f:
            f.write(text)
        os.replace(tmp, path)

    def remove(self, path: str) -> None:
        os.remove(path)

    def rmtree(self, path: str) -> None:
        shutil.rmtree(path)

    def move(self, src: str, dst: str) -> None:
        """Atomic directory move (same filesystem). Used only by
        catalog-level RENAME TABLE; an object-store adapter should
        implement this as a server-side rename where the store offers
        one, or reject it (renames then belong in a pointer catalog,
        not a path move)."""
        os.replace(src, dst)


DEFAULT_FS = LocalFilesystem()
