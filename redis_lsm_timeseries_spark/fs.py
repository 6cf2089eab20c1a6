"""Filesystem seam for the store's side-channel metadata operations.

Spark itself reads and writes every TABLE through its own Hadoop
FileSystem stack — nothing here touches data files. What the engine
additionally needs is a handful of small metadata operations around
those tables: existence probes before a read (a never-written table
must read as empty, not crash), the engine-meta JSON, L0 segment
moves, emptied-partition drops, and the purge-log compaction swap.

The reference gets all of this from Redis commands (``EXISTS``,
``RENAME``, ``DEL`` — ``index.js:50-52``, ``ack-purge.lua:21-23``);
a lakehouse deployment gets it from the table format's catalog and
Delta/Iceberg ``MERGE``/``REPLACE``. This build targets local-FS/HDFS
paths, but every such operation routes through a single
``StorageFilesystem`` object injected into ``TimeseriesStore``, so an
object-storage deployment implements ONE class (atop s3fs/fsspec or a
Hadoop FS bridge) instead of chasing ``os.path`` calls through the
engine. Semantics a remote implementation must honor are documented
per method; ``rename`` atomicity is the one local-FS property object
stores lack — implementations there should back the L0 staging and
purge-log swap paths with a manifest or the table format's commit
protocol instead.
"""

from __future__ import annotations

import os
import shutil


class StorageFilesystem:
    """Metadata-operation surface the engine needs from storage.

    The base class IS the local implementation (``os``/``shutil``);
    subclass and override for other backends. Paths are the same
    strings handed to Spark readers/writers."""

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def is_dir(self, path: str) -> bool:
        return os.path.isdir(path)

    def makedirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def listdir(self, path: str) -> list[str]:
        return os.listdir(path)

    def rename(self, src: str, dst: str) -> None:
        """Atomic move of a file or directory tree. The L0 flush and
        purge-log compaction protocols rely on this being atomic and
        on a directory rename moving the whole tree; object-store
        implementations must substitute a manifest/commit protocol."""
        os.rename(src, dst)

    def remove_tree(self, path: str) -> None:
        """Recursive delete; absent path is a no-op."""
        shutil.rmtree(path, ignore_errors=True)

    def link_or_copy(self, src: str, dst: str) -> None:
        """Duplicate one immutable file as cheaply as the store
        allows (CLONE's primitive, r17). Locally a hard link — O(0)
        bytes, safe because the engine never mutates a data file in
        place and deletes only ever unlink one name — falling back to
        a byte copy across filesystems; an object-store
        implementation should use server-side copy (S3 CopyObject /
        GCS rewrite), which moves no bytes through compute. A
        pre-existing ``dst`` is an error (clone targets are fresh
        paths)."""
        try:
            os.link(src, dst)
        except OSError:
            if os.path.exists(dst):
                raise
            shutil.copy2(src, dst)

    def rmdir_if_empty(self, path: str) -> bool:
        """Delete a directory only if empty (used to retire the L0
        root without racing a concurrent batch write). Returns True
        if removed."""
        try:
            os.rmdir(path)
            return True
        except OSError:
            return False

    def read_text(self, path: str) -> str:
        with open(path, encoding="utf-8") as fh:
            return fh.read()

    def create_exclusive(self, path: str, text: str) -> bool:
        """Create-if-absent, atomically — in BOTH senses: False (and
        no write) if the path already exists, and a created path is
        visible only with its COMPLETE content. ``open(path, 'x')``
        then write would expose an empty file to a concurrent reader
        between the create and the write (a real race: a manifest
        reader walking the log just as a commit lands parsed a
        zero-byte entry); instead the content is written to a sibling
        temp file and claimed via ``os.link`` — an atomic
        publish-if-absent on POSIX. An object-store implementation
        maps this to a conditional put (If-None-Match), which is
        content-atomic by nature."""
        import errno
        import uuid as _uuid

        tmp = f"{path}.claim-{_uuid.uuid4().hex[:12]}"
        try:
            # A racing vacuum's stale-claim sweep can unlink the temp
            # between the write and the link (ENOENT) — REWRITE and
            # retry rather than degrading to the non-atomic fallback,
            # which would expose a zero-byte file to concurrent
            # readers (captured live: a JSONDecodeError aborting a
            # racing vacuum). Only a genuinely link-less filesystem
            # falls through.
            for _ in range(3):
                with open(tmp, "w", encoding="utf-8") as fh:
                    fh.write(text)
                try:
                    os.link(tmp, path)
                    return True
                except FileExistsError:
                    return False
                except OSError as exc:
                    if exc.errno == errno.ENOENT:
                        continue  # tmp swept: rewrite and retry
                    break  # no-hardlink filesystem: degrade below
            # filesystem without hard links (exFAT, some FUSE
            # mounts): degrade to O_EXCL create + write. Still
            # exclusive, but a concurrent reader may glimpse a
            # partially-written file — the pre-r12 contract;
            # remote seams use a conditional put, which is
            # content-atomic natively.
            try:
                with open(path, "x", encoding="utf-8") as fh:
                    fh.write(text)
                return True
            except FileExistsError:
                return False
        finally:
            try:
                os.remove(tmp)
            except OSError:
                pass

    def remove_file(self, path: str) -> None:
        """Delete a single file; absent path is a no-op."""
        try:
            os.remove(path)
        except OSError:
            pass

    def touch(self, path: str) -> bool:
        """Refresh an EXISTING file's mtime (False if absent/failed) —
        used to pull a file back inside vacuum's grace window (a
        checkpoint writer re-referencing an old shared part). Object
        stores without mtime semantics return False; callers fall back
        to rewriting the content."""
        try:
            os.utime(path, None)
            return True
        except OSError:
            return False

    def write_text(self, path: str, text: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            fh.write(text)

    def stat_signature(self, path: str) -> tuple | None:
        """Cheap change token for a path: (mtime_ns, inode) locally.
        None if absent. Used only by the hot-handle cache — a remote
        implementation may return an etag/version tuple, or None
        always to disable handle caching."""
        try:
            st = os.stat(path)
            return (st.st_mtime_ns, st.st_ino)
        except OSError:
            return None

    def age_seconds(self, path: str) -> float | None:
        """Seconds since the path's last ACTIVITY; None if absent or
        unknowable. ``ManifestCommit.vacuum`` treats an unreferenced
        file younger than its grace window as possibly in-flight (a
        leaseless committer between its stage/move and its log entry)
        and skips it until a later vacuum.

        Activity = max(mtime, ctime), not mtime alone: a rename
        preserves mtime but bumps ctime (inode change), so a file whose
        Spark stage WRITE outlived the grace window still re-enters it
        the moment ``_stage_in`` moves it into ``data/`` — the
        move-to-log-entry window is exactly what the grace protects.

        A remote implementation that cannot answer should return None —
        vacuum then treats the file as old (pre-grace behavior), so
        such deployments must fall back to the run-maintenance-alone
        convention for leaseless writers."""
        try:
            import time as _time

            st = os.stat(path)
            return max(0.0, _time.time() - max(st.st_mtime, st.st_ctime))
        except OSError:
            return None

    def list_files(self, path: str) -> list[str]:
        """Every file under the directory ``path``, recursively, as one
        listing (an object store's recursive prefix LIST), skipping
        ``_``- and ``.``-prefixed names at each level as Spark's
        listing does: each directory's files in name order, then its
        subdirectories in name order. A directory removed during the
        walk lists as empty."""
        out = []
        for root, dirs, files in os.walk(path):
            dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
            out += [f"{root}/{f}" for f in sorted(files) if not f.startswith(("_", "."))]
        return out

    def count_files_with_suffix(self, path: str, suffix: str) -> int:
        """Recursive count of data files under a table root (purge-log
        compaction's should-I-run check)."""
        return sum(
            1
            for _root, _dirs, files in os.walk(path)
            for f in files
            if f.endswith(suffix)
        )


# Default instance shared by stores that don't inject one.
LOCAL_FS = StorageFilesystem()
