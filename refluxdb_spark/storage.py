"""Object-store-safe table maintenance: versioned directories with a
pointer-file commit.

The reference swaps sled directories around freely because it owns a
local filesystem (``persistence.rs:222-266``). A lake engine cannot:
S3/GCS have no atomic directory rename, so ``os.rename``-based
compaction swaps (the r2 design) are local-only. The portable scheme —
the same one Delta/Iceberg build their logs on — is:

1. rewritten table data goes to a FRESH versioned directory
   (``<base>._v<N>``), never touching the live one;
2. the commit is ONE small pointer-file write (``<base>._version``) —
   a single-object PUT, which every object store performs atomically;
3. readers resolve the pointer before listing data; old versions are
   garbage, removed best-effort (``vacuum``) — safe because no new
   reader can resolve to them.

No directory is ever renamed or moved; the only mutations are
"write new tree", "overwrite one small file", "delete old tree".
A crash between (1) and (2) leaves an orphan version dir (vacuumed
later) and the table untouched.

Concurrent REWRITERS are fail-fast, not lost-update: ``begin_rewrite``
claims the next version directory with an exclusive mkdir (the local
stand-in for a conditional PUT / lock service on a real object store),
so a second rewriter raises ``ConcurrentRewriteError`` instead of
silently allocating the same version; ``commit`` additionally
re-checks the pointer it was based on and raises rather than clobber a
commit that landed in between — the local read-check-write is
serialized by an O_EXCL lock file (on a real object store both steps
collapse into one if-match conditional PUT). Appends racing a rewrite remain the
caller's contract (run compaction from the ingest owner) — same as any
OPTIMIZE-style operation without a transaction log. Readers are safe
at every instant. A crashed rewrite leaves an orphan version dir that
blocks the next claim; ``clear_orphans()`` removes uncommitted dirs.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Iterator
from contextlib import contextmanager


class ConcurrentRewriteError(RuntimeError):
    """Another rewrite holds the next version (or committed first)."""


class VersionedPath:
    """A logical table directory whose physical location is resolved
    through a pointer file. ``current()`` is the live data dir;
    ``rewrite()`` hands out the next version dir and commits it."""

    def __init__(self, base: str) -> None:
        self.base = base
        self._pointer = base + "._version"

    # ------------------------------------------------------------ read
    def current(self) -> str:
        """The live data directory. With no pointer yet, the unsuffixed
        base path (legacy/initial layout) is live."""
        v = self._read_pointer()
        return self.base if v is None else f"{self.base}._v{v}"

    def _read_pointer(self) -> int | None:
        try:
            with open(self._pointer) as f:
                content = f.read().strip()
            return int(content) if content else None
        except (OSError, ValueError):
            return None

    def versions(self) -> list[int]:
        """Version numbers still present on disk (time-travel targets).
        Version 0 is the legacy unsuffixed dir if it exists. History
        survives until ``vacuum()`` — the Delta/Iceberg retention
        contract: time travel is bounded by vacuum policy, not by the
        commit mechanism."""
        parent = os.path.dirname(self.base) or "."
        prefix = os.path.basename(self.base)
        out = []
        try:
            entries = os.listdir(parent)
        except OSError:
            return out
        for e in entries:
            if e == prefix and os.path.isdir(os.path.join(parent, e)):
                out.append(0)
            elif e.startswith(prefix + "._v"):
                try:
                    out.append(int(e[len(prefix) + 3 :]))
                except ValueError:
                    continue
        return sorted(out)

    def resolve(self, version: int | None = None) -> str:
        """Data dir for ``version`` (None = live). Raises KeyError for
        a version that was never committed or has been vacuumed."""
        if version is None:
            return self.current()
        path = self.base if version == 0 else f"{self.base}._v{version}"
        if not os.path.isdir(path):
            raise KeyError(f"version {version} not on disk (vacuumed or never written)")
        return path

    # ----------------------------------------------------------- write
    def begin_rewrite(self) -> tuple[str, "_Commit"]:
        """Start a table rewrite: returns (new_dir, commit). Write the
        full new table under ``new_dir``, then call ``commit()`` — one
        pointer-file PUT makes it live for every subsequent reader.

        The version dir is claimed with an exclusive mkdir: a second
        concurrent rewrite raises ``ConcurrentRewriteError`` instead of
        sharing (and clobbering) the same directory. A dir left by a
        CRASHED attempt also triggers this — call ``clear_orphans()``
        to discard uncommitted versions, then retry."""
        base_v = self._read_pointer() or 0
        next_v = base_v + 1
        new_dir = f"{self.base}._v{next_v}"
        try:
            os.makedirs(new_dir)
        except FileExistsError:
            raise ConcurrentRewriteError(
                f"version {next_v} already claimed at {new_dir}: another "
                "rewrite is in progress, or a crashed attempt left an "
                "orphan (clear_orphans() discards uncommitted versions)"
            ) from None
        return new_dir, _Commit(self, next_v, base_v)

    @contextmanager
    def rewrite(self) -> Iterator[str]:
        """``with vp.rewrite() as new_dir:`` — write the full new table
        under ``new_dir``; a clean exit commits it. An in-process
        failure (failed write, stale-pointer commit) discards the
        claimed dir and re-raises, so it cannot wedge later rewrites;
        only a genuinely concurrent or crashed claim fails fast."""
        new_dir, commit = self.begin_rewrite()
        try:
            yield new_dir
            commit()
        except BaseException:
            shutil.rmtree(new_dir, ignore_errors=True)
            raise

    def _commit(self, version: int, expected_base: int) -> None:
        # Conditional commit: if the pointer moved since begin_rewrite,
        # this rewrite was based on stale data — raise instead of
        # silently dropping the interleaved commit. On a real object
        # store this check-then-write is ONE if-match/ETag conditional
        # PUT; a local read-check-write is not atomic, so it is
        # serialized with an O_EXCL lock file (two committers passing
        # the check concurrently could otherwise interleave the final
        # pointer write). A committer that crashes inside the lock
        # leaves it behind — fail-fast, cleared by ``clear_orphans()``.
        lock = self._pointer + ".lock"
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            raise ConcurrentRewriteError(
                f"commit lock held at {lock}: another commit is in "
                "flight, or a crashed committer left it (clear_orphans() "
                "removes stale locks)"
            ) from None
        os.close(fd)
        try:
            live = self._read_pointer() or 0
            if live != expected_base:
                raise ConcurrentRewriteError(
                    f"pointer moved {expected_base} -> {live} since "
                    f"begin_rewrite; not committing stale version {version}"
                )
            # Direct single-file write = the local stand-in for an object
            # PUT. Deliberately NOT write-temp-then-rename: the whole point
            # is to assume nothing beyond atomic single-object replace.
            with open(self._pointer, "w") as f:
                f.write(str(version))
        finally:
            try:
                os.remove(lock)
            except OSError:
                pass

    def clear_orphans(self) -> list[str]:
        """Remove version dirs NEWER than the live pointer — these were
        never committed (in-progress or crashed rewrites) — and any
        stale commit lock a crashed committer left. Returns the removed
        paths. Only call when no rewrite is legitimately in flight
        (single-administrator action, like Delta's FSCK)."""
        live_v = self._read_pointer() or 0
        removed = []
        for v in self.versions():
            if v > live_v:
                path = f"{self.base}._v{v}"
                shutil.rmtree(path, ignore_errors=True)
                removed.append(path)
        lock = self._pointer + ".lock"
        if os.path.exists(lock):
            try:
                os.remove(lock)
                removed.append(lock)
            except OSError:
                pass
        return removed

    def vacuum(self) -> None:
        """Best-effort removal of non-live data (old version dirs and,
        once versioned, the legacy unsuffixed dir). Never required for
        correctness — only for space."""
        live = self.current()
        parent = os.path.dirname(self.base) or "."
        prefix = os.path.basename(self.base)
        try:
            entries = os.listdir(parent)
        except OSError:
            return
        for e in entries:
            full = os.path.join(parent, e)
            if full == live or not os.path.isdir(full):
                continue
            if e == prefix or e.startswith(prefix + "._v"):
                shutil.rmtree(full, ignore_errors=True)


class _Commit:
    def __init__(self, vp: VersionedPath, version: int, expected_base: int) -> None:
        self._vp = vp
        self._version = version
        self._expected_base = expected_base

    def __call__(self) -> None:
        self._vp._commit(self._version, self._expected_base)
