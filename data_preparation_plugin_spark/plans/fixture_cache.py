"""Build-once on-disk caches derived from fixture tables.

Event replay stages, the archive dedup indexes and the IVF indexes are
persisted once per fixture and reused across sessions, like the
intermediate tables between the reference pipeline's steps. Every such
cache follows one protocol, implemented here and nowhere else:

- **Dir key.** :func:`fixture_dir` names the dir after the fixture dir's
  basename plus an md5 of (path, table content fingerprint, variant).
  Stable across processes (never Python's salted ``hash()``),
  collision-safe across sf dirs, and regenerating the fixture at the
  same path yields a new dir instead of a stale cache.
- **Single writer.** :func:`single_writer` takes an ``O_CREAT|O_EXCL``
  lockfile; concurrent callers wait on the writer's done-markers.
- **Done-markers.** A build is complete only when every marker path
  exists. A rebuild removes them first, so a waiter can never pass the
  all-markers check between two partial part-table writes.
- **Epochs.** Each dir records its logical identity (sf_dir, plus the
  variant where there is one, never the fingerprint) in ``_KEY``. A new
  build removes siblings with the same identity (superseded epochs) and
  siblings whose fixture dir no longer exists (orphans no call can
  reach again).

:func:`build_once` runs the whole sequence around a site's write body.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import shutil
import tempfile
import time
from collections.abc import Callable

#: How long a concurrent caller waits on another session's write before
#: concluding the writer crashed. Module-level so tests can shrink it;
#: single-writer discipline means it only fires on a genuinely dead
#: writer holding a stale lockfile.
WRITER_LOCK_TIMEOUT_S = 300.0


def fixture_fingerprint(sf_dir: str, table: str) -> str:
    """Content fingerprint of one fixture table file (size + mtime_ns).

    Size+mtime is the cheap st_* check rsync uses; a byte-level hash of
    a 100 TB table would defeat the point of caching.
    """
    try:
        st = os.stat(os.path.join(sf_dir, f"{table}.parquet"))
        return f"{st.st_size}-{st.st_mtime_ns}"
    except OSError:
        return "absent"


def fixture_digest(
    sf_dir: str, table: str, variant: str | None = None
) -> str:
    """12-hex md5 of (sf_dir, ``table``'s fingerprint, ``variant``)."""
    key = f"{sf_dir}|{fixture_fingerprint(sf_dir, table)}"
    if variant is not None:
        key += f"|{variant}"
    return hashlib.md5(key.encode("utf-8")).hexdigest()[:12]


def fixture_dir(
    root: str, sf_dir: str, table: str, variant: str | None = None
) -> tuple[str, str]:
    """``(cache dir, _KEY identity)`` for ``table`` of ``sf_dir``.

    ``root`` is the cache family's dir; a relative name resolves under
    ``tempfile.gettempdir()``. The identity is ``sf_dir``, or
    ``sf_dir|variant`` when a variant separates caches of one fixture.
    """
    base = os.path.basename(os.path.normpath(sf_dir)) or "root"
    digest = fixture_digest(sf_dir, table, variant)
    target = os.path.join(tempfile.gettempdir(), root, f"{base}-{digest}")
    return target, sf_dir if variant is None else f"{sf_dir}|{variant}"


@contextlib.contextmanager
def single_writer(
    target_dir: str, done: list, label: str, lock_name: str = ".writer.lock"
):
    """O_CREAT|O_EXCL single-writer discipline for a persisted dir.

    The lock is ``target_dir/lock_name``; callers that append to a built
    cache take a lock of their own name so appends never wait on, or
    block, the build lock. Yields ``True`` when this caller holds the
    lock and must write; yields ``False`` when every ``done`` marker
    exists while another writer holds the lock — the caller then just
    reads. A lock released without the markers (the writer failed) is
    taken over on the next poll. A crashed writer leaves a stale
    lockfile that times out after ``WRITER_LOCK_TIMEOUT_S`` with a
    remove-hint.
    """
    os.makedirs(target_dir, exist_ok=True)
    lock = os.path.join(target_dir, lock_name)
    deadline = time.monotonic() + WRITER_LOCK_TIMEOUT_S
    while True:
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            break
        except FileExistsError:
            pass
        if all(os.path.exists(p) for p in done):
            yield False
            return
        if time.monotonic() > deadline:
            raise TimeoutError(
                f"{label} lock {lock} held >{WRITER_LOCK_TIMEOUT_S}s "
                "with no done markers. A legitimately long write also "
                "triggers this — VERIFY the writing session is dead, "
                "then remove the lockfile to retry (removing a live "
                "writer's lock re-admits the clobber race this lock "
                "exists to prevent); otherwise raise "
                "WRITER_LOCK_TIMEOUT_S"
            )
        time.sleep(0.2)
    try:
        yield True
    finally:
        os.close(fd)
        os.unlink(lock)


def cleanup_stale_cache_dirs(root: str, key: str, keep: str) -> None:
    """Remove superseded and orphaned siblings of ``keep`` under ``root``.

    A sibling whose ``_KEY`` equals ``key`` is a stale epoch of the same
    cache. A sibling whose ``_KEY`` names an absolute fixture dir that
    no longer exists is an orphan. Dirs of other live fixtures, and dirs
    without a ``_KEY``, are never touched.
    """
    try:
        siblings = os.listdir(root)
    except OSError:
        return
    for name in siblings:
        d = os.path.join(root, name)
        if d == keep or not os.path.isdir(d):
            continue
        try:
            with open(os.path.join(d, "_KEY")) as f:
                other = f.read()
        except OSError:
            continue
        if other == key or _orphaned(other):
            shutil.rmtree(d, ignore_errors=True)


def _orphaned(key: str) -> bool:
    """True when the ``_KEY`` identity names an absolute fixture dir
    that no longer exists."""
    if os.path.isdir(key):
        return False
    sf_dir = key.rpartition("|")[0] or key
    return os.path.isabs(sf_dir) and not os.path.isdir(sf_dir)


def write_cache_key(target_dir: str, key: str) -> None:
    """Record the logical identity of a cache dir (see
    :func:`cleanup_stale_cache_dirs`)."""
    with open(os.path.join(target_dir, "_KEY"), "w") as f:
        f.write(key)


def build_once(
    target: str,
    done: list,
    write: Callable[[], None],
    *,
    label: str,
    force: bool = False,
    epoch_key: str | None = None,
) -> None:
    """Run ``write`` unless every ``done`` marker exists (or ``force``).

    Under the single-writer lock: re-check the markers, remove them,
    retire stale epochs and write ``_KEY`` (when ``epoch_key`` is given;
    ``_KEY`` goes first so a build that dies mid-write still leaves a
    cleanable epoch), then ``write()``, which must create the markers.
    """
    if not force and all(os.path.exists(p) for p in done):
        return
    with single_writer(target, done, label) as acquired:
        if not acquired or (
            not force and all(os.path.exists(p) for p in done)
        ):
            return
        for p in done:
            with contextlib.suppress(OSError):
                os.unlink(p)
        if epoch_key is not None:
            cleanup_stale_cache_dirs(
                os.path.dirname(target), epoch_key, keep=target
            )
            write_cache_key(target, epoch_key)
        write()
