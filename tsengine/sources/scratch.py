"""Scratch and artifact placement: the one owner of every path the engine
writes outside the fixture tree.

Two rules, one per kind of table:

1. **Per-process scratch tables** (:func:`process_dir`).  A table that a
   query rewrites on every call (the CSV/JSON/XML/ORC round trips, the
   partitioned sink, merges, compaction) lives under a path that carries
   the process id, so two processes on one sf_dir never overwrite each
   other's files.  Read-back frames are lazy, so the table outlives the
   call; it is removed when the process exits.
2. **Shared keyed artifacts** (:func:`artifact`).  A table built once and
   reused across calls and processes (the kNN graphs, the gate flags,
   the shard manifest, the DPP and bucketed copies) lives under a path
   keyed by the sf_dir and by :func:`fixture_tag` of the fixture tables
   it derives from.  A committed copy (``_SUCCESS``) is reused; otherwise
   the copy is built into a pid-suffixed staging dir and published by
   rename (:func:`publish`), which is safe when processes race.

Every root is a scratch dir outside the fixture tree, which the plan
memo's immutability invariant relies on (``sources/memo.py``).
"""

from __future__ import annotations

import atexit
import errno
import hashlib
import os
import re
import shutil
import threading
from collections.abc import Callable

#: leaf families :func:`artifact` mints; GC only ever matches these
FAMILIES = ("graph", "gateflags", "manifest", "events_dpp", "bucketed")

# artifact leaf split into (family-and-dials prefix, fixture tag, sf tag):
# superseded copies share the prefix and sf tag but not the fixture tag
_LEAF_RE = re.compile(
    rf"^((?:{'|'.join(FAMILIES)})[^.]*_m)([0-9a-f]+)(_[0-9a-f]{{10}})$"
)
_OWN_DIRS: set[str] = set()
_LOCKS: dict[str, threading.Lock] = {}
_LOCKS_GUARD = threading.Lock()


def sf_scoped_dir(base: str, sf_dir: str, leaf: str) -> str:
    """``base/<leaf>_<tag>``, the tag an md5 of the absolute sf_dir, so no
    two scale factors (or two roots sharing a basename) share a path."""
    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:10]
    return os.path.join(base, f"{leaf}_{tag}")


def process_dir(base: str, sf_dir: str, leaf: str) -> str:
    """Rule 1: this process's scratch table ``leaf`` under ``base``,
    removed when the process exits."""
    path = sf_scoped_dir(base, sf_dir, f"{leaf}_{os.getpid()}")
    if path not in _OWN_DIRS:
        _OWN_DIRS.add(path)
        atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


def fixture_tag(sf_dir: str, *tables: str) -> str:
    """md5 over the name, size and ``st_mtime_ns`` of every file of each
    named fixture table: a regenerated table, even within the same
    second, gets a new tag, so a stale copy is never served."""
    h = hashlib.md5()
    for t in tables:
        src = os.path.join(sf_dir, f"{t}.parquet")
        files = [
            os.path.join(r, f) for r, _d, fs in sorted(os.walk(src)) for f in sorted(fs)
        ] or [src]
        for p in files:
            st = os.stat(p)
            h.update(f"{t}/{os.path.basename(p)}:{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()[:12]


def artifact_path(base: str, sf_dir: str, family: str, *tables: str) -> str:
    """Where :func:`artifact` keeps ``family`` built from ``tables``."""
    return sf_scoped_dir(base, sf_dir, f"{family}_m{fixture_tag(sf_dir, *tables)}")


def artifact(
    base: str,
    sf_dir: str,
    family: str,
    tables: tuple[str, ...],
    write: Callable[[str], None],
) -> str:
    """Rule 2: the path of the committed copy of ``family`` (a name from
    :data:`FAMILIES` plus its dials) built from the fixture ``tables``.
    ``write(dir)`` builds the copy into ``dir``; it runs only when no
    committed copy exists, once per path across this process's threads."""
    path = artifact_path(base, sf_dir, family, *tables)
    assert _LEAF_RE.match(os.path.basename(path)), family
    with _LOCKS_GUARD:
        lock = _LOCKS.setdefault(path, threading.Lock())
    with lock:
        if not _committed(path):
            publish(path, write)
    return path


def _committed(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def publish(path: str, write: Callable[[str], None]) -> None:
    """Atomic publish: ``write`` fills a pid-suffixed staging dir and one
    ``os.rename`` moves it into place.  The destination is never deleted
    first, so a reader sees the old complete copy or the new one, never
    an absent path:

    * a rename onto a complete copy fails with EEXIST/ENOTEMPTY: a
      concurrent publisher won with the identical (deterministic) build,
      so ours is discarded;
    * an incomplete occupant (no ``_SUCCESS``: a crashed write) is renamed
      aside and removed only after ours is in place.  Two publishers can
      both take this branch: the loser's rename aside meets ENOENT (the
      winner swapped the occupant first) and its final rename
      EEXIST/ENOTEMPTY (the winner published).  Both end with a complete
      copy in place, so the loser discards its build.

    Any other OSError re-raises.  A publish prunes superseded siblings
    (:func:`_gc`)."""
    tmp = f"{path}.tmp.{os.getpid()}"
    aside = None
    try:
        write(tmp)
        try:
            os.rename(tmp, path)
        except OSError as exc:
            if exc.errno not in (errno.EEXIST, errno.ENOTEMPTY):
                raise
            if not _committed(path):
                aside = f"{path}.old.{os.getpid()}"
                try:
                    os.rename(path, aside)
                except FileNotFoundError:
                    aside = None  # a concurrent publisher swapped it first
                try:
                    os.rename(tmp, path)
                except OSError as exc2:
                    won = exc2.errno in (errno.EEXIST, errno.ENOTEMPTY)
                    if not (won and _committed(path)):
                        raise
    finally:
        # both are gone once ours is in place; otherwise they are ours
        shutil.rmtree(tmp, ignore_errors=True)
        if aside is not None:
            shutil.rmtree(aside, ignore_errors=True)
    _gc(path)


def _gc(path: str) -> None:
    """Prune the superseded siblings of a just-published artifact (same
    family, dials and sf tag, another fixture tag) and the staging dirs of
    dead processes in that family.  A live process's staging dir is
    spared whichever leaf it targets: a long-lived session may still be
    writing a copy keyed by the fixture it saw.  A session still reading
    a pruned copy fails loudly (file not found), never with wrong data,
    and its retry re-keys and rebuilds; pruning at once rather than after
    a grace period keeps corpus-sized copies from stranding."""
    parent, leaf = os.path.split(path)
    m = _LEAF_RE.match(leaf)
    if not m:  # not a leaf artifact() mints: never guess at deletions
        return
    prefix, _, sftag = m.groups()
    for d in os.listdir(parent):
        base = d.split(".tmp.")[0].split(".old.")[0]
        sm = _LEAF_RE.match(base)
        if d == leaf or not sm or sm.group(1) != prefix or sm.group(3) != sftag:
            continue
        if d != base and not _staging_pid_dead(d):
            continue
        shutil.rmtree(os.path.join(parent, d), ignore_errors=True)


def _staging_pid_dead(dirname: str) -> bool:
    """True iff ``dirname`` is a ``*.tmp.<pid>`` / ``*.old.<pid>`` staging
    dir whose process no longer exists (safe to remove)."""
    tail = dirname.rsplit(".", 1)[-1]
    if not tail.isdigit():
        return False
    try:
        os.kill(int(tail), 0)
    except ProcessLookupError:
        return True
    except OSError:
        return False  # EPERM etc: the process exists, or cannot be told
    return False
