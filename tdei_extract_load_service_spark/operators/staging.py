"""Write-once staged publication and the one stored-index lifecycle.

Every stored layout in the repo (fingerprint and banded-LSH dedup
indexes, PQ codes, drift history, BM25 postings, z-order, HLL rollups,
bucketed tables, the streaming stage, the incremental-PQ merge) is
built under ``{path}.build.{pid}`` and published with ONE atomic
``os.rename`` — concurrent builders produce identical bytes by
construction, so the loser just drops its copy. ``staged_build`` owns
the two failure-path obligations of that publish:

1. **No orphans**: if the build itself dies (executor OOM mid-write,
   ctrl-C), the ``*.build.{pid}`` dir is reaped in ``finally`` instead
   of living in /tmp forever.
2. **No phantom publishes**: if the rename fails for a reason OTHER
   than "a concurrent winner already published" (cross-device tmp,
   permissions), the error is re-raised instead of swallowed, so
   callers never return a path that does not exist.

The seven stored-index builders share one lifecycle, ``stored_index``:
the key tuple (corpus key first) hashes to ``root/<md5[:24]>``; a
published directory whose marker exists is a hit and only gets its LRU
recency bumped (``touch_snapshot``); a miss builds under
``staged_build`` and then sweeps the root (``sweep_index_root``). The
published directory is the only cache — there is no in-process memo to
go stale, and a fresh process serves the same index from disk. The
corpus key is required: two corpora built with equal parameters would
otherwise share one path across processes.

At cluster scale the same shape maps onto a distributed FS rename (or a
manifest pointer swap, ``sinks/manifest.py``); the obligations are
identical.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from contextlib import contextmanager
from typing import Callable, Iterator


@contextmanager
def staged_build(final_path: str, marker: str | None = "_SUCCESS") -> Iterator[str]:
    """Yield a private build dir; publish it to ``final_path`` on
    normal exit via atomic rename.

    ``marker`` is the file that proves a complete publish (parquet
    writes drop ``_SUCCESS``; pass ``None`` to accept any existing
    directory, for layouts with a different completeness convention).
    After a failed rename the marker is checked: present means a
    concurrent builder won (fine — identical bytes); absent means the
    rename itself failed, and the OSError propagates rather than
    leaving callers to cache a phantom path.

    The build dir is removed on EVERY exit path — success (it was
    renamed away; rmtree is a no-op), concurrent loss, or a build
    exception.
    """
    tmp = f"{final_path}.build.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        yield tmp
        os.makedirs(os.path.dirname(final_path), exist_ok=True)
        try:
            os.rename(tmp, final_path)
        except OSError:
            published = (
                os.path.exists(os.path.join(final_path, marker))
                if marker is not None
                else os.path.isdir(final_path)
            )
            if not published:
                raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


#: Markers that prove a snapshot directory is a complete publish.
_COMPLETE_MARKERS = ("_SUCCESS", "_meta.json")


def _is_complete_snapshot(path: str) -> bool:
    return any(
        os.path.exists(os.path.join(path, m)) for m in _COMPLETE_MARKERS
    )


_TOMBSTONE = "_TOMBSTONE"


def touch_snapshot(path: str) -> str:
    """Mark a stored snapshot as live: bump its LRU recency and, if a
    sweep tombstoned it while it sat cold, RESURRECT it (snapshots are
    content-addressed and immutable, so un-tombstoning is always
    correct — the bytes a rebuild would produce are the bytes already
    there). ``stored_index`` calls this on every hit, so retention
    ranks by last USE, not last build."""
    tomb = os.path.join(path, _TOMBSTONE)
    if os.path.exists(tomb):
        try:
            os.unlink(tomb)
        except OSError:
            pass
    try:
        os.utime(path)
    except OSError:
        pass
    return path


def sweep_index_root(
    root: str,
    keep_latest: int = 3,
    grace_sec: float = 3600.0,
    now: float | None = None,
) -> dict:
    """Retention sweep for a content-addressed index root (VERDICT r10
    #6): the stored layouts (fingerprint index, banded LSH, PQ, BM25
    postings, z-order) accumulate one immutable snapshot per corpus key
    FOREVER without this — the 100 TB nightly-ingest shape needs the
    same lifecycle discipline ``sinks/manifest.py`` gives warehouse
    tables.

    Two-phase, mirroring the manifest's tombstone contract so readers
    never lose a directory they may still be scanning — and, unlike a
    rename, never lose the PATH a long-lived plan re-opens:

    1. complete snapshots beyond the ``keep_latest`` most recently
       USED (``touch_snapshot`` bumps recency on every stored-index
       hit) get a ``_TOMBSTONE`` file dropped INSIDE them — purely
       logical, the directory keeps serving; a later touch resurrects
       it (content-addressed dirs are immutable, so un-tombstoning is
       free and always correct);
    2. tombstones older than ``grace_sec`` are physically reaped by a
       LATER sweep (the next build's wired-in call, or an explicit
       maintenance invocation — exactly how a displaced manifest dir
       is reaped by the next commit).

    Crash leftovers ride the same pass: ``*.build.<pid>`` dirs whose
    builder process is dead are reaped immediately (their bytes were
    never published — no reader can hold them), and an incomplete
    snapshot dir (no marker: a torn non-atomic copy, impossible via
    staged_build but cheap to defend against) is reaped once it is
    ``grace_sec`` old.

    Returns ``{"kept", "tombstoned", "reaped", "orphans_reaped"}``
    (lists of directory basenames; ``kept`` is a count). A missing
    root is a no-op — sweeping is always safe to wire after a build.

    ``now`` is injectable for deterministic tests.
    """
    import time

    if now is None:
        now = time.time()
    result: dict = {
        "kept": 0,
        "tombstoned": [],
        "reaped": [],
        "orphans_reaped": [],
    }
    if not os.path.isdir(root):
        return result
    live: list[tuple[float, str]] = []
    for name in sorted(os.listdir(root)):
        path = os.path.join(root, name)
        if not os.path.isdir(path):
            continue
        if ".build." in name:
            pid_part = name.rsplit(".build.", 1)[1]
            try:
                os.kill(int(pid_part), 0)
                alive = True
            except (ValueError, ProcessLookupError):
                alive = False
            except PermissionError:
                alive = True  # pid exists, owned by someone else
            if not alive:
                shutil.rmtree(path, ignore_errors=True)
                result["orphans_reaped"].append(name)
            continue
        tomb = os.path.join(path, _TOMBSTONE)
        if os.path.exists(tomb):
            if now - os.stat(tomb).st_mtime >= grace_sec:
                shutil.rmtree(path, ignore_errors=True)
                result["reaped"].append(name)
            continue
        if _is_complete_snapshot(path):
            live.append((os.stat(path).st_mtime, name))
        elif now - os.stat(path).st_mtime >= grace_sec:
            shutil.rmtree(path, ignore_errors=True)
            result["reaped"].append(name)
    live.sort(reverse=True)
    result["kept"] = min(len(live), keep_latest)
    for _, name in live[keep_latest:]:
        tomb = os.path.join(root, name, _TOMBSTONE)
        try:
            with open(tomb, "w") as fh:
                fh.write(str(int(now)))
        except OSError:
            continue  # concurrent reap removed the dir under us
        # pin the tombstone's age clock to THIS sweep's `now` so tests
        # (and replays) measure grace from the marked time
        os.utime(tomb, (now, now))
        result["tombstoned"].append(name)
    return result


def stored_index(
    root: str,
    key: tuple,
    build: Callable[[str], None],
    marker: str = "_SUCCESS",
) -> str:
    """Return the published directory for ``key`` under ``root``,
    building it with ``build(tmp)`` on a miss.

    ``key[0]`` is the corpus key and must be non-empty: it has to change
    whenever the corpus does (callers pass source path + size + mtime).
    The rest of the key names every parameter the layout depends on.
    ``marker`` is the file whose presence proves a complete publish —
    ``build`` must leave it in ``tmp``. A hit bumps the snapshot's
    recency and resurrects it if a sweep tombstoned it; a miss publishes
    atomically via ``staged_build`` and then sweeps the root (keep the
    8 most recently used snapshots, reap ripe tombstones and dead
    builders' orphans)."""
    if not key[0]:
        raise ValueError(f"stored index under {root}: corpus key is required")
    path = os.path.join(root, hashlib.md5(repr(key).encode()).hexdigest()[:24])
    if os.path.exists(os.path.join(path, marker)):
        return touch_snapshot(path)
    with staged_build(path, marker) as tmp:
        build(tmp)
    sweep_index_root(root, keep_latest=8)
    return path
