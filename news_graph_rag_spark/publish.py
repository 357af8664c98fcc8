"""Publishing a directory: the one module that renames, retires,
hard-link-carries or age-sweeps a published directory.

Every persisted artifact of the package (ANN and token indexes, PQ
layers, fingerprint-staged tables, compacted parquet dirs) is written
COMPLETE into a staging dir first and then renamed into place, so a
reader sees a whole directory or none. Reference analog: Neo4j keeps
its fulltext and vector indexes current atomically on every write
(graph.py:197-219); here the same guarantee is built on plain
directories and ``os.rename``.

- ``staged(path)`` names a fresh staging dir ``{path}.staging-*``
  beside ``path`` and removes whatever is left of it on exit.
- ``publish_once(staging, dest, marker)`` renames staging into an
  absent ``dest``. A ``dest`` holding ``marker`` won a race and is
  kept; one without it is torn and replaced. ``check_dest`` guards a
  caller-chosen ``dest`` before the build, so a foreign dir is refused,
  not replaced.
- ``replace(path, staging)`` swaps staging in for a live dir: the live
  dir retires to ``{path}.retired-*``, staging renames in, the retired
  copy is removed. Between the two renames ``path`` does not exist; a
  kill there strands the old copy, which ``recover(path, marker)``
  renames back if it is complete.
- ``carry(src, dst)`` hard-links untouched files into staging
  (metadata-only IO; a copy where links fail).
- ``retire(d)`` deletes a published dir as a unit (rename, then rm),
  so a kill mid-delete never leaves a marker over partial data.
- ``sweep(dirs)`` removes leftovers of killed writers once nothing
  inside them changed for ``SWEEP_AGE_S``.

A staging dir's name must stay outside every glob that sweeps
published generations (``ngr_{kind}_*`` for fingerprint stages):
callers that publish into the temp dir stage beside an
``ngrtmp_{kind}`` name, which only the age-gated ``ngrtmp_*`` orphan
sweep matches.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time
import uuid
from typing import Iterable, Iterator

#: a leftover staging/retired dir is swept once its newest inner mtime
#: is this old, so a writer still in flight is never swept
SWEEP_AGE_S = 300.0


def _tag() -> str:
    return uuid.uuid4().hex[:8]


@contextlib.contextmanager
def staged(path: str) -> Iterator[str]:
    """Yield a fresh staging dir name ``{path}.staging-*`` beside
    ``path`` (same filesystem, so the publish rename is atomic). The
    dir is not created. Whatever is left at that name on exit — a
    failed write, a lost race — is removed; after a publish nothing
    is."""
    staging = f"{path}.staging-{_tag()}"
    try:
        yield staging
    finally:
        shutil.rmtree(staging, ignore_errors=True)


def carry(src: str, dst: str, skip: "Iterable[str]" = ()) -> None:
    """Hard-link the file or tree ``src`` at ``dst`` (same relative
    layout), copying where a link fails (another filesystem, no link
    support); a missing ``src`` raises. Names already present under
    ``dst`` are kept, and the entries of ``src`` named in ``skip``
    (the ones a caller rewrites) are not carried. A linked file shares
    its inode with the live copy: rewrite it by replacing the name,
    never in place."""
    if not os.path.isdir(src):
        os.makedirs(os.path.dirname(dst) or ".", exist_ok=True)
        _link(src, dst)
        return
    skip = set(skip)
    for dirpath, dirnames, filenames in os.walk(src, onerror=_raise):
        if dirpath == src:
            dirnames[:] = [n for n in dirnames if n not in skip]
            filenames = [n for n in filenames if n not in skip]
        out = os.path.normpath(os.path.join(dst, os.path.relpath(dirpath, src)))
        os.makedirs(out, exist_ok=True)
        for name in filenames:
            _link(os.path.join(dirpath, name), os.path.join(out, name))


def _raise(err: OSError) -> None:
    raise err  # a tree vanishing mid-carry must not pass as carried


def _link(src: str, dst: str) -> None:
    if os.path.lexists(dst):
        return
    try:
        os.link(src, dst)
    except OSError:
        shutil.copy2(src, dst)


def publish_once(staging: str, dest: str, marker: str) -> None:
    """Rename the complete dir ``staging`` to ``dest``, which should be
    absent. If ``dest`` exists and holds ``marker``, a concurrent
    builder won and its copy stays; without ``marker`` it is a torn
    leftover (a kill mid-rmtree, a pre-atomic writer) and is replaced.
    Raises when no complete ``dest`` results. ``staging`` never
    survives the call."""
    try:
        try:
            os.rename(staging, dest)
        except OSError:
            if os.path.exists(os.path.join(dest, marker)):
                return
            shutil.rmtree(dest, ignore_errors=True)
            try:
                os.rename(staging, dest)
            except OSError:
                # lost the repair race too: the winner must be complete
                if not os.path.exists(os.path.join(dest, marker)):
                    raise
    finally:
        shutil.rmtree(staging, ignore_errors=True)


def check_dest(path: str, marker: str) -> None:
    """Refuse a caller-chosen ``path`` that is a non-empty dir without
    ``marker``: it may be a foreign directory (an output folder, a
    graph store root), which ``publish_once``'s torn-dest repair would
    delete. Raises ``FileExistsError``; call it before the build."""
    if (
        os.path.isdir(path)
        and os.listdir(path)
        and not os.path.exists(os.path.join(path, marker))
    ):
        raise FileExistsError(
            f"{path} exists, is not empty and holds no {marker}; "
            "refusing to publish over it"
        )


def replace(path: str, staging: str) -> None:
    """Swap the complete dir ``staging`` in for ``path``: retire the
    live dir to ``{path}.retired-*``, rename staging in, remove the
    retired copy. An absent ``path`` is simply published. If another
    writer republishes ``path`` between the two renames, that copy is
    retired too and the rename retried (three attempts). On failure
    the newest retired copy is restored, staging is removed, and the
    error propagates."""
    retired: list[str] = []
    try:
        for attempt in range(3):
            gone = f"{path}.retired-{_tag()}"
            try:
                os.rename(path, gone)
                retired.append(gone)
            except FileNotFoundError:
                pass
            try:
                os.rename(staging, path)
                break
            except OSError:
                if attempt == 2:
                    raise
    except BaseException:
        if retired and not os.path.exists(path):
            os.rename(retired.pop(), path)
        shutil.rmtree(staging, ignore_errors=True)
        raise
    finally:
        for gone in retired:
            shutil.rmtree(gone, ignore_errors=True)


def retire(d: str) -> None:
    """Delete the published dir ``d`` as a unit: one rename makes it
    vanish (to ``{d}__old_*``), then the renamed copy is removed. A
    missing ``d`` is a no-op (a concurrent retire won)."""
    gone = f"{d}__old_{_tag()}"
    try:
        os.rename(d, gone)
    except OSError:
        return
    shutil.rmtree(gone, ignore_errors=True)


def _newest_mtime(root: str, max_depth: int = 3) -> float:
    """Newest mtime across a shallow walk of ``root``. The root's own
    mtime goes stale as soon as a long parquet write starts adding
    part files deeper inside; depth 3 reaches
    staging/table.parquet/part-*."""
    newest = os.path.getmtime(root)
    base_depth = root.rstrip(os.sep).count(os.sep)
    for dirpath, dirnames, filenames in os.walk(root):
        if dirpath.count(os.sep) - base_depth >= max_depth:
            dirnames[:] = []
            continue
        for name in dirnames + filenames:
            try:
                newest = max(newest, os.path.getmtime(os.path.join(dirpath, name)))
            except OSError:
                continue
    return newest


def sweep(dirs: Iterable[str]) -> None:
    """Remove each of ``dirs`` whose newest inner mtime is older than
    ``SWEEP_AGE_S`` — leftovers of killed writers, superseded
    generations. A dir that changed more recently may belong to a
    writer still in flight and is spared."""
    now = time.time()
    for d in dirs:
        try:
            if now - _newest_mtime(d) > SWEEP_AGE_S:
                shutil.rmtree(d, ignore_errors=True)
        except OSError:
            continue


def recover(path: str, marker: str) -> None:
    """Heal what killed writers leave beside ``path``: if no complete
    live dir exists (a kill between ``replace``'s two renames), rename
    the newest retired copy that holds ``marker`` back — a copy without
    it was half-removed by ``replace``'s cleanup and must never go
    live; then sweep stale ``{path}.staging-*`` and ``{path}.retired-*``
    siblings."""
    parent, base = os.path.dirname(path) or ".", os.path.basename(path)
    try:
        names = os.listdir(parent)
    except FileNotFoundError:
        return
    retired = [
        os.path.join(parent, n) for n in names if n.startswith(base + ".retired-")
    ]
    staging = [
        os.path.join(parent, n) for n in names if n.startswith(base + ".staging-")
    ]
    complete = [r for r in retired if os.path.exists(os.path.join(r, marker))]
    if complete and not os.path.exists(os.path.join(path, marker)):
        newest = max(complete, key=os.path.getmtime)
        try:
            os.rename(newest, path)
            retired.remove(newest)
        except OSError:
            pass  # a concurrent recovery won
    sweep(retired + staging)
