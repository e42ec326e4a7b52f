"""Write-once rewrites committed by directory rename.

A stateful parquet table (the warehouse, the serving and sketch
states) is rewritten from a DataFrame that may itself read the table.
``rewrite`` writes the new content exactly once, into a stage that
sits INSIDE the table, and commits it by renaming directories:

- the stage is ``<table>/_rewrite-parts-<id>`` (partitioned) or
  ``<table>/_rewrite-table-<id>`` (whole table).  The name starts with
  ``_`` and holds no ``=``, so Spark's file listing of the table skips
  it and everything under it; every write owns a fresh id, so two
  writers never share a stage;
- partitioned: each staged ``col=v`` directory replaces the live one
  with two renames (live → ``<stage>/_parked/col=v``, staged → live),
  then the parked copy is deleted.  The parked copy lives inside the
  stage, so no listing of the table ever reaches it (a parked
  ``_old-col=v`` next to the live partitions would be listed as a
  bogus partition).  Untouched partitions are never read or written;
- whole table: the table renames to ``<table>__old`` (taking the stage
  inside it along), the stage renames into place, the old tree is
  deleted.

A crash can stop a commit between any two steps.  The one harmful
state is a live entry renamed away before its staged copy arrived: a
reader then sees the table WITHOUT it, and a writer that merged into
that read would lose it for good.  So a writer calls
``finish_interrupted_swaps`` before it reads the table it will
rewrite: a stage whose write committed (``_SUCCESS``) is rolled
forward, an uncommitted one is deleted.  ``pending_swaps`` is the
read-only half of that recovery, shared with ``operators.fsck``.

One writer per table at a time: recovery deletes an uncommitted stage,
which would be the in-flight write of a concurrent writer.
"""

from __future__ import annotations

import os
import shutil
import uuid
from typing import NamedTuple

from pyspark.sql import DataFrame

STAGE_PREFIX = "_rewrite-"
_PARTS = STAGE_PREFIX + "parts-"
_TABLE = STAGE_PREFIX + "table-"
_PARKED = "_parked"

# every directory move of a commit goes through here (tests inject a
# crash at the k-th call)
_rename = os.rename


def _swap_tree(stage: str, target: str, parked: str | None = None) -> None:
    """Replace ``target`` with its staged rewrite ``stage``: two atomic
    renames (target → ``parked``, default ``<target>__old``; stage →
    target), then delete the parked copy.  A target that does not exist
    yet takes the stage with one rename; a stage inside the target
    moves with it on the first rename.  A crash leaves either the old
    tree live (stage intact, retry safe) or, in the two-rename window,
    the target absent with BOTH copies on disk — never a half-merged
    tree."""
    parked = parked or target.rstrip("/") + "__old"
    shutil.rmtree(parked, ignore_errors=True)
    if not os.path.exists(target):
        _rename(stage, target)
        return
    _rename(target, parked)
    inner = target.rstrip("/") + os.sep
    if stage.startswith(inner):
        stage = os.path.join(parked, stage[len(inner):])
    _rename(stage, target)
    shutil.rmtree(parked)


class Pending(NamedTuple):
    """One stage (or parked tree) an interrupted rewrite left behind."""

    stage: str | None  # the stage directory (None: only a parked tree is left)
    complete: bool  # its write committed: roll it forward, else delete it
    missing: tuple  # (live, staged) pairs: live absent, staged copy waiting
    parked: tuple  # parked copies whose live entry is back: only disk to free


def _complete(stage: str) -> bool:
    return os.path.isfile(os.path.join(stage, "_SUCCESS"))


def _stages(d: str) -> list[str]:
    return sorted(
        os.path.join(d, e) for e in os.listdir(d) if e.startswith(STAGE_PREFIX)
    )


def pending_swaps(path: str) -> list[Pending]:
    """Read-only: every interrupted rewrite of the table at ``path``,
    whole-table first (it decides whether ``path`` exists at all)."""
    out = []
    old = path.rstrip("/") + "__old"
    if os.path.isdir(old):
        if os.path.isdir(path):  # stopped after both renames
            out.append(Pending(None, False, (), (old,)))
        else:  # stopped between them: the stage waits inside the parked tree
            for s in _stages(old):
                out.append(Pending(s, True, ((path, s),), ()))
    if os.path.isdir(path):
        for s in _stages(path):
            pdir = os.path.join(s, _PARKED)
            names = sorted(os.listdir(pdir)) if os.path.isdir(pdir) else []
            back = {n for n in names if os.path.exists(os.path.join(path, n))}
            missing = tuple(
                (os.path.join(path, n), os.path.join(s, n)) for n in names if n not in back
            )
            parked = tuple(os.path.join(pdir, n) for n in names if n in back)
            # a rename only follows a committed write: a stage that has
            # parked anything is committed even without its marker
            out.append(Pending(s, bool(names) or _complete(s), missing, parked))
    return out


def _commit(stage: str, path: str) -> None:
    """Move a committed stage's content into ``path`` (also the
    roll-forward of a commit a crash stopped part way)."""
    if os.path.basename(stage).startswith(_TABLE):
        if os.path.isdir(path):
            _swap_tree(stage, path)
        else:  # stopped between the renames: the stage waits in the parked tree
            _rename(stage, path)
            shutil.rmtree(path.rstrip("/") + "__old")
        return
    pdir = os.path.join(stage, _PARKED)
    if os.path.isdir(pdir):
        for n in sorted(os.listdir(pdir)):
            if not os.path.exists(os.path.join(path, n)):
                _rename(os.path.join(stage, n), os.path.join(path, n))
            shutil.rmtree(os.path.join(pdir, n))
    for n in sorted(os.listdir(stage)):
        if "=" in n:
            os.makedirs(pdir, exist_ok=True)
            _swap_tree(os.path.join(stage, n), os.path.join(path, n), os.path.join(pdir, n))
    shutil.rmtree(stage)


def finish_interrupted_swaps(path: str) -> None:
    """Roll every committed stage of ``path`` forward and delete the
    uncommitted ones, so the table is whole before a writer reads it.
    Costs a directory listing when nothing is pending."""
    for p in pending_swaps(path):
        if p.stage is None:
            for d in p.parked:
                shutil.rmtree(d)
        elif p.complete:
            _commit(p.stage, path)
        else:  # nothing of it reached the table
            shutil.rmtree(p.stage)
    if os.path.isdir(path) and not os.listdir(path):
        os.rmdir(path)  # a first write that never committed


def rewrite(df: DataFrame, path: str, partition_by: str | None = None) -> None:
    """Replace ``path`` (whole table) or the ``partition_by``
    partitions present in ``df`` with ``df``'s rows: one parquet write
    into a fresh stage inside ``path``, then the rename commit.  Rows
    are written in ``df``'s physical order; the caller clusters or
    sorts.  Partitions absent from ``df`` keep their bytes."""
    finish_interrupted_swaps(path)
    stage = os.path.join(path, (_PARTS if partition_by else _TABLE) + uuid.uuid4().hex)
    w = df.write
    if partition_by:
        w = w.partitionBy(partition_by)
    w.parquet(stage)
    _commit(stage, path)
