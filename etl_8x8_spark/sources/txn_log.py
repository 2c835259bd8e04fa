"""The transaction-log protocol shared by every log-committed table.

A table is a directory of immutable data files plus an ordered log in
its ``_log`` subdirectory. Commit ``N`` is the JSON record
``NNNNN.json`` holding ``adds`` and ``removes`` (and whatever metadata
the table keeps beside them: schema, file stats, deletion vectors).
The table AS OF version N is the fold of commits 0..N; removes are
logical, so every prefix of the log stays readable.

Publishing is create-if-absent: the record is staged in a private tmp
file and hard-linked to its final name. ``os.link`` fails with EEXIST
when the version is taken, so a losing writer learns it lost instead
of silently replacing the winner's record (``os.rename`` would), and a
reader never sees a half-written record. A crash before the link
leaves only a tmp file, which readers skip.

Side records that are not commits (a checkpoint of the folded live
set, a vacuum audit) sit in the same directory as
``NNNNN.<kind>.json`` and are published the same way.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid
from collections.abc import Iterable, Iterator

LOG = "_log"


def _suffix(kind: str | None) -> str:
    return f".{kind}.json" if kind else ".json"


def _name(version: int, kind: str | None) -> str:
    return f"{version:05d}{_suffix(kind)}"


def log_of(base: str) -> str:
    return os.path.join(base, LOG)


def reset(base: str) -> str:
    """Wipe ``base`` and give it an empty log; returns the log dir."""
    if os.path.exists(base):
        shutil.rmtree(base)
    os.makedirs(log_of(base))
    return log_of(base)


def commit(
    log_dir: str, version: int, rec: dict, kind: str | None = None
) -> bool:
    """Publish ``rec`` at ``version``; False iff that slot is taken
    (the existing record is left untouched)."""
    name = _name(version, kind)
    tmp = os.path.join(log_dir, f"{name}.{uuid.uuid4().hex}.tmp")
    with open(tmp, "w") as f:
        json.dump(rec, f)
    try:
        os.link(tmp, os.path.join(log_dir, name))
        return True
    except FileExistsError:
        return False
    finally:
        os.unlink(tmp)


def commit_or_raise(
    log_dir: str, version: int, rec: dict, kind: str | None = None
) -> None:
    """:func:`commit` for a table with a single writer, where a taken
    slot means a second writer is building the same table."""
    if not commit(log_dir, version, rec, kind):
        raise FileExistsError(f"{log_dir}: version {version} already taken")


def versions(log_dir: str, kind: str | None = None) -> list[int]:
    """Published versions in order, without parsing any record."""
    pat = re.compile(rf"^(\d{{5,}}){re.escape(_suffix(kind))}$")
    return sorted(
        int(m[1]) for m in map(pat.match, os.listdir(log_dir)) if m
    )


def append(log_dir: str, rec: dict) -> int:
    """Commit ``rec`` at the next free version and return it. For
    blind appends only: they conflict with nothing, so a lost slot is
    simply retried at the next one."""
    v = (versions(log_dir) or [-1])[-1] + 1
    while not commit(log_dir, v, rec):
        v += 1
    return v


def read(log_dir: str, version: int, kind: str | None = None) -> dict:
    with open(os.path.join(log_dir, _name(version, kind))) as f:
        return json.load(f)


def records(
    log_dir: str, upto: int | None = None, after: int = -1
) -> Iterator[tuple[int, dict]]:
    """Yield ``(version, commit record)`` for ``after < version <=
    upto`` in version order. Only published commits are read: tmp
    files and side records are skipped, and a torn record raises."""
    for v in versions(log_dir):
        if upto is not None and v > upto:
            break
        if v > after:
            yield v, read(log_dir, v)


def add_path(add: str | dict) -> str:
    """An add entry is a bare path or a dict carrying ``path``."""
    return add["path"] if isinstance(add, dict) else add


def live_adds(
    recs: Iterable[tuple[int, dict]], live: Iterable = ()
) -> dict[str, str | dict]:
    """Fold ``(version, record)`` pairs onto ``live`` (the adds of an
    earlier snapshot, e.g. a checkpoint) and return the live add
    entries keyed by path, in the order they were added. Removing a
    path that is not live raises: the log is inconsistent."""
    out = {add_path(a): a for a in live}
    for v, rec in recs:
        for r in rec["removes"]:
            if r not in out:
                raise ValueError(f"v{v} removes {r!r}, which is not live")
            del out[r]
        for a in rec["adds"]:
            out[add_path(a)] = a
    return out


def live_paths(base: str, upto: int | None = None) -> list[str]:
    """The table at ``base`` as of version ``upto`` (default: the
    latest): its live data paths joined onto ``base``, in add order.
    The fold starts from the latest checkpoint at or before ``upto``,
    so the commits it covers are never parsed."""
    log_dir = log_of(base)
    ckpts = [
        v for v in versions(log_dir, "checkpoint") if upto is None or v <= upto
    ]
    after, live = -1, []
    if ckpts:
        after = ckpts[-1]
        live = read(log_dir, after, "checkpoint")["live"]
    adds = live_adds(records(log_dir, upto, after), live)
    return [os.path.join(base, p) for p in adds]
