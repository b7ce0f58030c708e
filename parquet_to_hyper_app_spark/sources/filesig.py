"""File-version signatures for driver-side caches keyed by path.

A value derived from files on disk (a parquet footer's row-group count,
an inferred schema and its nanosecond timestamp columns) stays valid
only while those files are unchanged. Every such cache uses the one
definition of "same file version" here: the ``(st_ino, st_mtime_ns,
st_size)`` of each data file. A rewrite in place changes the mtime (and
usually the size); a replace-by-rename changes the inode; a file added
to or removed from a directory changes the set. Not detected: a rewrite
in place that keeps the inode and the size and lands within the
filesystem's timestamp granularity of the previous write.

Every such value lives in one cache, `memo`: ONE entry per (kind,
path), storing the signature beside the value, so a rewrite replaces
the entry instead of adding one; the cache is cleared when it reaches
its bound, so a long-lived driver reading ever new (uuid-named) paths
cannot grow it without limit.
"""

from __future__ import annotations

import os
from typing import Any, Callable, TypeVar

Signature = tuple[tuple[int, int, int], ...]
T = TypeVar("T")

#: (kind, absolute path) → (signature, extra, value)
_MEMO: dict[tuple[str, str], tuple[Signature, tuple, Any]] = {}
_MEMO_MAX = 8192


def local_path(uri: str) -> str | None:
    """Filesystem path of ``uri`` (a bare path or a ``file:`` URI);
    None for any other scheme (object stores, HDFS)."""
    if uri.startswith("file://"):
        return uri[len("file://"):]
    if uri.startswith("file:"):
        return uri[len("file:"):]
    if "://" in uri:
        return None
    return uri


def _hidden(name: str) -> bool:
    """Names Spark's file listing skips inside a table directory
    (``_SUCCESS``, ``.crc`` side files, ``_temporary``)."""
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def signature(path: str) -> Signature | None:
    """``(st_ino, st_mtime_ns, st_size)`` of every data file at
    ``path``: the file itself, or every file under a directory, sorted.
    None when ``path`` (or a file under it) cannot be stat'ed."""
    try:
        st = os.stat(path)
        if not os.path.isdir(path):
            return ((st.st_ino, st.st_mtime_ns, st.st_size),)
        sig = []
        for base, dirs, files in os.walk(path):
            dirs[:] = [d for d in dirs if not _hidden(d)]
            for f in files:
                if not _hidden(f):
                    st = os.stat(os.path.join(base, f))
                    sig.append((st.st_ino, st.st_mtime_ns, st.st_size))
    except OSError:
        return None
    return tuple(sorted(sig))


def memo(kind: str, path: str, compute: Callable[[], T], extra: tuple = ()) -> T:
    """``compute()``, derived from the files at ``path``: cached under
    ``(kind, path)`` while their signature and ``extra`` (any other
    input the value depends on, e.g. session confs) are unchanged. A
    remote path, or one that cannot be stat'ed, is computed on every
    call; a ``compute`` that raises stores nothing. Cleared when a new
    entry would take the cache past its bound (blunt but bounded: a
    refill costs one recomputation per path)."""
    local = local_path(path)
    sig = signature(local) if local is not None else None
    if sig is None:
        return compute()
    key = (kind, os.path.abspath(local))
    hit = _MEMO.get(key)
    if hit is not None and hit[0] == sig and hit[1] == extra:
        return hit[2]
    value = compute()
    if key not in _MEMO and len(_MEMO) >= _MEMO_MAX:
        _MEMO.clear()
    _MEMO[key] = (sig, extra, value)
    return value
