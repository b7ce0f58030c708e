"""File-version signatures for driver-side caches keyed by path.

A value derived from files on disk (a parquet footer's row-group count,
an inferred schema, the detected unit of a timestamp column) stays valid
only while those files are unchanged. Every such cache uses the one
definition of "same file version" here: the ``(st_ino, st_mtime_ns,
st_size)`` of each data file. A rewrite in place changes the mtime (and
usually the size); a replace-by-rename changes the inode; a file added
to or removed from a directory changes the set. Not detected: a rewrite
in place that keeps the inode and the size and lands within the
filesystem's timestamp granularity of the previous write.

Each cache holds ONE entry per path, storing the signature beside the
value, so a rewrite replaces the entry instead of adding one; and each
is cleared when it reaches its bound, so a long-lived driver reading
ever new (uuid-named) paths cannot grow it without limit.
"""

from __future__ import annotations

import os
from typing import Any

Signature = tuple[tuple[int, int, int], ...]


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


def remember(cache: dict[str, Any], bound: int, key: str, value: Any) -> None:
    """``cache[key] = value``, clearing the cache first when a new key
    would take it past ``bound`` (blunt but bounded: a refill costs one
    recomputation per path)."""
    if key not in cache and len(cache) >= bound:
        cache.clear()
    cache[key] = value
