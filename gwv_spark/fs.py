"""The one storage layer: every list, stat, read, write, rename and
delete in ``gwv_spark`` goes through the Hadoop ``FileSystem`` of the
path's scheme, as Spark's own readers and writers do.  Paths are
strings; the ones returned are qualified as Hadoop spells them
(``file:/x/y``, never percent-encoded), so every spelling of one file
compares equal.  A name starting with ``_`` or ``.`` is hidden, as in
Spark's file index: listings skip it and never descend into it.
"""

from __future__ import annotations

import json
from typing import Iterator, NamedTuple

from pyspark import SparkContext


class Status(NamedTuple):
    path: str
    length: int
    mtime: int  # ms
    is_dir: bool

    @property
    def name(self) -> str:
        return self.path.rsplit("/", 1)[-1]


def _context(what: str):
    sc = SparkContext._active_spark_context
    if sc is None:
        raise RuntimeError(f"no active SparkContext to resolve {what!r} with")
    return sc


def _resolve(path: str):
    sc = _context(path)
    p = sc._jvm.org.apache.hadoop.fs.Path(str(path))
    return p.getFileSystem(sc._jsc.hadoopConfiguration()), p


def _status(st) -> Status:
    return Status(st.getPath().toString(), st.getLen(), st.getModificationTime(), st.isDirectory())


def from_uri(uri: str) -> str:
    """The path named by a percent-encoded URI, such as the ones
    ``DataFrame.inputFiles()`` returns (``file:///a/sp%20ace``), spelled
    as this module spells paths (``file:/a/sp ace``).  A path string is
    never decoded: ``%20`` may be part of a file's name."""
    jvm = _context(uri)._jvm
    return jvm.org.apache.hadoop.fs.Path(jvm.java.net.URI(uri)).toString()


def status(path: str) -> Status | None:
    """The entry at ``path``, or None if there is none."""
    fs, p = _resolve(path)
    return _status(fs.getFileStatus(p)) if fs.exists(p) else None


def exists(path: str) -> bool:
    fs, p = _resolve(path)
    return bool(fs.exists(p))


def children(path: str) -> list[Status]:
    """The visible entries of directory ``path`` (none if absent)."""
    fs, p = _resolve(path)
    if not fs.exists(p):
        return []
    return sorted(s for s in map(_status, fs.listStatus(p)) if not s.name.startswith(("_", ".")))


def files(root: str) -> Iterator[Status]:
    """The visible files under ``root`` (itself if a file), recursively
    and lazily: a caller asking whether there is any stops at one."""
    todo = [st] if (st := status(root)) else []
    while todo:
        st = todo.pop()
        if st.is_dir:
            todo.extend(reversed(children(st.path)))
        else:
            yield st


def delete(path: str) -> None:
    """Delete ``path`` recursively; an absent path is a no-op."""
    fs, p = _resolve(path)
    fs.delete(p, True)


def rename(src: str, dst: str) -> None:
    fs, p = _resolve(src)
    if not fs.rename(p, _resolve(dst)[1]):
        raise OSError(f"rename {src} -> {dst} failed")


def read_json(path: str):
    fs, p = _resolve(path)
    stream = fs.open(p)
    try:
        return json.loads(stream.readAllBytes())
    finally:
        stream.close()


def _write(path: str, data: bytes) -> None:
    fs, p = _resolve(path)
    stream = fs.create(p, True)
    try:
        stream.write(data)
    finally:
        stream.close()


def write_json(path: str, obj) -> None:
    """Write ``obj`` to a hidden temp beside ``path``, then rename it into
    place: a crash mid-write leaves no torn ``path``."""
    parent, name = str(path).rstrip("/").rsplit("/", 1)
    tmp = f"{parent}/.{name}.tmp"
    _write(tmp, json.dumps(obj).encode())
    rename(tmp, f"{parent}/{name}")
