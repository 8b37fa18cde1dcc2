"""The one writer behind the directory and static-data sinks.

A sink first renders its whole tree in memory as a plan: a dict from a
normalised relative path (``tree_path``) to the file's bytes, filled in
the sink's order, so a later entry for the same path replaces an earlier
one. ``write_tree`` then creates each planned directory and writes its
files on a thread pool; creates in different directories overlap in the
kernel, where a serial loop waits on each in turn.

Escape rule: nothing written may land outside the root. ``tree_path``
refuses a path that is absolute or climbs above the root. ``write_tree``
refuses a symlink anywhere under the root on a planned path: each
directory component is checked once, when ``mkdir`` finds it already
there, and each file is opened with ``O_NOFOLLOW``. The root itself may
be a symlink.

Planned paths are written as UTF-8 bytes whatever the process's locale:
under an ASCII filesystem encoding ``os.mkdir("ingest-\u00fc")`` raises
``UnicodeEncodeError``, and the tree's bytes would depend on the locale.
"""

from __future__ import annotations

import errno
import os
import posixpath
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

_CREATE = os.O_WRONLY | os.O_CREAT | os.O_TRUNC | os.O_NOFOLLOW | os.O_CLOEXEC


def tree_path(*parts: str) -> str:
    """``parts`` joined and normalised into a path relative to the root;
    ``ValueError`` if it is absolute or leaves the root."""
    rel = posixpath.normpath(posixpath.join(*parts))
    if posixpath.isabs(rel) or rel == ".." or rel.startswith("../"):
        raise ValueError(f"unsafe path escape: {parts}")
    return rel


def _symlink_error(root: bytes, rel: bytes) -> ValueError:
    return ValueError(
        f"unsafe path escape: {rel.decode()!r} under {os.fsdecode(root)} is a symlink"
    )


def write_tree(root: str | Path, files: dict[str, bytes]) -> None:
    """Create ``root`` and write every ``files`` entry (``tree_path`` ->
    bytes) under it, one pool job per directory."""
    root = os.fsencode(root)
    os.makedirs(root, exist_ok=True)
    by_dir: dict[bytes, list[tuple[bytes, bytes]]] = {}
    for rel, data in files.items():
        parent, _, name = rel.encode("utf-8").rpartition(b"/")
        by_dir.setdefault(parent, []).append((name, data))
    # directories known to be real directories under the root; two jobs
    # that race on one only repeat its check
    made = {b""}

    def make_dirs(rel: bytes) -> None:
        if rel in made:
            return
        make_dirs(rel.rpartition(b"/")[0])
        try:
            os.mkdir(os.path.join(root, rel))
        except FileExistsError:
            if os.path.islink(os.path.join(root, rel)):
                raise _symlink_error(root, rel) from None
        made.add(rel)

    def write_dir(rel: bytes, entries: list[tuple[bytes, bytes]]) -> None:
        make_dirs(rel)
        for name, data in entries:
            path = os.path.join(root, rel, name)
            try:
                fd = os.open(path, _CREATE, 0o666)
            except OSError as e:
                if e.errno == errno.ELOOP:
                    raise _symlink_error(root, posixpath.join(rel, name)) from None
                raise
            with open(fd, "wb") as f:
                f.write(data)

    with ThreadPoolExecutor() as pool:
        for job in [pool.submit(write_dir, rel, entries) for rel, entries in by_dir.items()]:
            job.result()
