"""Pluggable filesystem seam for the binary I/O family.

The single-file exporters, shard writers, and binary readers
historically used raw ``open()``/``os`` calls, which is correct on
local[*] and on a shared POSIX mount but NOT on a real cluster reading
from / writing to HDFS or an object store. The reference routes every merge through the Hadoop FileSystem
API (util/FileMerger.scala:35,75 — works on any ``hdfs://``/``s3a://``
URI); this module is the equivalent seam for the PySpark rebuild:

- :class:`LocalFileSystem` — thin ``os`` wrappers, the default.
- :class:`ArrowFileSystem` — adapter over any ``pyarrow.fs``
  filesystem (S3/GCS/HDFS/Azure, or the in-memory mock in tests).
  pyarrow filesystems pickle by CONFIG, so a driver-resolved handle
  ships in a task closure and each executor opens its own connection —
  shard bytes stream executor→store directly, never through the
  driver.

Both backends need only streaming reads and writes: the single-file
concat (:func:`adam_spark.sources.merge.concat_files`) is one
sequential stream. Object stores have no positioned write, and on a
local disk a sequential append measured faster than parallel
positioned writes, so no backend offers them.

Coverage: the whole EXPORT family (shard writers, concat, index/
sidecar writes for SAM/BAM/VCF/BCF/CRAM/FASTA/feature formats) plus
the BAM and BCF READ families (full scans, indexed region queries,
.bai/.csi/.tbi reads, chunk reads, header streams, split decodes);
the remaining binary readers (CRAM/FASTA/2bit) still assume a shared
mount and follow the same mechanical conversion.

Resolution: :func:`get_fs` maps a path to ``(fs, stripped_path)`` —
plain paths to the local default, ``scheme://`` URIs first through the
:func:`register_filesystem` registry (tests, custom deployments), then
through ``pyarrow.fs.FileSystem.from_uri`` (``s3://``, ``hdfs://``,
``gs://``...). Resolution happens ONCE, driver-side; tasks receive the
resolved handle, never a URI, so executors need no registry.
"""

from __future__ import annotations

import fnmatch
import glob as _glob
import os
import posixpath
import shutil


class LocalFileSystem:
    """Default backend: the raw ``os`` calls the exporters always
    used, behind the shared interface."""

    def open_read(self, path):
        return open(path, "rb")

    def open_write(self, path):
        return open(path, "wb")

    def size(self, path) -> int:
        return os.path.getsize(path)

    def exists(self, path) -> bool:
        return os.path.exists(path)

    def isdir(self, path) -> bool:
        return os.path.isdir(path)

    def glob(self, pattern) -> list[str]:
        return sorted(_glob.glob(pattern))

    def makedirs(self, path) -> None:
        os.makedirs(path, exist_ok=True)

    def remove(self, path) -> None:
        os.remove(path)

    def rmtree(self, path) -> None:
        shutil.rmtree(path, ignore_errors=True)

    def rmdir(self, path) -> None:
        try:
            os.rmdir(path)
        except OSError:
            pass

    def touch(self, path) -> None:
        open(path, "w").close()

    def join(self, *parts) -> str:
        return os.path.join(*parts)


class ArrowFileSystem:
    """Adapter over a ``pyarrow.fs.FileSystem`` (S3, GCS, HDFS, Azure,
    or the in-memory mock). Picklable iff the wrapped filesystem is —
    every pyarrow-native one pickles by config, which is what lets a
    driver-resolved handle ride a task closure to the executors."""

    def __init__(self, fs):
        self._fs = fs

    def open_read(self, path):
        # input_file (random access) rather than input_stream: the
        # indexed readers seek
        return self._fs.open_input_file(path)

    def open_write(self, path):
        return self._fs.open_output_stream(path)

    def size(self, path) -> int:
        return self._fs.get_file_info(path).size

    def exists(self, path) -> bool:
        from pyarrow.fs import FileType

        return self._fs.get_file_info(path).type != FileType.NotFound

    def isdir(self, path) -> bool:
        from pyarrow.fs import FileType

        return self._fs.get_file_info(path).type == FileType.Directory

    def glob(self, pattern) -> list[str]:
        # arrow has no glob; list the parent prefix and fnmatch —
        # exporter patterns are always <dir>/<name-glob>
        from pyarrow.fs import FileSelector, FileType

        base = posixpath.dirname(pattern)
        info = self._fs.get_file_info(base)
        if info.type == FileType.NotFound:
            return []
        sel = FileSelector(base, recursive=False, allow_not_found=True)
        return sorted(
            f.path
            for f in self._fs.get_file_info(sel)
            if fnmatch.fnmatch(f.path, pattern)
        )

    def makedirs(self, path) -> None:
        self._fs.create_dir(path, recursive=True)

    def remove(self, path) -> None:
        self._fs.delete_file(path)

    def rmtree(self, path) -> None:
        from pyarrow.fs import FileType

        if self._fs.get_file_info(path).type != FileType.NotFound:
            self._fs.delete_dir(path)

    def rmdir(self, path) -> None:
        self.rmtree(path)

    def touch(self, path) -> None:
        self._fs.open_output_stream(path).close()

    def join(self, *parts) -> str:
        return posixpath.join(*parts)


_LOCAL = LocalFileSystem()
_SCHEMES: dict[str, object] = {}


def register_filesystem(scheme: str, fs) -> None:
    """Map ``scheme://`` paths to a filesystem instance (tests wire an
    in-memory backend; deployments can wire a pre-configured client)."""
    _SCHEMES[scheme] = fs


def unregister_filesystem(scheme: str) -> None:
    _SCHEMES.pop(scheme, None)


def get_fs(path: str, fs=None):
    """Resolve ``(filesystem, path-without-scheme)`` for a save/load
    target. An explicit ``fs`` short-circuits. Called ONCE on the
    driver; the resolved handle travels in task closures."""
    if fs is not None:
        return fs, _strip_scheme(path)
    if "://" not in path:
        return _LOCAL, path
    scheme = path.split("://", 1)[0]
    if scheme in ("file", ""):
        return _LOCAL, path.split("://", 1)[1]
    if scheme in _SCHEMES:
        return _SCHEMES[scheme], path.split("://", 1)[1]
    from pyarrow.fs import FileSystem as _AFS

    afs, stripped = _AFS.from_uri(path)
    return ArrowFileSystem(afs), stripped


def _strip_scheme(path: str) -> str:
    return path.split("://", 1)[1] if "://" in path else path
