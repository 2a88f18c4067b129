"""Filesystem seam for capture IO (round-2 VERDICT #4).

At 100 TB, captures live in object storage, not on executor-local disks.
Every byte the engine touches — the driver's size-only split planning and
the executors' open/seek/read — goes through this tiny interface, so
byte-range splitting works against S3/HDFS/GCS exactly as it does against
local files: swap the filesystem, keep the plan.

Resolution order for a path:

- `memory://...`  -> the in-process MemoryFilesystem (tests; also the
  reference implementation of the contract),
- `scheme://...`  -> fsspec when importable (s3://, gs://, hdfs://, ...),
  else pyarrow.fs (ships with pyspark — covers s3/hdfs/gcs without any
  extra dependency),
- bare paths      -> LocalFilesystem (plain os/open; zero overhead on the
  hot path).

The contract is deliberately minimal — `open(path)` returning a seekable
binary file and `size(path)`/`exists(path)` — because that is ALL the
split machinery needs: `byte_range_partitions` plans from size alone and
the record core (`native.open_record_batches`) seeks/reads within one
slice.
"""

from __future__ import annotations

import io
import os


class LocalFilesystem:
    """os/open passthrough for bare and file:// paths (the hot default)."""

    @staticmethod
    def _p(path: str) -> str:
        return path[7:] if path.startswith("file://") else path

    def open(self, path: str):
        return open(self._p(path), "rb")

    def size(self, path: str) -> int:
        return os.path.getsize(self._p(path))

    def exists(self, path: str) -> bool:
        return os.path.exists(self._p(path))


class MemoryFilesystem:
    """In-process `memory://` store: a process-global dict keyed by full
    URL. Unit tests plan/split/dissect captures through it to prove the
    byte-range machinery never assumes a real OS file (note: per-process —
    Spark's executor workers don't share it, so it's a seam-contract test
    vehicle, not a way to ship data to a cluster)."""

    _store: dict[str, bytes] = {}

    @classmethod
    def put(cls, path: str, data: bytes) -> None:
        cls._store[path] = bytes(data)

    @classmethod
    def clear(cls) -> None:
        cls._store.clear()

    def open(self, path: str):
        try:
            return io.BytesIO(self._store[path])
        except KeyError:
            raise FileNotFoundError(path) from None

    def size(self, path: str) -> int:
        try:
            return len(self._store[path])
        except KeyError:
            raise FileNotFoundError(path) from None

    def exists(self, path: str) -> bool:
        return path in self._store


class FsspecFilesystem:
    """Remote schemes via fsspec (s3://, gs://, hdfs://, ...)."""

    def __init__(self, scheme: str):
        import fsspec

        self._fs = fsspec.filesystem(scheme)

    def open(self, path: str):
        return self._fs.open(path, "rb")

    def size(self, path: str) -> int:
        return self._fs.size(path)

    def exists(self, path: str) -> bool:
        return self._fs.exists(path)


class ArrowFilesystem:
    """Remote schemes via pyarrow.fs when fsspec is absent (pyarrow ships
    with pyspark, so s3/hdfs/gcs work with zero extra installs)."""

    def __init__(self, path: str):
        from pyarrow import fs as pafs

        self._fs, self._strip = pafs.FileSystem.from_uri(path)

    def _rel(self, path: str) -> str:
        # from_uri returns the in-filesystem path for the probe URI; map
        # other URIs of the same scheme by dropping scheme://authority
        from pyarrow import fs as pafs

        _, rel = pafs.FileSystem.from_uri(path)
        return rel

    def open(self, path: str):
        return self._fs.open_input_file(self._rel(path))

    def size(self, path: str) -> int:
        return self._fs.get_file_info(self._rel(path)).size

    def exists(self, path: str) -> bool:
        from pyarrow import fs as pafs

        info = self._fs.get_file_info(self._rel(path))
        return info.type != pafs.FileType.NotFound


_LOCAL = LocalFilesystem()
_MEMORY = MemoryFilesystem()


def path_scheme(path: str) -> str:
    """'' for bare/local paths, else the URL scheme ('s3', 'memory', ...).
    Windows drive letters and plain relative paths have no '://'."""
    head, sep, _ = path.partition("://")
    return head.lower() if sep else ""


def filesystem_for(path: str):
    """The CaptureFilesystem that owns `path` (see module docstring)."""
    scheme = path_scheme(path)
    if scheme in ("", "file"):
        return _LOCAL
    if scheme == "memory":
        return _MEMORY
    try:
        return FsspecFilesystem(scheme)
    except ImportError:
        return ArrowFilesystem(path)
