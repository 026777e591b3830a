"""Pluggable file IO: the one way the driver-side metadata plane of
both table formats (Iceberg metadata/manifests and the Delta log)
touches storage.

Reference: io/io.go:48-64 (interface), io/local.go (local FS),
io/io.go:199-297 (S3 + scheme inference, properties like
`s3.region-name`/`s3.access-key-id`). Local + file:// is fully
implemented; S3 resolves through fsspec/s3fs when installed and
otherwise raises with the same property contract, while
executor-side data reads always go through Spark's own Hadoop FS layer
(`fs.s3a.*`), which needs no Python S3 client.

The protocol and what each method guarantees:

* ``read(path) -> bytes`` — the whole object; ``FileNotFoundError``
  when absent.
* ``write(path, data)`` — atomic replace: a reader sees the old bytes
  or the new ones, never a prefix (local: unique temp file + rename).
  Parent directories are created as needed.
* ``create(path, data)`` — atomic put-if-absent, the commit primitive
  of both formats' logs: ``FileExistsError`` when ``path`` exists, and
  a crash mid-write never leaves a torn ``path`` (local: the bytes go
  to a temp file that is then hard-linked to the final name, which
  fails if the name exists). Object stores have no portable
  put-if-absent, so ``S3FileIO.create`` refuses.
* ``remove(path)`` / ``remove_dir(path)`` — delete one file / a tree
  (``remove_dir`` ignores a missing tree).
* ``exists(path) -> bool``.
* ``info(path) -> FileInfo`` — size in bytes and modification time in
  integer milliseconds since the epoch; ``FileNotFoundError`` when
  absent.
* ``open_input(path)`` — a seekable binary stream (a context manager),
  so footer readers such as pyarrow fetch only the bytes they need.
* ``list_dir(path) -> [name]`` — child basenames; ``[]`` for a missing
  directory.
* ``list_prefix(prefix) -> [FileInfo]`` — every file at or under
  ``prefix`` (recursive, files only, sorted by path), with the same
  ``mtime_ms`` unit as ``info``; ``[]`` when nothing is there.
"""

from __future__ import annotations

import os
import uuid
from dataclasses import dataclass
from typing import BinaryIO, Protocol
from urllib.parse import urlparse

S3_REGION = "s3.region-name"
S3_ACCESS_KEY = "s3.access-key-id"
S3_SECRET_KEY = "s3.secret-access-key"
S3_SESSION_TOKEN = "s3.session-token"
S3_ENDPOINT = "s3.endpoint"
S3_PROXY = "s3.proxy-uri"


@dataclass(frozen=True)
class FileInfo:
    path: str
    size: int
    mtime_ms: int


class FileIO(Protocol):
    def read(self, path: str) -> bytes: ...
    def write(self, path: str, data: bytes) -> None: ...
    def create(self, path: str, data: bytes) -> None: ...
    def remove(self, path: str) -> None: ...
    def exists(self, path: str) -> bool: ...
    def info(self, path: str) -> FileInfo: ...
    def open_input(self, path: str) -> BinaryIO: ...
    def list_dir(self, path: str) -> list[str]: ...
    def list_prefix(self, prefix: str) -> list[FileInfo]: ...
    def remove_dir(self, path: str) -> None: ...


def strip_scheme(path: str) -> str:
    p = urlparse(path)
    if p.scheme in ("", "file"):
        return p.path or path
    return path


class LocalFileIO:
    """(reference io/local.go:22-30)"""

    def read(self, path: str) -> bytes:
        with open(strip_scheme(path), "rb") as f:
            return f.read()

    def _put(self, path: str, data: bytes, install) -> None:
        """Write ``data`` to a temp file beside ``path``, then
        ``install(tmp, path)``. The temp name is unique per writer: a
        FIXED path+'.tmp' let two concurrent committers (e.g. both
        bumping version-hint.text) interleave writes into one temp file
        and atomically install garbage (r6)."""
        path = strip_scheme(path)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
        try:
            with open(tmp, "wb") as f:
                f.write(data)
            install(tmp, path)
        finally:
            if os.path.exists(tmp):
                os.remove(tmp)

    def write(self, path: str, data: bytes) -> None:
        self._put(path, data, os.replace)

    def create(self, path: str, data: bytes) -> None:
        self._put(path, data, os.link)

    def remove(self, path: str) -> None:
        os.remove(strip_scheme(path))

    def exists(self, path: str) -> bool:
        return os.path.exists(strip_scheme(path))

    def info(self, path: str) -> FileInfo:
        path = strip_scheme(path)
        st = os.stat(path)
        return FileInfo(path, st.st_size, int(st.st_mtime * 1000))

    def open_input(self, path: str) -> BinaryIO:
        import pyarrow as pa

        # a native file: pyarrow's readers then never call back into
        # Python for bytes, so they never wait on the GIL, which the
        # driver's py4j threads also hold
        return pa.OSFile(strip_scheme(path))

    def list_dir(self, path: str) -> list[str]:
        try:
            return os.listdir(strip_scheme(path))
        except OSError:
            return []

    def list_prefix(self, prefix: str) -> list[FileInfo]:
        root = strip_scheme(prefix)
        if os.path.isfile(root):
            return [self.info(root)]
        out = []
        for dirpath, _dirs, files in os.walk(root):
            for fn in files:
                try:
                    out.append(self.info(os.path.join(dirpath, fn)))
                except FileNotFoundError:
                    continue  # removed mid-listing
        return sorted(out, key=lambda f: f.path)

    def remove_dir(self, path: str) -> None:
        import shutil

        shutil.rmtree(strip_scheme(path), ignore_errors=True)


class S3FileIO:
    """S3 metadata IO via fsspec/s3fs if importable; property names match
    the reference (io/io.go:39-46, 199-273)."""

    def __init__(self, properties: dict[str, str] | None = None):
        props = properties or {}
        try:
            import s3fs  # type: ignore
        except ImportError as e:  # pragma: no cover - s3fs is optional
            raise ImportError(
                "s3fs is required for driver-side S3 metadata IO; "
                "executor-side data reads use Spark's fs.s3a.* instead"
            ) from e
        kwargs: dict = {}
        if props.get(S3_ACCESS_KEY):
            kwargs["key"] = props[S3_ACCESS_KEY]
        if props.get(S3_SECRET_KEY):
            kwargs["secret"] = props[S3_SECRET_KEY]
        if props.get(S3_SESSION_TOKEN):
            kwargs["token"] = props[S3_SESSION_TOKEN]
        client_kwargs: dict = {}
        if props.get(S3_REGION):
            client_kwargs["region_name"] = props[S3_REGION]
        if props.get(S3_ENDPOINT):
            client_kwargs["endpoint_url"] = props[S3_ENDPOINT]
        if client_kwargs:
            kwargs["client_kwargs"] = client_kwargs
        self.fs = s3fs.S3FileSystem(**kwargs)

    def read(self, path: str) -> bytes:
        with self.fs.open(path, "rb") as f:
            return f.read()

    def write(self, path: str, data: bytes) -> None:
        with self.fs.open(path, "wb") as f:
            f.write(data)

    def create(self, path: str, data: bytes) -> None:
        # no portable put-if-absent: two committers racing to one
        # version would both "win" and one commit would silently vanish
        raise NotImplementedError(
            f"filesystem commit requires a local location, got {path}; "
            "use a catalog (REST/SQL) for object-store tables — the "
            "version-file CAS needs create-exclusive, which S3 lacks"
        )

    def remove(self, path: str) -> None:
        self.fs.rm(path)

    def exists(self, path: str) -> bool:
        return self.fs.exists(path)

    def _file_info(self, d: dict) -> FileInfo:
        mtime = d.get("LastModified")
        return FileInfo(
            "s3://" + d["name"],
            int(d.get("size") or 0),
            int(mtime.timestamp() * 1000) if mtime is not None else 0,
        )

    def info(self, path: str) -> FileInfo:
        return self._file_info(self.fs.info(path))

    def open_input(self, path: str) -> BinaryIO:
        return self.fs.open(path, "rb")

    def list_dir(self, path: str) -> list[str]:
        try:
            return [p.rstrip("/").rsplit("/", 1)[-1] for p in self.fs.ls(path)]
        except FileNotFoundError:
            return []

    def list_prefix(self, prefix: str) -> list[FileInfo]:
        found = self.fs.find(prefix, detail=True)
        return sorted(
            (self._file_info(d) for d in found.values() if d.get("type") != "directory"),
            key=lambda f: f.path,
        )

    def remove_dir(self, path: str) -> None:
        try:
            self.fs.rm(path, recursive=True)
        except FileNotFoundError:
            pass


def load_io(location: str, properties: dict[str, str] | None = None) -> FileIO:
    """Scheme inference (reference io/io.go:275-297): s3/s3a/s3n → S3,
    else local."""
    scheme = urlparse(location).scheme
    if scheme in ("s3", "s3a", "s3n"):
        return S3FileIO(properties)
    return LocalFileIO()
