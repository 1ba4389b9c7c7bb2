"""URI-aware control-plane I/O for index directories.

An ``index_dir`` may be a plain POSIX path or a filesystem URI
(``file://``, ``s3://``, ``gs://``, ``hdfs://`` — anything
``pyarrow.fs.FileSystem.from_uri`` resolves). The *data plane* —
Spark parquet jobs and pyarrow dataset reads — already speaks URIs
natively; this module gives the *control plane* (meta.json, _SUCCESS
probes, atomic publish, retired-generation GC, the mutation-sequence
counter) the same reach, so an index can live on shared object
storage instead of requiring a shared POSIX mount (the reference
gets its control plane from PostgreSQL, build.rs:60-70; a
filesystem-native index has to build it).

Atomicity contract (the publish discipline every caller relies on):

- :func:`write_text_atomic` — on a local filesystem: write a temp
  file in the same directory, then ``os.replace`` (atomic rename).
  On an object store: one direct PUT — S3/GCS publish a
  single-object write atomically (readers see the old object or the
  new one, never a torn write), so the temp+rename dance is not only
  unnecessary but weaker (two PUTs). Honesty note: a filesystem that
  creates-then-appends visibly through ``open_output_stream`` (plain
  HDFS) can expose a torn ``meta.json`` to a concurrently opening
  reader; artifact consistency still holds (meta-last discipline),
  but on such stores pair readers with retry-on-parse-error or point
  ``index_dir`` at a rename-atomic mount.
- :func:`move_dir` — local: one atomic ``rename``. Object store:
  recursive copy + delete (NOT atomic) — which is fine for every
  caller here because artifacts are always published *meta-last*:
  a half-moved directory is unreachable until the meta.json repoint
  lands, and that repoint is the single atomic step.
"""

from __future__ import annotations

import os
import posixpath

from pyarrow import fs as pafs


def is_uri(path: str) -> bool:
    return "://" in path


def resolve(path: str) -> tuple["pafs.FileSystem", str]:
    """-> (FileSystem, fs-internal path). Plain paths map to the
    local filesystem unchanged."""
    if is_uri(path):
        return pafs.FileSystem.from_uri(path)
    return pafs.LocalFileSystem(), path


def join(path: str, *parts: str) -> str:
    """Join path components under either convention. URIs always use
    '/', local paths use os.sep — both collapse through posixpath on
    POSIX, so one branch on the scheme suffices."""
    if is_uri(path):
        return posixpath.join(path.rstrip("/"), *parts)
    return os.path.join(path, *parts)


def is_local(path: str) -> bool:
    fs, _ = resolve(path)
    return isinstance(fs, pafs.LocalFileSystem)


def local_path(path: str) -> str:
    """The fs-internal path for a local path/URI (for os-level calls
    like O_EXCL locking that pyarrow.fs does not expose)."""
    return resolve(path)[1]


def exists(path: str) -> bool:
    fs, p = resolve(path)
    return fs.get_file_info(p).type != pafs.FileType.NotFound


def mkdirs(path: str) -> None:
    fs, p = resolve(path)
    fs.create_dir(p, recursive=True)


def rmtree(path: str) -> bool:
    """Recursive delete of a directory OR a single file. Returns True
    when the path is gone afterwards (deleted now or already missing)
    and False when a real delete error left it in place — callers that
    track reclamation (retired-generation GC) keep the entry and retry
    later instead of silently orphaning the directory. Only a missing
    path is "vacuously done"; permission/transient-store errors are
    failures."""
    fs, p = resolve(path)
    info = fs.get_file_info(p)
    if info.type == pafs.FileType.NotFound:
        return True
    try:
        if info.type == pafs.FileType.Directory:
            fs.delete_dir(p)
        else:
            fs.delete_file(p)
        return True
    except FileNotFoundError:
        return True
    except OSError:
        return fs.get_file_info(p).type == pafs.FileType.NotFound


def read_text(path: str) -> str:
    fs, p = resolve(path)
    with fs.open_input_stream(p) as f:
        return f.read().decode("utf-8")


def write_text_atomic(path: str, text: str) -> None:
    """Publish a small control file atomically (see module docstring
    for the per-backend mechanism). The temp name is unique per
    writer (pid + counter), so two concurrent publishers can never
    interleave into one torn temp file — last os.replace wins whole.

    Honesty note on the non-local branch: single-stream PUT is
    whole-object atomic on S3/GCS-class object stores (readers see the
    old object or the new one, never a prefix), but some pyarrow
    filesystems (plain HDFS, for one) create-then-append VISIBLY, so a
    concurrent reader could observe a short read of this file there.
    Artifact consistency does not depend on it — every artifact dir is
    written in full before the meta repoint (publish-last discipline) —
    but meta.json itself is only torn-read-proof on stores with atomic
    single-PUT semantics."""
    fs, p = resolve(path)
    if isinstance(fs, pafs.LocalFileSystem):
        global _TMP_SEQ
        _TMP_SEQ += 1
        tmp = f"{p}.tmp.{os.getpid()}.{_TMP_SEQ}"
        with open(tmp, "w", encoding="utf-8") as f:
            f.write(text)
        os.replace(tmp, p)
    else:
        with fs.open_output_stream(p) as f:
            f.write(text.encode("utf-8"))


_TMP_SEQ = 0


def delete_file(path: str) -> None:
    fs, p = resolve(path)
    try:
        fs.delete_file(p)
    except (FileNotFoundError, OSError):
        pass


def move_dir(src: str, dst: str) -> None:
    """Rename a directory within one filesystem. Local: atomic rename
    (same parent). Object store: recursive copy + source delete — not
    atomic, which every caller tolerates because the directory is
    unreachable until the meta.json repoint (publish-last)."""
    fs, sp = resolve(src)
    _, dp = resolve(dst)
    if isinstance(fs, pafs.LocalFileSystem):
        os.rename(sp, dp)
        return
    pafs.copy_files(src, dst)
    fs.delete_dir(sp)


def has_parquet_files(path: str) -> bool:
    """Any *.parquet file anywhere under ``path``?"""
    fs, p = resolve(path)
    try:
        infos = fs.get_file_info(pafs.FileSelector(p, recursive=True))
    except (FileNotFoundError, OSError):
        return False
    return any(
        i.type == pafs.FileType.File and i.path.endswith(".parquet")
        for i in infos
    )


# ------------------------------------------------ conditional-write leases --
# Object stores expose no POSIX O_EXCL, but modern ones DO expose an
# atomic conditional write: S3 PutObject with `If-None-Match: *` (plus
# ETag-conditioned `If-Match` for replace/delete), GCS
# `x-goog-if-generation-match: 0`, Azure `If-None-Match: *`. pyarrow's
# FileSystem API surfaces none of these, so the mutation lease accepts
# a pluggable per-scheme store implementing four CAS primitives. A
# production deployment registers a thin boto3/gcs-client adapter;
# :class:`InMemoryConditionalStore` is the reference implementation
# the protocol tests run against. Schemes with no registered store
# keep the loud single-writer guard (see maintain._MutationLock).


_LEASE_STORES: dict = {}


def register_lease_store(scheme: str, factory) -> None:
    """Register a conditional-write store for a URI scheme. ``factory``
    is called lazily (once per lease) and must return an object with
    the four-method interface of :class:`InMemoryConditionalStore`:
    put_if_absent / get / put_if_match / delete_if_match."""
    _LEASE_STORES[scheme] = factory


def unregister_lease_store(scheme: str) -> None:
    _LEASE_STORES.pop(scheme, None)


def lease_store_for(path: str):
    """The registered conditional-write store for ``path``'s scheme,
    or None (local paths and unregistered schemes)."""
    if not is_uri(path):
        return None
    factory = _LEASE_STORES.get(path.split("://", 1)[0])
    return factory() if factory is not None else None


class InMemoryConditionalStore:
    """Reference conditional-write store: the exact CAS contract an
    object-store lease adapter must provide, with versions standing in
    for ETags/generation numbers. Thread-safe; every mutation is
    atomic under one lock, mirroring the store-side atomicity of
    `If-None-Match`/`If-Match` conditional requests.

    - put_if_absent(key, data) -> bool: create iff absent
      (S3 `If-None-Match: *`)
    - get(key) -> (data, version) | None
    - put_if_match(key, data, version) -> bool: replace iff the
      current version matches (S3 `If-Match: <etag>`)
    - delete_if_match(key, version) -> bool: delete iff the current
      version matches
    """

    def __init__(self):
        import threading

        self._lock = threading.Lock()
        self._objs: dict[str, tuple[bytes, int]] = {}
        self._ver = 0

    def put_if_absent(self, key: str, data: bytes) -> bool:
        with self._lock:
            if key in self._objs:
                return False
            self._ver += 1
            self._objs[key] = (bytes(data), self._ver)
            return True

    def get(self, key: str):
        with self._lock:
            return self._objs.get(key)

    def put_if_match(self, key: str, data: bytes, version: int) -> bool:
        with self._lock:
            cur = self._objs.get(key)
            if cur is None or cur[1] != version:
                return False
            self._ver += 1
            self._objs[key] = (bytes(data), self._ver)
            return True

    def delete_if_match(self, key: str, version: int) -> bool:
        with self._lock:
            cur = self._objs.get(key)
            if cur is None or cur[1] != version:
                return False
            del self._objs[key]
            return True
