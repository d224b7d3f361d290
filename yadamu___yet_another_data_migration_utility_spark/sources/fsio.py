"""Filesystem seam for LakeTable metadata/data I/O.

LakeTable's correctness rests on exactly TWO storage primitives, both
isolated here so an object-store port swaps one class, not the table:

1. ``put_if_absent(path, data)`` -- publish an IMMUTABLE object at a
   unique name, failing if the name is taken. This is the commit CAS:
   manifest names encode the version (``v{N}.json``), so whoever
   publishes ``v{N}`` first owns version N; the loser rebases.
   - Local: write a tmp file, fsync, ``os.link`` to the final name
     (atomic on POSIX; EEXIST == lost the race). The linked file is
     complete-or-absent -- readers never see a torn manifest.
   - S3 port point: conditional ``PUT`` with ``If-None-Match: *``
     (natively supported; 412 == lost the race). No rename involved --
     the classic "S3 rename is not atomic" problem never arises
     because nothing here renames a visible object.
2. ``put_atomic(path, data)`` -- overwrite a small mutable HINT object
   (the ``_current`` pointer). The pointer is a cache, not the source
   of truth: readers roll forward past it by probing for newer
   manifests (see LakeTable.current_version), so a stale or lost
   pointer write costs a few existence checks, never correctness.
   - Local: tmp + fsync + rename. S3: plain PUT (strongly consistent).

Everything else (listdir/walk/remove for retention, open_read for
parquet footers) is plain namespace traversal with direct object-store
analogues (LIST/DELETE/GET). Data files are written by Spark itself --
point the table root at an ``s3a://`` URI and Spark's committers handle
the data plane; this seam covers the metadata plane, plus ``open_write``
for the small merge-on-read deltas the engine writes in-process.

Reference capability this replaces: the loader's pluggable storage
services -- /root/reference/src/YADAMU/loader/node/cloudDBI.js:1-194
(one DBI, swappable file/S3/Azure backends) and
loader/awsS3/awsS3StorageService.js (PUT/GET/LIST primitives).
"""

from __future__ import annotations

import os
import shutil
import uuid
from typing import IO, Iterator


class CommitConflict(RuntimeError):
    """Another writer published this manifest version first (or the
    claimed name already exists). Retryable: re-read the head and
    rebase -- see LakeTable._commit_with_rebase."""


class LocalFS:
    """POSIX implementation. All paths are plain local paths."""

    # -- commit primitives ---------------------------------------------
    def put_if_absent(self, path: str, data: str) -> None:
        """Publish an immutable object at ``path``; raise CommitConflict
        if the name is already taken. Complete-or-absent: the content is
        durable (fsync) before the name becomes visible (link)."""
        tmp = path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(data)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, path)  # atomic claim: EEXIST == lost the race
        except FileExistsError:
            raise CommitConflict(
                f"commit conflict: {os.path.basename(path)} already published"
            ) from None
        finally:
            os.remove(tmp)

    def put_atomic(self, path: str, data: str) -> None:
        """Overwrite a small mutable object (pointer hint) atomically."""
        tmp = path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(data)
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, path)

    # -- reads -----------------------------------------------------------
    def read_text(self, path: str) -> str:
        with open(path) as f:
            return f.read()

    def open_read(self, path: str) -> IO[bytes]:
        """Binary reader (parquet footer stats). S3 analogue: ranged GET
        via pyarrow.fs.S3FileSystem.open_input_file."""
        return open(path, "rb")

    # -- data files ----------------------------------------------------------
    def open_write(self, path: str) -> IO[bytes]:
        """Binary writer for a new data file (in-process delta writes).
        S3 analogue: pyarrow.fs.S3FileSystem.open_output_stream."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        return open(path, "wb")

    # -- namespace traversal ----------------------------------------------
    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def isdir(self, path: str) -> bool:
        return os.path.isdir(path)

    def makedirs(self, path: str) -> None:
        # idempotent by contract: object stores have no directories (a
        # "mkdir" is a no-op there), and crash-retried creators (e.g.
        # create_branch, which CASes on the metadata put AFTER the
        # mkdir) must be able to re-run past a half-created dir
        os.makedirs(path, exist_ok=True)

    def listdir(self, path: str) -> list[str]:
        return os.listdir(path)

    def walk_bottom_up(self, path: str) -> Iterator[tuple[str, list[str], list[str]]]:
        yield from os.walk(path, topdown=False)

    # -- deletes (retention / abort cleanup) ------------------------------
    def remove(self, path: str) -> None:
        os.remove(path)

    def rmdir_if_empty(self, path: str) -> None:
        if not os.listdir(path):
            os.rmdir(path)

    def rmtree(self, path: str) -> None:
        shutil.rmtree(path, ignore_errors=True)

    # -- Spark handoff -----------------------------------------------------
    def spark_path(self, path: str) -> str:
        """URI Spark should use for this path (identity locally; an
        object-store FS returns the s3a:// form)."""
        return path


class ObjectFS:
    """Object-store backend on a ``pyarrow.fs.FileSystem`` -- the
    deployable form of the S3-semantics port documented above (and
    proven by tests/test_fsio_object.py's primitive-level fake).

    Configuration::

        # tests / single-host deployments (POSIX under pyarrow):
        fs = ObjectFS()                      # LocalFileSystem

        # S3 (real deployment; no network in this sandbox, documented):
        import pyarrow.fs as pafs
        fs = ObjectFS(
            pafs.S3FileSystem(region="us-east-1"),
            spark_scheme="s3a",              # data-plane URIs for Spark
            cas_put=my_conditional_put,      # see below
        )
        t = LakeTable.create("bucket/warehouse/pages", schema,
                             key="url", fs=fs)

    Primitive mapping (the only two that carry correctness):

    - ``put_if_absent`` (the commit CAS). S3 supports it natively as
      ``PUT If-None-Match: *`` (412 == lost the race), but pyarrow's
      S3FileSystem does not expose conditional headers -- so the CAS
      is INJECTED: pass ``cas_put(path, data)`` backed by e.g.
      ``boto3 put_object(..., IfNoneMatch="*")``, raising
      ``CommitConflict`` on the 412. Without it, a LOCAL pyarrow
      filesystem gets an exact O_CREAT|O_EXCL claim (same semantics as
      the fake the protocol tests run against), and any other backend
      falls back to probe-then-create -- correct for a single writer,
      and explicitly rejected for multi-writer use (ValueError at
      construction time via ``require_cas=True``... default False).
    - ``put_atomic`` (the ``_current`` hint): a plain truncating PUT.
      S3 per-object PUTs are atomic and strongly consistent; a torn
      local read costs the reader a few roll-forward probes, never
      correctness (the pointer is a hint by design).

    Everything else is namespace traversal (LIST/GET/DELETE) straight
    on the pyarrow FS. ``spark_scheme`` prefixes data-plane paths for
    Spark (``s3a://bucket/key``); None keeps plain paths (local)."""

    def __init__(self, fs=None, spark_scheme: str | None = None,
                 cas_put=None, require_cas: bool = False):
        import pyarrow.fs as pafs

        self.pafs = pafs
        self.fs = fs if fs is not None else pafs.LocalFileSystem()
        self._local = isinstance(self.fs, pafs.LocalFileSystem)
        self.spark_scheme = spark_scheme
        self._cas_put = cas_put
        if require_cas and cas_put is None and not self._local:
            raise ValueError(
                "multi-writer object-store deployments need an injected "
                "conditional PUT (cas_put=); pyarrow alone cannot express "
                "If-None-Match")

    # -- commit primitives ---------------------------------------------
    def put_if_absent(self, path: str, data: str) -> None:
        if self._cas_put is not None:
            self._cas_put(path, data)  # raises CommitConflict on conflict
            return
        if self._local:
            # exact exclusive create -- bit-for-bit the semantics the
            # protocol fake (tests/test_fsio_object.py) proves against
            try:
                fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            except FileExistsError:
                raise CommitConflict(
                    f"commit conflict: {os.path.basename(path)} "
                    "already published") from None
            with os.fdopen(fd, "w") as f:
                f.write(data)
            return
        # generic backend without an injected CAS: probe-then-create.
        # Single-writer correct; the race window is the documented
        # reason cas_put exists for multi-writer S3.
        if self.exists(path):
            raise CommitConflict(
                f"commit conflict: {os.path.basename(path)} already published")
        with self.fs.open_output_stream(path) as f:
            f.write(data.encode("utf-8"))

    def put_atomic(self, path: str, data: str) -> None:
        # plain PUT: atomic per object on S3; the pointer is a hint
        with self.fs.open_output_stream(path) as f:
            f.write(data.encode("utf-8"))

    # -- reads ---------------------------------------------------------
    def read_text(self, path: str) -> str:
        try:
            with self.fs.open_input_stream(path) as f:
                return f.read().decode("utf-8")
        except FileNotFoundError:
            raise
        except OSError as e:  # pyarrow raises OSError for missing keys
            raise FileNotFoundError(str(e)) from e

    def open_read(self, path: str):
        try:
            return self.fs.open_input_file(path)  # seekable (ranged GET)
        except FileNotFoundError:
            raise
        except OSError as e:
            raise FileNotFoundError(str(e)) from e

    # -- data files ----------------------------------------------------
    def open_write(self, path: str):
        self.makedirs(path.rsplit("/", 1)[0])
        return self.fs.open_output_stream(path)

    # -- namespace traversal -------------------------------------------
    def _info(self, path: str):
        return self.fs.get_file_info(path)

    def exists(self, path: str) -> bool:
        return self._info(path).type != self.pafs.FileType.NotFound

    def isdir(self, path: str) -> bool:
        return self._info(path).type == self.pafs.FileType.Directory

    def makedirs(self, path: str) -> None:
        self.fs.create_dir(path, recursive=True)  # no-op prefix on S3

    def listdir(self, path: str) -> list[str]:
        sel = self.pafs.FileSelector(path, recursive=False)
        return [fi.path.rsplit("/", 1)[-1] for fi in self.fs.get_file_info(sel)]

    def walk_bottom_up(self, path: str):
        sel = self.pafs.FileSelector(path, recursive=True,
                                     allow_not_found=True)
        dirs: dict[str, tuple[list[str], list[str]]] = {path.rstrip("/"): ([], [])}
        for fi in self.fs.get_file_info(sel):
            parent, _, name = fi.path.rpartition("/")
            dirs.setdefault(parent, ([], []))
            if fi.type == self.pafs.FileType.Directory:
                dirs.setdefault(fi.path, ([], []))
                dirs[parent][0].append(name)
            else:
                dirs[parent][1].append(name)
        for d in sorted(dirs, key=lambda p: p.count("/"), reverse=True):
            sub, files = dirs[d]
            yield d, sorted(sub), sorted(files)

    # -- deletes -------------------------------------------------------
    def remove(self, path: str) -> None:
        self.fs.delete_file(path)

    def rmdir_if_empty(self, path: str) -> None:
        try:
            if self.isdir(path) and not self.listdir(path):
                self.fs.delete_dir(path)
        except OSError:
            pass  # already gone / concurrent sweep

    def rmtree(self, path: str) -> None:
        try:
            self.fs.delete_dir(path)
        except (OSError, FileNotFoundError):
            pass  # ignore_errors contract, like LocalFS.rmtree

    # -- Spark handoff -------------------------------------------------
    def spark_path(self, path: str) -> str:
        if self.spark_scheme:
            return f"{self.spark_scheme}://{path.lstrip('/')}"
        return path
