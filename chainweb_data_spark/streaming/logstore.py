"""The transaction log's storage seam — the commit-point primitives
behind one small injectable interface (Delta Lake's LogStore move: the
log protocol talks to an abstract store; each backend supplies the
atomicity it can, cf. delta-io LogStore docs — public design, original
code).

``streaming/publish.py`` re-derives the Delta-log protocol over plain
parquet; every durability- or atomicity-bearing filesystem call it
makes funnels through a :class:`PosixLogStore` instance so an
object-store backend (conditional PUT instead of ``os.link``
put-if-absent, DELETE instead of ``os.remove``) can slot in WITHOUT
touching protocol code.  The seam covers the LOG surface — commit
JSONs, CURRENT hint, checkpoint/delta sidecars, orphan sweeps, the
vacuum walk and the pin probe, all of which run on the driver.  DATA
files are written by Spark's own writers and read by path exactly as
Delta reads data through Hadoop filesystems.

Three implementations:

- :class:`PosixLogStore` — the default.  Shared POSIX storage
  (local/NFS/EFS/Lustre): put-if-absent is a hard-link, durability is
  fsync + same-directory rename.
- :class:`InMemoryLogStore` — every primitive over a dict; exists so
  the seam itself is testable (``tests/test_logstore.py`` runs a whole
  store lifecycle against it, proving protocol code never bypasses the
  seam for log operations) and as the reference for writing a backend.
- an object-store backend is intentionally NOT shipped: this sandbox
  has no object store to test against, and an untested conditional-PUT
  implementation would be worse than the loud scheme refusal
  (:meth:`PosixLogStore.validate`) users hit today.

Reference provenance: the reference system (chainweb-data) delegates
all of this to PostgreSQL's WAL; the seam exists because THIS engine
keeps table state in files (SURVEY §2.6)."""

from __future__ import annotations

import io
import os
import shutil
import uuid


class PosixLogStore:
    """Commit-point primitives over shared POSIX storage.  Stateless."""

    #: scheme-less paths only; every entry point validates through this
    def validate(self, out_dir: str) -> None:
        """Refuse URL-scheme ``out_dir``s loudly.  The commit point is
        POSIX ``os.link`` put-if-absent — without this guard
        ``s3://bucket/x`` is treated as a weird RELATIVE local path: the
        sink would silently create a working-looking local store named
        ``s3:/bucket/x`` and never touch the object store."""
        if "://" in out_dir:
            raise ValueError(
                f"out_dir {out_dir!r} has a URL scheme — PosixLogStore "
                "commits via os.link put-if-absent and requires a shared "
                "POSIX filesystem path (local/NFS/EFS/Lustre). Object "
                "stores need a conditional-PUT LogStore implementation "
                "(chainweb_data_spark/streaming/logstore.py documents "
                "the seam; with Delta/Iceberg available the txlog "
                "disappears into their log)."
            )

    # -- the commit point ------------------------------------------------
    def put_if_absent(self, path: str, data: bytes) -> None:
        """Atomically create ``path`` with ``data`` — THE commit point.
        Raises :class:`FileExistsError` when ``path`` already exists (a
        racing committer), never clobbers.  POSIX: durable temp in the
        same directory + ``os.link`` (atomic on every shared POSIX
        filesystem); object stores: conditional PUT (If-None-Match).
        The hidden temp never outlives the call, success or failure."""
        tmp = self.stage_path(path)
        try:
            with open(tmp, "wb") as f:
                f.write(data)
                f.flush()
                os.fsync(f.fileno())
            os.link(tmp, path)
        finally:
            if os.path.exists(tmp):
                os.unlink(tmp)

    def write_atomic(self, path: str, data: bytes) -> None:
        """Durably (over)write ``path`` — readers see the old or the new
        content, never a torn write.  POSIX: fsync + same-directory
        rename; object stores: plain PUT (single-key atomicity).  The
        hidden temp never outlives a failed call (ENOSPC mid-write must
        not leave unreclaimable litter beside the log)."""
        tmp = self.stage_path(path)
        try:
            with open(tmp, "wb") as f:
                f.write(data)
                f.flush()
                os.fsync(f.fileno())
            os.rename(tmp, path)
        except BaseException:
            if os.path.exists(tmp):
                os.unlink(tmp)
            raise

    def stage_path(self, final_path: str) -> str:
        """A path a LOCAL writer (pyarrow) may stream a file to before
        :meth:`finalize_file` publishes it at ``final_path``.  POSIX: a
        hidden same-directory temp (rename must not cross filesystems);
        backends without POSIX rename may return any local scratch
        path — finalize uploads from it."""
        return os.path.join(
            os.path.dirname(final_path),
            f".{os.path.basename(final_path)}.{uuid.uuid4().hex}.tmp",
        )

    def finalize_file(self, tmp_path: str, final_path: str) -> None:
        """Durably publish an already-staged file (a pyarrow-written
        sidecar) at ``final_path``.  POSIX: fsync + rename; object
        stores: upload + delete the stage."""
        with open(tmp_path, "rb") as f:
            os.fsync(f.fileno())
        os.rename(tmp_path, final_path)

    # -- reads -----------------------------------------------------------
    def read_bytes(self, path: str) -> bytes:
        with open(path, "rb") as f:
            return f.read()

    def read_parquet(self, path: str, columns=None, filters=None):
        """A log sidecar as a pyarrow Table (a directory-shaped one
        reads too), with column pruning and row-group predicate
        pushdown preserved — backends must keep both or per-table
        resolves regress to full sidecar scans."""
        import pyarrow.parquet as pq

        return pq.read_table(path, columns=columns, filters=filters)

    # -- namespace probes ----------------------------------------------
    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def isdir(self, path: str) -> bool:
        return os.path.isdir(path)

    def listdir(self, path: str) -> list[str]:
        return os.listdir(path)

    def walk(self, path: str):
        return os.walk(path)

    def getmtime(self, path: str) -> float:
        return os.path.getmtime(path)

    def getsize(self, path: str) -> int:
        return os.path.getsize(path)

    # -- mutation --------------------------------------------------------
    def makedirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def remove(self, path: str) -> None:
        os.remove(path)

    def rmtree(self, path: str) -> None:
        shutil.rmtree(path, ignore_errors=True)


class InMemoryLogStore:
    """Every primitive over a plain dict — the seam's conformance
    backend.  Single-process only (no cross-process atomicity claims);
    ``tests/test_logstore.py`` drives a full driver-path store lifecycle
    against it, which fails the moment any protocol code bypasses the
    seam with a direct ``os.*`` call on the log surface."""

    def __init__(self) -> None:
        self.files: dict[str, bytes] = {}
        self.mtimes: dict[str, float] = {}
        self.dirs: set[str] = set()

    def _touch(self, path: str) -> None:
        import time

        self.mtimes[path] = time.time()
        d = os.path.dirname(path)
        while d and d not in self.dirs:
            self.dirs.add(d)
            d = os.path.dirname(d)

    def validate(self, out_dir: str) -> None:
        if "://" in out_dir:
            raise ValueError(
                f"out_dir {out_dir!r} has a URL scheme — InMemoryLogStore "
                "keys are plain paths"
            )

    def put_if_absent(self, path: str, data: bytes) -> None:
        if path in self.files:
            raise FileExistsError(path)
        self.files[path] = data
        self._touch(path)

    def write_atomic(self, path: str, data: bytes) -> None:
        self.files[path] = data
        self._touch(path)

    def stage_path(self, final_path: str) -> str:
        # local writers need a REAL filesystem path to stream to; the
        # finalize ingests it into the dict and removes the scratch file
        import tempfile

        fd, p = tempfile.mkstemp(prefix="memstore-stage-")
        os.close(fd)
        return p

    def finalize_file(self, tmp_path: str, final_path: str) -> None:
        # the stage is a real local file (pyarrow wrote it); ingest it
        with open(tmp_path, "rb") as f:
            self.files[final_path] = f.read()
        os.remove(tmp_path)
        self._touch(final_path)

    def read_bytes(self, path: str) -> bytes:
        if path not in self.files:
            raise FileNotFoundError(path)
        return self.files[path]

    def read_parquet(self, path: str, columns=None, filters=None):
        # filters apply BEFORE projection (a filter column need not be
        # in ``columns``) — the same semantics pyarrow's dataset reader
        # gives PosixLogStore
        import pyarrow.parquet as pq

        if path not in self.files:
            raise FileNotFoundError(path)
        table = pq.read_table(io.BytesIO(self.files[path]))
        if filters:
            import pyarrow.compute as pc

            mask = None
            for col, op, val in filters:
                assert op in ("=", "=="), op
                m = pc.equal(table.column(col), val)
                mask = m if mask is None else pc.and_(mask, m)
            table = table.filter(mask)
        if columns is not None:
            table = table.select(columns)
        return table

    def exists(self, path: str) -> bool:
        return path in self.files or path in self.dirs or any(
            p.startswith(path + os.sep) for p in self.files
        )

    def isdir(self, path: str) -> bool:
        return path in self.dirs or any(
            p.startswith(path + os.sep) for p in self.files
        )

    def listdir(self, path: str) -> list[str]:
        if not self.isdir(path):
            raise FileNotFoundError(path)
        prefix = path + os.sep
        out = set()
        for p in list(self.files) + list(self.dirs):
            if p.startswith(prefix):
                out.add(p[len(prefix):].split(os.sep, 1)[0])
        return sorted(out)

    def walk(self, path: str):
        if not self.isdir(path):
            return
        stack = [path]
        while stack:
            d = stack.pop()
            subdirs, files = set(), []
            prefix = d + os.sep
            for p in self.files:
                if p.startswith(prefix):
                    rest = p[len(prefix):]
                    if os.sep in rest:
                        subdirs.add(rest.split(os.sep, 1)[0])
                    else:
                        files.append(rest)
            for p in self.dirs:
                if p.startswith(prefix) and os.sep not in p[len(prefix):]:
                    subdirs.add(p[len(prefix):])
            yield d, sorted(subdirs), sorted(files)
            stack.extend(os.path.join(d, s) for s in sorted(subdirs))

    def getmtime(self, path: str) -> float:
        if path in self.mtimes:
            return self.mtimes[path]
        if self.isdir(path):
            return max(
                (m for p, m in self.mtimes.items()
                 if p.startswith(path + os.sep)),
                default=0.0,
            )
        raise FileNotFoundError(path)

    def getsize(self, path: str) -> int:
        return len(self.read_bytes(path))

    def makedirs(self, path: str) -> None:
        self.dirs.add(path)

    def remove(self, path: str) -> None:
        if path not in self.files:
            raise FileNotFoundError(path)
        del self.files[path]
        self.mtimes.pop(path, None)

    def rmtree(self, path: str) -> None:
        for p in [p for p in self.files if p.startswith(path + os.sep)]:
            del self.files[p]
            self.mtimes.pop(p, None)
        self.dirs.discard(path)
        for d in [d for d in self.dirs if d.startswith(path + os.sep)]:
            self.dirs.discard(d)
