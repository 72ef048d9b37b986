"""Pluggable compare-and-swap seam for the snapshot catalog's
optimistic-concurrency commits.

Iceberg's commit model needs exactly ONE primitive from the catalog
backend: an atomic conditional update of the head pointer ("publish
snapshot s iff the head is still h"). Everything else — staging data
files, serializable validation, manifest assembly, retry — is
backend-independent and lives in `SnapshotCatalog.commit_optimistic`.
This module isolates that primitive behind `CompareAndSwap.try_publish`
so swapping the offline shim for a real catalog (Iceberg REST, Glue,
Nessie, a DynamoDB/JDBC lock table) touches no engine code: implement
one class, pass it to `SnapshotCatalog(root, cas=...)`.

Implementations:

- `FlockCAS` (default): an exclusive `flock` on ``<root>/commit.lock``
  serializes head-check + publish. Correct for any number of PROCESSES
  sharing one local POSIX filesystem (flock is kernel-level advisory
  locking on the open file description — `tests/prop/
  test_occ_multiprocess.py` races real subprocess writers through it);
  NOT a cross-machine primitive (NFS flock semantics vary, object
  stores have no flock at all). This is the single-cluster-filesystem
  regime the sandbox can actually exercise.
- `SqliteCAS`: serializes check + publish inside a SQLite
  ``BEGIN IMMEDIATE`` write transaction on ``<root>/cas.sqlite`` —
  SQLite's own cross-process locking (fcntl record locks + journal,
  NOT flock) is the mutual-exclusion mechanism, which is exactly the
  shape of a JDBC/lock-table catalog backend. Round 5 added this as
  the second WORKING implementation: the conformance suite and the
  multiprocess OCC race run against both, proving the seam is
  pluggable rather than asserting it.
- `LockFileCAS`: O_CREAT|O_EXCL sentinel-file mutual exclusion with a
  TTL-based stale-lock janitor — the classic object-store-adjacent
  pattern (atomic create-if-absent), third working backend. Honest
  tradeoff vs flock: a crash between create and unlink leaks the
  sentinel until the TTL breaks it (flock auto-releases on process
  death); the janitor bounds that window.
- `RestCatalogCAS` (skeleton): documents the exact adapter a networked
  deployment implements — Iceberg REST `POST /v1/{prefix}/namespaces/
  {ns}/tables/{table}` commits carry the base metadata location and the
  server enforces the conditional update; the adapter maps "requirement
  failed" to ``False`` so the engine's retry loop revalidates and
  reassembles, exactly like Spark's Iceberg writer.
"""

from __future__ import annotations

import os
import time
import uuid
from collections.abc import Callable
from pathlib import Path


class CompareAndSwap:
    """Backend contract: one atomic conditional publish."""

    def try_publish(
        self, expected_head: int | None, attempt: Callable[[], None]
    ) -> bool:
        """Atomically: if the catalog head is still ``expected_head``,
        run ``attempt`` (which must durably publish the new snapshot —
        rename staged files, write manifest, swing head) and return
        True. If the head moved, return False WITHOUT running
        ``attempt`` — the caller revalidates against the new head and
        retries with freshly assembled metadata. ``attempt`` raising
        propagates (the backend must then leave the head untouched)."""
        raise NotImplementedError


class FlockCAS(CompareAndSwap):
    """Conditional update via an exclusive lock file on the catalog's
    filesystem — the offline shim's backend. ``head_fn`` re-reads the
    head pointer INSIDE the critical section; the lock spans check +
    publish, so two process-concurrent writers serialize and exactly
    one sees its expected head."""

    def __init__(self, lock_path: str | Path, head_fn: Callable[[], int | None]):
        self.lock_path = Path(lock_path)
        self.head_fn = head_fn

    def try_publish(
        self, expected_head: int | None, attempt: Callable[[], None]
    ) -> bool:
        import fcntl

        with open(self.lock_path, "w") as lf:
            fcntl.flock(lf, fcntl.LOCK_EX)
            try:
                if self.head_fn() != expected_head:
                    return False
                attempt()
                return True
            finally:
                fcntl.flock(lf, fcntl.LOCK_UN)


class SqliteCAS(CompareAndSwap):
    """Conditional update serialized by a SQLite write transaction —
    the lock-table catalog pattern (JDBC/DynamoDB-style) in its
    smallest offline form. ``BEGIN IMMEDIATE`` takes the database's
    RESERVED lock, which SQLite enforces across PROCESSES with its own
    fcntl record locks + rollback journal (no flock anywhere); the
    transaction spans head-check + publish, so concurrent writers
    serialize and exactly one sees its expected head. The head pointer
    itself stays wherever ``head_fn`` reads it (the catalog's HEAD
    file) — the database holds no state beyond the lock, mirroring how
    a lock-table backend guards an object-store metadata pointer."""

    def __init__(self, db_path: str | Path, head_fn: Callable[[], int | None]):
        self.db_path = Path(db_path)
        self.head_fn = head_fn

    def try_publish(
        self, expected_head: int | None, attempt: Callable[[], None]
    ) -> bool:
        import sqlite3

        con = sqlite3.connect(
            str(self.db_path), timeout=120.0, isolation_level=None
        )
        try:
            con.execute("PRAGMA busy_timeout=120000")
            con.execute("BEGIN IMMEDIATE")  # cross-process writer lock
            try:
                if self.head_fn() != expected_head:
                    return False
                attempt()
                return True
            finally:
                con.execute("ROLLBACK")  # lock only — nothing to keep
        finally:
            con.close()


class LockFileCAS(CompareAndSwap):
    """Conditional update guarded by an O_CREAT|O_EXCL sentinel file —
    atomic create-if-absent, the primitive object stores offer as
    conditional PUT. Each acquisition writes a unique token into its
    sentinel.

    A crashed holder leaks the sentinel; a janitor breaks one whose mtime
    is older than ``stale_after`` seconds. Every removal — a janitor's
    break and a holder's release — first rename()s the sentinel to a
    private unique name (atomic: of racing removers exactly one gets it),
    then unlinks that private path only if it is the sentinel the remover
    meant (same token; for a break, still stale). A sentinel moved by
    mistake — a live holder's, created after a stalled janitor judged its
    predecessor stale, or a successor's, found by a holder that overran
    ``stale_after`` — is put back with link(), which never clobbers a
    sentinel created meanwhile. So no remover ever deletes a live holder's
    sentinel. Two limits remain, both inherent to a TTL lock without
    fencing tokens: the path is free for the two syscalls of a put-back,
    and the sentinel's mtime is never refreshed, so ``attempt`` must
    finish within ``stale_after`` or its lock can be broken mid-publish."""

    def __init__(
        self,
        lock_path: str | Path,
        head_fn: Callable[[], int | None],
        timeout: float = 120.0,
        stale_after: float = 300.0,
    ):
        self.lock_path = Path(lock_path)
        self.head_fn = head_fn
        self.timeout = timeout
        self.stale_after = stale_after

    def _is_stale(self, path: Path) -> bool:
        return time.time() - path.stat().st_mtime > self.stale_after

    def _stale_token(self) -> bytes | None:
        """The sentinel's token if it is older than ``stale_after``, else
        None (also when there is no sentinel)."""
        try:
            if self._is_stale(self.lock_path):
                return self.lock_path.read_bytes()
        except FileNotFoundError:
            pass
        return None

    def _remove_if(self, token: bytes, stale: bool) -> bool:
        """Remove the sentinel iff it holds ``token`` (and, with ``stale``,
        is still stale); otherwise leave it in place. True if removed."""
        private = self.lock_path.with_name(
            f"{self.lock_path.name}.{uuid.uuid4().hex}"
        )
        try:
            os.rename(self.lock_path, private)
        except FileNotFoundError:
            return False  # already released or broken
        try:
            if private.read_bytes() == token and (
                not stale or self._is_stale(private)
            ):
                return True
            try:
                os.link(private, self.lock_path)
            except FileExistsError:
                pass  # a new holder took the path during the put-back
            return False
        finally:
            private.unlink()

    def _acquire(self) -> bytes:
        """Create the sentinel; returns the token written into it."""
        token = f"{os.getpid()}:{uuid.uuid4().hex}".encode()
        deadline = time.monotonic() + self.timeout
        delay = 0.002
        while True:
            try:
                fd = os.open(
                    self.lock_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY
                )
            except FileExistsError:
                dead = self._stale_token()
                if dead is not None:
                    self._remove_if(dead, stale=True)
                    continue
                if time.monotonic() > deadline:
                    raise TimeoutError(
                        f"CAS lock {self.lock_path} held past "
                        f"{self.timeout}s"
                    )
                time.sleep(delay)
                delay = min(delay * 2, 0.05)
                continue
            try:
                os.write(fd, token)
            finally:
                os.close(fd)
            return token

    def try_publish(
        self, expected_head: int | None, attempt: Callable[[], None]
    ) -> bool:
        token = self._acquire()
        try:
            if self.head_fn() != expected_head:
                return False
            attempt()
            return True
        finally:
            self._remove_if(token, stale=False)


#: backend name -> constructor(root, head_fn); the string form
#: `SnapshotCatalog(root, cas="sqlite")` resolves here
BACKENDS: dict[str, Callable[[Path, Callable[[], int | None]], CompareAndSwap]] = {
    "flock": lambda root, head: FlockCAS(root / "commit.lock", head),
    "sqlite": lambda root, head: SqliteCAS(root / "cas.sqlite", head),
    "lockfile": lambda root, head: LockFileCAS(root / "commit.sentinel", head),
}


def make_cas(backend: str, root: Path, head_fn: Callable[[], int | None]) -> CompareAndSwap:
    if backend not in BACKENDS:
        raise ValueError(
            f"unknown CAS backend {backend!r} (have {sorted(BACKENDS)})"
        )
    return BACKENDS[backend](root, head_fn)


class RestCatalogCAS(CompareAndSwap):
    """Adapter SKELETON for a real Iceberg REST catalog (or any backend
    with a server-side conditional update). Not runnable in this
    sandbox — no network — but the mapping is mechanical:

    - ``attempt`` side effects that are LOCAL (renaming staged data to
      final paths, writing the manifest file) happen first, exactly as
      in the shim;
    - the head swing becomes the server call: send the new metadata
      with an ``assert-ref-snapshot-id == expected_head`` requirement
      (REST spec `TableRequirement`); HTTP 409 ⇒ return False;
    - the server is the source of truth for ``expected_head`` — no
      local lock file exists or is needed.
    """

    def __init__(self, endpoint: str, table: str):
        self.endpoint = endpoint
        self.table = table

    def try_publish(
        self, expected_head: int | None, attempt: Callable[[], None]
    ) -> bool:
        raise NotImplementedError(
            "network-backed catalog CAS: implement the REST conditional "
            "commit here (requirement assert-ref-snapshot-id == "
            f"{expected_head}); this sandbox has no network"
        )
