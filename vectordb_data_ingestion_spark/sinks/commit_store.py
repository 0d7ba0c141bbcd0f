"""Commit primitives for sink mutation protocols.

The manifest sink needs one thing from its storage to be crash- and
concurrency-safe: an ATOMIC publish of a small control object (a
manifest / generation pointer) that either wholly succeeds against the
expected prior state or wholly fails. POSIX gives that via ``flock`` +
``os.replace``; object stores (the storage a 1000-executor
cluster actually runs on) have NO rename and NO flock — they give
*conditional put* (put-if-match on an etag / put-if-absent), which is what
Delta/Iceberg-style commit logs are built on.

This module is the seam between the two worlds:

- :class:`ConditionalStore` — the minimal protocol: versioned ``get`` and
  compare-and-swap ``put_if``. Everything a mutation protocol needs; no
  rename, no lock held across a read-modify-write.
- :class:`FileConditionalStore` — the hermetic binding used in tests and
  local deployments. Internally it uses flock+replace to make each
  ``put_if`` call atomic, but that is the *store's own* atomicity (the
  stand-in for the object store's server-side conditional PUT); the
  protocol on top never holds a lock across its read-modify-write cycle,
  so the same protocol code runs unchanged against a real conditional-put
  store.
- :class:`MemoryConditionalStore` — in-process binding for unit tests of
  the protocol logic itself (thread-safe; emulates etag semantics exactly).

``cas_update`` is the optimistic-retry loop for small monotonic counters.
"""

from __future__ import annotations

import contextlib
import os
import threading
import time
from collections.abc import Callable
from typing import Protocol


class CasConflict(Exception):
    """put_if precondition failed more times than the retry budget."""


class ConditionalStore(Protocol):
    """Versioned small-object store with compare-and-swap semantics.

    Tokens are opaque; ``None`` means "the key must not exist" (create).
    """

    def get(self, key: str) -> tuple[bytes, object] | None:
        """Return ``(data, token)`` or None if the key doesn't exist."""
        ...

    def put_if(self, key: str, data: bytes, token: object) -> bool:
        """Atomically write ``data`` iff the key's current version matches
        ``token`` (``None`` = key must not exist). True on success."""
        ...

    def delete_if(self, key: str, token: object) -> bool:
        """Atomically delete iff the current version matches. True on
        success (also when the key was already gone AND token is None)."""
        ...


def cas_update(
    store: ConditionalStore,
    key: str,
    transform: Callable[[bytes | None], bytes],
    max_retries: int = 50,
    backoff: float = 0.01,
) -> bytes:
    """Optimistic read-modify-write: read the current value+token, apply
    ``transform`` (which sees None for a missing key), conditionally put.
    Retries on conflict — the loser of a concurrent race re-reads and
    re-applies, so no update is ever silently lost. Returns the bytes
    that won."""
    for attempt in range(max_retries + 1):
        cur = store.get(key)
        data, token = (cur if cur is not None else (None, None))
        new = transform(data)
        if store.put_if(key, new, token):
            return new
        time.sleep(backoff * min(attempt + 1, 10))
    raise CasConflict(
        f"cas_update on {key!r} lost {max_retries} consecutive races"
    )


class MemoryConditionalStore:
    """In-process conditional-put store (etag = monotonically increasing
    int per key). Thread-safe; the protocol-logic unit-test binding."""

    def __init__(self):
        self._lock = threading.Lock()
        self._data: dict[str, tuple[bytes, int]] = {}

    def get(self, key: str):
        with self._lock:
            entry = self._data.get(key)
            return (entry[0], entry[1]) if entry is not None else None

    def put_if(self, key: str, data: bytes, token) -> bool:
        with self._lock:
            cur = self._data.get(key)
            if (cur[1] if cur is not None else None) != token:
                return False
            self._data[key] = (data, (cur[1] + 1) if cur else 0)
            return True

    def delete_if(self, key: str, token) -> bool:
        with self._lock:
            cur = self._data.get(key)
            if cur is None:
                return token is None
            if cur[1] != token:
                return False
            del self._data[key]
            return True


class FileConditionalStore:
    """File-backed conditional-put store. Each key is a file under
    ``root``; its version token is a counter kept in a ``<key>.ver``
    sidecar, and every ``put_if``/``delete_if`` is made atomic with an
    flock held ONLY for the duration of that single call — the fake's
    internal substrate for the object store's server-side atomicity.
    Crash-safe: data lands via write-tmp+fsync+``os.replace`` and the
    version sidecar is replaced after the data, so a reader never sees a
    torn value (a crash between the two replaces leaves the new data with
    the old token — the next put_if against that token wins exactly once,
    same as a lost-response retry against a real store). The root is
    created by the first ``put_if``/``delete_if``: opening a store to read
    leaves nothing behind, and a ``get`` on a missing root is None."""

    def __init__(self, root: str):
        self.root = root

    def _paths(self, key: str):
        safe = key.replace("/", "__")
        return (
            os.path.join(self.root, safe),
            os.path.join(self.root, safe + ".ver"),
        )

    @contextlib.contextmanager
    def _atomic(self, key: str):
        import fcntl

        os.makedirs(self.root, exist_ok=True)
        lock_path = os.path.join(self.root, "_store.lock")
        fd = os.open(lock_path, os.O_CREAT | os.O_RDWR, 0o644)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            yield
        finally:
            os.close(fd)

    def _current_ver(self, data_path: str, ver_path: str):
        """Version rule: missing data -> None (key absent); data present
        without a sidecar -> 0 (a pre-CAS-era file adopts version 0, so
        existing sinks stay readable and CAS-able); else the sidecar."""
        if not os.path.exists(data_path):
            return None
        try:
            with open(ver_path) as fh:
                return int(fh.read().strip())
        except (FileNotFoundError, ValueError):
            return 0

    def get(self, key: str):
        if not os.path.isdir(self.root):
            return None
        data_path, ver_path = self._paths(key)
        with self._atomic(key):
            ver = self._current_ver(data_path, ver_path)
            if ver is None:
                return None
            with open(data_path, "rb") as fh:
                return fh.read(), ver

    def put_if(self, key: str, data: bytes, token) -> bool:
        data_path, ver_path = self._paths(key)
        with self._atomic(key):
            cur = self._current_ver(data_path, ver_path)
            if cur != token:
                return False
            tmp = data_path + ".tmp"
            with open(tmp, "wb") as fh:
                fh.write(data)
                fh.flush()
                os.fsync(fh.fileno())
            os.replace(tmp, data_path)
            vtmp = ver_path + ".tmp"
            with open(vtmp, "w") as fh:
                fh.write(str((cur + 1) if cur is not None else 0))
                fh.flush()
                os.fsync(fh.fileno())
            os.replace(vtmp, ver_path)
            return True

    def delete_if(self, key: str, token) -> bool:
        data_path, ver_path = self._paths(key)
        with self._atomic(key):
            cur = self._current_ver(data_path, ver_path)
            if cur is None:
                return token is None
            if cur != token:
                return False
            os.remove(data_path)
            try:
                os.remove(ver_path)
            except FileNotFoundError:
                pass
            return True
