"""The state sink's commit protocol (`state_sink.EmulatedEsSink`): one
JSON ``_MANIFEST`` naming the live files, committed by a generation
compare-and-swap under an exclusive per-root writer lease.

Readers resolve paths through the manifest, swapped with ``os.replace``,
so whatever a writer leaves half-done before the swap is unobservable.
The swap is atomic only against READERS: two concurrent writers could
interleave read-modify-write cycles and silently drop each other's
epochs. A writer therefore holds the lease (``_WRITER_LOCK``, created
with O_CREAT|O_EXCL — atomic on POSIX and local filesystems) for one
epoch: a second writer on the same root raises
:class:`ConcurrentWriterError` instead of corrupting state, and
sequential writers serialize naturally. A lease whose owning pid is dead
is stolen (crash recovery); as defense-in-depth against lock-steal races
the manifest carries a monotonically increasing ``gen`` that is
compare-and-swapped at commit, so even a stolen-lease interleaving fails
loudly rather than losing an epoch. On a shared object store (no O_EXCL,
no pids) the same two primitives map to conditional PUTs / a commit-log
table — the documented swap point for Delta/Iceberg-backed deployments.
"""

from __future__ import annotations

import json
import os
import uuid
from collections.abc import Iterator
from contextlib import contextmanager

_MANIFEST = "_MANIFEST"
_WRITER_LOCK = "_WRITER_LOCK"


class ConcurrentWriterError(RuntimeError):
    """A second live writer holds (or raced us to) this state root."""


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True  # exists, owned by someone else
    return True


class ManifestRoot:
    """A state dir committed through one generation-numbered manifest.
    Each commit also stamps a fresh ``id``, so (gen, id) names one
    commit even when a root is removed and rebuilt."""

    def __init__(self, root: str):
        self.root = root
        self._token = uuid.uuid4().hex  # identifies THIS writer's lease
        os.makedirs(root, exist_ok=True)

    # -- writer lease -------------------------------------------------------
    def _acquire_lease(self) -> None:
        """Take the exclusive per-root writer lease or raise.

        O_CREAT|O_EXCL is the atomic claim; a lease owned by a dead pid is
        stolen once (crash recovery). Two live writers -> the second gets
        ConcurrentWriterError instead of interleaving manifest swaps.
        """
        p = os.path.join(self.root, _WRITER_LOCK)
        payload = json.dumps({"pid": os.getpid(), "token": self._token})
        for attempt in (0, 1):
            try:
                fd = os.open(p, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                try:
                    os.write(fd, payload.encode())
                finally:
                    os.close(fd)
                return
            except FileExistsError:
                try:
                    with open(p) as f:
                        owner = json.load(f)
                    pid = int(owner.get("pid", -1))
                except (OSError, ValueError):
                    pid = -1  # torn lock file: treat as stale
                if pid > 0 and _pid_alive(pid):
                    raise ConcurrentWriterError(
                        f"state root {self.root!r} already has a live "
                        f"writer (pid {pid}); refusing to interleave epochs"
                    )
                if attempt == 0:
                    try:
                        os.unlink(p)  # steal the stale lease, retry once
                    except FileNotFoundError:
                        pass
        raise ConcurrentWriterError(
            f"could not acquire writer lease on {self.root!r}"
        )

    def _release_lease(self) -> None:
        p = os.path.join(self.root, _WRITER_LOCK)
        try:
            with open(p) as f:
                if json.load(f).get("token") != self._token:
                    return  # stolen from us; not ours to remove
            os.unlink(p)
        except (OSError, ValueError):
            pass

    @contextmanager
    def _lease(self) -> Iterator[None]:
        self._acquire_lease()
        try:
            yield
        finally:
            self._release_lease()

    # -- manifest -----------------------------------------------------------
    def _read_manifest_json(self) -> dict:
        """The committed manifest; ``{"gen": 0}`` before the first commit."""
        p = os.path.join(self.root, _MANIFEST)
        if not os.path.exists(p):
            return {"gen": 0}
        with open(p) as f:
            return json.load(f)

    def _gen(self) -> int:
        return int(self._read_manifest_json().get("gen", 0))

    def _commit_manifest(self, body: dict, expected_gen: int) -> None:
        """Publish ``body`` as generation ``expected_gen + 1``.

        Compare-and-swap on the generation: if another writer committed
        since we read the manifest (possible only through a lock-steal
        race), fail loudly rather than silently dropping its epoch."""
        if self._gen() != expected_gen:
            raise ConcurrentWriterError(
                f"manifest generation moved under us at {self.root!r} "
                f"(expected {expected_gen}); another writer committed"
            )
        tmp = os.path.join(self.root, _MANIFEST + ".tmp")
        with open(tmp, "w") as f:
            json.dump(
                {**body, "gen": expected_gen + 1, "id": uuid.uuid4().hex}, f
            )
        os.replace(tmp, os.path.join(self.root, _MANIFEST))
