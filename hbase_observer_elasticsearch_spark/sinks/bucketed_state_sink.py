"""Incremental bucketed state sink: per-epoch IO proportional to the
TOUCHED key set, not the whole state — with ATOMIC epoch commits.

`EmulatedEsSink` (state_sink.py) rewrites the full cell state every epoch —
correct and atomic, but O(|state|) per micro-batch, which at 100 TB of doc
state is a non-starter. This sink hash-partitions the state by
``bkt = pmod(xxhash64(rowkey), n_buckets)`` and, per epoch:

1. computes the buckets touched by the batch (a collect of ≤ n_buckets
   small ints — driver-safe at any scale);
2. reads ONLY those bucket partitions (path-level pruning via the
   manifest);
3. LWW-merges the epoch's puts and deletes, raw or compacted, into them
   with state_sink.merge_epoch (the same one-rowkey-shuffle merge as
   EmulatedEsSink; the write then repartitions by bucket);
4. writes the touched buckets' NEW VERSIONS to the side
   (``bkt=K/v=N+1``), then atomically swaps a single ``_MANIFEST``
   pointer file mapping bucket → live version.

Per-epoch cost: O(|touched buckets|) ≈ O(|touched keys|) for realistic
n_buckets. The reference's analog is per-region locality: an HBase
mutation touches one region's files, never the whole table.

Atomicity: readers resolve bucket paths through ``_MANIFEST`` (swapped
with ``os.replace``), so a crash anywhere mid-epoch — mid-write,
between bucket publishes, before the swap — leaves the manifest pointing
at the complete OLD versions; a crash after the swap exposes the complete
NEW versions. Partial state is unobservable, even before checkpoint
replay (which remains idempotent via merge_epoch and deterministic
version numbering). This is the write-temp-then-rename layout production
lakehouse table formats (Delta/Iceberg) implement with a commit log; the
manifest is the single-writer miniature of it.

Multi-writer safety: the manifest swap is only atomic against READERS;
two concurrent writers could interleave read-modify-write cycles and
silently drop each other's buckets. ``apply`` therefore runs under an
exclusive per-root writer lease (``_WRITER_LOCK``, created with
O_CREAT|O_EXCL — atomic on POSIX and local filesystems): a second writer
on the same root raises :class:`ConcurrentWriterError` instead of
corrupting state, and sequential writers serialize naturally because the
lease spans one epoch. A lease whose owning pid is dead is stolen (crash
recovery); as defense-in-depth against lock-steal races the manifest
carries a monotonically increasing ``gen`` that is compare-and-swapped at
commit, so even a stolen-lease interleaving fails loudly rather than
losing an epoch. On a shared object store (no O_EXCL, no pids) the same
two primitives map to conditional PUTs / a commit-log table — the
documented swap point for Delta/Iceberg-backed deployments.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .state_sink import CELLS_SCHEMA, EsSinkConfig, _with_family, merge_epoch

N_BUCKETS = 32

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


class BucketedStateSink:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        config: EsSinkConfig | None = None,
        n_buckets: int = N_BUCKETS,
    ):
        self.spark = spark
        self.root = root
        self.config = config or EsSinkConfig()
        self.n_buckets = n_buckets
        self._token = uuid.uuid4().hex  # identifies THIS writer's lease
        os.makedirs(root, exist_ok=True)

    def _bkt(self) -> F.Column:
        return F.pmod(F.xxhash64("rowkey"), F.lit(self.n_buckets))

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

    # -- manifest plumbing --------------------------------------------------
    def _read_manifest_json(self) -> dict:
        p = os.path.join(self.root, _MANIFEST)
        if not os.path.exists(p):
            return {"gen": 0, "buckets": {}}
        with open(p) as f:
            return json.load(f)

    def _manifest(self) -> dict[int, int]:
        """bucket → live version. Missing manifest = empty state."""
        raw = self._read_manifest_json()
        return {int(k): int(v) for k, v in raw["buckets"].items()}

    def _gen(self) -> int:
        return int(self._read_manifest_json().get("gen", 0))

    def _swap_manifest(self, man: dict[int, int], expected_gen: int) -> None:
        # Compare-and-swap on the generation: if another writer committed
        # since we read the manifest (possible only through a lock-steal
        # race), fail loudly rather than silently dropping its epoch.
        if self._gen() != expected_gen:
            raise ConcurrentWriterError(
                f"manifest generation moved under us at {self.root!r} "
                f"(expected {expected_gen}); another writer committed"
            )
        tmp = os.path.join(self.root, _MANIFEST + ".tmp")
        with open(tmp, "w") as f:
            json.dump(
                {
                    "gen": expected_gen + 1,
                    "buckets": {str(k): v for k, v in man.items()},
                },
                f,
            )
        os.replace(tmp, os.path.join(self.root, _MANIFEST))

    def _bucket_path(self, bkt: int, version: int) -> str:
        return os.path.join(self.root, f"bkt={bkt}", f"v={version}")

    # -- read ---------------------------------------------------------------
    def read_cells(self, buckets: list[int] | None = None) -> DataFrame:
        man = self._manifest()
        if buckets is not None:
            keep = set(buckets)
            man = {b: v for b, v in man.items() if b in keep}
        paths = [self._bucket_path(b, v) for b, v in sorted(man.items())]
        if not paths:
            return self.spark.createDataFrame([], CELLS_SCHEMA)
        # mergeSchema + null-fill tolerate bucket versions written before a
        # schema column existed (e.g. pre-family state dirs).
        df = _with_family(
            self.spark.read.option("mergeSchema", "true").parquet(*paths)
        )
        return df.select(*[f.name for f in CELLS_SCHEMA.fields])

    # -- write --------------------------------------------------------------
    def _publish_bucket(self, src: str, dst: str) -> None:
        """Move one bucket's new version into place (crash-injectable in
        tests; never observable through the manifest until the swap)."""
        if os.path.exists(dst):  # replayed epoch: rebuild deterministically
            shutil.rmtree(dst)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.move(src, dst)

    def apply(
        self, cells: DataFrame, dels: DataFrame, epoch_id: int | None = None
    ) -> None:
        touched = sorted(
            r["bkt"]
            for r in cells.select(self._bkt().alias("bkt"))
            .unionByName(dels.select(self._bkt().alias("bkt")))
            .distinct()
            .collect()
        )
        if not touched:
            return
        self._acquire_lease()
        try:
            man = self._manifest()
            gen = self._gen()
            cur = self.read_cells(buckets=touched)
            next_state = merge_epoch(cur, cells, dels).withColumn(
                "bkt", self._bkt()
            )

            # One job writes every touched bucket's next version to the side.
            tmp = os.path.join(self.root, f".epoch-{uuid.uuid4().hex[:12]}")
            (
                next_state.repartition("bkt")
                .write.mode("overwrite")
                .partitionBy("bkt")
                .parquet(tmp)
            )
            try:
                for b in touched:
                    src = os.path.join(tmp, f"bkt={b}")
                    if not os.path.exists(src):
                        # A touched bucket always yields >=1 row (cells or
                        # persistent tombstones) — guard anyway with an empty
                        # version so the manifest never points at nothing.
                        self.spark.createDataFrame([], CELLS_SCHEMA).write.mode(
                            "overwrite"
                        ).parquet(src)
                    self._publish_bucket(
                        src, self._bucket_path(b, man.get(b, 0) + 1)
                    )
                # THE commit point: readers flip to all new versions at once.
                self._swap_manifest(
                    {**man, **{b: man.get(b, 0) + 1 for b in touched}},
                    expected_gen=gen,
                )
            finally:
                shutil.rmtree(tmp, ignore_errors=True)
            self._gc(keep={b: man.get(b, 0) + 1 for b in touched})
        finally:
            self._release_lease()

    def _gc(self, keep: dict[int, int]) -> None:
        """Drop versions older than the previous one (kept for rollback)
        and stale epoch temp dirs from crashed writers."""
        for b, v in keep.items():
            bdir = os.path.join(self.root, f"bkt={b}")
            for name in os.listdir(bdir):
                if name.startswith("v=") and int(name[2:]) < v - 1:
                    shutil.rmtree(os.path.join(bdir, name), ignore_errors=True)

    # -- document view ------------------------------------------------------
    def read_state(self) -> DataFrame:
        """(rowkey, doc): the ES-document view (same contract as
        EmulatedEsSink.read_state)."""
        return (
            self.read_cells()
            .filter(F.col("qualifier").isNotNull())
            .groupBy("rowkey")
            .agg(
                F.map_from_entries(
                    F.array_sort(F.collect_list(F.struct("qualifier", "value")))
                ).alias("doc")
            )
        )
