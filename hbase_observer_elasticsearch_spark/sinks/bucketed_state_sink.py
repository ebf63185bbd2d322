"""Incremental bucketed state sink: per-epoch IO proportional to the
TOUCHED key set, not the whole state — with ATOMIC epoch commits.

`EmulatedEsSink` (state_sink.py) appends each epoch as a run and folds
runs into a base; this sink instead merges each epoch into the state it
touches. It hash-partitions the state by
``bkt = pmod(xxhash64(rowkey), n_buckets)`` and, per epoch:

1. computes the buckets touched by the batch (a collect of ≤ n_buckets
   small ints — driver-safe at any scale);
2. reads ONLY those bucket partitions (path-level pruning via the
   manifest);
3. LWW-merges the epoch's puts and deletes, raw or compacted, into them
   with state_sink.merge_epoch (the one-rowkey-shuffle merge
   EmulatedEsSink runs on read; the write then repartitions by bucket);
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

Multi-writer safety: ``apply`` runs under the per-root writer lease and
commits by the manifest generation compare-and-swap of
:class:`~.manifest.ManifestRoot`, the commit protocol this sink shares
with EmulatedEsSink.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .manifest import _WRITER_LOCK, ConcurrentWriterError, ManifestRoot  # noqa: F401
from .state_sink import (
    CELLS_SCHEMA,
    EsSinkConfig,
    _with_family,
    doc_view,
    merge_epoch,
)

N_BUCKETS = 32


class BucketedStateSink(ManifestRoot):
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        config: EsSinkConfig | None = None,
        n_buckets: int = N_BUCKETS,
    ):
        super().__init__(root)
        self.spark = spark
        self.config = config or EsSinkConfig()
        self.n_buckets = n_buckets

    def _bkt(self) -> F.Column:
        return F.pmod(F.xxhash64("rowkey"), F.lit(self.n_buckets))

    # -- manifest plumbing --------------------------------------------------
    def _manifest(self) -> dict[int, int]:
        """bucket → live version. Missing manifest = empty state."""
        raw = self._read_manifest_json().get("buckets", {})
        return {int(k): int(v) for k, v in raw.items()}

    def _swap_manifest(self, man: dict[int, int], expected_gen: int) -> None:
        self._commit_manifest(
            {"buckets": {str(k): v for k, v in man.items()}}, expected_gen
        )

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
        with self._lease():
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
        return doc_view(self.read_cells())
