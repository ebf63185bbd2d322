"""Idempotent document-state sink — the Spark restatement of the
reference's ES bulk upsert/delete path (SURVEY §2.1 #7-#14).

The reference buffers UpdateRequest/DeleteRequest and bulk-executes into
Elasticsearch (observer6/ElasticSearchBulkOperator.java:79-101).  Without a
live ES in this environment, the sink is a log-structured parquet cell
store with the same contract — but with *last-write-wins by mutation time*
instead of the reference's arrival-order overwrite (SURVEY §2.2.5 flags
arrival order as a defect; ordering by (ts, seq) is strictly better and is
what makes the sink correct under ANY micro-batch partitioning of the
changefeed).

Cells are stored raw, one row per mutation:

    (rowkey, qualifier, value, family, ts, seq)   — a put
    (rowkey, NULL,      NULL,  NULL,   ts, seq)   — a delete tombstone

and reduced by last-writer-wins (`_lww`) when read:

- a cell wins iff its (ts, family, seq) beats every other cell's —
  family byte-order breaks same-ts collisions exactly like the
  reference's NavigableMap iteration (HbaseDataSyncEsObserver.java:93-102)
  and the batch replay (operators/cdc.apply_changefeed), so state is
  invariant to how mutations split across micro-batches;
- a tombstone kills every cell with (ts, seq) ≤ the tombstone's and
  PERSISTS, so a stale pre-delete put arriving epochs later cannot
  resurrect a deleted document (at 100 TB you expire tombstones past the
  source's max-lateness watermark; here they are kept);
- the reduction is a max over a multiset, so applying an epoch twice
  changes nothing — streaming checkpoint replay gives an effectively
  exactly-once end state (stronger than all three reference variants,
  SURVEY §2.1 #22).

Layout (``EmulatedEsSink``), the HBase memstore-flush/HFile-compaction
model: each epoch is appended as an immutable run; every fourth live
version is folded into one base (`fold_versions`); readers see one
merged view per manifest commit.

Config surface mirrors the coprocessor binding params
(``es_cluster,es_host,es_port,es_index,es_type`` — README_zh.md:378) so a
real ES connector (`df.write.format("es")`) can be swapped in by replacing
`EmulatedEsSink` in one place.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..memos import Memo
from .manifest import ManifestRoot

CELLS_SCHEMA = T.StructType(
    [
        T.StructField("rowkey", T.StringType(), False),
        T.StructField("qualifier", T.StringType(), True),  # NULL = tombstone
        T.StructField("value", T.StringType(), True),
        T.StructField("family", T.StringType(), True),  # NULL on tombstones
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("seq", T.LongType(), False),
    ]
)

_CELL_COLS = ("rowkey", "qualifier", "value", "family", "ts", "seq")

# An apply that leaves this many versions live (base included) folds
# them into one new base.
FOLD_AT = 4

# One merged, materialized cell view per state root, rebuilt when the
# root's manifest commit changes.
_VIEWS = Memo("sink_views")


def _with_family(df: DataFrame) -> DataFrame:
    """Tolerate put frames without a family column: NULL family sorts
    last in the desc tiebreak, matching the reference's 'last family in
    byte order wins' rule."""
    if "family" in df.columns:
        return df
    return df.withColumn("family", F.lit(None).cast("string"))


@dataclass
class EsSinkConfig:
    """Mirrors the reference's binding-parameter names
    (observer6/HbaseDataSyncEsObserver.java:36-43)."""

    es_cluster: str = "my-application"
    es_host: str = "localhost"
    es_port: int = 9300
    es_index: str = "state"
    es_type: str = "_doc"
    # variant C's read-your-writes refresh per bulk (README_zh.md:264,
    # disabled in variant A at observer6/ElasticSearchBulkOperator.java:37)
    refresh_on_bulk: bool = False
    extra: dict[str, str] = field(default_factory=dict)

    def connector_options(self) -> dict[str, str]:
        """What we would pass to the real elasticsearch-hadoop connector.

        Variant B's multi-host surface (hosts split on '-' with random
        pick + transport sniffing, polyinfo/EsClient.java:71-77,96-103,111)
        maps to the connector's own `es.nodes` balancing — the random-pick
        machinery dissolves, exactly as SURVEY §2.1 #19 prescribes.
        """
        return {
            "es.nodes": ",".join(self.es_host.split("-")),
            "es.port": str(self.es_port),
            "es.resource": f"{self.es_index}/{self.es_type}",
            "es.write.operation": "upsert",
            "es.mapping.id": "rowkey",
            "es.batch.size.entries": "10000",  # MAX_BULK_COUNT parity
            "es.batch.write.retry.count": "3",  # reconnect+requeue (#14) analog
            "es.batch.write.refresh": str(self.refresh_on_bulk).lower(),  # #21
            **self.extra,
        }


def _epoch_rows(cells: DataFrame, dels: DataFrame) -> DataFrame:
    """An epoch's puts (`cells`, family optional) and deletes (`dels`:
    rowkey, ts, seq) as cell rows, each delete a qualifier-NULL
    tombstone. No shuffle."""
    none = F.lit(None).cast("string")
    tombs = dels.select(
        "rowkey", *(none.alias(c) for c in ("qualifier", "value", "family")),
        "ts", "seq",
    )
    return _with_family(cells).select(*_CELL_COLS).unionByName(tombs)


def _lww(rows: DataFrame, keep_ties: bool) -> DataFrame:
    """Last-writer-wins over cell rows in one rowkey shuffle: a window over
    rowkey drops every cell at or below the latest tombstone (ts, seq);
    then, per (rowkey, qualifier), keep the winner by (ts, family, seq)
    desc — or, with ``keep_ties``, every surviving cell at the winner's ts
    (duplicates dropped). The NULL-qualifier survivor is the latest
    tombstone. Filtering before ranking gives apply_changefeed's answer
    for any mix of mutations, and a replayed epoch's duplicate rows
    change nothing."""
    is_tomb = F.col("qualifier").isNull()
    last_del = F.max(F.when(is_tomb, F.struct("ts", "seq"))).over(
        Window.partitionBy("rowkey")
    )
    after_del = F.col("__del").isNull() | (F.struct("ts", "seq") > F.col("__del"))
    live = rows.withColumn("__del", last_del).filter(is_tomb | after_del)
    w = Window.partitionBy("rowkey", "qualifier")
    if keep_ties:
        keep = F.when(is_tomb, F.struct("ts", "seq") == F.col("__del")).otherwise(
            F.col("ts") == F.col("__top")
        )
        return (
            live.withColumn("__top", F.max("ts").over(w))
            .filter(keep)
            .select(*_CELL_COLS)
            .dropDuplicates()
        )
    ranked = w.orderBy(F.col("ts").desc(), F.col("family").desc(), F.col("seq").desc())
    return (
        live.withColumn("__rn", F.row_number().over(ranked))
        .filter(F.col("__rn") == 1)
        .select(*_CELL_COLS)
    )


def fold_versions(rows: DataFrame) -> DataFrame:
    """Compact cell rows into a base that answers every later merge as the
    rows themselves would: the latest tombstone per rowkey, and every
    surviving cell whose ts equals its (rowkey, qualifier) maximum.

    A cell below that ts loses to the same-ts cells under any later
    mutation: a later delete that kills all of them kills it too, since
    its ts is lower. Only same-ts cells can outlive one another."""
    return _lww(rows, True)


def doc_view(cells: DataFrame) -> DataFrame:
    """(rowkey, doc MAP<STRING,STRING>): the ES-document view of merged
    cells (what a search against the index would see)."""
    return (
        cells.filter(F.col("qualifier").isNotNull())
        .groupBy("rowkey")
        .agg(
            F.map_from_entries(
                F.array_sort(F.collect_list(F.struct("qualifier", "value")))
            ).alias("doc")
        )
    )


def drop_root(spark: SparkSession, root: str) -> None:
    """Remove a state root and evict its merged read view, so a scratch
    root leaves no materialized view behind."""
    _VIEWS.evict(spark, root)
    shutil.rmtree(root, ignore_errors=True)


class EmulatedEsSink(ManifestRoot):
    """Log-structured parquet cell store: append a run per epoch, fold
    every fourth live version into a base, read one merged view per
    commit.

    Layout: every directory the sink writes is a new ``<root>/v=<n>``
    with increasing n — an epoch's run (its raw puts plus qualifier-NULL
    tombstones) or a base folded from earlier versions. ``_MANIFEST``
    lists the live versions with the epoch each run holds, under a
    generation number (the commit protocol of `manifest.ManifestRoot`,
    writer lease included). A directory not in the manifest is invisible
    and is removed after the next commit, so a crash before a swap
    leaves the previous answer readable.

    Per-epoch cost: `apply` writes the run — one Spark job, no shuffle,
    O(|epoch|) whatever the state size — and swaps the manifest. A
    replayed epoch whose run is still live rewrites that run; one whose
    run was folded is appended again, which the merge absorbs. When an
    apply leaves `FOLD_AT` versions live it also folds them into one new
    base (`fold_versions`: one rowkey shuffle over the live versions) and
    swaps again, so reads never merge more than `FOLD_AT` - 1 versions.

    Read side: `read_cells` is the last-writer-wins merge (`_lww`) over
    the union of the live versions, materialized (localCheckpoint) once
    per manifest commit in the `sink_views` memo, keyed by the root. The
    commit is read from disk on every call, so another sink object
    writing the same root invalidates the view; the previous commit's
    view is evicted, and `drop_root` evicts a removed root's view. The
    first read after a commit pays the merge; later reads scan the view.
    """

    def __init__(
        self, spark: SparkSession, root: str, config: EsSinkConfig | None = None
    ):
        super().__init__(root)
        self.spark = spark
        self.config = config or EsSinkConfig()

    # -- versions -----------------------------------------------------------
    def _path(self, v: int) -> str:
        return os.path.join(self.root, f"v={v}")

    def _scan(self, versions: list[dict]) -> DataFrame:
        if not versions:
            return self.spark.createDataFrame([], CELLS_SCHEMA)
        paths = [self._path(e["v"]) for e in versions]
        return self.spark.read.schema(CELLS_SCHEMA).parquet(*paths)

    def _commit(self, live: list[dict], gen: int) -> int:
        """Swap the manifest to ``live``, drop every other version dir and
        return the new generation."""
        self._commit_manifest({"versions": live}, gen)
        keep = {f"v={e['v']}" for e in live}
        for name in os.listdir(self.root):
            if name.startswith("v=") and name not in keep:
                shutil.rmtree(os.path.join(self.root, name), ignore_errors=True)
        return gen + 1

    # -- write --------------------------------------------------------------
    def apply(
        self, cells: DataFrame, dels: DataFrame, epoch_id: int | None = None
    ) -> None:
        """Append one epoch as a run, folding when `FOLD_AT` are live.

        cells: (rowkey, qualifier, value, family, ts, seq) — the epoch's
        puts, raw or pre-compacted (family optional).
        dels:  (rowkey, ts, seq) — the epoch's deletes, raw or one per key.
        """
        with self._lease():
            man = self._read_manifest_json()
            gen, versions = int(man["gen"]), man.get("versions", [])
            # past every dir on disk, a crashed writer's included
            written = [int(n[2:]) for n in os.listdir(self.root) if n.startswith("v=")]
            v = max(written, default=0) + 1
            _epoch_rows(cells, dels).write.parquet(self._path(v))
            live = [e for e in versions if epoch_id is None or e["epoch"] != epoch_id]
            live.append({"v": v, "epoch": epoch_id})
            gen = self._commit(live, gen)
            if len(live) >= FOLD_AT:
                fold_versions(self._scan(live)).write.parquet(self._path(v + 1))
                self._commit([{"v": v + 1, "epoch": None}], gen)

    # -- read ---------------------------------------------------------------
    def read_cells(self) -> DataFrame:
        """The merged live cells (winners plus the latest tombstone per
        rowkey) of the current commit."""
        man = self._read_manifest_json()
        versions = man.get("versions", [])
        return _VIEWS.get(
            self.spark,
            self.root,
            lambda: _lww(self._scan(versions), False).localCheckpoint(eager=True),
            parent=(man["gen"], man.get("id")),
        )

    def read_state(self) -> DataFrame:
        """(rowkey, doc MAP<STRING,STRING>): the ES-document view of the
        live cells (what a search against the index would see)."""
        return doc_view(self.read_cells())
