"""Idempotent document-state sink — the Spark restatement of the
reference's ES bulk upsert/delete path (SURVEY §2.1 #7-#14).

The reference buffers UpdateRequest/DeleteRequest and bulk-executes into
Elasticsearch (observer6/ElasticSearchBulkOperator.java:79-101).  Without a
live ES in this environment, the sink is a MERGE-emulating parquet state
table with the same contract — but with *last-write-wins by mutation time*
instead of the reference's arrival-order overwrite (SURVEY §2.2.5 flags
arrival order as a defect; ordering by (ts, seq) is strictly better and is
what makes the sink correct under ANY micro-batch partitioning of the
changefeed).

State is stored at cell granularity, versioned per cell:

    (rowkey, qualifier, value, family, ts, seq)   — a live cell
    (rowkey, NULL,      NULL,  NULL,   ts, seq)   — a delete tombstone

- an incoming cell wins iff its (ts, family, seq) beats the stored
  cell's — family byte-order breaks same-ts collisions exactly like the
  reference's NavigableMap iteration (HbaseDataSyncEsObserver.java:93-102)
  and the batch replay (operators/cdc.apply_changefeed), so streamed state
  is invariant to how same-ts mutations split across micro-batches (but
  see merge_epoch's cross-epoch limit when a delete splits them);
- a tombstone kills every cell with (ts, seq) ≤ the tombstone's and
  PERSISTS, so a stale pre-delete put arriving epochs later cannot
  resurrect a deleted document (at 100 TB you expire tombstones past the
  source's max-lateness watermark; here they are kept);
- replaying an epoch is a no-op by construction: max/row_number over the
  same inputs — idempotent, so streaming checkpoint replay gives an
  effectively exactly-once end state (stronger than all three reference
  variants, SURVEY §2.1 #22).

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


def _with_family(df: DataFrame) -> DataFrame:
    """Tolerate cell frames without a family column (tombstone-only frames,
    pre-family state tables): NULL family sorts last in the desc tiebreak,
    matching the reference's 'last family in byte order wins' rule."""
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


def merge_epoch(cur: DataFrame, cells: DataFrame, dels: DataFrame) -> DataFrame:
    """Pure LWW merge of one epoch's raw puts (`cells`) and deletes (`dels`:
    rowkey, ts, seq) into the current cell state; returns the next state
    (live cells + persistent tombstones). Shared by both sink layouts.

    One rowkey shuffle: the deletes join as qualifier-NULL tombstone rows,
    a window over rowkey drops every cell at or below the latest tombstone
    (ts, seq), then row_number over (rowkey, qualifier) by (ts, family, seq)
    desc keeps each winner; the NULL-qualifier winner is the tombstone.
    Filtering before ranking gives apply_changefeed's answer for any mix of
    mutations within one epoch; replaying an epoch is a no-op.

    Cross-epoch limit: state keeps only the winning cell per (rowkey,
    qualifier). If two same-ts puts land in one epoch, the family winner
    has the lower seq, and a delete between their seqs lands in a later
    epoch, the losing put is already gone and cannot outlive the delete
    as it does in apply_changefeed."""
    none = F.lit(None).cast("string")
    tombs = dels.select(
        "rowkey", *(none.alias(c) for c in ("qualifier", "value", "family")),
        "ts", "seq",
    )
    rows = (
        cur.select(*_CELL_COLS)
        .unionByName(_with_family(cells).select(*_CELL_COLS))
        .unionByName(tombs)
    )
    is_tomb = F.col("qualifier").isNull()
    last_del = F.max(F.when(is_tomb, F.struct("ts", "seq"))).over(
        Window.partitionBy("rowkey")
    )
    w = Window.partitionBy("rowkey", "qualifier").orderBy(
        F.col("ts").desc(), F.col("family").desc(), F.col("seq").desc()
    )
    after_del = F.col("__del").isNull() | (F.struct("ts", "seq") > F.col("__del"))
    return (
        rows.withColumn("__del", last_del)
        .filter(is_tomb | after_del)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(*_CELL_COLS)
    )


class EmulatedEsSink:
    """Versioned parquet cell-state dir with atomic pointer swap per epoch.

    Layout: ``<root>/v=<n>/`` holds the full cell state; ``<root>/_CURRENT``
    names the live version.  Each `apply` writes v=n+1 from v=n + batch,
    then swaps the pointer — a crashed epoch leaves the old version live.

    Scale shape: one `apply` is one hash shuffle on rowkey (state ∪ puts ∪
    tombstones → two windows on that one exchange) plus the write: two
    Spark jobs, whatever the epoch's size. At 100 TB the state table would
    be bucketed by rowkey so the merge co-locates without reshuffling the
    stored side.
    """

    def __init__(
        self, spark: SparkSession, root: str, config: EsSinkConfig | None = None
    ):
        self.spark = spark
        self.root = root
        self.config = config or EsSinkConfig()
        os.makedirs(root, exist_ok=True)

    # -- version plumbing ---------------------------------------------------
    def _current_version(self) -> int:
        p = os.path.join(self.root, "_CURRENT")
        if not os.path.exists(p):
            return 0
        with open(p) as f:
            return int(f.read().strip())

    def _set_version(self, v: int) -> None:
        tmp = os.path.join(self.root, "_CURRENT.tmp")
        with open(tmp, "w") as f:
            f.write(str(v))
        os.replace(tmp, os.path.join(self.root, "_CURRENT"))

    def read_cells(self) -> DataFrame:
        v = self._current_version()
        path = os.path.join(self.root, f"v={v}")
        if v == 0 and not os.path.exists(path):
            return self.spark.createDataFrame([], CELLS_SCHEMA)
        return self.spark.read.schema(CELLS_SCHEMA).parquet(path)

    # -- the MERGE ----------------------------------------------------------
    def apply(
        self, cells: DataFrame, dels: DataFrame, epoch_id: int | None = None
    ) -> None:
        """LWW-merge one epoch into the state table.

        cells: (rowkey, qualifier, value, family, ts, seq) — the epoch's
        puts, raw or pre-compacted (family optional).
        dels:  (rowkey, ts, seq) — the epoch's deletes, raw or one per key.
        """
        next_state = merge_epoch(self.read_cells(), cells, dels)

        v = self._current_version()
        out = os.path.join(self.root, f"v={v + 1}")
        if os.path.exists(out):  # replayed epoch: rebuild deterministically
            shutil.rmtree(out)
        next_state.write.mode("overwrite").parquet(out)
        self._set_version(v + 1)
        # GC all but the previous version (kept for crash rollback)
        for name in os.listdir(self.root):
            if name.startswith("v=") and int(name[2:]) < v:
                shutil.rmtree(os.path.join(self.root, name), ignore_errors=True)

    # -- document view ------------------------------------------------------
    def read_state(self) -> DataFrame:
        """(rowkey, doc MAP<STRING,STRING>): the ES-document view of the
        live cells (what a search against the index would see)."""
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
