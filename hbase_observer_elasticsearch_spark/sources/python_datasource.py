"""Custom Python DataSource (Spark 4 `pyspark.sql.datasource` API) that
exposes the events-derived changefeed as a first-class `spark.read.format`
connector — the architectural slot where a real HBase-snapshot or
replication-log connector plugs in (reference client factory,
polyinfo/EsClient.java:29-60; our emulated option map,
sinks/state_sink.py).

Why this shape matters at 100 TB: the reader declares PARTITIONS (here:
hash ranges of the rowkey space, like HBase regions) and Spark schedules
one task per partition — the connector controls split granularity while
Catalyst keeps projection/limit handling. Each task reads only its slice
via pyarrow (predicate-filterable at the row-group level in a real
implementation), so adding executors scales reads linearly exactly like
the built-in parquet source.

The partition count is an option (`numPartitions`, default 4); rows are
dealt to partitions by `seq % numPartitions`, a stand-in for region
ranges. Reading is Arrow-batch-friendly (pyarrow table → per-row tuples;
a production reader would yield RecordBatches).

The streaming face is one reader, `ChangefeedStreamReader`: offsets are
event-id watermarks and each micro-batch is read on executors in
``numPartitions`` slices; the driver reads only parquet footers.
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)


class _ModPartition(InputPartition):
    def __init__(self, mod: int, n_mod: int, path: str):
        self.mod = mod
        self.n_mod = n_mod
        self.path = path


# Output column → (source parquet columns it derives from, DDL type).
# The projection contract: an output column's cost is exactly its source
# columns' IO — e.g. selecting only (seq, rowkey) reads only
# (event_id, user_id) from parquet.
_CHANGEFEED_COLS: dict[str, tuple[tuple[str, ...], str]] = {
    "seq": (("event_id",), "bigint"),
    "op": (("event_type",), "string"),
    "rowkey": (("user_id",), "string"),
    "qualifier": (("event_type",), "string"),
    "value": (("event_type", "value"), "double"),
}
_FULL_COLS = tuple(_CHANGEFEED_COLS)


def _parse_columns(options) -> tuple[str, ...]:
    """``columns`` option → output columns in canonical order (COLUMN
    PRUNING: Spark 4.1's Python DataSource has
    no pruneColumns hook, so the projection arrives as an option; the
    DataSource narrows its declared schema AND every reader narrows its
    executor-side parquet read to the columns the projection derives
    from). Absent/empty = the full 5-column feed."""
    raw = options.get("columns")
    if not raw:
        return _FULL_COLS
    want = [c.strip() for c in raw.split(",") if c.strip()]
    unknown = sorted(set(want) - set(_FULL_COLS))
    if unknown:
        raise ValueError(
            f"changefeed_py: unknown columns {unknown}; "
            f"valid: {list(_FULL_COLS)}"
        )
    return tuple(c for c in _FULL_COLS if c in set(want))


def _source_columns(
    out_cols: tuple[str, ...], extra: tuple[str, ...] = ()
) -> list[str]:
    """Source parquet columns an output projection needs, plus any
    ``extra`` the reader itself requires (e.g. event_id for eid
    mod-slicing), in stable parquet-schema order."""
    need = set(extra)
    for c in out_cols:
        need.update(_CHANGEFEED_COLS[c][0])
    order = ["event_id", "event_type", "user_id", "value"]
    return [c for c in order if c in need]


class ChangefeedDataSource(DataSource):
    """`spark.read.format("changefeed_py").option("path", events_parquet)`."""

    @classmethod
    def name(cls) -> str:
        return "changefeed_py"

    def schema(self) -> str:
        return ", ".join(
            f"{c} {_CHANGEFEED_COLS[c][1]}"
            for c in _parse_columns(self.options)
        )

    def reader(self, schema) -> DataSourceReader:
        # ``partitionBy=rowkey`` opts into the region-scan layout with
        # Spark 4.1 filter pushdown (RegionChangefeedReader); the
        # default mod-slice reader stays pushdown-free so it works in
        # sessions without spark.sql.python.filterPushdown.enabled.
        if self.options.get("partitionBy", "hash") == "rowkey":
            return RegionChangefeedReader(self.options)
        return ChangefeedReader(self.options)

    def streamReader(self, schema) -> "ChangefeedStreamReader":
        return ChangefeedStreamReader(self.options)


def _project_changefeed(t, out_cols=None):
    """Executor-side: project a raw events pyarrow Table into the
    changefeed shape — only the ``out_cols`` projection (column pruning:
    pruned output columns are never computed, and their source columns
    were never read). Arrow end-to-end — batches cross into Spark via
    the Arrow IPC path with zero per-row Python work, ~10-100x cheaper
    to serialize than tuple yields."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if out_cols is None:
        out_cols = _FULL_COLS
    is_del = (
        pc.equal(t["event_type"], "error")
        if "event_type" in t.column_names
        else None
    )
    null_str = pa.scalar(None, pa.string())
    null_dbl = pa.scalar(None, pa.float64())
    builders = {
        "seq": lambda: pc.cast(t["event_id"], pa.int64()),
        "op": lambda: pc.if_else(is_del, "delete", "put"),
        "rowkey": lambda: pc.cast(t["user_id"], pa.string()),
        "qualifier": lambda: pc.if_else(is_del, null_str, t["event_type"]),
        "value": lambda: pc.if_else(
            is_del, null_dbl, pc.cast(t["value"], pa.float64())
        ),
    }
    out = pa.table({c: builders[c]() for c in out_cols})
    yield from out.to_batches()


def _changefeed_record_batches(table, mod: int, n_mod: int, out_cols=None):
    """One mod-slice of the feed (seq % n_mod == mod), projected."""
    import pyarrow.compute as pc

    eids = table["event_id"]
    mask = pc.equal(
        pc.subtract(eids, pc.multiply(pc.divide(eids, n_mod), n_mod)), mod
    )
    yield from _project_changefeed(table.filter(mask), out_cols)


class _RegionPartition(InputPartition):
    """One executor task: the rowkey region whose keys start with
    ``prefix`` (a leading digit — a pre-split HBase region), narrowed by
    the numeric user_id ranges the pushed rowkey filters translate to."""

    def __init__(self, prefix: str, path: str, ranges, keys):
        self.prefix = prefix
        self.path = path
        self.ranges = ranges  # list[(lo, hi)] inclusive user_id ranges
        self.keys = keys  # exact user_id list from EqualTo/In, or None


_MAX_ROWKEY_DIGITS = 19  # str(int64.max) is 19 digits


def _prefix_ranges(prefix: str) -> list[tuple[int, int]]:
    """Lexicographic rowkey-prefix → exact numeric user_id ranges.

    rowkey = str(user_id) with no leading zeros, so ``rowkey LIKE 'p%'``
    ⇔ user_id ∈ ⋃_k [int(p)·10^k, (int(p)+1)·10^k − 1] for k = 0.. —
    the planning-time translation that lets an HBase-region analog scan
    row-group statistics instead of rows (reference region-scan slot,
    observer6/HbaseDataSyncEsObserver.java:36-43). Non-numeric or
    zero-led prefixes match no canonical rowkey → []."""
    if prefix == "0":
        return [(0, 0)]  # "0" is the only canonical rowkey led by '0'
    if not prefix or not prefix.isdigit() or prefix[0] == "0":
        return []
    p = int(prefix)
    out = []
    for k in range(_MAX_ROWKEY_DIGITS - len(prefix) + 1):
        lo = p * 10**k
        hi = (p + 1) * 10**k - 1
        if lo > 2**63 - 1:
            break
        out.append((lo, min(hi, 2**63 - 1)))
    return out


class ChangefeedReader(DataSourceReader):
    """Default batch reader: ``numPartitions`` mod-slices of the seq
    space (region-count stand-in; no pruning surface — the pushdown
    path lives in RegionChangefeedReader so this class stays usable in
    sessions that never enable
    ``spark.sql.python.filterPushdown.enabled``)."""

    def __init__(self, options):
        self.path = options.get("path")
        self.n = int(options.get("numPartitions", "4"))
        self.out_cols = _parse_columns(options)
        # event_id always read: the mod-slice mask needs it even when
        # seq is pruned from the projection.
        self.src_cols = _source_columns(self.out_cols, extra=("event_id",))

    def partitions(self):
        return [_ModPartition(i, self.n, self.path) for i in range(self.n)]

    def read(self, partition: _ModPartition):
        # Executor-side: import locally so the driver plan never needs it.
        import pyarrow.parquet as pq

        t = pq.read_table(partition.path, columns=self.src_cols)
        yield from _changefeed_record_batches(
            t, partition.mod, partition.n_mod, self.out_cols
        )


class RegionChangefeedReader(DataSourceReader):
    """Batch reader with SOURCE-SIDE FILTER PUSHDOWN (Spark 4.1
    `pushFilters`). Selected via
    ``.option("partitionBy", "rowkey")``; requires
    ``spark.sql.python.filterPushdown.enabled`` (set by
    session.ensure_session_conf).

    Layout: one partition per leading-digit rowkey region ('0'..'9';
    the '0' region is the single rowkey "0", since canonical str(int)
    has no leading zeros) — the pre-split-HBase-table layout.
    ``pushFilters`` accepts EqualTo / In / StringStartsWith on
    ``rowkey`` and (a) PRUNES whole regions at partition-planning time
    — Spark never schedules a task for a region the predicate
    excludes, the HBase region-scan analog
    (observer6/HbaseDataSyncEsObserver.java:36-43) — and (b) translates
    the surviving predicate into exact numeric user_id ranges the
    executor read hands to parquet as row-group filters. Accepted
    filters are fully applied at the source (the prefix↔range
    translation is exact for canonical str(int) rowkeys), so they are
    consumed, not re-evaluated by Spark; everything else is yielded
    back.

    GOTCHA (upstream Spark 4.1 behavior, verified on this box): the
    JVM caches the planned read on the shared PythonDataSourceV2
    relation, so two DataFrames derived from ONE ``.load()`` call
    interfere — the last pushdown planned wins for both. Build a fresh
    ``.load()`` per query (every registered query here does).
    """

    def __init__(self, options):
        self.path = options.get("path")
        self._pushed: list = []  # serializable (kind, value) pairs
        self.out_cols = _parse_columns(options)
        # No reader-side slicing dependency: region tasks filter on
        # user_id via pyarrow `filters`, which pyarrow evaluates before
        # the `columns` projection — filter columns need not be read.
        self.src_cols = _source_columns(self.out_cols)

    # -- Spark 4.1 filter-pushdown hook -------------------------------------
    def pushFilters(self, filters):
        from pyspark.sql.datasource import EqualTo, In, StringStartsWith

        for f in filters:
            attr = getattr(f, "attribute", None)
            if attr == ("rowkey",):
                if isinstance(f, EqualTo) and isinstance(f.value, str):
                    self._pushed.append(("eq", (f.value,)))
                    continue
                if isinstance(f, In) and all(
                    isinstance(v, str) for v in f.value
                ):
                    self._pushed.append(("eq", tuple(f.value)))
                    continue
                if isinstance(f, StringStartsWith):
                    self._pushed.append(("prefix", f.value))
                    continue
            yield f  # unsupported → Spark evaluates it post-scan

    # -- planning-time region pruning ----------------------------------------
    def _surviving_regions(self) -> dict[str, tuple[list, object]]:
        """Region prefix → (user_id ranges, exact key list or None),
        intersecting every pushed filter. Empty dict = fully pruned."""
        regions: dict[str, tuple[list, object]] = {
            d: (_prefix_ranges(d), None) for d in "0123456789"
        }
        for kind, val in self._pushed:
            if kind == "eq":
                # Keys beyond int64 can never equal a canonical
                # str(int64) rowkey — drop them at planning time (they
                # would otherwise OverflowError pyarrow's int64 in-filter
                # on the executor), mirroring the _prefix_ranges cap.
                keys = [
                    int(v)
                    for v in val
                    if v.isdigit()
                    and (v == "0" or v[0] != "0")
                    and int(v) <= 2**63 - 1
                ]
                nxt = {}
                for d, (ranges, ks) in regions.items():
                    mine = [k for k in keys if str(k)[0] == d]
                    if not mine:
                        continue
                    mine = (
                        mine if ks is None
                        else [k for k in mine if k in ks]
                    )
                    # Intersect with ranges narrowed by any EARLIER
                    # prefix filter — read() serves keys without
                    # re-checking ranges, so a key outside the current
                    # ranges must die here or the conjunction silently
                    # widens.
                    mine = [
                        k
                        for k in mine
                        if any(lo <= k <= hi for lo, hi in ranges)
                    ]
                    if mine:
                        nxt[d] = (ranges, mine)
                regions = nxt
            else:  # prefix
                if val == "":
                    continue  # empty prefix matches every rowkey
                pr = _prefix_ranges(val)
                if not pr:
                    return {}
                d = val[0]
                if d not in regions:
                    return {}
                ranges, ks = regions[d]
                narrowed = [
                    (max(lo1, lo2), min(hi1, hi2))
                    for lo1, hi1 in ranges
                    for lo2, hi2 in pr
                    if max(lo1, lo2) <= min(hi1, hi2)
                ]
                if ks is not None:
                    ks = [
                        k
                        for k in ks
                        if any(lo <= k <= hi for lo, hi in narrowed)
                    ]
                    if not ks:
                        return {}
                regions = {d: (narrowed, ks)} if narrowed else {}
        return regions

    def partitions(self):
        return [
            _RegionPartition(d, self.path, ranges, keys)
            for d, (ranges, keys) in sorted(
                self._surviving_regions().items()
            )
        ]

    def read(self, partition: _RegionPartition):
        if partition is None:
            # Fully-pruned scan: partitions() returned [] and Spark
            # schedules one empty task with a None partition.
            return
        # Executor-side: import locally so the driver plan never needs it.
        import pyarrow.parquet as pq

        # Region scan: the pushed predicate rides into the parquet read
        # as DNF row-group filters (exact — see _prefix_ranges), so a
        # region task touches only row groups whose user_id statistics
        # overlap its ranges.
        if partition.keys is not None:
            dnf = [[("user_id", "in", list(partition.keys))]]
        else:
            dnf = [
                [("user_id", ">=", lo), ("user_id", "<=", hi)]
                for lo, hi in partition.ranges
            ]
        if not dnf:
            return
        t = pq.read_table(
            partition.path, columns=self.src_cols, filters=dnf
        )
        yield from _project_changefeed(t, self.out_cols)


def register_changefeed_datasource(spark) -> None:
    """Idempotent registration of the connector with a SparkSession."""
    try:
        spark.dataSource.register(ChangefeedDataSource)
    except Exception as e:  # noqa: BLE001 — already-registered is fine
        if "already" not in str(e).lower():
            raise


class _EidRangePartition(InputPartition):
    """One executor task: mod-slice ``mod`` of eid range ``(lo, hi]``,
    optionally narrowed to the user_id ``ranges`` of a rowkey region
    (stream-side region pruning; None = unpruned)."""

    def __init__(
        self, mod: int, n_mod: int, path: str, lo: int, hi: int, ranges=None
    ):
        self.mod = mod
        self.n_mod = n_mod
        self.path = path
        self.lo = lo
        self.hi = hi
        self.ranges = ranges


class ChangefeedStreamReader(DataSourceStreamReader):
    """Partition-parallel streaming reader (Spark 4
    `DataSourceStreamReader`): offsets are event-id watermarks
    (``{"eid": N}`` = everything with event_id <= N served — the LSN of
    a real replication log), and every micro-batch is planned as
    ``numPartitions`` mod-slices of the offset range, read ON EXECUTORS
    via pyarrow with an eid-range row-group filter. The driver touches
    only the parquet FOOTER (min/max event_id statistics) — it never
    materializes the feed, so driver memory is O(1) in feed size.

    Replay contract: `partitions(start, end)` is a pure function of the
    offsets, so a restarted query re-planning the checkpointed
    uncommitted range reads exactly the same rows — effectively-exactly-
    once, where the reference's requeue (ElasticSearchBulkOperator.java:
    56-66) replays blindly and duplicates.

    Rate limiting: `latestOffset` advances the planned watermark by
    ``batchSize`` eids per call (event_ids are dense in the fixtures, so
    eid-space == row-space). The ratchet re-anchors on every
    `partitions`/`commit` call, which makes it restart-safe: traced
    against Spark 4.1's MicroBatchExecution, a restarted query ALWAYS
    re-plans the recovered batch range first — ``partitions(ckpt_start,
    ckpt_end)`` arrives before any ``latestOffset`` call in both recovery
    paths (pending uncommitted batch AND fully-committed shutdown), so
    the watermark can never regress below the checkpoint. The
    ``partitions`` inverted-range guard (empty batch) is belt-and-braces
    on top.
    """

    def __init__(self, options):
        self.path = options.get("path")
        self.batch = int(options.get("batchSize", "2500"))
        self.n = int(options.get("numPartitions", "4"))
        # Stream-side region pruning: a
        # comma-separated ``rowkeyPrefix`` option scopes the tail to the
        # rowkey regions the prefixes touch — the replication-log analog
        # of an HBase scan bounded to a key range. Spark 4.1 exposes
        # pushFilters on batch readers only, so the stream face takes
        # the predicate as an option; the translation reuses the batch
        # reader's exact prefix→numeric-range machinery. None = the
        # pruning-free mod-slice layout (unchanged default).
        self._region_ranges = self._plan_regions(
            options.get("rowkeyPrefix")
        )
        self.out_cols = _parse_columns(options)
        # event_id always read: the eid mod-slice mask needs it even
        # when seq is pruned from the projection.
        self.src_cols = _source_columns(self.out_cols, extra=("event_id",))
        self._bounds = None  # (min_eid, max_eid) from the parquet footer
        self._planned = None  # highest eid watermark handed to Spark
        # Observability for the partitions() inverted-range guard: the
        # lo-1 first-call ratchet anchor relies on the traced Spark-4.1
        # recovery ordering (partitions() before latestOffset()). If a
        # future Spark changes that order, the guard silently yields empty
        # triggers until the ratchet catches up — counting + logging each
        # firing makes a protocol-order change observable instead of
        # silent.
        self.inverted_range_count = 0

    @staticmethod
    def _plan_regions(prefix_opt):
        """``rowkeyPrefix`` option → {leading digit: union of user_id
        ranges}, or None when the option is absent/empty (no pruning).
        A prefix matching no canonical rowkey contributes nothing; all
        prefixes unmatchable → {} (every micro-batch plans 0 tasks)."""
        if not prefix_opt:
            return None
        regions: dict[str, list[tuple[int, int]]] = {}
        for prefix in prefix_opt.split(","):
            prefix = prefix.strip()
            if not prefix:
                continue
            pr = _prefix_ranges(prefix)
            if pr:
                regions.setdefault(prefix[0], []).extend(pr)
        return regions

    # -- driver-side helpers (footer metadata only, never data) ------------
    def _eid_bounds(self) -> tuple[int, int]:
        if self._bounds is None:
            import pyarrow.parquet as pq

            md = pq.ParquetFile(self.path).metadata
            idx = next(
                i
                for i in range(md.num_columns)
                if md.schema.column(i).name == "event_id"
            )
            lo = min(
                md.row_group(g).column(idx).statistics.min
                for g in range(md.num_row_groups)
            )
            hi = max(
                md.row_group(g).column(idx).statistics.max
                for g in range(md.num_row_groups)
            )
            self._bounds = (lo, hi)
        return self._bounds

    def _anchor(self, *eids: int) -> None:
        known = [e for e in eids if e is not None]
        if self._planned is not None:
            known.append(self._planned)
        if known:
            self._planned = max(known)

    # -- DataSourceStreamReader contract -----------------------------------
    def initialOffset(self):
        lo, _ = self._eid_bounds()
        return {"eid": lo - 1}

    def latestOffset(self):
        lo, hi = self._eid_bounds()
        if self._planned is None:
            # First call in this reader's life, which traced-protocol-wise
            # only happens on a FRESH query (a restart re-anchors via the
            # recovered-batch partitions() call first — see class doc), so
            # starting the ratchet at lo-1 is exact.
            self._planned = lo - 1
        self._planned = min(self._planned + self.batch, hi)
        return {"eid": self._planned}

    def partitions(self, start, end):
        self._anchor(start["eid"], end["eid"])
        lo, hi = start["eid"], end["eid"]
        if lo >= hi:
            if lo > hi:
                self.inverted_range_count += 1
                import logging

                logging.getLogger(__name__).warning(
                    "changefeed stream reader: inverted offset range "
                    "(start eid %d > end eid %d) — planning an empty "
                    "batch; if this fires on a restart, Spark's "
                    "recovery call order changed (guard firing #%d)",
                    lo,
                    hi,
                    self.inverted_range_count,
                )
            return []
        if self._region_ranges is None:
            return [
                _EidRangePartition(i, self.n, self.path, lo, hi)
                for i in range(self.n)
            ]
        # Region-pruned plan: only surviving regions get tasks — Spark
        # never schedules a slice for a region the prefix excludes, the
        # stream face of cdc_pushdown_region_scan's batch pruning. Each
        # surviving region is mod-sliced so pruning never costs
        # parallelism (total tasks ≈ numPartitions regardless of how
        # many regions survive); fully-pruned plans are empty batches.
        regions = sorted(self._region_ranges.items())
        if not regions:
            return []
        per_region = max(1, self.n // len(regions))
        return [
            _EidRangePartition(i, per_region, self.path, lo, hi, ranges)
            for _, ranges in regions
            for i in range(per_region)
        ]

    def read(self, partition: _EidRangePartition):
        # Executor-side: eid-range filter prunes at the row-group level,
        # so each task reads only its slice of its offset range; when
        # the plan is region-pruned the region's user_id ranges ride
        # into the same parquet read as DNF row-group filters. Output
        # crosses into Spark as Arrow RecordBatches (no per-row Python).
        import pyarrow.parquet as pq

        eid_conj = [
            ("event_id", ">", partition.lo),
            ("event_id", "<=", partition.hi),
        ]
        if partition.ranges is None:
            dnf = [eid_conj]
        else:
            dnf = [
                eid_conj
                + [("user_id", ">=", rlo), ("user_id", "<=", rhi)]
                for rlo, rhi in partition.ranges
            ]
            if not dnf:
                return
        t = pq.read_table(
            partition.path, columns=self.src_cols, filters=dnf
        )
        yield from _changefeed_record_batches(
            t, partition.mod, partition.n_mod, self.out_cols
        )

    def commit(self, end):
        self._anchor(end["eid"])

    def stop(self):
        pass
