"""Custom Python DataSource (Spark 4 `pyspark.sql.datasource` API) that
exposes the events-derived changefeed as a first-class `spark.read.format`
connector — the architectural slot where a real HBase-snapshot or
replication-log connector plugs in (reference client factory,
polyinfo/EsClient.java:29-60; our emulated option map,
sinks/state_sink.py).

Why this shape matters at 100 TB: the reader declares PARTITIONS and
Spark schedules one task per partition — the connector controls split
granularity while Catalyst keeps projection/limit handling. Each task
reads only its slice via pyarrow row-group filters, so adding executors
scales reads linearly exactly like the built-in parquet source.

There is one layout: the feed is split into leading-digit rowkey
regions ('0'..'9', a pre-split HBase table), one task per region, and a
region reads only the numeric user_id ranges its rowkeys map to. The
batch reader, `RegionChangefeedReader`, prunes regions by the rowkey
filters Spark pushes (`pushFilters`); the stream reader,
`ChangefeedStreamReader`, plans one task per region for each event-id
offset range and reads only parquet footers on the driver. Both readers
hand their partitions to one executor read function, `_read_region`,
which crosses into Spark as Arrow RecordBatches.

Options: ``path``, ``columns`` (projection), ``batchSize`` (stream
rate limit) and ``rowkeyPrefix`` (comma-separated prefixes scoping the
regions read, on both faces); any other option raises ``ValueError``.
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

# The connector's options, matched case-insensitively (Spark lowercases
# option keys before the DataSource sees them).
_OPTIONS = ("path", "columns", "batchSize", "rowkeyPrefix")

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


def _source_columns(out_cols: tuple[str, ...]) -> list[str]:
    """Source parquet columns an output projection needs, in stable
    parquet-schema order. Filter columns (event_id, user_id) are not
    added: pyarrow evaluates ``filters`` before the ``columns``
    projection, so a column used only to filter is never read."""
    need = {s for c in out_cols for s in _CHANGEFEED_COLS[c][0]}
    order = ["event_id", "event_type", "user_id", "value"]
    return [c for c in order if c in need]


class ChangefeedDataSource(DataSource):
    """`spark.read.format("changefeed_py").option("path", events_parquet)`."""

    def __init__(self, options):
        valid = {o.lower() for o in _OPTIONS}
        unknown = sorted(k for k in options if k.lower() not in valid)
        if unknown:
            raise ValueError(
                f"changefeed_py: unknown options {unknown}; "
                f"valid: {list(_OPTIONS)}"
            )
        super().__init__(options)

    @classmethod
    def name(cls) -> str:
        return "changefeed_py"

    def schema(self) -> str:
        return ", ".join(
            f"{c} {_CHANGEFEED_COLS[c][1]}"
            for c in _parse_columns(self.options)
        )

    def reader(self, schema) -> "RegionChangefeedReader":
        return RegionChangefeedReader(self.options)

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


class _RegionPartition(InputPartition):
    """One executor task: one rowkey region of the feed at ``path`` —
    its numeric user_id ``ranges`` (inclusive), or the exact user_id
    ``keys`` a pushed EqualTo/In left (None = the whole ranges) —
    bounded on the stream face to the offset range ``lo < event_id <=
    hi`` (both None on the batch face)."""

    def __init__(self, path: str, ranges, keys=None, lo=None, hi=None):
        self.path = path
        self.ranges = ranges
        self.keys = keys
        self.lo = lo
        self.hi = hi


def _read_region(partition: _RegionPartition | None, src_cols, out_cols):
    """Executor-side read of one region task, shared by both readers.

    The region predicate (and the offset range, when there is one) rides
    into the parquet read as DNF row-group filters — exact, see
    _prefix_ranges — so a task touches only row groups whose user_id
    and event_id statistics overlap it."""
    if partition is None:
        # Fully-pruned batch scan: partitions() returned [] and Spark
        # schedules one empty task with a None partition.
        return
    # Executor-side: import locally so the driver plan never needs it.
    import pyarrow.parquet as pq

    lo, hi = partition.lo, partition.hi
    eids = (
        []
        if lo is None
        else [("event_id", ">", lo), ("event_id", "<=", hi)]
    )
    if partition.keys is not None:
        dnf = [eids + [("user_id", "in", list(partition.keys))]]
    else:
        dnf = [
            eids + [("user_id", ">=", rlo), ("user_id", "<=", rhi)]
            for rlo, rhi in partition.ranges
        ]
    t = pq.read_table(partition.path, columns=src_cols, filters=dnf)
    yield from _project_changefeed(t, out_cols)


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


def _plan_regions(options) -> dict[str, list[tuple[int, int]]]:
    """The regions a reader starts from: {leading digit: union of the
    user_id ranges its prefixes cover}. Without a ``rowkeyPrefix``
    option that is all ten regions, each its whole decade union; with
    one, only the regions the comma-separated prefixes touch. A prefix
    matching no canonical rowkey contributes nothing, so all prefixes
    unmatchable → {} (a scan or micro-batch of 0 tasks)."""
    raw = options.get("rowkeyPrefix")
    prefixes = raw.split(",") if raw else "0123456789"
    regions: dict[str, list[tuple[int, int]]] = {}
    for prefix in prefixes:
        prefix = prefix.strip()
        pr = _prefix_ranges(prefix)
        if pr:
            regions.setdefault(prefix[0], []).extend(pr)
    return regions


class RegionChangefeedReader(DataSourceReader):
    """The batch reader, with SOURCE-SIDE FILTER PUSHDOWN (Spark 4.1
    `pushFilters`). Spark refuses a reader that implements pushFilters
    unless ``spark.sql.python.filterPushdown.enabled`` is set
    (DATA_SOURCE_PUSHDOWN_DISABLED); session.get_spark sets it on the
    builder and session.ensure_session_conf on sessions built elsewhere.

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
        self._regions = _plan_regions(options)
        self._pushed: list = []  # serializable (kind, value) pairs
        self.out_cols = _parse_columns(options)
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
            d: (ranges, None) for d, ranges in self._regions.items()
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
                    # prefix filter — the read serves keys without
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
            _RegionPartition(self.path, ranges, keys)
            for _, (ranges, keys) in sorted(
                self._surviving_regions().items()
            )
        ]

    def read(self, partition: _RegionPartition):
        yield from _read_region(partition, self.src_cols, self.out_cols)


def register_changefeed_datasource(spark) -> None:
    """Idempotent registration of the connector with a SparkSession.

    Spark 4.1 checks a new name against the thread's ACTIVE session, not
    ``spark``: a newSession() of a session that registered the connector
    is refused as "already exists" yet cannot see it. So ``spark``'s own
    registry decides, and ``spark`` is made active while it registers."""
    jspark = spark._jsparkSession
    name = ChangefeedDataSource.name()
    if jspark.sessionState().dataSourceManager().dataSourceExists(name):
        return
    jsession = spark.sparkContext._jvm.org.apache.spark.sql.SparkSession
    active = jsession.getActiveSession()
    jsession.setActiveSession(jspark)
    try:
        spark.dataSource.register(ChangefeedDataSource)
    finally:
        if active.isDefined():
            jsession.setActiveSession(active.get())
        else:
            jsession.clearActiveSession()


class ChangefeedStreamReader(DataSourceStreamReader):
    """Partition-parallel streaming reader (Spark 4
    `DataSourceStreamReader`): offsets are event-id watermarks
    (``{"eid": N}`` = everything with event_id <= N served — the LSN of
    a real replication log), and every micro-batch is planned as one
    task per rowkey region for the offset range, read ON EXECUTORS via
    pyarrow with eid-range and region row-group filters. The driver
    touches only the parquet FOOTER (min/max event_id statistics) — it
    never materializes the feed, so driver memory is O(1) in feed size.

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
        # Stream-side region pruning: Spark 4.1 exposes pushFilters on
        # batch readers only, so the tail takes its rowkey predicate as
        # the ``rowkeyPrefix`` option — the replication-log analog of an
        # HBase scan bounded to a key range.
        self._regions = _plan_regions(options)
        self.out_cols = _parse_columns(options)
        self.src_cols = _source_columns(self.out_cols)
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
        # Only surviving regions get tasks — Spark never schedules one
        # for a region the prefixes exclude, the stream face of the
        # batch reader's pruning; a fully-pruned plan is an empty batch.
        return [
            _RegionPartition(self.path, ranges, None, lo, hi)
            for _, ranges in sorted(self._regions.items())
        ]

    def read(self, partition: _RegionPartition):
        yield from _read_region(partition, self.src_cols, self.out_cols)

    def commit(self, end):
        self._anchor(end["eid"])

    def stop(self):
        pass
