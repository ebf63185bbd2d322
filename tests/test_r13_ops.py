"""r13 operator tests: STREAM-side region pruning in the changefeed
Python DataSource — the batch reader's
rowkey pushdown brought to `ChangefeedStreamReader` via the
``rowkeyPrefix`` option, with per-micro-batch planned partitions pinned
at the reader level (the `cdc_pushdown_region_scan` pattern, stream
face)."""

from __future__ import annotations

import pyarrow.parquet as pq

import pytest

from hbase_observer_elasticsearch_spark.sources.python_datasource import (
    ChangefeedDataSource,
    ChangefeedReader,
    ChangefeedStreamReader,
    RegionChangefeedReader,
    _parse_columns,
    _prefix_ranges,
    register_changefeed_datasource,
)

EVENTS = "/root/testdata/sf0.001/events.parquet"


def _reader(**opts):
    return ChangefeedStreamReader({"path": EVENTS, **opts})


def _bruteforce(lo, hi, prefixes):
    t = pq.read_table(EVENTS, columns=["event_id", "user_id"])
    return sorted(
        e
        for e, u in zip(t["event_id"].to_pylist(), t["user_id"].to_pylist())
        if lo < e <= hi
        and any(str(u).startswith(p) for p in prefixes)
    )


def _drain(reader, parts):
    got = []
    for p in parts:
        for batch in reader.read(p):
            got.extend(batch.column("seq").to_pylist())
    return sorted(got)


class TestStreamRegionPruning:
    """Per-batch planned partitions are a pure function of the option +
    offsets — pinned here exactly like the batch reader's partition
    pruning tests."""

    def test_no_option_keeps_mod_slice_layout(self):
        r = _reader(numPartitions="4")
        parts = r.partitions({"eid": 0}, {"eid": 100})
        assert len(parts) == 4
        assert all(p.ranges is None for p in parts)

    def test_single_prefix_plans_only_its_region(self):
        r = _reader(numPartitions="4", rowkeyPrefix="4")
        parts = r.partitions({"eid": 0}, {"eid": 100})
        # one surviving region, mod-sliced to keep parallelism
        assert len(parts) == 4
        assert all(p.ranges == _prefix_ranges("4") for p in parts)
        assert sorted(p.mod for p in parts) == [0, 1, 2, 3]

    def test_two_prefixes_plan_two_regions(self):
        r = _reader(numPartitions="4", rowkeyPrefix="4,7")
        parts = r.partitions({"eid": 0}, {"eid": 100})
        # 2 surviving regions x 2 slices each
        assert len(parts) == 4
        range_sets = {tuple(p.ranges) for p in parts}
        assert range_sets == {
            tuple(_prefix_ranges("4")),
            tuple(_prefix_ranges("7")),
        }

    def test_unmatchable_prefix_plans_empty_batches(self):
        for bogus in ("x", "07"):
            r = _reader(rowkeyPrefix=bogus)
            assert r.partitions({"eid": 0}, {"eid": 100}) == []

    def test_same_digit_prefixes_merge_into_one_region(self):
        r = _reader(numPartitions="4", rowkeyPrefix="4,43")
        parts = r.partitions({"eid": 0}, {"eid": 100})
        assert len(parts) == 4  # one region, full mod-slice fan-out
        expect = _prefix_ranges("4") + _prefix_ranges("43")
        assert all(p.ranges == expect for p in parts)

    def test_pruned_read_matches_bruteforce(self):
        lo, hi = ChangefeedStreamReader({"path": EVENTS})._eid_bounds()
        mid = (lo + hi) // 2
        for prefixes in (["4"], ["4", "7"], ["43"], ["4", "43"]):
            r = _reader(
                numPartitions="3", rowkeyPrefix=",".join(prefixes)
            )
            for a, b in ((lo - 1, mid), (mid, hi)):
                parts = r.partitions({"eid": a}, {"eid": b})
                assert _drain(r, parts) == _bruteforce(a, b, prefixes)

    def test_overlapping_prefixes_do_not_duplicate_rows(self):
        # '4' ⊇ '43': pyarrow DNF is a boolean mask, not a scan union —
        # each surviving row must appear exactly once.
        lo, hi = ChangefeedStreamReader({"path": EVENTS})._eid_bounds()
        r = _reader(numPartitions="2", rowkeyPrefix="4,43")
        got = _drain(r, r.partitions({"eid": lo - 1}, {"eid": hi}))
        assert got == _bruteforce(lo - 1, hi, ["4"])
        assert len(got) == len(set(got))

    def test_offset_contract_unchanged_by_pruning(self):
        # Pruning narrows rows within a batch, never the watermark:
        # latestOffset progression is identical with and without it.
        plain, pruned = _reader(batchSize="10"), _reader(
            batchSize="10", rowkeyPrefix="4"
        )
        assert plain.initialOffset() == pruned.initialOffset()
        for _ in range(3):
            assert plain.latestOffset() == pruned.latestOffset()


class TestColumnPruning:
    """Column pruning via the ``columns`` option: the DataSource narrows its declared schema AND every reader's
    executor-side parquet read shrinks to the source columns the
    projection derives from."""

    def test_parse_columns_canonical_order_and_validation(self):
        assert _parse_columns({"columns": "rowkey, seq"}) == ("seq", "rowkey")
        assert _parse_columns({}) == (
            "seq", "op", "rowkey", "qualifier", "value",
        )
        with pytest.raises(ValueError, match="unknown columns"):
            _parse_columns({"columns": "seq,bogus"})

    def test_datasource_schema_narrows(self):
        ds = ChangefeedDataSource(
            options={"path": EVENTS, "columns": "seq,rowkey"}
        )
        assert ds.schema() == "seq bigint, rowkey string"

    def test_batch_reader_source_read_shrinks(self):
        r = ChangefeedReader({"path": EVENTS, "columns": "seq,rowkey"})
        assert r.src_cols == ["event_id", "user_id"]
        parts = r.partitions()
        batches = [b for p in parts for b in r.read(p)]
        assert all(b.schema.names == ["seq", "rowkey"] for b in batches)
        # op pruned from the projection still needs event_type; seq
        # pruned still reads event_id (the mod-slice mask needs it).
        r2 = ChangefeedReader({"path": EVENTS, "columns": "op"})
        assert r2.src_cols == ["event_id", "event_type"]

    def test_region_reader_combines_pushdown_and_pruning(self):
        from pyspark.sql.datasource import StringStartsWith

        import pyarrow.parquet as pq

        r = RegionChangefeedReader(
            {"path": EVENTS, "columns": "qualifier"}
        )
        # qualifier derives from event_type only — user_id stays a
        # filter-only column (pyarrow applies DNF filters before the
        # column projection, so it is never materialized).
        assert r.src_cols == ["event_type"]
        list(r.pushFilters([StringStartsWith(("rowkey",), "4")]))
        got = sorted(
            q
            for p in r.partitions()
            for b in r.read(p)
            for q in b.column("qualifier").to_pylist()
            if q is not None
        )
        t = pq.read_table(EVENTS, columns=["event_type", "user_id"])
        expected = sorted(
            et
            for et, u in zip(
                t["event_type"].to_pylist(), t["user_id"].to_pylist()
            )
            if str(u).startswith("4") and et != "error"
        )
        assert got == expected

    def test_stream_reader_narrow_read(self):
        r = ChangefeedStreamReader(
            {"path": EVENTS, "columns": "seq,op"}
        )
        assert r.src_cols == ["event_id", "event_type"]
        lo, hi = r._eid_bounds()
        batches = [
            b
            for p in r.partitions({"eid": lo - 1}, {"eid": hi})
            for b in r.read(p)
        ]
        assert all(b.schema.names == ["seq", "op"] for b in batches)
        assert sum(b.num_rows for b in batches) > 0

    def test_end_to_end_narrow_scan(self, spark):
        register_changefeed_datasource(spark)
        narrow = (
            spark.read.format("changefeed_py")
            .option("path", EVENTS)
            .option("columns", "seq,rowkey")
            .load()
        )
        assert narrow.columns == ["seq", "rowkey"]
        full = (
            spark.read.format("changefeed_py")
            .option("path", EVENTS)
            .load()
            .select("seq", "rowkey")
        )
        assert sorted(map(tuple, narrow.collect())) == sorted(
            map(tuple, full.collect())
        )
