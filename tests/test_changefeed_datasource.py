"""The changefeed Python DataSource (`sources/python_datasource.py`):
rowkey-prefix → user_id range translation, batch region pruning through
`pushFilters` (reader level, full Spark plan and a property check),
stream region pruning via ``rowkeyPrefix``, column pruning via
``columns``, option validation, and the stream reader's offset/replay
contract end to end."""

from __future__ import annotations

import os
import time

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import EqualTo, In, StringStartsWith

from hbase_observer_elasticsearch_spark.sources.python_datasource import (
    ChangefeedDataSource,
    ChangefeedStreamReader,
    RegionChangefeedReader,
    _parse_columns,
    _prefix_ranges,
    register_changefeed_datasource,
)

EVENTS = "/root/testdata/sf0.001/events.parquet"


def _region(partition) -> str:
    """The leading rowkey digit of a planned region partition."""
    return str(partition.ranges[0][0])[0]


def _stream_reader(**opts):
    return ChangefeedStreamReader({"path": EVENTS, **opts})


def _bruteforce(lo, hi, prefixes):
    t = pq.read_table(EVENTS, columns=["event_id", "user_id"])
    return sorted(
        e
        for e, u in zip(t["event_id"].to_pylist(), t["user_id"].to_pylist())
        if lo < e <= hi
        and any(str(u).startswith(p) for p in prefixes)
    )


def _read_seqs(reader, parts):
    got = []
    for p in parts:
        for batch in reader.read(p):
            got.extend(batch.column("seq").to_pylist())
    return sorted(got)


class TestPrefixRanges:
    def test_single_digit_prefix_is_exact_decade_union(self):
        r = _prefix_ranges("4")
        assert r[:4] == [(4, 4), (40, 49), (400, 499), (4000, 4999)]
        # exactness both ways at the first boundary decades
        assert all(str(lo)[0] == "4" and str(hi)[0] == "4" for lo, hi in r)

    def test_multi_digit_prefix(self):
        assert _prefix_ranges("43")[:3] == [(43, 43), (430, 439), (4300, 4399)]

    def test_zero_region_is_the_single_key(self):
        assert _prefix_ranges("0") == [(0, 0)]

    def test_non_canonical_prefixes_match_nothing(self):
        assert _prefix_ranges("07") == []
        assert _prefix_ranges("x") == []
        assert _prefix_ranges("") == []

    def test_ranges_capped_at_int64(self):
        r = _prefix_ranges("9")
        assert all(hi <= 2**63 - 1 for _, hi in r)


class TestReaderLevelPruning:
    """Planning-time partition pruning asserted at the reader level —
    the 'planned partition count' proof."""

    def _reader(self):
        return RegionChangefeedReader({"path": EVENTS})

    def test_unfiltered_plans_all_ten_regions(self):
        parts = self._reader().partitions()
        assert [_region(p) for p in parts] == list("0123456789")
        assert all(p.keys is None and p.lo is None for p in parts)

    def test_prefix_pushdown_prunes_to_one_region(self):
        r = self._reader()
        leftover = list(r.pushFilters([StringStartsWith(("rowkey",), "4")]))
        assert leftover == []  # fully consumed at the source
        parts = r.partitions()
        assert [_region(p) for p in parts] == ["4"]
        assert parts[0].ranges[0] == (4, 4)

    def test_equality_pushdown_prunes_to_exact_key(self):
        r = self._reader()
        assert list(r.pushFilters([EqualTo(("rowkey",), "437")])) == []
        parts = r.partitions()
        assert len(parts) == 1 and parts[0].keys == [437]

    def test_in_pushdown_plans_one_region_per_leading_digit(self):
        r = self._reader()
        f = In(("rowkey",), ("12", "812", "99999"))
        assert list(r.pushFilters([f])) == []
        parts = r.partitions()
        assert sorted(_region(p) for p in parts) == ["1", "8", "9"]

    def test_contradictory_filters_prune_everything(self):
        r = self._reader()
        fs = [
            StringStartsWith(("rowkey",), "4"),
            EqualTo(("rowkey",), "812"),
        ]
        assert list(r.pushFilters(fs)) == []
        assert r.partitions() == []

    def test_non_matching_prefix_prunes_everything(self):
        r = self._reader()
        list(r.pushFilters([StringStartsWith(("rowkey",), "x")]))
        assert r.partitions() == []

    def test_empty_prefix_is_a_noop(self):
        r = self._reader()
        list(r.pushFilters([StringStartsWith(("rowkey",), "")]))
        assert len(r.partitions()) == 10

    def test_unsupported_filters_are_yielded_back_by_reference(self):
        r = self._reader()
        keep = EqualTo(("op",), "put")  # not a rowkey filter
        out = list(r.pushFilters([keep, StringStartsWith(("rowkey",), "4")]))
        assert out == [keep] and out[0] is keep

    def test_combined_prefix_and_eq_narrows_keys(self):
        r = self._reader()
        fs = [
            StringStartsWith(("rowkey",), "4"),
            In(("rowkey",), ("4", "44", "812")),
        ]
        assert list(r.pushFilters(fs)) == []
        parts = r.partitions()
        assert len(parts) == 1 and sorted(parts[0].keys) == [4, 44]

    def test_rowkey_prefix_option_scopes_the_regions(self):
        r = RegionChangefeedReader({"path": EVENTS, "rowkeyPrefix": "4,7"})
        parts = r.partitions()
        assert [p.ranges for p in parts] == [
            _prefix_ranges("4"),
            _prefix_ranges("7"),
        ]
        # a pushed filter intersects the option's regions
        r = RegionChangefeedReader({"path": EVENTS, "rowkeyPrefix": "4,7"})
        list(r.pushFilters([StringStartsWith(("rowkey",), "5")]))
        assert r.partitions() == []
        r = RegionChangefeedReader({"path": EVENTS, "rowkeyPrefix": "4,7"})
        list(r.pushFilters([In(("rowkey",), ("43", "5", "7"))]))
        assert [p.keys for p in r.partitions()] == [[43], [7]]


class TestEndToEndPruning:
    """Through the full Spark plan: the pushed predicate prunes the
    PLANNED partitions (getNumPartitions == surviving regions) and the
    result matches the raw parquet. Each check builds a fresh .load()
    — Spark 4.1 caches the planned read on the shared relation, so
    derived DataFrames of one load() interfere (see reader docstring)."""

    def _load(self, spark):
        register_changefeed_datasource(spark)
        return spark.read.format("changefeed_py").option("path", EVENTS).load()

    def test_unfiltered_ten_tasks_full_feed(self, spark):
        df = self._load(spark)
        assert df.rdd.getNumPartitions() == 10
        assert df.count() == spark.read.parquet(EVENTS).count()

    def test_prefix_scan_plans_one_task_and_matches(self, spark):
        df = self._load(spark).filter(F.col("rowkey").startswith("4"))
        assert df.rdd.getNumPartitions() == 1  # nine regions never scheduled
        exp = (
            spark.read.parquet(EVENTS)
            .filter(F.col("user_id").cast("string").startswith("4"))
            .count()
        )
        assert df.count() == exp > 0

    def test_in_scan_plans_matching_regions_and_matches(self, spark):
        df = self._load(spark).filter(F.col("rowkey").isin("1", "8", "12"))
        assert df.rdd.getNumPartitions() == 2  # regions '1' and '8'
        exp = (
            spark.read.parquet(EVENTS)
            .filter(F.col("user_id").isin(1, 8, 12))
            .count()
        )
        assert df.count() == exp > 0

    def test_non_matching_prefix_scans_nothing(self, spark):
        df = self._load(spark).filter(F.col("rowkey").startswith("x"))
        assert df.count() == 0

    def test_fresh_session_scans_and_tails_regions(self, spark):
        # A child session that never ran ensure_session_conf: Spark
        # refuses a reader implementing pushFilters unless
        # spark.sql.python.filterPushdown.enabled is set, and get_spark
        # sets it on the builder, which every newSession() inherits.
        from hbase_observer_elasticsearch_spark.streaming.pipeline import (
            drain,
        )

        s = spark.newSession()
        in4 = F.col("user_id").cast("string").startswith("4")
        expect = s.read.parquet(EVENTS).filter(in4).count()
        scan = self._load(s).filter(F.col("rowkey").startswith("4"))
        assert scan.rdd.getNumPartitions() == 1
        assert scan.count() == expect > 0
        total = s.read.parquet(EVENTS).count()
        tail = drain(
            s,
            lambda s2: s2.readStream.format("changefeed_py")
            .option("path", EVENTS)
            .option("rowkeyPrefix", "4")
            .option("batchSize", str(total // 3 + 1))
            .load(),
            "append",
            parts=None,
            expect_rows=expect,
        )
        lo, hi = ChangefeedStreamReader({"path": EVENTS})._eid_bounds()
        got = sorted(r["seq"] for r in tail.select("seq").collect())
        assert got == _bruteforce(lo - 1, hi, ["4"])


class TestPushdownProperty:
    """Property: for ANY combination of supported rowkey filters, the
    pruned region plan + range-translated executor read returns exactly
    the rows a brute-force filter over the full feed returns."""

    def test_random_filter_combos_match_bruteforce(self):
        import hashlib

        import pyarrow.parquet as pq
        from hypothesis import given, settings
        from hypothesis import strategies as st

        t = pq.read_table(EVENTS, columns=["event_id", "user_id"])
        uids = [str(u) for u in t["user_id"].to_pylist()]
        eids = t["event_id"].to_pylist()

        def run_reader(filters):
            r = RegionChangefeedReader({"path": EVENTS})
            leftover = list(r.pushFilters(filters))
            assert leftover == []
            got = []
            for p in r.partitions():
                for batch in r.read(p):
                    got.extend(batch.column("seq").to_pylist())
            return sorted(got)

        prefixes = st.text(alphabet="0123456789x", min_size=0, max_size=3)
        keys = st.lists(
            st.integers(min_value=0, max_value=20000).map(str),
            min_size=1,
            max_size=5,
        )

        @settings(max_examples=25, deadline=None)
        @given(
            prefix=st.one_of(st.none(), prefixes),
            inset=st.one_of(st.none(), keys),
        )
        def check(prefix, inset):
            filters, pred = [], []
            if prefix is not None:
                filters.append(StringStartsWith(("rowkey",), prefix))
                pred.append(lambda u: u.startswith(prefix))
            if inset is not None:
                filters.append(In(("rowkey",), tuple(inset)))
                pred.append(lambda u: u in set(inset))
            expected = sorted(
                e
                for e, u in zip(eids, uids)
                if all(p(u) for p in pred)
            )
            assert run_reader(filters) == expected

        check()

    def test_prefix_then_eq_conjunction_is_empty(self):
        # StartsWith('43') ∧ EqualTo('4') matches no
        # rowkey; the eq branch must intersect keys with the ranges the
        # earlier prefix filter narrowed, or read() (which prefers keys
        # over ranges) silently widens the conjunction to user_id=4.
        r = RegionChangefeedReader({"path": EVENTS})
        leftover = list(
            r.pushFilters(
                [
                    StringStartsWith(("rowkey",), "43"),
                    EqualTo(("rowkey",), "4"),
                ]
            )
        )
        assert leftover == []
        assert r.partitions() == []

    def test_prefix_then_eq_key_inside_prefix_survives(self):
        # The complementary shape: StartsWith('4') ∧ EqualTo('43') —
        # key 43 lies inside the prefix ranges, so exactly it survives.
        import pyarrow.parquet as pq

        r = RegionChangefeedReader({"path": EVENTS})
        leftover = list(
            r.pushFilters(
                [
                    StringStartsWith(("rowkey",), "4"),
                    EqualTo(("rowkey",), "43"),
                ]
            )
        )
        assert leftover == []
        parts = r.partitions()
        assert [p.keys for p in parts] == [[43]]
        got = sorted(
            s
            for p in parts
            for batch in r.read(p)
            for s in batch.column("seq").to_pylist()
        )
        t = pq.read_table(EVENTS, columns=["event_id", "user_id"])
        expected = sorted(
            e
            for e, u in zip(
                t["event_id"].to_pylist(), t["user_id"].to_pylist()
            )
            if str(u) == "43"
        )
        assert got == expected

    def test_eq_key_beyond_int64_is_planned_away(self):
        # A >int64 eq key can never equal a canonical
        # str(int64) rowkey; it must die at planning, not OverflowError
        # pyarrow's int64 in-filter on the executor.
        r = RegionChangefeedReader({"path": EVENTS})
        big = str(2**63)  # one past int64.max
        leftover = list(r.pushFilters([EqualTo(("rowkey",), big)]))
        assert leftover == []
        assert r.partitions() == []
        r2 = RegionChangefeedReader({"path": EVENTS})
        list(r2.pushFilters([In(("rowkey",), (big, "43"))]))
        parts = r2.partitions()
        assert [p.keys for p in parts] == [[43]]
        for p in parts:  # executor read must not raise
            for _ in r2.read(p):
                pass


class TestStreamRegionPruning:
    """Per-batch planned partitions are a pure function of the option +
    offsets — pinned here exactly like the batch reader's partition
    pruning tests."""

    def test_no_option_plans_all_ten_regions(self):
        parts = _stream_reader().partitions({"eid": 0}, {"eid": 100})
        assert [_region(p) for p in parts] == list("0123456789")
        assert all(
            (p.lo, p.hi, p.keys) == (0, 100, None) for p in parts
        )

    def test_single_prefix_plans_only_its_region(self):
        r = _stream_reader(rowkeyPrefix="4")
        parts = r.partitions({"eid": 0}, {"eid": 100})
        # one surviving region, one task
        assert len(parts) == 1
        assert parts[0].ranges == _prefix_ranges("4")

    def test_two_prefixes_plan_two_regions(self):
        r = _stream_reader(rowkeyPrefix="4,7")
        parts = r.partitions({"eid": 0}, {"eid": 100})
        assert len(parts) == 2  # one task per surviving region
        range_sets = {tuple(p.ranges) for p in parts}
        assert range_sets == {
            tuple(_prefix_ranges("4")),
            tuple(_prefix_ranges("7")),
        }

    def test_unmatchable_prefix_plans_empty_batches(self):
        for bogus in ("x", "07"):
            r = _stream_reader(rowkeyPrefix=bogus)
            assert r.partitions({"eid": 0}, {"eid": 100}) == []

    def test_same_digit_prefixes_merge_into_one_region(self):
        r = _stream_reader(rowkeyPrefix="4,43")
        parts = r.partitions({"eid": 0}, {"eid": 100})
        assert len(parts) == 1  # one region, one task
        assert parts[0].ranges == _prefix_ranges("4") + _prefix_ranges("43")

    def test_pruned_read_matches_bruteforce(self):
        lo, hi = ChangefeedStreamReader({"path": EVENTS})._eid_bounds()
        mid = (lo + hi) // 2
        for prefixes in (["4"], ["4", "7"], ["43"], ["4", "43"]):
            r = _stream_reader(rowkeyPrefix=",".join(prefixes))
            for a, b in ((lo - 1, mid), (mid, hi)):
                parts = r.partitions({"eid": a}, {"eid": b})
                assert _read_seqs(r, parts) == _bruteforce(a, b, prefixes)

    def test_overlapping_prefixes_do_not_duplicate_rows(self):
        # '4' ⊇ '43': pyarrow DNF is a boolean mask, not a scan union —
        # each surviving row must appear exactly once.
        lo, hi = ChangefeedStreamReader({"path": EVENTS})._eid_bounds()
        r = _stream_reader(rowkeyPrefix="4,43")
        got = _read_seqs(r, r.partitions({"eid": lo - 1}, {"eid": hi}))
        assert got == _bruteforce(lo - 1, hi, ["4"])
        assert len(got) == len(set(got))

    def test_offset_contract_unchanged_by_pruning(self):
        # Pruning narrows rows within a batch, never the watermark:
        # latestOffset progression is identical with and without it.
        plain, pruned = _stream_reader(batchSize="10"), _stream_reader(
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
        r = RegionChangefeedReader(
            {"path": EVENTS, "columns": "seq,rowkey"}
        )
        assert r.src_cols == ["event_id", "user_id"]
        parts = r.partitions()
        batches = [b for p in parts for b in r.read(p)]
        assert all(b.schema.names == ["seq", "rowkey"] for b in batches)
        # op derives from event_type alone; the user_id region filter
        # is not a read column.
        r2 = RegionChangefeedReader({"path": EVENTS, "columns": "op"})
        assert r2.src_cols == ["event_type"]

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
        # neither eid nor region filter column is read when the
        # projection does not need it
        r2 = ChangefeedStreamReader({"path": EVENTS, "columns": "op"})
        assert r2.src_cols == ["event_type"]
        rows = sum(
            b.num_rows
            for p in r2.partitions({"eid": lo - 1}, {"eid": hi})
            for b in r2.read(p)
        )
        assert rows == len(_bruteforce(lo - 1, hi, [""]))

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


def test_python_datasource_stream_restart_exactly_once(spark, sf_dir, tmp_path):
    """Kill the Python-datasource stream mid-drain and restart from the
    same checkpoint: the file sink must end with EXACTLY one copy of
    every mutation — the readBetweenOffsets replay contract (uncommitted
    ranges re-read, committed ranges never re-emitted)."""
    register_changefeed_datasource(spark)
    events_path = os.path.join(sf_dir, "events.parquet")
    expected = spark.read.parquet(events_path).count()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def start():
        return (
            spark.readStream.format("changefeed_py")
            .option("path", events_path)
            .option("batchSize", str(max(1, expected // 10)))
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(processingTime="0 seconds")
            .start()
        )

    def committed_rows():
        # the FileStreamSink metadata log only exposes COMMITTED batches;
        # raw part-file counting would race in-flight task output (and the
        # reader writes one file per region task per batch anyway)
        try:
            return spark.read.parquet(out).count()
        except Exception:
            return 0

    q = start()
    # let at least one micro-batch commit, then kill mid-drain
    deadline = time.monotonic() + 120
    while time.monotonic() < deadline:
        if 0 < committed_rows() < expected:
            break
        time.sleep(0.05)
    q.stop()
    q.awaitTermination(60)
    partial = spark.read.parquet(out).count()
    assert partial < expected, "stream finished before the kill — lower batchSize"

    q2 = start()
    deadline = time.monotonic() + 120
    while time.monotonic() < deadline:
        try:
            if spark.read.parquet(out).count() >= expected:
                break
        except Exception:
            pass
        time.sleep(0.2)
    q2.stop()
    q2.awaitTermination(60)

    final = spark.read.parquet(out)
    assert final.count() == expected  # nothing lost, nothing duplicated
    assert final.select("seq").distinct().count() == expected


def test_python_datasource_stream_partition_parallel(spark, sf_dir, tmp_path):
    """The streaming face of the connector must plan >1 input partition
    per micro-batch (executors — not the driver — read each offset
    range; the DataSourceStreamReader plans one task per rowkey region
    of every eid range)."""
    register_changefeed_datasource(spark)
    events_path = os.path.join(sf_dir, "events.parquet")
    expected = spark.read.parquet(events_path).count()

    per_batch_partitions: list[int] = []
    per_batch_rows: list[int] = []

    def observe(batch_df, _batch_id):
        n = batch_df.select(
            F.spark_partition_id().alias("pid")
        ).distinct().count()
        if n:
            per_batch_partitions.append(n)
            per_batch_rows.append(batch_df.count())

    stream = (
        spark.readStream.format("changefeed_py")
        .option("path", events_path)
        .option("batchSize", str(max(1, expected // 3)))
        .load()
    )
    q = (
        stream.writeStream.foreachBatch(observe)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    deadline = time.monotonic() + 120
    while time.monotonic() < deadline and sum(per_batch_rows) < expected:
        time.sleep(0.2)
    q.stop()
    q.awaitTermination(60)

    assert sum(per_batch_rows) == expected
    assert len(per_batch_partitions) >= 2  # genuine multi-batch progression
    # every full micro-batch was read by multiple executor tasks (a tiny
    # remainder batch can land its rows in a single region)
    full = [
        n for n, r in zip(per_batch_partitions, per_batch_rows) if r >= 4
    ]
    assert full and all(n > 1 for n in full), (
        per_batch_partitions,
        per_batch_rows,
    )


@pytest.mark.parametrize("opt", ["partitionBy", "numPartitions"])
def test_unknown_option_is_refused(opt):
    with pytest.raises(ValueError, match="valid: .'path', 'columns', "
                       "'batchSize', 'rowkeyPrefix'."):
        ChangefeedDataSource(options={"path": EVENTS, opt: "4"})
    # option names are case-insensitive, as Spark hands them over lowered
    ChangefeedDataSource(options={"path": EVENTS, "rowkeyprefix": "4"})


@pytest.mark.parametrize("opt", ["partitionBy", "numPartitions"])
def test_batch_load_refuses_unknown_option(spark, opt):
    register_changefeed_datasource(spark)
    reader = spark.read.format("changefeed_py").option("path", EVENTS)
    with pytest.raises(Exception, match="unknown options"):
        reader.option(opt, "4").load().count()


@pytest.mark.parametrize("opt", ["partitionBy", "numPartitions"])
def test_stream_load_refuses_unknown_option(spark, opt):
    register_changefeed_datasource(spark)
    reader = spark.readStream.format("changefeed_py").option("path", EVENTS)
    with pytest.raises(Exception, match="unknown options"):
        reader.option(opt, "4").load()
