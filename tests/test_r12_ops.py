"""r12 operator tests: source-side filter pushdown in the changefeed
Python DataSource (rowkey-region pruning)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import EqualTo, In, StringStartsWith

from hbase_observer_elasticsearch_spark.sources.python_datasource import (
    RegionChangefeedReader,
    _prefix_ranges,
    register_changefeed_datasource,
)

EVENTS = "/root/testdata/sf0.001/events.parquet"


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
        assert [p.prefix for p in parts] == list("0123456789")

    def test_prefix_pushdown_prunes_to_one_region(self):
        r = self._reader()
        leftover = list(r.pushFilters([StringStartsWith(("rowkey",), "4")]))
        assert leftover == []  # fully consumed at the source
        parts = r.partitions()
        assert [p.prefix for p in parts] == ["4"]
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
        assert sorted(p.prefix for p in parts) == ["1", "8", "9"]

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


class TestEndToEndPruning:
    """Through the full Spark plan: the pushed predicate prunes the
    PLANNED partitions (getNumPartitions == surviving regions) and the
    result matches the raw parquet. Each check builds a fresh .load()
    — Spark 4.1 caches the planned read on the shared relation, so
    derived DataFrames of one load() interfere (see reader docstring)."""

    def _load(self, spark):
        register_changefeed_datasource(spark)
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
        return (
            spark.read.format("changefeed_py")
            .option("path", EVENTS)
            .option("partitionBy", "rowkey")
            .load()
        )

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

    def test_hash_mode_unaffected(self, spark):
        register_changefeed_datasource(spark)
        df = (
            spark.read.format("changefeed_py")
            .option("path", EVENTS)
            .option("numPartitions", "4")
            .load()
        )
        assert df.rdd.getNumPartitions() == 4
        assert df.count() == spark.read.parquet(EVENTS).count()


class TestNestedAndSearchAfter:
    def test_nested_invariants(self, spark, sf_dir):
        from hbase_observer_elasticsearch_spark.operators.text import (
            NESTED_TOPK,
            search_nested_block_join,
        )

        rows = search_nested_block_join(spark, sf_dir).collect()
        assert 0 < len(rows) <= NESTED_TOPK
        for r in rows:
            # max child score never exceeds the sum over matching children
            assert 1 <= r["best_child_tf"] <= r["sum_child_tf"]
            assert r["n_matching_children"] >= 1
        # ranking key is (best desc, sum desc, doc_id asc)
        keys = [
            (-r["best_child_tf"], -r["sum_child_tf"], r["doc_id"])
            for r in sorted(rows, key=lambda r: r["rk"])
        ]
        assert keys == sorted(keys)

    def test_nested_scores_child_not_parent(self, spark, sf_dir):
        """The defining nested semantic: per-child tf, not whole-doc tf.
        best_child_tf must be < the whole-document tf for at least one
        top hit (term spread across chunks), proving the child grain."""
        from hbase_observer_elasticsearch_spark.operators.text import (
            NESTED_TERM,
            search_nested_block_join,
        )

        res = search_nested_block_join(spark, sf_dir)
        d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        doc_tf = (
            d.select(
                "doc_id", F.explode(F.split("text", " ")).alias("w")
            )
            .filter(F.col("w") == NESTED_TERM)
            .groupBy("doc_id")
            .count()
        )
        joined = res.join(doc_tf, "doc_id").collect()
        assert all(r["best_child_tf"] <= r["count"] for r in joined)
        assert any(r["best_child_tf"] < r["count"] for r in joined)

    def test_search_after_equals_offset_pagination(self, spark, sf_dir):
        """The cursor predicate must reproduce exactly the offset slice
        (ranks PAGE_SIZE+1 .. 2*PAGE_SIZE of the full ordered hit list)."""
        from pyspark.sql import Window
        from hbase_observer_elasticsearch_spark.operators.text import (
            SA_PAGE_SIZE,
            SA_TERM,
            _bm25_agg,
            search_after_cursor,
        )

        got = {
            (r["doc_id"], r["page_rk"])
            for r in search_after_cursor(spark, sf_dir).collect()
        }
        w = Window.orderBy(F.col("bm25").desc(), "doc_id")
        full = (
            _bm25_agg(spark, sf_dir, (SA_TERM,))
            .select("doc_id", "bm25")
            .withColumn("rk", F.row_number().over(w))
            .filter(
                (F.col("rk") > SA_PAGE_SIZE)
                & (F.col("rk") <= 2 * SA_PAGE_SIZE)
            )
            .collect()
        )
        exp = {(r["doc_id"], r["rk"] - SA_PAGE_SIZE) for r in full}
        assert got == exp and len(got) == SA_PAGE_SIZE


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
