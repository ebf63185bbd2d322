"""r12 operator tests: nested (block-join) search and search_after
cursor pagination."""

from __future__ import annotations

import os

from pyspark.sql import functions as F


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
