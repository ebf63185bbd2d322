"""Invariant / cross-check tests for the r4e additions: data-quality
audits, count-min sketch, weighted sampling, prefix-filter similarity
join, TF-IDF cosine pairs, and the degree histogram. The DuckDB oracles
prove cross-engine equality; these prove the SEMANTICS via independent
recomputation and structural invariants (SURVEY §5 model).
"""

from __future__ import annotations

import duckdb

from hbase_observer_elasticsearch_spark.catalog import load_table
from hbase_observer_elasticsearch_spark.operators.dedup import (
    PREFIX_T,
    _jaccard_pairs_memo,
    dedup_prefix_filter_join,
    graph_degree_distribution,
)
from hbase_observer_elasticsearch_spark.operators.quality import (
    corpus_dedup_savings,
    corpus_gate_report,
    profile_file_layout,
    quality_fk_orphans,
)
from hbase_observer_elasticsearch_spark.operators.sampling import (
    sample_weighted_bernoulli,
)
from hbase_observer_elasticsearch_spark.operators.sketches import (
    sketch_countmin,
)
from hbase_observer_elasticsearch_spark.operators.text import (
    text_tfidf_cosine_pairs,
)


def test_fk_orphans_fixtures_are_intact(spark, sf_dir):
    out = {r.fk: r for r in quality_fk_orphans(spark, sf_dir).collect()}
    assert set(out) == {
        "orders.o_custkey",
        "lineitem.l_orderkey",
        "lineitem.l_partkey",
        "lineitem.l_suppkey",
    }
    for r in out.values():
        assert r.n_child > 0
        assert r.n_orphans == 0
        assert r.orphan_frac == 0.0


def test_fk_orphans_detects_injected_orphans(spark, sf_dir, tmp_path):
    """Break one FK on a copied fixture dir and assert the audit sees it."""
    import shutil
    from pathlib import Path

    dst = tmp_path / "sf"
    dst.mkdir()
    for p in Path(sf_dir).glob("*.parquet"):
        shutil.copy(p, dst / p.name)
    # drop half the customers → orders referencing them become orphans
    cust = spark.read.parquet(str(dst / "customer.parquet"))
    kept = cust.filter("c_custkey % 2 = 0")
    kept.write.mode("overwrite").parquet(str(dst / "_cust_tmp"))
    shutil.rmtree(dst / "customer.parquet", ignore_errors=True)
    (dst / "customer.parquet").unlink(missing_ok=True)
    shutil.move(str(dst / "_cust_tmp"), str(dst / "customer.parquet"))

    out = {r.fk: r for r in quality_fk_orphans(spark, str(dst)).collect()}
    assert out["orders.o_custkey"].n_orphans > 0
    assert out["lineitem.l_partkey"].n_orphans == 0


def test_file_layout_matches_duckdb_filename_scan(spark, sf_dir):
    out = {r.file_name: r for r in profile_file_layout(spark, sf_dir).collect()}
    dd = duckdb.sql(
        f"""
        SELECT regexp_extract(filename, '[^/]+$') AS f, COUNT(*) AS n,
               MIN(l_orderkey) AS mn, MAX(l_orderkey) AS mx
        FROM read_parquet('{sf_dir}/lineitem.parquet', filename=true)
        GROUP BY 1
        """
    ).fetchall()
    assert len(dd) == len(out)
    for f, n, mn, mx in dd:
        r = out[f]
        assert (r.n_rows, r.min_key, r.max_key) == (n, mn, mx)


def test_gate_report_invariants(spark, sf_dir):
    r = corpus_gate_report(spark, sf_dir).collect()[0]
    gates = [r.n_lang_ok, r.n_len_ok, r.n_ttr_ok, r.n_blocklist_ok]
    assert all(0 <= g <= r.n_docs for g in gates)
    assert r.n_all_pass <= min(gates)
    assert abs(r.all_pass_frac - r.n_all_pass / r.n_docs) < 1e-12


def test_dedup_savings_monotone(spark, sf_dir):
    rows = {r.stage: r for r in corpus_dedup_savings(spark, sf_dir).collect()}
    raw, ex, near = (
        rows["raw"],
        rows["exact_dedup"],
        rows["neardup_keep_best"],
    )
    assert raw.docs_frac == 1.0 and raw.chars_frac == 1.0
    # each stage only drops documents relative to RAW. The two stages are
    # deliberately NOT ordered against each other: exact groups on a
    # sorted-word canonical hash while near-dup clusters on shingle
    # Jaccard, and a same-word-bag/different-order pair can be an exact
    # dup yet fall under the Jaccard threshold.
    assert raw.n_docs >= ex.n_docs
    assert raw.n_docs >= near.n_docs
    assert raw.total_chars >= ex.total_chars
    assert raw.total_chars >= near.total_chars


def test_weighted_sample_is_the_exact_integer_rule(spark, sf_dir):
    import hashlib

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars"
    ).collect()
    maxw = max(r.n_chars for r in docs)
    expect = set()
    for r in docs:
        u32 = int(
            hashlib.md5(f"wsample:{r.doc_id}".encode()).hexdigest()[:8], 16
        )
        if u32 * maxw * 5 < r.n_chars * 4294967296:
            expect.add(r.doc_id)
    got = {r.doc_id for r in sample_weighted_bernoulli(spark, sf_dir).collect()}
    assert got == expect


def test_countmin_never_undercounts(spark, sf_dir):
    rows = sketch_countmin(spark, sf_dir).collect()
    assert rows, "top-k must be non-empty"
    for r in rows:
        assert r.cms_est >= r.exact_n
        assert r.overestimate == r.cms_est - r.exact_n >= 0


def test_prefix_filter_join_threshold_and_symmetry(spark, sf_dir):
    rows = dedup_prefix_filter_join(spark, sf_dir).collect()
    for r in rows:
        assert r.doc_a < r.doc_b
        assert r.jaccard >= PREFIX_T
        assert r.n_shared > 0


def test_tfidf_cosine_bounds_and_order(spark, sf_dir):
    rows = text_tfidf_cosine_pairs(spark, sf_dir).collect()
    assert rows
    cos = [r.cosine for r in rows]
    assert all(0.0 < c <= 1.0 + 1e-12 for c in cos)
    assert cos == sorted(cos, reverse=True)


def test_degree_distribution_mass_checks(spark, sf_dir):
    hist = graph_degree_distribution(spark, sf_dir).collect()
    n_docs = load_table(spark, sf_dir, "documents").count()
    n_edges = _jaccard_pairs_memo(spark, sf_dir).count()
    assert sum(r.n_nodes for r in hist) == n_docs
    assert sum(r.degree * r.n_nodes for r in hist) == 2 * n_edges


def test_pearson_r_in_bounds(spark, sf_dir):
    from hbase_observer_elasticsearch_spark.operators.quality import (
        corr_text_embedding,
    )

    r = corr_text_embedding(spark, sf_dir).collect()[0]
    assert -1.0 - 1e-12 <= r.pearson_r <= 1.0 + 1e-12
    assert r.n_docs > 0


def test_share_of_type_sums_to_one(spark, sf_dir):
    from hbase_observer_elasticsearch_spark.operators.windows import (
        window_share_of_group,
    )

    rows = window_share_of_group(spark, sf_dir).collect()
    by_type: dict[str, float] = {}
    for row in rows:
        by_type[row.p_type] = by_type.get(row.p_type, 0.0) + row.share_of_type
    for t, s in by_type.items():
        assert abs(s - 1.0) < 1e-9, (t, s)
