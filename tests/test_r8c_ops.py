"""Operator invariants: IVM term algebra, checksum-diff fault
localization, k-core peel convergence, zone-map amplification ordering."""

from __future__ import annotations

from datetime import datetime

import hbase_observer_elasticsearch_spark.operators.dedup as dd
import hbase_observer_elasticsearch_spark.operators.profiling as pf
import hbase_observer_elasticsearch_spark.operators.quality as ql
import hbase_observer_elasticsearch_spark.operators.skew_agg as sk
from hbase_observer_elasticsearch_spark.operators.dedup import dedup_graph_kcore
from hbase_observer_elasticsearch_spark.operators.profiling import (
    ZONE_HI,
    ZONE_LO,
    layout_zone_map_skipping,
)
from hbase_observer_elasticsearch_spark.operators.quality import (
    quality_bucket_checksum_diff,
)
from hbase_observer_elasticsearch_spark.operators.skew_agg import (
    mv_join_delta_maintenance,
)

DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def test_ivm_identity_holds_and_deltas_land(spark, monkeypatch):
    # orders 7 and 14 are the delta batch; lineitem linenumber 5 is dL.
    orders = spark.createDataFrame(
        [(k, datetime(2024, 1, 1)) for k in (1, 2, 7, 14)],
        "o_orderkey long, o_orderdate timestamp",
    )
    li = spark.createDataFrame(
        [(1, 1, 10.0), (1, 5, 20.0), (7, 2, 30.0), (14, 5, 40.0), (2, 3, 50.0)],
        "l_orderkey long, l_linenumber int, l_extendedprice double",
    )
    monkeypatch.setattr(
        sk, "load_table",
        lambda s, sf, n: {"orders": orders, "lineitem": li}[n],
    )
    rows = mv_join_delta_maintenance(spark, "x").collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.maintained_ok
    assert r.full_cnt == r.inc_cnt == 5
    # delta terms: dOxL0 = (7,2); O0xdL = (1,5); dOxdL = (14,5) -> 3 rows
    assert r.delta_cnt == 3
    assert r.full_rev == 150.0 and r.inc_rev == 150.0


def test_checksum_diff_localizes_faults(spark, monkeypatch):
    # doc_ids 0..199: dropped = {13, 110}  (%97==13); bitrot = {7, 108}
    # (%101==7). Buckets = doc_id % 64.
    docs = spark.createDataFrame(
        [(i, f"t{i}", "en", "src", 2) for i in range(200)], DOC_SCHEMA
    )
    monkeypatch.setattr(ql, "load_table", lambda s, sf, n: docs)
    rows = {r.bucket: r for r in quality_bucket_checksum_diff(spark, "x").collect()}
    assert len(rows) == 64
    bad = {13 % 64, 110 % 64, 7 % 64, 108 % 64}
    for b, r in rows.items():
        assert r.is_equal == (b not in bad)
    # dropped rows change counts; bitrot changes only the checksum
    assert rows[13 % 64].cnt_a == rows[13 % 64].cnt_b + 1
    assert rows[7 % 64].cnt_a == rows[7 % 64].cnt_b
    assert rows[7 % 64].sum_a != rows[7 % 64].sum_b


def test_kcore_peels_chain_keeps_triangle(spark, monkeypatch):
    # chain 1-2-3 (leaf-peels away) + triangle 10-11-12 (the 2-core).
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (10, 12), (11, 12)],
        "doc_a long, doc_b long",
    )
    monkeypatch.setattr(dd, "_jaccard_pairs_memo", lambda s, sf: edges)
    rows = {r.round: r for r in dedup_graph_kcore(spark, "x").collect()}
    # first peel: leaves 1 and 3 peel; node 2 drops out of the edge list
    assert (rows[1].n_removed, rows[1].n_edges, rows[1].n_nodes) == (2, 3, 3)
    # fixed point: the triangle survives, nothing more peels
    assert (rows[2].n_removed, rows[2].n_edges, rows[2].n_nodes) == (0, 3, 3)
    assert (rows[3].n_removed, rows[3].n_edges, rows[3].n_nodes) == (0, 3, 3)


def test_zone_map_sorted_layout_dominates(spark, monkeypatch):
    # 128 docs, n_chars interleaved so natural zones are all wide.
    vals = [(ZONE_LO + (i % 2) * 200) for i in range(128)]  # 120/320 stripes
    docs = spark.createDataFrame(
        [(i, "t", "en", "src", v) for i, v in enumerate(vals)], DOC_SCHEMA
    )
    monkeypatch.setattr(pf, "load_table", lambda s, sf, n: docs)
    rows = {r.layout: r for r in layout_zone_map_skipping(spark, "x").collect()}
    nat, srt = rows["natural"], rows["sorted"]
    assert nat.rows_matching == srt.rows_matching == 64
    # every natural group straddles the stripe -> zero skipping
    assert nat.groups_read == nat.n_groups and nat.rows_read == 128
    assert nat.read_amplification == 2.0
    # sorted clusters the matching half -> reads exactly the match
    assert srt.rows_read == 64 and srt.read_amplification == 1.0
    assert ZONE_LO < 320 and ZONE_HI < 320  # stripe really is out of range


def test_encoding_advisor_arithmetic(spark, monkeypatch):
    # col 'lang': values a,a,b,a -> ndv 2, runs 3, plain 4 bytes,
    # dict payload 2 + 4 rows x 1 code byte = 6, rle 2 + 3*(1+2) = 11.
    docs = spark.createDataFrame(
        [
            (1, "xyz1", "a", "s1", 4),
            (2, "xyz2", "a", "s1", 4),
            (3, "xyz3", "b", "s1", 4),
            (4, "xyz4", "a", "s1", 4),
        ],
        DOC_SCHEMA,
    )
    monkeypatch.setattr(pf, "load_table", lambda s, sf, n: docs)
    from hbase_observer_elasticsearch_spark.operators.profiling import (
        profile_encoding_advisor,
    )

    rows = {r.col: r for r in profile_encoding_advisor(spark, "x").collect()}
    lang = rows["lang"]
    assert (lang.ndv, lang.n_runs, lang.plain_bytes) == (2, 3, 4)
    assert lang.dict_bytes == 2 + 4 * 1
    assert lang.rle_dict_bytes == 2 + 3 * (1 + 2)
    assert lang.recommended == "plain"  # 4 bytes plain beats 6-byte dict
    src = rows["source"]  # single value: 1 run -> rle_dict wins
    assert src.n_runs == 1 and src.recommended == "rle_dict"
    assert rows["text"].recommended == "plain"  # all-distinct 4-byte values


def test_k_anonymity_class_histogram(spark, monkeypatch):
    from hbase_observer_elasticsearch_spark.operators.quality import (
        quality_k_anonymity,
    )

    # QI classes: (en,s1,1) x 6 rows, (en,s2,1) x 1 row.
    docs = spark.createDataFrame(
        [(i, "t", "en", "s1", 150) for i in range(6)]
        + [(99, "t", "en", "s2", 150)],
        DOC_SCHEMA,
    )
    monkeypatch.setattr(ql, "load_table", lambda s, sf, n: docs)
    rows = {r.class_size: r for r in quality_k_anonymity(spark, "x").collect()}
    assert rows[6].n_classes == 1 and not rows[6].is_at_risk
    assert rows[1].n_classes == 1 and rows[1].is_at_risk
    assert sum(r.n_rows for r in rows.values()) == 7
