"""Operator invariants: cogroup reconciliation arithmetic, A-ES
weighted-reservoir selection, LPA consensus flip, the MIPS->L2 monotone-map
guarantee in exact arithmetic, compaction-bin boundary accounting, and the
seq3 gap/support gates."""

from __future__ import annotations

import hashlib
import math

import hbase_observer_elasticsearch_spark.operators.dedup as dd
import hbase_observer_elasticsearch_spark.operators.planning as pl
import hbase_observer_elasticsearch_spark.operators.sampling as sa
import hbase_observer_elasticsearch_spark.operators.similarity as sim
import hbase_observer_elasticsearch_spark.operators.time_windows as tw
import hbase_observer_elasticsearch_spark.operators.udf_surface as us
from hbase_observer_elasticsearch_spark.operators.dedup import (
    graph_label_propagation,
)
from hbase_observer_elasticsearch_spark.operators.planning import (
    COMPACT_TARGET,
    layout_compaction_plan,
)
from hbase_observer_elasticsearch_spark.operators.sampling import (
    _RES_K,
    sample_weighted_reservoir,
)
from hbase_observer_elasticsearch_spark.operators.similarity import (
    similarity_mips_augment,
)
from hbase_observer_elasticsearch_spark.operators.time_windows import (
    events_seq3_patterns,
)
from hbase_observer_elasticsearch_spark.operators.udf_surface import (
    udf_cogroup_pandas,
)

DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"
EMB_SCHEMA = "vec_id long, label int, embedding array<float>"


def test_cogroup_reconciliation(spark, monkeypatch):
    cust = spark.createDataFrame(
        [(1, "Customer#1", 0, 10.55, "SEG"), (2, "Customer#2", 0, 99.99, "SEG")],
        "c_custkey long, c_name string, c_nationkey long, c_acctbal double,"
        " c_mktsegment string",
    )
    orders = spark.createDataFrame(
        [(100, 1, "O", 7.004, "1998-01-01", "P"), (101, 1, "O", 4.996, "1998-01-02", "P")],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate string, o_orderpriority string",
    )
    tables = {"customer": cust, "orders": orders}
    monkeypatch.setattr(us, "load_table", lambda s, sf, n: tables[n])
    rows = {r.c_custkey: r for r in udf_cogroup_pandas(spark, "r8e").collect()}
    # floor(7.004*100)=700, floor(4.996*100)=499 — truncation, not rounding
    assert rows[1].n_orders == 2 and rows[1].spend_cents == 700 + 499
    assert rows[1].bal_cents == 1055 and rows[1].spend_gt_bal is True
    # the customer with NO orders still emits a row (cogroup left-empty-right)
    assert rows[2].n_orders == 0 and rows[2].spend_cents == 0
    assert rows[2].spend_gt_bal is False


def _res_key(doc_id: int, n_chars: int) -> float:
    u32 = int(hashlib.md5(f"res:{doc_id}".encode()).hexdigest()[:8], 16)
    return math.log((u32 + 0.5) / 4294967296.0) / n_chars


def test_weighted_reservoir_exact_k_and_selection(spark, monkeypatch):
    docs = [(i, "t", "en", "s1", 10 + i * 7) for i in range(20)]
    df = spark.createDataFrame(docs, DOC_SCHEMA)
    monkeypatch.setattr(sa, "load_table", lambda s, sf, n: df)
    out = sample_weighted_reservoir(spark, "r8e-res").collect()
    assert len(out) == _RES_K  # exactly k from the single stratum
    got = [r.doc_id for r in sorted(out, key=lambda r: r.rk)]
    want = sorted(docs, key=lambda d: -_res_key(d[0], d[4]))[:_RES_K]
    assert got == [d[0] for d in want]  # A-ES key order, not raw weight order


def test_label_propagation_flips_planted_minority(spark, monkeypatch):
    docs = spark.createDataFrame(
        [(1, "x", "de", "s", 1), (2, "x", "en", "s", 1),
         (3, "x", "en", "s", 1), (4, "x", "en", "s", 1)],
        DOC_SCHEMA,
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], "doc_a long, doc_b long"
    )
    monkeypatch.setattr(dd, "load_table", lambda s, sf, n: docs)
    monkeypatch.setattr(dd, "_jaccard_pairs_memo", lambda s, sf: pairs)
    rows = {r.doc_id: r for r in graph_label_propagation(spark, "r8e-lpa").collect()}
    # the 'de' hub is outvoted 3:1 by its 'en' neighbors in the first
    # vote and the self-anchored second vote keeps it there (no bipartite
    # 2-cycle)
    assert rows[1].lang0 == "de" and rows[1].lang_final == "en"
    assert rows[1].changed is True
    # leaves tie 1:1 (self 'en' vs hub 'de') -> keep-current wins
    assert rows[2].lang_final == "en" and rows[2].changed is False
    assert rows[3].lang_final == "en" and rows[4].lang_final == "en"


def test_mips_augment_agrees_in_exact_arithmetic(spark, monkeypatch):
    # power-of-two coordinates: every fold step is exact, so the
    # augmented-L2 ranking MUST equal the inner-product ranking.
    emb = spark.createDataFrame(
        [(0, 0, [1.0, 0.0]), (1, 0, [0.5, 0.5]), (2, 0, [2.0, 0.0]),
         (3, 0, [0.0, 0.25]), (4, 0, [0.25, 2.0]), (5, 0, [1.0, 1.0]),
         (6, 0, [0.0, 2.0])],
        EMB_SCHEMA,
    )
    monkeypatch.setattr(sim, "load_table", lambda s, sf, n: emb)
    out = similarity_mips_augment(spark, "r8e-mips").collect()
    assert out and all(r.agree for r in out)
    assert all(r.nb_dot == r.nb_aug for r in out)


def test_compaction_bins_cross_boundaries(spark, monkeypatch):
    docs = [(i, "x", "en", "s1", 40_000) for i in range(40)]  # 1.6 MB total
    df = spark.createDataFrame(docs, DOC_SCHEMA)
    monkeypatch.setattr(pl, "load_table", lambda s, sf, n: df)
    rows = sorted(
        layout_compaction_plan(spark, "r8e-cp").collect(), key=lambda r: r.bin
    )
    total = sum(r.total_bytes for r in rows)
    assert total == 40 * 40_000
    # cumulative bytes through every non-final bin cross that bin's upper
    # boundary — each merge group is a full output file
    cum = 0
    for r in rows[:-1]:
        cum += r.total_bytes
        assert cum >= (r.bin + 1) * COMPACT_TARGET
    # bins partition the file inventory without overlap
    assert sum(r.n_files for r in rows) <= 32  # md5 buckets collapse doc rows


def test_seq3_gap_and_support_gates(spark, monkeypatch):
    rows = [
        # u1: a->b->c with 1h hops (qualifies)
        (1, "2024-01-01T00:00:00", 1, "a", 0.0, "{}"),
        (2, "2024-01-01T01:00:00", 1, "b", 0.0, "{}"),
        (3, "2024-01-01T02:00:00", 1, "c", 0.0, "{}"),
        # u2: a->b ok, b->c gap 30h (second hop disqualifies the triple)
        (4, "2024-01-02T00:00:00", 2, "a", 0.0, "{}"),
        (5, "2024-01-02T01:00:00", 2, "b", 0.0, "{}"),
        (6, "2024-01-03T07:00:00", 2, "c", 0.0, "{}"),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).selectExpr(
        "event_id", "CAST(ts AS TIMESTAMP_NTZ) AS ts", "user_id",
        "event_type", "value", "props"
    )
    monkeypatch.setattr(tw, "load_table", lambda s, sf, n: ev)
    monkeypatch.setattr(tw, "SEQ3_MIN_SUP", 1)
    out = events_seq3_patterns(spark, "r8e-seq").collect()
    assert len(out) == 1
    r = out[0]
    assert (r.t1, r.t2, r.t3) == ("a", "b", "c")
    assert r.n_occurrences == 1 and r.n_users == 1


def test_labeler_kappa_exact_arithmetic(spark, monkeypatch):
    import hbase_observer_elasticsearch_spark.operators.quality as ql
    from hbase_observer_elasticsearch_spark.operators.quality import (
        quality_labeler_kappa,
    )
    # craft docs where labeler B (diversity >= 0.5) is fully determined:
    # "a a a a" -> 250, "a b c d" -> 1000. Labeler A depends on hash
    # weights; read the confusion cells back and check kappa's closed form.
    docs = spark.createDataFrame(
        [(i, "a a a a" if i % 2 else "a b c d", "en", "s", 7) for i in range(8)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    monkeypatch.setattr(ql, "load_table", lambda s, sf, n: docs)
    r = quality_labeler_kappa(spark, "r8e-kap").collect()[0]
    n, n11, n00 = r.n_docs, r.n11, r.n00
    ra1, cb1 = r.n11 + r.n10, r.n11 + r.n01
    chance = ra1 * cb1 + (n - ra1) * (n - cb1)
    assert n == 8 and n11 + n00 + r.n10 + r.n01 == n
    assert r.po == (n11 + n00) / n
    assert r.pe == chance / (n * n)
    assert r.kappa == (n * (n11 + n00) - chance) / (n * n - chance)


def test_curriculum_phases_order(spark, monkeypatch):
    import hbase_observer_elasticsearch_spark.operators.quality as ql
    from hbase_observer_elasticsearch_spark.operators.quality import (
        corpus_curriculum_order,
    )
    docs = spark.createDataFrame(
        [(i, f"tok{i} tok{i+1} tok{i+2}", "en", "s", 9) for i in range(9)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    monkeypatch.setattr(ql, "load_table", lambda s, sf, n: docs)
    out = sorted(corpus_curriculum_order(spark, "r8e-cur").collect(),
                 key=lambda r: r.order_idx)
    assert [r.order_idx for r in out] == list(range(1, 10))
    # phases are contiguous blocks of the training order, monotone 1..3
    phases = [r.phase for r in out]
    assert phases == sorted(phases) and set(phases) == {1, 2, 3}
    # within a phase the order is the md5 shuffle, not doc_id order
    import hashlib
    for p in (1, 2, 3):
        block = [r for r in out if r.phase == p]
        keys = [hashlib.md5(f"cur:{r.doc_id}".encode()).hexdigest() for r in block]
        assert keys == sorted(keys)


def test_silhouette_planted_clusters(spark, monkeypatch):
    import hbase_observer_elasticsearch_spark.operators.similarity as sim2
    from hbase_observer_elasticsearch_spark.operators.similarity import (
        similarity_kmeans_silhouette,
    )
    # two tight planted blobs far apart; seed vectors (vec_id < k) cover
    # both blobs so Lloyd converges onto them
    rows = []
    for i in range(8):
        base = 0.0 if i % 2 == 0 else 100.0
        rows.append((i, 0, [base + 0.25 * (i // 2), base]))
    emb = spark.createDataFrame(rows, EMB_SCHEMA)
    monkeypatch.setattr(sim2, "load_table", lambda s, sf, n: emb)
    out = similarity_kmeans_silhouette(spark, "r8e-sil").collect()
    assert sum(r.n_members for r in out) == 8
    # every populated cluster is far tighter than the inter-blob gap
    for r in out:
        if r.n_members > 1:
            assert r.mean_silhouette > 0.9
