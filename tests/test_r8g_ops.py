"""Operator invariants: Pareto-skyline dominance edge cases
(equal-price ties, identical twins, strict domination in one axis) and
the blocked fuzzy join's three-layer filter (blocking, length band,
threshold-bounded Levenshtein)."""

from __future__ import annotations

import hbase_observer_elasticsearch_spark.operators.relational as rel
from hbase_observer_elasticsearch_spark.operators.relational import (
    join_fuzzy_levenshtein_blocked,
    sort_skyline_pareto,
)

PART_SCHEMA = (
    "p_partkey long, p_name string, p_brand string, p_type string, "
    "p_size int, p_retailprice double"
)


def _parts(spark, rows):
    return spark.createDataFrame(rows, PART_SCHEMA)


def test_skyline_dominance_cases(spark, monkeypatch):
    # brand A: 1 and its twin 5 (equal price+size -> mutually
    # non-dominating, both kept); 2 pricier-but-bigger (kept);
    # 3 dominated by 2 at equal price (smaller size);
    # 4 dominated by 2 at equal size (higher price).
    # brand B: a single row is always its own skyline.
    parts = _parts(
        spark,
        [
            (1, "a", "A", "t", 10, 5.0),
            (5, "a2", "A", "t", 10, 5.0),
            (2, "b", "A", "t", 12, 6.0),
            (3, "c", "A", "t", 11, 6.0),
            (4, "d", "A", "t", 12, 7.0),
            (9, "z", "B", "t", 1, 99.0),
        ],
    )
    monkeypatch.setattr(rel, "load_table", lambda s, sf, n: parts)
    keys = {r.partkey for r in sort_skyline_pareto(spark, "r8g").collect()}
    assert keys == {1, 5, 2, 9}


def test_skyline_equal_price_keeps_only_max_size(spark, monkeypatch):
    # three rows at the same price: only the max-size row survives —
    # equal price + strictly larger size IS domination.
    parts = _parts(
        spark,
        [
            (1, "a", "A", "t", 3, 5.0),
            (2, "b", "A", "t", 7, 5.0),
            (3, "c", "A", "t", 5, 5.0),
        ],
    )
    monkeypatch.setattr(rel, "load_table", lambda s, sf, n: parts)
    keys = {r.partkey for r in sort_skyline_pareto(spark, "r8g").collect()}
    assert keys == {2}


def test_fuzzy_join_threshold_and_blocking(spark, monkeypatch):
    # within brand A: (1,2) dist 1 via suffix insert; (1,3) dist 1 via
    # last-char substitution; (2,3) dist 2 (one delete + one subst);
    # (1,4)/(2,4)/(3,4) dist 4 > 2 -> threshold-dropped.
    # brand B carries a name identical to part 1 -> blocking excludes it.
    parts = _parts(
        spark,
        [
            (1, "small ring", "A", "t", 1, 1.0),
            (2, "small ringo", "A", "t", 1, 1.0),
            (3, "small rind", "A", "t", 1, 1.0),
            (4, "alpha omega", "A", "t", 1, 1.0),
            (9, "small ring", "B", "t", 1, 1.0),
        ],
    )
    monkeypatch.setattr(rel, "load_table", lambda s, sf, n: parts)
    out = {
        (r.part_a, r.part_b): r.edit_dist
        for r in join_fuzzy_levenshtein_blocked(spark, "r8g").collect()
    }
    assert out == {(1, 2): 1, (1, 3): 1, (2, 3): 2}


def test_fuzzy_join_emits_canonical_pair_order(spark, monkeypatch):
    # exact twins: ONE pair, keyed a < b, distance 0
    parts = _parts(
        spark,
        [
            (7, "blue bolt", "A", "t", 1, 1.0),
            (2, "blue bolt", "A", "t", 1, 1.0),
        ],
    )
    monkeypatch.setattr(rel, "load_table", lambda s, sf, n: parts)
    rows = join_fuzzy_levenshtein_blocked(spark, "r8g").collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.part_a, r.part_b, r.edit_dist) == (2, 7, 0)
