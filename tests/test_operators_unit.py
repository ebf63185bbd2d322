"""Unit tests on tiny literal DataFrames: shingling, hashing portability,
vector math."""

from __future__ import annotations

from pyspark.sql import functions as F

from hbase_observer_elasticsearch_spark.functions import hashing as H
from hbase_observer_elasticsearch_spark.functions.vectors import cosine
from hbase_observer_elasticsearch_spark.operators.dedup import shingle_docs


def test_shingles_short_docs(spark):
    d = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b"), (3, "x")], "doc_id long, text string"
    )
    got = {
        (r["doc_id"], r["s"]) for r in shingle_docs(d, w=3).collect()
    }
    assert got == {(1, "a b c"), (1, "b c d")}  # <w words → no shingles


def test_shingles_dedup_within_doc(spark):
    d = spark.createDataFrame([(1, "a b a b a b a b")], "doc_id long, text string")
    got = [r["s"] for r in shingle_docs(d, w=3).collect()]
    assert sorted(got) == ["a b a", "b a b"]  # distinct


def test_token_code_matches_duckdb(spark):
    import duckdb

    words = ["hello", "spark", "the", "café ☕"]
    sdf = spark.createDataFrame([(w,) for w in words], "w string")
    s_codes = {
        r["w"]: r["c"]
        for r in sdf.select("w", H.token_code(F.col("w")).alias("c")).collect()
    }
    con = duckdb.connect()
    for w in words:
        (d_code,) = con.execute(
            "SELECT CAST(CONCAT('0x', substr(md5(?), 1, 8)) AS BIGINT)", [w]
        ).fetchone()
        assert s_codes[w] == d_code, w


def test_cosine_known_values(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0], [0.0, 1.0]), ([1.0, 1.0], [1.0, 1.0]), ([2.0, 0.0], [1.0, 0.0])],
        "a array<float>, b array<float>",
    )
    got = [r["c"] for r in df.select(cosine(F.col("a"), F.col("b")).alias("c")).collect()]
    assert got[0] == 0.0
    assert abs(got[1] - 1.0) < 1e-12
    assert got[2] == 1.0


def test_pair_fanout_caps_hot_buckets(spark):
    """A bucket wider than the cap is dropped from pair generation (and
    counted via the Observation metric); buckets at/below the cap fan out
    every in-bucket pair."""
    from pyspark.sql import Observation

    from hbase_observer_elasticsearch_spark.operators.dedup import (
        _pairs_from_groups,
    )

    grouped = spark.createDataFrame(
        [
            ("cool", [1, 2, 3]),
            ("hot", list(range(100, 100 + 10))),  # > cap=4 → dropped
        ],
        "s string, ids array<long>",
    )
    obs = Observation("cap")
    pairs = _pairs_from_groups(grouped, cap=4, observation=obs)
    got = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    assert got == {(1, 2), (1, 3), (2, 3)}
    assert obs.get["n_dropped_buckets"] == 1
    assert obs.get["n_buckets"] == 2


def test_edit_distance_band_blocking_matches_all_pairs(spark):
    """Length-band blocking finds exactly the pairs the naive all-pairs
    join finds — including pairs whose lengths straddle a band boundary."""
    import itertools

    names = ["abcd", "abcde", "abc", "abcdefg", "zzzz", "abqd", "ab"]
    dist_le3 = {
        tuple(sorted(p))
        for p in itertools.combinations(names, 2)
        if _lev(p[0], p[1]) <= 3
    }
    d = spark.createDataFrame([(n,) for n in names], "p_name string")
    from pyspark.sql import functions as F  # noqa: F811

    from hbase_observer_elasticsearch_spark.operators.text import _LEN_BAND

    band = F.floor(F.length("p_name") / _LEN_BAND).cast("int")
    a = d.select(
        F.col("p_name").alias("name_a"),
        F.explode(F.array(band - 1, band, band + 1)).alias("blk"),
    )
    b = d.select(F.col("p_name").alias("name_b"), band.alias("blk"))
    got = {
        (r["name_a"], r["name_b"])
        for r in a.join(b, "blk")
        .filter(F.col("name_a") < F.col("name_b"))
        .withColumn("dist", F.levenshtein("name_a", "name_b", 3))
        .filter(F.col("dist") >= 0)
        .collect()
    }
    assert got == dist_le3


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_connected_components_star_beats_propagation_on_path(spark):
    """large-star/small-star must converge in O(log d) rounds on a path
    graph — the worst case for plain one-hop min propagation — and both
    must land the identical fixpoint (every node labeled with the path
    minimum)."""
    from pyspark.sql import functions as F

    from hbase_observer_elasticsearch_spark.operators.dedup import (
        _cc_min_propagation,
        connected_components,
    )

    n = 17  # path 0-1-2-...-16 (diameter 16) + an isolated node 100
    nodes = spark.createDataFrame([(i,) for i in range(n)] + [(100,)], "id long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )

    star_labels, star_rounds = connected_components(nodes, edges)
    got = {r["id"]: r["label"] for r in star_labels.collect()}
    assert got == {**{i: 0 for i in range(n)}, 100: 100}

    prop_labels, prop_rounds = _cc_min_propagation(nodes, edges)
    assert {r["id"]: r["label"] for r in prop_labels.collect()} == got

    # diameter 16: propagation needs ~16 one-hop rounds; star contracts
    # chains geometrically
    assert prop_rounds >= 8
    assert star_rounds <= 6
    assert star_rounds < prop_rounds


def test_connected_components_merges_components(spark):
    """Two cliques joined by a bridge edge collapse to one component; edge
    orientation and duplicate/self edges must not matter."""
    from hbase_observer_elasticsearch_spark.operators.dedup import (
        connected_components,
    )

    nodes = spark.createDataFrame([(i,) for i in range(1, 9)], "id long")
    edges = spark.createDataFrame(
        # clique {1,2,3}, clique {5,6,7}, bridge 3-5; node 8 isolated;
        # messy input: reversed dupes + a self-loop
        [(2, 1), (1, 3), (3, 2), (6, 5), (5, 7), (7, 6), (3, 5), (5, 3), (4, 4)],
        "src long, dst long",
    )
    labels, _ = connected_components(nodes, edges)
    got = {r["id"]: r["label"] for r in labels.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 5: 1, 6: 1, 7: 1, 4: 4, 8: 8}


import pytest


@pytest.mark.parametrize("seed", [7, 42, 1234])
def test_connected_components_vs_union_find(spark, seed):
    """Cross-validate large-star/small-star against a pure-Python
    union-find on random sparse graphs (mixed components, chains, hubs,
    isolates)."""
    import random

    from hbase_observer_elasticsearch_spark.operators.dedup import (
        connected_components,
    )

    rng = random.Random(seed)
    n = 120
    edges = [
        (rng.randrange(n), rng.randrange(n)) for _ in range(90)
    ] + [(i, i + 1) for i in range(20)]  # guarantee one long chain

    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical label = min node id per component
    comp: dict = {}
    for i in range(n):
        comp.setdefault(find(i), []).append(i)
    want = {i: min(comp[find(i)]) for i in range(n)}

    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    e = spark.createDataFrame(edges, "src long, dst long")
    labels, rounds = connected_components(nodes, e)
    got = {r["id"]: r["label"] for r in labels.collect()}
    assert got == want
    assert rounds <= 10  # O(log d), not O(d)


@pytest.mark.parametrize("seed", [3, 99])
def test_scd2_intervals_partition_timeline(spark, sf_dir, seed):
    """SCD2 invariants on random per-key slices of the real history:
    intervals per (user, event_type) are disjoint, ordered, chain
    exactly (valid_to[k] == valid_from[k+1]), and exactly one row per
    key is current (open-ended)."""
    import random

    from hbase_observer_elasticsearch_spark.operators.cdc import (
        cdc_scd2_history,
    )

    hist = cdc_scd2_history(spark, sf_dir).collect()
    by_key: dict = {}
    for r in hist:
        by_key.setdefault((r["user_id"], r["event_type"]), []).append(r)

    rng = random.Random(seed)
    keys = rng.sample(sorted(by_key), min(25, len(by_key)))
    for k in keys:
        rows = sorted(by_key[k], key=lambda r: (r["valid_from_ms"], r["event_id"]))
        opens = [r for r in rows if r["valid_to_ms"] is None]
        assert len(opens) == 1 and rows[-1]["is_current"]
        for a, b in zip(rows, rows[1:]):
            assert a["valid_to_ms"] == b["valid_from_ms"]  # chained, no gap
            assert a["valid_from_ms"] <= a["valid_to_ms"]  # well-formed


def test_interval_overlap_binning_matches_bruteforce(spark):
    """The bin-exploded equi-join emits EXACTLY the brute-force theta-join
    pair set, each pair once, on a random interval soup that includes
    bin-boundary-straddling and identical-endpoint intervals."""
    import random

    rng = random.Random(17)
    W = 1000  # test-sized bin
    a_rows = [
        (i, s := rng.randrange(0, 20_000), s + rng.randrange(0, 1800))
        for i in range(60)
    ]
    b_rows = [
        (1000 + i, s := rng.randrange(0, 20_000), s + rng.randrange(0, 1800))
        for i in range(60)
    ]
    a = spark.createDataFrame(a_rows, "a_id long, a_start long, a_end long")
    b = spark.createDataFrame(b_rows, "b_id long, b_start long, b_end long")

    def binned(df, p):
        return df.select(
            "*",
            F.explode(
                F.sequence(
                    F.floor(F.col(f"{p}_start") / W),
                    F.floor(F.col(f"{p}_end") / W),
                )
            ).alias("bin"),
        )

    start_bin = F.floor(F.greatest("a_start", "b_start") / W)
    got = {
        (r["a_id"], r["b_id"])
        for r in binned(a, "a")
        .join(binned(b, "b"), "bin")
        .filter(
            (F.col("a_start") <= F.col("b_end"))
            & (F.col("b_start") <= F.col("a_end"))
            & (F.col("bin") == start_bin)
        )
        .collect()
    }
    want = {
        (ai, bi)
        for (ai, as_, ae) in a_rows
        for (bi, bs, be) in b_rows
        if as_ <= be and bs <= ae
    }
    assert got == want and len(want) > 0


def test_nearest_asof_matches_bruteforce(spark, sf_dir):
    """join_asof_nearest must pick argmin |Δt| with ties to the earlier
    purchase — cross-validated row-by-row against a brute-force scan."""
    from hbase_observer_elasticsearch_spark import registry

    got = {
        r["event_id"]: r["nearest_purchase_ms"]
        for r in registry.queries()["join_asof_nearest"](spark, sf_dir).collect()
    }
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    t_ms = F.unix_millis(F.col("ts").cast("timestamp"))
    rows = ev.select("event_id", "user_id", "event_type", t_ms.alias("t")).collect()
    purch: dict = {}
    for r in rows:
        if r["event_type"] == "purchase":
            purch.setdefault(r["user_id"], set()).add(r["t"])
    n_checked = 0
    for r in rows:
        if r["event_type"] != "error" or r["user_id"] not in purch:
            continue
        best = min(purch[r["user_id"]], key=lambda p: (abs(p - r["t"]), p))
        assert got[r["event_id"]] == best, r
        n_checked += 1
    assert n_checked > 50


def test_clear_memos_releases_and_rebuilds(spark, sf_dir):
    """The process-wide (app, sf_dir) memos have an explicit lifetime
    hook. Populate them, clear, verify empty, and verify the consumers
    rebuild correctly afterwards."""
    from hbase_observer_elasticsearch_spark.memos import _REGISTRY, clear_memos
    from hbase_observer_elasticsearch_spark.registry import queries

    qs = queries()
    before = qs["dedup_clusters"](spark, sf_dir).count()
    assert any(len(m) for m in _REGISTRY), "memo should be populated"

    cleared = clear_memos(spark)
    assert sum(cleared.values()) > 0
    assert all(len(m) == 0 for m in _REGISTRY)

    # consumers rebuild lazily and give the same answer
    assert qs["dedup_clusters"](spark, sf_dir).count() == before
    assert any(len(m) for m in _REGISTRY)


class _App:
    """Just enough of a SparkSession for a memo key."""

    class sparkContext:  # noqa: N801 — mirrors the SparkSession attribute
        applicationId = "app-test"


@pytest.fixture
def fresh_memos(monkeypatch):
    """Memos built in a test register into a throwaway registry, so
    `clear_memos` and the bench-row hygiene check never see them."""
    from hbase_observer_elasticsearch_spark import memos

    monkeypatch.setattr(memos, "_REGISTRY", [])
    return memos


def test_memo_hit_returns_same_object(fresh_memos):
    memo = fresh_memos.Memo("t")
    calls = []

    def build():
        calls.append(1)
        return object()

    first = memo.get(_App, "sf", build)
    assert memo.get(_App, "sf", build) is first
    assert len(calls) == 1
    # extra key parts and other sf_dirs are separate entries
    assert memo.get(_App, "sf", build, "k") is not first
    assert memo.get(_App, "other", build) is not first
    assert len(memo) == 3


def test_memo_rebuilt_parent_forces_child_rebuild(fresh_memos):
    parents = fresh_memos.Memo("parent")
    children = fresh_memos.Memo("child")

    def child():
        p = parents.get(_App, "sf", object)
        return children.get(_App, "sf", lambda: ("derived", p), parent=p)

    c1 = child()
    assert child() is c1
    parents.clear()
    c2 = child()
    assert c2 is not c1
    assert c2[1] is parents.get(_App, "sf", object)
    assert child() is c2


def test_memo_clear_counts_and_evicts_each_value(fresh_memos):
    evicted = []
    memo = fresh_memos.Memo("t", on_evict=evicted.append)
    for k in range(3):
        memo.get(_App, "sf", lambda k=k: f"v{k}", k)
    assert fresh_memos.clear_memos() == {"t": 3}
    assert sorted(evicted) == ["v0", "v1", "v2"]
    assert len(memo) == 0
    assert memo.clear() == 0
    assert len(evicted) == 3


def test_shared_changefeed_dir_deleted_from_disk_is_rebuilt(spark, sf_dir):
    import os
    import shutil

    from hbase_observer_elasticsearch_spark.sources.changefeed import (
        shared_changefeed_stream_dir,
    )

    first = shared_changefeed_stream_dir(spark, sf_dir, n_files=2)
    assert shared_changefeed_stream_dir(spark, sf_dir, n_files=2) == first
    shutil.rmtree(first)
    again = shared_changefeed_stream_dir(spark, sf_dir, n_files=2)
    assert again != first
    assert os.path.isdir(again) and os.listdir(again)


def test_cc_labels_follow_rebuilt_verified_pairs(spark, monkeypatch):
    """Clearing only the verified-pairs memo must invalidate the CC
    labels derived from it. Corpus B is corpus A plus one document with
    no near-duplicate; the shingle memo is left in place, so the edges
    are unchanged and only the new vertex shows whether the labels were
    rebuilt over B's documents."""
    import hbase_observer_elasticsearch_spark.operators.dedup as dd
    from hbase_observer_elasticsearch_spark.memos import _REGISTRY, clear_memos

    schema = "doc_id long, text string, lang string, source string, n_chars long"
    t1 = "alpha beta gamma delta epsilon zeta"
    t2 = "one two three four five six"
    t3 = "red green blue cyan magenta yellow"
    rows_a = [(1, t1, "en", "s", 1), (2, t1, "en", "s", 1), (3, t2, "en", "s", 1)]
    corpus_a = spark.createDataFrame(rows_a, schema)
    corpus_b = spark.createDataFrame(rows_a + [(4, t3, "en", "s", 1)], schema)
    sf = "memo-parent-cc"

    def clusters():
        return {
            (r.doc_id, r.cluster_id, r.cluster_size)
            for r in dd.dedup_clusters(spark, sf).collect()
        }

    try:
        monkeypatch.setattr(dd, "load_table", lambda s, d, n: corpus_a)
        assert clusters() == {(1, 1, 2), (2, 1, 2), (3, 3, 1)}
        next(m for m in _REGISTRY if m.name == "dedup_verified_pairs").clear()
        monkeypatch.setattr(dd, "load_table", lambda s, d, n: corpus_b)
        assert clusters() == {(1, 1, 2), (2, 1, 2), (3, 3, 1), (4, 4, 1)}
    finally:
        clear_memos()


def test_clear_memos_drops_bucketed_fact_tables(spark, sf_dir):
    import os

    from hbase_observer_elasticsearch_spark.memos import clear_memos
    from hbase_observer_elasticsearch_spark.operators.relational import (
        _bucketed_facts,
    )

    tables = _bucketed_facts(spark, sf_dir)
    dirs = [
        spark.sql(f"DESCRIBE FORMATTED {t}")
        .filter("col_name = 'Location'")
        .first()
        .data_type.removeprefix("file:")
        for t in tables
    ]
    assert all(os.path.isdir(d) for d in dirs)
    clear_memos(spark)
    assert not any(spark.catalog.tableExists(t) for t in tables)
    assert not any(os.path.exists(d) for d in dirs)
