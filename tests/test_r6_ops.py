"""Operator invariants: waterfill allocation math and
streaming keyed-state dedup uniqueness."""

from __future__ import annotations

from pyspark.sql import functions as F

from hbase_observer_elasticsearch_spark.operators.stream_queries import (
    stream_exact_dedup_keyed_state,
)
from hbase_observer_elasticsearch_spark.operators.text import (
    corpus_mix_waterfill,
)


def _waterfill_reference(sizes: dict[str, int], budget: int):
    """Independent brute-force waterfill: scan every integer cap level
    implied by the sorted sizes (the closed-form must agree)."""
    n = len(sizes)
    ordered = sorted(sizes.items(), key=lambda kv: (kv[1], kv[0]))
    cum = 0
    kk, ss = 0, 0
    for rk, (_, s) in enumerate(ordered, start=1):
        cum += s
        if cum + (n - rk) * s <= budget:
            kk, ss = rk, cum
    if kk >= n:
        return {src: s for src, s in ordered}, None
    cap = (budget - ss) // (n - kk)
    return {src: min(s, cap) for src, s in ordered}, cap


def test_waterfill_matches_bruteforce_on_fixture(spark, sf_dir):
    rows = corpus_mix_waterfill(spark, sf_dir).collect()
    sizes = {r.source: r.n_tokens for r in rows}
    budget = sum(sizes.values()) // 2
    expect, cap = _waterfill_reference(sizes, budget)
    got = {r.source: r.allocated_tokens for r in rows}
    assert got == expect
    # allocation never exceeds the budget, and fills it to within one
    # cap step (integer waterfill's slack bound)
    total = sum(got.values())
    assert total <= budget
    if cap is not None:
        n_capped = sum(1 for r in rows if r.is_capped)
        assert budget - total < max(n_capped, 1)
        assert all(
            (r.n_tokens > cap) == r.is_capped for r in rows
        )


def test_waterfill_partial_cap_branch(spark):
    """Skewed synthetic sources exercise K>0 (some sources taken in
    full, heavy tail capped) — the fixture's near-uniform sources cap
    everything, so this branch needs its own data."""
    import hbase_observer_elasticsearch_spark.operators.text as tx

    docs = spark.createDataFrame(
        [
            (i, " ".join(["w"] * n), "en", src, n)
            for i, (src, n) in enumerate(
                [("tiny", 10), ("small", 40), ("big", 400), ("huge", 1000)]
            )
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    # monkey-patch load_table within the operator's module namespace
    orig = tx.load_table
    tx.load_table = lambda spark, sf_dir, name: docs
    try:
        rows = {r.source: r for r in corpus_mix_waterfill(spark, "x").collect()}
    finally:
        tx.load_table = orig
    # budget = 1450 // 2 = 725; tiny+small fit in full (10+40+2*40=130
    # <= 725 ... prefix rule), cap = (725 - 50) // 2 = 337
    assert rows["tiny"].allocated_tokens == 10 and not rows["tiny"].is_capped
    assert rows["small"].allocated_tokens == 40 and not rows["small"].is_capped
    assert rows["big"].allocated_tokens == 337 and rows["big"].is_capped
    assert rows["huge"].allocated_tokens == 337 and rows["huge"].is_capped


def test_stream_dedup_unique_and_min_keeper(spark, sf_dir):
    out = stream_exact_dedup_keyed_state(spark, sf_dir)
    n = out.count()
    assert out.select("canon_hash").distinct().count() == n
    # keeper is the global min doc_id of its hash group (batch restate)
    from hbase_observer_elasticsearch_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5(
            F.concat_ws(" ", F.array_sort(F.split(F.col("text"), " ")))
        ).alias("canon_hash"),
    )
    expect = docs.groupBy("canon_hash").agg(
        F.min("doc_id").alias("keeper_doc_id")
    )
    assert (
        out.exceptAll(
            expect.select("canon_hash", "keeper_doc_id")
        ).count()
        == 0
    )
    assert expect.count() == n


def test_novelty_curve_partitions_vocabulary(spark, sf_dir):
    from hbase_observer_elasticsearch_spark.operators.dedup import (
        corpus_ngram_novelty_curve,
        shingle_docs,
    )
    from hbase_observer_elasticsearch_spark.catalog import load_table

    rows = corpus_ngram_novelty_curve(spark, sf_dir).collect()
    total_novel = sum(r.n_novel_shingles for r in rows)
    vocab = (
        shingle_docs(load_table(spark, sf_dir, "documents"))
        .select("s")
        .distinct()
        .count()
    )
    # every distinct shingle is novel in exactly one bucket
    assert total_novel == vocab
    for r in rows:
        assert 0 <= r.n_novel_shingles <= r.n_distinct_shingles
        assert r.n_distinct_shingles <= r.n_shingle_instances


def test_cep_funnel_subset_of_2step(spark, sf_dir):
    """Every user with a 3-step funnel purchase necessarily has a
    click-within-bound purchase (the 2-step suffix), and the 3-step
    count can never exceed the 2-step count."""
    from pyspark.sql import functions as F

    from hbase_observer_elasticsearch_spark.catalog import load_table
    from hbase_observer_elasticsearch_spark.operators.time_windows import (
        CEP_ORD_BITS,
        CEP_STEP_MS,
        events_cep_funnel_3step,
    )
    from pyspark.sql import Window

    got = {
        r.user_id: r.n_funnel_purchases
        for r in events_cep_funnel_3step(spark, sf_dir).collect()
    }
    assert got, "fixture should produce at least one funnel user"
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click", "purchase")
    )
    ms = F.unix_millis(F.col("ts").cast("timestamp"))
    e = ev.select(
        "user_id",
        "event_type",
        (ms * (1 << CEP_ORD_BITS) + F.col("event_id")).alias("ord"),
        ms.alias("t_ms"),
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("ord")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    two_step = (
        e.withColumn(
            "lc",
            F.max(
                F.when(F.col("event_type") == "click", F.col("ord"))
            ).over(w_prev),
        )
        .filter(
            (F.col("event_type") == "purchase")
            & F.col("lc").isNotNull()
            & (
                F.expr(f"lc DIV {1 << CEP_ORD_BITS}")
                >= F.col("t_ms") - CEP_STEP_MS
            )
        )
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n2"))
    )
    two = {r.user_id: r.n2 for r in two_step.collect()}
    for uid, n3 in got.items():
        assert uid in two and n3 <= two[uid]


# --- property-based depth (hypothesis) ------------------------------------


def test_waterfill_properties_random():
    """The closed-form waterfill rule satisfies the allocation axioms on
    random instances: never over budget, small sources never starved
    below the cap, maximality (adding one token to any capped source
    would either exceed its size or break the uniform cap)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=200, deadline=None)
    @given(
        sizes=st.lists(st.integers(1, 10_000), min_size=1, max_size=30),
        frac=st.integers(1, 99),
    )
    def check(sizes, frac):
        total = sum(sizes)
        budget = total * frac // 100
        named = {f"s{i}": v for i, v in enumerate(sizes)}
        alloc, cap = _waterfill_reference(named, budget)
        assert sum(alloc.values()) <= budget
        for k, v in named.items():
            a = alloc[k]
            assert 0 <= a <= v
            if cap is None:
                assert a == v  # whole corpus fits
            else:
                assert a == min(v, cap)
        if cap is not None:
            # maximality: raising the cap by 1 must overshoot the budget
            over = sum(min(v, cap + 1) for v in named.values())
            assert over > budget

    check()


def test_cep_funnel_matches_bruteforce_random(spark):
    """Random small event logs: the windowed single-pass CEP result
    equals a direct triple-scan (for each purchase, find a prior click
    within the bound that has a prior view within the bound)."""
    import datetime as dt

    from hypothesis import given, settings
    from hypothesis import strategies as st

    import hbase_observer_elasticsearch_spark.operators.time_windows as tw

    STEP = tw.CEP_STEP_MS

    @settings(max_examples=12, deadline=None)
    @given(
        rows=st.lists(
            st.tuples(
                st.integers(1, 3),  # user
                st.sampled_from(["view", "click", "purchase", "error"]),
                st.integers(0, 5_000_000),  # ms offset (~83 min span)
            ),
            min_size=1,
            max_size=40,
        )
    )
    def check(rows):
        base = dt.datetime(2024, 1, 1)
        data = [
            (i + 1, typ, uid, 0.0, base + dt.timedelta(milliseconds=off))
            for i, (uid, typ, off) in enumerate(rows)
        ]
        ev = spark.createDataFrame(
            data,
            "event_id long, event_type string, user_id long, "
            "value double, ts timestamp_ntz",
        )
        orig = tw.load_table
        tw.load_table = lambda spark, sf_dir, name: ev
        try:
            got = {
                r.user_id: r.n_funnel_purchases
                for r in tw.events_cep_funnel_3step(spark, "x").collect()
            }
        finally:
            tw.load_table = orig
        # brute force with the same (ts, event_id) strict order
        keyed = [
            (uid, typ, (base + dt.timedelta(milliseconds=off), i + 1))
            for i, (uid, typ, off) in enumerate(rows)
        ]
        expect: dict[int, int] = {}
        for uid in {u for u, _, _ in keyed}:
            evs = sorted(
                [(o, t) for u, t, o in keyed if u == uid],
                key=lambda x: x[0],
            )
            n = 0
            for o_p, t_p in evs:
                if t_p != "purchase":
                    continue
                ok = False
                for o_c, t_c in evs:
                    if t_c != "click" or not (o_c < o_p):
                        continue
                    if (o_p[0] - o_c[0]).total_seconds() * 1000 > STEP:
                        continue
                    for o_v, t_v in evs:
                        if (
                            t_v == "view"
                            and o_v < o_c
                            and (o_c[0] - o_v[0]).total_seconds() * 1000
                            <= STEP
                        ):
                            ok = True
                            break
                    if ok:
                        break
                if ok:
                    n += 1
            if n:
                expect[uid] = n
        assert got == expect

    check()


def test_stream_dedup_keyed_state_survives_restart(spark, tmp_path):
    """Exactly-once admission across a RESTART: drain file 1, stop, add
    file 2 (which re-contains every file-1 document plus new ones),
    restart from the same checkpoint — the keyed seen-set must come back
    from the state store, so run 2 emits ONLY the genuinely new hashes
    and the union equals one keeper per distinct hash."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupStateTimeout

    feed = tmp_path / "feed"
    feed.mkdir()
    ckpt = str(tmp_path / "ckpt")

    def write_file(name, rows):
        pd.DataFrame(rows, columns=["seq", "text"]).to_parquet(
            feed / name, index=False
        )

    write_file("00001.parquet", [(1, "a b c"), (2, "b a c"), (3, "x y z")])
    # file 2: duplicates of both file-1 hashes + one new
    write_file_rows2 = [(4, "c b a"), (5, "z y x"), (6, "new doc here")]

    out_schema = T.StructType(
        [
            T.StructField("canon_hash", T.StringType(), False),
            T.StructField("keeper_doc_id", T.LongType(), False),
        ]
    )
    state_schema = T.StructType([T.StructField("keeper", T.LongType(), False)])

    def _first_sight(key, pdfs, state):
        (canon,) = key
        mn = None
        for pdf in pdfs:
            m = int(pdf["seq"].min())
            mn = m if mn is None else min(mn, m)
        if state.exists:
            return
        state.update((mn,))
        yield pd.DataFrame({"canon_hash": [canon], "keeper_doc_id": [mn]})

    def drain(_run):
        # memory sink cannot recover from a checkpoint — foreachBatch can,
        # and is the sink shape a real dedup-on-ingest pipeline uses
        rows: list[tuple] = []

        def capture(batch_df, _epoch):
            rows.extend(tuple(r) for r in batch_df.collect())

        stream = (
            spark.readStream.schema("seq long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(feed))
            .withColumn(
                "canon_hash",
                F.md5(
                    F.concat_ws(
                        " ", F.array_sort(F.split(F.col("text"), " "))
                    )
                ),
            )
            .drop("text")
            .groupBy("canon_hash")
            .applyInPandasWithState(
                _first_sight,
                outputStructType=out_schema,
                stateStructType=state_schema,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout,
            )
        )
        q = (
            stream.writeStream.foreachBatch(capture)
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300)
        return rows

    first = drain("dedup_run1")
    assert {r[1] for r in first} == {1, 3}  # canon(a b c)==canon(b a c)
    write_file("00002.parquet", write_file_rows2)
    second = drain("dedup_run2")
    # restart resumed the seen-set: only the new hash is emitted
    assert {r[1] for r in second} == {6}
    both = first + second
    assert len({h for h, _ in both}) == len(both) == 3


def test_incremental_dedup_is_cross_batch_only(spark, sf_dir):
    from pyspark.sql import functions as F

    from hbase_observer_elasticsearch_spark.catalog import load_table
    from hbase_observer_elasticsearch_spark.operators.dedup import (
        INCR_SPLIT_DEN,
        INCR_SPLIT_NUM,
        JACCARD_T,
        _verified_pairs_memo,
        dedup_incremental_new_batch,
    )

    out = {r.doc_id: r for r in dedup_incremental_new_batch(spark, sf_dir).collect()}
    max_id = load_table(spark, sf_dir, "documents").agg(
        F.max("doc_id")
    ).first()[0]
    split = (max_id + 1) * INCR_SPLIT_NUM // INCR_SPLIT_DEN
    assert all(d >= split for d in out)
    # cross-check against the raw pair memo
    vp = (
        _verified_pairs_memo(spark, sf_dir)
        .filter(F.col("jaccard") >= JACCARD_T)
        .collect()
    )
    expect: dict[int, list[float]] = {}
    for r in vp:
        if r.doc_a < split <= r.doc_b:
            expect.setdefault(r.doc_b, []).append(r.jaccard)
    assert set(out) == set(expect)
    for d, js in expect.items():
        assert out[d].n_corpus_dups == len(js)
        assert out[d].best_jaccard == max(js)


def test_reconciliation_counts_are_consistent(spark, sf_dir):
    from hbase_observer_elasticsearch_spark.catalog import load_table
    from hbase_observer_elasticsearch_spark.operators.quality import (
        quality_order_price_reconciliation,
    )

    rows = quality_order_price_reconciliation(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_reconciled <= r.n_orders
        assert r.max_abs_diff >= 0 and r.mean_rel_diff >= 0
    # every order with lineitems is audited exactly once
    li_orders = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey")
        .distinct()
        .count()
    )
    assert sum(r.n_orders for r in rows) == li_orders


def test_bm25_invariants(spark, sf_dir):
    """BM25 retrieval invariants independent of the oracle: every hit
    contains at least one query term, n_terms counts exactly the distinct
    query terms present, scores are positive and rank-ordered, and a
    brute-force python re-score of the top hit agrees."""
    from hbase_observer_elasticsearch_spark.operators.text import (
        BM25_B,
        BM25_K1,
        BM25_TERMS,
        search_bm25_topk,
    )

    hits = search_bm25_topk(spark, sf_dir).collect()
    assert 0 < len(hits) <= 10
    scores = [h.bm25 for h in hits]
    assert scores == sorted(scores, reverse=True)
    assert all(h.bm25 > 0 for h in hits)

    docs = {
        r.doc_id: r.text.split(" ")
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    }
    n = len(docs)
    avgdl = sum(len(t) for t in docs.values()) / n
    df = {
        w: sum(1 for toks in docs.values() if w in toks) for w in BM25_TERMS
    }
    for h in hits:
        toks = docs[h.doc_id]
        present = [w for w in BM25_TERMS if w in toks]
        assert present, "hit shares no term with the query"
        assert h.n_terms == len(present)
    # python re-score of the top hit (float-tolerant: the engine sums
    # through decimals, python sums raw doubles)
    top = hits[0]
    toks = docs[top.doc_id]
    expect = 0.0
    for w in BM25_TERMS:
        tf = toks.count(w)
        if tf == 0:
            continue
        idf = (n - df[w] + 0.5) / (df[w] + 0.5)
        tfn = (tf * (BM25_K1 + 1.0)) / (
            tf + BM25_K1 * ((1.0 - BM25_B) + BM25_B * (len(toks) / avgdl))
        )
        expect += idf * tfn
    assert abs(expect - top.bm25) < 1e-6 * max(1.0, abs(expect))


def test_schema_evolution_nullfill(spark, sf_dir):
    """The merged scan null-fills the added column for exactly the
    old-batch rows (restated row-level, not just via the aggregate)."""
    import duckdb

    from hbase_observer_elasticsearch_spark.operators.io_surface import (
        source_schema_evolution,
    )

    row = source_schema_evolution(spark, sf_dir).collect()[0]
    con = duckdb.connect()
    ref = con.sql(
        f"""
        SELECT COUNT(*) AS n,
               SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS n_odd
        FROM '{sf_dir}/documents.parquet'
        """
    ).fetchone()
    assert row.n_rows == ref[0]
    assert row.n_with_source == ref[1]


def test_temperature_mix_exact_budget_and_reference(spark, sf_dir):
    """Largest-remainder allocation fills the budget EXACTLY, and a
    python reference of the same rule agrees per-source."""
    import math

    from hbase_observer_elasticsearch_spark.operators.text import (
        corpus_mix_temperature,
    )

    rows = corpus_mix_temperature(spark, sf_dir).collect()
    sizes = {r.source: r.n_tokens for r in rows}
    budget = sum(sizes.values()) // 2
    assert sum(r.allocated_tokens for r in rows) == budget

    tot_w = sum(math.sqrt(float(n)) for n in sizes.values())
    share = {
        s: budget * math.sqrt(float(n)) / tot_w for s, n in sizes.items()
    }
    base = {s: math.floor(v) for s, v in share.items()}
    rem = budget - sum(base.values())
    order = sorted(
        sizes, key=lambda s: (-(share[s] - base[s]), s)
    )
    bonus = set(order[:rem])
    for r in rows:
        # float-tolerant on the remainder ranking: the engine sums
        # weights through decimals, python sums raw doubles — only the
        # borderline fractional ranks could differ, so check base/+1
        expect = base[r.source] + (1 if r.source in bonus else 0)
        assert abs(r.allocated_tokens - expect) <= 1
        assert r.is_upsampled == (r.allocated_tokens > r.n_tokens)


def test_phrase_search_matches_python_scan(spark, sf_dir):
    from hbase_observer_elasticsearch_spark.operators.text import (
        PHRASE,
        search_phrase_positional,
    )

    got = {
        r.doc_id: r.n_hits
        for r in search_phrase_positional(spark, sf_dir).collect()
    }
    expect: dict[int, int] = {}
    for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect():
        toks = r.text.split(" ")
        n = sum(
            1
            for i in range(len(toks) - len(PHRASE) + 1)
            if tuple(toks[i : i + len(PHRASE)]) == PHRASE
        )
        if n:
            expect[r.doc_id] = n
    assert got == expect


def test_rrf_fusion_invariants(spark, sf_dir):
    """RRF output invariants: per-query exactly 10 results, scores
    match the closed form from the two input lists, and any candidate
    on both lists beats a same-rank single-list candidate."""
    from hbase_observer_elasticsearch_spark.operators.similarity import (
        RRF_K,
        TOPK,
        similarity_rank_fusion_rrf,
        similarity_topk_pq,
        similarity_topk_rhp,
    )

    fused = similarity_rank_fusion_rrf(spark, sf_dir).collect()
    rhp = {
        (r.query_id, r.neighbor_id): r.rk
        for r in similarity_topk_rhp(spark, sf_dir).collect()
    }
    pq = {
        (r.query_id, r.neighbor_id): r.rk
        for r in similarity_topk_pq(spark, sf_dir).collect()
    }
    per_q: dict[int, int] = {}
    for r in fused:
        per_q[r.query_id] = per_q.get(r.query_id, 0) + 1
        key = (r.query_id, r.neighbor_id)
        expect = 0.0
        n = 0
        for lst in (rhp, pq):
            if key in lst:
                expect += 1.0 / (RRF_K + lst[key])
                n += 1
        assert n == r.n_lists and n >= 1
        assert abs(r.rrf - expect) < 1e-12
    assert all(v == TOPK for v in per_q.values())


def test_truncated_recall_bounds(spark, sf_dir):
    from hbase_observer_elasticsearch_spark.operators.similarity import (
        similarity_recall_truncated,
    )

    rows = similarity_recall_truncated(spark, sf_dir).collect()
    assert len(rows) == 5
    for r in rows:
        assert 0 <= r.n_matched <= 10
        assert abs(r.recall - r.n_matched / 10.0) < 1e-15


def test_benford_distribution_is_complete(spark, sf_dir):
    from hbase_observer_elasticsearch_spark.operators.quality import (
        quality_benford_leading_digit,
    )

    rows = quality_benford_leading_digit(spark, sf_dir).collect()
    assert {r.leading_digit for r in rows} <= set(range(1, 10))
    n_orders = spark.read.parquet(f"{sf_dir}/orders.parquet").where(
        "o_totalprice >= 1"
    ).count()
    assert sum(r.n for r in rows) == n_orders
    assert abs(sum(r.frac for r in rows) - 1.0) < 1e-12


def test_observed_metrics_match_direct_aggregates(spark, sf_dir):
    """The observe() side channel must report the same statistics a
    direct aggregation computes (metrics ride the real job's scan)."""
    from hbase_observer_elasticsearch_spark.operators.profiling import (
        profile_observed_metrics,
    )

    got = profile_observed_metrics(spark, sf_dir).collect()[0]
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    assert got.n_input_rows == li.count()
    assert got.n_discounted == li.where("l_discount > 0.05").count()
    assert got.n_taxfree == li.where("l_tax = 0").count()


def test_rendezvous_sharding_minimal_disruption(spark, sf_dir):
    """The HRW contract, checked directly: removing the last shard
    remaps only that shard's documents, totals are conserved, and the
    redistribution lands only on surviving shards."""
    from hbase_observer_elasticsearch_spark.operators.profiling import (
        N_SHARDS,
        layout_rendezvous_sharding,
    )

    rows = {r.shard: r for r in layout_rendezvous_sharding(spark, sf_dir).collect()}
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert sum(r.n_docs_8 for r in rows.values()) == n_docs
    assert sum(r.n_docs_7 for r in rows.values()) == n_docs
    assert all(r.n_moved_wrongly == 0 for r in rows.values())
    removed = rows[N_SHARDS - 1]
    assert removed.n_docs_7 == 0 and removed.n_moved_in == 0
    assert sum(r.n_moved_in for r in rows.values()) == removed.n_docs_8
