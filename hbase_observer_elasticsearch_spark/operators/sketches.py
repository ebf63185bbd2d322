"""Sketch-based approximate aggregation [NORTH-STAR]: HLL cardinality
sketches (build / union / estimate), quantile sketches, and
sampled heavy-hitter estimation.

Why sketches are first-class at 100 TB: an exact COUNT(DISTINCT) is an
expand + full shuffle of the distinct keys; an HLL sketch is a few KB of
map-side state that merges associatively — the only communication is one
sketch per partition per group. Same story for quantiles (KLL/GK
summaries vs a full sort) and heavy hitters (a deterministic hash-gate
sample vs a global count). The audit pattern mirrors
``agg_approx_distinct`` (operators/relational.py): sketch internals
differ by engine, so the driver-checkable contract is exact values
PLUS error-band booleans computed Spark-side; estimates that ARE
engine-reproducible (the md5-gate sample) are hash-checked exactly.

Reference parity: the reference has no aggregation surface at all (it is
a fixed-function CDC coprocessor — observer6/HbaseDataSyncEsObserver.java);
this module is north-star engine surface per SURVEY §2.3.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions import hashing as H
from ..functions.ranking import ranked_topk_per
from ..registry import register
from ..session import ensure_session_conf

# md5-gate threshold '1a' = 26/256 of the key space (~10.16%) — shared
# convention with operators/sampling.py so samples line up across ops.
# The inverse-fraction scale-up is written as (n * 256.0) / 26.0 with
# DOUBLE literals in BOTH dialects: Spark parses `26.0/256.0` as DECIMAL
# division (bounded scale, rounds) while DuckDB uses doubles — same-order
# IEEE double ops are the only bit-reproducible formulation.
_GATE = "1a"


@register(
    "sketch_battery",
    oracle="""
WITH per_type AS (
  SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users
  FROM events GROUP BY event_type
),
allrow AS (
  SELECT 'ALL' AS event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users
  FROM events
)
SELECT event_type, exact_users, true AS hll_within_5pct
FROM (SELECT * FROM per_type UNION ALL SELECT * FROM allrow)
""",
)
def sketch_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-user cardinality per event type via Apache DataSketches
    HLL (``hll_sketch_agg``), plus the cross-type union
    (``hll_union_agg``) as the 'ALL' row — the sketch *merge* path that
    makes HLL the 100 TB answer: per-partition sketches union
    associatively, so a global distinct over any slice combination never
    reshuffles raw keys.

    Checkable contract (sketch registers are engine-specific): exact
    distinct counts as values + a Spark-side |approx−exact|/exact ≤ 5%
    audit bit (lgConfigK=14 ⇒ ~0.8% rsd, deterministic on fixtures).
    """
    ensure_session_conf(spark)
    ev = load_table(spark, sf_dir, "events")

    sketches = ev.groupBy("event_type").agg(
        F.hll_sketch_agg(F.col("user_id"), 14).alias("sk")
    )
    approx_per = sketches.select(
        "event_type", F.hll_sketch_estimate("sk").alias("approx_users")
    )
    approx_all = sketches.agg(
        F.hll_sketch_estimate(F.hll_union_agg(F.col("sk"))).alias(
            "approx_users"
        )
    ).select(F.lit("ALL").alias("event_type"), "approx_users")

    exact_per = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    exact_all = ev.agg(F.countDistinct("user_id").alias("exact_users")).select(
        F.lit("ALL").alias("event_type"), "exact_users"
    )

    exact = exact_per.unionByName(exact_all)
    approx = approx_per.unionByName(approx_all)
    return exact.join(F.broadcast(approx), "event_type").select(
        "event_type",
        F.col("exact_users").cast("bigint").alias("exact_users"),
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            / F.col("exact_users")
            <= 0.05
        ).alias("hll_within_5pct"),
    )


@register(
    "agg_sketch_quantiles",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(MIN(value) AS DOUBLE) AS min_value,
       CAST(MAX(value) AS DOUBLE) AS max_value,
       true AS p50_within_band,
       true AS p95_within_band
FROM events
GROUP BY event_type
""",
)
def agg_sketch_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile *sketch* audit per event type: ``approx_percentile``
    (Greenwald-Khanna summary, mergeable bounded state) vs the exact
    percentile, asserted within 2% of the value range Spark-side.

    At 100 TB the exact percentile is a full sort per group; the GK
    summary is O(1/ε log εN) state per partition with map-side merge —
    the only viable shape. Exact min/max ride along as hash-checked
    values (raw data values, no float arithmetic).
    """
    ensure_session_conf(spark)
    ev = load_table(spark, sf_dir, "events")
    q = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.min("value").cast("double").alias("min_value"),
        F.max("value").cast("double").alias("max_value"),
        F.percentile_approx("value", 0.5, 1000).alias("ap50"),
        F.percentile_approx("value", 0.95, 1000).alias("ap95"),
        F.percentile("value", 0.5).alias("ep50"),
        F.percentile("value", 0.95).alias("ep95"),
    )
    spread = F.col("max_value") - F.col("min_value")
    within = lambda a, e: F.abs(F.col(a) - F.col(e)) <= 0.02 * spread  # noqa: E731
    return q.select(
        "event_type",
        "n_events",
        "min_value",
        "max_value",
        within("ap50", "ep50").alias("p50_within_band"),
        within("ap95", "ep95").alias("p95_within_band"),
    )


@register(
    "agg_approx_topk",
    oracle=f"""
WITH exact AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS exact_n
  FROM events GROUP BY event_type
),
sampled AS (
  SELECT event_type,
         CAST(COUNT(*) AS DOUBLE) * 256.0 / 26.0 AS est_n
  FROM events
  WHERE substr(md5('topk:' || CAST(event_id AS VARCHAR)), 1, 2) < '{_GATE}'
  GROUP BY event_type
)
SELECT e.event_type, e.exact_n, s.est_n
FROM exact e JOIN sampled s USING (event_type)
ORDER BY e.exact_n DESC, e.event_type
LIMIT 3
""",
)
def agg_approx_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters estimated from a deterministic ~10% md5-gate sample
    (scaled by the inverse sampling fraction), top-3 by exact count.

    Unlike HLL/GK sketches, the md5-gate estimator is bit-reproducible in
    ANY engine, so the driver hash-checks the *estimates themselves*, not
    just an error band. Scale shape: the sample is a map-side predicate
    (no RNG state, stable under task retries); the scan it feeds can be
    ~10× cheaper than the exact count while ranking the same top-k with
    high probability — the standard first pass of a skew/salting planner
    (operators/skew_agg.py uses the exact variant).
    """
    ensure_session_conf(spark)
    ev = load_table(spark, sf_dir, "events")
    exact = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("exact_n")
    )
    gate = F.substring(
        F.md5(F.concat(F.lit("topk:"), F.col("event_id").cast("string"))), 1, 2
    )
    sampled = (
        ev.filter(gate < _GATE)
        .groupBy("event_type")
        .agg(
            (
                F.count(F.lit(1)).cast("double") * F.lit(256.0) / F.lit(26.0)
            ).alias("est_n")
        )
    )
    return (
        exact.join(F.broadcast(sampled), "event_type")
        .orderBy(F.col("exact_n").desc(), "event_type")
        .limit(3)
    )


# Count-min sketch geometry: d hash rows × w counters. Hashes come from
# the shared md5-affine family (functions/hashing.py) so the sketch is
# bit-identical in any engine.
CMS_D = 4
CMS_W = 256
CMS_TOP = 10


def _sql_cms_col(j: int) -> str:
    return f"({H.sql_affine('code', j)}) % {CMS_W}"


@register(
    "sketch_countmin",
    oracle=f"""
WITH keyed AS (
  SELECT l_partkey AS k,
         {H.sql_token_code("CAST(l_partkey AS VARCHAR)")} AS code
  FROM lineitem
),
rows_j AS (
  SELECT k, code, j FROM keyed,
    (VALUES {", ".join(f"({j})" for j in range(CMS_D))}) t(j)
),
cells AS (
  SELECT j,
         CASE {" ".join(f"WHEN j = {j} THEN {_sql_cms_col(j)}" for j in range(CMS_D))} END AS col,
         COUNT(*) AS c
  FROM rows_j GROUP BY 1, 2
),
dk AS (SELECT k, code FROM keyed GROUP BY 1, 2),
dk_j AS (
  SELECT k, j,
         CASE {" ".join(f"WHEN j = {j} THEN {_sql_cms_col(j)}" for j in range(CMS_D))} END AS col
  FROM dk, (VALUES {", ".join(f"({j})" for j in range(CMS_D))}) t(j)
),
est AS (
  SELECT k, MIN(c) AS cms_est FROM dk_j JOIN cells USING (j, col) GROUP BY k
),
exact AS (SELECT l_partkey AS k, COUNT(*) AS exact_n FROM lineitem GROUP BY 1)
SELECT k AS partkey, exact_n, cms_est, cms_est - exact_n AS overestimate
FROM est JOIN exact USING (k)
ORDER BY cms_est DESC, partkey
LIMIT {CMS_TOP}
""",
)
def sketch_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over lineitem part keys (d=4 md5-affine rows ×
    w=256 counters), audited against exact counts: the top-10 keys by
    sketch estimate with their exact frequency and the CMS
    overestimation (always ≥ 0 — count-min never undercounts).

    Why this matters at 100 TB: the sketch state is d×w counters per
    partition (4 KB here) regardless of key cardinality, merged
    associatively — frequency estimates for EVERY key at a fixed memory
    budget, where an exact per-key count is a full shuffle of the
    distinct keys. The md5-affine hash family makes the sketch contents
    (not just the audit) engine-reproducible, which is what lets the
    DuckDB oracle replay the exact cells.

    Scale shape: cell build is one groupBy over a map-side ×d explode of
    integer structs (no strings shuffle — just (j, col) pairs); the
    estimate probe joins the DISTINCT key table against the d×w cell
    table (broadcast-sized by construction). Top-k compiles to
    TakeOrderedAndProject.
    """
    ensure_session_conf(spark)
    li = load_table(spark, sf_dir, "lineitem")
    keyed = li.select(
        F.col("l_partkey").alias("k"),
        H.token_code(F.col("l_partkey").cast("string")).alias("code"),
    )
    jcol = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(j).alias("j"),
                    (H.affine(F.col("code"), j) % CMS_W).alias("col"),
                )
                for j in range(CMS_D)
            ]
        )
    ).alias("jc")
    cells = (
        keyed.select(jcol)
        .select("jc.j", "jc.col")
        .groupBy("j", "col")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    dk_j = keyed.distinct().select(F.col("k"), jcol).select("k", "jc.j", "jc.col")
    est = (
        dk_j.join(F.broadcast(cells), ["j", "col"])
        .groupBy("k")
        .agg(F.min("c").alias("cms_est"))
    )
    exact = li.groupBy(F.col("l_partkey").alias("k")).agg(
        F.count(F.lit(1)).alias("exact_n")
    )
    return (
        est.join(exact, "k")
        .select(
            F.col("k").alias("partkey"),
            "exact_n",
            "cms_est",
            (F.col("cms_est") - F.col("exact_n")).alias("overestimate"),
        )
        .orderBy(F.col("cms_est").desc(), "partkey")
        .limit(CMS_TOP)
    )


# Bloom filter geometry: m bits, k md5-affine hash rows. Same portable
# hash family as the count-min sketch, so both engines build the exact
# same bit set.
BLOOM_M = 1024
BLOOM_K = 3


def _sql_bloom_pos(j: int) -> str:
    return f"({H.sql_affine('code', j)}) % {BLOOM_M}"


@register(
    "sketch_bloom_membership",
    oracle=f"""
WITH members AS (
  SELECT DISTINCT o_custkey AS k
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '1995-01-01'
    AND o_orderdate < TIMESTAMP '1995-02-01'
),
mcode AS (
  SELECT k, {H.sql_token_code("CAST(k AS VARCHAR)")} AS code FROM members
),
bits AS (
  SELECT DISTINCT pos FROM mcode,
    (VALUES {", ".join(f"({j})" for j in range(BLOOM_K))}) t(j),
    LATERAL (SELECT CASE {" ".join(f"WHEN j = {j} THEN {_sql_bloom_pos(j)}" for j in range(BLOOM_K))} END AS pos) p
),
probe AS (
  SELECT c_custkey AS k,
         {H.sql_token_code("CAST(c_custkey AS VARCHAR)")} AS code
  FROM customer
),
probe_hits AS (
  SELECT p.k, COUNT(b.pos) AS n_hit
  FROM probe p,
    (VALUES {", ".join(f"({j})" for j in range(BLOOM_K))}) t(j),
    LATERAL (SELECT CASE {" ".join(f"WHEN j = {j} THEN {_sql_bloom_pos(j)}" for j in range(BLOOM_K))} END AS pos) q
  LEFT JOIN bits b ON b.pos = q.pos
  GROUP BY p.k
)
SELECT ph.k AS custkey,
       ph.n_hit = {BLOOM_K} AS bloom_hit,
       m.k IS NOT NULL AS actually_present,
       (ph.n_hit = {BLOOM_K}) AND m.k IS NULL AS false_positive
FROM probe_hits ph LEFT JOIN members m ON ph.k = m.k
""",
)
def sketch_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership (m=1024 bits, k=3 md5-affine hashes) built
    over the January-1995 buyer set, probed with EVERY customer: per
    probe, the bloom answer, the exact membership, and the
    false-positive flag. The green oracle row certifies the defining
    guarantee — zero false NEGATIVES — and prices the false-positive
    rate (~fill_ratio^k) that a bloom-pruned join pays at 100 TB.

    Why it matters at scale: the bit set is ~128 bytes of broadcast
    state standing in for a 177-key semi-join; Spark's own runtime
    bloom pruning (asserted in tests/test_plans.py) uses exactly this
    trade, but an EXPLICIT engine-portable bloom lets a 100 TB pipeline
    persist the filter in the lakehouse and prune in OTHER engines too.

    Scale shape: member bit positions are a map-side explode + distinct
    over a dimension-scan; probes explode to k integer positions and
    LEFT-join the (≤ m row) bit table — broadcast by construction; the
    answer is one aggregate per probe key. Nothing fact-sized shuffles.
    """
    ensure_session_conf(spark)
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    members = (
        orders.filter(
            (F.col("o_orderdate") >= "1995-01-01")
            & (F.col("o_orderdate") < "1995-02-01")
        )
        .select(F.col("o_custkey").alias("k"))
        .distinct()
    )
    code = H.token_code(F.col("k").cast("string"))
    pos_arr = F.array(
        *[(H.affine(code, j) % BLOOM_M).alias(f"p{j}") for j in range(BLOOM_K)]
    )
    bits = (
        members.select(F.explode(pos_arr).alias("pos")).distinct()
    )
    probe = cust.select(F.col("c_custkey").alias("k")).select(
        "k", F.explode(pos_arr).alias("pos")
    )
    probe_hits = (
        probe.join(F.broadcast(bits.withColumn("hit", F.lit(1))), "pos", "left")
        .groupBy("k")
        .agg(F.count("hit").alias("n_hit"))
    )
    return (
        probe_hits.join(
            F.broadcast(members.withColumn("present", F.lit(True))), "k", "left"
        )
        .select(
            F.col("k").alias("custkey"),
            (F.col("n_hit") == BLOOM_K).alias("bloom_hit"),
            F.coalesce("present", F.lit(False)).alias("actually_present"),
            (
                (F.col("n_hit") == BLOOM_K)
                & ~F.coalesce("present", F.lit(False))
            ).alias("false_positive"),
        )
    )


HLL_PRECISIONS = (8, 12, 14)  # lgConfigK: 256B / 4KB / 16KB of state


@register(
    "sketch_hll_error_curve",
    oracle="\nUNION ALL\n".join(
        f"""
SELECT {lgk} AS lg_k,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       true AS within_band
FROM events"""
        for lgk in HLL_PRECISIONS
    ),
)
def sketch_hll_error_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL precision/cost curve: the distinct-user estimate at three
    sketch sizes (lgConfigK 8/12/14 ⇒ 256 B/4 KB/16 KB of register
    state), each audited against the exact count within 3× its
    theoretical relative standard deviation (1.04/√2^lgK) — the sizing
    table that picks a sketch budget for a 100 TB distinct-count: the
    256 B sketch is ~60× smaller than the 16 KB one and this curve
    shows exactly what accuracy that buys.

    Checkable contract mirrors sketch_battery: register contents are
    engine-specific, so exact counts are hash-checked as values and the
    estimate quality as a Spark-side audit boolean per precision.
    """
    ensure_session_conf(spark)
    ev = load_table(spark, sf_dir, "events")
    aggs = [F.countDistinct("user_id").cast("bigint").alias("exact_users")]
    for lgk in HLL_PRECISIONS:
        aggs.append(
            F.hll_sketch_estimate(
                F.hll_sketch_agg(F.col("user_id"), lgk)
            ).alias(f"est_{lgk}")
        )
    one = ev.agg(*aggs)
    parts = []
    for lgk in HLL_PRECISIONS:
        rsd = 1.04 / (2.0**lgk) ** 0.5
        parts.append(
            one.select(
                F.lit(lgk).alias("lg_k"),
                "exact_users",
                (
                    F.abs(F.col(f"est_{lgk}") - F.col("exact_users"))
                    / F.col("exact_users")
                    <= 3 * rsd
                ).alias("within_band"),
            )
        )
    out = parts[0]
    for df in parts[1:]:
        out = out.unionByName(df)
    return out


# --- HLL set-operation estimates (audience overlap) --------------------------


@register(
    "sketch_hll_audience_overlap",
    oracle="""
WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
pt AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM du GROUP BY 1),
ix AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(COUNT(*) AS BIGINT) AS exact_overlap
  FROM du a
  JOIN du b ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT i.type_a, i.type_b, i.exact_overlap,
       pa.n + pb.n - i.exact_overlap AS exact_union,
       i.exact_overlap * 1.0 / (pa.n + pb.n - i.exact_overlap) AS jaccard,
       true AS hll_within_10pct
FROM ix i
JOIN pt pa ON pa.event_type = i.type_a
JOIN pt pb ON pb.event_type = i.type_b
""",
)
def sketch_hll_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap between event types from HLL sketches alone —
    the set-OPERATION face of the sketch family: |A ∩ B| estimated by
    inclusion-exclusion (est|A| + est|B| − est|A ∪ B|, the union via the
    pairwise ``hll_union``), which is how sketch stores answer "how many
    users did both X and Y" without ever reshuffling raw ids. Completes
    the HLL surface: build/merge/estimate (sketch_battery) and the
    lgK error curve (sketch_hll_error_curve) covered cardinality; this
    covers the derived set algebra — and prices its known weakness
    (inclusion-exclusion error grows as the intersection shrinks
    relative to the union, which is why theta sketches exist upstream).

    Checkable contract (sketch registers are engine-specific, same
    doctrine as sketch_battery): exact overlap/union/Jaccard as values
    + a Spark-side |est − exact|/exact ≤ 10% audit bit per pair
    (lgK=14 ⇒ ~0.8% rsd per term; three terms compound).

    Scale shape: one sketch per (type) — 5 rows — then all pair algebra
    happens on broadcast-sized sketch rows; the exact side is one
    distinct (type, user) projection whose self-join is bounded by
    |types| × |users|, computed only to audit the estimate.
    """
    ensure_session_conf(spark)
    ev = load_table(spark, sf_dir, "events")
    du = ev.select("event_type", "user_id").distinct()
    pt = du.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    ix = (
        du.select(F.col("event_type").alias("type_a"), "user_id")
        .join(
            du.select(F.col("event_type").alias("type_b"), "user_id"),
            "user_id",
        )
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_overlap"))
    )
    sk = ev.groupBy("event_type").agg(
        F.hll_sketch_agg(F.col("user_id"), 14).alias("sk")
    )
    ska = sk.select(
        F.col("event_type").alias("type_a"),
        F.hll_sketch_estimate("sk").alias("est_a"),
        F.col("sk").alias("sk_a"),
    )
    skb = sk.select(
        F.col("event_type").alias("type_b"),
        F.hll_sketch_estimate("sk").alias("est_b"),
        F.col("sk").alias("sk_b"),
    )
    est_union = F.hll_sketch_estimate(F.hll_union(F.col("sk_a"), F.col("sk_b")))
    est_ix = F.col("est_a") + F.col("est_b") - est_union
    pa = pt.select(F.col("event_type").alias("type_a"), F.col("n").alias("na"))
    pb = pt.select(F.col("event_type").alias("type_b"), F.col("n").alias("nb"))
    return (
        ix.join(F.broadcast(pa), "type_a")
        .join(F.broadcast(pb), "type_b")
        .join(F.broadcast(ska), "type_a")
        .join(F.broadcast(skb), "type_b")
        .select(
            "type_a",
            "type_b",
            "exact_overlap",
            (F.col("na") + F.col("nb") - F.col("exact_overlap")).alias(
                "exact_union"
            ),
            (
                F.col("exact_overlap")
                / (F.col("na") + F.col("nb") - F.col("exact_overlap"))
            ).alias("jaccard"),
            (
                F.abs(est_ix - F.col("exact_overlap"))
                / F.col("exact_overlap")
                <= 0.10
            ).alias("hll_within_10pct"),
        )
    )


# --- theta (KMV) sketch set algebra -----------------------------------------

# KMV/theta sketch size: k smallest distinct md5-derived codes per set.
# RSE ~ 1/sqrt(k-1) ~ 6.3% for unions; intersections degrade with 1/Jaccard
# (why the exact audit columns ship alongside).
THETA_K = 256
_TWO32 = 4294967296.0  # codes are uniform in [0, 2^32); u = code / 2^32


@register(
    "sketch_theta_set_ops",
    oracle=f"""
WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
codes AS (
  SELECT DISTINCT event_type,
         {H.sql_token_code("CAST(user_id AS VARCHAR)")} AS code
  FROM du
),
ranked AS (
  SELECT event_type, code,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY code) AS rk,
         COUNT(*) OVER (PARTITION BY event_type) AS n_codes
  FROM codes
),
sk AS (SELECT event_type, code FROM ranked WHERE rk <= {THETA_K}),
theta AS (
  SELECT r.event_type,
         CASE WHEN MAX(r.n_codes) >= {THETA_K}
              THEN CAST(MAX(CASE WHEN r.rk <= {THETA_K} THEN r.code END)
                        AS DOUBLE) / {_TWO32!r}
              ELSE 1.0 END AS theta
  FROM ranked r GROUP BY r.event_type
),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CASE WHEN a.theta < b.theta THEN a.theta ELSE b.theta END AS th
  FROM theta a JOIN theta b ON a.event_type < b.event_type
),
mem AS (
  SELECT p.type_a, p.type_b, p.th, s.code,
         MAX(CASE WHEN s.event_type = p.type_a THEN 1 ELSE 0 END) AS in_a,
         MAX(CASE WHEN s.event_type = p.type_b THEN 1 ELSE 0 END) AS in_b
  FROM pairs p
  JOIN sk s ON s.event_type IN (p.type_a, p.type_b)
       AND CAST(s.code AS DOUBLE) / {_TWO32!r} < p.th
  GROUP BY p.type_a, p.type_b, p.th, s.code
),
est AS (
  SELECT type_a, type_b, th,
         CAST(COUNT(*) AS DOUBLE) / th AS est_union,
         CAST(SUM(in_a * in_b) AS DOUBLE) / th AS est_intersect,
         CAST(SUM(in_a * (1 - in_b)) AS DOUBLE) / th AS est_diff_ab
  FROM mem GROUP BY type_a, type_b, th
),
pt AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM du GROUP BY event_type
),
ix AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(COUNT(*) AS BIGINT) AS exact_overlap
  FROM du a JOIN du b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY a.event_type, b.event_type
)
SELECT i.type_a, i.type_b,
       pa.n + pb.n - i.exact_overlap AS exact_union,
       i.exact_overlap,
       pa.n - i.exact_overlap AS exact_diff_ab,
       e.th AS theta_min,
       e.est_union, e.est_intersect, e.est_diff_ab
FROM ix i
JOIN pt pa ON pa.event_type = i.type_a
JOIN pt pb ON pb.event_type = i.type_b
JOIN est e ON e.type_a = i.type_a AND e.type_b = i.type_b
""",
)
def sketch_theta_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta (KMV) sketch set algebra over per-event-type user sets:
    union, intersection, AND-NOT cardinality ESTIMATES for every type
    pair, alongside the exact values. A KMV sketch is the k smallest
    distinct hash codes of a set; set operations compose on the sketches
    alone — union = k smallest of the combined samples, and with
    theta = min(theta_a, theta_b) every retained code below theta is a
    uniform sample of the union, so intersection / difference counts
    below theta divided by theta estimate the true cardinalities
    (Dasgupta et al., "Theta sketch framework"). This is THE mergeable
    structure for distinct-count set algebra at 100 TB: per-partition
    sketches are a few KB, merge associatively (min-k is order-free),
    and — unlike HLL — support intersection/difference natively.

    Deterministic, hence hash-checked EXACTLY (unlike the HLL battery's
    band audits): codes come from the shared md5 family
    (functions/hashing.py), min-k is partitioning-independent, and every
    estimate is one integer count divided by one exact double theta.

    Scale shape: the sketch side is a per-type top-k over codes (a
    256-row heap per partition, merged); pair algebra runs on broadcast
    sketch rows only. The exact side (distinct self-join) exists purely
    as the audit and is the thing the sketch REPLACES at scale.
    """
    ensure_session_conf(spark)
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    # One distinct pass feeds FIVE consumers (codes, per-type counts, and
    # both sides of the exact self-join); cut the lineage once so the
    # events scan happens exactly once — at 100 TB this materialized
    # distinct is precisely the table a theta-sketch build replaces the
    # self-join with.
    du = ev.select("event_type", "user_id").distinct().localCheckpoint()
    codes = du.select(
        "event_type",
        H.token_code(F.col("user_id").cast("string")).alias("code"),
    ).distinct()
    # each type's THETA_K smallest codes, with its distinct-code count
    sk_n = ranked_topk_per(
        codes.withColumn(
            "n_codes", F.count(F.lit(1)).over(Window.partitionBy("event_type"))
        ),
        ["event_type"], ["code"], THETA_K,
    )
    sk = sk_n.select("event_type", "code")
    theta = sk_n.groupBy("event_type").agg(
        F.when(
            F.max("n_codes") >= THETA_K,
            F.max("code").cast("double") / F.lit(_TWO32),
        )
        .otherwise(F.lit(1.0))
        .alias("theta")
    )
    ta = theta.select(
        F.col("event_type").alias("type_a"), F.col("theta").alias("th_a")
    )
    tb = theta.select(
        F.col("event_type").alias("type_b"), F.col("theta").alias("th_b")
    )
    pairs = (
        ta.join(tb, F.col("type_a") < F.col("type_b"))
        .select(
            "type_a",
            "type_b",
            F.when(F.col("th_a") < F.col("th_b"), F.col("th_a"))
            .otherwise(F.col("th_b"))
            .alias("th"),
        )
    )
    sa = (
        pairs.join(
            F.broadcast(
                sk.select(F.col("event_type").alias("type_a"), "code")
            ),
            "type_a",
        )
        .filter(F.col("code").cast("double") / F.lit(_TWO32) < F.col("th"))
        .select(
            "type_a", "type_b", "th", "code",
            F.lit(1).alias("in_a"), F.lit(0).alias("in_b"),
        )
    )
    sb = (
        pairs.join(
            F.broadcast(
                sk.select(F.col("event_type").alias("type_b"), "code")
            ),
            "type_b",
        )
        .filter(F.col("code").cast("double") / F.lit(_TWO32) < F.col("th"))
        .select(
            "type_a", "type_b", "th", "code",
            F.lit(0).alias("in_a"), F.lit(1).alias("in_b"),
        )
    )
    mem = (
        sa.unionByName(sb)
        .groupBy("type_a", "type_b", "th", "code")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    est = mem.groupBy("type_a", "type_b", "th").agg(
        (F.count(F.lit(1)).cast("double") / F.col("th")).alias("est_union"),
        (
            F.sum(F.col("in_a") * F.col("in_b")).cast("double") / F.col("th")
        ).alias("est_intersect"),
        (
            F.sum(F.col("in_a") * (F.lit(1) - F.col("in_b"))).cast("double")
            / F.col("th")
        ).alias("est_diff_ab"),
    )
    pt = du.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    ix = (
        du.select(F.col("event_type").alias("type_a"), "user_id")
        .join(
            du.select(F.col("event_type").alias("type_b"), "user_id"),
            "user_id",
        )
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_overlap"))
    )
    pa = pt.select(F.col("event_type").alias("type_a"), F.col("n").alias("na"))
    pb = pt.select(F.col("event_type").alias("type_b"), F.col("n").alias("nb"))
    return (
        ix.join(F.broadcast(pa), "type_a")
        .join(F.broadcast(pb), "type_b")
        .join(F.broadcast(est), ["type_a", "type_b"])
        .select(
            "type_a",
            "type_b",
            (F.col("na") + F.col("nb") - F.col("exact_overlap")).alias(
                "exact_union"
            ),
            "exact_overlap",
            (F.col("na") - F.col("exact_overlap")).alias("exact_diff_ab"),
            F.col("th").alias("theta_min"),
            "est_union",
            "est_intersect",
            "est_diff_ab",
        )
    )
