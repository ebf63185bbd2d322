"""Similarity search over embedding columns [NORTH-STAR].

Brute-force cosine top-k (oracle-checked baseline) plus the scale paths:
nearest-neighbor within a coarse partition (IVF-cell shape) and an
IVF probe variant with computed centroids.

Scale design (100 TB of vectors):
- the broadcast side is always the small query set; candidates stream
  partition-parallel with no shuffle until the final per-query top-k
  (TakeOrderedAndProject-shaped window over ≤ |queries|×k rows);
- the IVF variant prunes candidates to the best cells by centroid
  similarity — candidate volume drops by ~n_cells× for the cost of a tiny
  centroid table (computed once, broadcast);
- cosine is JVM-side higher-order-function math (functions/vectors.py);
  the deterministic sequential fold makes results oracle-comparable.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table, spread
from ..functions import hashing as H
from ..functions.ranking import ranked_topk, ranked_topk_per
from ..functions.vectors import (
    cosine, dot, norm, sq_dist, sql_cosine, sql_dot, sql_sq_dist,
)
from ..memos import Memo
from ..registry import register
from ..session import ensure_session_conf

TOPK = 10
N_QUERIES = 5  # vec_id < 5 are the query vectors in fixture queries
N_PROBES = 3

# Shared DuckDB CTE fragments (compose with "WITH {_SQL_E_Q}, {_SQL_BF} ...").
# The IVF centroids use exact decimal sums so the per-cell means are
# bit-identical across engines — that is what upgrades the IVF path from
# rows-only to hash-checked.
_SQL_E_Q = f"""
e AS (SELECT vec_id, label, embedding FROM embeddings),
q AS (SELECT vec_id AS query_id, embedding AS qv FROM e WHERE vec_id < {N_QUERIES})
"""

_SQL_BF = f"""
bf_scored AS (
  SELECT q.query_id,
         e.vec_id AS neighbor_id,
         {sql_cosine('q.qv', 'e.embedding')} AS cos_sim
  FROM q JOIN e ON e.vec_id <> q.query_id
),
bf AS (
  SELECT query_id, neighbor_id, cos_sim, rk
  FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cos_sim DESC, neighbor_id) AS rk
    FROM bf_scored
  ) t
  WHERE rk <= {TOPK}
)
"""

_SQL_IVF = f"""
ex AS (
  SELECT label, unnest(embedding) AS x,
         generate_subscripts(embedding, 1) AS pos
  FROM e
),
cm AS (
  -- FLOAT must go through DOUBLE before DECIMAL: DuckDB's direct
  -- FLOAT->DECIMAL cast scales in float32 arithmetic (loses digits),
  -- whereas Spark rounds the exact value; DOUBLE->DECIMAL matches Spark.
  SELECT label AS cell, pos,
         CAST(SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE)
           / COUNT(*) AS m
  FROM ex GROUP BY label, pos
),
cent AS (
  SELECT cell, list(CAST(m AS FLOAT) ORDER BY pos) AS cv FROM cm GROUP BY cell
),
probes AS (
  SELECT query_id, cell
  FROM (
    SELECT q.query_id, c.cell,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
                              ORDER BY {sql_cosine('q.qv', 'c.cv')} DESC, c.cell)
             AS pr
    FROM q CROSS JOIN cent c
  ) t
  WHERE pr <= {N_PROBES}
),
ivf_scored AS (
  SELECT p.query_id, e.vec_id AS neighbor_id,
         {sql_cosine('q.qv', 'e.embedding')} AS cos_sim
  FROM probes p
  JOIN q ON q.query_id = p.query_id
  JOIN e ON e.label = p.cell AND e.vec_id <> p.query_id
),
ivf AS (
  SELECT query_id, neighbor_id, cos_sim, rk
  FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cos_sim DESC, neighbor_id) AS rk
    FROM ivf_scored
  ) t
  WHERE rk <= {TOPK}
)
"""


# Memo of the shared ANN artifacts, keyed by kind: top-k result tables
# (the brute-force baseline feeds three recall audits; each ANN top-k
# feeds its own audit), the PQ codes, the coarse codebook and the
# SemDeDup assignment. Each is built once per (app, sf_dir) and reused
# by every consumer. At 100 TB these are persisted tables (and one
# model artifact), with every audit reading them rather than re-running
# the search.
_TOPK = Memo("similarity_topk")


@register(
    "similarity_topk_bruteforce",
    oracle=f"""
WITH {_SQL_E_Q}, {_SQL_BF}
SELECT query_id, neighbor_id, cos_sim, rk FROM bf
""",
)
def similarity_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: broadcast queries × scan candidates.

    The exact baseline every ANN variant is measured against. One pass
    over the candidate set, no shuffle until the final tiny top-k window.
    Memoized per (application, sf_dir) — three recall audits consume it.
    """
    ensure_session_conf(spark)
    return _TOPK.get(
        spark,
        sf_dir,
        lambda: _bruteforce_topk(spark, sf_dir).localCheckpoint(),
        "bf",
    )


def _bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings").withColumn(
        "nrm", norm(F.col("embedding"))
    )  # candidate norm once per vector, not once per (query, candidate) pair
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(spread(e))  # scoring runs on the candidate partitions
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (dot(F.col("qv"), F.col("embedding")) / (F.col("qn") * F.col("nrm")))
            .alias("cos_sim"),
        )
    )
    return ranked_topk_per(
        scored, ["query_id"], [F.col("cos_sim").desc(), F.col("neighbor_id")],
        TOPK, rk_cast="bigint",
    )


@register(
    "similarity_nn_same_label",
    oracle=f"""
WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
scored AS (
  SELECT a.vec_id,
         a.label,
         b.vec_id AS nn_id,
         {sql_cosine('a.embedding', 'b.embedding')} AS cos_sim
  FROM e a JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id
)
SELECT vec_id, label, nn_id, cos_sim
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                               ORDER BY cos_sim DESC, nn_id) AS rk
  FROM scored
) t
WHERE rk = 1
""",
)
def similarity_nn_same_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup: each vector's nearest neighbor within its
    coarse cell (label = cluster id, FIXTURES.md).

    The blocked all-pairs shape: candidates restricted to the same cell
    (label equi-join) — the IVF-cell analog of LSH candidate banding; cost
    is Σ cell² instead of n².
    """
    ensure_session_conf(spark)
    e = load_table(spark, sf_dir, "embeddings")
    # norms once per vector before the pair join (same doubles, ~3× fewer
    # HOF folds per pair than per-pair cosine())
    en = e.withColumn("nrm", norm(F.col("embedding")))
    # probe side spread across cores: pair scoring then runs map-side on
    # every partition (the build side is small enough that Catalyst
    # broadcasts it here; at scale it becomes a label-co-partitioned join
    # with the same code)
    a = spread(en).select("vec_id", "label", F.col("embedding").alias("va"),
                          F.col("nrm").alias("na"))
    b = en.select(F.col("vec_id").alias("nn_id"), "label",
                  F.col("embedding").alias("vb"), F.col("nrm").alias("nb"))
    scored = (
        a.join(b, "label")
        .filter(F.col("vec_id") != F.col("nn_id"))
        .select(
            "vec_id",
            "label",
            "nn_id",
            (dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))).alias(
                "cos_sim"
            ),
        )
    )
    return ranked_topk_per(
        scored, ["vec_id"], [F.col("cos_sim").desc(), F.col("nn_id")], 1,
        rk_col=None,
    )


def kmeans_fit(
    e: DataFrame, k: int = 8, iters: int = 3, train: DataFrame | None = None
) -> DataFrame:
    """Lloyd's k-means over ARRAY<FLOAT> embeddings in pure DataFrame ops.

    The IVF coarse-quantizer trainer. Per iteration: assignment is a
    map-side broadcast-crossJoin + argmin over k tiny centroids (no
    shuffle of the vectors), update is one (cluster, dim) aggregation.
    The centroid table stays distributed between iterations (k rows,
    localCheckpoint'd) — nothing ever round-trips to the driver, so the
    same code runs at 100 TB with k in the thousands.

    Deterministic: seeded from the first k vec_ids, distance is the
    sequential-fold HOF (functions/vectors.py), centroid means use exact
    decimal sums, and the argmin tiebreak is (dist, cluster_id).
    """
    # centroids are MODEL state, but they never round-trip to the driver
    # between iterations: each Lloyd step broadcast-joins the k-row
    # centroid table (nested into one array<struct<cid, cv>> row) against
    # the vectors and assigns with the same lexicographic array_min over
    # (d2, cid) structs the literal-centroid version used — bit-identical
    # argmin, but the per-iteration cost is one localCheckpoint of k rows
    # instead of a collect plus re-compiling a k×dim literal expression
    # tree (the dominant wall cost at small SF: k=8 centroids × 64
    # literal floats each made every action ~1.3 s of codegen). The
    # vectors themselves still never shuffle — assignment stays map-side
    # behind a broadcast; update is one (cluster, dim) partial+final agg.
    cent = e.filter(F.col("vec_id") < k).select(
        F.col("vec_id").cast("int").alias("cluster_id"),
        F.col("embedding").alias("cv"),
    )
    # Lloyd iterations run over `train` when given (the FAISS-style
    # sample-trained quantizer — _coarse_cents passes the md5-gated
    # subset); seeding always comes from the full input above so the
    # init centroids don't depend on the gate.
    e = spread(train if train is not None else e)

    for _ in range(iters):
        nested = cent.groupBy().agg(
            F.collect_list(
                F.struct(F.col("cluster_id").alias("cid"), "cv")
            ).alias("cents")
        )
        assigned = e.crossJoin(F.broadcast(nested)).select(
            "embedding",
            F.array_min(
                F.transform(
                    "cents",
                    lambda c: F.struct(
                        sq_dist(F.col("embedding"), c["cv"]).alias("d2"),
                        c["cid"].alias("cid"),
                    ),
                )
            )
            .getField("cid")
            .alias("cluster_id"),
        )
        cent = (
            assigned.select(
                "cluster_id", F.posexplode("embedding").alias("pos", "x")
            )
            .groupBy("cluster_id", "pos")
            .agg(
                (
                    F.sum(F.col("x").cast("decimal(28,12)")).cast("double")
                    / F.count(F.lit(1))
                ).alias("m")
            )
            .groupBy("cluster_id")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select(
                "cluster_id",
                F.transform("pm", lambda s: s.m.cast("float")).alias("cv"),
            )
            .localCheckpoint()  # k rows: keeps the next iteration's plan shallow
        )
    return cent


KMEANS_K = 8
KMEANS_ITERS = 2

# Codebook granularity scales with corpus size — k = max(KMEANS_K, ⌈√n⌉),
# the FAISS nlist ∝ √n practice. Both simpler laws fail, as measured:
# - fixed k: SemDeDup's within-cell pair stage is quadratic in n
#   (SCALE_r8: 108.8x pair mass / 16.3x wall at 10x data);
# - k = ⌈n/250⌉: holds cell size constant, so the PAIR stage is
#   linear — but the ASSIGNMENT stage (every vector × every centroid) is
#   then O(n²/250): the 100x spot measured IVF-PQ at 479 s, 12.9x over
#   its decade-1 fit.
# k = ⌈√n⌉ balances the two: assignment O(n·k) = O(n^1.5) and pair mass
# O(n²/k) = O(n^1.5) — the minimum of their sum, and one decade of
# corpus growth now costs ~31.6x on both stages instead of 100x on one.
# At 100 TB the codebook is a persisted index artifact (trained on a
# sample, assignment via a pre-partitioned broadcast scan), so n^1.5 on
# the build is paid once per corpus snapshot, not per query.
# SEMDEDUP_CELL survives only as the legacy name for the expected cell
# mass at the crossover scale (n = 62.5k, where ⌈√n⌉ = ⌈n/250⌉).
SEMDEDUP_CELL = 250


def _derived_k(n: int) -> int:
    """Corpus-derived codebook size: ⌈√n⌉ (FAISS nlist ∝ √n), floored at
    KMEANS_K. Python side uses exact integer isqrt; the oracle twin uses
    CEIL(SQRT(n)) on DOUBLE, which agrees exactly for n < 2^45 (perfect
    squares take the exact branch; non-squares are > ulp away from the
    next integer at that magnitude) — fixture corpora are ≤ 2e5."""
    return max(KMEANS_K, math.isqrt(max(n - 1, 0)) + 1)


# FAISS trains the coarse quantizer on a SAMPLE (the recommended band is
# ~39-256 training points per centroid); training on the full corpus
# makes each Lloyd iteration an O(n·k) pass — measured as half the
# IVF-PQ 100x wall (97 of ~200 s, r11 decomposition). The gate keeps
# min(n, TRAIN_PER_CENTROID·k) vectors via an md5 threshold (uniform,
# deterministic, engine-identical), and is INACTIVE at every fixture SF
# (n <= cap there), so fixture oracle results are unchanged; the
# rehearsal decades (20k/200k vectors) exercise it.
KMEANS_TRAIN_PER_CENTROID = 64


# Shared oracle CTE triple: derived k (CEIL(SQRT(count)) — mirrors
# _derived_k, see its docstring for the exactness envelope), the seeded
# init centroids, and the md5-gated training sample `et` the Lloyd
# iterations run on (threshold = floor(2^32·cap/n) as an 8-hex-digit
# string compare — LEAST caps it below 2^32 so the string stays 8 chars;
# the `n <= cap` disjunct disables the gate outright at fixture scale).
# Every codebook-consuming oracle starts its Lloyd chain here.
_SQL_C0 = (
    f"kk AS (SELECT GREATEST({KMEANS_K}, CAST(CEIL(SQRT(CAST(COUNT(*)"
    f" AS DOUBLE))) AS BIGINT)) AS k,\n"
    "              CAST(COUNT(*) AS BIGINT) AS n FROM e),\n"
    "c0 AS (SELECT CAST(vec_id AS INT) AS cid, embedding AS cv\n"
    "       FROM e, kk WHERE e.vec_id < kk.k),\n"
    "et AS (SELECT e.vec_id, e.embedding FROM e, kk\n"
    f"       WHERE kk.n <= {KMEANS_TRAIN_PER_CENTROID} * kk.k\n"
    "          OR substr(md5('kms:' || CAST(e.vec_id AS VARCHAR)), 1, 8)\n"
    f"             < printf('%08x', LEAST((4294967296 *"
    f" {KMEANS_TRAIN_PER_CENTROID} * kk.k) // kk.n, 4294967295)))"
)


def _coarse_cents(
    spark: SparkSession, sf_dir: str
) -> list[tuple[int, list[float]]]:
    """Coarse-quantizer centroids (k = _derived_k(n) ∝ corpus size,
    KMEANS_ITERS Lloyd iterations), trained once per (app, sf_dir) and
    shared by similarity_ivf_kmeans, the IVF-PQ composite, and the
    SemDeDup family — at 100 TB the coarse codebook is a persisted model
    artifact read by every search (trained on an md5-gated sample), not
    retrained per query. kmeans_fit itself stays distributed (its
    Lloyd iterations localCheckpoint k-row DataFrames, no driver
    round-trip); this memo is the one place the trained k-row codebook
    is collected — once per (app, sf_dir) — so all consumers can share
    it as a broadcast-sized literal. The one driver action added by the
    k derivation is a COUNT(*) per memo build, amortized identically."""

    def build() -> list[tuple[int, list[float]]]:
        e = load_table(spark, sf_dir, "embeddings")
        n = e.count()
        k = _derived_k(n)
        cap = KMEANS_TRAIN_PER_CENTROID * k
        train = None
        if n > cap:
            # md5-gated uniform training sample (~cap vectors), the
            # exact twin of the oracle's `et` CTE. Inactive at every
            # fixture SF (n <= cap there).
            thr = format(min((2**32 * cap) // n, 2**32 - 1), "08x")
            train = e.filter(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("kms:"), F.col("vec_id").cast("string")
                        )
                    ),
                    1,
                    8,
                )
                < thr
            )
        return sorted(
            (int(r["cluster_id"]), list(r["cv"]))
            for r in kmeans_fit(
                e, k=k, iters=KMEANS_ITERS, train=train
            ).collect()
        )

    return _TOPK.get(spark, sf_dir, build, "coarse_cents")


def _sql_lloyd_iter(prev_cent: str, idx: int) -> str:
    """One unrolled Lloyd iteration as DuckDB CTEs: assignment = argmin of
    the sequential-fold squared distance over the previous centroids
    (tiebreak cid, same as Spark's array_min over (d2, cid) structs),
    update = per-(cid, pos) exact decimal mean cast to FLOAT — mirroring
    kmeans_fit bit for bit."""
    return f"""
a{idx} AS (
  -- training iterations run on the md5-gated sample `et` (FAISS
  -- sample-trained quantizer); downstream ASSIGNMENT CTEs still run
  -- the final centroids over the full corpus `e`.
  SELECT vec_id, embedding, cid FROM (
    SELECT e.vec_id, e.embedding, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY {sql_sq_dist('e.embedding', 'c.cv')}, c.cid) AS rn
    FROM et e CROSS JOIN {prev_cent} c
  ) t WHERE rn = 1
),
m{idx} AS (
  -- CAST(x AS DOUBLE) first: DuckDB's FLOAT->DECIMAL scales in float32
  -- (drops digits); DOUBLE->DECIMAL rounds the exact value like Spark.
  SELECT cid, pos,
         CAST(CAST(SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE)
              / COUNT(*) AS FLOAT) AS m
  FROM (SELECT cid, unnest(embedding) AS x,
               generate_subscripts(embedding, 1) AS pos
        FROM a{idx}) u
  GROUP BY cid, pos
),
c{idx} AS (SELECT cid, list(m ORDER BY pos) AS cv FROM m{idx} GROUP BY cid)
"""


_SQL_KMEANS = (
    f"""
WITH e AS (SELECT vec_id, embedding FROM embeddings),
{_SQL_C0},
"""
    + ",".join(
        _sql_lloyd_iter(f"c{i - 1}", i) for i in range(1, KMEANS_ITERS + 1)
    )
    + f""",
fin AS (
  SELECT vec_id, cid, cos_sim FROM (
    SELECT vec_id, cid, cos_sim,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY cos_sim DESC, cid) AS rn
    FROM (SELECT e.vec_id, c.cid,
                 {sql_cosine('e.embedding', 'c.cv')} AS cos_sim
          FROM e CROSS JOIN c{KMEANS_ITERS} c) s
  ) t WHERE rn = 1
)
SELECT cid AS cluster_id,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(SUM(CAST(cos_sim AS DECIMAL(28,12))) AS DOUBLE) AS sum_best_sim
FROM fin GROUP BY cid
"""
)


@register("similarity_ivf_kmeans", oracle=_SQL_KMEANS)
def similarity_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with *trained* centroids: 2 Lloyd iterations, then cell
    assignment sizes + exact decimal sum of each member's best
    cosine-to-centroid.

    Hash-checked against a fully unrolled DuckDB restatement
    (_SQL_KMEANS): each Lloyd iteration is two CTEs — assignment is an
    argmin over the k=8 previous centroids using the identical
    sequential-fold squared distance (sql_sq_dist), update is the exact
    DECIMAL(28,12) per-(cluster, dim) mean cast to FLOAT — so centroids,
    assignments, and the final aggregate are bit-identical across engines.
    The iterative trainer therefore needs no rows-only exemption.
    """
    ensure_session_conf(spark)
    e = load_table(spark, sf_dir, "embeddings")
    # 2 Lloyd iterations: per-iteration wall cost is dominated by plan
    # compile (data-size independent); at 100 TB you would run to
    # convergence on a sample and only assign the full corpus once.
    # The trained codebook is memoized and shared with the IVF-PQ
    # composite (_ivfpq_pool) — one training run per corpus snapshot.
    cent = spark.createDataFrame(
        _coarse_cents(spark, sf_dir), "cluster_id int, cv array<float>"
    )
    sim = cosine(F.col("embedding"), F.col("cv"))
    assigned = (
        spread(e)
        .crossJoin(F.broadcast(cent))
        .select("vec_id", "cluster_id", sim.alias("c_sim"))
        .groupBy("vec_id")
        .agg(
            F.max_by("cluster_id", F.struct("c_sim", F.col("cluster_id") * -1)).alias(
                "cluster_id"
            ),
            F.max("c_sim").alias("best_sim"),
        )
    )
    return assigned.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum(F.col("best_sim").cast("decimal(28,12)"))
        .cast("double")
        .alias("sum_best_sim"),
    )


@register(
    "similarity_topk_ivf",
    oracle=f"""
WITH {_SQL_E_Q}, {_SQL_IVF}
SELECT query_id, neighbor_id, cos_sim, rk FROM ivf
""",
)
def similarity_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN top-k: probe the 3 nearest cells by centroid, search
    only their members. Approximate vs the brute-force baseline (recall <
    1 is the accepted tradeoff) but fully deterministic — centroid means
    use exact decimal sums, so the whole probe+search pipeline is
    hash-checked against the DuckDB restatement.

    Plan: centroids = one tiny agg (n_cells × dim), broadcast both the
    query set and the probe map; candidate scan shrinks ~n_cells/probes×.
    At 100 TB the cells would be a partition column so probe pruning
    becomes partition pruning at the scan.
    """
    ensure_session_conf(spark)
    e = load_table(spark, sf_dir, "embeddings")

    # centroids per cell: element-wise mean via posexplode + re-assemble;
    # decimal sum ⇒ order-independent, identical to the oracle's
    cent = (
        e.select("label", F.posexplode("embedding").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(
            (
                F.sum(F.col("x").cast("decimal(28,12)")).cast("double")
                / F.count(F.lit(1))
            ).alias("m")
        )
        .groupBy("label")
        .agg(
            F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm")
        )
        .select(
            F.col("label").alias("cell"),
            F.transform("pm", lambda s: s.m.cast("float")).alias("cv"),
        )
    )

    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        norm(F.col("embedding")).alias("qn"),  # query norm hoisted out of the scan
    )
    # probe selection: 3 best cells per query by centroid cosine
    probes = ranked_topk_per(
        F.broadcast(q)
        .crossJoin(F.broadcast(cent))
        .select(
            "query_id", "qv", "qn", "cell",
            cosine(F.col("qv"), F.col("cv")).alias("c_sim"),
        ),
        ["query_id"], [F.col("c_sim").desc(), F.col("cell")], N_PROBES,
    ).select("query_id", "qv", "qn", "cell")

    cands = spread(e).withColumn("nrm", norm(F.col("embedding")))
    scored = (
        cands.join(F.broadcast(probes), cands.label == probes.cell)
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (dot(F.col("qv"), F.col("embedding")) / (F.col("qn") * F.col("nrm")))
            .alias("cos_sim"),
        )
    )
    return ranked_topk_per(
        scored, ["query_id"], [F.col("cos_sim").desc(), F.col("neighbor_id")],
        TOPK, rk_cast="bigint",
    )


def _recall(truth: DataFrame, ann: DataFrame) -> DataFrame:
    """(query_id, n_matched, recall): per query of the ground-truth
    top-k ``truth``, how many of its (query_id, neighbor_id) rows the
    approximate top-k ``ann`` also returned, and that count over TOPK."""
    hits = (
        truth.join(ann, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    n = F.coalesce(F.col("n"), F.lit(0))
    return (
        truth.select("query_id")
        .distinct()
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            n.cast("bigint").alias("n_matched"),
            (n.cast("double") / F.lit(TOPK)).alias("recall"),
        )
    )


@register(
    "similarity_recall_ivf",
    oracle=f"""
WITH {_SQL_E_Q}, {_SQL_BF}, {_SQL_IVF}
SELECT b.query_id,
       CAST(COALESCE(h.n, 0) AS BIGINT) AS n_matched,
       CAST(COALESCE(h.n, 0) AS DOUBLE) / {TOPK} AS recall
FROM (SELECT DISTINCT query_id FROM bf) b
LEFT JOIN (
  SELECT bf.query_id, COUNT(*) AS n
  FROM bf JOIN ivf USING (query_id, neighbor_id)
  GROUP BY 1
) h USING (query_id)
""",
)
def similarity_recall_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality measurement: per-query recall@k of the IVF probe search
    against the exact brute-force top-k — the metric that makes the
    approximate path's quality checkable (VERDICT r1 item 5).

    Both sides are deterministic DataFrame pipelines, so recall itself is
    deterministic and hash-checked against the full DuckDB restatement of
    both searches. At 100 TB this query runs on a sampled query set — the
    standard recall-audit sidecar next to a production ANN index.
    """
    ensure_session_conf(spark)
    bf = similarity_topk_bruteforce(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    ivf = similarity_topk_ivf(spark, sf_dir).select("query_id", "neighbor_id")
    return _recall(bf, ivf)


# int8-style scalar quantization: code = floor(x * 64). Multiplying a
# float by a power of two and flooring are both EXACT in double math, so
# the codes — and the integer code dot products — are bit-free integers
# both engines agree on with no decimal machinery at all.
_SQL_INT8 = f"""
codes AS (
  SELECT vec_id, label,
         list_transform(embedding,
                        x -> CAST(floor(CAST(x AS DOUBLE) * 64) AS BIGINT)) AS code
  FROM e
),
qc AS (SELECT vec_id AS query_id, code AS qcode FROM codes WHERE vec_id < {N_QUERIES}),
i8_scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         CAST(list_reduce(list_transform(list_zip(q.qcode, c.code),
                                         p -> p[1] * p[2]),
                          (x, y) -> x + y) AS BIGINT) AS iscore
  FROM qc q JOIN codes c ON c.vec_id <> q.query_id
),
i8 AS (
  SELECT query_id, neighbor_id, iscore, rk
  FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY iscore DESC, neighbor_id) AS rk
    FROM i8_scored
  ) t
  WHERE rk <= {TOPK}
)
"""


def _int8_codes(col: F.Column) -> F.Column:
    return F.transform(
        col, lambda x: F.floor(x.cast("double") * F.lit(64)).cast("long")
    )


def _int8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _int8_codes(F.col("embedding")).alias("code")
    )
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("code").alias("qcode")
    )
    prods = F.zip_with(F.col("qcode"), F.col("code"), lambda a, b: a * b)
    iscore = F.aggregate(
        prods, F.lit(0).cast("long"), lambda acc, v: acc + v
    )
    scored = (
        F.broadcast(q)
        .crossJoin(spread(e))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            iscore.alias("iscore"),
        )
    )
    return ranked_topk_per(
        scored, ["query_id"], [F.col("iscore").desc(), F.col("neighbor_id")],
        TOPK, rk_cast="bigint",
    )


@register(
    "similarity_topk_int8",
    oracle=f"""
WITH {_SQL_E_Q}, {_SQL_INT8}
SELECT query_id, neighbor_id, iscore, rk FROM i8
""",
)
def similarity_topk_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantized (int8-style) top-k: score candidates by the dot
    product of floor(x*64) integer codes instead of float vectors.

    THE memory/IO scale path for embedding search: 4× smaller vectors
    (int8 vs float32) means 4× less scan IO and cache footprint at 100 TB,
    at a small recall cost that similarity_recall_int8 measures against
    the exact baseline. Integer arithmetic end-to-end — exact, portable,
    and SIMD-friendly; the plan is the same broadcast-queries ×
    streamed-candidates scan as the float baseline.
    """
    ensure_session_conf(spark)
    return _int8_topk(spark, sf_dir)


@register(
    "similarity_recall_int8",
    oracle=f"""
WITH {_SQL_E_Q}, {_SQL_BF}, {_SQL_INT8}
SELECT b.query_id,
       CAST(COUNT(i.neighbor_id) AS BIGINT) AS n_hits,
       CAST(COUNT(i.neighbor_id) AS DOUBLE) / {TOPK} AS recall_at_{TOPK}
FROM bf b
LEFT JOIN i8 i ON i.query_id = b.query_id AND i.neighbor_id = b.neighbor_id
GROUP BY b.query_id
""",
)
def similarity_recall_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the int8-quantized top-k against the exact float
    brute-force top-k, per query — the quantization-quality audit that
    decides whether the 4× compression is shippable. Same sampled-query
    sidecar pattern as similarity_recall_ivf."""
    ensure_session_conf(spark)
    exact = similarity_topk_bruteforce(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    approx = _int8_topk(spark, sf_dir).select(
        F.col("query_id").alias("q2"), F.col("neighbor_id").alias("n2")
    )
    j = exact.join(
        approx,
        (F.col("query_id") == F.col("q2")) & (F.col("neighbor_id") == F.col("n2")),
        "left",
    )
    return j.groupBy("query_id").agg(
        F.count("n2").alias("n_hits"),
        (F.count("n2").cast("double") / F.lit(float(TOPK))).alias(
            f"recall_at_{TOPK}"
        ),
    )


@register(
    "similarity_pair_dot_stats",
    oracle=f"""
WITH ex AS (
  SELECT label, unnest(embedding) AS x,
         generate_subscripts(embedding, 1) AS pos
  FROM embeddings
),
svec AS (
  -- FLOAT -> DOUBLE -> DECIMAL (DuckDB's direct FLOAT->DECIMAL scales in
  -- float32; DOUBLE->DECIMAL rounds the exact value like Spark)
  SELECT label, pos,
         CAST(SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE) AS s
  FROM ex GROUP BY label, pos
),
svsq AS (
  -- s*s can reach ~6e4; DECIMAL scale 6 keeps the x10^scale shift inside
  -- the double mantissa (exact in both engines), unlike scale 12 which
  -- overflows 2^53 and rounds differently per engine
  SELECT label,
         CAST(SUM(CAST(s * s AS DECIMAL(28,6))) AS DOUBLE) AS sumvec_sq
  FROM svec GROUP BY label
),
nrm AS (
  SELECT label,
         CAST(COUNT(*) AS BIGINT) AS n_vecs,
         CAST(SUM(CAST({sql_dot('embedding', 'embedding')}
                        AS DECIMAL(28,12))) AS DOUBLE) AS sum_sq_norms
  FROM embeddings GROUP BY label
)
SELECT n.label,
       n.n_vecs,
       (v.sumvec_sq - n.sum_sq_norms) / 2.0 AS sum_pair_dot,
       ((v.sumvec_sq - n.sum_sq_norms) / 2.0)
         / (CAST(n.n_vecs AS DOUBLE) * CAST(n.n_vecs - 1 AS DOUBLE) / 2.0)
         AS mean_pair_dot
FROM nrm n JOIN svsq v USING (label)
""",
)
def similarity_pair_dot_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean pairwise dot product within each label block — the embedding
    cluster-tightness diagnostic — WITHOUT enumerating pairs:
    Σ_{{i<j}} vᵢ·vⱼ = (‖Σᵢvᵢ‖² − Σᵢ‖vᵢ‖²) / 2.

    The identity is the whole scale story: the naive formulation is an
    O(n²) self-join per label (10¹⁰ pairs for a 10⁵-vector label); this
    is two LINEAR aggregations — component sums via posexplode keyed on
    (label, pos), squared norms keyed on label — then O(labels × dim)
    driver-free arithmetic. Float determinism follows the IVF k-means
    discipline: every multi-row float sum goes through DECIMAL(28,12)
    (exact, order-independent), and the remaining per-row double ops are
    written in the same order in both dialects.
    """
    ensure_session_conf(spark)
    e = spread(load_table(spark, sf_dir, "embeddings"), "vec_id")
    ex = e.select("label", F.posexplode("embedding").alias("pos", "x"))
    svec = ex.groupBy("label", "pos").agg(
        F.sum(F.col("x").cast("decimal(28,12)")).cast("double").alias("s")
    )
    svsq = svec.groupBy("label").agg(
        # scale 6, not 12: see the oracle comment — keeps the decimal
        # quantization of the ~1e4-magnitude squares engine-exact
        F.sum((F.col("s") * F.col("s")).cast("decimal(28,6)"))
        .cast("double")
        .alias("sumvec_sq")
    )
    nrm = e.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.sum(
            dot(F.col("embedding"), F.col("embedding")).cast("decimal(28,12)")
        )
        .cast("double")
        .alias("sum_sq_norms"),
    )
    sum_pair = (F.col("sumvec_sq") - F.col("sum_sq_norms")) / 2.0
    n_pairs = (
        F.col("n_vecs").cast("double")
        * (F.col("n_vecs") - 1).cast("double")
        / 2.0
    )
    return nrm.join(svsq, "label").select(
        "label",
        "n_vecs",
        sum_pair.alias("sum_pair_dot"),
        (sum_pair / n_pairs).alias("mean_pair_dot"),
    )


# --- Random-hyperplane (sign-projection) LSH for cosine ---------------------
# 16 signature bits from integer-weight hyperplanes derived from md5 (fully
# engine-portable, like the MinHash affine family), banded 4×4 for candidate
# generation. The embedding-side complement of the text MinHash LSH.

RHP_BITS = 16
RHP_ROWS = 4  # bits per band

# w(p, d) = (md5-code('rhp:p:d') % 2001) - 1000 — integer weights in
# [-1000, 1000]; the projection Σ x_d·w_pd runs in EXACT decimal×int
# arithmetic, so the sign (the signature bit) is deterministic in any
# engine. d is 1-based to line up with DuckDB's generate_subscripts.
_SQL_RHP = f"""
hp AS (
  SELECT p, d,
         (CAST(CONCAT('0x', substr(md5('rhp:' || CAST(p AS VARCHAR) || ':' ||
                                       CAST(d AS VARCHAR)), 1, 8)) AS BIGINT)
          % 2001) - 1000 AS w
  FROM range({RHP_BITS}) t1(p), range(1, 65) t2(d)
),
exu AS (
  SELECT vec_id, unnest(embedding) AS x,
         generate_subscripts(embedding, 1) AS d
  FROM embeddings
),
proj AS (
  SELECT e.vec_id, h.p,
         SUM(CAST(CAST(e.x AS DOUBLE) AS DECIMAL(18,10)) * h.w) AS s
  FROM exu e JOIN hp h ON e.d = h.d
  GROUP BY e.vec_id, h.p
),
sigbits AS (
  SELECT vec_id, p, CASE WHEN s > 0 THEN 1 ELSE 0 END AS bit
  FROM proj
),
rbands AS (
  -- p // n, not CAST(p/n AS INT): DuckDB / is true division and the
  -- cast ROUNDS (6/4 -> 2), while Spark's int cast truncates
  SELECT vec_id, CAST(p // {RHP_ROWS} AS INTEGER) AS band,
         CAST(SUM(bit * (1 << (p % {RHP_ROWS}))) AS BIGINT) AS band_val
  FROM sigbits GROUP BY vec_id, CAST(p // {RHP_ROWS} AS INTEGER)
),
rcand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM rbands q JOIN rbands c
    ON q.band = c.band AND q.band_val = c.band_val AND q.vec_id <> c.vec_id
  WHERE q.vec_id < {N_QUERIES}
)
"""

# The RHP top-k over `rcand` (exact cosine re-rank, then the per-query
# window), as the rank-fusion oracles read it.
_SQL_RHP_TOP = f"""rhp_scored AS (
  SELECT r.query_id, r.neighbor_id,
         {sql_cosine('qe.embedding', 'ce.embedding')} AS cos_sim
  FROM rcand r
  JOIN embeddings qe ON qe.vec_id = r.query_id
  JOIN embeddings ce ON ce.vec_id = r.neighbor_id
),
rhp_top AS (
  SELECT query_id, neighbor_id, rk FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cos_sim DESC, neighbor_id) AS rk
    FROM rhp_scored
  ) t WHERE rk <= {TOPK}
)"""


@register(
    "similarity_topk_rhp",
    oracle=f"""
WITH {_SQL_RHP.strip().lstrip()},
scored AS (
  SELECT r.query_id, r.neighbor_id,
         {sql_cosine('qe.embedding', 'ce.embedding')} AS cos_sim
  FROM rcand r
  JOIN embeddings qe ON qe.vec_id = r.query_id
  JOIN embeddings ce ON ce.vec_id = r.neighbor_id
)
SELECT query_id, neighbor_id, cos_sim, rk
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id) AS rk
  FROM scored
) t
WHERE rk <= {TOPK}
""",
)
def similarity_topk_rhp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k via random-hyperplane (sign-projection) LSH: 16 signature
    bits from md5-derived integer hyperplanes, banded 4×4; candidates =
    vectors sharing any band with the query; exact cosine re-rank on
    candidates only.

    Scale design: the hyperplane table is 16×64 integers — broadcast
    everywhere; signatures are one posexplode + a (vec, band) aggregation
    (linear, no pairwise work); candidate generation is a band-bucket
    EQUI-join whose fan-out follows bucket occupancy (≈ n/2^bits·bands per
    query), and the exact-cosine re-rank touches candidates only. This is
    the cosine-metric twin of dedup_minhash_lsh — same banding algebra,
    hyperplane signs instead of minhashes. Exact decimal×int projections
    make the bits (and therefore the candidate set) engine-reproducible —
    what upgrades this from rows-only to hash-checked.
    """
    ensure_session_conf(spark)
    return _TOPK.get(
        spark,
        sf_dir,
        lambda: _rhp_topk(spark, sf_dir).localCheckpoint(),
        "rhp",
    )


def _rhp_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = _rhp_scored(spark, sf_dir)
    return ranked_topk_per(
        scored, ["query_id"], [F.col("cos_sim").desc(), "neighbor_id"], TOPK,
        rk_cast="bigint",
    )


def _rhp_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, neighbor_id, cos_sim): exact cosine over the RHP
    band-bucket candidate set — shared by the top-k query and the
    radius (range) search. Memoized per (app, sf_dir) like the top-k
    result tables, so the signature/band/cosine pipeline runs once and
    the second consumer reads the checkpointed scored table."""
    return _TOPK.get(
        spark,
        sf_dir,
        lambda: _rhp_scored_build(spark, sf_dir).localCheckpoint(),
        "rhp_scored",
    )


def _rhp_scored_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = spread(load_table(spark, sf_dir, "embeddings"), "vec_id")

    hp = (
        spark.range(RHP_BITS)
        .select(F.col("id").cast("int").alias("p"))
        .select("p", F.explode(F.sequence(F.lit(1), F.lit(64))).alias("d"))
        .select(
            "p",
            "d",
            (
                H.token_code(
                    F.concat(
                        F.lit("rhp:"),
                        F.col("p").cast("string"),
                        F.lit(":"),
                        F.col("d").cast("string"),
                    )
                )
                % 2001
                - 1000
            ).alias("w"),
        )
    )
    # Shuffle fewer bytes: exploding every vector to (vec, dim) rows and
    # joining the per-dim hyperplane weights would push 128 k exploded
    # rows × 16 planes = 2 M rows through a hash aggregate.
    # The hyperplane table is 16×64 ints; nest it into ONE broadcast row
    # and compute every projection MAP-SIDE with a zip_with/aggregate
    # fold per plane over the same decimal(18,10)·int products. Only the
    # sign of each sum is consumed (see the fold below), so the sign bits
    # — and every downstream candidate set and cosine — match the SUM
    # form. One narrow explode of (vec, p, s) remains for the band
    # aggregation below.
    hp_nested = (
        hp.groupBy("p")
        .agg(F.array_sort(F.collect_list(F.struct("d", "w"))).alias("dw"))
        .select("p", F.transform("dw", lambda s: s["w"]).alias("ws"))
        .groupBy()
        .agg(F.array_sort(F.collect_list(F.struct("p", "ws"))).alias("planes"))
    )
    proj = (
        e.crossJoin(F.broadcast(hp_nested))
        .select(
            "vec_id",
            F.explode(
                F.transform(
                    "planes",
                    lambda pl: F.struct(
                        pl["p"].alias("p"),
                        # products are decimal(38,9), but Spark types
                        # decimal(38,9) + decimal(38,9) as decimal(38,8),
                        # so each fold step rounds the partial to 8
                        # places: the sum is NOT bit-identical to SUM.
                        # Only its sign is used, and the 64-dim fold rounds
                        # it by at most 64 * 0.5e-8 = 3.2e-7, so a bit can
                        # differ from SUM's only for a projection within
                        # 3.2e-7 of zero.
                        F.aggregate(
                            F.zip_with(
                                "embedding",
                                pl["ws"],
                                lambda x, w: x.cast("decimal(18,10)") * w,
                            ),
                            F.lit(0).cast("decimal(38,9)"),
                            lambda acc, v: (acc + v).cast("decimal(38,9)"),
                        ).alias("s"),
                    ),
                )
            ).alias("ps"),
        )
        .select("vec_id", F.col("ps.p").alias("p"), F.col("ps.s").alias("s"))
    )
    bits = proj.select(
        "vec_id",
        "p",
        F.when(F.col("s") > 0, F.lit(1)).otherwise(F.lit(0)).alias("bit"),
    )
    rbands = bits.groupBy(
        "vec_id", (F.col("p") / RHP_ROWS).cast("int").alias("band")
    ).agg(
        F.sum(
            F.col("bit") * F.expr(f"shiftleft(1, CAST(p % {RHP_ROWS} AS INT))")
        )
        .cast("bigint")
        .alias("band_val")
    )
    q = rbands.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "band", "band_val"
    )
    cand = (
        q.join(rbands.withColumnRenamed("vec_id", "neighbor_id"),
               ["band", "band_val"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    qe = e.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
    ce = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")
    )
    return (
        cand.join(F.broadcast(qe), "query_id")
        .join(ce, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("qv"), F.col("cv")).alias("cos_sim"),
        )
    )


@register(
    "similarity_recall_rhp",
    oracle=f"""
WITH {_SQL_E_Q.strip().lstrip()},
{_SQL_BF.strip().lstrip()},
{_SQL_RHP.strip().lstrip().replace("hp AS", "hp AS", 1)},
scored AS (
  SELECT r.query_id, r.neighbor_id,
         {sql_cosine('qe.embedding', 'ce.embedding')} AS cos_sim
  FROM rcand r
  JOIN embeddings qe ON qe.vec_id = r.query_id
  JOIN embeddings ce ON ce.vec_id = r.neighbor_id
),
rhp_topk AS (
  SELECT query_id, neighbor_id
  FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cos_sim DESC, neighbor_id) AS rk
    FROM scored
  ) t
  WHERE rk <= {TOPK}
)
SELECT b.query_id,
       CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_hit,
       CAST(COUNT(a.neighbor_id) AS BIGINT) * 1.0 / {TOPK} AS recall_at_k
FROM bf b
LEFT JOIN rhp_topk a
  ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id
GROUP BY b.query_id
""",
)
def similarity_recall_rhp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the RHP-LSH ANN against exact brute force per query —
    the quality audit that must accompany any ANN index choice (same
    contract as similarity_recall_ivf / similarity_recall_int8)."""
    ensure_session_conf(spark)
    ann = similarity_topk_rhp(spark, sf_dir).select("query_id", "neighbor_id")
    bf = similarity_topk_bruteforce(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    hit = ann.withColumn("hit", F.lit(1))
    joined = bf.join(hit, ["query_id", "neighbor_id"], "left")
    return joined.groupBy("query_id").agg(
        F.count("hit").cast("bigint").alias("n_hit"),
        (F.count("hit").cast("bigint") * F.lit(1.0) / TOPK).alias(
            "recall_at_k"
        ),
    )


# --- Product quantization (PQ) ANN: 64-dim vectors split into M=4
# subspaces of 16 dims; each subspace gets its own K=4-centroid codebook
# (init = first K subvectors, one Lloyd refinement — kmeans_fit reused
# per subspace). A vector is stored as M tiny codes; query-time scoring
# is Asymmetric Distance Computation: precompute the query↔centroid
# partial distances (an M×K lookup table per query), then each
# candidate's approx distance is a 4-way sum of table lookups — no float
# vector is touched at scan time. At 100 TB: the codes table is
# 64 B → 4 B per vector (16× scan-IO cut, deeper than int8's 4×), the
# ADC tables broadcast at a few KB per query batch, and scoring is one
# broadcast-join + sum — the FAISS IVFPQ scan shape on DataFrames.
PQ_M = 4
PQ_SUBDIM = 16
PQ_K = 4


def _sql_pq_subspace(s: int) -> str:
    """CTE chain for one PQ subspace: slice → init codebook → one Lloyd
    refinement (assign with the sequential-fold sq-dist, exact decimal
    mean, FLOAT cast) → final codes + per-query ADC partials."""
    lo, hi = s * PQ_SUBDIM + 1, (s + 1) * PQ_SUBDIM
    return f"""
sub{s} AS (SELECT vec_id, embedding[{lo}:{hi}] AS sv FROM e),
cs{s}0 AS (SELECT CAST(vec_id AS INT) AS cid, sv AS cv
           FROM sub{s} WHERE vec_id < {PQ_K}),
as{s} AS (
  SELECT vec_id, sv, cid FROM (
    SELECT u.vec_id, u.sv, c.cid,
           ROW_NUMBER() OVER (PARTITION BY u.vec_id
                              ORDER BY {sql_sq_dist('u.sv', 'c.cv')}, c.cid)
             AS rn
    FROM sub{s} u CROSS JOIN cs{s}0 c
  ) t WHERE rn = 1
),
ms{s} AS (
  SELECT cid, pos,
         CAST(CAST(SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE)
              / COUNT(*) AS FLOAT) AS m
  FROM (SELECT cid, unnest(sv) AS x, generate_subscripts(sv, 1) AS pos
        FROM as{s}) u
  GROUP BY cid, pos
),
cs{s}1 AS (SELECT cid, list(m ORDER BY pos) AS cv FROM ms{s} GROUP BY cid),
code{s} AS (
  SELECT vec_id, cid FROM (
    SELECT u.vec_id, c.cid,
           ROW_NUMBER() OVER (PARTITION BY u.vec_id
                              ORDER BY {sql_sq_dist('u.sv', 'c.cv')}, c.cid)
             AS rn
    FROM sub{s} u CROSS JOIN cs{s}1 c
  ) t WHERE rn = 1
),
qd{s} AS (
  SELECT u.vec_id AS query_id, c.cid,
         {sql_sq_dist('u.sv', 'c.cv')} AS qd
  FROM sub{s} u CROSS JOIN cs{s}1 c
  WHERE u.vec_id < {N_QUERIES}
)"""


_SQL_PQ = (
    "WITH e AS (SELECT vec_id, embedding FROM embeddings),"
    + ",".join(_sql_pq_subspace(s) for s in range(PQ_M))
    + f""",
adc_terms AS (
  {" UNION ALL ".join(
      f"SELECT q.query_id, k.vec_id, q.qd FROM code{s} k "
      f"JOIN qd{s} q ON q.cid = k.cid"
      for s in range(PQ_M)
  )}
),
adc AS (
  SELECT query_id, vec_id AS neighbor_id,
         SUM(CAST(qd AS DECIMAL(28,12))) AS dist
  FROM adc_terms
  WHERE vec_id <> query_id
  GROUP BY 1, 2
),
pq AS (
  SELECT query_id, neighbor_id, dist, rk FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY dist, neighbor_id) AS rk
    FROM adc
  ) t WHERE rk <= {TOPK}
)
"""
)


def _pq_codes_and_qd(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """((vec_id, s, cid) codes, (query_id, s, cid, qd) ADC partials).

    All PQ_M subspaces train in ONE logical plan with zero driver
    collects. The per-subspace kmeans_fit loop this replaces spent ~9 s
    at sf0.1 on pure action latency + expression compile (8 sequential
    collect() round-trips to fetch 4×16-float codebooks from a tiny
    table). Here the subspace slices posexplode into (vec_id, s, sv)
    rows in one scan; the init and refined codebooks stay distributed,
    nested per-s (array<struct<cid, cv>>) and broadcast-joined 1:1 on
    ``s``; assignment is the same array_min over (d2, cid) structs as
    kmeans_fit.assign — map-side, the vectors never shuffle, so the
    100 TB shape is unchanged (the only shuffle is the (s, cid, pos)
    mean update, which has map-side partials). Semantics stay
    bit-identical to the unrolled per-subspace oracle (_SQL_PQ): same
    init (first PQ_K subvectors), same sequential-fold squared
    distance, same exact-decimal means cast to FLOAT.
    """
    e = load_table(spark, sf_dir, "embeddings")
    # The exploded per-subspace table is read by four downstream branches
    # (init codebook, Lloyd assignment, final encode, query partials);
    # pinning it once holds exactly the corpus float payload (M slices of
    # dim/M dims each = the original vectors, re-grouped) — the standard
    # per-subspace columnar materialization every PQ index build writes.
    sub_all = (
        spread(e)
        .select(
            "vec_id",
            F.posexplode(
                F.array(
                    *[
                        F.slice("embedding", s * PQ_SUBDIM + 1, PQ_SUBDIM)
                        for s in range(PQ_M)
                    ]
                )
            ).alias("s", "sv"),
        )
        .localCheckpoint()
    )

    def argmin_cid(cents_col) -> F.Column:
        # identical tiebreak to kmeans_fit.assign: lexicographic
        # array_min over (d2, cid) structs
        return F.array_min(
            F.transform(
                cents_col,
                lambda c: F.struct(
                    sq_dist(F.col("sv"), c["cv"]).alias("d2"),
                    c["cid"].alias("cid"),
                ),
            )
        ).getField("cid")

    def nest(cent: DataFrame) -> DataFrame:
        return cent.groupBy("s").agg(
            F.collect_list(F.struct("cid", "cv")).alias("cents")
        )

    cs0 = sub_all.filter(F.col("vec_id") < PQ_K).select(
        "s",
        F.col("vec_id").cast("int").alias("cid"),
        F.col("sv").alias("cv"),
    )
    assigned = (
        sub_all.join(F.broadcast(nest(cs0)), "s")
        .select("s", argmin_cid(F.col("cents")).alias("cid"), "sv")
    )
    # Pin the refined codebook (M×K rows) so the encode/query plans below
    # reference a 16-row leaf instead of re-optimizing the whole training
    # subtree per action — Catalyst analysis of the nested HOF argmin is
    # the dominant cost at small SF, and at scale this is exactly the
    # "train once, persist the codebook" boundary.
    cs1 = (
        assigned.select("s", "cid", F.posexplode("sv").alias("pos", "x"))
        .groupBy("s", "cid", "pos")
        .agg(
            (
                F.sum(F.col("x").cast("decimal(28,12)")).cast("double")
                / F.count(F.lit(1))
            ).alias("m")
        )
        .groupBy("s", "cid")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select(
            "s",
            "cid",
            F.transform("pm", lambda p: p["m"].cast("float")).alias("cv"),
        )
        .localCheckpoint()
    )
    codes = sub_all.join(F.broadcast(nest(cs1)), "s").select(
        "vec_id", "s", argmin_cid(F.col("cents")).alias("cid")
    )
    qd = (
        sub_all.filter(F.col("vec_id") < N_QUERIES)
        .join(F.broadcast(cs1), "s")
        .select(
            F.col("vec_id").alias("query_id"),
            "s",
            "cid",
            sq_dist(F.col("sv"), F.col("cv")).alias("qd"),
        )
    )
    return codes, qd


def _pq_codes_qd_memo(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """PQ codebook artifacts memoized per (app, sf_dir): the per-subspace
    Lloyd training + encoding is the expensive stage of the PQ family,
    and both the flat PQ top-k and the IVF-PQ composite read the SAME
    codes/ADC-partials tables — at 100 TB these are persisted index
    tables built once per corpus snapshot."""

    def build() -> tuple[DataFrame, DataFrame]:
        codes, qd = _pq_codes_and_qd(spark, sf_dir)
        return codes.localCheckpoint(), qd.localCheckpoint()

    return _TOPK.get(spark, sf_dir, build, "pq_codes_qd")


def _pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    codes, qd = _pq_codes_qd_memo(spark, sf_dir)
    adc = (
        codes.join(F.broadcast(qd), ["s", "cid"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum(F.col("qd").cast("decimal(28,12)")).alias("dist"))
    )
    return ranked_topk_per(adc, ["query_id"], ["dist", "neighbor_id"], TOPK)


@register(
    "similarity_topk_pq",
    oracle=f"""
{_SQL_PQ}
SELECT query_id, neighbor_id, CAST(dist AS DOUBLE) AS adc_dist, rk
FROM pq
""",
)
def similarity_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN top-10 by Asymmetric Distance Computation
    — the 4th ANN family next to IVF / int8-SQ / RHP-LSH, and the one
    with the deepest scan-IO reduction (M=4 2-bit-ish codes per vector
    instead of 64 floats).

    Fully hash-checked: codebook training (per-subspace Lloyd), encoding,
    and ADC all restate in DuckDB bit-for-bit — the sequential-fold
    sq-dist and exact decimal means are the same machinery that made the
    IVF trainer oracle-checkable; the ADC sum goes through DECIMAL so
    the 4-term addition is order-free.
    """
    ensure_session_conf(spark)
    return _TOPK.get(
        spark,
        sf_dir,
        lambda: _pq_topk(spark, sf_dir).localCheckpoint(),
        "pq",
    ).select(
        "query_id",
        "neighbor_id",
        F.col("dist").cast("double").alias("adc_dist"),
        "rk",
    )


# `exact`: the squared-L2 top-k ground truth over `e`, the SQL twin of
# _exact_sq_topk shared by the PQ and IVF-PQ recall audits.
_SQL_EXACT_SQ = f"""exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY {sql_sq_dist('q.embedding', 'v.embedding')}, v.vec_id)
             AS rk
    FROM e q JOIN e v ON v.vec_id <> q.vec_id
    WHERE q.vec_id < {N_QUERIES}
  ) t WHERE rk <= {TOPK}
)"""


@register(
    "similarity_recall_pq",
    oracle=f"""
{_SQL_PQ},
{_SQL_EXACT_SQ}
SELECT b.query_id,
       CAST(COALESCE(h.n, 0) AS BIGINT) AS n_matched,
       CAST(COALESCE(h.n, 0) AS DOUBLE) / {TOPK} AS recall
FROM (SELECT DISTINCT query_id FROM exact) b
LEFT JOIN (
  SELECT e2.query_id, COUNT(*) AS n
  FROM exact e2 JOIN pq USING (query_id, neighbor_id)
  GROUP BY 1
) h USING (query_id)
""",
)
def similarity_recall_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the PQ/ADC search against the EXACT squared-L2 top-10
    (metric-matched: PQ approximates L2, so the audit baseline is L2,
    not the cosine baseline the other recall audits use).

    The exact side streams candidates against the broadcast query set
    with the deterministic fold — same shape as the brute-force cosine
    baseline; at scale it runs over a query SAMPLE as the audit sidecar.
    """
    ensure_session_conf(spark)
    ann = similarity_topk_pq(spark, sf_dir).select("query_id", "neighbor_id")
    return _recall(_exact_sq_topk(spark, sf_dir), ann)


@register(
    "embedding_power_iteration",
    oracle="""
WITH ex AS (
  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
         generate_subscripts(embedding, 1) AS pos
  FROM embeddings
),
d1 AS (
  SELECT vec_id,
         CAST(SUM(CAST(x * 0.125 AS DECIMAL(28,12))) AS DOUBLE) AS d
  FROM ex GROUP BY vec_id
),
u1 AS (
  SELECT pos,
         CAST(SUM(CAST(ex.x * d1.d AS DECIMAL(28,12))) AS DOUBLE) AS u
  FROM ex JOIN d1 USING (vec_id) GROUP BY pos
),
n1 AS (
  SELECT sqrt(CAST(SUM(CAST(u * u AS DECIMAL(28,6))) AS DOUBLE)) AS nrm
  FROM u1
),
v1 AS (SELECT pos, u / (SELECT nrm FROM n1) AS v FROM u1),
d2 AS (
  SELECT vec_id,
         CAST(SUM(CAST(ex.x * v1.v AS DECIMAL(28,12))) AS DOUBLE) AS d
  FROM ex JOIN v1 USING (pos) GROUP BY vec_id
),
u2 AS (
  SELECT pos,
         CAST(SUM(CAST(ex.x * d2.d AS DECIMAL(28,12))) AS DOUBLE) AS u
  FROM ex JOIN d2 USING (vec_id) GROUP BY pos
),
n2 AS (
  SELECT sqrt(CAST(SUM(CAST(u * u AS DECIMAL(28,6))) AS DOUBLE)) AS nrm
  FROM u2
)
SELECT CAST(pos AS BIGINT) AS pos,
       u / (SELECT nrm FROM n2) AS loading,
       (SELECT nrm FROM n2) AS lambda_est
FROM u2
""",
)
def embedding_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant principal direction of the embedding second-moment
    matrix via TWO unrolled power-iteration steps (v0 = 1/8 · 1⃗, an
    exact binary constant for dim 64): per dimension the loading of the
    top eigenvector plus the eigenvalue estimate ‖A·v₁‖ — the embedding
    drift/anisotropy audit (a collapsing embedding space shows one
    dimension swallowing the spectrum) that normally needs a PCA
    library.

    The scale story is matrix-free: A = XᵀX is NEVER formed — each step
    is A·v = Xᵀ(X·v), two linear passes (a per-row dot, then a
    component-weighted sum), exactly like the Σ-vector identity of
    similarity_pair_dot_stats. Per-step cost is O(nnz(X)) with
    dim-sized shuffle keys; the v vector is a 64-row broadcast.

    Determinism: every cross-row sum runs through DECIMAL(28,12)
    (order-independent, engine-exact); the remaining per-element ops
    (multiply, sqrt, divide) are single correctly-rounded IEEE ops
    written in the same order in both dialects — the IVF k-means
    discipline (similarity.py:210) applied to an iterative spectral
    method.
    """
    ensure_session_conf(spark)
    e = spread(load_table(spark, sf_dir, "embeddings"), "vec_id")
    ex = e.select(
        "vec_id", F.posexplode("embedding").alias("pos0", "xf")
    ).select(
        "vec_id",
        (F.col("pos0") + 1).alias("pos"),
        F.col("xf").cast("double").alias("x"),
    )
    ex = ex.localCheckpoint()  # feeds four consumers across two steps

    def step(v_df):  # v_df: (pos, v) broadcast-sized
        d = (
            ex.join(F.broadcast(v_df), "pos")
            .groupBy("vec_id")
            .agg(
                F.sum((F.col("x") * F.col("v")).cast("decimal(28,12)"))
                .cast("double")
                .alias("d")
            )
        )
        u = (
            ex.join(d, "vec_id")
            .groupBy("pos")
            .agg(
                F.sum((F.col("x") * F.col("d")).cast("decimal(28,12)"))
                .cast("double")
                .alias("u")
            )
        )
        nrm = u.agg(
            F.sqrt(
                F.sum((F.col("u") * F.col("u")).cast("decimal(28,6)")).cast(
                    "double"
                )
            ).alias("nrm")
        )
        return u, nrm

    v0 = ex.select("pos").distinct().select("pos", F.lit(0.125).alias("v"))
    u1, n1 = step(v0)
    v1 = u1.crossJoin(F.broadcast(n1)).select(
        "pos", (F.col("u") / F.col("nrm")).alias("v")
    )
    u2, n2 = step(v1)
    return u2.crossJoin(F.broadcast(n2)).select(
        F.col("pos").cast("bigint").alias("pos"),
        (F.col("u") / F.col("nrm")).alias("loading"),
        F.col("nrm").alias("lambda_est"),
    )


RANGE_T = 0.2  # radius threshold ~= p90 of RHP candidate cosines at sf0.01


@register(
    "similarity_range_search_rhp",
    oracle=f"""
WITH {_SQL_RHP.strip().lstrip()},
scored AS (
  SELECT r.query_id, r.neighbor_id,
         {sql_cosine('qe.embedding', 'ce.embedding')} AS cos_sim
  FROM rcand r
  JOIN embeddings qe ON qe.vec_id = r.query_id
  JOIN embeddings ce ON ce.vec_id = r.neighbor_id
),
hits AS (SELECT * FROM scored WHERE cos_sim >= {RANGE_T})
SELECT query_id,
       CAST(COUNT(*) AS BIGINT) AS n_in_range,
       MAX(cos_sim) AS best_cos,
       MIN(cos_sim) AS worst_cos
FROM hits
GROUP BY query_id
""",
)
def similarity_range_search_rhp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius (range) similarity search: ALL neighbors with cosine >=
    RANGE_T per query, found over the RHP band-bucket candidate set —
    the fixed-radius twin of similarity_topk_rhp (dedup and retrieval
    pipelines need "everything closer than t", not "the 10 closest":
    near-dup kill lists, semantic caching, and safety filtering are all
    radius queries).

    Scale shape: identical to the top-k path (shared `_rhp_scored`
    candidate subtree — broadcast hyperplane table, linear signature
    pass, band-bucket equi-join, exact cosine only on candidates); the
    difference is pure post-processing: a threshold filter + per-query
    aggregate instead of a window top-k, so no per-query sort at all.
    MAX/MIN over identical doubles are order-insensitive — hash-exact
    across engines without any float-sum discipline.
    """
    ensure_session_conf(spark)
    hits = _rhp_scored(spark, sf_dir).filter(F.col("cos_sim") >= RANGE_T)
    return hits.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_in_range"),
        F.max("cos_sim").alias("best_cos"),
        F.min("cos_sim").alias("worst_cos"),
    )


@register(
    "embeddings_dim_stats",
    oracle="""
WITH exu AS (
  SELECT vec_id, unnest(embedding) AS x,
         generate_subscripts(embedding, 1) AS d
  FROM embeddings
)
SELECT CAST(d AS BIGINT) AS d,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(18,6))) AS DOUBLE)
         / COUNT(*) AS mean_x,
       MIN(CAST(x AS DOUBLE)) AS min_x,
       MAX(CAST(x AS DOUBLE)) AS max_x,
       CAST(COUNT(DISTINCT x) AS BIGINT) AS n_distinct
FROM exu
GROUP BY d
""",
)
def embeddings_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding QA profile — the pre-flight check every
    vector pipeline runs before building an index: mean (drift off
    zero-center breaks cosine pruning bounds), min/max (saturated or
    clipped dims), and distinct-value count (a near-constant "dead"
    dimension carries no signal but still costs index space; dead dims
    are the first thing PQ codebook training trips over).

    Determinism: means use the decimal-cast sum discipline
    (functions/deterministic.py) with an explicit float→double→decimal
    chain mirrored in the oracle; MIN/MAX over identical doubles and
    COUNT(DISTINCT) over raw float32 values are order-insensitive and
    engine-exact by construction.

    Scale shape: one posexplode (map-side, `spread` for core
    parallelism) → one groupBy(d) with map-side partial aggregation
    into |dims| groups — output is 64 rows regardless of corpus size;
    at 100 TB this is a single linear pass that pre-aggregates to
    nothing, the cheapest audit in the vector family.
    """
    ensure_session_conf(spark)
    e = spread(load_table(spark, sf_dir, "embeddings"), "vec_id")
    exu = e.select(
        "vec_id", F.posexplode("embedding").alias("pos", "x")
    ).select((F.col("pos") + 1).cast("bigint").alias("d"), "x")
    xd = F.col("x").cast("double")
    return exu.groupBy("d").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        (
            F.sum(xd.cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mean_x"),
        F.min(xd).alias("min_x"),
        F.max(xd).alias("max_x"),
        F.countDistinct("x").cast("bigint").alias("n_distinct"),
    )


# --- IVF-PQ composite: coarse inverted lists + PQ re-scoring ---------------
# The billion-vector production architecture (FAISS IVFPQ shape): a coarse
# k-means partitions the corpus into cells; a query probes only its
# IVFPQ_NPROBE closest cells; within the probed cells, distance comes from
# the M=4 PQ codes via ADC — so query cost is
# O(k·dim + nprobe·cell_size·M) and the full vectors are never touched at
# search time.

IVFPQ_NPROBE = 2
IVFPQ_POOL = 30  # ADC candidate pool width for the exact re-rank stage

_SQL_IVFPQ = (
    "WITH e AS (SELECT vec_id, embedding FROM embeddings),\n"
    f"{_SQL_C0},"
    + ",".join(
        _sql_lloyd_iter(f"c{i - 1}", i) for i in range(1, KMEANS_ITERS + 1)
    )
    + ","
    + ",".join(_sql_pq_subspace(s) for s in range(PQ_M))
    + f""",
coarse AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {sql_sq_dist('e.embedding', 'c.cv')},
                                       c.cid) AS rn
    FROM e CROSS JOIN c{KMEANS_ITERS} c
  ) t WHERE rn = 1
),
probe AS (
  SELECT vec_id AS query_id, cid FROM (
    SELECT e.vec_id, c.cid,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {sql_sq_dist('e.embedding', 'c.cv')},
                                       c.cid) AS rn
    FROM e CROSS JOIN c{KMEANS_ITERS} c
    WHERE e.vec_id < {N_QUERIES}
  ) t WHERE rn <= {IVFPQ_NPROBE}
),
cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id
  FROM probe p JOIN coarse a ON a.cid = p.cid
  WHERE a.vec_id <> p.query_id
),
adc_terms AS (
  {" UNION ALL ".join(
      f"SELECT q.query_id, k.vec_id, q.qd FROM code{s} k "
      f"JOIN qd{s} q ON q.cid = k.cid"
      for s in range(PQ_M)
  )}
),
adc AS (
  SELECT t.query_id, t.vec_id AS neighbor_id,
         SUM(CAST(t.qd AS DECIMAL(28,12))) AS dist
  FROM adc_terms t
  JOIN cand c ON c.query_id = t.query_id AND c.neighbor_id = t.vec_id
  GROUP BY 1, 2
)
"""
)


def _ivfpq_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC-ranked candidate pool (rk <= IVFPQ_POOL) — one memo serves both
    the top-k query (rk <= TOPK prefix) and the exact re-rank audit,
    which needs the wider pool."""
    e = load_table(spark, sf_dir, "embeddings")
    # Centroids ride as ONE broadcast row holding array<struct<cid, cv>>
    # (the kmeans_fit assignment pattern), NOT as a k×dim literal
    # expression tree: with the √n codebook law k reaches the hundreds at
    # rehearsal scale and literal centroids made codegen itself O(k·dim)
    # per compiled plan — the dominant term in the r10 100x spot's 479 s
    # IVF-PQ wall. The HOF fold below is arithmetic-identical (float →
    # double widening of the same float32 values, same left-assoc sum),
    # so oracle hashes are unaffected by the representation change.
    cent = spark.createDataFrame(
        _coarse_cents(spark, sf_dir), "cid int, cv array<float>"
    )
    nested = cent.groupBy().agg(
        F.collect_list(F.struct("cid", "cv")).alias("cents")
    )

    scored = F.transform(
        "cents",
        lambda c: F.struct(
            sq_dist(F.col("embedding"), c["cv"]).alias("d2"),
            c["cid"].alias("cid"),
        ),
    )
    es = spread(e).crossJoin(F.broadcast(nested))
    coarse = es.select(
        "vec_id", F.array_min(scored).getField("cid").alias("cid")
    )
    probe = (
        es.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.explode(
                F.slice(F.array_sort(scored), 1, IVFPQ_NPROBE)
            ).alias("pr"),
        )
        .select("query_id", F.col("pr.cid").alias("cid"))
    )
    cand = (
        probe.join(coarse, "cid")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
    )
    codes, qd = _pq_codes_qd_memo(spark, sf_dir)
    adc = (
        cand.join(
            codes.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id"
        )
        .join(F.broadcast(qd), ["query_id", "s", "cid"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum(F.col("qd").cast("decimal(28,12)")).alias("dist"))
    )
    return ranked_topk_per(adc, ["query_id"], ["dist", "neighbor_id"], IVFPQ_POOL)


@register(
    "similarity_topk_ivfpq",
    oracle=f"""
{_SQL_IVFPQ}
SELECT query_id, neighbor_id, CAST(dist AS DOUBLE) AS adc_dist, rk
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY dist, neighbor_id) AS rk
  FROM adc
) t WHERE rk <= {TOPK}
""",
)
def similarity_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composite ANN — the 5th index family, and the one real
    billion-vector deployments run: trained coarse k-means cells
    (shared with similarity_ivf_kmeans: same seeding, same 2 Lloyd
    iterations) give each query an IVFPQ_NPROBE-cell candidate list,
    and ranking inside the probed cells uses the PQ codes via ADC
    (shared with similarity_topk_pq through the memoized codes/ADC-
    partials tables) — full vectors are never read at search time.

    Fully hash-checked: the oracle composes the unrolled Lloyd chain,
    coarse assignment/probing (argmin with the (d2, cid) tiebreak —
    Spark's array_min over structs ≡ DuckDB's ROW_NUMBER order), the
    per-subspace PQ training/encoding, and the candidate-restricted
    decimal ADC sum. No float compare anywhere is inexact: distances
    are identical sequential HOF folds in both engines.

    Scale shape: query cost is k·dim (probe scoring, broadcast
    centroids) + nprobe·cell·M (ADC over candidate codes). The corpus-
    side tables (coarse cid, PQ codes) are linear one-pass builds,
    persisted as index tables at 100 TB; search shuffles only candidate
    code rows, never embeddings. Recall follows cell locality — the
    audit twin is the recall machinery already covering IVF and PQ
    separately.
    """
    ensure_session_conf(spark)
    return (
        _TOPK.get(
            spark,
            sf_dir,
            lambda: _ivfpq_pool(spark, sf_dir).localCheckpoint(),
            "ivfpq",
        )
        .filter(F.col("rk") <= TOPK)
        .select(
            "query_id",
            "neighbor_id",
            F.col("dist").cast("double").alias("adc_dist"),
            F.col("rk").cast("bigint").alias("rk"),
        )
    )


@register(
    "similarity_recall_ivfpq",
    oracle=f"""
{_SQL_IVFPQ},
ivfpq AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY dist, neighbor_id) AS rk
    FROM adc
  ) t WHERE rk <= {TOPK}
),
{_SQL_EXACT_SQ}
SELECT b.query_id,
       CAST(COALESCE(h.n, 0) AS BIGINT) AS n_matched,
       CAST(COALESCE(h.n, 0) AS DOUBLE) / {TOPK} AS recall
FROM (SELECT DISTINCT query_id FROM exact) b
LEFT JOIN (
  SELECT e2.query_id, COUNT(*) AS n
  FROM exact e2 JOIN ivfpq USING (query_id, neighbor_id)
  GROUP BY 1
) h USING (query_id)
""",
)
def similarity_recall_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the IVF-PQ composite against the exact squared-L2
    top-10 — the honesty audit for the 5th index family: IVF-PQ loses
    recall in TWO places (a true neighbor's cell may not be probed;
    ADC quantization may misrank within probed cells), so its recall
    must be measured, not inferred from the separate IVF and PQ audits.
    Reads the memoized composite top-k; the exact side is the shared
    `_exact_sq_topk` ground truth (same fold/window/tiebreak as the
    re-rank audit).
    """
    ensure_session_conf(spark)
    exact = _exact_sq_topk(spark, sf_dir)
    ann = similarity_topk_ivfpq(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    return _recall(exact, ann)


# --- Hybrid-retrieval fusion and truncation audits (late r6) ---------------

RRF_K = 60  # the classic reciprocal-rank-fusion damping constant


@register(
    "similarity_rank_fusion_rrf",
    oracle=f"""
{_SQL_PQ},
{_SQL_RHP.strip().lstrip()},
{_SQL_RHP_TOP},
lists AS (
  SELECT query_id, neighbor_id, rk FROM rhp_top
  UNION ALL
  SELECT query_id, neighbor_id, rk FROM pq
),
fused AS (
  SELECT query_id, neighbor_id,
         SUM(CAST(1.0 AS DOUBLE) / (CAST({RRF_K} AS DOUBLE)
                                    + CAST(rk AS DOUBLE))) AS rrf,
         CAST(COUNT(*) AS BIGINT) AS n_lists
  FROM lists GROUP BY 1, 2
)
SELECT query_id, neighbor_id, rrf, n_lists, rk FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY rrf DESC, neighbor_id)
                 AS BIGINT) AS rk
  FROM fused
) t WHERE rk <= {TOPK}
""",
)
def similarity_rank_fusion_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of two ANN families (RHP-LSH and PQ-ADC)
    — the standard hybrid-retrieval ensemble: each candidate scores
    Σ 1/(60 + rank) over the lists that returned it, so items ranked
    well by BOTH index families rise above either family's solo list.
    In production hybrid search the two lists are typically lexical
    (BM25) + vector; here both inputs are registered, hash-checked ANN
    top-k tables, making the fusion itself fully oracle-checkable.

    Determinism: 1/(60+rk) is one exactly-rounded IEEE division on
    integer-valued operands; each (query, candidate) sums at most TWO
    such terms, and IEEE addition of two doubles is commutative
    bit-for-bit, so the aggregation order cannot matter. The final
    ordering carries the usual neighbor_id tiebreak.

    Scale shape: reads the two memoized top-k result tables (≤ |queries|
    × k rows each — the persisted index-scan outputs at 100 TB), one
    hash agg, one per-query top-k. The expensive index scans are charged
    to their own memo_build rows; fusion itself is list-merge-sized,
    exactly as in a real retrieval stack.
    """
    ensure_session_conf(spark)
    rhp = similarity_topk_rhp(spark, sf_dir).select(
        "query_id", "neighbor_id", "rk"
    )
    pq = similarity_topk_pq(spark, sf_dir).select(
        "query_id", "neighbor_id", "rk"
    )
    both = rhp.unionByName(pq)
    contrib = F.lit(1.0) / (
        F.lit(float(RRF_K)) + F.col("rk").cast("double")
    )
    fused = both.groupBy("query_id", "neighbor_id").agg(
        F.sum(contrib).alias("rrf"),
        F.count(F.lit(1)).cast("bigint").alias("n_lists"),
    )
    return ranked_topk_per(
        fused, ["query_id"], [F.col("rrf").desc(), F.col("neighbor_id")],
        TOPK, rk_cast="bigint",
    )


TRUNC_DIM = 16  # matryoshka prefix length under audit (of 64 dims)


@register(
    "similarity_recall_truncated",
    oracle=f"""
WITH {_SQL_E_Q}, {_SQL_BF},
trunc_scored AS (
  SELECT q.query_id,
         e.vec_id AS neighbor_id,
         {sql_cosine(f'q.qv[1:{TRUNC_DIM}]', f'e.embedding[1:{TRUNC_DIM}]')}
           AS cos_sim
  FROM q JOIN e ON e.vec_id <> q.query_id
),
trunc_top AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cos_sim DESC, neighbor_id) AS rk
    FROM trunc_scored
  ) t WHERE rk <= {TOPK}
)
SELECT b.query_id,
       CAST(COALESCE(h.n, 0) AS BIGINT) AS n_matched,
       CAST(COALESCE(h.n, 0) AS DOUBLE) / {TOPK} AS recall
FROM (SELECT DISTINCT query_id FROM bf) b
LEFT JOIN (
  SELECT t2.query_id, COUNT(*) AS n
  FROM trunc_top t2 JOIN bf USING (query_id, neighbor_id)
  GROUP BY 1
) h USING (query_id)
""",
)
def similarity_recall_truncated(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Matryoshka-style dimension-truncation audit: exact cosine top-k
    using only the FIRST {TRUNC_DIM} of 64 dimensions, scored for
    recall against the full-dimension exact top-k — the measurement
    that decides whether a 4× cheaper prefix embedding (the
    matryoshka-representation deployment trick: store the prefix, scan
    4× less) is shippable, exactly parallel to the int8/PQ/IVF recall
    audits that gate those compressions.

    Same determinism story as every recall audit: both rankings use the
    sequential-fold cosine with the neighbor_id tiebreak; recall is one
    exact integer count divided by k.

    Scale shape: the truncated scan reads a prefix slice per vector
    (F.slice pushes no extra data — at 100 TB the prefix would be a
    separate narrower column), same broadcast-queries × candidates
    shape as the brute-force baseline it audits against.
    """
    ensure_session_conf(spark)
    bf = similarity_topk_bruteforce(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.slice("embedding", 1, TRUNC_DIM).alias("tv")
    ).withColumn("nrm", norm(F.col("tv")))
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("tv").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(spread(e))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (dot(F.col("qv"), F.col("tv")) / (F.col("qn") * F.col("nrm")))
            .alias("cos_sim"),
        )
    )
    trunc_top = ranked_topk_per(
        scored, ["query_id"], [F.col("cos_sim").desc(), F.col("neighbor_id")],
        TOPK,
    ).select("query_id", "neighbor_id")
    return _recall(bf, trunc_top)


# --- exact re-rank over the ADC pool, and SemDeDup ---------------------------


def _exact_sq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact squared-L2 top-k ids per query (broadcast-queries fold scan)
    — the ground truth shared by the PQ and IVF-PQ recall audits and the
    IVF-PQ re-rank audit."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    d2 = sq_dist(F.col("qv"), F.col("embedding"))
    pairs = (
        spread(e)
        .crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id", F.col("vec_id").alias("neighbor_id"), d2.alias("d2")
        )
    )
    return ranked_topk_per(
        pairs, ["query_id"], ["d2", "neighbor_id"], TOPK
    ).select("query_id", "neighbor_id")


@register(
    "similarity_rerank_recall_ivfpq",
    oracle=f"""
{_SQL_IVFPQ},
ranked AS (
  SELECT query_id, neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY dist, neighbor_id) AS rk
  FROM adc
),
pool AS (SELECT query_id, neighbor_id FROM ranked WHERE rk <= {IVFPQ_POOL}),
adc_top AS (SELECT query_id, neighbor_id FROM ranked WHERE rk <= {TOPK}),
rr AS (
  SELECT query_id, neighbor_id FROM (
    SELECT p.query_id, p.neighbor_id,
           ROW_NUMBER() OVER (
             PARTITION BY p.query_id
             ORDER BY {sql_sq_dist('qe.embedding', 'ce.embedding')},
                      p.neighbor_id) AS rk
    FROM pool p
    JOIN embeddings qe ON qe.vec_id = p.query_id
    JOIN embeddings ce ON ce.vec_id = p.neighbor_id
  ) t WHERE rk <= {TOPK}
),
{_SQL_EXACT_SQ}
SELECT b.query_id,
       CAST(COALESCE(ha.n, 0) AS BIGINT) AS n_matched_adc,
       CAST(COALESCE(ha.n, 0) AS DOUBLE) / {TOPK} AS recall_adc,
       CAST(COALESCE(hr.n, 0) AS BIGINT) AS n_matched_rerank,
       CAST(COALESCE(hr.n, 0) AS DOUBLE) / {TOPK} AS recall_rerank
FROM (SELECT DISTINCT query_id FROM exact) b
LEFT JOIN (
  SELECT e2.query_id, COUNT(*) AS n
  FROM exact e2 JOIN adc_top USING (query_id, neighbor_id) GROUP BY 1
) ha USING (query_id)
LEFT JOIN (
  SELECT e3.query_id, COUNT(*) AS n
  FROM exact e3 JOIN rr USING (query_id, neighbor_id) GROUP BY 1
) hr USING (query_id)
""",
)
def similarity_rerank_recall_ivfpq(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two-stage retrieval audit: IVF-PQ ADC generates a {IVFPQ_POOL}-wide
    candidate pool, an exact squared-L2 re-rank over the pool's FULL
    vectors picks the final top-{TOPK}, and both stages are scored for
    recall against the exact answer — the candidate-generation +
    re-ranking architecture every production vector store runs (PQ codes
    for the cheap wide scan, full vectors only for ~pool_width rows per
    query). recall_rerank ≥ recall_adc by construction whenever ADC
    misranks inside the pool; the residual gap is pure probe loss
    (true neighbors whose cell was never probed), which re-ranking
    cannot recover — the audit separates the two loss sources.

    Determinism: both rankings use the sequential-fold squared distance
    with the neighbor_id tiebreak; recalls are exact integer counts over
    k. Scale shape: the re-rank join touches |queries| × pool_width full
    vectors (row-fetch-sized, never a scan) — exactly the I/O contract
    that makes the architecture viable at 100 TB.
    """
    ensure_session_conf(spark)
    pool = _TOPK.get(
        spark,
        sf_dir,
        lambda: _ivfpq_pool(spark, sf_dir).localCheckpoint(),
        "ivfpq",
    )
    adc_top = pool.filter(F.col("rk") <= TOPK).select(
        "query_id", "neighbor_id"
    )
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    nb = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("nv"),
    )
    d2 = sq_dist(F.col("qv"), F.col("nv"))
    rr = ranked_topk_per(
        pool.select("query_id", "neighbor_id")
        .join(nb, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select("query_id", "neighbor_id", d2.alias("d2")),
        ["query_id"], ["d2", "neighbor_id"], TOPK,
    ).select("query_id", "neighbor_id")
    exact = _exact_sq_topk(spark, sf_dir)
    ha = exact.join(adc_top, ["query_id", "neighbor_id"]).groupBy(
        "query_id"
    ).agg(F.count(F.lit(1)).alias("na"))
    hr = exact.join(rr, ["query_id", "neighbor_id"]).groupBy(
        "query_id"
    ).agg(F.count(F.lit(1)).alias("nr"))
    return (
        exact.select("query_id")
        .distinct()
        .join(ha, "query_id", "left")
        .join(hr, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("na"), F.lit(0))
            .cast("bigint")
            .alias("n_matched_adc"),
            (
                F.coalesce(F.col("na"), F.lit(0)).cast("double")
                / F.lit(TOPK)
            ).alias("recall_adc"),
            F.coalesce(F.col("nr"), F.lit(0))
            .cast("bigint")
            .alias("n_matched_rerank"),
            (
                F.coalesce(F.col("nr"), F.lit(0)).cast("double")
                / F.lit(TOPK)
            ).alias("recall_rerank"),
        )
    )


SEMDEDUP_T = 0.35  # same fixture-calibrated bar as dedup.COSINE_T


_SQL_SEMDEDUP_ASGN = (
    f"""
WITH e AS (SELECT vec_id, embedding FROM embeddings),
{_SQL_C0},
"""
    + ",".join(
        _sql_lloyd_iter(f"c{i - 1}", i) for i in range(1, KMEANS_ITERS + 1)
    )
    + f""",
asgn AS (
  SELECT vec_id, embedding, cid FROM (
    SELECT e.vec_id, e.embedding, c.cid,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {sql_cosine('e.embedding', 'c.cv')}
                                       DESC, c.cid) AS rn
    FROM e CROSS JOIN c{KMEANS_ITERS} c
  ) t WHERE rn = 1
)
"""
)


def _semdedup_asgn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-cosine cluster assignment against the shared learned coarse
    codebook: ``(vec_id, embedding, cluster_id, nrm)`` — the blocking
    structure common to SemDeDup full-corpus dedup and the incremental
    admission query (DataFrame twin of `_SQL_SEMDEDUP_ASGN`'s asgn).

    The argmax runs as array_min over (−cosine, cid) structs against the
    ONE-ROW nested broadcast of the codebook — a map-side O(n) pass that
    never materializes the n×k cross product or shuffles it through a
    per-vector window (k ∝ corpus size now, so the n×k row_number shape
    would re-introduce the quadratic the derived k removes). IEEE
    negation is exact and struct comparison is lexicographic, so the
    (−cos, cid) min is bit-identical to the oracle's ROW_NUMBER() ORDER
    BY cosine DESC, cid.

    The MATERIALIZED table is memoized, not just the codebook: four
    registered queries consume it, two of them on both branches of a
    diamond (the within-cell pair joins), so un-memoized the n x k
    argmin pass would run up to twice per execution. At 100 TB this is
    the persisted assignment column written next to the vectors."""

    def build() -> DataFrame:
        cent = spark.createDataFrame(
            _coarse_cents(spark, sf_dir), "cluster_id int, cv array<float>"
        )
        nested = cent.groupBy().agg(
            F.collect_list(
                F.struct(F.col("cluster_id").alias("cid"), "cv")
            ).alias("cents")
        )
        return (
            spread(load_table(spark, sf_dir, "embeddings"))
            .crossJoin(F.broadcast(nested))
            .select(
                "vec_id",
                "embedding",
                F.array_min(
                    F.transform(
                        "cents",
                        lambda c: F.struct(
                            (-cosine(F.col("embedding"), c["cv"])).alias(
                                "negcs"
                            ),
                            c["cid"].alias("cid"),
                        ),
                    )
                )
                .getField("cid")
                .alias("cluster_id"),
            )
            .withColumn("nrm", norm(F.col("embedding")))
            .localCheckpoint()
        )

    return _TOPK.get(spark, sf_dir, build, "semdedup_asgn")


@register(
    "dedup_semantic_kmeans",
    oracle=f"""
{_SQL_SEMDEDUP_ASGN}
SELECT a.cid AS cluster_id, a.vec_id AS vec_a, b.vec_id AS vec_b,
       {sql_cosine('a.embedding', 'b.embedding')} AS cos_sim
FROM asgn a JOIN asgn b ON a.cid = b.cid AND a.vec_id < b.vec_id
WHERE {sql_cosine('a.embedding', 'b.embedding')} >= {SEMDEDUP_T}
""",
)
def dedup_semantic_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication: block by LEARNED k-means
    cluster (the trained coarse codebook shared with IVF / IVF-PQ),
    then emit within-cluster embedding pairs with cosine ≥ threshold —
    the Abbas et al. 2023 recipe for pruning semantically redundant
    web data, and the learned-blocking complement to
    dedup_embedding_cosine (which blocks by the GIVEN label column).
    The canonical keep rule is "keep the lowest id per near-dup group";
    vec_b of each emitted pair is the candidate to drop.

    Fully hash-checked: cluster assignment restates the unrolled Lloyd
    chain (shared CTE machinery with similarity_ivf_kmeans) with the
    best-cosine/cid-tiebreak argmax, and pair cosines are the identical
    sequential fold in both engines.

    Scale shape: training cost is amortized (memoized codebook; at
    100 TB trained on a sample, assignment is one broadcast-codebook
    map pass), and the pairwise stage is Σ cell² instead of n² — with
    the cluster id as a partition column the self-join is co-partitioned,
    no wide shuffle. Cluster granularity scales with the corpus
    (k = max(KMEANS_K, ceil(n / SEMDEDUP_CELL)), both engines derive it
    from COUNT(*)), holding expected cell size — and therefore per-cell
    pair mass — constant as n grows, exactly like the LSH band cap
    bounds bucket fan-out. SCALE_r8 measured the fixed-k alternative at
    108.8x pair mass / 16.3x wall for 10x data; k ∝ n is the fix.
    """
    ensure_session_conf(spark)
    asgn = _semdedup_asgn(spark, sf_dir)
    a = asgn.select(
        "cluster_id",
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = asgn.select(
        "cluster_id",
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    return (
        a.join(b, "cluster_id")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select(
            "cluster_id",
            "vec_a",
            "vec_b",
            (
                dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= SEMDEDUP_T)
    )


# --- incremental SemDeDup admission, retrieval quality scorecard -------------

# Same new-batch split rule as dedup.dedup_incremental_new_batch (vec ids in
# the top quarter of the id space are "today's batch").
SEM_INCR_NUM = 3
SEM_INCR_DEN = 4


# Shared batch restatement of the incremental SemDeDup admission — the
# oracle of BOTH the batch query and its streaming twin
# (stream_queries.stream_semantic_admission), which must emit exactly
# these rows.
_SQL_SEM_INCR = f"""
{_SQL_SEMDEDUP_ASGN},
mx AS (SELECT (MAX(vec_id) + 1) * {SEM_INCR_NUM} // {SEM_INCR_DEN}
         AS split FROM embeddings),
newv AS (SELECT a.* FROM asgn a, mx WHERE a.vec_id >= mx.split),
oldv AS (SELECT a.* FROM asgn a, mx WHERE a.vec_id < mx.split),
hits AS (
  SELECT n.vec_id, {sql_cosine('n.embedding', 'o.embedding')} AS cs
  FROM newv n JOIN oldv o ON o.cid = n.cid
  WHERE {sql_cosine('n.embedding', 'o.embedding')} >= {SEMDEDUP_T}
),
hagg AS (
  SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS n_near_dups,
         MAX(cs) AS best_cos
  FROM hits GROUP BY vec_id
)
SELECT n.vec_id, CAST(n.cid AS INT) AS cluster_id,
       CAST(COALESCE(a.n_near_dups, 0) AS BIGINT) AS n_near_dups,
       CAST(COALESCE(a.best_cos, -2.0) AS DOUBLE) AS best_cos,
       a.vec_id IS NULL AS admit
FROM newv n LEFT JOIN hagg a ON a.vec_id = n.vec_id
"""


@register("dedup_semantic_incremental", oracle=_SQL_SEM_INCR)
def dedup_semantic_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SemDeDup admission — the ANN analog of
    dedup_incremental_new_batch: treat the top quarter of the vec-id
    space as today's embedding batch and decide, per NEW vector, whether
    the STANDING corpus already contains a semantic near-duplicate
    (cosine >= {SEMDEDUP_T} within its assigned codebook cluster).
    Emits every new vector with its cluster, standing-near-dup count,
    best standing cosine (-2.0 sentinel when none — below any real
    cosine), and the admit decision. New-vs-new duplicates are
    deliberately out of scope (next run's corpus problem; keep-first
    admits exactly one of them today).

    Scale shape: this is the query an embedding-ingest pipeline runs at
    batch frequency, and its cost is batch-sized, not corpus-sized: the
    standing codebook is fixed infrastructure (memoized; trained on a
    sample at 100 TB), assignment of the new batch is one broadcast map
    pass, and the probe join touches only the standing vectors in the
    new batch's clusters — with cluster_id as the partition key it is
    co-partitioned, and k scaling with corpus size bounds per-cell probe
    mass exactly as in the full SemDeDup pass.
    """
    ensure_session_conf(spark)
    e = load_table(spark, sf_dir, "embeddings")
    split_df = e.agg(
        F.expr(
            f"(MAX(vec_id) + 1) * {SEM_INCR_NUM} DIV {SEM_INCR_DEN}"
        ).alias("split")
    )
    asgn = _semdedup_asgn(spark, sf_dir).crossJoin(F.broadcast(split_df))
    newv = asgn.filter(F.col("vec_id") >= F.col("split"))
    oldv = asgn.filter(F.col("vec_id") < F.col("split"))
    cs = dot(F.col("ne"), F.col("oe")) / (F.col("nn") * F.col("on"))
    hits = (
        newv.select(
            "cluster_id", "vec_id",
            F.col("embedding").alias("ne"), F.col("nrm").alias("nn"),
        )
        .join(
            oldv.select(
                "cluster_id",
                F.col("embedding").alias("oe"), F.col("nrm").alias("on"),
            ),
            "cluster_id",
        )
        .select("vec_id", cs.alias("cs"))
        .filter(F.col("cs") >= SEMDEDUP_T)
    )
    hagg = hits.groupBy("vec_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_near_dups"),
        F.max("cs").alias("best_cos"),
    )
    return newv.select("vec_id", "cluster_id").join(
        hagg, "vec_id", "left"
    ).select(
        "vec_id",
        "cluster_id",
        F.coalesce(F.col("n_near_dups"), F.lit(0))
        .cast("bigint")
        .alias("n_near_dups"),
        F.coalesce(F.col("best_cos"), F.lit(-2.0))
        .cast("double")
        .alias("best_cos"),
        F.col("n_near_dups").isNull().alias("admit"),
    )


# Shared oracle CTE chain for the cross-family retrieval audits
# (search_quality_scorecard, search_quality_ndcg): the four per-system
# ranked lists plus the brute-force relevance truth. Factored so the two
# metric queries cannot drift apart on list construction.
_SQL_SYSTEMS = f"""
{_SQL_IVFPQ},
{_SQL_RHP.strip()},
qq AS (SELECT vec_id AS query_id, embedding AS qv FROM e
       WHERE vec_id < {N_QUERIES}),
bfs AS (
  SELECT qq.query_id, e.vec_id AS neighbor_id,
         {sql_cosine('qq.qv', 'e.embedding')} AS cos_sim
  FROM qq JOIN e ON e.vec_id <> qq.query_id
),
bft AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cos_sim DESC, neighbor_id) AS rk
    FROM bfs
  ) t WHERE rk <= {TOPK}
),
ivfpq_top AS (
  SELECT query_id, neighbor_id, rk FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY dist, neighbor_id) AS rk
    FROM adc
  ) t WHERE rk <= {TOPK}
),
pq_all AS (
  SELECT query_id, vec_id AS neighbor_id,
         SUM(CAST(qd AS DECIMAL(28,12))) AS dist
  FROM adc_terms
  WHERE vec_id <> query_id
  GROUP BY 1, 2
),
pq_top AS (
  SELECT query_id, neighbor_id, rk FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY dist, neighbor_id) AS rk
    FROM pq_all
  ) t WHERE rk <= {TOPK}
),
{_SQL_RHP_TOP},
rrf_lists AS (
  SELECT query_id, neighbor_id, rk FROM rhp_top
  UNION ALL
  SELECT query_id, neighbor_id, rk FROM pq_top
),
fused AS (
  SELECT query_id, neighbor_id,
         SUM(CAST(1.0 AS DOUBLE) / (CAST({RRF_K} AS DOUBLE)
                                    + CAST(rk AS DOUBLE))) AS rrf
  FROM rrf_lists GROUP BY 1, 2
),
rrf_top AS (
  SELECT query_id, neighbor_id, rk FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY rrf DESC, neighbor_id) AS rk
    FROM fused
  ) t WHERE rk <= {TOPK}
),
systems AS (
  SELECT 'rhp' AS system, query_id, neighbor_id, rk FROM rhp_top
  UNION ALL
  SELECT 'pq' AS system, query_id, neighbor_id, rk FROM pq_top
  UNION ALL
  SELECT 'ivfpq' AS system, query_id, neighbor_id, rk FROM ivfpq_top
  UNION ALL
  SELECT 'rrf' AS system, query_id, neighbor_id, rk FROM rrf_top
)"""


@register(
    "search_quality_scorecard",
    oracle=f"""
{_SQL_SYSTEMS},
shits AS (
  SELECT s.system, s.query_id, s.rk
  FROM systems s
  JOIN bft b ON b.query_id = s.query_id AND b.neighbor_id = s.neighbor_id
),
perq AS (
  SELECT system, query_id, CAST(COUNT(*) AS BIGINT) AS nh,
         CAST(MIN(rk) AS BIGINT) AS fh
  FROM shits GROUP BY 1, 2
),
sysret AS (
  SELECT system, CAST(COUNT(*) AS BIGINT) AS n_returned
  FROM systems GROUP BY 1
)
SELECT r.system, r.n_returned,
       CAST(COALESCE(SUM(p.nh), 0) AS BIGINT) AS n_hits,
       CAST(COALESCE(SUM(p.nh), 0) AS DOUBLE)
         / CAST({N_QUERIES * TOPK} AS DOUBLE) AS recall_at_k,
       CAST(COALESCE(SUM(CAST(CAST(1.0 AS DOUBLE) / CAST(p.fh AS DOUBLE)
                              AS DECIMAL(28,6))), 0) AS DOUBLE)
         / CAST({N_QUERIES} AS DOUBLE) AS mrr
FROM sysret r LEFT JOIN perq p ON p.system = r.system
GROUP BY r.system, r.n_returned
""",
)
def search_quality_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-family retrieval quality scorecard — the search analog of
    the dedup agreement scorecard: score every ANN family that emits a
    per-query ranked list (RHP-LSH, PQ-ADC, IVF-PQ, and the RRF hybrid
    of the first two) against the DECLARED relevance oracle — exact
    brute-force cosine top-{TOPK} — on two standard IR metrics per
    system: recall@{TOPK} (hit mass over {N_QUERIES}x{TOPK} relevant
    slots) and MRR (mean reciprocal rank of the first relevant result;
    0 contribution for queries a system misses entirely). One table
    answers "which index family is losing, and is it losing recall or
    rank placement" — the comparison a retrieval team runs before
    picking the production index.

    Determinism: every input list is an already-hash-checked registered
    query; recall is integer hit counting; each MRR contribution is ONE
    IEEE division 1/rank quantized to DECIMAL(28,6) before the
    order-free sum (the BM25 discipline), divided by the constant query
    count.

    Scale shape: reads four memoized top-k result tables
    (≤ |queries|·k rows each — persisted index-scan outputs at 100 TB)
    plus the brute-force truth (an audit-time artifact by design,
    sampled queries at scale); everything downstream is list-merge-
    sized joins and one tiny hash agg. The scorecard adds ZERO index
    work of its own.
    """
    ensure_session_conf(spark)
    bf = _bruteforce_topk(spark, sf_dir).select("query_id", "neighbor_id")
    fams = {
        "rhp": similarity_topk_rhp(spark, sf_dir),
        "pq": similarity_topk_pq(spark, sf_dir),
        "ivfpq": similarity_topk_ivfpq(spark, sf_dir),
        "rrf": similarity_rank_fusion_rrf(spark, sf_dir),
    }
    systems = None
    for name, df in fams.items():
        part = df.select(
            F.lit(name).alias("system"), "query_id", "neighbor_id",
            F.col("rk").cast("bigint").alias("rk"),
        )
        systems = part if systems is None else systems.unionByName(part)
    shits = systems.join(bf, ["query_id", "neighbor_id"])
    perq = shits.groupBy("system", "query_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("nh"),
        F.min("rk").cast("bigint").alias("fh"),
    )
    sysret = systems.groupBy("system").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_returned")
    )
    mrr_term = (F.lit(1.0) / F.col("fh").cast("double")).cast(
        "decimal(28,6)"
    )
    return (
        sysret.join(perq, "system", "left")
        .groupBy("system", "n_returned")
        .agg(
            F.coalesce(F.sum("nh"), F.lit(0)).cast("bigint").alias("n_hits"),
            (
                F.coalesce(F.sum("nh"), F.lit(0)).cast("double")
                / F.lit(float(N_QUERIES * TOPK))
            ).alias("recall_at_k"),
            (
                F.coalesce(F.sum(mrr_term), F.lit(0)).cast("double")
                / F.lit(float(N_QUERIES))
            ).alias("mrr"),
        )
        .select(
            "system", "n_returned", "n_hits", "recall_at_k", "mrr"
        )
    )


# Ideal DCG@k for binary gains with exactly TOPK relevant per query: a
# Python-computed constant inlined VERBATIM into both dialects (math.log2
# on small ints is one correctly-rounded double each — no cross-engine
# transcendental in the constant's derivation path).
IDCG_AT_K = sum(1.0 / math.log2(i + 1) for i in range(1, TOPK + 1))


@register(
    "search_quality_ndcg",
    oracle=f"""
{_SQL_SYSTEMS},
dterms AS (
  SELECT s.system, s.query_id,
         CAST(CAST(1.0 AS DOUBLE)
              / log2(CAST(s.rk + 1 AS DOUBLE)) AS DECIMAL(28,6)) AS dt
  FROM systems s
  JOIN bft b ON b.query_id = s.query_id AND b.neighbor_id = s.neighbor_id
),
sysret AS (
  SELECT system, CAST(COUNT(*) AS BIGINT) AS n_returned
  FROM systems GROUP BY 1
)
SELECT r.system, r.n_returned,
       CAST(COUNT(d.dt) AS BIGINT) AS n_hits,
       CAST(COALESCE(SUM(d.dt), 0) AS DOUBLE) AS dcg_total,
       CAST(COALESCE(SUM(d.dt), 0) AS DOUBLE)
         / ({IDCG_AT_K!r} * CAST({N_QUERIES} AS DOUBLE)) AS mean_ndcg
FROM sysret r LEFT JOIN dterms d ON d.system = r.system
GROUP BY r.system, r.n_returned
""",
)
def search_quality_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@{TOPK} per retrieval family — the third standard IR metric
    next to the scorecard's recall@k and MRR, and the one that grades the
    WHOLE ranking, not just hit mass (recall) or the first hit (MRR): a
    system that returns all the right neighbors in the wrong order loses
    nDCG and nothing else.

    Binary gains against the declared relevance oracle (exact cosine
    top-{TOPK}), so per-query ideal DCG is the constant
    sum_i 1/log2(i+1) — computed once in Python and inlined verbatim in
    both dialects. Each discount term 1/log2(rk+1) is two correctly-
    rounded IEEE ops on identical inputs, quantized to DECIMAL(28,6)
    before the order-free sum (the MRR/BM25 discipline); zero-hit
    queries contribute 0 via the constant {N_QUERIES}-query denominator.

    Scale shape: identical to the scorecard — list-merge joins over the
    four memoized top-k tables plus the brute-force truth; no index work
    of its own.
    """
    ensure_session_conf(spark)
    bf = _bruteforce_topk(spark, sf_dir).select("query_id", "neighbor_id")
    fams = {
        "rhp": similarity_topk_rhp(spark, sf_dir),
        "pq": similarity_topk_pq(spark, sf_dir),
        "ivfpq": similarity_topk_ivfpq(spark, sf_dir),
        "rrf": similarity_rank_fusion_rrf(spark, sf_dir),
    }
    systems = None
    for name, df in fams.items():
        part = df.select(
            F.lit(name).alias("system"), "query_id", "neighbor_id",
            F.col("rk").cast("bigint").alias("rk"),
        )
        systems = part if systems is None else systems.unionByName(part)
    dterm = (
        F.lit(1.0) / F.log2(F.col("rk").cast("double") + F.lit(1.0))
    ).cast("decimal(28,6)")
    dterms = systems.join(bf, ["query_id", "neighbor_id"]).select(
        "system", dterm.alias("dt")
    )
    sysret = systems.groupBy("system").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_returned")
    )
    return (
        sysret.join(dterms, "system", "left")
        .groupBy("system", "n_returned")
        .agg(
            F.count("dt").cast("bigint").alias("n_hits"),
            F.coalesce(F.sum("dt"), F.lit(0))
            .cast("double")
            .alias("dcg_total"),
            (
                F.coalesce(F.sum("dt"), F.lit(0)).cast("double")
                / F.lit(IDCG_AT_K * float(N_QUERIES))
            ).alias("mean_ndcg"),
        )
        .select("system", "n_returned", "n_hits", "dcg_total", "mean_ndcg")
    )


# --- embedding-space curation — contrastive mining + label-noise audit -------

N_ANCHORS = 16  # anchor set for contrastive pair mining (vec_id < N_ANCHORS)
K_CONTRAST = 5  # pairs mined per (anchor, role)
K_NOISE = 5  # neighborhood size for the kNN label vote


@register(
    "similarity_hard_negatives",
    oracle=f"""
WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
anc AS (SELECT vec_id AS anchor_id, label AS a_label, embedding AS av
        FROM e WHERE vec_id < {N_ANCHORS}),
scored AS (
  SELECT a.anchor_id,
         CASE WHEN e.label = a.a_label THEN 'hard_pos' ELSE 'hard_neg' END
           AS role,
         e.vec_id AS neighbor_id,
         {sql_cosine('a.av', 'e.embedding')} AS cos_sim
  FROM anc a JOIN e ON e.vec_id <> a.anchor_id
),
ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (
           PARTITION BY anchor_id, role
           ORDER BY CASE WHEN role = 'hard_pos' THEN cos_sim
                         ELSE -cos_sim END ASC,
                    neighbor_id) AS rk
  FROM scored
)
SELECT anchor_id, role, neighbor_id, cos_sim, rk
FROM ranked WHERE rk <= {K_CONTRAST}
""",
)
def similarity_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-pair mining for embedding-model training data: for each
    anchor vector, the K_CONTRAST hardest negatives (different label,
    HIGHEST cosine — the confusable impostors) and the K_CONTRAST hardest
    positives (same label, LOWEST cosine — the stragglers the model must
    still pull in). The standard curation step that turns a labeled corpus
    into triplet/InfoNCE training batches; random negatives are too easy
    to carry gradient signal at scale.

    One broadcast(anchors) × candidates pass scores every pair once; a
    single window partitioned by (anchor, role) with a CASE sort key ranks
    both roles without a second scan. No shuffle of the candidate table —
    the window input is ≤ |anchors| × n rows pre-filtered to the top ranks
    per partition by TakeOrderedAndProject-shaped pruning.

    Scale shape: anchors batch through the IVF/RHP blocking exactly like
    query vectors in similarity_topk_ivf (mine negatives only among probed
    cells); the brute pass here is the exactness baseline at fixture
    scale, the same audit role _bruteforce_topk plays for recall.
    """
    ensure_session_conf(spark)
    e = load_table(spark, sf_dir, "embeddings").withColumn(
        "nrm", norm(F.col("embedding"))
    )
    anc = e.filter(F.col("vec_id") < N_ANCHORS).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("a_label"),
        F.col("embedding").alias("av"),
        F.col("nrm").alias("an"),
    )
    scored = (
        F.broadcast(anc)
        .crossJoin(spread(e))
        .filter(F.col("vec_id") != F.col("anchor_id"))
        .select(
            "anchor_id",
            F.when(F.col("label") == F.col("a_label"), "hard_pos")
            .otherwise("hard_neg")
            .alias("role"),
            F.col("vec_id").alias("neighbor_id"),
            (dot(F.col("av"), F.col("embedding")) / (F.col("an") * F.col("nrm")))
            .alias("cos_sim"),
        )
    )
    hardest = F.when(F.col("role") == "hard_pos", F.col("cos_sim")).otherwise(
        -F.col("cos_sim")
    )
    return ranked_topk_per(
        scored, ["anchor_id", "role"], [hardest.asc(), "neighbor_id"], K_CONTRAST,
        rk_cast="bigint",
    )


@register(
    "quality_knn_label_noise",
    oracle=f"""
{_SQL_SEMDEDUP_ASGN},
lab AS (SELECT vec_id, label FROM embeddings),
al AS (SELECT a.vec_id, a.cid, a.embedding, l.label
       FROM asgn a JOIN lab l ON l.vec_id = a.vec_id),
knn AS (
  SELECT vec_id, n_label FROM (
    SELECT a.vec_id, b.label AS n_label,
           ROW_NUMBER() OVER (
             PARTITION BY a.vec_id
             ORDER BY {sql_cosine('a.embedding', 'b.embedding')} DESC,
                      b.vec_id) AS rk
    FROM al a JOIN al b ON b.cid = a.cid AND b.vec_id <> a.vec_id
  ) t WHERE rk <= {K_NOISE}
),
votes AS (SELECT vec_id, n_label, COUNT(*) AS c
          FROM knn GROUP BY vec_id, n_label),
maj AS (
  SELECT vec_id, n_label AS maj_label FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY c DESC, n_label) AS rn
    FROM votes
  ) t WHERE rn = 1
)
SELECT l.label,
       COUNT(*) AS n_vecs,
       COUNT(m.maj_label) AS n_audited,
       COUNT(*) FILTER (WHERE m.maj_label IS NOT NULL
                          AND m.maj_label <> l.label) AS n_flagged,
       CASE WHEN COUNT(m.maj_label) = 0 THEN NULL
            ELSE CAST(COUNT(*) FILTER (WHERE m.maj_label IS NOT NULL
                                         AND m.maj_label <> l.label)
                      AS DOUBLE) / COUNT(m.maj_label)
       END AS noise_rate
FROM lab l LEFT JOIN maj m ON m.vec_id = l.vec_id
GROUP BY l.label
""",
)
def quality_knn_label_noise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-noise audit (Confident-Learning-lite): each vector's K_NOISE
    nearest neighbors vote on its label; a vector whose neighborhood
    majority disagrees with its own label is flagged as probably
    mislabeled. Reported per label class — the triage report that decides
    which annotation slices to re-collect before training on them.

    Neighborhoods are restricted to the vector's learned k-means cell (the
    shared coarse codebook of IVF / SemDeDup), so the pair stage is
    Σ cell² co-partitioned work, never n² — identical blocking economics
    to dedup_semantic_kmeans. Majority = argmax vote count with
    smallest-label tiebreak; singleton-cell vectors have no neighbors and
    are counted as unaudited (n_vecs vs n_audited) rather than silently
    dropped.

    The reference has no embedding surface at all (SURVEY §2.3 north-star
    row); this extends the SemDeDup blocking into the label-QA use case.
    """
    ensure_session_conf(spark)
    lab = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    al = _semdedup_asgn(spark, sf_dir).join(lab, "vec_id")
    a = al.select("vec_id", "cluster_id", F.col("embedding").alias("va"),
                  F.col("nrm").alias("na"))
    b = al.select("cluster_id", F.col("vec_id").alias("nb_id"),
                  F.col("label").alias("n_label"),
                  F.col("embedding").alias("vb"), F.col("nrm").alias("nb"))
    knn = ranked_topk_per(
        a.join(b, "cluster_id")
        .filter(F.col("nb_id") != F.col("vec_id"))
        .select(
            "vec_id",
            "nb_id",
            "n_label",
            (dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")))
            .alias("cos_sim"),
        ),
        ["vec_id"], [F.col("cos_sim").desc(), F.col("nb_id")], K_NOISE,
    )
    votes = knn.groupBy("vec_id", "n_label").agg(F.count("*").alias("c"))
    maj = ranked_topk_per(
        votes, ["vec_id"], [F.col("c").desc(), "n_label"], 1, rk_col=None
    ).select("vec_id", F.col("n_label").alias("maj_label"))
    flagged = F.sum(
        F.when(
            F.col("maj_label").isNotNull()
            & (F.col("maj_label") != F.col("label")),
            1,
        ).otherwise(0)
    ).cast("bigint")
    audited = F.count("maj_label")
    return (
        lab.join(maj, "vec_id", "left")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            audited.alias("n_audited"),
            flagged.alias("n_flagged"),
            F.when(audited == 0, F.lit(None).cast("double"))
            .otherwise(flagged.cast("double") / audited)
            .alias("noise_rate"),
        )
    )


# --- MIPS -> L2 augmentation transform audit --------------------------------

def _sql_sq_norm(a: str) -> str:
    return (
        f"list_reduce(list_transform({a}, "
        f"e -> CAST(e AS DOUBLE) * CAST(e AS DOUBLE)), (x, y) -> x + y)"
    )


@register(
    "similarity_mips_augment",
    oracle=f"""
WITH {_SQL_E_Q},
n2 AS (SELECT vec_id, {_sql_sq_norm('embedding')} AS n2 FROM e),
mx AS (SELECT MAX(n2) AS m2 FROM n2),
cand AS (
  SELECT e.vec_id,
         e.embedding,
         list_concat(list_transform(e.embedding, v -> CAST(v AS DOUBLE)),
                     [sqrt(mx.m2 - n2.n2)]) AS aemb
  FROM e JOIN n2 ON e.vec_id = n2.vec_id CROSS JOIN mx
),
qa AS (
  SELECT query_id, qv,
         list_concat(list_transform(qv, v -> CAST(v AS DOUBLE)),
                     [CAST(0.0 AS DOUBLE)]) AS qaug
  FROM q
),
scored AS (
  SELECT qa.query_id, c.vec_id AS neighbor_id,
         {sql_dot('qa.qv', 'c.embedding')} AS ip,
         {sql_sq_dist('qa.qaug', 'c.aemb')} AS d2aug
  FROM qa JOIN cand c ON c.vec_id <> qa.query_id
),
rd AS (
  SELECT query_id, neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY ip DESC, neighbor_id) AS rk
  FROM scored
),
ra AS (
  SELECT query_id, neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY d2aug ASC, neighbor_id) AS rk
  FROM scored
)
SELECT rd.query_id, rd.rk,
       rd.neighbor_id AS nb_dot, ra.neighbor_id AS nb_aug,
       rd.neighbor_id = ra.neighbor_id AS agree
FROM rd JOIN ra ON rd.query_id = ra.query_id AND rd.rk = ra.rk
WHERE rd.rk <= {TOPK}
""",
)
def similarity_mips_augment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIPS→L2 reduction audit (Bachrach et al. / the XBOX transform):
    append one dimension sqrt(M² − ‖x‖²) to every candidate (M = max
    candidate norm) and a 0 to every query, and maximum-inner-product
    search becomes nearest-neighbor-by-L2 — the transform that lets a
    plain L2 index (IVF/PQ/k-d) serve dot-product retrieval. This query
    runs BOTH rankings — direct inner product and augmented L2 — and
    reports per-(query, rank) agreement. In exact arithmetic agreement
    is total (d² = ‖q‖² + M² − 2⟨q,x⟩ is a monotone map); in floats the
    fold rounds differently along the two paths, so the agreement table
    IS the measured rank-perturbation of the reduction — the audit a
    vector store wants before swapping scoring functions under an index.

    Scale shape: the norm pass and the single-row global MAX are one
    scan + a broadcast scalar; augmented vectors never materialize to
    storage (one map-side concat); both rankings share one scored
    intermediate, so the audit costs the same one candidate sweep as the
    brute-force baseline plus two tiny per-query top-k windows.
    """
    ensure_session_conf(spark)
    e = load_table(spark, sf_dir, "embeddings")
    sq = F.transform("embedding", lambda x: x.cast("double") * x.cast("double"))
    n2c = F.aggregate(sq, F.lit(0.0), lambda acc, v: acc + v)
    withn = spread(e).select("vec_id", "embedding", n2c.alias("n2"))
    mx = withn.agg(F.max("n2").alias("m2"))
    cand = withn.crossJoin(F.broadcast(mx)).select(
        "vec_id",
        "embedding",
        F.concat(
            F.transform("embedding", lambda v: v.cast("double")),
            F.array(F.sqrt(F.col("m2") - F.col("n2"))),
        ).alias("aemb"),
    )
    qa = (
        e.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
            F.concat(
                F.transform("embedding", lambda v: v.cast("double")),
                F.array(F.lit(0.0)),
            ).alias("qaug"),
        )
    )
    d2aug = sq_dist(F.col("qaug"), F.col("aemb"))
    scored = (
        F.broadcast(qa)
        .crossJoin(cand)
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            dot(F.col("qv"), F.col("embedding")).alias("ip"),
            d2aug.alias("d2aug"),
        )
    )
    def top(order, nb_col: str) -> DataFrame:
        return ranked_topk_per(
            scored, ["query_id"], [order, "neighbor_id"], TOPK,
            rk_cast="bigint",
        ).select("query_id", "rk", F.col("neighbor_id").alias(nb_col))

    rd = top(F.col("ip").desc(), "nb_dot")
    ra = top(F.col("d2aug").asc(), "nb_aug")
    return rd.join(ra, ["query_id", "rk"]).select(
        "query_id", "rk", "nb_dot", "nb_aug",
        (F.col("nb_dot") == F.col("nb_aug")).alias("agree"),
    )


# --- simplified silhouette over the trained k-means codebook ----------------

_SQL_CENTS_ONLY = (
    f"""e AS (SELECT vec_id, label, embedding FROM embeddings),
{_SQL_C0},"""
    + ",".join(
        _sql_lloyd_iter(f"c{i - 1}", i) for i in range(1, KMEANS_ITERS + 1)
    )
)


@register(
    "similarity_kmeans_silhouette",
    oracle=f"""
WITH {_SQL_CENTS_ONLY},
dists AS (
  SELECT e.vec_id, c.cid,
         sqrt({sql_sq_dist('e.embedding', 'c.cv')}) AS d
  FROM e CROSS JOIN c{KMEANS_ITERS} c
),
ranked AS (
  SELECT vec_id, cid, d,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn,
         MIN(d) OVER (PARTITION BY vec_id ORDER BY d, cid
                      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS b
  FROM dists
),
sil AS (
  SELECT cid AS cluster_id, d AS a, b,
         CASE WHEN GREATEST(b, d) = 0 THEN 0.0
              ELSE (b - d) / GREATEST(b, d) END AS s
  FROM ranked WHERE rn = 1
)
SELECT cluster_id,
       COUNT(*) AS n_members,
       CAST(SUM(CAST(s AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*)
         AS mean_silhouette,
       CAST(SUM(CAST(a AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*)
         AS mean_own_dist
FROM sil GROUP BY cluster_id
""",
)
def similarity_kmeans_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified (centroid-based) silhouette for the trained k-means
    codebook: per vector, a = distance to its own centroid, b = distance
    to the nearest OTHER centroid, s = (b − a)/max(a, b); reported as
    per-cluster means with membership counts. The standard clustering
    quality score — s near 1 = tight well-separated cells (good IVF
    codebook), s near 0 = boundary-heavy cells (probe count must rise to
    hold recall). Complements similarity_ivf_kmeans (sizes + cohesion)
    with the SEPARATION term, and dedup_cluster_embedding_quality
    (text-cluster tightness) with a codebook-side view.

    The full silhouette needs all pairwise distances (O(n²) — the reason
    the simplified form exists); the centroid form is the one that runs
    at corpus scale, and is the textbook recommendation for k selection
    at scale.

    Deterministic: the codebook is the shared exact-decimal-mean Lloyd
    training (memoized, bit-identical to the unrolled oracle); sqrt is
    IEEE-exact; per-vector a/b come from a total (d, cid) order; means
    are decimal sums.

    Scale shape: one broadcast of k centroids × one corpus scan; the
    per-vector (d, cid) window runs inside the vec_id partition (k rows
    each); output is k rows. Same probe-side cost as a single IVF
    assignment pass — no pair enumeration anywhere.
    """
    ensure_session_conf(spark)
    e = load_table(spark, sf_dir, "embeddings")
    cent = spark.createDataFrame(
        _coarse_cents(spark, sf_dir), "cluster_id int, cv array<float>"
    )
    d2 = sq_dist(F.col("embedding"), F.col("cv"))
    dists = (
        spread(e)
        .crossJoin(F.broadcast(cent))
        .select("vec_id", F.col("cluster_id").alias("cid"), F.sqrt(d2).alias("d"))
    )
    # b: the distance to the next-nearest centroid
    wb = Window.partitionBy("vec_id").orderBy("d", "cid").rowsBetween(
        1, Window.unboundedFollowing
    )
    nearest = ranked_topk_per(
        dists.withColumn("b", F.min("d").over(wb)),
        ["vec_id"], ["d", "cid"], 1, rk_col=None,
    )
    sil = nearest.select(
        F.col("cid").alias("cluster_id"),
        F.col("d").alias("a"),
        "b",
        F.when(F.greatest("b", "d") == 0, F.lit(0.0))
        .otherwise((F.col("b") - F.col("d")) / F.greatest("b", "d"))
        .alias("s"),
    )
    return sil.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        (
            F.sum(F.col("s").cast("decimal(28,12)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mean_silhouette"),
        (
            F.sum(F.col("a").cast("decimal(28,12)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mean_own_dist"),
    )


# --- top-PC variance share (embedding collapse audit) -------------------------

PCA_ITERS = 3  # unrolled power-iteration steps (deterministic fixed plan)
EMB_DIM = 64


def _pca_oracle() -> str:
    iters = []
    prev = "v0"
    for t in range(1, PCA_ITERS + 1):
        iters.append(
            f"w{t} AS (SELECT c.i,\n"
            f"  CAST(SUM(CAST(c.c * {prev}.v AS DECIMAL(28,12))) AS DOUBLE)"
            f" AS w\n"
            f"  FROM c JOIN {prev} ON {prev}.j = c.j GROUP BY c.i),\n"
            f"n{t} AS (SELECT sqrt(CAST(SUM(CAST(w * w AS DECIMAL(28,12)))"
            f" AS DOUBLE)) AS nm FROM w{t}),\n"
            f"v{t} AS (SELECT i AS j, w / n{t}.nm AS v"
            f" FROM w{t} CROSS JOIN n{t})"
        )
        prev = f"v{t}"
    return (
        f"""
WITH x AS (
  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS xi,
         generate_subscripts(embedding, 1) AS i
  FROM embeddings
),
nn AS (SELECT CAST(COUNT(DISTINCT vec_id) AS DOUBLE) AS n FROM x),
mu AS (
  SELECT i, CAST(SUM(CAST(xi AS DECIMAL(28,12))) AS DOUBLE) / nn.n AS mu
  FROM x CROSS JOIN nn GROUP BY i, nn.n
),
p AS (
  SELECT a.i AS i, b.i AS j,
         CAST(SUM(CAST(a.xi * b.xi AS DECIMAL(28,12))) AS DOUBLE) AS sxy
  FROM x a JOIN x b USING (vec_id) GROUP BY 1, 2
),
c AS (
  SELECT p.i, p.j, (p.sxy / nn.n) - (ma.mu * mb.mu) AS c
  FROM p CROSS JOIN nn
  JOIN mu ma ON ma.i = p.i
  JOIN mu mb ON mb.i = p.j
),
v0 AS (SELECT DISTINCT i AS j, CAST(0.125 AS DOUBLE) AS v FROM x),
"""
        + ",\n".join(iters)
        + f""",
lam AS (
  SELECT CAST(SUM(CAST(c.c * va.v * vb.v AS DECIMAL(28,12))) AS DOUBLE)
    AS lam
  FROM c JOIN {prev} va ON va.j = c.i JOIN {prev} vb ON vb.j = c.j
),
tr AS (SELECT CAST(SUM(CAST(c AS DECIMAL(28,12))) AS DOUBLE) AS tr
       FROM c WHERE i = j),
tc AS (SELECT CAST(j AS BIGINT) AS top_coord FROM {prev}
       ORDER BY abs(v) DESC, j LIMIT 1)
SELECT CAST({EMB_DIM} AS BIGINT) AS dim,
       CAST(nn.n AS BIGINT) AS n_vectors,
       lam.lam AS top_eig,
       tr.tr AS trace_total,
       lam.lam / tr.tr AS var_share,
       tc.top_coord
FROM nn CROSS JOIN lam CROSS JOIN tr CROSS JOIN tc
"""
    )


@register("similarity_pca_collapse_audit", oracle=_pca_oracle())
def similarity_pca_collapse_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-collapse audit: the share of total variance captured by
    the TOP principal component of the (centered) embedding covariance,
    estimated by {PCA_ITERS} unrolled power-iteration steps. A healthy
    embedder spreads variance across dimensions (share ~ 1/dim); a
    collapsing one concentrates it (share -> 1) — the standard
    representation-quality canary next to the k-means silhouette.

    Everything runs in ROW form (no matrix collect): covariance is one
    token-grain explode + a per-vector self-join aggregated to dim² rows
    through DECIMAL(28,12); each power step is one join + one keyed
    decimal aggregate on the dim-row vector; the Rayleigh quotient and
    trace are two more tiny decimal sums. The unrolled-iteration oracle
    follows the Lloyd-kmeans precedent (same fixed v0 = uniform unit
    vector, same left-assoc product order in both dialects), so every
    emitted double is bit-identical across engines.

    At 100 TB: the explode+self-join is the textbook distributed Gram
    matrix (dim² accumulators, map-side partials); power steps touch
    only dim-sized state. dim, not n, bounds everything downstream of
    the one Gram pass. Lineage discipline: cov, nn and
    every power-step vector are localCheckpoint()ed and v0 is a pure
    literal range, so the FINAL plan contains zero parquet scans — the
    corpus is read exactly once, inside the cov build (was 49 re-scans
    when v's lineage rooted in mu).
    """
    ensure_session_conf(spark)
    from ..catalog import spread

    e = spread(load_table(spark, sf_dir, "embeddings"), "vec_id")
    d12 = lambda c: F.sum(c.cast("decimal(28,12)")).cast("double")  # noqa: E731
    flat = e.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "pos", "xi"
        ),
    ).select("vec_id", (F.col("pos") + 1).alias("i"), "xi")
    nn = flat.agg(
        F.countDistinct("vec_id").cast("double").alias("n")
    ).localCheckpoint()  # 1 row; consumed by mu, cov, and the final select
    mu = (
        flat.groupBy("i")
        .agg(d12(F.col("xi")).alias("sx"))
        .crossJoin(F.broadcast(nn))
        .select("i", (F.col("sx") / F.col("n")).alias("mu"))
    )
    a = flat.select("vec_id", F.col("i").alias("ai"), F.col("xi").alias("ax"))
    b = flat.select("vec_id", F.col("i").alias("bj"), F.col("xi").alias("bx"))
    # the Gram matrix is symmetric: accumulate the upper triangle only
    # (halves the product fan-out), then mirror — the mirrored entry is
    # the SAME order-free decimal sum, so values stay bit-identical to
    # the oracle's full-matrix aggregation.
    p_tri = (
        a.join(b, "vec_id")
        .filter(F.col("ai") <= F.col("bj"))
        .groupBy(F.col("ai").alias("i"), F.col("bj").alias("j"))
        .agg(d12(F.col("ax") * F.col("bx")).alias("sxy"))
    )
    p = p_tri.unionByName(
        p_tri.filter(F.col("i") < F.col("j")).select(
            F.col("j").alias("i"), F.col("i").alias("j"), "sxy"
        )
    )
    cov = (
        p.crossJoin(F.broadcast(nn))
        .join(F.broadcast(mu.select(F.col("i"), F.col("mu").alias("mu_i"))), "i")
        .join(
            F.broadcast(
                mu.select(F.col("i").alias("j"), F.col("mu").alias("mu_j"))
            ),
            "j",
        )
        .select(
            "i",
            "j",
            ((F.col("sxy") / F.col("n")) - (F.col("mu_i") * F.col("mu_j"))).alias(
                "c"
            ),
        )
        .localCheckpoint()  # dim² rows; reused by 3 power steps + λ + trace
    )
    # v0 is the uniform unit vector over coordinates 1..dim — a pure
    # literal (spark.range), NOT a projection of mu: the init needs no
    # data, and rooting it in mu would drag the full parquet-scan lineage
    # into every unrolled step (the r9 49-scan plan defect). Each step's
    # v is localCheckpoint()ed (64 rows) so λ / top-coord / the next step
    # re-derive nothing beyond the cov checkpoint.
    v = spark.range(1, EMB_DIM + 1).select(
        F.col("id").alias("j"), F.lit(0.125).alias("v")
    )
    for _ in range(PCA_ITERS):
        w = (
            cov.join(F.broadcast(v), "j")
            .groupBy("i")
            .agg(d12(F.col("c") * F.col("v")).alias("w"))
            .localCheckpoint()  # dim rows; consumed twice (norm + scale)
        )
        nrm = w.agg(F.sqrt(d12(F.col("w") * F.col("w"))).alias("nm"))
        v = (
            w.crossJoin(F.broadcast(nrm))
            .select(F.col("i").alias("j"), (F.col("w") / F.col("nm")).alias("v"))
            .localCheckpoint()  # dim rows
        )
    va = v.select(F.col("j").alias("i"), F.col("v").alias("vi"))
    vb = v.select("j", F.col("v").alias("vj"))
    lam = (
        cov.join(F.broadcast(va), "i")
        .join(F.broadcast(vb), "j")
        .agg(d12(F.col("c") * F.col("vi") * F.col("vj")).alias("lam"))
    )
    tr = cov.filter(F.col("i") == F.col("j")).agg(d12(F.col("c")).alias("tr"))
    tc = (
        v.orderBy(F.abs(F.col("v")).desc(), "j")
        .limit(1)
        .select(F.col("j").cast("bigint").alias("top_coord"))
    )
    return (
        nn.crossJoin(lam)
        .crossJoin(tr)
        .crossJoin(tc)
        .select(
            F.lit(EMB_DIM).cast("bigint").alias("dim"),
            F.col("n").cast("bigint").alias("n_vectors"),
            F.col("lam").alias("top_eig"),
            F.col("tr").alias("trace_total"),
            (F.col("lam") / F.col("tr")).alias("var_share"),
            "top_coord",
        )
    )


# MMR diversified re-ranking: greedy, unrolled to MMR_K exact steps in
# both dialects (the greedy recurrence is inherently sequential; k is
# small and fixed, so unrolling IS the distributed form — each step is
# one tiny join over <= |queries| x TOPK rows).
MMR_K = 5
MMR_LAMBDA_SQL = "CAST(0.7 AS DOUBLE)"
MMR_ONE_MINUS_SQL = "CAST(0.3 AS DOUBLE)"


def _mmr_oracle() -> str:
    parts = [
        f"WITH {_SQL_E_Q}, {_SQL_BF},",
        "cands AS (SELECT query_id, neighbor_id AS cand_id, cos_sim AS rel"
        " FROM bf),",
        "psim AS (\n"
        "  SELECT a.query_id, a.cand_id AS c1, b.cand_id AS c2,\n"
        f"         {sql_cosine('ea.embedding', 'eb.embedding')} AS sim\n"
        "  FROM cands a\n"
        "  JOIN cands b ON b.query_id = a.query_id"
        " AND b.cand_id <> a.cand_id\n"
        "  JOIN e ea ON ea.vec_id = a.cand_id\n"
        "  JOIN e eb ON eb.vec_id = b.cand_id\n"
        "),",
        "sel1 AS (\n"
        "  SELECT query_id, cand_id, rel,\n"
        f"         {MMR_LAMBDA_SQL} * rel AS mmr_score,\n"
        "         CAST(1 AS BIGINT) AS rnk\n"
        "  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id\n"
        "          ORDER BY rel DESC, cand_id) AS rn FROM cands) t\n"
        "  WHERE rn = 1\n"
        "),",
        "selected1 AS (SELECT query_id, cand_id FROM sel1),",
    ]
    for i in range(2, MMR_K + 1):
        parts.append(
            f"scored{i} AS (\n"
            "  SELECT c.query_id, c.cand_id, c.rel,\n"
            f"         {MMR_LAMBDA_SQL} * c.rel"
            f" - {MMR_ONE_MINUS_SQL} * MAX(p.sim) AS mmr_score\n"
            "  FROM cands c\n"
            f"  JOIN selected{i - 1} s ON s.query_id = c.query_id\n"
            "  JOIN psim p ON p.query_id = c.query_id"
            " AND p.c1 = c.cand_id AND p.c2 = s.cand_id\n"
            f"  WHERE NOT EXISTS (SELECT 1 FROM selected{i - 1} s2\n"
            "    WHERE s2.query_id = c.query_id"
            " AND s2.cand_id = c.cand_id)\n"
            "  GROUP BY c.query_id, c.cand_id, c.rel\n"
            "),"
        )
        parts.append(
            f"sel{i} AS (\n"
            "  SELECT query_id, cand_id, rel, mmr_score,"
            f" CAST({i} AS BIGINT) AS rnk\n"
            "  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id\n"
            "          ORDER BY mmr_score DESC, cand_id) AS rn"
            f" FROM scored{i}) t\n"
            "  WHERE rn = 1\n"
            "),"
        )
        parts.append(
            f"selected{i} AS (SELECT query_id, cand_id FROM selected{i - 1}"
            f" UNION ALL SELECT query_id, cand_id FROM sel{i}),"
        )
    union = "\nUNION ALL\n".join(
        f"SELECT query_id, rnk, cand_id, rel, mmr_score FROM sel{i}"
        for i in range(1, MMR_K + 1)
    )
    # drop trailing comma of the last CTE
    parts[-1] = parts[-1].rstrip(",")
    return "\n".join(parts) + "\n" + union


@register("similarity_mmr_diversify", oracle=_mmr_oracle())
def similarity_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein, SIGIR'98):
    re-rank each query's brute-force top-{TOPK} into a DIVERSIFIED
    top-{MMR_K} — at each step pick argmax of
    λ·rel(c) − (1−λ)·max_{{s∈selected}} sim(c, s), λ = 0.7. Plain top-k
    returns near-duplicate neighbors (this corpus's clustered
    embeddings guarantee it); MMR is the standard fix in RAG context
    selection and search-result diversification.

    The greedy recurrence is sequential in k, so both engines unroll it
    to {MMR_K} exact algebraic steps (chained CTEs / chained joins) —
    no driver loop over data, no collect; each step is one join over
    ≤ |queries| × {TOPK} rows. Determinism: rel and pairwise sims are
    the shared sequential-fold cosine; each step's score is a fixed
    two-multiply/one-subtract double expression; ties break on cand_id.

    Scale shape: candidates come from the memoized brute-force top-k
    (the expensive part, already charged); MMR itself touches
    |queries| × {TOPK} rows × {MMR_K} steps with a broadcast-size
    selected set — O(q·k²) total work regardless of corpus size. The
    pairwise sim table is q·k² rows, built once and reused by every
    step.
    """
    ensure_session_conf(spark)
    bf = similarity_topk_bruteforce(spark, sf_dir)
    cands = bf.select(
        "query_id",
        F.col("neighbor_id").alias("cand_id"),
        F.col("cos_sim").alias("rel"),
    )
    e = load_table(spark, sf_dir, "embeddings")
    ea = e.select(F.col("vec_id").alias("c1"), F.col("embedding").alias("va"))
    eb = e.select(F.col("vec_id").alias("c2"), F.col("embedding").alias("vb"))
    psim = (
        cands.select("query_id", F.col("cand_id").alias("c1"))
        .join(
            cands.select("query_id", F.col("cand_id").alias("c2")),
            "query_id",
        )
        .filter(F.col("c1") != F.col("c2"))
        .join(ea, "c1")
        .join(eb, "c2")
        .select(
            "query_id",
            "c1",
            "c2",
            cosine(F.col("va"), F.col("vb")).alias("sim"),
        )
        .localCheckpoint()  # q*k^2 rows; every greedy step reuses it
    )
    # each step's pick is one row per query — localCheckpoint it so step
    # i+1's plan starts from a materialized 5-row table instead of
    # re-deriving the whole greedy prefix (an un-checkpointed unroll
    # compounds to O(k!) plan nodes: 321 exchanges at k=5).
    sel = (
        ranked_topk_per(
            cands, ["query_id"], [F.col("rel").desc(), "cand_id"], 1,
            rk_col=None,
        )
        .select(
            "query_id",
            "cand_id",
            "rel",
            (F.lit(0.7) * F.col("rel")).alias("mmr_score"),
            F.lit(1).cast("bigint").alias("rnk"),
        )
        .localCheckpoint()
    )
    outs = [sel]
    selected = sel.select("query_id", "cand_id")
    for i in range(2, MMR_K + 1):
        maxsim = (
            psim.join(
                F.broadcast(selected.withColumnRenamed("cand_id", "c2")),
                ["query_id", "c2"],
            )
            .groupBy("query_id", F.col("c1").alias("cand_id"))
            .agg(F.max("sim").alias("maxsim"))
        )
        scored_i = (
            cands.join(
                F.broadcast(selected), ["query_id", "cand_id"], "left_anti"
            )
            .join(F.broadcast(maxsim), ["query_id", "cand_id"])
            .select(
                "query_id",
                "cand_id",
                "rel",
                (
                    F.lit(0.7) * F.col("rel")
                    - F.lit(0.3) * F.col("maxsim")
                ).alias("mmr_score"),
            )
        )
        sel_i = (
            ranked_topk_per(
                scored_i, ["query_id"], [F.col("mmr_score").desc(), "cand_id"],
                1, rk_col=None,
            )
            .select(
                "query_id",
                "cand_id",
                "rel",
                "mmr_score",
                F.lit(i).cast("bigint").alias("rnk"),
            )
            .localCheckpoint()
        )
        outs.append(sel_i)
        selected = selected.unionByName(
            sel_i.select("query_id", "cand_id")
        )
    out = outs[0].select("query_id", "rnk", "cand_id", "rel", "mmr_score")
    for o in outs[1:]:
        out = out.unionByName(
            o.select("query_id", "rnk", "cand_id", "rel", "mmr_score")
        )
    return out


# --- embedding centroid drift between hash cohorts ---------------------------

DRIFT_TOP_DIMS = 10


@register(
    "similarity_centroid_drift",
    oracle=f"""
WITH cohorts AS (
  SELECT vec_id, embedding,
         CASE WHEN substr(md5('drift:' || CAST(vec_id AS VARCHAR)), 1, 2)
                   < '80'
              THEN 'a' ELSE 'b' END AS cohort
  FROM embeddings
),
dims AS (
  SELECT cohort, unnest(embedding) AS x,
         generate_subscripts(embedding, 1) AS pos
  FROM cohorts
),
mu AS (
  -- CAST(x AS DOUBLE) first: DuckDB's FLOAT->DECIMAL scales in float32;
  -- DOUBLE->DECIMAL rounds the exact value like Spark.
  SELECT cohort, CAST(pos AS BIGINT) AS pos,
         CAST(SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE)
           / COUNT(*) AS m
  FROM dims GROUP BY cohort, pos
),
shift AS (
  SELECT a.pos, a.m AS mu_a, b.m AS mu_b, a.m - b.m AS shift
  FROM (SELECT pos, m FROM mu WHERE cohort = 'a') a
  JOIN (SELECT pos, m FROM mu WHERE cohort = 'b') b USING (pos)
),
gtot AS (
  SELECT CAST(SUM(CAST(shift * shift AS DECIMAL(28,16))) AS DOUBLE)
           AS sq_l2_shift
  FROM shift
)
SELECT s.pos, s.mu_a, s.mu_b, s.shift, g.sq_l2_shift, rk FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY ABS(shift) DESC, pos) AS rk
  FROM shift
) s CROSS JOIN gtot g
WHERE s.rk <= {DRIFT_TOP_DIMS}
""",
)
def similarity_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space DRIFT detector: split the vector corpus into two
    deterministic hash cohorts (the batch analog of yesterday's vs
    today's embedding snapshot), compare per-dimension centroid means,
    and report the global squared-L2 centroid shift plus the
    top-{DRIFT_TOP_DIMS} moving dimensions. The embedding-column
    counterpart of profile_ks_drift / snapshot_distribution_drift:
    scalar-column drift checks never see an encoder regression or a
    feature-space rotation, but the centroid shift does — it's the
    cheapest embedding-health gate a 100 TB vector pipeline can run
    (one pass, d-row output) before anything expensive (re-clustering,
    ANN rebuild) is triggered.

    Deterministic: cohort = md5 gate; per-dim means are exact
    DECIMAL(28,12) sums over doubles divided once; the global shift
    sums shift^2 through DECIMAL(28,16); ranking ties break on pos.

    Scale shape: one posexplode pass to (cohort, dim) grain — map-side
    combinable, output 2*d rows regardless of corpus size; everything
    downstream is d-row arithmetic.
    """
    ensure_session_conf(spark)
    e = load_table(spark, sf_dir, "embeddings")
    cohort = F.when(
        F.substring(
            F.md5(F.concat(F.lit("drift:"), F.col("vec_id").cast("string"))),
            1,
            2,
        )
        < "80",
        F.lit("a"),
    ).otherwise(F.lit("b"))
    dims = e.select(
        cohort.alias("cohort"), F.posexplode("embedding").alias("p0", "x")
    ).select("cohort", (F.col("p0") + 1).cast("bigint").alias("pos"), "x")
    mu = dims.groupBy("cohort", "pos").agg(
        (
            F.sum(F.col("x").cast("double").cast("decimal(28,12)"))
            .cast("double")
            / F.count(F.lit(1))
        ).alias("m")
    )
    shift = (
        mu.filter(F.col("cohort") == "a")
        .select("pos", F.col("m").alias("mu_a"))
        .join(
            mu.filter(F.col("cohort") == "b").select(
                "pos", F.col("m").alias("mu_b")
            ),
            "pos",
        )
        .select(
            "pos", "mu_a", "mu_b", (F.col("mu_a") - F.col("mu_b")).alias("shift")
        )
        .localCheckpoint()  # d rows; feeds the global sum AND the top-k
    )
    glob = shift.agg(
        F.sum((F.col("shift") * F.col("shift")).cast("decimal(28,16)"))
        .cast("double")
        .alias("sq_l2_shift")
    )
    return (
        ranked_topk(
            shift, [F.abs(F.col("shift")).desc(), "pos"], DRIFT_TOP_DIMS,
            rk_cast="bigint",
        )
        .crossJoin(F.broadcast(glob))
        .select("pos", "mu_a", "mu_b", "shift", "sq_l2_shift", "rk")
    )


# --- filtered vector search (pre-filter vs post-filter) + mutual kNN ---------

FILTER_PRED_SQL = "label % 2 = 0"  # the metadata predicate under test


@register(
    "similarity_filtered_ann_recall",
    oracle=f"""
WITH {_SQL_E_Q.strip().lstrip()},
{_SQL_BF.strip()},
exact_f AS (
  SELECT query_id, neighbor_id, rk FROM (
    SELECT q.query_id, e.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.query_id
             ORDER BY {sql_cosine('q.qv', 'e.embedding')} DESC, e.vec_id
           ) AS rk
    FROM q JOIN e ON e.vec_id <> q.query_id AND e.{FILTER_PRED_SQL}
  ) t WHERE rk <= {TOPK}
),
post AS (
  SELECT b.query_id, b.neighbor_id
  FROM bf b JOIN e ON e.vec_id = b.neighbor_id
  WHERE e.{FILTER_PRED_SQL}
),
hits AS (
  SELECT x.query_id, CAST(COUNT(p.neighbor_id) AS BIGINT) AS n_hit
  FROM exact_f x
  LEFT JOIN post p
    ON p.query_id = x.query_id AND p.neighbor_id = x.neighbor_id
  GROUP BY x.query_id
),
ret AS (
  SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_retained
  FROM post GROUP BY query_id
)
SELECT h.query_id,
       COALESCE(r.n_retained, 0) AS n_retained,
       h.n_hit,
       CAST(h.n_hit AS DOUBLE) / {TOPK} AS recall_postfilter,
       COALESCE(r.n_retained, 0) < {TOPK} AS shortfall
FROM hits h LEFT JOIN ret r USING (query_id)
""",
)
def similarity_filtered_ann_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """FILTERED vector search audit: top-{TOPK} under a metadata
    predicate (label % 2 = 0), comparing the two strategies every
    vector store must choose between — PRE-FILTER (apply the predicate
    to candidates, then search: exact, this query's reference answer)
    vs POST-FILTER (search unfiltered top-{TOPK}, then drop
    non-matching hits: cheap but lossy). Per query: how many of the
    unfiltered top-{TOPK} survive the filter (``n_retained``), how many
    of the TRUE filtered top-{TOPK} they cover (``recall_postfilter``),
    and whether the post-filter came up short. With a ~50%-selective
    filter, post-filtering k results leaves ~k/2 — the measured
    shortfall is the standard argument for predicate push-down into the
    ANN probe (filtered IVF lists / filtered HNSW) at 100 TB.

    Deterministic: both rankings are exact cosine with neighbor-id
    tie-breaks; recall is an integer count divided by the constant k.

    Scale shape: the pre-filter pass is the brute-force shape with the
    predicate pushed into the candidate scan (Catalyst pushes it to the
    parquet reader — the 100 TB win this query demonstrates); the
    post-filter side reuses the memoized unfiltered top-k. Output is
    one row per query vector.
    """
    ensure_session_conf(spark)
    e = load_table(spark, sf_dir, "embeddings").withColumn(
        "nrm", norm(F.col("embedding"))
    )
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    # PRE-FILTER: predicate on the candidate side, pushed to the scan.
    cand = e.filter(F.expr(FILTER_PRED_SQL))
    scored = (
        F.broadcast(q)
        .crossJoin(spread(cand))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (
                dot(F.col("qv"), F.col("embedding"))
                / (F.col("qn") * F.col("nrm"))
            ).alias("cos_sim"),
        )
    )
    exact_f = (
        ranked_topk_per(
            scored, ["query_id"],
            [F.col("cos_sim").desc(), F.col("neighbor_id")], TOPK,
        )
        .select("query_id", "neighbor_id")
        .localCheckpoint()  # tiny; joined twice below
    )
    # POST-FILTER: the memoized unfiltered top-k, predicate applied after.
    bf = similarity_topk_bruteforce(spark, sf_dir)
    post = (
        bf.join(
            load_table(spark, sf_dir, "embeddings").select(
                F.col("vec_id").alias("neighbor_id"), "label"
            ),
            "neighbor_id",
        )
        .filter(F.expr(FILTER_PRED_SQL))
        .select("query_id", "neighbor_id")
        .localCheckpoint()
    )
    hits = (
        exact_f.join(
            post.select(
                F.col("query_id").alias("pq"),
                F.col("neighbor_id").alias("pn"),
            ),
            (F.col("query_id") == F.col("pq"))
            & (F.col("neighbor_id") == F.col("pn")),
            "left",
        )
        .groupBy("query_id")
        .agg(F.count("pn").cast("bigint").alias("n_hit"))
    )
    ret = post.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_retained")
    )
    return (
        hits.join(F.broadcast(ret), "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_retained"), F.lit(0))
            .cast("bigint")
            .alias("n_retained"),
            "n_hit",
            (F.col("n_hit").cast("double") / F.lit(TOPK)).alias(
                "recall_postfilter"
            ),
            (
                F.coalesce(F.col("n_retained"), F.lit(0)) < TOPK
            ).alias("shortfall"),
        )
    )


MUTUAL_KNN_K = TOPK  # mutuality tested within the memoized top-k lists


@register(
    "similarity_mutual_knn",
    oracle=f"""
WITH {_SQL_E_Q.strip().lstrip()},
allq AS (SELECT vec_id AS query_id, label, embedding AS qv FROM e),
knn AS (
  SELECT query_id, neighbor_id FROM (
    SELECT a.query_id, b.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (
             PARTITION BY a.query_id
             ORDER BY {sql_cosine('a.qv', 'b.embedding')} DESC, b.vec_id
           ) AS rk
    FROM allq a JOIN e b ON b.label = a.label AND b.vec_id <> a.query_id
  ) t WHERE rk <= {MUTUAL_KNN_K}
),
mutual AS (
  SELECT k1.query_id AS vec_a, k1.neighbor_id AS vec_b
  FROM knn k1 JOIN knn k2
    ON k2.query_id = k1.neighbor_id AND k2.neighbor_id = k1.query_id
  WHERE k1.query_id < k1.neighbor_id
),
deg AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS n_mutual FROM (
    SELECT vec_a AS v FROM mutual UNION ALL SELECT vec_b AS v FROM mutual
  ) t GROUP BY v
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM mutual
)
SELECT d.v AS vec_id, d.n_mutual, t.n_edges,
       CAST(d.n_mutual AS DOUBLE) / {MUTUAL_KNN_K} AS mutuality_rate
FROM deg d CROSS JOIN tot t
""",
)
def similarity_mutual_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MUTUAL k-nearest-neighbor graph over the full vector corpus:
    an edge (a, b) exists iff b is in a's top-{MUTUAL_KNN_K} AND a is
    in b's top-{MUTUAL_KNN_K}, with candidates blocked to each vector's
    coarse cell. Mutual-kNN is the standard symmetrized
    neighborhood graph for clustering and near-dup mining: one-way kNN
    edges are dominated by hubs (a popular vector appears in everyone's
    list without reciprocating), and requiring reciprocity removes
    exactly those hub artifacts — it is the graph SemDeDup-style
    pipelines and manifold methods (e.g. UMAP's fuzzy union) start
    from. Output: per vector, its mutual-edge count and mutuality rate
    (fraction of its k-list that reciprocates), plus the global edge
    count.

    Deterministic: exact cosine ranking with id tie-breaks; the
    mutuality join is exact set intersection on integer pairs.

    Scale shape: candidates are BLOCKED to the vector's coarse cell
    (label = IVF cell id, the same blocking similarity_nn_same_label
    uses), so the scoring join costs sum(cell^2), never n^2 — the exact
    shape an IVF-PQ k-list build has at 100 TB. The reciprocity check
    itself is ONE self-join of the (n x k)-row edge list on the
    reversed key, and the rollup is node-grain.
    """
    ensure_session_conf(spark)
    e = load_table(spark, sf_dir, "embeddings").withColumn(
        "nrm", norm(F.col("embedding"))
    )
    # spread the PROBE side too: Catalyst
    # broadcasts the other (already-spread) side, so the streamed side's
    # single scan split was where every pair's dot product ran — one
    # core. Measured 2.9s -> 0.8s for the knn stage, rows identical.
    a = spread(e).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlbl"),
        F.col("embedding").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    scored = (
        a.join(
            spread(e),
            (F.col("label") == F.col("qlbl"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (
                dot(F.col("qv"), F.col("embedding"))
                / (F.col("qn") * F.col("nrm"))
            ).alias("cos_sim"),
        )
    )
    knn = (
        ranked_topk_per(
            scored, ["query_id"],
            [F.col("cos_sim").desc(), F.col("neighbor_id")], MUTUAL_KNN_K,
        )
        .select("query_id", "neighbor_id")
        .localCheckpoint()  # n x k rows; both sides of the mutuality join
    )
    mutual = (
        knn.alias("k1")
        .join(
            knn.select(
                F.col("query_id").alias("r_q"),
                F.col("neighbor_id").alias("r_n"),
            ),
            (F.col("r_q") == F.col("neighbor_id"))
            & (F.col("r_n") == F.col("query_id")),
        )
        .filter(F.col("query_id") < F.col("neighbor_id"))
        .select(
            F.col("query_id").alias("vec_a"),
            F.col("neighbor_id").alias("vec_b"),
        )
        .localCheckpoint()
    )
    deg = (
        mutual.select(F.col("vec_a").alias("v"))
        .unionAll(mutual.select(F.col("vec_b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_mutual"))
    )
    tot = mutual.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    return (
        deg.crossJoin(F.broadcast(tot))
        .select(
            F.col("v").alias("vec_id"),
            "n_mutual",
            "n_edges",
            (F.col("n_mutual").cast("double") / F.lit(MUTUAL_KNN_K)).alias(
                "mutuality_rate"
            ),
        )
    )
