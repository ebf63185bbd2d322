"""Deduplication operators for LLM training-data pipelines [NORTH-STAR].

Exact (content hash), MinHash+LSH (shingle → minhash → band → bucket-join),
SimHash, and n-gram Jaccard — all pure DataFrame ops on portable md5-derived
hashes (functions/hashing.py), so every sketch is oracle-checkable.

Scale design (100 TB):
- shingling is map-side only (array transform, no window/shuffle per doc);
- candidate generation is a *bucket equi-join* on (band, signature) —
  never an all-pairs cross join; shuffle width = Σ bucket² which LSH keeps
  near-linear for realistic near-dup densities;
- verification joins touch only candidate pairs;
- hot buckets (boilerplate docs) are the known skew risk → AQE skew-join
  handles moderate cases; pathological buckets should be capped upstream
  (drop buckets with > N members — they're boilerplate by definition).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table, spread
from ..functions import hashing as H
from ..functions.ranking import ranked_topk_per
from ..functions.vectors import dot, norm, sql_cosine
from ..memos import Memo
from ..registry import register
from ..session import ensure_session_conf

SHINGLE_W = 3  # 3-word shingles discriminate sharply on the fixture corpus
JACCARD_T = 0.5
COSINE_T = 0.35  # fixture vectors are near-orthogonal; real corpora use ~0.95
# Hot-bucket cap: an LSH/shingle bucket with more members than this is
# boilerplate by definition (its pair fan-out is quadratic and lands on one
# reducer) and is dropped from candidate generation. Mirrored in the DuckDB
# oracles, so the cap semantics themselves are oracle-checked. Fixture
# maxima are 25 (shingle, sf0.1) and 4 (LSH band), so fixture output is
# unchanged; at 100 TB this is the knob that bounds shuffle width.
PAIR_BUCKET_CAP = 64

# Shared SQL CTEs for the oracle side: distinct 3-word shingles per doc
# (window formulation — same result as the Spark array formulation).
_SQL_SHINGLES = """
wp AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS w,
         generate_subscripts(string_split(text, ' '), 1) AS i
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id,
         w || ' ' || LEAD(w) OVER win || ' ' || LEAD(w, 2) OVER win AS s
  FROM wp
  WINDOW win AS (PARTITION BY doc_id ORDER BY i)
  QUALIFY LEAD(w, 2) OVER win IS NOT NULL
)
"""


def shingle_docs(docs: DataFrame, w: int = SHINGLE_W) -> DataFrame:
    """(doc_id, s): distinct w-word shingles per doc.

    `sequence(1, n-w+1)` + element_at indexing instead of a posexplode +
    window pass keeps shingling per-row; `spread` (catalog.py) buys
    compute parallelism for the expensive md5/concat work.
    """
    docs = spread(docs, "doc_id")
    words = F.split(F.col("text"), " ")
    n = F.size(words)
    idx = F.sequence(F.lit(1), n - (w - 1))
    mk = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(words, i + k) for k in range(w)]
    )
    arr = F.when(n >= w, F.transform(idx, mk)).otherwise(
        F.array().cast("array<string>")
    )
    return docs.select("doc_id", F.explode(F.array_distinct(arr)).alias("s"))


# The corpus shingle pass: (doc_id, s, code) — distinct 3-word shingles
# plus the portable md5 token code, localCheckpointed once per (app,
# sf_dir). Fourteen registered queries start from this subtree (explode
# + md5 per shingle), several on both branches of a diamond (the
# inverted index and the per-doc sizes), so each pays one block-manager
# read instead. At 100 TB this is the persisted shingle table a dedup
# pipeline builds first; the bench charges the cold build to its
# memo_build_dedup_shingles row, so warm per-query numbers stay honest.
_SHINGLES = Memo("dedup_shingles")


def _shingles_memo(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _SHINGLES.get(
        spark,
        sf_dir,
        lambda: shingle_docs(load_table(spark, sf_dir, "documents"))
        .withColumn("code", H.token_code(F.col("s")))
        .localCheckpoint(),
    )


def _sh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized (doc_id, s) shingle table."""
    return _shingles_memo(spark, sf_dir).select("doc_id", "s")


def _coded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized (doc_id, code, s) coded-shingle table."""
    return _shingles_memo(spark, sf_dir).select("doc_id", "code", "s")


def _pairs_from_groups(
    grouped: DataFrame,
    ids_col: str = "ids",
    cap: int = PAIR_BUCKET_CAP,
    observation=None,
) -> DataFrame:
    """(doc_a, doc_b) with doc_a < doc_b: all pairs within each group's
    sorted id array, skipping hot buckets with more than ``cap`` members.

    Pair generation via collect_list + row-wise combination fan-out
    instead of a bucket self-join: the (expensive) subtree feeding the
    groups is computed once, not once per join side, and no second
    shuffle of the full bucket table is needed. The cap bounds the fan-out
    at cap² per bucket — without it one boilerplate bucket at 100 TB is
    quadratic and lands on a single reducer. Pass a ``pyspark.sql.
    Observation`` to record how many buckets were dropped (map-side
    metric, no extra job; read it after the action completes).
    """
    if observation is not None:
        grouped = grouped.observe(
            observation,
            F.sum((F.size(ids_col) > cap).cast("long")).alias("n_dropped_buckets"),
            F.count(F.lit(1)).alias("n_buckets"),
        )
    grouped = grouped.filter(F.size(ids_col) <= cap)
    pair = F.explode(
        F.flatten(
            F.transform(
                F.col(ids_col),
                lambda x, i: F.transform(
                    F.slice(F.col(ids_col), i + 2, F.size(F.col(ids_col))),
                    lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
                ),
            )
        )
    ).alias("p")
    return grouped.select(pair).select("p.doc_a", "p.doc_b")


@register(
    "dedup_exact",
    oracle="""
SELECT doc_id,
       md5(text) AS content_hash,
       md5(array_to_string(list_sort(string_split(text, ' ')), ' ')) AS canon_hash,
       COUNT(*) OVER (PARTITION BY md5(array_to_string(list_sort(string_split(text, ' ')), ' ')))
           AS n_canon_copies
FROM documents
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: raw content hash + canonicalized (sorted-bag-of-words)
    hash, with per-cluster copy counts. Hash-groupBy — one shuffle on the
    hash, O(1) state per group at any scale."""
    ensure_session_conf(spark)
    d = load_table(spark, sf_dir, "documents")
    canon = F.md5(F.concat_ws(" ", F.array_sort(F.split(F.col("text"), " "))))
    out = d.select(
        "doc_id",
        F.md5(F.col("text")).alias("content_hash"),
        canon.alias("canon_hash"),
    )
    return out.withColumn(
        "n_canon_copies", F.count(F.lit(1)).over(Window.partitionBy("canon_hash"))
    )


# Reusable oracle CTE chain: 3-word-shingle Jaccard pairs (jp) over the
# capped inverted index — composed by both the pair query and the
# connected-components clustering oracle.
_SQL_JACCARD_PAIRS = f"""
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
cool AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= {PAIR_BUCKET_CAP}),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  WHERE a.s IN (SELECT s FROM cool)
  GROUP BY 1, 2
),
jp AS (
  SELECT doc_a, doc_b, n_shared,
         n_shared * 1.0 / (sa.n + sb.n - n_shared) AS jaccard
  FROM inter
  JOIN sizes sa ON doc_a = sa.doc_id
  JOIN sizes sb ON doc_b = sb.doc_id
  WHERE n_shared * 1.0 / (sa.n + sb.n - n_shared) >= {JACCARD_T}
)
"""


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
WITH {_SQL_SHINGLES},
{_SQL_JACCARD_PAIRS.strip()}
SELECT doc_a, doc_b, n_shared, jaccard FROM jp
""",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram (3-word shingle) Jaccard near-dup pairs.

    Candidates = pairs sharing ≥1 shingle via shingle equi-join (inverted
    index), then exact Jaccard from integer set sizes — never all-pairs.

    Plan shape: this shape measures 1.5-1.7 s warm in interleaved A/B
    runs (single bench runs have read 1.2-2.1 s from host variance).
    Carrying each doc's set size THROUGH the explode (to skip the sizes
    join-back) is 5× slower, not faster: any
    expression depending on the exploded array forces Spark to keep the
    full array in Generate's requiredChildOutput and copy it into every
    exploded output row — O(shingles × array bytes) per doc. The separate
    sizes aggregate + two broadcast-sized join-backs is the right shape
    on Spark.
    """
    ensure_session_conf(spark)
    return (
        _verified_pairs_memo(spark, sf_dir)
        .filter(F.col("jaccard") >= JACCARD_T)
        .select("doc_a", "doc_b", "n_shared", "jaccard")
    )


def _sql_minhash_sigs() -> str:
    mins = ",\n         ".join(
        f"MIN({H.sql_affine('code', j)}) AS h{j}" for j in range(H.MINHASH_K)
    )
    bands = ",\n".join(
        "  SELECT doc_id, {b} AS band, concat_ws('-', {cols}) AS sig FROM sig".format(
            b=b,
            cols=", ".join(
                f"h{b * H.ROWS_PER_BAND + r}" for r in range(H.ROWS_PER_BAND)
            ),
        )
        for b in range(H.BANDS)
    )
    return f"""
coded AS (
  SELECT doc_id, {H.sql_token_code('s')} AS code FROM sh
),
sig AS (
  SELECT doc_id,
         {mins}
  FROM coded GROUP BY doc_id
),
bands AS (
{" UNION ALL ".join(chunk for chunk in bands.splitlines())}
),
coolb AS (
  SELECT band, sig FROM bands GROUP BY band, sig HAVING COUNT(*) <= {PAIR_BUCKET_CAP}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
  JOIN coolb c ON c.band = a.band AND c.sig = a.sig
)
"""


def _lsh_bands(coded: DataFrame) -> DataFrame:
    """(doc_id, band, sig): the LSH band table — 16 minhashes folded into
    4 bands of 4 rows, one row per (doc, band). Shared by the LSH dedup
    join and the band-occupancy diagnostics."""
    sig = coded.groupBy("doc_id").agg(
        *[
            F.min(H.affine(F.col("code"), j)).alias(f"h{j}")
            for j in range(H.MINHASH_K)
        ]
    )
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(
                "-", *[f"h{b * H.ROWS_PER_BAND + r}" for r in range(H.ROWS_PER_BAND)]
            ).alias("sig"),
        )
        for b in range(H.BANDS)
    ]
    return sig.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bs")
    ).select("doc_id", "bs.band", "bs.sig")


@register(
    "dedup_minhash_lsh",
    oracle=f"""
WITH {_SQL_SHINGLES},
{_sql_minhash_sigs().strip().lstrip()}
,
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_shared
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.s = a.s
  GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b,
       i.n_shared * 1.0 / (sa.n + sb.n - i.n_shared) AS jaccard
FROM inter i
JOIN sizes sa ON i.doc_a = sa.doc_id
JOIN sizes sb ON i.doc_b = sb.doc_id
WHERE i.n_shared * 1.0 / (sa.n + sb.n - i.n_shared) >= {JACCARD_T}
""",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH fuzzy dedup: shingle → 16 minhashes → 4 bands × 4 rows
    → bucket-join candidates → exact-Jaccard verification.

    The LSH band join is the 100 TB path: candidate generation cost follows
    bucket occupancy, not n². The verification step touches only candidate
    pairs. (Identical output contract to dedup_ngram_jaccard above the LSH
    recall threshold — the fixture's near-dup pairs sit at J≈0.99 where
    4×4 banding recall is ~1.)
    """
    ensure_session_conf(spark)

    # LSH buckets → in-bucket pairs, via the process-wide memo (the
    # signature subtree is shared with dedup_lsh_pr_curve)
    cand = _lsh_cand_memo(spark, sf_dir)

    # Verify-join input pruning (it flattened a 4.58x 10x scale
    # curve): only docs that appear in some candidate pair can
    # contribute to n_shared or be looked up for sizes, so the shingle
    # table is semi-joined down to candidate docs BEFORE the two verify
    # joins — the verify cost then tracks candidate mass (LSH's whole
    # point), not corpus size. The candidate-doc list is ≤ 2·|cand| and
    # orders of magnitude under |corpus| at any dup rate worth
    # deduping, hence the broadcast (map-side filter, no shuffle of the
    # full shingle table); at 100 TB with a larger kill list this
    # becomes a bloom-filter pushdown or a bucketed semi-join.
    cand_docs = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh = _sh(spark, sf_dir).join(F.broadcast(cand_docs), "doc_id", "semi")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sha = sh.select(F.col("doc_id").alias("doc_a"), "s")
    shb = sh.select(F.col("doc_id").alias("doc_b"), "s")
    inter = (
        cand.join(sha, "doc_a")
        .join(shb, ["doc_b", "s"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("n_shared") / (F.col("na") + F.col("nb") - F.col("n_shared"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= JACCARD_T)
        .select("doc_a", "doc_b", "jaccard")
    )


@register(
    "dedup_embedding_cosine",
    oracle=f"""
WITH e AS (SELECT vec_id, label, embedding FROM embeddings)
SELECT a.vec_id AS vec_a,
       b.vec_id AS vec_b,
       a.label AS label,
       {sql_cosine('a.embedding', 'b.embedding')} AS cos_sim
FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE {sql_cosine('a.embedding', 'b.embedding')} >= {COSINE_T}
""",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, blocked by coarse cell (label).

    The semantic-dedup step of an LLM data pipeline: two documents are
    near-dups when their embeddings' cosine ≥ threshold. Candidates are
    restricted to the same cell (label equi-join, the IVF/LSH blocking
    shape) — cost Σ cell² instead of n², and at 100 TB the cell becomes a
    partition column so the self-join is co-partitioned with no wide
    shuffle. Cross-cell near-dups are the documented recall tradeoff
    (mitigate with multi-probe assignment upstream).
    """
    ensure_session_conf(spark)
    e = load_table(spark, sf_dir, "embeddings")
    # norms once per vector BEFORE the pair join (numerically identical to
    # per-pair norms — same doubles — but ~3× fewer HOF folds per pair)
    en = e.withColumn("nrm", norm(F.col("embedding")))
    # probe side spread across cores so pair scoring parallelizes; the
    # small build side broadcasts (Catalyst's choice — at scale this
    # becomes a label-co-partitioned sort-merge join with the same code)
    a = spread(en).select(
        F.col("vec_id").alias("vec_a"), "label",
        F.col("embedding").alias("va"), F.col("nrm").alias("na"),
    )
    b = en.select(
        F.col("vec_id").alias("vec_b"), "label",
        F.col("embedding").alias("vb"), F.col("nrm").alias("nb"),
    )
    return (
        a.join(b, "label")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            "label",
            (dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))).alias(
                "cos_sim"
            ),
        )
        .filter(F.col("cos_sim") >= COSINE_T)
    )


def _sql_simhash() -> str:
    sums = ",\n         ".join(
        f"SUM(2 * ({H.sql_affine('code', H.MINHASH_K + k)} % 2) - 1) AS s{k}"
        for k in range(H.SIMHASH_BITS)
    )
    bits = " + ".join(
        f"(CASE WHEN s{k} > 0 THEN {1 << k} ELSE 0 END)"
        for k in range(H.SIMHASH_BITS)
    )
    return f"""
coded AS (
  SELECT doc_id, {H.sql_token_code('s')} AS code FROM sh
),
sums AS (
  SELECT doc_id,
         {sums}
  FROM coded GROUP BY doc_id
),
sim AS (
  SELECT doc_id, CAST({bits} AS BIGINT) AS simhash FROM sums
)
"""


@register(
    "dedup_simhash",
    oracle=f"""
WITH {_SQL_SHINGLES},
{_sql_simhash().strip()}
SELECT doc_id, simhash,
       COUNT(*) OVER (PARTITION BY simhash) AS n_cluster
FROM sim
""",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash signatures over shingles + exact-signature cluster
    sizes. Sign-of-weighted-sum per bit, all integer arithmetic (portable).

    At scale, near-dup retrieval over simhash = band the 32 bits into 4
    bytes and bucket-join per band (hamming ≤ k ⇒ some band equal) — the
    same LSH-join shape as MinHash, never pairwise hamming over n².
    """
    ensure_session_conf(spark)
    coded = _coded(spark, sf_dir)
    sums = coded.groupBy("doc_id").agg(
        *[
            F.sum(
                F.lit(2) * (H.affine(F.col("code"), H.MINHASH_K + k) % 2) - 1
            ).alias(f"s{k}")
            for k in range(H.SIMHASH_BITS)
        ]
    )
    simhash = sum(
        [
            F.when(F.col(f"s{k}") > 0, F.lit(1 << k)).otherwise(F.lit(0))
            for k in range(H.SIMHASH_BITS)
        ],
        start=F.lit(0),
    ).cast("bigint")
    sim = sums.select("doc_id", simhash.alias("simhash"))
    return sim.withColumn(
        "n_cluster", F.count(F.lit(1)).over(Window.partitionBy("simhash"))
    )


@register(
    "dedup_clusters",
    oracle=f"""
WITH RECURSIVE {_SQL_SHINGLES.strip().lstrip()},
{_SQL_JACCARD_PAIRS.strip()},
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM jp
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM jp
),
reach AS (
  SELECT doc_id, doc_id AS r FROM documents
  UNION
  SELECT e.src AS doc_id, rc.r
  FROM edges e JOIN reach rc ON rc.doc_id = e.dst
),
base AS (SELECT doc_id, MIN(r) AS cluster_id FROM reach GROUP BY doc_id)
SELECT doc_id, cluster_id,
       COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM base
""",
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER assignment: connected components over the Jaccard
    near-dup graph via alternating large-star/small-star contraction;
    every document gets (cluster_id = min doc_id in its component,
    cluster_size).

    This is the step that turns pairwise dedup output into the keep-one-
    per-cluster decision a training-data pipeline actually executes.

    Spark shape: :func:`connected_components` — O(log d) rounds instead of
    the O(d) of plain min-label propagation (kept as
    :func:`_cc_min_propagation` for comparison), with two driver-side
    longs per round and per-round `localCheckpoint` lineage truncation.

    Oracle: DuckDB WITH RECURSIVE transitive closure + MIN over reachable
    ids (exact same fixpoint).
    """
    ensure_session_conf(spark)
    labels = _jaccard_cc_labels(spark, sf_dir)

    return labels.select(
        F.col("id").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        F.count(F.lit(1))
        .over(Window.partitionBy("label"))
        .alias("cluster_size"),
    )


# Memos of the three dedup pair/graph intermediates, each a small
# localCheckpoint'd table computed once per (app, sf_dir) and read by
# every consumer in its family. dedup_clusters and dedup_keep_best share
# the exact same CC labels, so the second consumer costs ~0 incremental
# seconds. At 100 TB these are the tables a dedup pipeline persists to
# the lakehouse and every downstream dedup decision reads.
_VERIFIED_PAIRS = Memo("dedup_verified_pairs")
_LSH_CAND = Memo("dedup_lsh_candidates")
_CC_LABELS = Memo("dedup_cc_labels")


def _verified_pairs_memo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, n_shared, jaccard): EVERY co-occurring pair over
    the capped shingle inverted index with its exact Jaccard (no
    threshold), materialized once per (app, sf_dir). This is the single
    expensive subtree of the whole dedup family — the threshold filter
    (ngram pairs, CC edges) and the PR curve all read this tiny
    checkpointed table instead of re-running shingle→index→verify."""

    def build() -> DataFrame:
        sh = _sh(spark, sf_dir)
        sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
        # inverted index: shingle → sorted doc list → co-occurrence
        # pairs. One pass over the shingle table (vs two for a
        # self-join on s).
        inv = (
            sh.groupBy("s")
            .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
            .filter(F.size("ids") > 1)
        )
        inter = _pairs_from_groups(inv).groupBy("doc_a", "doc_b").agg(
            F.count(F.lit(1)).alias("n_shared")
        )
        sa = sizes.select(
            F.col("doc_id").alias("doc_a"), F.col("n").alias("na")
        )
        sb = sizes.select(
            F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")
        )
        jac = F.col("n_shared") / (
            F.col("na") + F.col("nb") - F.col("n_shared")
        )
        return (
            inter.join(sa, "doc_a")
            .join(sb, "doc_b")
            .select("doc_a", "doc_b", "n_shared", jac.alias("jaccard"))
            # checkpoint at full parallelism: AQE coalesces this ~1.1M-row
            # pair table to a handful of partitions (bytes-sized), but its
            # consumers do per-pair decimal arithmetic (bbit estimator,
            # PR curve, agreement scorecards) that is CPU-bound — start
            # them wide (guide §2.5).
            .transform(spread)
            .localCheckpoint()
        )

    return _VERIFIED_PAIRS.get(
        spark, sf_dir, build, parent=_shingles_memo(spark, sf_dir)
    )


def _lsh_cand_memo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b): distinct MinHash-LSH band-bucket candidate pairs,
    materialized once per (app, sf_dir) — shared by dedup_minhash_lsh
    (verification input) and dedup_lsh_pr_curve (candidate-quality
    scoring), so the 16-hash signature subtree runs once per process."""

    def build() -> DataFrame:
        coded = _coded(spark, sf_dir)
        buckets = (
            _lsh_bands(coded)
            .groupBy("band", "sig")
            .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
            .filter(F.size("ids") > 1)
        )
        # NOT spread before checkpoint (unlike the verified-pairs memo):
        # the candidate list is ~hundreds of rows — consumers broadcast
        # it, and 32 near-empty partitions would just add task overhead.
        return _pairs_from_groups(buckets).distinct().localCheckpoint()

    return _LSH_CAND.get(
        spark, sf_dir, build, parent=_shingles_memo(spark, sf_dir)
    )


def _jaccard_pairs_memo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b): the Jaccard near-dup edge list — the thresholded
    projection of :func:`_verified_pairs_memo`; every graph consumer
    (CC labels, triangle count, PageRank, degree histogram) reads it."""
    return (
        _verified_pairs_memo(spark, sf_dir)
        .filter(F.col("jaccard") >= JACCARD_T)
        .select("doc_a", "doc_b")
    )


def _jaccard_cc_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id, label): connected-component labels of the n-gram Jaccard
    near-dup graph over ``documents`` — memoized per (app, sf_dir)."""

    def build() -> DataFrame:
        d = load_table(spark, sf_dir, "documents")
        pairs = _jaccard_pairs_memo(spark, sf_dir)
        edges = pairs.select(
            F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
        )
        labels, _ = connected_components(
            d.select(F.col("doc_id").alias("id")), edges
        )
        return labels.localCheckpoint()

    return _CC_LABELS.get(
        spark, sf_dir, build, parent=_verified_pairs_memo(spark, sf_dir)
    )


def _observed_checkpoint(df: DataFrame) -> tuple[DataFrame, tuple]:
    """Materialize ``df`` (eager localCheckpoint) and return it together
    with a (row_count, xxhash-sum) fingerprint of its (u, v) rows.

    The fingerprint rides the SAME job as the materialization via
    ``df.observe`` (CollectMetricsExec computes map-side accumulators
    during the checkpoint action) — one Spark job per round, not a
    checkpoint job plus a separate ``collect`` job. At 100 TB with
    ~10 star rounds that halves the barrier count of the whole loop.
    """
    from pyspark.sql import Observation

    obs = Observation()
    out = df.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        # decimal sum: exact + overflow-free under ANSI
        F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
    ).localCheckpoint()
    m = obs.get
    return out, (m["n"], m["h"])


def connected_components(
    nodes: DataFrame, edges: DataFrame, max_rounds: int = 50
) -> tuple[DataFrame, int]:
    """Connected components via alternating LARGE-STAR / SMALL-STAR — the
    100 TB-scale algorithm (Kiveris et al., "Connected Components in
    MapReduce and Beyond"): each round contracts chains toward the
    component minimum, converging in O(log d) rounds where plain
    min-propagation needs O(d) (d = component diameter).

    nodes: one column ``id``; edges: ``src``/``dst`` (undirected, either
    orientation, self-loops tolerated). Returns (labels, n_rounds) with
    labels = (id, label = min id of the component).

    Scale shape per round: ONE Spark job — the small-star localCheckpoint
    — with the convergence fingerprint observed during that same job
    (:func:`_observed_checkpoint`), and two groupBy(min) + two equi-join
    shuffles. The large-star output is deliberately NOT distinct'd: the
    downstream groupBy(min) is duplicate-insensitive and the small-star
    output is distinct'd anyway, so the extra shuffle bought nothing
    (r3 ran 3 jobs + 3 shuffle-dedups per round; this runs 1 + 1).
    """
    # Orient u > v (u = larger endpoint), drop self-loops, dedup.
    e, prev = _observed_checkpoint(
        edges.filter(F.col("src") != F.col("dst")).select(
            F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
        ).distinct()
    )

    rounds = 0
    while rounds < max_rounds and prev[0]:
        # LARGE-STAR: for each node x, link every strictly-larger neighbor
        # to m(x) = min(Γ(x) ∪ {x}).  Output is NOT dedup'd — see docstring.
        bidir = e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mn_l = bidir.groupBy("u").agg(F.min("v").alias("mnv"))
        mn_l = mn_l.select("u", F.least("mnv", F.col("u")).alias("m"))
        large = (
            bidir.join(mn_l, "u")
            .filter(F.col("v") > F.col("u"))  # strictly-larger neighbors
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        # SMALL-STAR: for each node x, link its smaller-or-equal neighbors
        # (and x itself) to the minimum of that set.
        mn_s = large.groupBy("u").agg(F.min("v").alias("m"))
        e, cur = _observed_checkpoint(
            large.join(mn_s, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(mn_s.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        rounds += 1
        if cur == prev:
            break
        prev = cur

    star = e.groupBy("u").agg(F.min("v").alias("label"))
    labels = (
        nodes.join(star.select(F.col("u").alias("id"), "label"), "id", "left")
        .select("id", F.coalesce("label", F.col("id")).alias("label"))
    )
    return labels, rounds


def _cc_min_propagation(
    nodes: DataFrame, edges: DataFrame, max_rounds: int = 200
) -> tuple[DataFrame, int]:
    """Plain min-label propagation (one hop per round — O(diameter)
    rounds). Kept as the baseline the star algorithm is tested against;
    identical fixpoint."""
    bidir = edges.select("src", "dst").unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    labels = nodes.select("id", F.col("id").alias("label"))
    rounds = 0
    prev_sum = None
    while rounds < max_rounds:
        nmin = (
            bidir.join(labels.select(F.col("id").alias("dst"), "label"), "dst")
            .groupBy("src")
            .agg(F.min("label").alias("nmin"))
            .select(F.col("src").alias("id"), "nmin")
        )
        labels = (
            labels.join(nmin, "id", "left")
            .select(
                "id",
                F.least(F.col("label"), F.coalesce("nmin", "label")).alias("label"),
            )
            .localCheckpoint()
        )
        rounds += 1
        cur_sum = labels.agg(F.sum("label")).collect()[0][0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels, rounds


@register(
    "dedup_keep_best",
    oracle=f"""
WITH RECURSIVE {_SQL_SHINGLES.strip().lstrip()},
{_SQL_JACCARD_PAIRS.strip()},
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM jp
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM jp
),
reach AS (
  SELECT doc_id, doc_id AS r FROM documents
  UNION
  SELECT e.src AS doc_id, rc.r
  FROM edges e JOIN reach rc ON rc.doc_id = e.dst
),
lab AS (SELECT doc_id, MIN(r) AS cluster_id FROM reach GROUP BY doc_id),
ranked AS (
  SELECT d.doc_id, l.cluster_id, d.n_chars,
         COUNT(*) OVER (PARTITION BY l.cluster_id) AS cluster_size,
         ROW_NUMBER() OVER (PARTITION BY l.cluster_id
                            ORDER BY d.n_chars DESC, d.doc_id) AS rn
  FROM documents d JOIN lab l USING (doc_id)
)
SELECT doc_id, cluster_id, cluster_size, n_chars
FROM ranked WHERE rn = 1
""",
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup DECISION: one canonical document per near-dup cluster —
    the longest (n_chars desc, doc_id tiebreak) member of each connected
    component of the Jaccard graph. This is the keep-list a training-data
    pipeline actually materializes; everything not in it is dropped.

    Scale shape: reuses the memoized component labels from
    :func:`_jaccard_cc_labels` (shared with dedup_clusters — the CC loop
    runs once per process) + one shuffle on cluster_id for the
    per-cluster argmax — `max_by` keeps it an aggregate (no full window
    sort of the cluster members).
    """
    ensure_session_conf(spark)
    d = load_table(spark, sf_dir, "documents")
    labels = _jaccard_cc_labels(spark, sf_dir)
    member = labels.select(
        F.col("id").alias("doc_id"), F.col("label").alias("cluster_id")
    ).join(d.select("doc_id", "n_chars"), "doc_id")
    # per-cluster argmax as an aggregate: (n_chars desc, doc_id asc) ==
    # max over the orderable pair (n_chars, -doc_id)
    return member.groupBy("cluster_id").agg(
        F.max_by(
            F.struct("doc_id", "n_chars"),
            F.struct(F.col("n_chars"), -F.col("doc_id")),
        ).alias("best"),
        F.count(F.lit(1)).alias("cluster_size"),
    ).select(
        F.col("best.doc_id").alias("doc_id"),
        "cluster_id",
        "cluster_size",
        F.col("best.n_chars").alias("n_chars"),
    )


@register(
    "dedup_cross_split_contamination",
    oracle=f"""
WITH {_SQL_SHINGLES.strip().lstrip()},
{_SQL_JACCARD_PAIRS.strip()},
splits AS (
  SELECT doc_id,
         CASE WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) < 'cd'
              THEN 'train'
              WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
              THEN 'valid'
              ELSE 'test' END AS split
  FROM documents
)
SELECT CASE WHEN sa.split = 'test' THEN p.doc_a ELSE p.doc_b END AS test_doc,
       CASE WHEN sa.split = 'test' THEN p.doc_b ELSE p.doc_a END AS train_doc,
       p.jaccard
FROM jp p
JOIN splits sa ON p.doc_a = sa.doc_id
JOIN splits sb ON p.doc_b = sb.doc_id
WHERE (sa.split = 'test' AND sb.split = 'train')
   OR (sa.split = 'train' AND sb.split = 'test')
""",
)
def dedup_cross_split_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test DECONTAMINATION: test-split documents with a near-dup
    (Jaccard ≥ 0.5) in the train split — the leakage check every
    benchmark-safe training pipeline runs before shipping a corpus.

    Composes the deterministic hash split (operators/sampling.py — so the
    splits here are EXACTLY the ones split_train_valid_test assigns) with
    the capped-bucket Jaccard candidate pairs. Scale shape: candidate
    pairs come from the shared inverted-index equi-join (never corpus ×
    corpus); the split table is a projection of documents joined back by
    doc_id — at 100 TB both joins are hash-partitioned on doc_id with the
    pair table orders of magnitude smaller than the corpus.
    """
    ensure_session_conf(spark)
    from .sampling import split_train_valid_test

    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b", "jaccard")
    splits = split_train_valid_test(spark, sf_dir).select("doc_id", "split")
    sa = splits.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("sa"))
    sb = splits.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("sb"))
    j = pairs.join(sa, "doc_a").join(sb, "doc_b")
    cross = j.filter(
        ((F.col("sa") == "test") & (F.col("sb") == "train"))
        | ((F.col("sa") == "train") & (F.col("sb") == "test"))
    )
    return cross.select(
        F.when(F.col("sa") == "test", F.col("doc_a"))
        .otherwise(F.col("doc_b"))
        .alias("test_doc"),
        F.when(F.col("sa") == "test", F.col("doc_b"))
        .otherwise(F.col("doc_a"))
        .alias("train_doc"),
        "jaccard",
    )


@register(
    "docs_minhash_band_stats",
    oracle=f"""
WITH {_SQL_SHINGLES},
{_sql_minhash_sigs().strip().lstrip()},
occ AS (
  SELECT band, sig, CAST(COUNT(*) AS BIGINT) AS bucket_size
  FROM bands GROUP BY band, sig
)
SELECT band,
       bucket_size,
       CAST(COUNT(*) AS BIGINT) AS n_buckets,
       CAST(SUM(bucket_size * (bucket_size - 1) / 2) AS BIGINT)
         AS candidate_pairs
FROM occ
GROUP BY band, bucket_size
""",
)
def docs_minhash_band_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH band-occupancy diagnostics: per band, the bucket-size histogram
    and the candidate-pair volume each size class generates — the tuning
    report for (bands × rows) parameters.

    At 100 TB this is what you run BEFORE the LSH join: candidate pairs
    grow with Σ size², so one hot bucket (all-identical boilerplate docs)
    can dominate the whole join. The histogram is two cheap aggregations
    over the band table (no pair materialization at all); the
    `candidate_pairs` column is exactly the work the capped LSH join
    (PAIR_BUCKET_CAP) would otherwise do.
    """
    ensure_session_conf(spark)
    bands = _lsh_bands(_coded(spark, sf_dir))
    occ = bands.groupBy("band", "sig").agg(
        F.count(F.lit(1)).cast("bigint").alias("bucket_size")
    )
    return occ.groupBy("band", "bucket_size").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.sum(
            F.col("bucket_size") * (F.col("bucket_size") - 1) / 2
        )
        .cast("bigint")
        .alias("candidate_pairs"),
    )


@register(
    "dedup_url_host",
    oracle="""
WITH urls AS (
  SELECT doc_id,
         'https://' ||
         (CASE WHEN doc_id % 2 = 0 THEN upper(source) ELSE source END) ||
         '.example.org/' || lang || '/' || CAST(doc_id % 37 AS VARCHAR) ||
         '?session=' || CAST(doc_id AS VARCHAR) || '&utm_source=feed' AS url
  FROM documents
),
canon AS (
  SELECT doc_id, lower(regexp_replace(url, '\\?.*$', '')) AS canonical_url
  FROM urls
)
SELECT canonical_url,
       CAST(COUNT(*) AS BIGINT) AS n_dupes,
       CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id
FROM canon
GROUP BY canonical_url
""",
)
def dedup_url_host(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization dedup: normalize each document's URL (lowercase
    the scheme/host, strip tracking query parameters) and keep the lowest
    doc_id per canonical URL — the first dedup pass of every web-crawl
    pipeline (exact-URL dedup removes ~40% of a raw crawl before any
    content hashing).

    The fixture synthesizes URLs deterministically from (source, lang,
    doc_id) — mixed-case hosts and per-doc tracking params — so both
    engines derive identical inputs. Scale shape: canonicalization is
    map-side string work; the keep-one is a single hash aggregation on
    the canonical key (same shuffle budget as dedup_exact). Host case is
    normalized with the path here because these fixture paths are
    lowercase; a production canonicalizer lowercases scheme+host only.
    """
    ensure_session_conf(spark)
    d = load_table(spark, sf_dir, "documents")
    host = F.when(
        F.col("doc_id") % 2 == 0, F.upper(F.col("source"))
    ).otherwise(F.col("source"))
    url = F.concat(
        F.lit("https://"),
        host,
        F.lit(".example.org/"),
        F.col("lang"),
        F.lit("/"),
        (F.col("doc_id") % 37).cast("string"),
        F.lit("?session="),
        F.col("doc_id").cast("string"),
        F.lit("&utm_source=feed"),
    )
    canonical = F.lower(F.regexp_replace(url, r"\?.*$", ""))
    return (
        d.select("doc_id", canonical.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_dupes"),
            F.min("doc_id").cast("bigint").alias("keep_doc_id"),
        )
    )


@register(
    "graph_triangle_count",
    oracle=f"""
WITH {_SQL_SHINGLES.strip().lstrip()},
{_SQL_JACCARD_PAIRS.strip()},
e AS (SELECT doc_a AS a, doc_b AS b FROM jp),
wedges AS (
  SELECT e1.a, e1.b, e2.b AS c
  FROM e e1 JOIN e e2 ON e1.b = e2.a
),
tri AS (
  SELECT w.a, w.b, w.c
  FROM wedges w JOIN e e3 ON e3.a = w.a AND e3.b = w.c
)
SELECT CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges,
       CAST((SELECT COUNT(*) FROM wedges) AS BIGINT) AS n_wedges,
       CAST((SELECT COUNT(*) FROM tri) AS BIGINT) AS n_triangles
""",
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count on the near-dup similarity graph — the clustering-
    coefficient ingredient that distinguishes tight duplicate cliques
    from chains (a triangle-dense component is one source document
    copied many times; a chain is drift).

    Classic ordered-edge MR algorithm: edges are stored a<b, wedges are
    an equi-join on the middle vertex, and each wedge is closed by one
    hash lookup of (a, c) — every triangle counted exactly once because
    a<b<c ordering is canonical. Scale shape: two equi-joins keyed on
    vertices; at 100 TB the known refinement (not needed here) is
    degree-ordering edges so high-degree hubs don't fan wedges
    quadratically.
    """
    ensure_session_conf(spark)
    e = _jaccard_pairs_memo(spark, sf_dir).select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    )
    wedges = e.alias("e1").join(
        e.alias("e2"), F.col("e1.b") == F.col("e2.a")
    ).select(F.col("e1.a").alias("a"), F.col("e1.b").alias("b"), F.col("e2.b").alias("c"))
    closer = e.select(F.col("a").alias("ca"), F.col("b").alias("cb"))
    tri = wedges.join(
        closer,
        (F.col("a") == F.col("ca")) & (F.col("c") == F.col("cb")),
    )
    ne = e.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    nw = wedges.agg(F.count(F.lit(1)).cast("bigint").alias("n_wedges"))
    nt = tri.agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    return ne.crossJoin(nw).crossJoin(nt)


@register(
    "graph_pagerank",
    oracle=f"""
WITH {_SQL_SHINGLES.strip().lstrip()},
{_SQL_JACCARD_PAIRS.strip()},
e AS (
  SELECT doc_a AS src, doc_b AS dst FROM jp
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM jp
),
deg AS (SELECT src AS node, COUNT(*) AS deg FROM e GROUP BY src),
r1 AS (
  SELECT e.dst AS node,
         0.15 + 0.85 * CAST(SUM(CAST(1.0 / d.deg AS DECIMAL(18,6)))
                            AS DOUBLE) AS r
  FROM e JOIN deg d ON e.src = d.node
  GROUP BY e.dst
),
r2 AS (
  SELECT e.dst AS node,
         0.15 + 0.85 * CAST(SUM(CAST(r1.r / d.deg AS DECIMAL(18,6)))
                            AS DOUBLE) AS r
  FROM e
  JOIN deg d ON e.src = d.node
  JOIN r1 ON r1.node = e.src
  GROUP BY e.dst
)
SELECT r2.node AS doc_id,
       CAST(deg.deg AS BIGINT) AS degree,
       r2.r AS pagerank
FROM r2 JOIN deg ON deg.node = r2.node
""",
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Damped PageRank (d = 0.85, two synchronous iterations, uniform
    init) over the near-dup similarity graph — ranks the "hub" documents
    whose text radiates through the corpus, the graph-centrality signal
    dedup pipelines use to pick canonical representatives.

    Spark shape: each iteration is ONE equi-join (edges ⋈ ranks on src —
    broadcast-able: the rank table is one row per graph node, far
    smaller than the corpus) followed by ONE hash aggregation keyed on
    dst. Per-term contributions r(u)/deg(u) divide as doubles; the
    cross-engine-deterministic decimal SUM makes the result independent
    of partitioning, so a 1000-executor run and DuckDB agree bitwise.
    Every node of this undirected graph has degree >= 1, so there is no
    dangling-mass term. Iteration count is fixed (unrolled) — the oracle
    unrolls identically; at scale you loop the same two-op round with
    localCheckpoint lineage truncation exactly as connected_components
    does (dedup.py:490).
    """
    ensure_session_conf(spark)
    pairs = _jaccard_pairs_memo(spark, sf_dir)
    e = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    deg = e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    dec6 = lambda c: c.cast("decimal(18,6)")  # noqa: E731

    def step(ranks: DataFrame | None) -> DataFrame:
        ej = e.join(deg, e.src == deg.node).drop("node")
        if ranks is None:  # r0(u) = 1.0 for every node
            term = F.lit(1.0) / F.col("deg")
        else:
            ej = ej.join(ranks.withColumnRenamed("node", "src"), "src")
            term = F.col("r") / F.col("deg")
        return ej.groupBy(F.col("dst").alias("node")).agg(
            (
                F.lit(0.15)
                + F.lit(0.85) * F.sum(dec6(term)).cast("double")
            ).alias("r")
        )

    r2 = step(step(None))
    return r2.join(deg, "node").select(
        F.col("node").alias("doc_id"),
        F.col("deg").cast("bigint").alias("degree"),
        F.col("r").alias("pagerank"),
    )


@register(
    "corpus_source_overlap",
    oracle=f"""
WITH {_SQL_SHINGLES.strip().lstrip()},
h AS (
  SELECT DISTINCT sh.s AS ch, d.source
  FROM sh JOIN documents d USING (doc_id)
),
totals AS (SELECT source, COUNT(*) AS n FROM h GROUP BY source),
shared AS (
  SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_shared
  FROM h a JOIN h b ON a.ch = b.ch AND a.source < b.source
  GROUP BY 1, 2
)
SELECT source_a, source_b,
       CAST(n_shared AS BIGINT) AS n_shared,
       CAST(ta.n AS BIGINT) AS n_a,
       CAST(tb.n AS BIGINT) AS n_b,
       CAST(n_shared AS DOUBLE)
         / CAST(ta.n + tb.n - n_shared AS DOUBLE) AS jaccard
FROM shared
JOIN totals ta ON ta.source = source_a
JOIN totals tb ON tb.source = source_b
""",
)
def corpus_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination report: for every pair of sources, the
    Jaccard overlap of their distinct 3-word-shingle sets — the
    dataset-overlap audit run before mixing crawl snapshots into one
    training corpus (shingle-level, so it sees partial copying that
    whole-document hashing misses).

    Spark-first pair generation: group the (shingle, source) pairs BY
    SHINGLE and expand each shingle's sorted source set combinatorially
    with an array HOF (flatten of nested transforms) — the fan-out is
    bounded by source-count per shingle (≤ #sources, independent of
    corpus size), and no self-join recomputes the shingle subtree. The
    shingles are carried WITH the source column from one scan (no join
    back to documents), and the per-source totals — a #sources-row
    aggregate — are collected and attached as a literal map, so the
    final plan has NO join at all: two aggregation passes over the
    shingle stream and a constant-size lookup. Output is #source-pairs
    rows — constant in corpus size.
    """
    ensure_session_conf(spark)
    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    words = F.split(F.col("text"), " ")
    n = F.size(words)
    idx = F.sequence(F.lit(1), n - (SHINGLE_W - 1))
    mk = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(words, i + k) for k in range(SHINGLE_W)]
    )
    arr = F.when(n >= SHINGLE_W, F.transform(idx, mk)).otherwise(
        F.array().cast("array<string>")
    )
    h = (
        d.select("source", F.explode(F.array_distinct(arr)).alias("ch"))
        .distinct()
    )
    # totals: one row per source — driver-sized at any corpus scale.
    totals = {
        r["source"]: r["n"]
        for r in h.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    tmap = F.create_map(
        *[F.lit(x) for kv in sorted(totals.items()) for x in kv]
    )
    srcs = h.groupBy("ch").agg(
        F.array_sort(F.collect_set("source")).alias("ss")
    )
    pairs = srcs.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ss"),
                    lambda a, i: F.transform(
                        F.slice(
                            F.col("ss"), i + 2, F.greatest(F.size("ss") - i - 1, F.lit(0))
                        ),
                        lambda b: F.struct(
                            a.alias("source_a"), b.alias("source_b")
                        ),
                    ),
                )
            )
        ).alias("p")
    ).select("p.source_a", "p.source_b")
    shared = pairs.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shared")
    )
    n_a = F.element_at(tmap, F.col("source_a")).cast("bigint")
    n_b = F.element_at(tmap, F.col("source_b")).cast("bigint")
    return shared.select(
        "source_a",
        "source_b",
        "n_shared",
        n_a.alias("n_a"),
        n_b.alias("n_b"),
        (
            F.col("n_shared").cast("double")
            / (n_a + n_b - F.col("n_shared")).cast("double")
        ).alias("jaccard"),
    )


@register(
    "text_dup_ngram_coverage",
    oracle=f"""
WITH {_SQL_SHINGLES.strip().lstrip()},
docfreq AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY s),
cover AS (
  SELECT sh.doc_id,
         COUNT(*) AS n_shingles,
         SUM(CASE WHEN df > 1 THEN 1 ELSE 0 END) AS n_shared
  FROM sh JOIN docfreq USING (s)
  GROUP BY sh.doc_id
)
SELECT doc_id,
       CAST(n_shingles AS BIGINT) AS n_shingles,
       CAST(n_shared AS BIGINT) AS n_shared,
       CAST(n_shared AS DOUBLE) / CAST(n_shingles AS DOUBLE)
         AS dup_coverage,
       CAST(n_shared AS DOUBLE) / CAST(n_shingles AS DOUBLE) >= 0.5
         AS flagged
FROM cover
""",
)
def text_dup_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-ngram coverage per document: the fraction of a doc's
    distinct 3-word shingles that occur in at least one OTHER document —
    the RefinedWeb-style "how much of this page is copied text" signal
    that gates documents rather than pairs (complements the pairwise
    Jaccard ops, which only see the top of the similarity range).

    Scale shape: one shingle explode (linear in corpus tokens), one
    hash aggregation for corpus-wide document frequencies, one
    co-partitioned join back on the shingle, one per-doc rollup. The
    shingle df table is the only wide intermediate and it shrinks with
    dedup; no pairwise structure anywhere, so this runs where pairwise
    verification would not (it is the cheap pre-filter BEFORE pair
    generation at 100 TB). df > 1 on DISTINCT per-doc shingles counts
    documents, not occurrences.
    """
    ensure_session_conf(spark)
    sh = _sh(spark, sf_dir)
    docfreq = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    cover = (
        sh.join(docfreq, "s")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.sum(F.when(F.col("df") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_shared"),
        )
    )
    frac = F.col("n_shared").cast("double") / F.col("n_shingles").cast(
        "double"
    )
    return cover.select(
        "doc_id",
        "n_shingles",
        "n_shared",
        frac.alias("dup_coverage"),
        (frac >= 0.5).alias("flagged"),
    )


PR_THRESHOLDS = (0.3, 0.5, 0.7, 0.9)


@register(
    "dedup_lsh_pr_curve",
    oracle=f"""
WITH {_SQL_SHINGLES},
{_sql_minhash_sigs().strip().lstrip()},
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
cool AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= {PAIR_BUCKET_CAP}),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  WHERE a.s IN (SELECT s FROM cool)
  GROUP BY 1, 2
),
j_all AS (
  SELECT doc_a, doc_b,
         n_shared * 1.0 / (sa.n + sb.n - n_shared) AS jaccard
  FROM inter
  JOIN sizes sa ON doc_a = sa.doc_id
  JOIN sizes sb ON doc_b = sb.doc_id
),
flagged AS (
  SELECT j.jaccard, (c.doc_a IS NOT NULL) AS is_cand
  FROM j_all j LEFT JOIN (SELECT DISTINCT doc_a, doc_b FROM cand) c
    USING (doc_a, doc_b)
),
n_cand AS (SELECT COUNT(*) AS nc FROM (SELECT DISTINCT doc_a, doc_b FROM cand)),
curve AS (
  SELECT t.threshold,
         CAST(COUNT(*) FILTER (WHERE jaccard >= t.threshold) AS BIGINT)
           AS n_exact,
         CAST(COUNT(*) FILTER (WHERE jaccard >= t.threshold AND is_cand)
              AS BIGINT) AS n_hits
  FROM flagged, (VALUES {", ".join(f"({t})" for t in PR_THRESHOLDS)})
    AS t(threshold)
  GROUP BY t.threshold
)
SELECT CAST(threshold AS DOUBLE) AS threshold,
       n_exact,
       (SELECT CAST(nc AS BIGINT) FROM n_cand) AS n_cand,
       n_hits,
       CAST(n_hits AS DOUBLE) / (SELECT nc FROM n_cand) AS precision_at_t,
       CASE WHEN n_exact = 0 THEN NULL
            ELSE CAST(n_hits AS DOUBLE) / n_exact END AS recall_at_t
FROM curve
""",
)
def dedup_lsh_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall tuning curve of the 4×4 MinHash-LSH candidate set
    against exact Jaccard at several duplicate thresholds — the report
    that decides the (bands × rows) trade-off BEFORE re-sharding a
    100 TB corpus around new signatures (complements
    docs_minhash_band_stats, which prices the candidate volume; this
    prices its quality).

    Scale shape: the exact side reuses the capped inverted index (pair
    volume bounded by bucket cap, same cap in the oracle) and the LSH
    side the band buckets; both pair tables are tiny relative to the
    corpus, and the curve is one conditional aggregation over exact
    pairs exploded by 4 literal thresholds. Integer counts; divisions
    written identically in both dialects.
    """
    ensure_session_conf(spark)

    # Both pair tables come from the process-wide memos (checkpointed
    # once, shared with the ngram/CC family and dedup_minhash_lsh) —
    # this query is pure candidate-pair-sized arithmetic on top.
    j_all = _verified_pairs_memo(spark, sf_dir).select(
        "doc_a", "doc_b", "jaccard"
    )
    cand = _lsh_cand_memo(spark, sf_dir)
    n_cand = cand.agg(F.count(F.lit(1)).cast("bigint").alias("n_cand"))

    flagged = j_all.join(
        cand.withColumn("is_cand", F.lit(True)), ["doc_a", "doc_b"], "left"
    ).select("jaccard", F.coalesce("is_cand", F.lit(False)).alias("is_cand"))
    thresholds = F.array(*[F.lit(float(t)) for t in PR_THRESHOLDS])
    curve = (
        flagged.select("jaccard", "is_cand", F.explode(thresholds).alias("threshold"))
        .filter(F.col("jaccard") >= F.col("threshold"))
        .groupBy("threshold")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_exact"),
            F.sum(F.col("is_cand").cast("long")).cast("bigint").alias("n_hits"),
        )
    )
    return curve.crossJoin(F.broadcast(n_cand)).select(
        F.col("threshold").cast("double").alias("threshold"),
        "n_exact",
        "n_cand",
        "n_hits",
        (F.col("n_hits").cast("double") / F.col("n_cand")).alias(
            "precision_at_t"
        ),
        F.when(F.col("n_exact") == 0, F.lit(None)).otherwise(
            F.col("n_hits").cast("double") / F.col("n_exact")
        ).alias("recall_at_t"),
    )


@register(
    "dedup_cluster_embedding_quality",
    oracle=f"""
WITH RECURSIVE {_SQL_SHINGLES.strip().lstrip()},
{_SQL_JACCARD_PAIRS.strip()},
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM jp
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM jp
),
reach AS (
  SELECT doc_id, doc_id AS r FROM documents
  UNION
  SELECT e.src AS doc_id, rc.r
  FROM edges e JOIN reach rc ON rc.doc_id = e.dst
),
labels AS (SELECT doc_id, MIN(r) AS cluster_id FROM reach GROUP BY doc_id),
members AS (
  SELECT l.cluster_id, e.vec_id, e.embedding
  FROM labels l JOIN embeddings e ON e.vec_id = l.doc_id
),
dims AS (
  SELECT cluster_id, vec_id,
         CAST(unnest(embedding) AS DOUBLE) AS x,
         generate_subscripts(embedding, 1) AS pos
  FROM members
),
sums AS (
  SELECT cluster_id, pos,
         CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE) AS sv
  FROM dims GROUP BY cluster_id, pos
),
sum_sq AS (
  SELECT cluster_id,
         CAST(SUM(CAST(sv * sv AS DECIMAL(28,12))) AS DOUBLE) AS norm_sum_sq
  FROM sums GROUP BY cluster_id
),
self_sq AS (
  SELECT cluster_id,
         CAST(SUM(CAST(x * x AS DECIMAL(28,12))) AS DOUBLE) AS sum_self_sq,
         COUNT(DISTINCT vec_id) AS n
  FROM dims GROUP BY cluster_id
)
SELECT s.cluster_id,
       CAST(s.n AS BIGINT) AS n_members,
       (q.norm_sum_sq - s.sum_self_sq)
         / (CAST(s.n AS DOUBLE) * (s.n - 1)) AS mean_pair_dot
FROM self_sq s JOIN sum_sq q USING (cluster_id)
WHERE s.n >= 2
""",
)
def dedup_cluster_embedding_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-quality audit composing the near-dup CC labels with the
    embedding table: the mean pairwise dot product WITHIN each
    multi-member cluster via the Σ-vector identity
    (Σ_{i≠j} vi·vj = ||Σv||² − Σ||v||²) — the check that text-derived
    duplicate clusters are also tight in embedding space (a loose
    cluster is a false merge; this catches it with ZERO pair
    enumeration).

    Scale shape: the labels come from the memoized CC computation (zero
    incremental cost after dedup_clusters); the identity needs one
    (cluster, dim) aggregation and two cluster-level rollups — linear in
    Σ member dims, never in member pairs. Decimal sums keep every
    aggregate order-free; the final expression is fixed-form doubles.
    """
    ensure_session_conf(spark)
    labels = _jaccard_cc_labels(spark, sf_dir).select(
        F.col("id").alias("doc_id"), F.col("label").alias("cluster_id")
    )
    e = load_table(spark, sf_dir, "embeddings")
    members = labels.join(
        e, labels.doc_id == e.vec_id
    ).select("cluster_id", "vec_id", "embedding")
    dims = members.select(
        "cluster_id",
        "vec_id",
        F.posexplode("embedding").alias("pos", "xf"),
    ).select(
        "cluster_id", "vec_id", "pos", F.col("xf").cast("double").alias("x")
    )
    sums = dims.groupBy("cluster_id", "pos").agg(
        F.sum(F.col("x").cast("decimal(28,12)")).cast("double").alias("sv")
    )
    sum_sq = sums.groupBy("cluster_id").agg(
        F.sum((F.col("sv") * F.col("sv")).cast("decimal(28,12)"))
        .cast("double")
        .alias("norm_sum_sq")
    )
    self_sq = dims.groupBy("cluster_id").agg(
        F.sum((F.col("x") * F.col("x")).cast("decimal(28,12)"))
        .cast("double")
        .alias("sum_self_sq"),
        F.countDistinct("vec_id").alias("n"),
    )
    return (
        self_sq.filter(F.col("n") >= 2)
        .join(sum_sq, "cluster_id")
        .select(
            "cluster_id",
            F.col("n").cast("bigint").alias("n_members"),
            (
                (F.col("norm_sum_sq") - F.col("sum_self_sq"))
                / (F.col("n").cast("double") * (F.col("n") - 1))
            ).alias("mean_pair_dot"),
        )
    )


@register(
    "graph_degree_distribution",
    oracle=f"""
WITH {_SQL_SHINGLES.strip().lstrip()},
{_SQL_JACCARD_PAIRS.strip()},
deg AS (
  SELECT doc_id, COUNT(*) AS degree FROM (
    SELECT doc_a AS doc_id FROM jp
    UNION ALL
    SELECT doc_b AS doc_id FROM jp)
  GROUP BY doc_id
),
alld AS (
  SELECT d.doc_id, COALESCE(g.degree, 0) AS degree
  FROM documents d LEFT JOIN deg g USING (doc_id)
)
SELECT CAST(degree AS BIGINT) AS degree, COUNT(*) AS n_nodes
FROM alld GROUP BY degree
""",
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the near-dup graph (including degree-0
    documents): how many documents have how many near-duplicates — the
    shape report that sizes every downstream graph pass (a heavy tail
    here predicts hot keys in the CC loop and justifies the bucket cap).

    Scale shape: reuses the memoized checkpointed edge list (computed
    once per process, shared with CC/PageRank/triangles); degrees are
    one hash aggregation over the doubled edge list, the histogram a
    second aggregation over the node-sized degree table, plus one left
    join against the doc-id spine for the degree-0 mass. Nothing here
    touches text again.
    """
    ensure_session_conf(spark)
    d = load_table(spark, sf_dir, "documents")
    pairs = _jaccard_pairs_memo(spark, sf_dir)
    doubled = pairs.select(F.col("doc_a").alias("doc_id")).unionAll(
        pairs.select(F.col("doc_b").alias("doc_id"))
    )
    deg = doubled.groupBy("doc_id").agg(F.count(F.lit(1)).alias("degree"))
    alld = (
        d.select("doc_id")
        .join(deg, "doc_id", "left")
        .select(F.coalesce("degree", F.lit(0)).alias("degree"))
    )
    return alld.groupBy(F.col("degree").cast("bigint").alias("degree")).agg(
        F.count(F.lit(1)).alias("n_nodes")
    )


PREFIX_T = 0.8  # Jaccard threshold for the prefix-filter join
PREFIX_DF_CAP = PAIR_BUCKET_CAP  # vocabulary cap shared with the LSH path


@register(
    "dedup_prefix_filter_join",
    oracle=f"""
WITH {_SQL_SHINGLES.strip().lstrip()},
dfreq AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY s),
shc AS (
  SELECT sh.doc_id, sh.s FROM sh JOIN dfreq USING (s)
  WHERE df <= {PREFIX_DF_CAP}
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM shc GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
  FROM shc a JOIN shc b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_shared,
       n_shared * 1.0 / (sa.n + sb.n - n_shared) AS jaccard
FROM inter
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE n_shared * 1.0 / (sa.n + sb.n - n_shared) >= {PREFIX_T}
""",
)
def dedup_prefix_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity join via prefix filtering (All-Pairs/PPJoin
    family): all document pairs with shingle-Jaccard ≥ 0.8 over the
    df-capped vocabulary — the deterministic alternative to MinHash-LSH
    when the pipeline needs zero false negatives (LSH trades recall for
    cost; the prefix filter is lossless).

    How: sort each document's shingles by global rarity (df asc, then
    shingle); a pair with J ≥ t must share an element among the first
    n - ⌈t·n⌉ + 1 rarest shingles of EACH member (if all overlap sat in
    the suffix, overlap ≤ ⌈t·n⌉ - 1 < t·n contradicts J ≥ t ⟹ o ≥ t·n).
    So candidates = prefix-postings ⋈ full-postings on the shingle — at
    t = 0.8 the prefix is ~20% of each document, so the candidate join
    touches ~4% of the pair volume the full inverted-index join would.

    The ORACLE deliberately does NOT mirror the prefix logic: it is the
    brute-force inverted-index join at the same threshold, so the green
    row proves the prefix filter loses no pair.

    Scale shape: the rarity sort rides INSIDE the per-doc collect
    aggregate (array_sort on (df, s) structs — no window pass), the
    prefix is an array slice, and verification is one candidate-keyed
    join against the per-doc shingle arrays with a map-side
    array_intersect — candidate pairs never explode back to postings.
    df ≤ 64 bounds every posting bucket's fan-out. No signatures, no
    bands, no recall audit needed — exact by construction.
    """
    ensure_session_conf(spark)
    sh = _sh(spark, sf_dir)
    dfreq = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    shc = sh.join(dfreq, "s").filter(F.col("df") <= PREFIX_DF_CAP)

    # per-doc rarity-sorted shingle array + its prefix slice; this ONE
    # small table (a row per doc) feeds every later consumer — the only
    # materialization in the query.
    # prefix length n - ceil(t*n) + 1 with t = 4/5 ⇒ n - (4n+4) div 5 + 1
    docs_arr = (
        shc.groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("df", "s"))).alias("sd"))
        .select(
            "doc_id",
            F.transform("sd", lambda x: x["s"]).alias("arr"),
            F.size("sd").alias("n"),
        )
        .withColumn(
            "prefix", F.slice("arr", 1, F.expr("n - ((4*n+4) div 5) + 1"))
        )
        # spread BEFORE the checkpoint: the groupBy output is AQE-coalesced
        # to one partition at fixture scale, so the two posting explodes
        # and the per-candidate array_intersect verify below would all run
        # single-core; checkpointing 32 partitions parallelizes every
        # downstream consumer (guide §2.5 — compute parallelism, not
        # shuffle bytes, is the constraint here).
        .transform(spread)
        .localCheckpoint()
    )

    pre = docs_arr.select("doc_id", "n", F.explode("prefix").alias("s"))
    full = docs_arr.select(
        F.col("doc_id").alias("doc_f"),
        F.col("n").alias("n_f"),
        F.explode("arr").alias("s"),
    )
    # PPJoin length filter: J ≥ t forces t·na ≤ nb ≤ na/t — prune
    # size-mismatched pairs inside the join before they exist.
    cand = (
        pre.join(full, "s")
        .filter(
            (F.col("doc_id") != F.col("doc_f"))
            & (F.col("n_f") * 5 >= F.col("n") * 4)
            & (F.col("n_f") * 4 <= F.col("n") * 5)
        )
        .select(
            F.least("doc_id", "doc_f").alias("doc_a"),
            F.greatest("doc_id", "doc_f").alias("doc_b"),
        )
        .distinct()
    )

    a = docs_arr.select(
        F.col("doc_id").alias("doc_a"),
        F.col("arr").alias("arr_a"),
        F.col("n").alias("na"),
    )
    b = docs_arr.select(
        F.col("doc_id").alias("doc_b"),
        F.col("arr").alias("arr_b"),
        F.col("n").alias("nb"),
    )
    jac = F.col("n_shared") / (F.col("na") + F.col("nb") - F.col("n_shared"))
    # The per-doc array table is docs × ~1 KB — broadcast both verify
    # sides so candidate pairs never shuffle array payloads (at corpus
    # scale this becomes a bucketed hash join on doc_id; the plan shape
    # is otherwise identical).
    return (
        cand.join(F.broadcast(a), "doc_a")
        .join(F.broadcast(b), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("arr_a", "arr_b"))
            .cast("bigint")
            .alias("n_shared"),
            "na",
            "nb",
        )
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= PREFIX_T)
        .select("doc_a", "doc_b", "n_shared", "jaccard")
    )


@register(
    "dedup_lsh_vs_exact_agreement",
    oracle=f"""
WITH {_SQL_SHINGLES.strip().lstrip()},
{_SQL_JACCARD_PAIRS.strip()},
{_sql_minhash_sigs().strip().lstrip()},
lsh_sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
lsh_inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_shared
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.s = a.s
  GROUP BY 1, 2
),
lshv AS (
  SELECT i.doc_a, i.doc_b
  FROM lsh_inter i
  JOIN lsh_sizes sa ON i.doc_a = sa.doc_id
  JOIN lsh_sizes sb ON i.doc_b = sb.doc_id
  WHERE i.n_shared * 1.0 / (sa.n + sb.n - i.n_shared) >= {JACCARD_T}
),
ex AS (SELECT doc_a, doc_b FROM jp),
agree AS (
  SELECT
    (SELECT COUNT(*) FROM ex) AS n_exact,
    (SELECT COUNT(*) FROM lshv) AS n_lsh,
    (SELECT COUNT(*) FROM ex JOIN lshv USING (doc_a, doc_b)) AS n_both
)
SELECT n_exact, n_lsh, n_both,
       CAST(n_both AS DOUBLE) / n_exact AS recall_vs_exact,
       CAST(n_both AS DOUBLE) / n_lsh AS precision_vs_exact,
       CAST(n_both AS DOUBLE) / (n_exact + n_lsh - n_both)
         AS pair_set_jaccard
FROM agree
""",
)
def dedup_lsh_vs_exact_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Agreement report between the two production dedup paths: the
    exact inverted-index pairs (dedup_ngram_jaccard) and the
    MinHash-LSH verified pairs (dedup_minhash_lsh), as set-overlap
    counts plus recall / precision / pair-set Jaccard — the one-row
    scorecard that decides whether the cheap LSH path may replace the
    exact path for a given corpus (complements dedup_lsh_pr_curve,
    which scores the UNVERIFIED candidate set across thresholds).

    Scale shape: both pair sets come from process-wide memos
    (_verified_pairs_memo; _lsh_cand_memo feeding the verification
    join), so this report costs three counts over candidate-pair-sized
    tables plus one pair-keyed join. The two paths' n_shared semantics
    differ deliberately (capped vocabulary vs full shingle sets) —
    exactly the discrepancy a production scorecard must price.
    """
    ensure_session_conf(spark)
    ex = _jaccard_pairs_memo(spark, sf_dir)
    # pin the LSH-verified pair set once: it feeds BOTH the n_lsh count
    # and the intersection join, and Spark recomputes diamond subtrees
    # per use (the verification join is the expensive branch; the pinned
    # result is a tiny pair table)
    lshv = (
        dedup_minhash_lsh(spark, sf_dir)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True)
    )
    both = ex.join(lshv, ["doc_a", "doc_b"])
    counts = (
        ex.agg(F.count(F.lit(1)).alias("n_exact"))
        .crossJoin(lshv.agg(F.count(F.lit(1)).alias("n_lsh")))
        .crossJoin(both.agg(F.count(F.lit(1)).alias("n_both")))
    )
    return counts.select(
        "n_exact",
        "n_lsh",
        "n_both",
        (F.col("n_both").cast("double") / F.col("n_exact")).alias(
            "recall_vs_exact"
        ),
        (F.col("n_both").cast("double") / F.col("n_lsh")).alias(
            "precision_vs_exact"
        ),
        (
            F.col("n_both").cast("double")
            / (F.col("n_exact") + F.col("n_lsh") - F.col("n_both"))
        ).alias("pair_set_jaccard"),
    )


@register(
    "dedup_cluster_size_histogram",
    oracle=f"""
WITH RECURSIVE {_SQL_SHINGLES.strip().lstrip()},
{_SQL_JACCARD_PAIRS.strip()},
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM jp
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM jp
),
reach AS (
  SELECT doc_id, doc_id AS r FROM documents
  UNION
  SELECT e.src AS doc_id, rc.r
  FROM edges e JOIN reach rc ON rc.doc_id = e.dst
),
lab AS (SELECT doc_id, MIN(r) AS cluster_id FROM reach GROUP BY doc_id),
csz AS (SELECT cluster_id, COUNT(*) AS sz FROM lab GROUP BY cluster_id)
SELECT CAST(sz AS BIGINT) AS cluster_size,
       COUNT(*) AS n_clusters,
       CAST(sz * COUNT(*) AS BIGINT) AS n_docs
FROM csz GROUP BY sz
""",
)
def dedup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster-size histogram: how many clusters of each size
    the Jaccard graph produces and how much of the corpus sits in them —
    the report that predicts dedup savings BEFORE materializing a
    keep-list (a heavy tail here means a boilerplate family worth
    special-casing; all-singletons means near-dup dedup will not pay).

    Scale shape: reads the memoized CC labels (shared with
    dedup_clusters / keep_best / savings — zero incremental subtree),
    then two tiny aggregations: labels→cluster sizes→histogram.
    """
    ensure_session_conf(spark)
    labels = _jaccard_cc_labels(spark, sf_dir)
    csz = labels.groupBy("label").agg(F.count(F.lit(1)).alias("sz"))
    return csz.groupBy(F.col("sz").cast("bigint").alias("cluster_size")).agg(
        F.count(F.lit(1)).alias("n_clusters"),
        (F.col("cluster_size") * F.count(F.lit(1)))
        .cast("bigint")
        .alias("n_docs"),
    )


EVAL_SPLIT_MOD = 17  # doc_id % 17 == 0 -> held-out "benchmark" split
# Contamination threshold as an exact integer fraction (no float
# constant: the predicate is the integer cross-multiplication). A doc is
# contaminated when
# n_in_train / n_shingles >= CONTAM_NUM / CONTAM_DEN, evaluated as
# n_in_train * CONTAM_DEN >= n_shingles * CONTAM_NUM in BOTH engines so
# the flag is exact integer arithmetic, never a float compare.
CONTAM_NUM = 1
CONTAM_DEN = 2


@register(
    "corpus_eval_ngram_overlap",
    oracle=f"""
WITH {_SQL_SHINGLES.strip().lstrip()},
train_sh AS (
  SELECT DISTINCT s FROM sh WHERE doc_id % {EVAL_SPLIT_MOD} <> 0
),
eval_sh AS (
  SELECT doc_id, s FROM sh WHERE doc_id % {EVAL_SPLIT_MOD} = 0
)
SELECT e.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(COUNT(t.s) AS BIGINT) AS n_in_train,
       CAST(COUNT(t.s) AS DOUBLE) / COUNT(*) AS overlap_frac,
       COUNT(t.s) * {CONTAM_DEN} >= COUNT(*) * {CONTAM_NUM} AS contaminated
FROM eval_sh e LEFT JOIN train_sh t ON e.s = t.s
GROUP BY e.doc_id
""",
)
def corpus_eval_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination audit, the n-gram-containment form: treat
    a deterministic slice of the corpus (doc_id % 17 == 0) as the
    held-out eval set and report, per eval document, what fraction of
    its distinct 3-shingles already appears ANYWHERE in the training
    split — the standard pre-training hygiene check (an eval doc whose
    shingles are mostly in-train is contaminated even when no single
    train doc is a near-dup of it, which is why
    dedup_cross_split_contamination's pair-based view cannot subsume
    this set-containment view).

    The contaminated flag uses integer cross-multiplication derived
    from the CONTAM_NUM/CONTAM_DEN fraction (n_in*DEN >= n*NUM) rather
    than a float threshold compare — exact in both engines, and editing
    the constants changes oracle and engine together.

    Scale shape: shingles are the shared `shingle_docs` subtree; the
    train shingle set is a distinct-project; the containment check is
    one equi-join on the shingle (inverted-index shape, shuffles
    |eval shingles| + |train vocabulary|, never a doc x doc pairing).
    At 100 TB the train side becomes a bloom/HLL-backed membership
    structure (sketch_bloom_membership is the priced variant) and the
    join collapses to a map-side filter.
    """
    ensure_session_conf(spark)
    sh = _sh(spark, sf_dir)
    is_eval = (F.col("doc_id") % EVAL_SPLIT_MOD) == 0
    train_sh = sh.filter(~is_eval).select("s").distinct()
    eval_sh = sh.filter(is_eval)
    hit = train_sh.withColumn("__hit", F.lit(1))
    joined = eval_sh.join(hit, "s", "left")
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
        F.count("__hit").cast("bigint").alias("n_in_train"),
        (F.count("__hit").cast("double") / F.count(F.lit(1))).alias(
            "overlap_frac"
        ),
        (
            F.count("__hit") * CONTAM_DEN >= F.count(F.lit(1)) * CONTAM_NUM
        ).alias("contaminated"),
    )


@register(
    "dedup_minhash_containment",
    oracle=f"""
WITH {_SQL_SHINGLES.strip().lstrip()},
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
cool AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= {PAIR_BUCKET_CAP}),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  WHERE a.s IN (SELECT s FROM cool)
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       CAST(n_shared AS BIGINT) AS n_shared,
       CAST(sa.n AS BIGINT) AS na,
       CAST(sb.n AS BIGINT) AS nb,
       n_shared * 1.0 / LEAST(sa.n, sb.n) AS containment,
       n_shared * 1.0 / (sa.n + sb.n - n_shared) < 0.5 AS asymmetric
FROM inter
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE 5 * n_shared >= 4 * LEAST(sa.n, sb.n)
""",
)
def dedup_minhash_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment (subset-duplicate) detection — NOTE: despite the
    registered name (kept for r5 attestation continuity), this is the
    EXACT-containment variant: it reads the capped shingle
    inverted-index pair memo (`_verified_pairs_memo`), no MinHash
    sketching anywhere in the plan. Pairs where the SMALLER
    document's shingles are >= 80% contained in the other — the
    asymmetric near-dup relation Jaccard systematically misses (a tweet
    quoted inside an article has containment ~1.0 but Jaccard ~0, so a
    Jaccard-threshold dedup keeps both and the training set double-counts
    the quoted text). The `asymmetric` flag marks exactly those
    Jaccard-blind pairs.

    The threshold is integer cross-multiplied (5*n_shared >= 4*least) —
    exact in both engines; containment itself is one exact
    BIGINT*1.0/BIGINT division.

    Scale shape: reads the shared capped-inverted-index pair memo
    (`_verified_pairs_memo` provides n_shared; sizes re-join is two
    broadcast-size lookups at fixture scale, a bucketed join at 100 TB) —
    no new pairwise work at all; the whole query is a projection over
    already-materialized candidates.
    """
    ensure_session_conf(spark)
    vp = _verified_pairs_memo(spark, sf_dir)
    sizes = _sh(spark, sf_dir).groupBy(
        "doc_id"
    ).agg(F.count(F.lit(1)).alias("n"))
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    least = F.least("na", "nb")
    return (
        vp.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(5 * F.col("n_shared") >= 4 * least)
        .select(
            "doc_a",
            "doc_b",
            F.col("n_shared").cast("bigint").alias("n_shared"),
            F.col("na").cast("bigint").alias("na"),
            F.col("nb").cast("bigint").alias("nb"),
            (F.col("n_shared") * F.lit(1.0) / least).alias("containment"),
            (F.col("jaccard") < 0.5).alias("asymmetric"),
        )
    )


@register(
    "dedup_pair_mass_audit",
    oracle=f"""
WITH {_SQL_SHINGLES.strip().lstrip()},
b AS (SELECT s, COUNT(*) AS n FROM sh GROUP BY s HAVING COUNT(*) >= 2)
SELECT CAST(length(bin(n)) - 1 AS BIGINT) AS sz_band,
       CAST(COUNT(*) AS BIGINT) AS n_buckets,
       CAST(SUM(n * (n - 1) // 2) AS BIGINT) AS pair_mass,
       CAST(SUM(CASE WHEN n <= {PAIR_BUCKET_CAP} THEN n * (n - 1) // 2
                     ELSE 0 END) AS BIGINT) AS capped_pair_mass,
       CAST(SUM(n) AS BIGINT) AS posting_mass
FROM b
GROUP BY 1
""",
)
def dedup_pair_mass_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair-mass accounting for the exact shingle-verify path: per
    power-of-two posting-list-size band, how many
    shingle buckets there are and how many candidate pairs they generate
    — Σ n·(n−1)/2 raw, and again under the PAIR_BUCKET_CAP hot-bucket
    cut. `capped_pair_mass` IS the work the inverted-index verify join
    (`_verified_pairs_memo`) performs, so this audit is the committed
    cost model for the family's scale curves: when the 10× rehearsal
    shows `dedup_ngram_jaccard` wall growing faster than data, this
    query decomposes whether that is duplicate mass (pair_mass growth in
    the small bands — real near-dup signal that any exact method must
    pay for) or boilerplate concentration (mass migrating into the
    capped top bands — where the cap, not hardware, bounds the join).
    At 100 TB you run this BEFORE the verify pass: it is one linear
    aggregation, and its band profile tells you whether the exact path
    is affordable or the LSH path is mandatory.

    Exactness: bands via length(bin(n))-1 = floor(log2 n) in integer
    string space (identical in both engines — no float log), pair
    counts in BIGINT with integer division (n·(n−1) is always even).

    Scale shape: shared `shingle_docs` subtree → one groupBy(s) count
    (map-side partial agg) → one tiny groupBy over ~20 bands. No joins,
    no pair materialization — the audit of quadratic work is itself
    strictly linear.
    """
    ensure_session_conf(spark)
    sh = _sh(spark, sf_dir)
    b = (
        sh.groupBy("s")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
    )
    pairs = F.expr("n * (n - 1) DIV 2")
    return b.groupBy(
        (F.length(F.bin(F.col("n"))) - 1).cast("bigint").alias("sz_band")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.sum(pairs).cast("bigint").alias("pair_mass"),
        F.sum(
            F.when(F.col("n") <= PAIR_BUCKET_CAP, pairs).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("capped_pair_mass"),
        F.sum("n").cast("bigint").alias("posting_mass"),
    )


NOVELTY_BUCKETS = 10


@register(
    "corpus_ngram_novelty_curve",
    oracle=f"""
WITH {_SQL_SHINGLES.strip().lstrip()},
mx AS (SELECT MAX(doc_id) + 1 AS m FROM documents),
sb AS (
  SELECT s, (sh.doc_id * {NOVELTY_BUCKETS}) // mx.m AS bucket
  FROM sh, mx
),
per_bucket AS (
  SELECT bucket,
         CAST(COUNT(*) AS BIGINT) AS n_shingle_instances,
         CAST(COUNT(DISTINCT s) AS BIGINT) AS n_distinct_shingles
  FROM sb GROUP BY bucket
),
novel AS (
  SELECT first_bucket AS bucket, CAST(COUNT(*) AS BIGINT) AS n_novel
  FROM (SELECT s, MIN(bucket) AS first_bucket FROM sb GROUP BY s) t
  GROUP BY first_bucket
)
SELECT p.bucket, p.n_shingle_instances, p.n_distinct_shingles,
       CAST(COALESCE(n.n_novel, 0) AS BIGINT) AS n_novel_shingles
FROM per_bucket p LEFT JOIN novel n ON p.bucket = n.bucket
""",
)
def corpus_ngram_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus saturation (Heaps'-law) measurement: split the corpus into
    NOVELTY_BUCKETS contiguous doc_id ranges and count, per range, how
    many distinct 3-shingles appear there for the FIRST time — the
    marginal-novelty curve that tells a data buyer whether the next 10%
    of a crawl still contributes vocabulary or is rehashing what the
    first 90% already said (the curve the 10x scale fixture's
    Heaps-law generator is calibrated against, tools/gen_scale10.py).
    A near-flat tail means additional data mostly re-states existing
    n-grams — dedup and mixing decisions should see this BEFORE
    committing the tokens to training.

    All-BIGINT output (instances / distinct / novel per bucket), bucket
    = doc_id·K // (max_id+1) in integer arithmetic — hash-exact across
    engines with no float thresholds anywhere.

    Scale shape: shared `shingle_docs` subtree; first-sight bucket is
    one groupBy(s) MIN (map-side combine), then BOTH sides collapse to
    per-bucket aggregates (≤ NOVELTY_BUCKETS rows each) BEFORE they
    meet — the final join is broadcast-trivial; every shuffle in the
    plan is a LINEAR groupBy of the shingle table, never a
    shingle-granularity join (the first cut joined instances↔first-
    sight on the shingle key; the plan audit flagged the corpus-scale
    join shuffle and this aggregate-then-join shape removed it). At
    100 TB the curve is
    computed per crawl snapshot from the same shingle table the dedup
    family already materializes.
    """
    ensure_session_conf(spark)
    d = load_table(spark, sf_dir, "documents")
    m = d.agg((F.max("doc_id") + 1).alias("m"))
    sh = _sh(spark, sf_dir)
    sb = sh.crossJoin(F.broadcast(m)).select(
        "s",
        F.expr(f"doc_id * {NOVELTY_BUCKETS} DIV m").alias("bucket"),
    )
    per_bucket = sb.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shingle_instances"),
        F.countDistinct("s").cast("bigint").alias("n_distinct_shingles"),
    )
    novel = (
        sb.groupBy("s")
        .agg(F.min("bucket").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_novel"))
    )
    return per_bucket.join(F.broadcast(novel), "bucket", "left").select(
        "bucket",
        "n_shingle_instances",
        "n_distinct_shingles",
        F.coalesce(F.col("n_novel"), F.lit(0))
        .cast("bigint")
        .alias("n_novel_shingles"),
    )


INCR_SPLIT_NUM = 3  # docs with doc_id >= 3/4 of the id space are the
INCR_SPLIT_DEN = 4  # "new batch"; the rest are the standing corpus


@register(
    "dedup_incremental_new_batch",
    oracle=f"""
WITH {_SQL_SHINGLES.strip().lstrip()},
{_SQL_JACCARD_PAIRS.strip()},
mx AS (SELECT (MAX(doc_id) + 1) * {INCR_SPLIT_NUM} // {INCR_SPLIT_DEN}
         AS split FROM documents)
SELECT doc_b AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_corpus_dups,
       MAX(jaccard) AS best_jaccard
FROM jp, mx
WHERE doc_a < mx.split AND doc_b >= mx.split
GROUP BY doc_b
""",
)
def dedup_incremental_new_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (cross-batch) dedup — the query a daily ingest
    actually runs: treat the last quarter of the id space as today's
    batch and report, per NEW document, how many near-duplicates it has
    IN THE STANDING CORPUS and its best Jaccard — new-vs-new duplicates
    deliberately excluded (they are next run's corpus problem; admitting
    one of them today is correct-by-keep-first). The full-corpus pair
    queries answer "how duplicated is the lake"; this answers "which of
    today's documents do we refuse", which is the decision made at
    ingest frequency.

    Scale shape: a pure projection over the shared thresholded pair memo
    (`_verified_pairs_memo` → filter ≥ JACCARD_T) with the split
    predicate — ZERO new pairwise work; at 100 TB you run the expensive
    index against new-batch shingles only, and this query is its output
    contract. The split bound is exact integer arithmetic from the data
    (no engine-specific constant drift).
    """
    ensure_session_conf(spark)
    d = load_table(spark, sf_dir, "documents")
    split_df = d.agg(
        F.expr(
            f"(MAX(doc_id) + 1) * {INCR_SPLIT_NUM} DIV {INCR_SPLIT_DEN}"
        ).alias("split")
    )
    vp = _verified_pairs_memo(spark, sf_dir).filter(
        F.col("jaccard") >= JACCARD_T
    )
    return (
        vp.crossJoin(F.broadcast(split_df))
        .filter(
            (F.col("doc_a") < F.col("split"))
            & (F.col("doc_b") >= F.col("split"))
        )
        .groupBy(F.col("doc_b").alias("doc_id"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_corpus_dups"),
            F.max("jaccard").alias("best_jaccard"),
        )
    )


# --- end-to-end pipeline funnel ----------------------------------------------


@register(
    "corpus_pipeline_funnel",
    oracle=f"""
WITH RECURSIVE {_SQL_SHINGLES.strip().lstrip()},
{_SQL_JACCARD_PAIRS.strip()},
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM jp
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM jp
),
reach AS (
  SELECT doc_id, doc_id AS r FROM documents
  UNION
  SELECT e.src AS doc_id, rc.r
  FROM edges e JOIN reach rc ON rc.doc_id = e.dst
),
cc AS (SELECT doc_id, MIN(r) AS cluster_id FROM reach GROUP BY doc_id),
docs0 AS (
  SELECT doc_id, CAST(length(text) AS BIGINT) AS nc,
         md5(array_to_string(list_sort(string_split(text, ' ')), ' '))
           AS canon
  FROM documents
),
s1 AS (
  SELECT d.* FROM docs0 d
  JOIN (SELECT canon, MIN(doc_id) AS keeper FROM docs0 GROUP BY canon) k
    ON k.canon = d.canon AND k.keeper = d.doc_id
),
s2 AS (
  SELECT s.* FROM s1 s
  JOIN cc ON cc.doc_id = s.doc_id
  JOIN (SELECT c.cluster_id, MIN(t.doc_id) AS keeper
        FROM s1 t JOIN cc c ON c.doc_id = t.doc_id
        GROUP BY c.cluster_id) k
    ON k.cluster_id = cc.cluster_id AND k.keeper = s.doc_id
),
starts AS (
  SELECT doc_id, text,
         unnest(generate_series(1, GREATEST(length(text), 1), 90))
           AS start_pos
  FROM documents
),
chp AS (
  SELECT doc_id, start_pos, md5(substring(text, start_pos, 120)) AS h
  FROM starts
  WHERE length(substring(text, start_pos, 120)) = 120
),
dup_h AS (SELECT h FROM chp GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
dup_starts AS (
  SELECT c.doc_id, c.start_pos,
         c.start_pos - 90 * ROW_NUMBER() OVER (
           PARTITION BY c.doc_id ORDER BY c.start_pos) AS grp
  FROM chp c WHERE c.h IN (SELECT h FROM dup_h)
),
spans AS (
  SELECT doc_id, MAX(start_pos) + 120 - MIN(start_pos) AS span_chars
  FROM dup_starts GROUP BY doc_id, grp
),
dmap AS (
  SELECT doc_id, CAST(SUM(span_chars) AS BIGINT) AS dup_chars
  FROM spans GROUP BY doc_id
),
raw AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS nd, CAST(SUM(nc) AS BIGINT) AS ch
  FROM docs0
),
stages AS (
  SELECT CAST(0 AS BIGINT) AS stage_no, 'raw' AS stage,
         nd AS n_docs, ch AS n_chars
  FROM raw
  UNION ALL
  SELECT 1, 'exact_dedup', CAST(COUNT(*) AS BIGINT),
         CAST(SUM(nc) AS BIGINT)
  FROM s1
  UNION ALL
  SELECT 2, 'fuzzy_dedup', CAST(COUNT(*) AS BIGINT),
         CAST(SUM(nc) AS BIGINT)
  FROM s2
  UNION ALL
  SELECT 3, 'span_excision', CAST((SELECT COUNT(*) FROM s2) AS BIGINT),
         CAST((SELECT SUM(nc) FROM s2)
              - COALESCE((SELECT SUM(m.dup_chars)
                          FROM s2 JOIN dmap m ON m.doc_id = s2.doc_id), 0)
              AS BIGINT)
)
SELECT s.stage_no, s.stage, s.n_docs, s.n_chars,
       CAST(s.n_docs AS DOUBLE) / r.nd AS docs_retained_frac,
       CAST(s.n_chars AS DOUBLE) / r.ch AS chars_retained_frac
FROM stages s CROSS JOIN raw r
""",
)
def corpus_pipeline_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup-pipeline FUNNEL — the accounting report every
    training-data team keeps: documents and characters surviving each
    stage of the standard pipeline, applied in sequence:

      0 raw -> 1 exact dedup (keep MIN doc_id per canonical
      sorted-bag-of-words hash) -> 2 fuzzy dedup (among exact
      survivors, keep MIN doc_id per Jaccard connected component) ->
      3 span excision (subtract each survivor's duplicated-char mass
      from the removal map).

    One table answers "where does the data go" — which stage pays for
    itself, and what fraction of chars the final corpus keeps. Stages
    compose the registered operators' exact semantics (dedup_exact's
    canonical hash, dedup_clusters' CC labels, text_dup_span_merge's
    merged spans), so the funnel is consistent with every per-stage
    query by construction.

    Scale shape: reads the memoized CC label table and the span map's
    linear chunk-hash pass; the keep-rules are two windowed MINs (one
    per blocking key). Nothing here adds pairwise work — the funnel is
    a projection over artifacts the pipeline already maintains. Each
    retained fraction is one IEEE division of exact integer sums.
    """
    ensure_session_conf(spark)
    from .text import _merged_dup_spans

    d = load_table(spark, sf_dir, "documents")
    canon = F.md5(
        F.concat_ws(" ", F.array_sort(F.split(F.col("text"), " ")))
    )
    docs0 = d.select(
        "doc_id",
        F.length("text").cast("bigint").alias("nc"),
        canon.alias("canon"),
    )
    w_canon = Window.partitionBy("canon")
    s1 = (
        docs0.withColumn("keeper", F.min("doc_id").over(w_canon))
        .filter(F.col("doc_id") == F.col("keeper"))
        .drop("keeper")
    )
    labels = _jaccard_cc_labels(spark, sf_dir).select(
        F.col("id").alias("doc_id"), F.col("label").alias("cluster_id")
    )
    w_cl = Window.partitionBy("cluster_id")
    s2 = (
        s1.join(labels, "doc_id")
        .withColumn("keeper", F.min("doc_id").over(w_cl))
        .filter(F.col("doc_id") == F.col("keeper"))
        .drop("keeper", "cluster_id")
    )
    dmap = _merged_dup_spans(spark, sf_dir).groupBy("doc_id").agg(
        F.sum("span_chars").cast("bigint").alias("dup_chars")
    )
    raw = docs0.agg(
        F.count(F.lit(1)).cast("bigint").alias("nd"),
        F.sum("nc").cast("bigint").alias("ch"),
    )

    def _stage(df, no: int, name: str) -> DataFrame:
        return df.agg(
            F.lit(no).cast("bigint").alias("stage_no"),
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("nc").cast("bigint").alias("n_chars"),
        )

    s3_chars = (
        s2.join(dmap, "doc_id", "left")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            (
                F.sum("nc") - F.coalesce(F.sum("dup_chars"), F.lit(0))
            ).cast("bigint").alias("n_chars"),
        )
        .select(
            F.lit(3).cast("bigint").alias("stage_no"),
            F.lit("span_excision").alias("stage"),
            "n_docs",
            "n_chars",
        )
    )
    stages = (
        raw.select(
            F.lit(0).cast("bigint").alias("stage_no"),
            F.lit("raw").alias("stage"),
            F.col("nd").alias("n_docs"),
            F.col("ch").alias("n_chars"),
        )
        .unionByName(_stage(s1, 1, "exact_dedup"))
        .unionByName(_stage(s2, 2, "fuzzy_dedup"))
        .unionByName(s3_chars)
    )
    return stages.crossJoin(F.broadcast(raw)).select(
        "stage_no",
        "stage",
        "n_docs",
        "n_chars",
        (F.col("n_docs").cast("double") / F.col("nd")).alias(
            "docs_retained_frac"
        ),
        (F.col("n_chars").cast("double") / F.col("ch")).alias(
            "chars_retained_frac"
        ),
    )


KCORE_K = 2  # peel threshold: the 2-core keeps only multiply-linked dups
KCORE_ROUNDS = 3  # unrolled peel rounds (fixture converges in 2)


@register(
    "dedup_graph_kcore",
    oracle=f"""
WITH {_SQL_SHINGLES.strip().lstrip()},
{_SQL_JACCARD_PAIRS.strip()},
e0 AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM jp),
d0 AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS c FROM
       (SELECT a AS x FROM e0 UNION ALL SELECT b FROM e0) u GROUP BY x),
r1 AS MATERIALIZED (SELECT x FROM d0 WHERE c < {KCORE_K}),
e1 AS MATERIALIZED (SELECT a, b FROM e0
                    WHERE a NOT IN (SELECT x FROM r1)
                      AND b NOT IN (SELECT x FROM r1)),
d1 AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS c FROM
       (SELECT a AS x FROM e1 UNION ALL SELECT b FROM e1) u GROUP BY x),
r2 AS MATERIALIZED (SELECT x FROM d1 WHERE c < {KCORE_K}),
e2 AS MATERIALIZED (SELECT a, b FROM e1
                    WHERE a NOT IN (SELECT x FROM r2)
                      AND b NOT IN (SELECT x FROM r2)),
d2 AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS c FROM
       (SELECT a AS x FROM e2 UNION ALL SELECT b FROM e2) u GROUP BY x),
r3 AS MATERIALIZED (SELECT x FROM d2 WHERE c < {KCORE_K}),
e3 AS MATERIALIZED (SELECT a, b FROM e2
                    WHERE a NOT IN (SELECT x FROM r3)
                      AND b NOT IN (SELECT x FROM r3))
SELECT * FROM (
  SELECT CAST(1 AS BIGINT) AS round,
         CAST((SELECT COUNT(*) FROM r1) AS BIGINT) AS n_removed,
         CAST((SELECT COUNT(*) FROM e1) AS BIGINT) AS n_edges,
         CAST((SELECT COUNT(DISTINCT x) FROM
               (SELECT a AS x FROM e1 UNION ALL SELECT b FROM e1) u)
              AS BIGINT) AS n_nodes
  UNION ALL
  SELECT 2, CAST((SELECT COUNT(*) FROM r2) AS BIGINT),
         CAST((SELECT COUNT(*) FROM e2) AS BIGINT),
         CAST((SELECT COUNT(DISTINCT x) FROM
               (SELECT a AS x FROM e2 UNION ALL SELECT b FROM e2) u)
              AS BIGINT)
  UNION ALL
  SELECT 3, CAST((SELECT COUNT(*) FROM r3) AS BIGINT),
         CAST((SELECT COUNT(*) FROM e3) AS BIGINT),
         CAST((SELECT COUNT(DISTINCT x) FROM
               (SELECT a AS x FROM e3 UNION ALL SELECT b FROM e3) u)
              AS BIGINT)
) t
""",
)
def dedup_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition ({KCORE_K}-core) of the near-dup similarity
    graph by iterative peeling — the graph-structural dedup signal the
    CC labels can't give: a connected component keeps chains and stars
    (one template touching many one-off variants), while the 2-core
    strips every degree-1 leaf until only multiply-corroborated
    duplicate cliques remain. Rounds report (n_removed, n_edges,
    n_nodes) after each peel; a round with n_removed = 0 is the fixed
    point (the fixture converges after two peels — pinned in tests).

    Peeling is the textbook distributed k-core: per round one degree
    count (groupBy over both edge endpoints) and two anti-joins to drop
    edges touching peeled nodes. Rounds are unrolled like the k-means
    Lloyd rounds (similarity.py) so both engines run the identical
    bounded computation; at 100 TB rounds continue until the removed
    count (a 1-row aggregate, same driver-scalar doctrine as the CC
    convergence check) hits zero — O(peel-depth) passes, each a
    linear-in-edges shuffle keyed by vertex, never pairwise.

    Consumes the shared verified-pairs memo (`_jaccard_pairs_memo`), so
    the graph build is charged once to memo_build_dedup_verified_pairs.
    """
    ensure_session_conf(spark)
    e = _jaccard_pairs_memo(spark, sf_dir).select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    )
    out = []
    for rnd in range(1, KCORE_ROUNDS + 1):
        deg = (
            e.select(F.col("a").alias("x"))
            .unionByName(e.select(F.col("b").alias("x")))
            .groupBy("x")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        # Materialize each round's survivors: the per-round aggregates and
        # the next round all re-read `e`, and without a cut the lineage
        # re-derives every prior round per consumer (branching ~3^rounds).
        # Edge lists are pair-memo-sized — tiny relative to the corpus.
        rm = deg.filter(F.col("c") < KCORE_K).select("x").localCheckpoint()
        e = (
            e.join(rm, e["a"] == rm["x"], "left_anti")
            .join(rm, e["b"] == rm["x"], "left_anti")
            .localCheckpoint()
        )
        nodes = (
            e.select(F.col("a").alias("x"))
            .unionByName(e.select(F.col("b").alias("x")))
            .agg(F.countDistinct("x").cast("bigint").alias("n_nodes"))
        )
        row = (
            rm.agg(F.count(F.lit(1)).cast("bigint").alias("n_removed"))
            .crossJoin(e.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges")))
            .crossJoin(nodes)
            .select(
                F.lit(rnd).cast("bigint").alias("round"),
                "n_removed",
                "n_edges",
                "n_nodes",
            )
        )
        out.append(row)
    res = out[0]
    for r in out[1:]:
        res = res.unionByName(r)
    return res


# --- semi-supervised label propagation over the near-dup graph -------------

_LPA_ROUNDS = 2


def _sql_lpa_round(idx: int) -> str:
    """One synchronous LPA round unrolled in SQL: every node takes the
    modal label over its neighbors' round-(idx-1) labels PLUS its own
    (self-inclusive vote), ties broken by keep-current-label first, then
    the lexicographically smallest label. Self-vote + keep-current is
    the standard stabilized LPA: it damps the 2-cycle oscillation plain
    synchronous LPA exhibits on bipartite subgraphs."""
    return f"""
cnt{idx} AS (
  SELECT e.u AS id, l.lbl, COUNT(*) AS c
  FROM und2 e JOIN l{idx - 1} l ON l.id = e.v
  GROUP BY e.u, l.lbl
),
l{idx} AS (
  SELECT id, lbl FROM (
    SELECT c.id, c.lbl,
           ROW_NUMBER() OVER (
             PARTITION BY c.id
             ORDER BY c.c DESC,
                      CASE WHEN c.lbl = cur.lbl THEN 0 ELSE 1 END,
                      c.lbl) AS rn
    FROM cnt{idx} c JOIN l{idx - 1} cur ON cur.id = c.id
  ) t WHERE rn = 1
)"""


# The LPA CTE chain over the thresholded pair relation `jp`: undirected
# edges (und), edges plus self-loops (und2), initial `lang` labels (l0)
# and _LPA_ROUNDS stabilized rounds (l1..lN). DataFrame twin: _lpa_labels.
_SQL_LPA = f"""und AS (
  SELECT doc_a AS u, doc_b AS v FROM jp
  UNION ALL
  SELECT doc_b AS u, doc_a AS v FROM jp
),
und2 AS (
  SELECT u, v FROM und
  UNION ALL
  SELECT DISTINCT u, u FROM und
),
l0 AS (
  SELECT DISTINCT e.u AS id, d.lang AS lbl
  FROM (SELECT DISTINCT u FROM und) e
  JOIN documents d ON d.doc_id = e.u
),
{",".join(_sql_lpa_round(i) for i in range(1, _LPA_ROUNDS + 1))}"""


def _lpa_labels(
    und: DataFrame, docs: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """(l0, l_final) of `_SQL_LPA` over the undirected edge list ``und``
    (u, v): each node's initial ``lang`` label and its label after
    _LPA_ROUNDS synchronous rounds."""
    und2 = und.unionAll(
        und.select("u").distinct().select("u", F.col("u").alias("v"))
    )
    l0 = (
        und.select("u").distinct()
        .join(docs.select(F.col("doc_id").alias("u"), "lang"), "u")
        .select(F.col("u").alias("id"), F.col("lang").alias("lbl"))
    )
    labels = l0
    for _ in range(_LPA_ROUNDS):
        cnt = (
            und2.join(labels.withColumnRenamed("id", "v"), "v")
            .groupBy(F.col("u").alias("id"), "lbl")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        cur = labels.select("id", F.col("lbl").alias("cur_lbl"))
        keep_cur = F.when(F.col("lbl") == F.col("cur_lbl"), 0).otherwise(1)
        labels = ranked_topk_per(
            cnt.join(cur, "id"), ["id"],
            [F.col("c").desc(), keep_cur, F.col("lbl")], 1, rk_col=None,
        ).select("id", "lbl")
    return l0, labels


@register(
    "graph_label_propagation",
    oracle=f"""
WITH {_SQL_SHINGLES.strip().lstrip()},
{_SQL_JACCARD_PAIRS.strip()},
{_SQL_LPA}
SELECT l0.id AS doc_id, l0.lbl AS lang0,
       l{_LPA_ROUNDS}.lbl AS lang_final,
       l0.lbl <> l{_LPA_ROUNDS}.lbl AS changed
FROM l0 JOIN l{_LPA_ROUNDS} ON l0.id = l{_LPA_ROUNDS}.id
""",
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised label propagation (LPA) over the near-dup graph:
    each connected document synchronously adopts the modal ``lang`` of
    its neighborhood (neighbors + itself) for a fixed number of rounds,
    ties keeping the current label, then smallest label. The classic
    cheap community/label-denoising pass: a mislabeled near-duplicate
    inherits the consensus language of its duplicate cluster — the graph
    analog of the kNN label-noise audit. The self-vote + keep-current
    tie-break is the stabilized LPA variant: plain synchronous LPA
    2-cycles on bipartite subgraphs (a star's hub and leaves swap labels
    forever), which the self-anchored vote damps to a fixed point.

    Deterministic: counts are integers and the (count DESC, is-current,
    label ASC) argmax is a total order, so the unrolled DuckDB twin
    matches exactly.

    Scale shape: reuses the memoized verified-pair edge list (shared
    with CC/PageRank/k-core). Each round is one join of the edge list
    against the node-label table plus one (node, label) hash aggregation
    and a per-node argmax — the same shuffle budget as one PageRank
    iteration, with the label table orders of magnitude smaller than the
    corpus. Fixed round count = bounded passes; convergence detection at
    scale would reuse the CC loop's observe-metric early-exit idiom.
    """
    ensure_session_conf(spark)
    d = load_table(spark, sf_dir, "documents")
    pairs = _jaccard_pairs_memo(spark, sf_dir)
    und = pairs.select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    ).unionAll(pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v")))
    l0, labels = _lpa_labels(und, d)
    return (
        l0.select("id", F.col("lbl").alias("lang0"))
        .join(labels.select("id", F.col("lbl").alias("lang_final")), "id")
        .select(
            F.col("id").alias("doc_id"),
            "lang0",
            "lang_final",
            (F.col("lang0") != F.col("lang_final")).alias("changed"),
        )
    )


# --- decontamination apply + link prediction --------------------------------

# Train-side decontamination: drop a TRAIN doc when >= NUM/DEN of its
# distinct shingles appear in the eval split (integer cross-multiplied,
# same discipline as CONTAM_NUM/DEN).
DECON_NUM = 1
DECON_DEN = 4


@register(
    "corpus_decontam_apply",
    oracle=f"""
WITH {_SQL_SHINGLES.strip().lstrip()},
eval_sh AS (
  SELECT DISTINCT s FROM sh WHERE doc_id % {EVAL_SPLIT_MOD} = 0
),
tr AS (SELECT doc_id, s FROM sh WHERE doc_id % {EVAL_SPLIT_MOD} <> 0),
per AS (
  SELECT t.doc_id, COUNT(*) AS n_sh, COUNT(e.s) AS n_hit
  FROM tr t LEFT JOIN eval_sh e ON t.s = e.s
  GROUP BY t.doc_id
),
flag AS (
  SELECT doc_id, n_hit * {DECON_DEN} >= n_sh * {DECON_NUM} AS dropped
  FROM per
)
SELECT d.source,
       COUNT(*) AS n_train_docs,
       COUNT(*) FILTER (WHERE COALESCE(f.dropped, FALSE)) AS n_dropped,
       COUNT(*) FILTER (WHERE NOT COALESCE(f.dropped, FALSE)) AS n_kept,
       CAST(SUM(d.n_chars) FILTER (WHERE COALESCE(f.dropped, FALSE))
            AS BIGINT) AS chars_dropped,
       CAST(SUM(d.n_chars) FILTER (WHERE NOT COALESCE(f.dropped, FALSE))
            AS BIGINT) AS chars_kept,
       CAST(COUNT(*) FILTER (WHERE COALESCE(f.dropped, FALSE)) AS DOUBLE)
         / COUNT(*) AS drop_rate
FROM documents d LEFT JOIN flag f ON f.doc_id = d.doc_id
WHERE d.doc_id % {EVAL_SPLIT_MOD} <> 0
GROUP BY d.source
""",
)
def corpus_decontam_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination APPLY — the consuming twin of
    corpus_eval_ngram_overlap, run in the direction production actually
    runs it: remove from the TRAIN split every document whose distinct
    3-shingles overlap the held-out eval split by ≥ 25% (integer
    cross-multiplied threshold), and account for what the purge costs
    per source (docs and chars dropped vs kept). This is the standard
    pre-training step (GPT-3 appendix C / Gopher-style n-gram
    decontamination): the overlap AUDIT says how bad it is; this query
    emits the keep-list accounting a pipeline signs off before writing
    the cleaned corpus. Short docs with no shingles (< 3 tokens) cannot
    be contaminated and are kept.

    Scale shape: shares the shingle subtree; the eval shingle set is a
    distinct-project of the (tiny) eval slice; the containment check is
    one inverted-index equi-join + per-doc rollup; the apply itself is a
    broadcast-able doc_id flag joined back to the corpus spine — no doc
    × doc pairing anywhere. At 100 TB the eval shingle set ships as a
    bloom filter and the flag join becomes a map-side membership test.
    """
    ensure_session_conf(spark)
    d = load_table(spark, sf_dir, "documents")
    sh = _sh(spark, sf_dir)
    is_eval = (F.col("doc_id") % EVAL_SPLIT_MOD) == 0
    eval_sh = sh.filter(is_eval).select("s").distinct()
    tr = sh.filter(~is_eval)
    per = (
        tr.join(eval_sh.withColumn("__hit", F.lit(1)), "s", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_sh"),
            F.count("__hit").alias("n_hit"),
        )
    )
    flag = per.select(
        "doc_id",
        (F.col("n_hit") * DECON_DEN >= F.col("n_sh") * DECON_NUM).alias(
            "dropped"
        ),
    )
    train = d.filter((F.col("doc_id") % EVAL_SPLIT_MOD) != 0)
    j = train.join(flag, "doc_id", "left").withColumn(
        "dropd", F.coalesce(F.col("dropped"), F.lit(False))
    )
    return j.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_train_docs"),
        F.sum(F.col("dropd").cast("long")).alias("n_dropped"),
        F.sum((~F.col("dropd")).cast("long")).alias("n_kept"),
        F.sum(F.when(F.col("dropd"), F.col("n_chars")))
        .cast("bigint")
        .alias("chars_dropped"),
        F.sum(F.when(~F.col("dropd"), F.col("n_chars")))
        .cast("bigint")
        .alias("chars_kept"),
        (
            F.sum(F.col("dropd").cast("long")).cast("double")
            / F.count(F.lit(1))
        ).alias("drop_rate"),
    )


RA_SCALE = 1_000_000  # resource-allocation index as exact micro-units
LINKPRED_MIN_SHARED = 3  # weak-tie edge: >= 3 shared shingles


@register(
    "graph_link_prediction",
    oracle=f"""
WITH {_SQL_SHINGLES.strip().lstrip()},
{_SQL_JACCARD_PAIRS.strip()},
ed AS (
  SELECT doc_a, doc_b FROM inter WHERE n_shared >= {LINKPRED_MIN_SHARED}
),
und AS (
  SELECT doc_a AS u, doc_b AS v FROM ed
  UNION ALL
  SELECT doc_b AS u, doc_a AS v FROM ed
),
deg AS (SELECT u, COUNT(*) AS deg FROM und GROUP BY u),
cand AS (
  SELECT e1.u AS doc_a, e2.v AS doc_b,
         CAST(COUNT(*) AS BIGINT) AS n_common,
         CAST(SUM({RA_SCALE} // dg.deg) AS BIGINT) AS ra_micro
  FROM und e1
  JOIN und e2 ON e1.v = e2.u AND e1.u < e2.v
  JOIN deg dg ON dg.u = e1.v
  GROUP BY 1, 2
)
SELECT c.doc_a, c.doc_b, c.n_common, c.ra_micro
FROM cand c
LEFT JOIN ed ON ed.doc_a = c.doc_a AND ed.doc_b = c.doc_b
WHERE ed.doc_a IS NULL
""",
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the WEAK-TIE shingle-sharing graph: edges are
    document pairs sharing ≥ 3 shingles (below the near-dup Jaccard bar
    — the verified-dup graph is a union of cliques, so every wedge there
    closes and prediction is vacuous); for every non-adjacent pair with
    a common neighbor, emit the common-neighbors count and the
    resource-allocation index (Σ 1/deg(z) over shared neighbors z — RA,
    the consistently strongest classic local predictor) in exact
    micro-units (10⁶ // deg summed as BIGINTs — no float accumulation).
    These are the transitive sharing relations thresholding cut: a
    triage list for lowering the dedup threshold, seeding review, or
    densifying clusters before connected components.

    Scale shape: the edge list is a reused projection of the memoized
    candidate-pair table (no new shingle pass); the wedge enumeration is
    one length-2 path self-join whose mass is Σ deg² — the same quantity
    the pair-mass audit prices for LSH buckets, with the hot-node cap
    doctrine (PAIR_BUCKET_CAP) applying unchanged if a hub appears —
    plus a degree join and an anti-join against existing edges.
    """
    ensure_session_conf(spark)
    ed = (
        _verified_pairs_memo(spark, sf_dir)
        .filter(F.col("n_shared") >= LINKPRED_MIN_SHARED)
        .select("doc_a", "doc_b")
    )
    und = ed.select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    ).unionAll(ed.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v")))
    deg = und.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    e1 = und.select(F.col("u").alias("a"), F.col("v").alias("z"))
    e2 = und.select(F.col("u").alias("z"), F.col("v").alias("b"))
    cand = (
        e1.join(e2, "z")
        .filter(F.col("a") < F.col("b"))
        .join(deg.select(F.col("u").alias("z"), "deg"), "z")
        .groupBy(F.col("a").alias("doc_a"), F.col("b").alias("doc_b"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_common"),
            F.sum(F.expr(f"{RA_SCALE} DIV deg")).cast("bigint").alias("ra_micro"),
        )
    )
    return cand.join(ed, ["doc_a", "doc_b"], "left_anti")


# --- b-bit MinHash (storage-compressed signatures, accuracy-audited) --------


@register(
    "dedup_minhash_bbit",
    oracle=f"""
WITH {_SQL_SHINGLES},
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
cool AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= {PAIR_BUCKET_CAP}),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  WHERE a.s IN (SELECT s FROM cool)
  GROUP BY 1, 2
),
pj AS (
  SELECT doc_a, doc_b,
         n_shared * 1.0 / (sa.n + sb.n - n_shared) AS j
  FROM inter
  JOIN sizes sa ON doc_a = sa.doc_id
  JOIN sizes sb ON doc_b = sb.doc_id
),
coded AS (
  SELECT doc_id, {H.sql_token_code('s')} AS code FROM sh
),
sig AS (
  SELECT doc_id,
         {", ".join(f"MIN({H.sql_affine('code', k)}) % 2 AS b{k}" for k in range(H.MINHASH_K))}
  FROM coded GROUP BY doc_id
),
agree AS (
  SELECT p.j,
         ({" + ".join(
             f"(CASE WHEN a.b{k} = b.b{k} THEN 1 ELSE 0 END)"
             for k in range(H.MINHASH_K)
         )}) AS n_agree
  FROM pj p
  JOIN sig a ON a.doc_id = p.doc_a
  JOIN sig b ON b.doc_id = p.doc_b
),
f AS (
  SELECT LEAST(9, CAST(FLOOR(j * 10) AS BIGINT)) AS j_decile, j,
         (2 * n_agree - {H.MINHASH_K}) / {float(H.MINHASH_K)} AS est
  FROM agree
)
SELECT j_decile,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(CAST(j AS DECIMAL(18,12))) AS DOUBLE) / COUNT(*)
         AS mean_jaccard,
       CAST(SUM(CAST(est AS DECIMAL(18,12))) AS DOUBLE) / COUNT(*)
         AS mean_est_1bit,
       CAST(SUM(CAST(ABS(est - j) AS DECIMAL(18,12))) AS DOUBLE) / COUNT(*)
         AS mean_abs_err
FROM f GROUP BY j_decile
""",
)
def dedup_minhash_bbit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """b-bit MinHash (b = 1, Li & Koenig 2010): keep only the LOWEST BIT
    of each of the 16 minhash values — a 64x signature compression at
    billion-doc scale (16 bits vs 16 x 64-bit words per doc) — and audit
    the estimator against exact Jaccard over EVERY co-occurring pair
    (the verified-pairs memo, hot buckets capped), so the error table
    spans the full similarity range, not just the near-dup band. For
    b = 1, E[bit-agreement] = (1 + J) / 2, so J_hat = 2*A - 1 with
    A = agreeing bits / 16. Reported per exact-Jaccard decile: pair
    count, mean exact J, mean 1-bit estimate, mean |error| — the table
    that tells a 100 TB dedup whether compressed signatures can replace
    full ones for its similarity band (high-J bands: yes; low/mid-J
    bands: the ~1/sqrt(k) noise floor shows up exactly as theory says).

    Scale shape: 1-bit signatures are one 16-column aggregate over the
    coded shingle table, semi-joined down to pair docs first (the audit
    never hashes the corpus); the pair universe is the shared
    verified-pairs memo — no new pair enumeration. All hash/agreement
    arithmetic is exact BIGINT; the only doubles are the two
    division-born ratios and their decimal-summed decile means.
    """
    ensure_session_conf(spark)
    vp = _verified_pairs_memo(spark, sf_dir)
    pj = vp.select("doc_a", "doc_b", F.col("jaccard").alias("j"))
    pair_docs = (
        pj.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pj.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    coded = _coded(spark, sf_dir).join(F.broadcast(pair_docs), "doc_id", "semi")
    # PACK the 16 sign bits into one BIGINT at
    # aggregation time (sum of bit_k << k) so the signature table is
    # (doc_id, packed) — 2 columns instead of 17 — and per-pair agreement
    # is one bit_count(XOR) instead of 16 CASE WHEN comparisons. Every
    # affine hash is non-negative ((A*code+B) % P with 0 <= code < 2^32
    # and A,B < P = 1e9+7), so min % 2 is exactly 0/1 and XOR bit
    # agreement is identical to per-column equality — solo-verified
    # row-identical, 5.06 s -> 1.56 s best-of-3 at sf0.1 (the 16-wide
    # checkpoint + broadcast + 16 CASEs per pair was the slow shape).
    # The checkpoint stays: siga/sigb below are
    # two plan branches and the narrow table is block-manager-cheap.
    packed = None
    for k in range(H.MINHASH_K):
        t = (F.min(H.affine(F.col("code"), k)) % 2).cast("long") * F.lit(
            1 << k
        ).cast("long")
        packed = t if packed is None else packed + t
    sig = (
        coded.groupBy("doc_id").agg(packed.alias("packed")).localCheckpoint()
    )
    siga = sig.select(
        F.col("doc_id").alias("doc_a"), F.col("packed").alias("pa")
    )
    sigb = sig.select(
        F.col("doc_id").alias("doc_b"), F.col("packed").alias("pb")
    )
    n_agree = F.lit(H.MINHASH_K) - F.bit_count(
        F.col("pa").bitwiseXOR(F.col("pb"))
    )
    est = (2 * n_agree - H.MINHASH_K).cast("double") / F.lit(
        float(H.MINHASH_K)
    )
    f = (
        pj.join(siga, "doc_a")
        .join(sigb, "doc_b")
        .select(
            F.least(
                F.lit(9).cast("bigint"), F.floor(F.col("j") * 10)
            ).alias("j_decile"),
            "j",
            est.alias("est"),
        )
    )
    dec = lambda c: F.sum(c.cast("decimal(18,12)")).cast("double")  # noqa: E731
    return f.groupBy("j_decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        (dec(F.col("j")) / F.count(F.lit(1))).alias("mean_jaccard"),
        (dec(F.col("est")) / F.count(F.lit(1))).alias("mean_est_1bit"),
        (dec(F.abs(F.col("est") - F.col("j"))) / F.count(F.lit(1))).alias(
            "mean_abs_err"
        ),
    )


# --- dedup cascade funnel (exact -> near-dup, per source) -------------------


@register(
    "corpus_dedup_cascade_report",
    oracle=f"""
WITH RECURSIVE {_SQL_SHINGLES.strip().lstrip()},
{_SQL_JACCARD_PAIRS.strip()},
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM jp
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM jp
),
reach AS (
  SELECT doc_id, doc_id AS r FROM documents
  UNION
  SELECT e.src AS doc_id, rc.r
  FROM edges e JOIN reach rc ON rc.doc_id = e.dst
),
cc AS (SELECT doc_id, MIN(r) AS cluster_id FROM reach GROUP BY doc_id),
ex AS (
  SELECT doc_id, source,
         doc_id = MIN(doc_id) OVER (PARTITION BY md5(text)) AS keep_exact
  FROM documents
),
surv AS (
  SELECT e.doc_id, e.source, c.cluster_id
  FROM ex e JOIN cc c ON c.doc_id = e.doc_id
  WHERE e.keep_exact
),
nd AS (
  SELECT doc_id, source,
         doc_id = MIN(doc_id) OVER (PARTITION BY cluster_id) AS keep_nd
  FROM surv
)
SELECT d.source,
       CAST(COUNT(*) AS BIGINT) AS n_raw,
       CAST(COUNT(*) FILTER (WHERE e.keep_exact) AS BIGINT) AS n_after_exact,
       CAST(COUNT(*) FILTER (WHERE n.keep_nd) AS BIGINT) AS n_after_neardup,
       COUNT(*) FILTER (WHERE n.keep_nd) * 1.0 / COUNT(*) AS retention
FROM documents d
JOIN ex e ON e.doc_id = d.doc_id
LEFT JOIN nd n ON n.doc_id = d.doc_id
GROUP BY d.source
""",
)
def corpus_dedup_cascade_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup CASCADE as one per-source funnel report: raw corpus ->
    exact dedup (keep the lowest doc_id per md5(text), the CCNet/
    RefinedWeb first stage) -> near-dup dedup (among exact survivors,
    keep the lowest doc_id of each Jaccard connected component). This is
    the acceptance report a curation run publishes — which sources are
    boilerplate factories, what each stage actually removed, final
    retention — stitching dedup_exact + the CC keep-list into the
    operational decision instead of leaving them as separate audits.

    Stage composition is the subtle part done right: near-dup keep is
    evaluated AMONG exact survivors (a cluster whose minimum was itself
    an exact duplicate must still keep exactly one member), and both
    stages are global while the report grain is per source — a doc can
    be killed by a duplicate in another source (cross-source contagion
    is most of what exact dedup finds in real crawls).

    Scale shape: exact stage is one hash window (equivalently a
    groupBy on the 128-bit digest); the CC labels are the memoized
    large/small-star output the graph family already shares; the funnel
    itself is two joins + one aggregate at doc grain, no pair work.
    """
    ensure_session_conf(spark)
    d = load_table(spark, sf_dir, "documents")
    keep_exact = (
        F.col("doc_id")
        == F.min("doc_id").over(Window.partitionBy(F.md5("text")))
    )
    ex = spread(d).select(
        "doc_id", "source", keep_exact.alias("keep_exact")
    )
    cc = _jaccard_cc_labels(spark, sf_dir).select(
        F.col("id").alias("doc_id"), F.col("label").alias("cluster_id")
    )
    surv = ex.filter("keep_exact").join(cc, "doc_id")
    keep_nd = (
        F.col("doc_id")
        == F.min("doc_id").over(Window.partitionBy("cluster_id"))
    )
    nd = surv.select("doc_id", keep_nd.alias("keep_nd"))
    return (
        ex.join(nd, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_raw"),
            F.sum(F.when(F.col("keep_exact"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_after_exact"),
            F.sum(F.when(F.col("keep_nd"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_after_neardup"),
            (
                F.sum(F.when(F.col("keep_nd"), 1).otherwise(0))
                / F.count(F.lit(1))
            ).alias("retention"),
        )
    )


# --- modularity of the near-dup graph's label partitions --------------------


def _sql_modularity_block(tag: str, label_rel: str) -> str:
    """SQL for modularity of one labeling `label_rel(id, lbl)` over the
    verified-pair edge list `jp(doc_a, doc_b)`: Q = (4m*Se - Sd2)/(4m^2)
    where Se = intra-community edges, Sd2 = sum over communities of
    (degree mass)^2 — the exact-integer rearrangement of
    sum_c [e_c/m - (d_c/2m)^2]."""
    return f"""
intra_{tag} AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS se
  FROM jp e
  JOIN {label_rel} la ON la.id = e.doc_a
  JOIN {label_rel} lb ON lb.id = e.doc_b
  WHERE la.lbl = lb.lbl
),
dmass_{tag} AS (
  SELECT CAST(SUM(dc * dc) AS BIGINT) AS sd2,
         CAST(COUNT(*) AS BIGINT) AS n_comm
  FROM (
    SELECT l.lbl, CAST(SUM(d.deg) AS BIGINT) AS dc
    FROM deg d JOIN {label_rel} l ON l.id = d.id
    GROUP BY l.lbl
  ) t
),
q_{tag} AS (
  SELECT '{tag}' AS labeling, n_comm, m.m AS m_edges, i.se AS intra_edges,
         CAST(4 * m.m * i.se - d.sd2 AS DOUBLE)
           / CAST(4 * m.m * m.m AS DOUBLE) AS q_modularity
  FROM intra_{tag} i CROSS JOIN dmass_{tag} d CROSS JOIN mtot m
)"""


@register(
    "graph_modularity_score",
    oracle=f"""
WITH {_SQL_SHINGLES.strip().lstrip()},
{_SQL_JACCARD_PAIRS.strip()},
{_SQL_LPA},
deg AS (
  SELECT u AS id, CAST(COUNT(*) AS BIGINT) AS deg FROM und GROUP BY u
),
mtot AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM jp),
{_sql_modularity_block("lang0", "l0")},
{_sql_modularity_block("lpa_final", f"l{_LPA_ROUNDS}")}
SELECT * FROM q_lang0 UNION ALL SELECT * FROM q_lpa_final
""",
)
def graph_modularity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the near-duplicate graph under two node
    partitions — the raw ``lang`` labels and the LPA-denoised labels —
    answering "did label propagation actually tighten community
    structure?" with the standard graph-clustering quality score
    Q = sum_c [e_c/m - (d_c/2m)^2] (Newman & Girvan 2004). Computed in
    the exact-integer rearrangement Q = (4m*Se - Sd2)/(4m^2), so the
    whole statistic is integer arithmetic with ONE final double
    division per labeling.

    Deterministic: edge/degree masses are BIGINTs; the LPA rounds are
    the registered stabilized variant (integer votes, total-order
    tie-break) shared verbatim with graph_label_propagation.

    Scale shape: reuses the memoized verified-pair edge list; per
    labeling the cost is one edge-grain join against the node-label
    table (label side orders of magnitude smaller than the corpus) plus
    a community-grain rollup. Degrees come from one edge-list
    aggregation shared across labelings. Bounds: Sd2 <= (2m)^2 and
    4m^2 both fit BIGINT for any m < 1.5e9 edges per evaluated
    component slice — beyond that the division shifts to DECIMAL(38).
    """
    ensure_session_conf(spark)
    d = load_table(spark, sf_dir, "documents")
    pairs = _jaccard_pairs_memo(spark, sf_dir).select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    )
    und = pairs.unionAll(
        pairs.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    l0, labels = _lpa_labels(und, d)
    # Shared edge-grain inputs, cut once: every labeling block re-reads
    # them, and the LPA label table roots in the same lineage.
    edges = pairs.localCheckpoint()
    deg = (
        edges.select(F.col("u").alias("id"))
        .unionAll(edges.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    )
    mtot = edges.agg(F.count(F.lit(1)).cast("bigint").alias("m"))

    def q_block(tag: str, lab: DataFrame) -> DataFrame:
        lab = lab.localCheckpoint()
        intra = (
            edges.join(
                lab.select(F.col("id").alias("u"), F.col("lbl").alias("la")),
                "u",
            )
            .join(
                lab.select(F.col("id").alias("v"), F.col("lbl").alias("lb")),
                "v",
            )
            .filter(F.col("la") == F.col("lb"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("se"))
        )
        dmass = (
            deg.join(lab, "id")
            .groupBy("lbl")
            .agg(F.sum("deg").cast("bigint").alias("dc"))
            .agg(
                F.sum(F.col("dc") * F.col("dc")).cast("bigint").alias("sd2"),
                F.count(F.lit(1)).cast("bigint").alias("n_comm"),
            )
        )
        return (
            intra.crossJoin(F.broadcast(dmass))
            .crossJoin(F.broadcast(mtot))
            .select(
                F.lit(tag).alias("labeling"),
                "n_comm",
                F.col("m").alias("m_edges"),
                F.col("se").alias("intra_edges"),
                (
                    (
                        F.lit(4) * F.col("m") * F.col("se") - F.col("sd2")
                    ).cast("double")
                    / (F.lit(4) * F.col("m") * F.col("m")).cast("double")
                ).alias("q_modularity"),
            )
        )

    return q_block("lang0", l0).unionByName(q_block("lpa_final", labels))


# --- partition agreement (Adjusted Rand Index) -------------------------------


@register(
    "dedup_cluster_ari",
    oracle=f"""
WITH RECURSIVE {_SQL_SHINGLES.strip().lstrip()},
{_SQL_JACCARD_PAIRS.strip()},
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM jp
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM jp
),
reach AS (
  SELECT doc_id, doc_id AS r FROM documents
  UNION
  SELECT e.src AS doc_id, rc.r
  FROM edges e JOIN reach rc ON rc.doc_id = e.dst
),
cc AS (SELECT doc_id, MIN(r) AS cluster_id FROM reach GROUP BY doc_id),
parts AS (
  SELECT d.doc_id,
         md5(array_to_string(list_sort(string_split(d.text, ' ')), ' '))
           AS canon,
         c.cluster_id
  FROM documents d JOIN cc c USING (doc_id)
),
nij AS (
  SELECT canon, cluster_id, CAST(COUNT(*) AS BIGINT) AS n
  FROM parts GROUP BY canon, cluster_id
),
sums AS (
  SELECT CAST(SUM(n * (n - 1) // 2) AS BIGINT) AS s_ij FROM nij
),
sa AS (
  SELECT CAST(SUM(a * (a - 1) // 2) AS BIGINT) AS s_a
  FROM (SELECT CAST(SUM(n) AS BIGINT) AS a FROM nij GROUP BY canon) t
),
sb AS (
  SELECT CAST(SUM(b * (b - 1) // 2) AS BIGINT) AS s_b
  FROM (SELECT CAST(SUM(n) AS BIGINT) AS b FROM nij GROUP BY cluster_id) t
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(COUNT(*) * (COUNT(*) - 1) // 2 AS BIGINT) AS s_n
  FROM parts
)
SELECT t.n_docs, s.s_ij, sa.s_a, sb.s_b,
       CASE WHEN t.s_n * (sa.s_a + sb.s_b) - 2 * sa.s_a * sb.s_b <> 0
            THEN CAST(2 * t.s_n * s.s_ij - 2 * sa.s_a * sb.s_b AS DOUBLE)
                 / CAST(t.s_n * (sa.s_a + sb.s_b) - 2 * sa.s_a * sb.s_b
                        AS DOUBLE)
            END AS ari
FROM tot t CROSS JOIN sums s CROSS JOIN sa CROSS JOIN sb
""",
)
def dedup_cluster_ari(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADJUSTED RAND INDEX between the two dedup partitions the pipeline
    maintains — exact duplicates (canonical sorted-bag-of-words hash)
    vs near-duplicate connected components: the chance-corrected
    agreement between clusterings (Hubert & Arabie 1985). ARI ~ 1 means
    near-dup adds nothing over exact hashing; low positive ARI
    quantifies how much extra merging the fuzzy pass performs — the
    partition-level complement of the pairwise agreement scorecard.
    Computed in the integer-cleared form
    (2*S_n*S_ij - 2*S_a*S_b) / (S_n*(S_a+S_b) - 2*S_a*S_b) where every
    S is an exact BIGINT sum of C(n,2) terms, so the statistic is ONE
    double division.

    Deterministic: contingency masses are integer counts over md5 canon
    hashes and min-id CC labels; no float enters before the final
    division (products bounded by n^4/4 — BIGINT-safe to ~55 M docs per
    evaluated slice, beyond which the division shifts to DECIMAL(38)).

    Scale shape: reuses the memoized CC labels; the contingency table
    is one (canon, cluster)-grain aggregation whose size is bounded by
    the number of exact-dup groups; everything after runs on grouped
    sums.
    """
    ensure_session_conf(spark)
    d = load_table(spark, sf_dir, "documents")
    cc = _jaccard_cc_labels(spark, sf_dir).select(
        F.col("id").alias("doc_id"), F.col("label").alias("cluster_id")
    )
    canon = F.md5(F.concat_ws(" ", F.array_sort(F.split(F.col("text"), " "))))
    parts = d.select("doc_id", canon.alias("canon")).join(cc, "doc_id")
    nij = (
        parts.groupBy("canon", "cluster_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .localCheckpoint()  # contingency table feeds all four sums
    )
    comb2 = lambda c: (F.col(c) * (F.col(c) - 1) / 2).cast("bigint")  # noqa: E731
    sums = nij.agg(
        F.sum((F.col("n") * (F.col("n") - 1) / 2).cast("bigint"))
        .cast("bigint")
        .alias("s_ij")
    )
    sa = (
        nij.groupBy("canon")
        .agg(F.sum("n").cast("bigint").alias("a"))
        .agg(F.sum(comb2("a")).cast("bigint").alias("s_a"))
    )
    sb = (
        nij.groupBy("cluster_id")
        .agg(F.sum("n").cast("bigint").alias("b"))
        .agg(F.sum(comb2("b")).cast("bigint").alias("s_b"))
    )
    tot = parts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        (F.count(F.lit(1)) * (F.count(F.lit(1)) - 1) / 2)
        .cast("bigint")
        .alias("s_n"),
    )
    num = 2 * F.col("s_n") * F.col("s_ij") - 2 * F.col("s_a") * F.col("s_b")
    den = F.col("s_n") * (F.col("s_a") + F.col("s_b")) - 2 * F.col("s_a") * F.col(
        "s_b"
    )
    return (
        tot.crossJoin(F.broadcast(sums))
        .crossJoin(F.broadcast(sa))
        .crossJoin(F.broadcast(sb))
        .select(
            "n_docs",
            "s_ij",
            "s_a",
            "s_b",
            # den = 0 iff both partitions are all-singletons (ARI's 0/0
            # corner): emit NULL in both dialects instead of tripping
            # Spark's ANSI divide-by-zero.
            F.when(den != 0, num.cast("double") / den.cast("double")).alias(
                "ari"
            ),
        )
    )
