"""Deterministic sampling / splitting for training-data pipelines.

At 100 TB, sampling must be (a) deterministic (re-runs and audits see the
same subset), (b) engine-portable (the sample drawn by the Spark pipeline
must be reproducible by any other engine reading the same table), and
(c) shuffle-free where possible. RNG-based sampling (`df.sample`,
`TABLESAMPLE`) fails (a)/(b) — engines disagree on RNG streams — so
everything here keys off **md5 of the row key**, which Spark and DuckDB
compute identically (lowercase hex). Comparing the leading hex chars as
STRINGS gives 1/256-granularity Bernoulli gates with zero cross-engine
ambiguity and no shuffle: the predicate is map-side, survives any
partitioning, and Catalyst pushes the projection to the scan.

The reference has no sampling surface at all (it is a CDC coprocessor);
these are north-star training-pipeline operators (BASELINE.json:6) over
the `documents` fixture.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table, spread
from ..functions.ranking import ranked_topk_per
from ..registry import register
from ..session import ensure_session_conf


def _gate(key: F.Column, salt: str) -> F.Column:
    """First two hex chars of md5(salt || key) — a uniform 0..255 bucket
    as a 2-char lowercase hex STRING (portable across engines)."""
    return F.substring(F.md5(F.concat(F.lit(salt), key.cast("string"))), 1, 2)


def _sql_gate(key: str, salt: str) -> str:
    return f"substr(md5('{salt}' || CAST({key} AS VARCHAR)), 1, 2)"


@register(
    "sample_hash_bernoulli",
    oracle=f"""
SELECT doc_id, lang, source, n_chars
FROM documents
WHERE {_sql_gate("doc_id", "sample:")} < '1a'
""",
)
def sample_hash_bernoulli(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% Bernoulli sample of the corpus: keep rows whose
    md5 gate falls in the first 26/256 buckets ('00'..'19' < '1a').

    Scale shape: pure map-side filter — no shuffle, no RNG state, stable
    under retries/speculation (Spark's `sample` is NOT stable under task
    rerun with different partitioning), and any engine can re-derive
    exactly the same subset for audits.
    """
    ensure_session_conf(spark)
    d = load_table(spark, sf_dir, "documents")
    return d.filter(_gate(F.col("doc_id"), "sample:") < "1a").select(
        "doc_id", "lang", "source", "n_chars"
    )


@register(
    "split_train_valid_test",
    oracle=f"""
SELECT doc_id, lang, source,
       CASE WHEN {_sql_gate("doc_id", "split:")} < 'cd' THEN 'train'
            WHEN {_sql_gate("doc_id", "split:")} < 'e6' THEN 'valid'
            ELSE 'test' END AS split
FROM documents
""",
)
def split_train_valid_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~80/10/10 train/valid/test assignment by hash gate
    (train: 205/256, valid: 25/256, test: 26/256).

    The assignment is a pure function of doc_id — documents keep their
    split across pipeline re-runs and incremental corpus additions, the
    property that prevents train/test leakage when the corpus grows.
    Map-side only; at 100 TB this is the `WHERE split='train'`
    partition-pruning column after one materialization.
    """
    ensure_session_conf(spark)
    d = load_table(spark, sf_dir, "documents")
    g = _gate(F.col("doc_id"), "split:")
    return d.select(
        "doc_id",
        "lang",
        "source",
        F.when(g < "cd", "train").when(g < "e6", "valid").otherwise("test").alias(
            "split"
        ),
    )


@register(
    "sample_stratified_per_lang",
    oracle=f"""
SELECT doc_id, lang, n_chars
FROM (
  SELECT doc_id, lang, n_chars,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY {_sql_gate("doc_id", "strat:")}, doc_id) AS rn
  FROM documents
) t
WHERE rn <= 20
""",
)
def sample_stratified_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced subsample: exactly k=20 documents per language, chosen by
    deterministic hash order (not "first 20 in file order", which is
    ingestion-biased).

    Scale shape: one shuffle on lang + per-partition top-k. With skewed
    strata at 100 TB, swap the full window sort for a two-phase pick:
    per-partition top-k first (map-side), then top-k of candidates —
    rank() over ≤ k×n_partitions rows instead of sorting the stratum.
    """
    ensure_session_conf(spark)
    d = load_table(spark, sf_dir, "documents")
    return ranked_topk_per(
        d.select("doc_id", "lang", "n_chars"),
        ["lang"], [_gate(F.col("doc_id"), "strat:"), F.col("doc_id")], 20,
        rk_col=None,
    )


@register(
    "pack_sequences_greedy",
    oracle="""
WITH toks AS (
  SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens
  FROM documents
),
packed AS (
  SELECT doc_id, lang, n_tokens,
         CAST(floor((SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                         ROWS UNBOUNDED PRECEDING) - n_tokens)
                    / 512) AS BIGINT) AS bin
  FROM toks
)
SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens, bin
FROM packed
""",
)
def pack_sequences_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence PACKING: assign documents to fixed-budget (512-token)
    training bins by running token count, per language shard — the step
    that turns a curated corpus into dense training sequences (padding
    waste ↔ packing).

    bin = floor(tokens_before_me / 512) in deterministic doc_id order: a
    document starts in the bin its predecessor filled up to — the greedy
    first-fit-in-order rule. Scale shape: the running sum is a window per
    lang shard; at 100 TB you pack within hash-bucket shards instead
    (same window, bounded partitions) — packing quality is unchanged
    because bins never span shards in either layout.
    """
    ensure_session_conf(spark)
    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split("text", " ")).cast("bigint")
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    toks = d.select("doc_id", "lang", n_tok.alias("n_tokens"))
    return toks.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / 512)
        .cast("bigint")
        .alias("bin"),
    )


# Per-source mixture rates in 1/256 hex-gate units, expressed as the gate
# threshold each source's documents must clear (fixture sources src0-src19;
# src0 models a curated pass-through, src3 a downweighted web crawl, the
# rest a uniform background rate).
MIXTURE_GATES = {"src0": "ff", "src1": "cc", "src2": "80", "src3": "40"}


@register(
    "sample_mixture_by_source",
    oracle=f"""
SELECT doc_id, source, lang
FROM documents
WHERE {_sql_gate("doc_id", "mix:")} <
      CASE source {' '.join(f"WHEN '{s}' THEN '{g}'" for s, g in MIXTURE_GATES.items())}
           ELSE '19' END
""",
)
def sample_mixture_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture (domain-reweighting) sampling: each source keeps a
    different deterministic fraction — src0 ~100%, src1 ~80%, src2 ~50%,
    src3 ~25%, every other source ~10% — the data-mixture knob of
    pretraining corpora, as a pure map-side gate.

    Same md5-gate machinery as the Bernoulli sample, so mixture draws are
    reproducible, auditable, and consistent under corpus growth; changing
    the mixture is a threshold edit, not a reshuffle.
    """
    ensure_session_conf(spark)
    d = load_table(spark, sf_dir, "documents")
    thr = F.lit("19")
    for s, g in MIXTURE_GATES.items():
        thr = F.when(F.col("source") == s, g).otherwise(thr)
    return d.filter(_gate(F.col("doc_id"), "mix:") < thr).select(
        "doc_id", "source", "lang"
    )


LENGTH_BUCKETS = 8  # equal-frequency buckets per language shard


@register(
    "pack_length_buckets",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens
  FROM documents
),
bucketed AS (
  SELECT lang, n_tokens,
         ntile({LENGTH_BUCKETS}) OVER (
           PARTITION BY lang ORDER BY n_tokens, doc_id) AS bucket
  FROM toks
)
SELECT lang, bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(n_tokens) AS BIGINT) AS min_tokens,
       CAST(MAX(n_tokens) AS BIGINT) AS max_tokens,
       CAST(COUNT(*) * MAX(n_tokens) - SUM(n_tokens) AS BIGINT)
         AS padding_waste,
       CAST(COUNT(*) * MAX(n_tokens) - SUM(n_tokens) AS DOUBLE)
         / CAST(COUNT(*) * MAX(n_tokens) AS DOUBLE) AS waste_frac
FROM bucketed
GROUP BY lang, bucket
""",
)
def pack_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency length bucketing for training batch assembly:
    within each language shard, documents are ntile'd into 8 buckets by
    token count, and each bucket reports its padding waste (tokens of
    pad needed to right-pad every member to the bucket max) — the
    length-bucketed batching planner that minimizes pad-token burn,
    complementing `pack_sequences_greedy`'s bin-packing.

    Scale shape: token counts are map-side (`size(split(...))` — no
    explode); the ntile is a per-LANG window, so the total order is
    shard-bounded, never global (the same sharding a tokenizer pipeline
    already has); the rollup is one hash aggregation on (lang, bucket).
    Integer arithmetic throughout; the one division is BIGINT/BIGINT →
    DOUBLE written identically in both dialects.
    """
    ensure_session_conf(spark)
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "lang", F.size(F.split("text", " ")).alias("n_tokens")
    )
    w = Window.partitionBy("lang").orderBy("n_tokens", "doc_id")
    bucketed = toks.select(
        "lang", "n_tokens", F.ntile(LENGTH_BUCKETS).over(w).alias("bucket")
    )
    waste = F.count(F.lit(1)) * F.max("n_tokens") - F.sum("n_tokens")
    return (
        bucketed.groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("n_tokens").cast("bigint").alias("min_tokens"),
            F.max("n_tokens").cast("bigint").alias("max_tokens"),
            waste.cast("bigint").alias("padding_waste"),
            (
                waste.cast("double")
                / (F.count(F.lit(1)) * F.max("n_tokens")).cast("double")
            ).alias("waste_frac"),
        )
    )


SAMPLE_K_PER_GROUP = 5


@register(
    "sample_topk_per_group",
    oracle=f"""
WITH ranked AS (
  SELECT doc_id, lang, source,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY md5('audit:' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM documents
)
SELECT doc_id, lang, source, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= {SAMPLE_K_PER_GROUP}
""",
)
def sample_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-per-group audit sample: exactly 5 documents per
    language, chosen by md5 order — the "show me a stable random handful
    from every shard" query that human eval and data-quality audits run
    after every pipeline change. Hash order makes the draw reproducible
    across engines AND stable under appends (a new doc displaces at most
    one pick).

    Scale shape: rank-then-filter with a k-row cutoff per group — Spark
    turns the row_number + filter into a per-partition top-k (no full
    sort materialization: each map task keeps k rows per group before
    the single per-group shuffle).
    """
    ensure_session_conf(spark)
    d = load_table(spark, sf_dir, "documents")
    order_key = F.md5(F.concat(F.lit("audit:"), F.col("doc_id").cast("string")))
    return ranked_topk_per(
        d.select("doc_id", "lang", "source"),
        ["lang"], [order_key, "doc_id"], SAMPLE_K_PER_GROUP,
        rk_col="rn", rk_cast="bigint",
    )


# Weighted Bernoulli target rate: keep probability = 0.2 * w / max_w,
# evaluated in exact BIGINT arithmetic (u32 * max_w * 5 < w * 2^32).
_W_RATE_NUM, _W_RATE_DEN = 1, 5  # rate = 1/5 at w == max_w


@register(
    "sample_weighted_bernoulli",
    oracle=f"""
WITH mx AS (SELECT MAX(n_chars) AS maxw FROM documents)
SELECT doc_id, source, n_chars
FROM documents, mx
WHERE CAST(CONCAT('0x', substr(md5('wsample:' || CAST(doc_id AS VARCHAR)),
                               1, 8)) AS BIGINT)
      * maxw * {_W_RATE_DEN}
      < n_chars * 4294967296 * {_W_RATE_NUM}
""",
)
def sample_weighted_bernoulli(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted deterministic Bernoulli sample: each document is
    kept with probability (n_chars / max_chars) * 1/5 — longer documents
    proportionally more likely, as a token-budgeted corpus draw wants.
    The coin is the md5-derived uniform u32 of the doc_id, compared in
    EXACT integer arithmetic (u32 * max_w * 5 < n_chars * 2^32), so the
    draw is bit-reproducible in any engine and stable under retries —
    no floats, no RNG state, no ordering dependence.

    Scale shape: one single-row MAX aggregate broadcast to a map-side
    filter — the weighted draw costs one corpus scan, zero shuffles of
    data rows. (A fixed weight cap would drop even the MAX pass;
    deriving it keeps the sample self-normalizing as the corpus grows.)
    """
    ensure_session_conf(spark)
    d = load_table(spark, sf_dir, "documents")
    maxw = d.agg(F.max("n_chars").alias("maxw"))
    u32 = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("wsample:"), F.col("doc_id").cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")
    return (
        d.crossJoin(F.broadcast(maxw))
        .filter(
            u32 * F.col("maxw") * F.lit(_W_RATE_DEN)
            < F.col("n_chars") * F.lit(4294967296) * F.lit(_W_RATE_NUM)
        )
        .select("doc_id", "source", "n_chars")
    )


@register(
    "sample_matched_pairs",
    oracle="""
WITH grp AS (
  SELECT doc_id, lang, n_chars,
         CASE WHEN CAST(substr(source, 4) AS BIGINT) % 2 = 0
              THEN 'A' ELSE 'B' END AS g
  FROM documents
),
dec AS (
  SELECT doc_id, lang, n_chars, g,
         ntile(10) OVER (PARTITION BY lang, g
                         ORDER BY n_chars, doc_id) AS decile
  FROM grp
),
rk AS (
  SELECT doc_id, lang, n_chars, g, decile,
         ROW_NUMBER() OVER (
           PARTITION BY lang, g, decile
           ORDER BY md5('mp:' || CAST(doc_id AS VARCHAR)), doc_id) AS r
  FROM dec
),
pairs AS (
  SELECT a.lang, a.decile,
         ABS(a.n_chars - b.n_chars) AS len_diff
  FROM rk a JOIN rk b
    ON a.lang = b.lang AND a.decile = b.decile AND a.r = b.r
   AND a.g = 'A' AND b.g = 'B'
)
SELECT lang, CAST(decile AS BIGINT) AS decile,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(len_diff) AS BIGINT) AS sum_len_diff,
       CAST(MAX(len_diff) AS BIGINT) AS max_len_diff,
       CAST(SUM(len_diff) AS DOUBLE) / COUNT(*) AS mean_len_diff
FROM pairs GROUP BY lang, decile
""",
)
def sample_matched_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matched-pair construction for controlled comparisons — the eval /
    A-B-corpus counterpart of stratified sampling: split sources into
    two arms (even vs odd source number), cut each (lang, arm) into
    length deciles, give rows a deterministic md5 shuffle rank within
    their (lang, arm, decile) cell, and pair arm-A rank r with arm-B
    rank r. The result is a 1:1 sample where each pair is matched on
    language and length decile — the standard guard against "model B
    looks better because its eval docs are shorter". Odd rows beyond
    the shorter arm's count are unmatched and dropped (exactly the
    inner-join semantics reported by n_pairs vs cell size).

    Everything is deterministic: decile = ntile over (n_chars, doc_id),
    rank = md5-ordered with doc_id tiebreak (same coin as the Bernoulli
    gates above), so the pairing is reproducible by any engine. The
    per-(lang, decile) len_diff stats are the match-quality audit —
    tight deciles give small diffs; a decile whose mean_len_diff blows
    up says the two arms' length distributions diverge there.

    Scale shape: two window passes keyed (lang, arm[, decile]) — both
    shuffle-partition-parallel across cells — and one equi-join on
    (lang, decile, rank): co-partitioned, never wider than the smaller
    arm. No pairwise blow-up anywhere; at 100 TB the cells stay
    independent so skew is bounded by the largest (lang, decile) cell.
    """
    ensure_session_conf(spark)
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "n_chars",
        # substring with NO length cap, mirroring the oracle's
        # substr(source, 4): a numeric suffix longer than a fixed cap
        # would otherwise truncate only on the Spark side.
        F.when(
            F.expr("substring(source, 4)").cast("bigint") % 2 == 0, "A"
        )
        .otherwise("B")
        .alias("g"),
    )
    dec = d.select(
        "doc_id",
        "lang",
        "n_chars",
        "g",
        F.ntile(10)
        .over(
            Window.partitionBy("lang", "g").orderBy("n_chars", "doc_id")
        )
        .alias("decile"),
    )
    rk = dec.select(
        "doc_id",
        "lang",
        "n_chars",
        "g",
        "decile",
        F.row_number()
        .over(
            Window.partitionBy("lang", "g", "decile").orderBy(
                F.md5(F.concat(F.lit("mp:"), F.col("doc_id").cast("string"))),
                "doc_id",
            )
        )
        .alias("r"),
    )
    a = rk.filter(F.col("g") == "A").select(
        "lang", "decile", "r", F.col("n_chars").alias("ca")
    )
    b = rk.filter(F.col("g") == "B").select(
        "lang", "decile", "r", F.col("n_chars").alias("cb")
    )
    pairs = a.join(b, ["lang", "decile", "r"]).select(
        "lang", "decile", F.abs(F.col("ca") - F.col("cb")).alias("len_diff")
    )
    return pairs.groupBy("lang", F.col("decile").cast("bigint").alias("decile")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum("len_diff").cast("bigint").alias("sum_len_diff"),
        F.max("len_diff").cast("bigint").alias("max_len_diff"),
        (F.sum("len_diff").cast("double") / F.count(F.lit(1))).alias(
            "mean_len_diff"
        ),
    )


_RES_K = 4  # winners per source


@register(
    "sample_weighted_reservoir",
    oracle=f"""
WITH keyed AS (
  SELECT doc_id, source, n_chars,
         ln((CAST(CONCAT('0x', substr(md5('res:' || CAST(doc_id AS VARCHAR)),
                                      1, 8)) AS BIGINT) + 0.5)
            / 4294967296.0) / n_chars AS k
  FROM documents
)
SELECT source, rk, doc_id, n_chars
FROM (
  SELECT source, doc_id, n_chars,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY k DESC, doc_id) AS rk
  FROM keyed
) t
WHERE rk <= {_RES_K}
""",
)
def sample_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement, k per source — the
    Efraimidis–Spirakis A-ES reservoir: every document draws the key
    ``ln(u) / w`` (u = md5-derived uniform in (0,1), w = n_chars) and the
    k largest keys per source win. Unlike the weighted Bernoulli (each
    doc an independent coin, output size random), A-ES yields EXACTLY k
    rows per stratum with inclusion probability proportional to weight —
    the draw a token-budgeted eval-set builder wants.

    Determinism: the uniform is integer md5 arithmetic; ln() is the one
    transcendental, but only the RANKING consumes it and the output
    carries ids/integers only, so a last-ulp libm divergence between
    engines would need two keys within one ulp to flip a row — ruled out
    on 52-bit-spread uniforms.

    Scale shape: map-side key computation + one k-per-group top-k window
    (rank-pruned by AQE's partial top-k); no global sort, no driver
    state. This IS the distributed reservoir: merging two partitions'
    reservoirs = taking the k largest keys of their union, which the
    shuffle-side window performs associatively at any fan-in.
    """
    ensure_session_conf(spark)
    d = load_table(spark, sf_dir, "documents")
    u32 = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("res:"), F.col("doc_id").cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")
    u = (u32 + F.lit(0.5)) / F.lit(4294967296.0)
    keyed = d.select(
        "doc_id", "source", "n_chars",
        (F.log(u) / F.col("n_chars")).alias("k"),
    )
    return ranked_topk_per(
        keyed, ["source"], [F.col("k").desc(), "doc_id"], _RES_K,
        rk_cast="bigint",
    ).select("source", "rk", "doc_id", "n_chars")


# --- Neyman-optimal stratified sample allocation -------------------------------

NEYMAN_BUDGET = 1000  # total sample size to allocate across strata


@register(
    "sample_neyman_allocation",
    oracle=f"""
WITH s AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_h,
         CAST(SUM(CAST(n_chars AS DECIMAL(28,6))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(CAST(n_chars AS DOUBLE) * CAST(n_chars AS DOUBLE)
                       AS DECIMAL(28,6))) AS DOUBLE) AS sxx
  FROM documents GROUP BY source
),
v AS (
  SELECT source, n_h,
         sqrt((sxx - sx * sx / CAST(n_h AS DOUBLE))
              / CAST(n_h AS DOUBLE)) AS s_h
  FROM s WHERE n_h > 1
),
t AS (
  SELECT CAST(SUM(CAST(CAST(n_h AS DOUBLE) * s_h AS DECIMAL(28,6)))
              AS DOUBLE) AS denom
  FROM v
)
SELECT v.source, v.n_h, v.s_h,
       CAST(v.n_h AS DOUBLE) * v.s_h / t.denom AS weight,
       CAST(FLOOR({NEYMAN_BUDGET} * (CAST(v.n_h AS DOUBLE) * v.s_h)
                  / t.denom) AS BIGINT) AS alloc
FROM v CROSS JOIN t
""",
)
def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified sample allocation: budget {NEYMAN_BUDGET}
    rows split across sources proportionally to N_h·S_h (stratum size x
    stratum standard deviation) — the design that minimizes the variance
    of the estimated corpus mean for a fixed budget (Neyman 1934), and
    the principled upgrade over the equal-k draw of
    `sample_stratified_per_lang` when strata differ in spread.

    Determinism: per-stratum moments through DECIMAL(28,6) (scale 6, not
    12 — the squared-n_chars magnitude rule); S_h is one sqrt of a fixed
    expression of those exact sums; the weight denominator is itself a
    decimal sum of quantized N_h·S_h terms; allocations use FLOOR (both
    engines truncate identically on identical doubles). Single-row
    strata are excluded (S_h undefined), not zero-allocated silently.

    Scale shape: one groupBy over the stratum key, one broadcast 1-row
    denominator — the allocation table is stratum-sized; the actual
    draw then reuses the md5-gate machinery.
    """
    ensure_session_conf(spark)
    d = load_table(spark, sf_dir, "documents")
    d6 = lambda c: F.sum(c.cast("decimal(28,6)")).cast("double")  # noqa: E731
    s = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_h"),
        d6(F.col("n_chars")).alias("sx"),
        d6(F.col("n_chars").cast("double") * F.col("n_chars").cast("double"))
        .alias("sxx"),
    )
    v = s.filter(F.col("n_h") > 1).select(
        "source",
        "n_h",
        F.sqrt(
            (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n_h").cast("double"))
            / F.col("n_h").cast("double")
        ).alias("s_h"),
    )
    t = v.agg(
        F.sum(
            (F.col("n_h").cast("double") * F.col("s_h")).cast("decimal(28,6)")
        )
        .cast("double")
        .alias("denom")
    )
    return v.crossJoin(F.broadcast(t)).select(
        "source",
        "n_h",
        "s_h",
        (F.col("n_h").cast("double") * F.col("s_h") / F.col("denom")).alias(
            "weight"
        ),
        F.floor(
            F.lit(float(NEYMAN_BUDGET))
            * (F.col("n_h").cast("double") * F.col("s_h"))
            / F.col("denom")
        )
        .cast("bigint")
        .alias("alloc"),
    )


# Poisson(1) bootstrap: per-(row, replica) weights drawn by inverting the
# Poisson CDF against a 52-bit hash.  Thresholds are floor(CDF(k) * 2^52)
# frozen as exact BIGINTs, so the draw is pure integer compares in both
# engines; the tail (k >= 4, p ~ 1.9%) is clamped to 4.
PB_REPLICAS = 32
PB_T0 = 1656781714176974  # floor(e^-1 * 2^52)
PB_T1 = 3313563428353948  # floor(2e^-1 * 2^52)
PB_T2 = 4141954285442435  # floor(2.5e^-1 * 2^52)
PB_T3 = 4418084571138597  # floor((2.5 + 1/6)e^-1 * 2^52)
PB_LO_RANK = 2  # 2nd of 32 ordered replica means ~ 5th pct
PB_HI_RANK = 31  # 31st of 32 ~ 95th pct


@register(
    "sample_poisson_bootstrap_ci",
    oracle=f"""
WITH c AS (
  SELECT o_orderpriority,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         o_orderkey
  FROM orders
),
w AS (
  SELECT c.o_orderpriority, c.cents, t.b,
         CASE
           WHEN u < {PB_T0} THEN 0
           WHEN u < {PB_T1} THEN 1
           WHEN u < {PB_T2} THEN 2
           WHEN u < {PB_T3} THEN 3
           ELSE 4
         END AS wt
  FROM c
  CROSS JOIN range({PB_REPLICAS}) t(b)
  CROSS JOIN LATERAL (
    SELECT CAST(CONCAT('0x', substr(md5(
             'pb:' || CAST(c.o_orderkey AS VARCHAR) || ':'
                   || CAST(t.b AS VARCHAR)), 1, 13)) AS BIGINT) AS u
  ) h
),
rep AS (
  SELECT o_orderpriority, b,
         CAST(SUM(wt * cents) AS DOUBLE)
           / CAST(SUM(wt) AS DOUBLE) / 100.0 AS rep_mean
  FROM w GROUP BY o_orderpriority, b
),
rk AS (
  SELECT o_orderpriority, rep_mean,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                            ORDER BY rep_mean, b) AS r
  FROM rep
),
pt AS (
  SELECT o_orderpriority,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(cents) AS DOUBLE) / COUNT(*) / 100.0 AS mean_price
  FROM c GROUP BY o_orderpriority
)
SELECT pt.o_orderpriority, pt.n_orders, pt.mean_price,
       MAX(CASE WHEN rk.r = {PB_LO_RANK} THEN rk.rep_mean END) AS ci_lo,
       MAX(CASE WHEN rk.r = {PB_HI_RANK} THEN rk.rep_mean END) AS ci_hi
FROM pt JOIN rk USING (o_orderpriority)
GROUP BY pt.o_orderpriority, pt.n_orders, pt.mean_price
""",
)
def sample_poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap confidence interval for the mean order price per
    priority — THE bootstrap that scales: instead of resampling n rows
    with replacement (which needs global coordination), each row draws an
    independent Poisson(1) multiplicity per replica, and a replica's
    statistic is the weight-weighted mean. For large n the Poisson
    bootstrap converges to the classical bootstrap, and the whole thing
    is one scan x B map-side weights + a grouped agg.

    Determinism: weights come from inverting the frozen-integer Poisson
    CDF (floor(CDF(k)*2^52)) against a 52-bit md5 hash — pure BIGINT
    compares; replica means are exact-integer sums with one final double
    division; the CI picks order statistics {PB_LO_RANK}/{PB_HI_RANK} of
    the {PB_REPLICAS} replica means by (value, replica-id) rank — both
    engines order identical doubles identically.

    Scale shape: the B-fold expansion happens AFTER column pruning (3
    columns), weights never materialize row copies beyond the replica
    loop, and the shuffle carries |priorities| x B partial sums thanks to
    map-side combine. At 100 TB with B=32 this is one pass; compare
    a classical bootstrap's B full shuffles. Rank step runs on
    |priorities| x 32 rows.
    """
    ensure_session_conf(spark)
    o = load_table(spark, sf_dir, "orders")
    # spread BEFORE the B-fold expansion: the single-row-group fixture
    # file is one scan split, so without it the 32x explode + per-row
    # md5 draw runs on ONE core (guide §2.5 input skew — repartition
    # right after the read; measured 6.4s -> 1.3s at sf0.1). One tiny
    # shuffle of the 3 pruned columns buys full parallelism for the
    # hash stage; identical output (groupBy downstream).
    c = spread(
        o.select(
            "o_orderpriority",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
            "o_orderkey",
        )
    )
    u = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit("pb:"),
                    F.col("o_orderkey").cast("string"),
                    F.lit(":"),
                    F.col("b").cast("string"),
                )
            ),
            1,
            13,
        ),
        16,
        10,
    ).cast("bigint")
    wt = (
        F.when(u < PB_T0, 0)
        .when(u < PB_T1, 1)
        .when(u < PB_T2, 2)
        .when(u < PB_T3, 3)
        .otherwise(4)
    )
    w = c.select(
        "o_orderpriority",
        "cents",
        F.explode(F.sequence(F.lit(0), F.lit(PB_REPLICAS - 1))).alias("b"),
        "o_orderkey",
    ).select("o_orderpriority", "cents", "b", wt.alias("wt"))
    rep = w.groupBy("o_orderpriority", "b").agg(
        (
            F.sum(F.col("wt") * F.col("cents")).cast("double")
            / F.sum("wt").cast("double")
            / F.lit(100.0)
        ).alias("rep_mean")
    )
    rk = rep.select(
        "o_orderpriority",
        "rep_mean",
        F.row_number()
        .over(
            Window.partitionBy("o_orderpriority").orderBy("rep_mean", "b")
        )
        .alias("r"),
    )
    pt = c.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        (
            F.sum("cents").cast("double")
            / F.count(F.lit(1))
            / F.lit(100.0)
        ).alias("mean_price"),
    )
    return (
        pt.join(rk, "o_orderpriority")
        .groupBy("o_orderpriority", "n_orders", "mean_price")
        .agg(
            F.max(
                F.when(F.col("r") == PB_LO_RANK, F.col("rep_mean"))
            ).alias("ci_lo"),
            F.max(
                F.when(F.col("r") == PB_HI_RANK, F.col("rep_mean"))
            ).alias("ci_hi"),
        )
    )


# Approximate-randomization permutation test: B hash-seeded relabelings;
# the 52-bit hash threshold 2^51 splits labels 50/50 per replica.
PERM_B = 64
PERM_HALF = 2251799813685248  # 2^51
PERM_GROUP_A = "click"
PERM_GROUP_B = "view"


@register(
    "sample_permutation_test",
    oracle=f"""
WITH base AS (
  SELECT event_id, event_type,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
  WHERE event_type IN ('{PERM_GROUP_A}', '{PERM_GROUP_B}')
),
obs AS (
  SELECT
    CAST(COUNT(CASE WHEN event_type = '{PERM_GROUP_A}' THEN 1 END)
         AS BIGINT) AS n_a,
    CAST(COUNT(CASE WHEN event_type = '{PERM_GROUP_B}' THEN 1 END)
         AS BIGINT) AS n_b,
    CAST(SUM(CASE WHEN event_type = '{PERM_GROUP_A}' THEN cents
             ELSE 0 END) AS DOUBLE)
      / COUNT(CASE WHEN event_type = '{PERM_GROUP_A}' THEN 1 END)
      / 100.0 AS mean_a,
    CAST(SUM(CASE WHEN event_type = '{PERM_GROUP_B}' THEN cents
             ELSE 0 END) AS DOUBLE)
      / COUNT(CASE WHEN event_type = '{PERM_GROUP_B}' THEN 1 END)
      / 100.0 AS mean_b
  FROM base
),
perm AS (
  SELECT t.b,
         CASE WHEN CAST(CONCAT('0x', substr(md5(
                'perm:' || CAST(base.event_id AS VARCHAR) || ':'
                        || CAST(t.b AS VARCHAR)), 1, 13)) AS BIGINT)
              < {PERM_HALF}
              THEN 'a' ELSE 'b' END AS g,
         base.cents
  FROM base CROSS JOIN range({PERM_B}) t(b)
),
rep AS (
  SELECT b,
         CAST(SUM(CASE WHEN g = 'a' THEN cents ELSE 0 END) AS DOUBLE)
           / COUNT(CASE WHEN g = 'a' THEN 1 END) / 100.0
         - CAST(SUM(CASE WHEN g = 'b' THEN cents ELSE 0 END) AS DOUBLE)
           / COUNT(CASE WHEN g = 'b' THEN 1 END) / 100.0 AS t_b
  FROM perm GROUP BY b
)
SELECT obs.n_a, obs.n_b, obs.mean_a, obs.mean_b,
       obs.mean_a - obs.mean_b AS t_obs,
       CAST(SUM(CASE WHEN ABS(rep.t_b) >= ABS(obs.mean_a - obs.mean_b)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme,
       CAST(1 + SUM(CASE WHEN ABS(rep.t_b) >= ABS(obs.mean_a - obs.mean_b)
                    THEN 1 ELSE 0 END) AS DOUBLE) / {PERM_B + 1}.0
         AS p_value
FROM rep CROSS JOIN obs
GROUP BY obs.n_a, obs.n_b, obs.mean_a, obs.mean_b
""",
)
def sample_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample permutation test (approximate randomization): is the
    mean value of '{PERM_GROUP_A}' events different from
    '{PERM_GROUP_B}' events, with the null distribution built by
    {PERM_B} hash-seeded relabelings of the pooled sample? This is the
    testing complement of sample_poisson_bootstrap_ci (estimation): no
    normality assumption, no variance formula — the null is SIMULATED,
    and p = (1 + #extreme)/(B+1) with the add-one correction.

    Each replica relabels every row independently (md5 bit, threshold
    2^51 of a 52-bit hash) — the random-relabel variant whose group
    sizes are Binomial(n, 1/2) rather than exactly n_a/n_b; for the
    difference-of-means statistic the two are asymptotically identical
    and the relabel form needs NO global shuffle of labels (each row
    decides its replica labels locally — the property that makes the
    test one-pass at 100 TB).

    Determinism: cents sums are exact; each replica mean is one
    fixed-order IEEE division; the extreme-count compares |T_b| to
    |T_obs| on bit-identical doubles; p is one final division.

    Scale shape: one scan × B map-side labels → (replica, group)
    partial sums via map-side combine — the shuffle carries 2·B rows.
    Statistic and p-value compute on a {PERM_B}-row table.
    """
    ensure_session_conf(spark)
    ev = load_table(spark, sf_dir, "events")
    # spread before the B-fold explode for the same single-split reason
    # as sample_poisson_bootstrap_ci: the per-(row, replica) md5 draw is
    # the whole cost and must not run on one core (guide §2.5).
    base = spread(
        ev.filter(
            F.col("event_type").isin(PERM_GROUP_A, PERM_GROUP_B)
        ).select(
            "event_id",
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
    )
    is_a = F.col("event_type") == PERM_GROUP_A
    obs = base.agg(
        F.count(F.when(is_a, 1)).cast("bigint").alias("n_a"),
        F.count(F.when(~is_a, 1)).cast("bigint").alias("n_b"),
        (
            F.sum(F.when(is_a, F.col("cents")).otherwise(0)).cast("double")
            / F.count(F.when(is_a, 1))
            / F.lit(100.0)
        ).alias("mean_a"),
        (
            F.sum(F.when(~is_a, F.col("cents")).otherwise(0)).cast("double")
            / F.count(F.when(~is_a, 1))
            / F.lit(100.0)
        ).alias("mean_b"),
    )
    u = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit("perm:"),
                    F.col("event_id").cast("string"),
                    F.lit(":"),
                    F.col("b").cast("string"),
                )
            ),
            1,
            13,
        ),
        16,
        10,
    ).cast("bigint")
    perm = base.select(
        "event_id",
        "cents",
        F.explode(F.sequence(F.lit(0), F.lit(PERM_B - 1))).alias("b"),
    ).select(
        "b",
        F.when(u < PERM_HALF, "a").otherwise("b").alias("g"),
        "cents",
    )
    ga = F.col("g") == "a"
    rep = perm.groupBy("b").agg(
        (
            F.sum(F.when(ga, F.col("cents")).otherwise(0)).cast("double")
            / F.count(F.when(ga, 1))
            / F.lit(100.0)
            - F.sum(F.when(~ga, F.col("cents")).otherwise(0)).cast("double")
            / F.count(F.when(~ga, 1))
            / F.lit(100.0)
        ).alias("t_b")
    )
    t_obs = F.col("mean_a") - F.col("mean_b")
    extreme = F.when(F.abs(F.col("t_b")) >= F.abs(t_obs), 1).otherwise(0)
    return (
        rep.crossJoin(F.broadcast(obs))
        .groupBy("n_a", "n_b", "mean_a", "mean_b")
        .agg(
            F.sum(extreme).cast("bigint").alias("n_extreme"),
            (
                (F.lit(1) + F.sum(extreme)).cast("double")
                / F.lit(float(PERM_B + 1))
            ).alias("p_value"),
        )
        .select(
            "n_a",
            "n_b",
            "mean_a",
            "mean_b",
            t_obs.alias("t_obs"),
            "n_extreme",
            "p_value",
        )
    )


# --- duplicate-cluster-aware split (group split, no leakage) ----------------

from .dedup import (  # noqa: E402  (late import: avoids a cycle at load)
    _SQL_JACCARD_PAIRS,
    _SQL_SHINGLES,
    _jaccard_cc_labels,
)


@register(
    "sample_group_split_noleak",
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
base AS (SELECT doc_id, MIN(r) AS cluster_id FROM reach GROUP BY doc_id),
assigned AS (
  SELECT doc_id, cluster_id,
         CASE WHEN {_sql_gate("cluster_id", "gsplit:")} < 'cd' THEN 'train'
              WHEN {_sql_gate("cluster_id", "gsplit:")} < 'e6' THEN 'valid'
              ELSE 'test' END AS split
  FROM base
),
straddle AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_straddling FROM (
    SELECT cluster_id FROM assigned
    GROUP BY cluster_id HAVING COUNT(DISTINCT split) > 1
  ) t
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM assigned)
SELECT a.split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT a.cluster_id) AS BIGINT) AS n_clusters,
       CAST(COUNT(*) AS DOUBLE) / t.n_total AS docs_frac,
       s.n_straddling = 0 AS leak_free
FROM assigned a CROSS JOIN straddle s CROSS JOIN tot t
GROUP BY a.split, s.n_straddling, t.n_total
""",
)
def sample_group_split_noleak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP-aware train/valid/test split: the split is decided per
    near-duplicate CLUSTER (hash gate on the connected-component id,
    same 205/25/26-of-256 proportions as split_train_valid_test), and
    every document inherits its cluster's split — so two near-copies
    can never land on opposite sides of the train/eval boundary. This
    is the difference between a split that LOOKS clean and one that IS
    clean: per-document hashing (the simpler registered split) puts
    ~20% of each duplicate cluster's members in eval, which is textbook
    train-test contamination; grouping by the dedup component closes it
    by construction. The output audits exactly that: ``leak_free`` is
    computed (clusters straddling >1 split, must be 0), not assumed,
    alongside per-split doc/cluster masses and fractions.

    Deterministic: cluster ids are min-doc-id labels from the shared CC
    fixpoint; the gate is the md5 bucket family; counts are integers
    with one final fraction division.

    Scale shape: reuses the memoized CC labels (the dedup pipeline
    already paid for them); assignment is a map-side gate on the
    cluster id; the audit is one (cluster, split)-grain aggregation.
    The same pattern splits by ANY leakage group — site/domain, user,
    session — by swapping the label table.
    """
    ensure_session_conf(spark)
    labels = _jaccard_cc_labels(spark, sf_dir).select(
        F.col("id").alias("doc_id"), F.col("label").alias("cluster_id")
    )
    g = _gate(F.col("cluster_id"), "gsplit:")
    assigned = labels.select(
        "doc_id",
        "cluster_id",
        F.when(g < "cd", "train").when(g < "e6", "valid").otherwise("test")
        .alias("split"),
    ).localCheckpoint()  # straddle audit + totals + rollup all re-read it
    straddle = (
        assigned.groupBy("cluster_id")
        .agg(F.countDistinct("split").alias("ns"))
        .filter(F.col("ns") > 1)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_straddling"))
    )
    tot = assigned.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    return (
        assigned.groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct("cluster_id").cast("bigint").alias("n_clusters"),
        )
        .crossJoin(F.broadcast(straddle))
        .crossJoin(F.broadcast(tot))
        .select(
            "split",
            "n_docs",
            "n_clusters",
            (F.col("n_docs").cast("double") / F.col("n_total")).alias(
                "docs_frac"
            ),
            (F.col("n_straddling") == 0).alias("leak_free"),
        )
    )
