"""Data-quality and corpus-curation reports [NORTH-STAR].

The pre-promotion audits a 100 TB lakehouse ingest runs before exposing a
snapshot to consumers: referential-integrity orphan counts across every
foreign-key edge, physical file-layout statistics straight from scan
metadata (the compaction/clustering planner's input), a one-scan corpus
gate crosstab (the keep/drop funnel of a training-data curation run),
and the dedup-savings report that prices exact + near-dup dedup in
documents and bytes.

The reference has no audit surface at all (SURVEY §5.1 — its pipeline
trusts HBase cell bytes end-to-end, `observer6/HbaseDataSyncEsObserver
.java:83-113` ships whatever arrives); these are the checks its operators
would have needed before anyone trusted the mirrored index.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.ranking import ranked_topk
from ..registry import register
from ..session import ensure_session_conf
from .dedup import _SQL_JACCARD_PAIRS, _SQL_SHINGLES, _jaccard_cc_labels
from .text import BLOCKLIST, STOPWORDS

# (fk_name, child table, child key, parent table, parent key) — the star
# schema's FK edges, smallest parent first so broadcast order reads well.
_FK_EDGES = (
    ("orders.o_custkey", "orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem.l_orderkey", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
)


@register(
    "quality_fk_orphans",
    oracle="\nUNION ALL\n".join(
        f"""
SELECT '{fk}' AS fk,
       COUNT(*) AS n_child,
       COUNT(*) FILTER (WHERE p.{pk} IS NULL) AS n_orphans,
       CAST(COUNT(*) FILTER (WHERE p.{pk} IS NULL) AS DOUBLE) / COUNT(*)
         AS orphan_frac
FROM {child} c LEFT JOIN {parent} p ON c.{ck} = p.{pk}"""
        for fk, child, ck, parent, pk in _FK_EDGES
    ),
)
def quality_fk_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: for every foreign-key edge of the
    star schema, how many child rows have no matching parent — the
    trust-but-verify pass a lakehouse runs per snapshot before promoting
    it (an orphan burst usually means a partial upstream load).

    Scale shape: one left join + single-row aggregate per edge. Every
    parent side here is dimension-sized, so Catalyst broadcasts it and
    the audit costs one map-side pass over each child table; a
    fact-to-fact edge (lineitem→orders) falls back to a shuffled hash
    join on the key it is already bucketable by. Counts only — nothing
    row-sized crosses an exchange after the join.
    """
    ensure_session_conf(spark)
    parts = []
    for fk, child, ck, parent, pk in _FK_EDGES:
        c = load_table(spark, sf_dir, child)
        p = load_table(spark, sf_dir, parent).select(pk)
        joined = c.join(p, c[ck] == p[pk], "left")
        orphans = F.sum(F.col(pk).isNull().cast("long"))
        cnt = F.count(F.lit(1))
        parts.append(
            joined.agg(
                F.lit(fk).alias("fk"),
                cnt.alias("n_child"),
                orphans.alias("n_orphans"),
                (orphans.cast("double") / cnt).alias("orphan_frac"),
            )
        )
    out = parts[0]
    for df in parts[1:]:
        out = out.unionByName(df)
    return out


@register(
    "profile_file_layout",
    oracle="""
SELECT 'lineitem.parquet' AS file_name,
       COUNT(*) AS n_rows,
       MIN(l_orderkey) AS min_key,
       MAX(l_orderkey) AS max_key
FROM lineitem
""",
)
def profile_file_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Physical layout profile from scan metadata: rows and key range per
    parquet file via the `_metadata` hidden column — the input to a
    compaction / clustering planner (small files ⇒ compact; overlapping
    key ranges ⇒ re-cluster before range queries are cheap).

    Scale shape: `_metadata.file_name` is populated by the scan itself —
    no extra IO, no listing job; the aggregate is one shuffle keyed by
    file (ideal partitioning: it IS the file partitioning). The fixtures
    ship exactly one parquet file per table (TESTDATA.md), so the oracle
    states the whole-table aggregate under that invariant; the pytest
    cross-check (tests/test_quality.py) verifies the per-file grouping
    against DuckDB's `read_parquet(..., filename=true)` — the layout-
    aware twin the static view-based oracle cannot express.
    """
    ensure_session_conf(spark)
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select(
            F.element_at(F.split(F.col("_metadata.file_name"), "/"), -1).alias(
                "file_name"
            ),
            "l_orderkey",
        )
        .groupBy("file_name")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("l_orderkey").alias("min_key"),
            F.max("l_orderkey").alias("max_key"),
        )
    )


_SQL_STOP = "(" + ", ".join(f"'{w}'" for w in STOPWORDS) + ")"


@register(
    "corpus_gate_report",
    oracle=f"""
WITH g AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_tokens,
         n_chars,
         len(list_filter(string_split(text, ' '), w -> w IN {_SQL_STOP}))
           * 1.0 / len(string_split(text, ' ')) AS en_score,
         len(list_distinct(string_split(text, ' ')))
           * 1.0 / len(string_split(text, ' ')) AS ttr,
         len(list_filter(string_split(text, ' '),
                         w -> list_contains({list(BLOCKLIST)}, w)))
           * 1.0 / len(string_split(text, ' ')) AS blocked_frac
  FROM documents
)
SELECT COUNT(*) AS n_docs,
       COUNT(*) FILTER (WHERE en_score >= 0.05) AS n_lang_ok,
       COUNT(*) FILTER (WHERE n_tokens >= 40 AND n_chars <= 20000)
         AS n_len_ok,
       COUNT(*) FILTER (WHERE ttr >= 0.3) AS n_ttr_ok,
       COUNT(*) FILTER (WHERE blocked_frac < 0.05) AS n_blocklist_ok,
       COUNT(*) FILTER (WHERE en_score >= 0.05
                        AND n_tokens >= 40 AND n_chars <= 20000
                        AND ttr >= 0.3 AND blocked_frac < 0.05)
         AS n_all_pass,
       CAST(COUNT(*) FILTER (WHERE en_score >= 0.05
                             AND n_tokens >= 40 AND n_chars <= 20000
                             AND ttr >= 0.3 AND blocked_frac < 0.05)
            AS DOUBLE) / COUNT(*) AS all_pass_frac
FROM g
""",
)
def corpus_gate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation funnel in one scan: how many documents pass each
    individual gate (language, length band, type-token ratio, blocklist)
    and how many pass ALL of them — the headline numbers of a
    training-data curation run (each gate reuses the exact expression of
    its standalone query: text_langid_heuristic, text_quality_filter,
    text_blocklist_gate).

    Scale shape: every gate is a map-side array/HOF expression over one
    corpus scan; the report is a single-row multi-aggregate (map-side
    partials, one tiny final reduce). At 100 TB this is strictly cheaper
    than materializing any gate's pass/fail column — which is exactly why
    the report comes first and the gated write second.
    """
    ensure_session_conf(spark)
    d = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    n_tokens = F.size(words)
    block = F.array(*[F.lit(t) for t in BLOCKLIST])
    en_score = (
        F.size(F.filter(words, lambda w: w.isin(*STOPWORDS)))
        * F.lit(1.0)
        / n_tokens
    )
    ttr = F.size(F.array_distinct(words)) * F.lit(1.0) / n_tokens
    blocked_frac = (
        F.size(F.filter(words, lambda w: F.array_contains(block, w)))
        * F.lit(1.0)
        / n_tokens
    )
    g = d.select(
        n_tokens.alias("n_tokens"),
        F.col("n_chars"),
        en_score.alias("en_score"),
        ttr.alias("ttr"),
        blocked_frac.alias("blocked_frac"),
    )
    lang_ok = F.col("en_score") >= 0.05
    len_ok = (F.col("n_tokens") >= 40) & (F.col("n_chars") <= 20000)
    ttr_ok = F.col("ttr") >= 0.3
    bl_ok = F.col("blocked_frac") < 0.05
    all_ok = lang_ok & len_ok & ttr_ok & bl_ok
    cnt = F.count(F.lit(1))
    return g.agg(
        cnt.alias("n_docs"),
        F.sum(lang_ok.cast("long")).alias("n_lang_ok"),
        F.sum(len_ok.cast("long")).alias("n_len_ok"),
        F.sum(ttr_ok.cast("long")).alias("n_ttr_ok"),
        F.sum(bl_ok.cast("long")).alias("n_blocklist_ok"),
        F.sum(all_ok.cast("long")).alias("n_all_pass"),
        (F.sum(all_ok.cast("long")).cast("double") / cnt).alias(
            "all_pass_frac"
        ),
    )


@register(
    "corpus_dedup_savings",
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
raw AS (
  SELECT COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
  FROM documents
),
exact_keep AS (
  SELECT n_chars FROM (
    SELECT n_chars,
           ROW_NUMBER() OVER (
             PARTITION BY md5(array_to_string(
               list_sort(string_split(text, ' ')), ' '))
             ORDER BY n_chars DESC, doc_id) AS rn
    FROM documents) WHERE rn = 1
),
near_keep AS (
  SELECT n_chars FROM (
    SELECT d.n_chars,
           ROW_NUMBER() OVER (PARTITION BY l.cluster_id
                              ORDER BY d.n_chars DESC, d.doc_id) AS rn
    FROM documents d JOIN lab l USING (doc_id)) WHERE rn = 1
),
stages AS (
  SELECT 'raw' AS stage, n_docs, total_chars FROM raw
  UNION ALL
  SELECT 'exact_dedup', COUNT(*), CAST(SUM(n_chars) AS BIGINT)
  FROM exact_keep
  UNION ALL
  SELECT 'neardup_keep_best', COUNT(*), CAST(SUM(n_chars) AS BIGINT)
  FROM near_keep
)
SELECT stage, n_docs, total_chars,
       CAST(n_docs AS DOUBLE) / (SELECT n_docs FROM raw) AS docs_frac,
       CAST(total_chars AS DOUBLE) / (SELECT total_chars FROM raw)
         AS chars_frac
FROM stages
""",
)
def corpus_dedup_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup business case in three rows: corpus size (documents and
    characters) raw, after exact canonical-hash dedup, and after
    near-dup keep-best-per-cluster — i.e. what fraction of storage and
    training tokens each dedup stage saves. Keep rule at both stages is
    the same as dedup_keep_best: (n_chars desc, doc_id) per group.

    Scale shape: three single-row aggregates unioned — raw is one scan,
    exact is one hash shuffle on the canonical hash, near-dup reuses the
    memoized CC labels (computed once per process, shared with
    dedup_clusters/dedup_keep_best) plus one shuffle on cluster_id. The
    fractions divide two exact integers as doubles (correctly-rounded in
    both engines).
    """
    ensure_session_conf(spark)
    d = load_table(spark, sf_dir, "documents")

    raw = d.agg(
        F.lit("raw").alias("stage"),
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )

    canon = F.md5(F.concat_ws(" ", F.array_sort(F.split(F.col("text"), " "))))
    exact = (
        d.select(canon.alias("ch"), "doc_id", "n_chars")
        .groupBy("ch")
        .agg(
            F.max_by(
                F.col("n_chars"), F.struct(F.col("n_chars"), -F.col("doc_id"))
            ).alias("n_chars")
        )
        .agg(
            F.lit("exact_dedup").alias("stage"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
    )

    labels = _jaccard_cc_labels(spark, sf_dir)
    near = (
        labels.select(
            F.col("id").alias("doc_id"), F.col("label").alias("cluster_id")
        )
        .join(d.select("doc_id", "n_chars"), "doc_id")
        .groupBy("cluster_id")
        .agg(
            F.max_by(
                F.col("n_chars"), F.struct(F.col("n_chars"), -F.col("doc_id"))
            ).alias("n_chars")
        )
        .agg(
            F.lit("neardup_keep_best").alias("stage"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
    )

    stages = raw.unionByName(exact).unionByName(near)
    w = Window.partitionBy()
    raw_docs = F.max(F.when(F.col("stage") == "raw", F.col("n_docs"))).over(w)
    raw_chars = F.max(
        F.when(F.col("stage") == "raw", F.col("total_chars"))
    ).over(w)
    return stages.select(
        "stage",
        "n_docs",
        "total_chars",
        (F.col("n_docs").cast("double") / raw_docs).alias("docs_frac"),
        (F.col("total_chars").cast("double") / raw_chars).alias("chars_frac"),
    )


@register(
    "corpus_quality_deciles",
    oracle="""
WITH s AS (
  SELECT doc_id, n_chars,
         len(list_distinct(string_split(text, ' ')))
           * 1.0 / len(string_split(text, ' ')) AS ttr
  FROM documents
),
t AS (
  SELECT doc_id, n_chars, ttr,
         ntile(10) OVER (ORDER BY CAST(ttr AS DOUBLE), doc_id) AS decile
  FROM s
)
SELECT CAST(decile AS BIGINT) AS decile,
       COUNT(*) AS n_docs,
       CAST(MIN(ttr) AS DOUBLE) AS min_ttr,
       CAST(MAX(ttr) AS DOUBLE) AS max_ttr,
       CAST(SUM(CAST(n_chars AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
         AS avg_chars
FROM t GROUP BY decile
""",
)
def corpus_quality_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-score decile table: documents ranked by type-token ratio
    and cut into 10 equal-frequency buckets, with each decile's score
    range and average length — the report that picks a keep threshold
    ("drop the bottom two deciles") from data rather than a guess.

    Scale shape: at this SF the decile cut is one global ntile window
    (single-partition by construction over a doc-grain projection); at
    100 TB the same report computes the 9 cut points with
    approx_percentile (mergeable sketch, no global sort) and assigns
    buckets map-side — the output contract stays identical, which is
    why the report is expressed threshold-first. Averages go through
    exact decimal sums (order-independent).
    """
    ensure_session_conf(spark)
    d = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    ttr = F.size(F.array_distinct(words)) * F.lit(1.0) / F.size(words)
    s = d.select("doc_id", "n_chars", ttr.alias("ttr"))
    t = s.select(
        "doc_id",
        "n_chars",
        "ttr",
        F.ntile(10)
        .over(Window.orderBy(F.col("ttr").cast("double"), "doc_id"))
        .alias("decile"),
    )
    return t.groupBy(F.col("decile").cast("bigint").alias("decile")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("ttr").cast("double").alias("min_ttr"),
        F.max("ttr").cast("double").alias("max_ttr"),
        (
            F.sum(F.col("n_chars").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_chars"),
    )


# (table, pk expression (SQL == Spark expr text)) — composite keys are
# hashed into one expression so the same text runs in both engines.
_PK_EDGES = (
    ("customer", "c_custkey"),
    ("orders", "o_orderkey"),
    ("part", "p_partkey"),
    ("supplier", "s_suppkey"),
    ("documents", "doc_id"),
    ("embeddings", "vec_id"),
    ("events", "event_id"),
    ("lineitem", "l_orderkey * 100 + l_linenumber"),
)


@register(
    "quality_pk_uniqueness",
    oracle="\nUNION ALL\n".join(
        f"""
SELECT '{tbl}' AS tbl,
       COUNT(*) AS n_rows,
       COUNT(DISTINCT {pk}) AS n_distinct_keys,
       COUNT(*) - COUNT(DISTINCT {pk}) AS n_dup_rows,
       COUNT(*) = COUNT(DISTINCT {pk}) AS pk_unique
FROM {tbl}"""
        for tbl, pk in _PK_EDGES
    ),
)
def quality_pk_uniqueness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Primary-key uniqueness audit across every table: row count vs
    distinct key count and the duplicate surplus — the other half of the
    constraint checks (quality_fk_orphans covers the edges, this covers
    the nodes). A duplicate PK after an ingest usually means a retried
    batch landed twice — the at-least-once artifact the reference's ES
    _id upsert silently papers over (HbaseDataSyncEsObserver.java:109)
    and a lakehouse table would surface as corruption.

    Scale shape: one count-distinct aggregate per table — map-side
    partial distinct, one exchange each, nothing row-sized past it. At
    100 TB swap COUNT(DISTINCT) for approx_count_distinct when a ±2%
    answer is enough to page someone; the composite lineitem key is
    folded into one integer expression so the distinct state is a
    single long per key either way.
    """
    ensure_session_conf(spark)
    parts = []
    for tbl, pk in _PK_EDGES:
        t = load_table(spark, sf_dir, tbl)
        cnt = F.count(F.lit(1))
        nd = F.countDistinct(F.expr(pk))
        parts.append(
            t.agg(
                F.lit(tbl).alias("tbl"),
                cnt.alias("n_rows"),
                nd.alias("n_distinct_keys"),
                (cnt - nd).alias("n_dup_rows"),
                (cnt == nd).alias("pk_unique"),
            )
        )
    out = parts[0]
    for df in parts[1:]:
        out = out.unionByName(df)
    return out


DRIFT_BIN_W = 50000  # fixed-width price bins (11 bins over the range)
DRIFT_SPLIT = "1998-01-01"


@register(
    "snapshot_distribution_drift",
    oracle=f"""
WITH binned AS (
  SELECT CAST(FLOOR(o_totalprice / {DRIFT_BIN_W}) AS BIGINT) AS bin,
         (o_orderdate < TIMESTAMP '{DRIFT_SPLIT}') AS is_a
  FROM orders
),
tot AS (
  SELECT COUNT(*) FILTER (WHERE is_a) AS na,
         COUNT(*) FILTER (WHERE NOT is_a) AS nb
  FROM binned
),
per_bin AS (
  SELECT bin,
         COUNT(*) FILTER (WHERE is_a) AS ca,
         COUNT(*) FILTER (WHERE NOT is_a) AS cb
  FROM binned GROUP BY bin
),
fr AS (
  SELECT bin, ca, cb,
         CAST(ca AS DOUBLE) / (SELECT na FROM tot) AS p,
         CAST(cb AS DOUBLE) / (SELECT nb FROM tot) AS q
  FROM per_bin
)
SELECT CAST(bin AS BIGINT) AS bin, ca, cb, p, q,
       CAST(SUM(CAST((p - q) * (p - q) / (p + q) AS DECIMAL(28,12)))
            OVER () AS DOUBLE) AS chi2_distance
FROM fr
""",
)
def snapshot_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift between two temporal snapshots (orders before
    vs since 1998) over fixed price bins: per-bin counts and fractions
    plus the chi-square-style distance Σ (p−q)²/(p+q) — the
    PSI-shaped drift alarm an ML feature store runs before a snapshot
    goes to training. The chi² form replaces PSI's ln(p/q): same
    monotone drift signal, but every term is exact-rational-over-double
    arithmetic, so the score is bit-reproducible across engines (ln is
    not guaranteed correctly rounded everywhere).

    Scale shape: one scan, one hash aggregation keyed by bin with
    conditional counts (the two snapshots never materialize
    separately), one broadcast of the two totals; the distance rides a
    whole-table window over the BIN-grain table (≤ a dozen rows). At
    100 TB the bins would come from approx-quantile edges of the
    reference snapshot — same plan shape.
    """
    ensure_session_conf(spark)
    o = load_table(spark, sf_dir, "orders")
    # FLOOR of a correctly-rounded double division on both sides — a
    # direct double→bigint cast would round in DuckDB but truncate in
    # Spark and split bin-edge rows differently
    binned = o.select(
        F.floor(F.col("o_totalprice") / DRIFT_BIN_W)
        .cast("bigint")
        .alias("bin"),
        F.expr(f"(o_orderdate < TIMESTAMP '{DRIFT_SPLIT}')").alias("is_a"),
    )
    per_bin = binned.groupBy("bin").agg(
        F.sum(F.col("is_a").cast("long")).alias("ca"),
        F.sum((~F.col("is_a")).cast("long")).alias("cb"),
    )
    tot = binned.agg(
        F.sum(F.col("is_a").cast("long")).alias("na"),
        F.sum((~F.col("is_a")).cast("long")).alias("nb"),
    )
    fr = per_bin.crossJoin(F.broadcast(tot)).select(
        "bin",
        "ca",
        "cb",
        (F.col("ca").cast("double") / F.col("na")).alias("p"),
        (F.col("cb").cast("double") / F.col("nb")).alias("q"),
    )
    term = (F.col("p") - F.col("q")) * (F.col("p") - F.col("q")) / (
        F.col("p") + F.col("q")
    )
    return fr.select(
        F.col("bin").cast("bigint").alias("bin"),
        "ca",
        "cb",
        "p",
        "q",
        F.sum(term.cast("decimal(28,12)"))
        .over(Window.partitionBy())
        .cast("double")
        .alias("chi2_distance"),
    )


@register(
    "corr_text_embedding",
    oracle="""
WITH joined AS (
  SELECT len(list_distinct(string_split(d.text, ' ')))
           * 1.0 / len(string_split(d.text, ' ')) AS x,
         list_reduce(list_transform(e.embedding,
             v -> CAST(v AS DOUBLE)), (a, b) -> a + b) / 64 AS y
  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
),
m AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(28,12))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(x * y AS DECIMAL(28,12))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(x * x AS DECIMAL(28,12))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(y * y AS DECIMAL(28,12))) AS DOUBLE) AS syy
  FROM joined
)
SELECT CAST(n AS BIGINT) AS n_docs,
       sx / n AS mean_ttr,
       sy / n AS mean_activation,
       (n * sxy - sx * sy)
         / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS pearson_r
FROM m
""",
)
def corr_text_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal quality correlation: Pearson r between a document's
    lexical diversity (type-token ratio) and its embedding's mean
    activation, over the documents⋈embeddings id join — the drift audit
    that catches a degenerate embedder (activations sliding with text
    quality). The fixture embeddings are unit-normalized, so the L2
    norm is the one statistic with NO variance — mean activation is the
    honest correlate (a norm-based r would divide rounding noise by
    rounding noise).

    Determinism: the five cross-row moment sums run through
    DECIMAL(28,12) (order-independent); the per-row dot product uses
    the fixed left-fold of functions/vectors.py in both dialects; the
    final r is a fixed chain of correctly-rounded double ops.

    Scale shape: one equi-join on the id (bucketable on both sides at
    100 TB), one single-row multi-aggregate — the correlation never
    materializes anything row-sized past the join.
    """
    ensure_session_conf(spark)
    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    words = F.split(F.col("text"), " ")
    x = F.size(F.array_distinct(words)) * F.lit(1.0) / F.size(words)
    # mean activation: left-fold sum (same op order as DuckDB's
    # list_reduce — the +0.0 init is IEEE-exact) / exact binary 64
    y = (
        F.aggregate(
            F.transform(F.col("embedding"), lambda v: v.cast("double")),
            F.lit(0.0),
            lambda a, v: a + v,
        )
        / 64
    )
    joined = d.join(
        e, d["doc_id"] == e["vec_id"]
    ).select(x.alias("x"), y.alias("y"))
    dsum12 = lambda c: F.sum(c.cast("decimal(28,12)")).cast("double")  # noqa: E731
    m = joined.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum12(F.col("x")).alias("sx"),
        dsum12(F.col("y")).alias("sy"),
        dsum12(F.col("x") * F.col("y")).alias("sxy"),
        dsum12(F.col("x") * F.col("x")).alias("sxx"),
        dsum12(F.col("y") * F.col("y")).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    r = (n * F.col("sxy") - sx * sy) / (
        F.sqrt(n * F.col("sxx") - sx * sx) * F.sqrt(n * F.col("syy") - sy * sy)
    )
    return m.select(
        n.cast("bigint").alias("n_docs"),
        (sx / n).alias("mean_ttr"),
        (sy / n).alias("mean_activation"),
        r.alias("pearson_r"),
    )


# (rule name, SQL predicate that flags a VIOLATION — identical text runs
# in both engines over the named table)
_ROW_RULES = (
    ("orders.totalprice_positive", "orders", "o_totalprice <= 0"),
    (
        "orders.status_in_domain",
        "orders",
        "o_orderstatus NOT IN ('F', 'O', 'P')",
    ),
    (
        "orders.date_in_range",
        "orders",
        "o_orderdate < TIMESTAMP '1992-01-01' "
        "OR o_orderdate >= TIMESTAMP '2002-01-01'",
    ),
    ("lineitem.discount_in_band", "lineitem", "l_discount < 0 OR l_discount > 0.1"),
    ("lineitem.qty_positive", "lineitem", "l_quantity <= 0"),
    (
        "lineitem.ship_after_1992",
        "lineitem",
        "l_shipdate < TIMESTAMP '1992-01-01'",
    ),
    ("documents.nonempty_text", "documents", "length(text) = 0"),
    ("events.value_non_negative", "events", "value < 0"),
)


@register(
    "quality_row_rules",
    oracle="\nUNION ALL\n".join(
        f"""
SELECT '{rule}' AS rule,
       COUNT(*) AS n_rows,
       COUNT(*) FILTER (WHERE {pred}) AS n_violations,
       COUNT(*) FILTER (WHERE {pred}) = 0 AS passes
FROM {tbl}"""
        for rule, tbl, pred in _ROW_RULES
    ),
)
def quality_row_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level expectation suite (Great-Expectations-shaped): named
    validation rules — positivity, enum domains, date ranges, value
    bands — evaluated as violation counts per rule in ONE pass per
    table. The third leg of the constraint audits (quality_fk_orphans =
    edges, quality_pk_uniqueness = keys, this = cell values).

    The rule predicates are SQL text shared verbatim between engines
    (and storable as data — a rule table, not code — which is how a
    100 TB platform ships expectations to every ingest job without
    redeploying it).

    Scale shape: rules over the same table compile into one scan with
    conditional-count aggregates (map-side partials); nothing row-sized
    survives the scan.
    """
    ensure_session_conf(spark)
    by_table: dict[str, list] = {}
    for rule, tbl, pred in _ROW_RULES:
        by_table.setdefault(tbl, []).append((rule, pred))
    parts = []
    for tbl, rules in by_table.items():
        t = load_table(spark, sf_dir, tbl)
        cnt = F.count(F.lit(1))
        # one scan per table: every rule is a conditional count in the
        # same aggregate
        aggs = [cnt.alias("n_rows")]
        for i, (_, pred) in enumerate(rules):
            aggs.append(F.sum(F.expr(pred).cast("long")).alias(f"v{i}"))
        one = t.agg(*aggs)
        # unpivot the single agg row with explode instead of one union
        # branch per rule — a per-rule branch re-ran the table scan+agg
        # per rule (plan audit: 8 exchanges); this keeps it at exactly
        # one scan per table
        rules_arr = F.array(
            *[
                F.struct(
                    F.lit(rule).alias("rule"),
                    F.col("n_rows").alias("n_rows"),
                    F.col(f"v{i}").alias("n_violations"),
                )
                for i, (rule, _) in enumerate(rules)
            ]
        )
        parts.append(
            one.select(F.explode(rules_arr).alias("r")).select(
                "r.rule",
                "r.n_rows",
                "r.n_violations",
                (F.col("r.n_violations") == 0).alias("passes"),
            )
        )
    out = parts[0]
    for df in parts[1:]:
        out = out.unionByName(df)
    return out


RECON_TOL = 0.01  # absolute dollars: |recomputed - recorded| <= tol passes


@register(
    "quality_order_price_reconciliation",
    oracle=f"""
WITH r AS (
  SELECT l_orderkey,
         CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                       AS DECIMAL(18,6))) AS DOUBLE) AS recomputed
  FROM lineitem GROUP BY l_orderkey
),
j AS (
  SELECT o.o_orderpriority,
         abs(r.recomputed - o.o_totalprice) AS abs_diff,
         abs(r.recomputed - o.o_totalprice) / o.o_totalprice AS rel_diff
  FROM r JOIN orders o ON o.o_orderkey = r.l_orderkey
)
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(COUNT(*) FILTER (WHERE abs_diff <= {RECON_TOL}) AS BIGINT)
         AS n_reconciled,
       MAX(abs_diff) AS max_abs_diff,
       CAST(SUM(CAST(rel_diff AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
         AS mean_rel_diff
FROM j
GROUP BY o_orderpriority
""",
)
def quality_order_price_reconciliation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cross-table AGGREGATE reconciliation — the fourth audit leg next
    to fk_orphans (edges), pk_uniqueness (keys), and row_rules (cells):
    does the recorded order total equal the rollup of its line items
    (Σ extendedprice·(1−discount)·(1+tax))? On this synthetic fixture
    the identity deliberately does NOT hold (totals are generated
    independently), which is exactly what the audit exists to surface —
    a warehouse whose denormalized totals silently drifted from their
    detail rows.

    Determinism: the per-line product is a left-associated double
    expression written identically in both engines; the per-order sum
    rides DECIMAL(18,6); diffs/ratios are then single double ops over
    identical values, so counts, max, and the decimal-summed mean are
    bit-exact.

    Scale shape: one groupBy(l_orderkey) rollup (map-side partials) +
    one key-colocated join to orders + a tiny per-priority aggregate —
    the same one-shuffle shape as every LWW merge here; at 100 TB both
    sides are bucketed by orderkey and the join is exchange-free.
    """
    ensure_session_conf(spark)
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    prod = (
        F.col("l_extendedprice")
        * (F.lit(1) - F.col("l_discount"))
        * (F.lit(1) + F.col("l_tax"))
    )
    r = li.groupBy("l_orderkey").agg(
        F.sum(prod.cast("decimal(18,6)")).cast("double").alias("recomputed")
    )
    j = r.join(o, r.l_orderkey == o.o_orderkey).select(
        "o_orderpriority",
        F.abs(F.col("recomputed") - F.col("o_totalprice")).alias("abs_diff"),
        (
            F.abs(F.col("recomputed") - F.col("o_totalprice"))
            / F.col("o_totalprice")
        ).alias("rel_diff"),
    )
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum((F.col("abs_diff") <= RECON_TOL).cast("long"))
        .cast("bigint")
        .alias("n_reconciled"),
        F.max("abs_diff").alias("max_abs_diff"),
        (
            F.sum(F.col("rel_diff").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mean_rel_diff"),
    )


@register(
    "quality_benford_leading_digit",
    oracle="""
WITH digits AS (
  SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR),
              1, 1) AS BIGINT) AS leading_digit
  FROM orders
  WHERE o_totalprice >= 1
)
SELECT leading_digit,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(*) AS DOUBLE)
         / (SELECT COUNT(*) FROM digits) AS frac
FROM digits GROUP BY leading_digit
""",
)
def quality_benford_leading_digit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Benford leading-digit audit over order totals — the classic
    anomaly screen for fabricated or truncated monetary data: natural
    multi-scale amounts put ~30.1% of leading digits at 1, and a flat
    or spiky profile flags generator bugs or filtering artifacts
    upstream. The output is the observed digit distribution (counts +
    exact-division fractions); the expected Benford curve needs log10,
    a transcendental whose last ulp differs across engines, so judging
    against it stays a consumer-side comparison — the engine's job is
    the exact distribution.

    Determinism: the leading digit is extracted through
    floor → BIGINT → string (all exact; no double formatting anywhere),
    and frac is one IEEE division of two exact counts.

    Scale shape: map-side digit extraction, one 9-group hash agg, one
    broadcast scalar total. A 100 TB audit is one scan.
    """
    ensure_session_conf(spark)
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") >= 1
    )
    digits = o.select(
        F.substring(
            F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
        )
        .cast("bigint")
        .alias("leading_digit")
    )
    total = digits.agg(F.count(F.lit(1)).alias("tot"))
    return (
        digits.groupBy("leading_digit")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .crossJoin(F.broadcast(total))
        .select(
            "leading_digit",
            "n",
            (F.col("n").cast("double") / F.col("tot").cast("double")).alias(
                "frac"
            ),
        )
    )


@register(
    "quality_bucket_checksum_diff",
    oracle="""
WITH a AS (SELECT * FROM documents),
b AS (
  SELECT doc_id,
         CASE WHEN doc_id % 101 = 7 THEN '[BITROT]' || text ELSE text END
           AS text,
         lang, source, n_chars
  FROM documents WHERE doc_id % 97 <> 13
),
ka AS (
  SELECT doc_id % 64 AS bucket,
         CAST(CONCAT('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':' || text
              || ':' || lang || ':' || source), 1, 8)) AS BIGINT) AS h
  FROM a
),
kb AS (
  SELECT doc_id % 64 AS bucket,
         CAST(CONCAT('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':' || text
              || ':' || lang || ':' || source), 1, 8)) AS BIGINT) AS h
  FROM b
),
sa AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS cnt_a,
              CAST(SUM(h) AS BIGINT) AS sum_a FROM ka GROUP BY bucket),
sb AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS cnt_b,
              CAST(SUM(h) AS BIGINT) AS sum_b FROM kb GROUP BY bucket)
SELECT COALESCE(sa.bucket, sb.bucket) AS bucket,
       COALESCE(cnt_a, 0) AS cnt_a, COALESCE(cnt_b, 0) AS cnt_b,
       COALESCE(sum_a, 0) AS sum_a, COALESCE(sum_b, 0) AS sum_b,
       (COALESCE(cnt_a, 0) = COALESCE(cnt_b, 0)
        AND COALESCE(sum_a, 0) = COALESCE(sum_b, 0)) AS is_equal
FROM sa FULL OUTER JOIN sb ON sa.bucket = sb.bucket
""",
)
def quality_bucket_checksum_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replica anti-entropy by bucket checksums — the verification tool
    the reference's HBase -> Elasticsearch mirror never had (its
    coprocessor ships mutations fire-and-forget,
    observer6/ElasticSearchBulkOperator.java:84-96; nothing ever proves
    the index equals the source). Replica B is the source with two
    deterministic fault injections (doc_id % 97 = 13 dropped -> a lost
    bulk; doc_id % 101 = 7 text-mutated -> bitrot / stale overwrite).
    Each side reduces to 64 (count, checksum-sum) buckets keyed
    doc_id % 64, where the row checksum is the md5-derived 32-bit code
    of the full row payload; unequal buckets localize the damage to
    1/64 of the keyspace.

    This is the Merkle-tree leaf level (Cassandra repair, DynamoDB
    anti-entropy): comparing replicas costs two table scans + 64-row
    exchange instead of a cross-cluster row join; only flagged buckets
    (here ~ (500/97 + 500/101) / 64 of them) need the row-level drill-
    down that cdc_snapshot_diff (cdc.py) already provides. Checksums
    SUM 32-bit codes into BIGINT — commutative, so bucket sums are
    partition-order-independent; at 10^12 rows/bucket switch the sum to
    DECIMAL(38,0) before overflow (headroom documented, not needed
    below ~2^31 rows/bucket).
    """
    ensure_session_conf(spark)
    d = load_table(spark, sf_dir, "documents")
    b = d.filter(F.col("doc_id") % 97 != 13).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 101 == 7, F.concat(F.lit("[BITROT]"), "text")
        )
        .otherwise(F.col("text"))
        .alias("text"),
        "lang",
        "source",
        "n_chars",
    )

    def side(df: DataFrame, ca: str, sa: str) -> DataFrame:
        # F.concat (null-propagating) mirrors the oracle's `||`: a NULL
        # field nulls the whole payload, md5(NULL) -> NULL, dropped from
        # SUM on both engines. concat_ws would silently SKIP the null
        # field on the Spark side only.
        h = F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("doc_id").cast("string"),
                        F.lit(":"),
                        F.col("text"),
                        F.lit(":"),
                        F.col("lang"),
                        F.lit(":"),
                        F.col("source"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        return (
            df.groupBy((F.col("doc_id") % 64).alias("bucket"))
            .agg(
                F.count(F.lit(1)).cast("bigint").alias(ca),
                F.sum(h).cast("bigint").alias(sa),
            )
        )

    sa = side(d, "cnt_a", "sum_a")
    sb = side(b, "cnt_b", "sum_b")
    return (
        sa.join(sb, "bucket", "full_outer")
        .select(
            "bucket",
            F.coalesce("cnt_a", F.lit(0)).alias("cnt_a"),
            F.coalesce("cnt_b", F.lit(0)).alias("cnt_b"),
            F.coalesce("sum_a", F.lit(0)).alias("sum_a"),
            F.coalesce("sum_b", F.lit(0)).alias("sum_b"),
            (
                (F.coalesce("cnt_a", F.lit(0)) == F.coalesce("cnt_b", F.lit(0)))
                & (
                    F.coalesce("sum_a", F.lit(0))
                    == F.coalesce("sum_b", F.lit(0))
                )
            ).alias("is_equal"),
        )
    )


K_ANON = 5  # the k in k-anonymity: groups below this size are re-identifiable


@register(
    "quality_k_anonymity",
    oracle=f"""
WITH qi AS (
  SELECT lang, source, n_chars // 100 AS len_bucket FROM documents
),
cls AS (
  SELECT lang, source, len_bucket, CAST(COUNT(*) AS BIGINT) AS sz
  FROM qi GROUP BY lang, source, len_bucket
)
SELECT sz AS class_size,
       CAST(COUNT(*) AS BIGINT) AS n_classes,
       CAST(SUM(sz) AS BIGINT) AS n_rows,
       (sz < {K_ANON}) AS is_at_risk
FROM cls GROUP BY sz
""",
)
def quality_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the quasi-identifier (lang, source,
    length-bucket) — the compliance twin of text_pii_redaction: PII
    scrubbing removes direct identifiers, but rows remain
    re-identifiable when their quasi-identifier combination is rare.
    Every equivalence class is counted and the output is the class-size
    histogram with `is_at_risk` marking sizes below k = {K_ANON}; the
    at-risk row count is what a release gate must suppress, generalize
    (coarser buckets) or drop before publishing the corpus.

    Shape: one groupBy over the QI columns (map-side combine), one
    groupBy over class sizes — two linear passes, the same skew profile
    as any categorical rollup. At 100 TB the QI groupBy is the only
    data-sized stage and partitions by the QI hash; the histogram is
    KB-sized. Integer-only output — trivially hash-stable.
    """
    ensure_session_conf(spark)
    d = load_table(spark, sf_dir, "documents")
    cls = (
        d.select(
            "lang", "source", F.expr("n_chars DIV 100").alias("len_bucket")
        )
        .groupBy("lang", "source", "len_bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("sz"))
    )
    return cls.groupBy(F.col("sz").alias("class_size")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.sum("sz").cast("bigint").alias("n_rows"),
        F.max((F.col("sz") < K_ANON).cast("boolean")).alias("is_at_risk"),
    )


# --- fastText-style hashed linear quality classifier -------------------------

from ..functions.hashing import sql_token_code, token_code  # noqa: E402

HASH_DIM = 64  # feature-hash buckets (the fastText -bucket knob)
CLF_A, CLF_B, CLF_P = 2654435761, 104729, 97  # frozen weight congruence
CLF_SHIFT = CLF_P // 2  # weights span [-48, 48] — zero-centered
# Per-bucket integer weight: ((bucket*A + B) % P) - SHIFT.  A frozen
# congruential weight vector stands in for trained fastText weights: the
# Spark-side plumbing (hash → bucket → weight → mean) is byte-identical to
# serving a real model, and integer weights keep the score exactly
# portable (the per-doc score is one BIGINT sum and one final division).

_SQL_CLF_SCORED = f"""
tok AS (
  SELECT doc_id, source, lang,
         unnest(string_split(text, ' ')) AS w
  FROM documents
),
feat AS (
  SELECT doc_id, source, lang,
         COUNT(*) AS n_tok,
         SUM((({sql_token_code('w')} % {HASH_DIM}) * {CLF_A} + {CLF_B})
             % {CLF_P} - {CLF_SHIFT}) AS w_sum
  FROM tok GROUP BY doc_id, source, lang
),
clf_scored AS (
  SELECT doc_id, source, lang, n_tok,
         CAST(w_sum AS DOUBLE) / n_tok AS score
  FROM feat
)
"""


def _hash_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc hashed-linear score: ``(doc_id, source, lang, n_tok,
    score)`` — DataFrame twin of the ``clf_scored`` CTE. Token → md5
    bucket → integer weight stays entirely in JVM expression codegen; the
    doc score is an exact BIGINT sum divided once, so it hash-compares
    without rounding."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", "source", "lang",
        F.explode(F.split(F.col("text"), " ")).alias("w"),
    )
    bucket = token_code(F.col("w")) % F.lit(HASH_DIM)
    weight = (bucket * F.lit(CLF_A) + F.lit(CLF_B)) % F.lit(CLF_P) - F.lit(
        CLF_SHIFT
    )
    return (
        tok.groupBy("doc_id", "source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            F.sum(weight).alias("w_sum"),
        )
        .select(
            "doc_id", "source", "lang", "n_tok",
            (F.col("w_sum").cast("double") / F.col("n_tok")).alias("score"),
        )
    )


@register(
    "quality_hash_classifier",
    oracle=f"""
WITH {_SQL_CLF_SCORED}
SELECT source, lang,
       COUNT(*) AS n_docs,
       COUNT(*) FILTER (WHERE score > 0) AS n_hi,
       CAST(COUNT(*) FILTER (WHERE score > 0) AS DOUBLE) / COUNT(*)
         AS hi_rate,
       CAST(SUM(CAST(score AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*)
         AS mean_score
FROM clf_scored
GROUP BY source, lang
""",
)
def quality_hash_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-shaped quality classifier pass over the corpus: every
    token feature-hashes into HASH_DIM buckets (md5-portable, the
    hashing-trick that lets vocabulary size stay unbounded), each bucket
    carries a frozen integer weight, and a document's quality score is
    the mean bucket weight of its tokens — exactly the linear
    bag-of-hashed-ngrams scoring fastText serves, minus training.
    Reported per (source, lang): volume, above-threshold rate, mean
    score — the slice table a curation run uses to set per-source keep
    quotas (CCNet / DCLM-style quality partitioning).

    Scale shape: one explode + one hash-groupBy per doc (map-side
    combine does the token-grain work), then a tiny (source, lang)
    rollup. No joins, no UDFs — the entire scorer is whole-stage
    codegen; at 100 TB this is a single linear pass, embarrassingly
    partition-parallel, and the model (weight table) ships as literals
    rather than a broadcast (a trained HASH_DIM-row weight table would
    broadcast at KB size).
    """
    ensure_session_conf(spark)
    s = _hash_doc_scores(spark, sf_dir)
    return s.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("score") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_hi"),
        (
            F.sum(F.when(F.col("score") > 0, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1))
        ).alias("hi_rate"),
        (
            F.sum(F.col("score").cast("decimal(28,12)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mean_score"),
    )


@register(
    "quality_classifier_calibration",
    oracle=f"""
WITH {_SQL_CLF_SCORED},
ext AS (SELECT MIN(score) AS mn, MAX(score) AS mx FROM clf_scored),
pred AS (
  SELECT s.doc_id,
         CASE WHEN e.mx = e.mn THEN 0.5
              ELSE (s.score - e.mn) / (e.mx - e.mn) END AS p,
         CASE WHEN s.lang = 'en' THEN 1 ELSE 0 END AS y,
         NTILE(10) OVER (ORDER BY s.score, s.doc_id) AS decile
  FROM clf_scored s CROSS JOIN ext e
)
SELECT decile,
       COUNT(*) AS n_docs,
       CAST(SUM(CAST(p AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*)
         AS mean_pred,
       CAST(SUM(y) AS DOUBLE) / COUNT(*) AS obs_rate,
       ABS(CAST(SUM(CAST(p AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*)
           - CAST(SUM(y) AS DOUBLE) / COUNT(*)) AS abs_gap
FROM pred
GROUP BY decile
""",
)
def quality_classifier_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Reliability diagram for the hashed quality classifier: scores
    min-max-normalize to pseudo-probabilities, documents bucket into
    score deciles (NTILE over the total (score, doc_id) order), and each
    decile compares mean predicted probability against the observed
    positive rate (proxy truth: lang = 'en'). abs_gap per decile is the
    per-bucket term of expected calibration error — the audit that
    decides whether classifier scores can gate a corpus directly or need
    temperature scaling first.

    Scale shape: the per-doc scorer is the shared linear pass; min/max
    is a single-row aggregate broadcast back (one tiny cross join); the
    NTILE over a global order is the one genuinely global stage — at
    100 TB it becomes a rangepartition + per-partition offset (the same
    distributed-rank decomposition sampling.py's split queries use), and
    the decile rollup is 10 rows.
    """
    ensure_session_conf(spark)
    s = _hash_doc_scores(spark, sf_dir)
    ext = s.agg(F.min("score").alias("mn"), F.max("score").alias("mx"))
    pred = (
        s.crossJoin(F.broadcast(ext))
        .select(
            "doc_id",
            F.when(F.col("mx") == F.col("mn"), F.lit(0.5))
            .otherwise(
                (F.col("score") - F.col("mn")) / (F.col("mx") - F.col("mn"))
            )
            .alias("p"),
            F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
            F.ntile(10)
            .over(Window.orderBy("score", "doc_id"))
            .cast("bigint")
            .alias("decile"),
        )
    )
    mean_pred = (
        F.sum(F.col("p").cast("decimal(28,12)")).cast("double")
        / F.count(F.lit(1))
    )
    obs_rate = F.sum("y").cast("double") / F.count(F.lit(1))
    return pred.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_docs"),
        mean_pred.alias("mean_pred"),
        obs_rate.alias("obs_rate"),
        F.abs(mean_pred - obs_rate).alias("abs_gap"),
    )


# --- chance-corrected labeler agreement + curriculum ordering ---------------

DIV_THRESHOLD = 500  # lexical-diversity labeler: uniq_tokens*1000//tokens >= 500


@register(
    "quality_labeler_kappa",
    oracle=f"""
WITH {_SQL_CLF_SCORED},
lex AS (
  SELECT doc_id,
         CAST(length(list_distinct(string_split(text, ' '))) AS BIGINT) * 1000
           // CAST(length(string_split(text, ' ')) AS BIGINT) AS div1000
  FROM documents
),
lab AS (
  SELECT s.doc_id,
         CASE WHEN s.score > 0 THEN 1 ELSE 0 END AS a,
         CASE WHEN l.div1000 >= {DIV_THRESHOLD} THEN 1 ELSE 0 END AS b
  FROM clf_scored s JOIN lex l ON l.doc_id = s.doc_id
),
c AS (
  SELECT COUNT(*) AS n,
         COUNT(*) FILTER (WHERE a = 1 AND b = 1) AS n11,
         COUNT(*) FILTER (WHERE a = 0 AND b = 0) AS n00,
         COUNT(*) FILTER (WHERE a = 1 AND b = 0) AS n10,
         COUNT(*) FILTER (WHERE a = 0 AND b = 1) AS n01,
         COUNT(*) FILTER (WHERE a = 1) AS ra1,
         COUNT(*) FILTER (WHERE b = 1) AS cb1
  FROM lab
)
SELECT n AS n_docs, n11, n00, n10, n01,
       CAST(n11 + n00 AS DOUBLE) / n AS po,
       CAST(ra1 * cb1 + (n - ra1) * (n - cb1) AS DOUBLE) / (n * n) AS pe,
       CAST(n * (n11 + n00) - (ra1 * cb1 + (n - ra1) * (n - cb1)) AS DOUBLE)
         / (n * n - (ra1 * cb1 + (n - ra1) * (n - cb1))) AS kappa
FROM c
""",
)
def quality_labeler_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two weak quality labelers — the hashed
    linear classifier (score > 0) and a lexical-diversity heuristic
    (unique-token ratio ≥ 0.5) — the chance-corrected agreement statistic
    that tells a weak-supervision pipeline whether its labelers carry
    INDEPENDENT signal (kappa ≪ 1 with decent accuracy = good ensemble
    members) or are redundant rephrasings (kappa ≈ 1). Raw agreement
    (po), chance agreement (pe) and the 2×2 confusion mass ship
    alongside kappa so the report is auditable.

    Deterministic: both labelers are integer arithmetic; kappa is
    computed from exact BIGINT cell counts with a single final division
    (N·(n11+n00) − Σrc over N² − Σrc), so no intermediate float ever
    feeds another operation.

    Scale shape: two map-side token-grain aggregations (one per
    labeler), one doc-grain join, then a single 2×2 rollup — the whole
    statistic is one corpus pass; at 100 TB the per-labeler passes fuse
    into the same scan when both read ``text``.
    """
    ensure_session_conf(spark)
    s = _hash_doc_scores(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents")
    # exact integer division (DIV): a double `/` + cast could round across
    # an integer boundary and disagree with the oracle's `//`
    lex = d.select(
        "doc_id",
        F.expr(
            "CAST(size(array_distinct(split(text, ' '))) AS BIGINT) * 1000"
            " DIV CAST(size(split(text, ' ')) AS BIGINT)"
        ).alias("div1000"),
    )
    lab = s.select(
        "doc_id", F.when(F.col("score") > 0, 1).otherwise(0).alias("a")
    ).join(
        lex.select(
            "doc_id",
            F.when(F.col("div1000") >= DIV_THRESHOLD, 1).otherwise(0).alias("b"),
        ),
        "doc_id",
    )
    c = lab.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(((F.col("a") == 1) & (F.col("b") == 1)).cast("long")).alias("n11"),
        F.sum(((F.col("a") == 0) & (F.col("b") == 0)).cast("long")).alias("n00"),
        F.sum(((F.col("a") == 1) & (F.col("b") == 0)).cast("long")).alias("n10"),
        F.sum(((F.col("a") == 0) & (F.col("b") == 1)).cast("long")).alias("n01"),
        F.sum("a").alias("ra1"),
        F.sum("b").alias("cb1"),
    )
    n, ra1, cb1 = F.col("n"), F.col("ra1"), F.col("cb1")
    chance = ra1 * cb1 + (n - ra1) * (n - cb1)
    return c.select(
        n.alias("n_docs"), "n11", "n00", "n10", "n01",
        ((F.col("n11") + F.col("n00")).cast("double") / n).alias("po"),
        (chance.cast("double") / (n * n)).alias("pe"),
        (
            (n * (F.col("n11") + F.col("n00")) - chance).cast("double")
            / (n * n - chance)
        ).alias("kappa"),
    )


CURRICULUM_PHASES = 3  # easy -> medium -> hard


@register(
    "corpus_curriculum_order",
    oracle=f"""
WITH {_SQL_CLF_SCORED},
phased AS (
  SELECT doc_id, source,
         NTILE({CURRICULUM_PHASES}) OVER (ORDER BY score DESC, doc_id)
           AS phase,
         md5('cur:' || CAST(doc_id AS VARCHAR)) AS shuf
  FROM clf_scored
)
SELECT doc_id, source, CAST(phase AS BIGINT) AS phase,
       CAST(ROW_NUMBER() OVER (ORDER BY phase, shuf, doc_id) AS BIGINT)
         AS order_idx
FROM phased
""",
)
def corpus_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum data ordering: the corpus sorted into the sequence a
    curriculum-trained model would consume it in. Documents split into
    quality phases (NTILE over the classifier score, best first —
    "clean data early"), and WITHIN each phase the order is a
    deterministic md5 shuffle (curriculum orders phases, not documents;
    unshuffled within-phase order would correlate adjacent batches).
    ``order_idx`` is the global training position — the materialized
    column a dataloader range-reads by.

    Scale shape: one score pass + one global rank. The NTILE/row_number
    over a total order is the single global stage; at 100 TB both
    decompose into rangepartition + per-partition offset (distributed
    rank), and the output is written sorted by order_idx so training
    reads are sequential scans. No joins, no data movement beyond the
    one range exchange.
    """
    ensure_session_conf(spark)
    s = _hash_doc_scores(spark, sf_dir)
    phased = s.select(
        "doc_id",
        "source",
        F.ntile(CURRICULUM_PHASES)
        .over(Window.orderBy(F.col("score").desc(), "doc_id"))
        .cast("bigint")
        .alias("phase"),
        F.md5(F.concat(F.lit("cur:"), F.col("doc_id").cast("string"))).alias(
            "shuf"
        ),
    )
    return phased.select(
        "doc_id",
        "source",
        "phase",
        F.row_number()
        .over(Window.orderBy("phase", "shuf", "doc_id"))
        .cast("bigint")
        .alias("order_idx"),
    )


# --- winsorization impact audit ----------------------------------------------

WINSOR_LO = 0.01
WINSOR_HI = 0.99


@register(
    "quality_winsorize_impact",
    oracle=f"""
WITH b AS (
  SELECT o_orderpriority,
         quantile_cont(o_totalprice, {WINSOR_LO!r}) AS p_lo,
         quantile_cont(o_totalprice, {WINSOR_HI!r}) AS p_hi
  FROM orders GROUP BY o_orderpriority
),
c AS (
  SELECT o.o_orderpriority, o.o_totalprice, b.p_lo, b.p_hi,
         LEAST(GREATEST(o.o_totalprice, b.p_lo), b.p_hi) AS clipped
  FROM orders o JOIN b ON b.o_orderpriority = o.o_orderpriority
)
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN o_totalprice < p_lo THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clipped_low,
       CAST(SUM(CASE WHEN o_totalprice > p_hi THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clipped_high,
       CAST(MIN(p_lo) AS DOUBLE) AS p_lo,
       CAST(MIN(p_hi) AS DOUBLE) AS p_hi,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)
         AS mean_raw,
       CAST(SUM(CAST(clipped AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)
         AS mean_winsorized
FROM c
GROUP BY o_orderpriority
""",
)
def quality_winsorize_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization impact audit: clip each priority class's order
    totals at its own exact p01/p99 and report how many rows each tail
    clips and how far the class mean moves — the before/after evidence a
    cleaning pipeline records when deciding whether tail-clipping a
    metric is cosmetic or distribution-changing (the robust-stats
    counterpart of `events_anomaly_mad`'s outlier flagging).

    Exact per-group percentiles (Spark `percentile` ≡ DuckDB
    `quantile_cont`, reshape.py discipline), one join back on the group
    key (both sides already partitioned by it — the groupBy and the
    re-aggregate reuse one partitioning), clipping is two IEEE
    comparisons, and both means run the DECIMAL(28,6) order-free sum.

    At 100 TB the percentile pass runs on the KLL sketch instead
    (sketches.py) and the clip bounds ship as a broadcast dimension; the
    audit shape is unchanged.
    """
    ensure_session_conf(spark)
    o = load_table(spark, sf_dir, "orders")
    b = o.groupBy("o_orderpriority").agg(
        F.expr(f"percentile(o_totalprice, {WINSOR_LO!r})").alias("p_lo"),
        F.expr(f"percentile(o_totalprice, {WINSOR_HI!r})").alias("p_hi"),
    )
    c = o.join(b, "o_orderpriority").withColumn(
        "clipped",
        F.least(F.greatest(F.col("o_totalprice"), F.col("p_lo")), F.col("p_hi")),
    )
    d6 = lambda c_: F.sum(c_.cast("decimal(28,6)")).cast("double")  # noqa: E731
    return c.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(
            F.when(F.col("o_totalprice") < F.col("p_lo"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_clipped_low"),
        F.sum(
            F.when(F.col("o_totalprice") > F.col("p_hi"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_clipped_high"),
        F.min("p_lo").cast("double").alias("p_lo"),
        F.min("p_hi").cast("double").alias("p_hi"),
        (d6(F.col("o_totalprice")) / F.count(F.lit(1))).alias("mean_raw"),
        (d6(F.col("clipped")) / F.count(F.lit(1))).alias("mean_winsorized"),
    )


# --- decision-stump Gini gain per metadata feature ----------------------------

GINI_DECILES = [i / 10 for i in range(1, 10)]  # i/10: not exact binary, but
# rendered with repr() into BOTH dialects so the interpolation inputs match
_GINI_FEATURES = (
    ("n_chars", "CAST(n_chars AS DOUBLE)"),
    ("n_words", "CAST(len(string_split(text, ' ')) AS DOUBLE)"),
    (
        "n_distinct_words",
        "CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)",
    ),
)


def _gini_sql(feat: str, expr: str) -> str:
    probs = ", ".join(repr(p) for p in GINI_DECILES)
    return f"""
SELECT '{feat}' AS feature, best_thr, gain, n_left, n_right FROM (
  SELECT thr AS best_thr,
         CAST(CAST(
           (1.0 - CAST(psq AS DOUBLE) / (CAST(np AS DOUBLE) * CAST(np AS DOUBLE)))
           - ((CAST(nl AS DOUBLE) / CAST(np AS DOUBLE))
              * (1.0 - CAST(sql_ AS DOUBLE) / (CAST(nl AS DOUBLE) * CAST(nl AS DOUBLE)))
              + (CAST(nr AS DOUBLE) / CAST(np AS DOUBLE))
              * (1.0 - CAST(sqr_ AS DOUBLE) / (CAST(nr AS DOUBLE) * CAST(nr AS DOUBLE))))
           AS DECIMAL(28,12)) AS DOUBLE) AS gain,
         nl AS n_left, nr AS n_right,
         ROW_NUMBER() OVER (ORDER BY CAST(
           (1.0 - CAST(psq AS DOUBLE) / (CAST(np AS DOUBLE) * CAST(np AS DOUBLE)))
           - ((CAST(nl AS DOUBLE) / CAST(np AS DOUBLE))
              * (1.0 - CAST(sql_ AS DOUBLE) / (CAST(nl AS DOUBLE) * CAST(nl AS DOUBLE)))
              + (CAST(nr AS DOUBLE) / CAST(np AS DOUBLE))
              * (1.0 - CAST(sqr_ AS DOUBLE) / (CAST(nr AS DOUBLE) * CAST(nr AS DOUBLE))))
           AS DECIMAL(28,12)) DESC, thr) AS rk
  FROM (
    SELECT c.thr,
           CAST(SUM(c.cl) AS BIGINT) AS nl,
           CAST(SUM(c.cr) AS BIGINT) AS nr,
           CAST(SUM(c.cl) + SUM(c.cr) AS BIGINT) AS np,
           CAST(SUM(c.cl * c.cl) AS BIGINT) AS sql_,
           CAST(SUM(c.cr * c.cr) AS BIGINT) AS sqr_,
           CAST(SUM((c.cl + c.cr) * (c.cl + c.cr)) AS BIGINT) AS psq
    FROM (
      SELECT t.thr, v.source,
             CAST(SUM(CASE WHEN v.f <= t.thr THEN 1 ELSE 0 END) AS BIGINT)
               AS cl,
             CAST(SUM(CASE WHEN v.f <= t.thr THEN 0 ELSE 1 END) AS BIGINT)
               AS cr
      FROM (SELECT source, {expr} AS f FROM documents) v
      CROSS JOIN (
        SELECT unnest(quantile_cont(f, [{probs}])) AS thr
        FROM (SELECT {expr} AS f FROM documents) q
      ) t
      GROUP BY t.thr, v.source
    ) c
    GROUP BY c.thr
  ) s(thr, nl, nr, np, sql_, sqr_, psq)
  WHERE nl > 0 AND nr > 0
) r WHERE rk = 1
"""


@register(
    "quality_gini_split_gain",
    oracle="\nUNION ALL\n".join(_gini_sql(f, e) for f, e in _GINI_FEATURES),
)
def quality_gini_split_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-stump feature importance: for each metadata feature, the
    best decile-threshold binary split's Gini impurity reduction against
    the document's source label — "which cheap feature most separates
    sources", the screening a quality-classifier build runs before
    committing to features (the tree-based sibling of
    `quality_hash_classifier`'s linear scorer).

    All impurities are ratios of exact BIGINT class-count sums (Σc² over
    the label dictionary, never row grain) in ONE fixed parenthesization;
    the best threshold is chosen by ORDER BY the DECIMAL(28,12)-quantized
    gain (decimal compare is exact, so both engines pick the same row)
    with the threshold value as tiebreak. Candidate thresholds are exact
    deciles (quantile_cont ≡ percentile parity).

    Scale shape: one scan computes the feature; the 9-threshold cross
    join happens at (threshold × label) grain — dictionary-sized — after
    a single groupBy; nothing pairwise, nothing row-grain past the first
    aggregate.
    """
    ensure_session_conf(spark)
    d = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    feats = {
        "n_chars": F.col("n_chars").cast("double"),
        "n_words": F.size(words).cast("double"),
        "n_distinct_words": F.size(F.array_distinct(words)).cast("double"),
    }
    probs = ", ".join(repr(p) for p in GINI_DECILES)
    out = None
    for feat, col in feats.items():
        v = d.select("source", col.alias("f"))
        thr = (
            v.agg(F.expr(f"percentile(f, array({probs}))").alias("ts"))
            .select(F.explode("ts").alias("thr"))
        )
        cl = F.sum(F.when(F.col("f") <= F.col("thr"), 1).otherwise(0)).cast(
            "bigint"
        )
        cr = F.sum(F.when(F.col("f") <= F.col("thr"), 0).otherwise(1)).cast(
            "bigint"
        )
        c = (
            v.crossJoin(F.broadcast(thr))
            .groupBy("thr", "source")
            .agg(cl.alias("cl"), cr.alias("cr"))
        )
        s = c.groupBy("thr").agg(
            F.sum("cl").cast("bigint").alias("nl"),
            F.sum("cr").cast("bigint").alias("nr"),
            (F.sum("cl") + F.sum("cr")).cast("bigint").alias("np"),
            F.sum(F.col("cl") * F.col("cl")).cast("bigint").alias("sql_"),
            F.sum(F.col("cr") * F.col("cr")).cast("bigint").alias("sqr_"),
            F.sum(
                (F.col("cl") + F.col("cr")) * (F.col("cl") + F.col("cr"))
            )
            .cast("bigint")
            .alias("psq"),
        ).filter((F.col("nl") > 0) & (F.col("nr") > 0))
        dd = lambda c_: F.col(c_).cast("double")  # noqa: E731
        gini_p = F.lit(1.0) - dd("psq") / (dd("np") * dd("np"))
        weighted = (dd("nl") / dd("np")) * (
            F.lit(1.0) - dd("sql_") / (dd("nl") * dd("nl"))
        ) + (dd("nr") / dd("np")) * (
            F.lit(1.0) - dd("sqr_") / (dd("nr") * dd("nr"))
        )
        qgain = (gini_p - weighted).cast("decimal(28,12)")
        row = (
            ranked_topk(
                s.select("thr", "nl", "nr", qgain.alias("qgain")),
                [F.col("qgain").desc(), "thr"], 1,
            )
            .select(
                F.lit(feat).alias("feature"),
                F.col("thr").alias("best_thr"),
                F.col("qgain").cast("double").alias("gain"),
                F.col("nl").alias("n_left"),
                F.col("nr").alias("n_right"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


@register(
    "quality_classifier_auc",
    oracle=f"""
WITH {_SQL_CLF_SCORED},
lab AS (
  SELECT score, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM clf_scored
),
g AS (
  SELECT score,
         CAST(SUM(y) AS BIGINT) AS np,
         CAST(COUNT(*) - SUM(y) AS BIGINT) AS nn
  FROM lab GROUP BY score
),
cum AS (
  SELECT np, nn,
         CAST(COALESCE(SUM(np + nn) OVER (ORDER BY score
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS cum_before
  FROM g
),
tot AS (
  SELECT CAST(SUM(np) AS BIGINT) AS n_pos,
         CAST(SUM(nn) AS BIGINT) AS n_neg,
         CAST(SUM(np * (2 * cum_before + np + nn + 1)) AS BIGINT) AS r2
  FROM cum
)
SELECT n_pos, n_neg,
       CAST(r2 - n_pos * (n_pos + 1) AS DOUBLE)
         / CAST(2 * n_pos * n_neg AS DOUBLE) AS auc,
       CAST(r2 - n_pos * (n_pos + 1) AS DOUBLE)
         / CAST(2 * n_pos * n_neg AS DOUBLE) * 2.0 - 1.0 AS gini
FROM tot
""",
)
def quality_classifier_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT ROC-AUC of the hashed quality classifier against the
    lang='en' label — via the Mann-Whitney rank identity, not a
    threshold sweep: AUC = (R⁺ − n⁺(n⁺+1)/2) / (n⁺n⁻) where R⁺ is the
    positive scores' rank sum with MIDRANKS for ties. Ties are the
    whole story on a discrete scorer (many docs share a score); the
    midrank form is what sklearn computes, and it reduces to pure
    integer arithmetic: group scores, one cumulative window, and
    2R⁺ = Σ n⁺_g·(2·cum_before + t_g + 1) — exact BIGINTs end to end,
    one final division (doubled throughout so no halves appear).
    Complements quality_classifier_calibration (is the score
    PROBABILITY-faithful) with ranking power (does it ORDER docs).

    Scale shape: the scorer is the shared one-pass token hash agg; the
    rank identity needs ONE sort of |distinct scores| grouped rows —
    not a sort of all docs, and no O(thresholds × data) sweep. At
    100 TB: one scan + a grid-sized window.
    """
    ensure_session_conf(spark)
    s = _hash_doc_scores(spark, sf_dir)
    lab = s.select(
        "score", F.when(F.col("lang") == "en", 1).otherwise(0).alias("y")
    )
    g = lab.groupBy("score").agg(
        F.sum("y").cast("bigint").alias("np"),
        (F.count(F.lit(1)) - F.sum("y")).cast("bigint").alias("nn"),
    )
    w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    cum = g.select(
        "np",
        "nn",
        F.coalesce(F.sum(F.col("np") + F.col("nn")).over(w), F.lit(0))
        .cast("bigint")
        .alias("cum_before"),
    )
    tot = cum.agg(
        F.sum("np").cast("bigint").alias("n_pos"),
        F.sum("nn").cast("bigint").alias("n_neg"),
        F.sum(
            F.col("np")
            * (2 * F.col("cum_before") + F.col("np") + F.col("nn") + 1)
        )
        .cast("bigint")
        .alias("r2"),
    )
    auc = (
        F.col("r2") - F.col("n_pos") * (F.col("n_pos") + 1)
    ).cast("double") / (2 * F.col("n_pos") * F.col("n_neg")).cast("double")
    return tot.select(
        "n_pos",
        "n_neg",
        auc.alias("auc"),
        (auc * F.lit(2.0) - F.lit(1.0)).alias("gini"),
    )


# IPW propensity clamp (standard overlap trimming)
IPW_CLIP_LO = 0.05
IPW_CLIP_HI = 0.95


@register(
    "quality_ipw_adjusted_diff",
    oracle=f"""
WITH {_SQL_CLF_SCORED},
ext AS (SELECT MIN(score) AS mn, MAX(score) AS mx FROM clf_scored),
base AS (
  SELECT d.n_chars AS y,
         CASE WHEN s.lang = 'en' THEN 1 ELSE 0 END AS t,
         LEAST({IPW_CLIP_HI}, GREATEST({IPW_CLIP_LO},
           CASE WHEN e.mx = e.mn THEN 0.5
                ELSE (s.score - e.mn) / (e.mx - e.mn) END)) AS p
  FROM clf_scored s
  JOIN documents d ON d.doc_id = s.doc_id
  CROSS JOIN ext e
),
q AS (
  SELECT t, y,
         CAST(CASE WHEN t = 1 THEN 1.0 / p ELSE 1.0 / (1.0 - p) END
              AS DECIMAL(28,6)) AS w,
         CAST(CASE WHEN t = 1 THEN y / p ELSE y / (1.0 - p) END
              AS DECIMAL(28,6)) AS wy
  FROM base
)
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(t) AS BIGINT) AS n_treated,
       CAST(SUM(CASE WHEN t = 1 THEN y ELSE 0 END) AS DOUBLE) / SUM(t)
         - CAST(SUM(CASE WHEN t = 0 THEN y ELSE 0 END) AS DOUBLE)
           / (COUNT(*) - SUM(t)) AS raw_diff,
       CAST(SUM(CASE WHEN t = 1 THEN wy ELSE 0 END) AS DOUBLE)
         / CAST(SUM(CASE WHEN t = 1 THEN w ELSE 0 END) AS DOUBLE)
       - CAST(SUM(CASE WHEN t = 0 THEN wy ELSE 0 END) AS DOUBLE)
         / CAST(SUM(CASE WHEN t = 0 THEN w ELSE 0 END) AS DOUBLE)
         AS ipw_diff
FROM q
""",
)
def quality_ipw_adjusted_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-propensity-weighted comparison of document length between
    English and non-English docs, with the hashed quality score as the
    propensity — the observational-causal estimator (Horvitz-Thompson
    ratio form): raw group means confound 'is English' with 'scores
    high'; re-weighting each arm by 1/p (treated) and 1/(1−p) (control)
    balances the score distribution across arms before differencing.
    Propensities are the min-max-normalized classifier score (the same
    mapping quality_classifier_calibration certifies) clamped to
    [{IPW_CLIP_LO}, {IPW_CLIP_HI}] — standard overlap trimming so no
    single doc's weight explodes.

    Determinism: y is an exact integer; p is fixed-order IEEE ops on
    exact inputs; each weight and weighted outcome is quantized to
    DECIMAL(28,6) so the four arm sums are exact decimal additions; the
    two ratio means and their difference are single fixed-order
    divisions/subtraction.

    Scale shape: the scorer is the shared one-pass token hash agg; the
    estimator is ONE conditional aggregation over doc grain (map-side
    combine to 6 partial sums per mapper) + a 1-row extremes broadcast.
    At 100 TB: two scans (score, estimate), zero shuffles beyond them.
    """
    ensure_session_conf(spark)
    s = _hash_doc_scores(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    ext = s.agg(F.min("score").alias("mn"), F.max("score").alias("mx"))
    p_raw = F.when(F.col("mx") == F.col("mn"), F.lit(0.5)).otherwise(
        (F.col("score") - F.col("mn")) / (F.col("mx") - F.col("mn"))
    )
    p = F.least(
        F.lit(IPW_CLIP_HI), F.greatest(F.lit(IPW_CLIP_LO), p_raw)
    )
    base = (
        s.join(d, "doc_id")
        .crossJoin(F.broadcast(ext))
        .select(
            F.col("n_chars").alias("y"),
            F.when(F.col("lang") == "en", 1).otherwise(0).alias("t"),
            p.alias("p"),
        )
    )
    q = base.select(
        "t",
        "y",
        F.when(F.col("t") == 1, F.lit(1.0) / F.col("p"))
        .otherwise(F.lit(1.0) / (F.lit(1.0) - F.col("p")))
        .cast("decimal(28,6)")
        .alias("w"),
        F.when(F.col("t") == 1, F.col("y") / F.col("p"))
        .otherwise(F.col("y") / (F.lit(1.0) - F.col("p")))
        .cast("decimal(28,6)")
        .alias("wy"),
    )
    t1 = F.col("t") == 1
    return q.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("t").cast("bigint").alias("n_treated"),
        (
            F.sum(F.when(t1, F.col("y")).otherwise(0)).cast("double")
            / F.sum("t")
            - F.sum(F.when(~t1, F.col("y")).otherwise(0)).cast("double")
            / (F.count(F.lit(1)) - F.sum("t"))
        ).alias("raw_diff"),
        (
            F.sum(F.when(t1, F.col("wy")).otherwise(F.lit(0).cast("decimal(28,6)"))).cast("double")
            / F.sum(F.when(t1, F.col("w")).otherwise(F.lit(0).cast("decimal(28,6)"))).cast("double")
            - F.sum(F.when(~t1, F.col("wy")).otherwise(F.lit(0).cast("decimal(28,6)"))).cast("double")
            / F.sum(F.when(~t1, F.col("w")).otherwise(F.lit(0).cast("decimal(28,6)"))).cast("double")
        ).alias("ipw_diff"),
    )


@register(
    "quality_brier_decomposition",
    oracle=f"""
WITH {_SQL_CLF_SCORED},
ext AS (SELECT MIN(score) AS mn, MAX(score) AS mx FROM clf_scored),
ybar_t AS (
  SELECT CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS DOUBLE)
           / COUNT(*) AS ybar
  FROM clf_scored
),
pred AS (
  SELECT CASE WHEN e.mx = e.mn THEN 0.5
              ELSE (s.score - e.mn) / (e.mx - e.mn) END AS p,
         CASE WHEN s.lang = 'en' THEN 1 ELSE 0 END AS y,
         NTILE(10) OVER (ORDER BY s.score, s.doc_id) AS b
  FROM clf_scored s CROSS JOIN ext e
),
w AS (
  SELECT p, y,
         CAST(SUM(CAST(p AS DECIMAL(28,12))) OVER (PARTITION BY b)
              AS DOUBLE) / COUNT(*) OVER (PARTITION BY b) AS pb,
         CAST(SUM(y) OVER (PARTITION BY b) AS DOUBLE)
           / COUNT(*) OVER (PARTITION BY b) AS yb
  FROM pred
)
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST((p - y) * (p - y) AS DECIMAL(28,12))) AS DOUBLE)
         / COUNT(*) AS brier,
       CAST(SUM(CAST((pb - yb) * (pb - yb) AS DECIMAL(28,12))) AS DOUBLE)
         / COUNT(*) AS reliability,
       CAST(SUM(CAST((yb - t.ybar) * (yb - t.ybar) AS DECIMAL(28,12)))
            AS DOUBLE) / COUNT(*) AS resolution,
       t.ybar * (1.0 - t.ybar) AS uncertainty,
       CAST(SUM(CAST((p - pb) * (p - pb) AS DECIMAL(28,12))) AS DOUBLE)
         / COUNT(*) AS within_bin_var,
       CAST(SUM(CAST((p - pb) * (y - yb) AS DECIMAL(28,12))) AS DOUBLE)
         / COUNT(*) AS within_bin_cov
FROM w CROSS JOIN ybar_t t
GROUP BY t.ybar
""",
)
def quality_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score with the (generalized) Murphy decomposition — the
    proper-scoring-rule evaluation of the classifier-as-probability:
    Brier = REL − RES + UNC + within-bin variance − 2·within-bin
    covariance of (p, y). Reliability (how far each bin's mean
    prediction sits from its observed rate) is what
    quality_classifier_calibration draws, resolution rewards bins that
    separate outcomes, uncertainty is the data's irreducible ȳ(1−ȳ),
    and the two within-bin terms close the identity EXACTLY — the
    covariance term is the one the textbook statement silently assumes
    to be zero (it is, when every bin holds a single predicted value;
    on general data it is O(1e-3) and dropping it breaks the identity
    — r9 ADVICE). The unit test plants correlated (p, y) and asserts
    the six-term identity to 1e-9. AUC (quality_classifier_auc)
    measures ranking; Brier measures probability accuracy — a scorer
    can ace one and fail the other.

    Every per-bin component is summed at ROW grain (Σ_rows (p̄_b−ȳ_b)²
    ≡ Σ_bins n_b(p̄_b−ȳ_b)²), so bin means via one window + ONE fused
    aggregate produce all five sums — no per-component job fan-out (a
    first draft with separate bin/total/wbv consumers cost 4× the
    jobs). Squared terms are fixed-order IEEE ops quantized to
    DECIMAL(28,12) before summing; ȳ comes from one tiny first pass.

    Scale shape: one scan for ȳ, one scan + decile window + fused agg
    for everything else. At 100 TB: two linear passes, grid math after.
    """
    ensure_session_conf(spark)
    s = _hash_doc_scores(spark, sf_dir)
    ext = s.agg(F.min("score").alias("mn"), F.max("score").alias("mx"))
    ybar_t = s.agg(
        (
            F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).cast("double")
            / F.count(F.lit(1))
        ).alias("ybar")
    )
    p = F.when(F.col("mx") == F.col("mn"), F.lit(0.5)).otherwise(
        (F.col("score") - F.col("mn")) / (F.col("mx") - F.col("mn"))
    )
    pred = s.crossJoin(F.broadcast(ext)).select(
        p.alias("p"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
        F.ntile(10).over(Window.orderBy("score", "doc_id")).alias("b"),
    )
    wb = Window.partitionBy("b")
    w = pred.select(
        "p",
        "y",
        (
            F.sum(F.col("p").cast("decimal(28,12)")).over(wb).cast("double")
            / F.count(F.lit(1)).over(wb)
        ).alias("pb"),
        (
            F.sum("y").over(wb).cast("double")
            / F.count(F.lit(1)).over(wb)
        ).alias("yb"),
    )
    sq = lambda a, b: ((a - b) * (a - b)).cast("decimal(28,12)")  # noqa: E731
    return (
        w.crossJoin(F.broadcast(ybar_t))
        .groupBy("ybar")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            (F.sum(sq(F.col("p"), F.col("y"))).cast("double") / F.count(F.lit(1))).alias("brier"),
            (F.sum(sq(F.col("pb"), F.col("yb"))).cast("double") / F.count(F.lit(1))).alias("reliability"),
            (F.sum(sq(F.col("yb"), F.col("ybar"))).cast("double") / F.count(F.lit(1))).alias("resolution"),
            (F.sum(sq(F.col("p"), F.col("pb"))).cast("double") / F.count(F.lit(1))).alias("within_bin_var"),
            (
                F.sum(
                    (
                        (F.col("p") - F.col("pb")) * (F.col("y") - F.col("yb"))
                    ).cast("decimal(28,12)")
                ).cast("double")
                / F.count(F.lit(1))
            ).alias("within_bin_cov"),
        )
        .select(
            "n",
            "brier",
            "reliability",
            "resolution",
            (F.col("ybar") * (F.lit(1.0) - F.col("ybar"))).alias("uncertainty"),
            "within_bin_var",
            "within_bin_cov",
        )
    )


# --- isotonic calibration (pool-adjacent-violators) --------------------------

ISO_BINS = 10


@register(
    "quality_isotonic_calibration",
    oracle=f"""
WITH {_SQL_CLF_SCORED},
pred AS (
  SELECT doc_id,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         NTILE({ISO_BINS}) OVER (ORDER BY score, doc_id) AS t
  FROM clf_scored
),
bins AS (
  SELECT t, CAST(COUNT(*) AS BIGINT) AS w, CAST(SUM(y) AS BIGINT) AS s
  FROM pred GROUP BY t
),
cum AS (
  SELECT t, w, s,
         CAST(SUM(w) OVER (ORDER BY t) AS BIGINT) AS cw,
         CAST(SUM(s) OVER (ORDER BY t) AS BIGINT) AS cs
  FROM bins
),
seg AS (
  SELECT j.t AS j, k.t AS k,
         CAST(k.cs - (j.cs - j.s) AS DOUBLE)
           / CAST(k.cw - (j.cw - j.w) AS DOUBLE) AS m
  FROM cum j JOIN cum k ON j.t <= k.t
),
inner_min AS (
  SELECT i.t AS i, s.j, MIN(s.m) AS mn
  FROM cum i JOIN seg s ON s.j <= i.t AND s.k >= i.t
  GROUP BY i.t, s.j
),
iso AS (SELECT i AS t, MAX(mn) AS iso_rate FROM inner_min GROUP BY i)
SELECT CAST(b.t AS BIGINT) AS decile, b.w AS n_docs,
       CAST(b.s AS DOUBLE) / b.w AS obs_rate,
       iso.iso_rate,
       COALESCE(iso.iso_rate >= LAG(iso.iso_rate)
                  OVER (ORDER BY b.t), true) AS monotone_ok
FROM bins b JOIN iso ON iso.t = b.t
""",
)
def quality_isotonic_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Isotonic (monotone) calibration of the hashed quality classifier
    via pool-adjacent-violators, computed with the PAV minimax identity:
    the isotonic fit at bin i equals max over j<=i of min over k>=i of
    the weighted mean of the observed positive rate across bins j..k
    (Robertson/Wright/Dykstra, "Order Restricted Statistical
    Inference"). Where Platt/temperature scaling fits a parametric
    sigmoid, isotonic regression is the non-parametric calibrator every
    large-scale data-quality gate reaches for once it has enough
    positives per bin — and the minimax form turns the sequential PAV
    loop into pure relational algebra over the BIN grain, so no
    driver-side iteration exists at any scale.

    Deterministic: bin masses are exact BIGINTs; each segment mean is
    one integer-over-integer double division, and min/max over
    bit-identical doubles is engine-independent.

    Scale shape: the only corpus-sized stages are the shared classifier
    scan and the NTILE bin assignment (the documented distributed-rank
    decomposition at 100 TB); everything after runs on ISO_BINS rows —
    the segment lattice is BINS^2/2 = 55 rows, broadcast-trivial.
    """
    ensure_session_conf(spark)
    s = _hash_doc_scores(spark, sf_dir)
    pred = s.select(
        "doc_id",
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
        F.ntile(ISO_BINS)
        .over(Window.orderBy("score", "doc_id"))
        .alias("t"),
    )
    # ISO_BINS rows feeding four branches (cum -> seg/i lattice + the
    # final bin join): cut here so the classifier scan + NTILE run once.
    bins = pred.groupBy("t").agg(
        F.count(F.lit(1)).cast("bigint").alias("w"),
        F.sum("y").cast("bigint").alias("s"),
    ).localCheckpoint()
    wc = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    cum = bins.select(
        "t", "w", "s",
        F.sum("w").over(wc).cast("bigint").alias("cw"),
        F.sum("s").over(wc).cast("bigint").alias("cs"),
    )
    j = cum.select(
        F.col("t").alias("j"),
        (F.col("cs") - F.col("s")).alias("cs0"),
        (F.col("cw") - F.col("w")).alias("cw0"),
    )
    k = cum.select(
        F.col("t").alias("k"), F.col("cs").alias("cs1"),
        F.col("cw").alias("cw1"),
    )
    seg = (
        j.join(k, F.col("j") <= F.col("k"))
        .select(
            "j", "k",
            (
                (F.col("cs1") - F.col("cs0")).cast("double")
                / (F.col("cw1") - F.col("cw0")).cast("double")
            ).alias("m"),
        )
    )
    i = cum.select(F.col("t").alias("i"))
    inner_min = (
        i.join(
            F.broadcast(seg),
            (F.col("j") <= F.col("i")) & (F.col("k") >= F.col("i")),
        )
        .groupBy("i", "j")
        .agg(F.min("m").alias("mn"))
    )
    iso = inner_min.groupBy("i").agg(F.max("mn").alias("iso_rate"))
    wl = Window.orderBy("decile")
    return (
        bins.select(
            F.col("t").cast("bigint").alias("decile"),
            F.col("w").alias("n_docs"),
            (F.col("s").cast("double") / F.col("w")).alias("obs_rate"),
            F.col("t").alias("_t"),
        )
        .join(F.broadcast(iso.withColumnRenamed("i", "_t")), "_t")
        .drop("_t")
        .select(
            "decile", "n_docs", "obs_rate", "iso_rate",
            F.coalesce(
                F.col("iso_rate") >= F.lag("iso_rate").over(wl), F.lit(True)
            ).alias("monotone_ok"),
        )
    )


# --- split-conformal prediction interval -------------------------------------

CONF_LEVEL_NUM, CONF_LEVEL_DEN = 9, 10  # target coverage 0.9


@register(
    "quality_conformal_interval",
    oracle=f"""
WITH feat AS (
  SELECT doc_id,
         CAST(n_chars AS DOUBLE) AS y,
         CAST(length(string_split(text, ' ')) AS BIGINT) AS n_tok,
         substr(md5('conf:' || CAST(doc_id AS VARCHAR)), 1, 2) < '80'
           AS is_calib
  FROM documents
),
model AS (
  SELECT CAST(SUM(CAST(y AS DECIMAL(28,6))) AS DOUBLE)
           / CAST(SUM(n_tok) AS DOUBLE) AS chars_per_tok
  FROM feat WHERE is_calib
),
resid AS (
  SELECT f.doc_id, f.is_calib,
         ABS(f.y - m.chars_per_tok * f.n_tok) AS r
  FROM feat f CROSS JOIN model m
),
calib AS (
  SELECT r, ROW_NUMBER() OVER (ORDER BY r, doc_id) AS rk,
         COUNT(*) OVER () AS n_calib
  FROM resid WHERE is_calib
),
qhat AS (
  SELECT n_calib, r AS q_hat FROM calib
  WHERE rk = CAST(ceil((n_calib + 1) * {CONF_LEVEL_NUM}.0
                       / {CONF_LEVEL_DEN}) AS BIGINT)
),
test AS (
  -- grouped by the qhat row so degenerate inputs (calib half < 9 rows
  -- -> qhat empty, or test half empty) yield ZERO rows in BOTH engines
  -- (a group-less agg would emit its 1 row asymmetrically).
  SELECT q.n_calib, q.q_hat,
         CAST(COUNT(*) AS BIGINT) AS n_test,
         CAST(COUNT(*) FILTER (WHERE t.r <= q.q_hat) AS BIGINT) AS n_covered
  FROM (SELECT r FROM resid WHERE NOT is_calib) t CROSS JOIN qhat q
  GROUP BY q.n_calib, q.q_hat
)
SELECT CAST(n_calib AS BIGINT) AS n_calib, n_test,
       q_hat,
       CAST({CONF_LEVEL_NUM} AS DOUBLE) / {CONF_LEVEL_DEN} AS target_level,
       CASE WHEN n_test > 0
            THEN CAST(n_covered AS DOUBLE) / n_test END AS coverage
FROM test
""",
)
def quality_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPLIT-CONFORMAL prediction interval around a trivial length model
    (chars ~ chars_per_token x tokens, fitted on a hash-gated
    calibration half): q_hat is the ceil((n+1)*0.9)-th smallest absolute
    calibration residual — the distribution-free split-conformal
    quantile (Vovk et al.; Lei et al. 2018) — and the held-out half
    measures empirical coverage of y_hat +/- q_hat. Conformal intervals
    are the model-agnostic uncertainty wrapper a data pipeline can put
    around ANY scorer with finite-sample marginal-coverage guarantees;
    the operator shape (one quantile order-stat on calibration
    residuals + one coverage count) is what that wrapper costs at
    100 TB: two passes, no model internals touched.

    Deterministic: the model slope is an exact decimal-sum ratio; each
    residual is three IEEE ops from exact inputs; the quantile is an
    integer-rank order statistic (no interpolation); coverage is an
    integer count divided once.

    Scale shape: gate + residual are map-side; the calibration rank is
    one ordered window over the calibration half (distributed-rank
    decomposition at scale, as documented for the split family); the
    coverage pass broadcasts the single-row q_hat.
    """
    ensure_session_conf(spark)
    d = load_table(spark, sf_dir, "documents")
    feat = d.select(
        "doc_id",
        F.col("n_chars").cast("double").alias("y"),
        F.size(F.split("text", " ")).cast("bigint").alias("n_tok"),
        (
            F.substring(
                F.md5(F.concat(F.lit("conf:"), F.col("doc_id").cast("string"))),
                1,
                2,
            )
            < "80"
        ).alias("is_calib"),
    ).localCheckpoint()  # model fit, calib ranks, and test pass share it
    model = feat.filter("is_calib").agg(
        (
            F.sum(F.col("y").cast("decimal(28,6)")).cast("double")
            / F.sum("n_tok").cast("double")
        ).alias("chars_per_tok")
    )
    resid = feat.crossJoin(F.broadcast(model)).select(
        "doc_id",
        "is_calib",
        F.abs(F.col("y") - F.col("chars_per_tok") * F.col("n_tok")).alias("r"),
    )
    wc = Window.orderBy("r", "doc_id")
    calib = (
        resid.filter("is_calib")
        .select(
            "r",
            F.row_number().over(wc).alias("rk"),
            F.count(F.lit(1)).over(Window.partitionBy()).alias("n_calib"),
        )
    )
    qhat = calib.filter(
        F.col("rk")
        == F.ceil(
            (F.col("n_calib") + 1)
            * F.lit(float(CONF_LEVEL_NUM))
            / F.lit(CONF_LEVEL_DEN)
        ).cast("bigint")
    ).select("n_calib", F.col("r").alias("q_hat"))
    # groupBy the broadcast qhat row (not a group-less agg): degenerate
    # inputs (calib half < 9 rows -> qhat empty, or test half empty)
    # then yield ZERO rows, matching the oracle's grouped shape — a
    # group-less Spark agg would still emit 1 row over the empty cross
    # join and divide by n_test = 0 (r10 ADVICE).
    test = (
        resid.filter(~F.col("is_calib"))
        .crossJoin(F.broadcast(qhat))
        .groupBy("n_calib", "q_hat")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            F.sum(F.when(F.col("r") <= F.col("q_hat"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_covered"),
        )
    )
    return test.select(
        F.col("n_calib").cast("bigint").alias("n_calib"),
        "n_test",
        "q_hat",
        (F.lit(CONF_LEVEL_NUM).cast("double") / F.lit(CONF_LEVEL_DEN)).alias(
            "target_level"
        ),
        F.when(
            F.col("n_test") > 0,
            F.col("n_covered").cast("double") / F.col("n_test"),
        ).alias("coverage"),
    )
